package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry
import graft.geom.{GeomCodec, GeomFunctions => G}
import graft.geom.StUnionAgg.st_union_agg

/** Whole-dataset spatial operators (SURVEY §2.5/§2.7/§2.9).
  *
  * Scale notes: the pairwise operators (erase, overlayUnion) pair rows
  * through [[SpatialJoin.broadcastIntersects]] — an STRtree-indexed
  * broadcast join (O(n·log m) envelope probes instead of the O(n·m)
  * BroadcastNestedLoopJoin a raw `st_intersects` predicate join would
  * plan to). The streaming side never shuffles. The both-sides-huge
  * 100 TB case upgrades to a grid-partitioned variant of the same
  * index join; operator semantics are unchanged.
  */
object SpatialOps {

  /** Deterministic row-correlation key: a 128-bit content hash (two
    * independently-salted xxhash64 halves packed in a struct).
    * `monotonically_increasing_id` is nondeterministic under shuffle
    * reordering / task retry / cache eviction, so a recomputed subtree
    * could disagree with ids captured in a sibling subtree and silently
    * mis-join. A content hash is stable across recomputation; exact
    * duplicate rows share a key, which is safe for erase/overlay — the
    * per-key aggregation (geometry union) is idempotent and the join
    * back is one-row-per-duplicate. 128 bits (not 64) because a single
    * 64-bit hash collides with better-than-even odds around ~5B rows
    * (birthday bound) — inside the 100 TB envelope this operator
    * targets — and a collision silently unions one row's erasers into
    * another's. At 128 bits the bound is ~10^19 rows.
    */
  private def withRowKey(df: DataFrame, keyCol: String): DataFrame = {
    val cs = df.columns.map(col).toIndexedSeq
    df.withColumn(keyCol,
      struct(xxhash64(cs: _*).as("h1"), xxhash64((lit("graft:h2") +: cs): _*).as("h2")))
  }

  /** Post-construction emptiness probe, deliberately nondeterministic —
    * see [[filterNonEmpty]]. Top-level val so every invocation shares one
    * function instance (a method-local closure would make each plan
    * canonically unique — the persisted-plan stability rule pinned by
    * StableKernelsSpec).
    */
  private val nonEmptyGuard =
    udf((wkb: Array[Byte]) => wkb != null && !GeomCodec.read(wkb).isEmpty)
      .asNondeterministic()

  /** Drop rows whose just-constructed geometry is empty, with the
    * constructive chain evaluated ONCE. The naive
    * `withColumn(g, st_polygonal(st_intersection(…))).filter(!st_isempty(g))`
    * ran the JTS construction twice per candidate pair: PushDownPredicates
    * substitutes the column's defining expression into the filter and
    * pushes it below the projection (filter-through-project is row-order
    * preserving, so Spark pushes even nondeterministic conditions), and
    * whole-stage codegen has no cross-operator subexpression elimination
    * — so the pushed filter built the geometry, then the projection built
    * it again for survivors. Computing the probe as a nondeterministic
    * PROJECTED column instead blocks the pushdown at the source (filters
    * never push through a projection with a nondeterministic field, and
    * CollapseProject refuses to inline the non-cheap chain into the probe
    * projection), so the expensive kernel runs exactly once and the probe
    * merely parses the already-built WKB. Same anti-double-eval device as
    * the IVF-PQ encode guard in [[Similarity]]; plan shape pinned by
    * PlanQualitySpec.
    */
  private def filterNonEmpty(df: DataFrame, geomCol: String): DataFrame =
    df.withColumn("__keep", nonEmptyGuard(col(geomCol)))
      .filter(col("__keep"))
      .drop("__keep")

  /** OP-38 Dissolve (`bunny.py:264-270`): group by keys, union each
    * group's geometries into one multipart feature; non-key attributes
    * drop. Partial (map-side) union happens inside [[graft.geom.StUnionAgg]].
    */
  def dissolve(df: DataFrame, keys: Seq[String], geomCol: String = "geom"): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(st_union_agg(col(geomCol)).as(geomCol))

  /** OP-42 Erase (`bunny.py:393-400`): subtract the union of all eraser
    * polygons intersecting each target row; rows whose geometry becomes
    * empty vanish. The eraser is broadcast (cities layer, small); each
    * target row unions only the erasers that actually hit it.
    */
  def erase(target: DataFrame, eraser: DataFrame, geomCol: String = "geom"): DataFrame = {
    val tid = withRowKey(target, "__tid")
    val e = eraser.select(col(geomCol).as("__egeom"))
    val hits = SpatialJoin
      .broadcastIntersects(tid.select("__tid", geomCol), e, geomCol, "__egeom")
      .groupBy("__tid")
      .agg(st_union_agg(col("__egeom")).as("__eunion"))
    tid.join(hits, Seq("__tid"), "left")
      .withColumn(geomCol,
        when(col("__eunion").isNull, col(geomCol))
          .otherwise(G.st_difference_polygonal(col(geomCol), col("__eunion"))))
      .drop("__tid", "__eunion")
      .transform(filterNonEmpty(_, geomCol))
  }

  /** OP-43 Union — full planar overlay (`coastline.py:49-52`): output is
    *  (1) every polygonal intersection piece, attributes from BOTH inputs;
    *  (2) the leftover of each `a` row after subtracting all its `b`
    *      partners, `b` string attributes blank `''`;
    *  (3) symmetric leftover of each `b` row, `a` string attrs `''`.
    * Blank-not-NULL fill matches file-GDB semantics (SURVEY §1.2) so the
    * reference's `<> ''` post-filters keep working. Attribute column
    * names of the two inputs must be disjoint (callers rename first).
    */
  def overlayUnion(a: DataFrame, b: DataFrame, geomCol: String = "geom"): DataFrame = {
    val aAttrs = a.columns.filter(_ != geomCol).toSeq
    val bAttrs = b.columns.filter(_ != geomCol).toSeq

    val aId = withRowKey(a, "__aid").withColumnRenamed(geomCol, "__ageom")
    val bId = withRowKey(b, "__bid").withColumnRenamed(geomCol, "__bgeom")

    // pairs feeds three consumers (intersection pieces + both leftover
    // branches): persist so the spatial join runs once, not three times,
    // and re-root on a leaf so the three branches plan a short tree
    val pairs = graft.CacheLifecycle.persistLeaf(
      SpatialJoin.broadcastIntersects(aId, bId, "__ageom", "__bgeom"))

    // (1) intersection pieces, polygonal component only
    val inter = pairs
      .withColumn(geomCol, G.st_intersection_polygonal(col("__ageom"), col("__bgeom")))
      .transform(filterNonEmpty(_, geomCol))
      .select((aAttrs ++ bAttrs).map(col) :+ col(geomCol): _*)

    // single select, not a withColumn per attribute: every Dataset
    // transformation re-runs the analyzer over the whole (deep) plan.
    // The other input's attrs don't exist on a leftover row yet — they
    // are appended as blank literals ('' for strings, NULL otherwise,
    // the file-GDB fill of SURVEY §1.2); any that do exist are
    // overwritten in place.
    def blanks(df: DataFrame, attrs: Seq[String], template: DataFrame): DataFrame = {
      def blank(c: String) = {
        val dt = template.schema(c).dataType
        val isString = dt == org.apache.spark.sql.types.StringType
        (if (isString) lit("") else lit(null).cast(dt)).as(c)
      }
      val attrSet = attrs.toSet
      val existing = df.columns.map(c => if (attrSet.contains(c)) blank(c) else col(c))
      val appended = attrs.filterNot(df.columns.contains).map(blank)
      df.select((existing ++ appended).toIndexedSeq: _*)
    }

    // (2) leftovers of a: subtract the union of all intersecting b rows
    val aHits = pairs.groupBy("__aid").agg(st_union_agg(col("__bgeom")).as("__bunion"))
    val aRest0 = aId.join(aHits, Seq("__aid"), "left")
      .withColumn(geomCol,
        when(col("__bunion").isNull, col("__ageom"))
          .otherwise(G.st_difference_polygonal(col("__ageom"), col("__bunion"))))
      .transform(filterNonEmpty(_, geomCol))
    val aRest = blanks(aRest0, bAttrs, b)
      .select((aAttrs ++ bAttrs).map(col) :+ col(geomCol): _*)

    // (3) leftovers of b, symmetric
    val bHits = pairs.groupBy("__bid").agg(st_union_agg(col("__ageom")).as("__aunion"))
    val bRest0 = bId.join(bHits, Seq("__bid"), "left")
      .withColumn(geomCol,
        when(col("__aunion").isNull, col("__bgeom"))
          .otherwise(G.st_difference_polygonal(col("__bgeom"), col("__aunion"))))
      .transform(filterNonEmpty(_, geomCol))
    val bRest = blanks(bRest0, aAttrs, a)
      .select((aAttrs ++ bAttrs).map(col) :+ col(geomCol): _*)

    inter.unionByName(aRest).unionByName(bRest)
  }

  /** §2.9 coastal sliver fix (`coastline.py:68-149`), re-expressed as
    * typed group processing: bucket polygons by place name, and within
    * each bucket move any sub-threshold part of one polygon that touches
    * a super-threshold part of a partner polygon (unless the part hits a
    * keep-list geometry) — union into the partner, difference out of the
    * source. Faithful to the reference's quirks: rows ordered by `oidCol`
    * (= cursor order), only the first two polygons are paired unless the
    * bucket has exactly three (then all three pairwise, in the same
    * fixed order), areas/predicates evaluated in the working CRS.
    */
  def sliverFix(
      df: DataFrame,
      nameCol: String,
      oidCol: String,
      geomCol: String,
      keepFragments: Seq[Array[Byte]],
      thresholdArea: Double): DataFrame = {

    val schema = df.schema
    val geomIdx = schema.fieldIndex(geomCol)
    val nameIdx = schema.fieldIndex(nameCol)
    val oidIdx = schema.fieldIndex(oidCol)

    def checkParts(src: Geometry, dst: Geometry, keeps: Seq[Geometry]): (Geometry, Geometry) = {
      val parts = (0 until src.getNumGeometries).map(src.getGeometryN)
      val dstParts = (0 until dst.getNumGeometries).map(dst.getGeometryN)
      val swaps = parts.filter { p =>
        p.getArea < thresholdArea &&
          !keeps.exists(k => !p.disjoint(k)) &&
          dstParts.exists(dp => dp.getArea > thresholdArea && p.touches(dp))
      }
      var (s, d) = (src, dst)
      swaps.foreach { p => d = d.union(p); s = s.difference(p) }
      (s, d)
    }

    def fixPlace(rows: List[Row], keeps: Seq[Geometry]): List[Row] = {
      if (rows.size < 2) return rows
      val geoms = rows.map(r => GeomCodec.read(r.getAs[Array[Byte]](geomIdx))).toArray
      def swap(i: Int, j: Int): Unit = {
        val (a, b) = checkParts(geoms(i), geoms(j), keeps)
        geoms(i) = a; geoms(j) = b
        val (b2, a2) = checkParts(geoms(j), geoms(i), keeps)
        geoms(j) = b2; geoms(i) = a2
      }
      swap(0, 1)
      if (rows.size == 3) { swap(0, 2); swap(1, 2) }
      rows.zipWithIndex.map { case (r, i) =>
        val vals = r.toSeq.toArray
        vals(geomIdx) = GeomCodec.write(geoms(i))
        Row.fromSeq(vals.toIndexedSeq)
      }
    }

    df.groupByKey(r => Option(r.getAs[String](nameIdx)).getOrElse(""))(Encoders.STRING)
      .flatMapGroups { (_, it) =>
        val keeps = keepFragments.map(GeomCodec.read)
        val rows = it.toList.sortBy(_.getAs[Long](oidIdx))
        fixPlace(rows, keeps).iterator
      }(Encoders.row(schema))
  }
}
