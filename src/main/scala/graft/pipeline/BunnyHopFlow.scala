package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geom.{GeomFunctions => G}
import graft.operators.{Calc, JoinField, SpatialOps}
import BunnyHopConfig._

/** The BunnyHop pipeline DAG (SURVEY §3, E1/E2/E3): GNIS (E2,
  * `bunny.py:26-104`), Census (`bunny.py:106-157` +
  * `retrieve.py:97-135`), and the spatial CDTFA core (E3,
  * `bunny.py:160-531`). Where the reference materializes six file-GDB
  * tables per branch, here the plan stays lazy up to its reuse points
  * (the repaired CDTFA input, each overlay's pair table, the published
  * layers), where it is cached and re-rooted on a leaf
  * (`CacheLifecycle.persistLeaf`), so downstream operators plan a
  * few-node tree, not the whole DAG.
  */
object BunnyHopFlow {

  final case class Result(
      cities: DataFrame,
      counties: DataFrame,
      unincorporated: DataFrame,
      merged: DataFrame)

  /** E2 — `process_gnis` (`bunny.py:26-104`). */
  def processGnis(raw: DataFrame): DataFrame =
    raw
      .filter(col("state_name") === "California" && col("feature_class") === "Civil" &&
        (col("census_class_code") === "H1" || col("census_class_code") === "C1"))
      .withColumn(GnisJoinName,
        Calc.valueReplace(
          Calc.splitName(col("census_class_code"), col("feature_name")),
          GnisAdjustments))
      .withColumn(LegalPlaceName, col("feature_name"))
      .withColumn(GnisId, col("feature_id").cast("long"))

  /** Census branch — retrieval-side validation (`retrieve.py:108-135`)
    * + `process_census` (`bunny.py:106-157`). Raw columns arrive as
    * strings (xlsx dtype pinning); `maxMissing` mirrors the ≤5
    * blank-FIPS tolerance.
    */
  def processCensus(raw: DataFrame, maxMissing: Long = 5): DataFrame = {
    val underscored = Calc.underscoreColumns(raw)
    val california = underscored.filter(col("State_FIPS_Code") === "06")

    val fipsCols = Seq("County_FIPS_Code", "County_Subdivision_FIPS_Code",
      "Place_FIPS_Code", "Consolidated_City_FIPS_Code")
    // one pass for both guards. The zero-rows check matters as much as
    // the missing-FIPS one: a restructured vintage that stores FIPS as
    // numeric cells ("6", not "06") matches NO California rows, and
    // counting blank-FIPS rows over an EMPTY frame passes vacuously —
    // the run would "succeed" with a census branch that attaches NULL
    // GEOID/PlaceType to every published row.
    val counts = california.agg(
      count(lit(1)).as("__total"),
      count(when(!Calc.hasData(fipsCols.map(col)), 1)).as("__missing")).collect()(0)
    val (total, missing) = (counts.getLong(0), counts.getLong(1))
    if (total == 0)
      throw new IllegalStateException(
        "census data has ZERO California rows (State_FIPS_Code === '06' " +
          "matched nothing) — restructured vintage?")
    if (missing > maxMissing)
      throw new IllegalStateException(
        s"census data has $missing all-blank-FIPS rows (> $maxMissing tolerated) — wrong vintage?")

    california
      .filter(col("Area_Name") =!= "California")
      .withColumn("Area_Name", Calc.valueReplace(col("Area_Name"), CensusAdjustments))
      .withColumn(PlaceType, Calc.lastTokenCapitalize(col("Area_Name")))
      .withColumn(PlaceName, Calc.placeName(col("Area_Name"), col(PlaceType)))
      .withColumn(Geoid, Calc.censusGeoid(col(PlaceType),
        col("State_FIPS_Code"), col("County_FIPS_Code"), col("Place_FIPS_Code")))
  }

  /** `process_cdtfa_layer` front half (`bunny.py:221-248`): repair,
    * count guard (eager — a deliberate materialization barrier), rename.
    */
  def prepareCdtfa(cdtfa: DataFrame, minRecords: Long = CdtfaMinRecords): DataFrame = {
    // persist BEFORE the guard count: the count is the deliberate
    // materialization barrier, so let it double as the cache warm-up —
    // counting the uncached plan and caching afterwards ran the full
    // repair scan (st_makevalid on every geometry) twice. Counting the
    // leaf reads through the cache scan, so it fills the cache too.
    val repaired = graft.CacheLifecycle.persistLeaf(
      cdtfa.withColumn("geom", G.st_makevalid(col("geom"))))
    val n = repaired.count()
    if (n < minRecords)
      throw new IllegalStateException(
        s"CDTFA layer has $n records (< $minRecords) — wrong layer id upstream?")
    Calc.renameFields(repaired, CdtfaFieldMap)
  }

  /** `cities_pathway` (`bunny.py:250-294`): select → dissolve by
    * (city, COPRI) → first-match county attach → place name.
    */
  def citiesPathway(cdtfa: DataFrame): DataFrame = {
    val cities = cdtfa.filter(col(City) =!= "Unincorporated")
    val dissolved = SpatialOps.dissolve(cities, Seq(City, Copri))
    JoinField(dissolved, City, cdtfa, City, Seq(County))
      .withColumn(PlaceName, col(City))
  }

  /** `counties_pathway` (`bunny.py:296-348`): COPRI ids from the
    * unincorporated pieces, full-boundary dissolve, COPRI attach.
    */
  def countiesPathway(cdtfa: DataFrame): DataFrame = {
    val copriIds = SpatialOps.dissolve(
      cdtfa.filter(col(City) === "Unincorporated"), Seq(County, Copri))
      .drop("geom")
    val full = SpatialOps.dissolve(cdtfa, Seq(County))
    JoinField(full, County, copriIds, County, Seq(Copri))
      .withColumn(PlaceName, col(County))
  }

  /** `_join_individual` (`bunny.py:426-467`) + `fix_individual_values`
    * (`508-531`) + placeholder fields + `add_cdt_name_field` (`405-420`).
    */
  def runJoins(layer: DataFrame, census: DataFrame, gnis: DataFrame, dla: DataFrame): DataFrame = {
    val withCensus = JoinField(layer, PlaceName, census, PlaceName, Seq(Geoid, PlaceType))
    val withGnis = JoinField(withCensus, PlaceName, gnis, GnisJoinName, Seq(LegalPlaceName, GnisId))
    val withDla = JoinField(withGnis, PlaceName, dla, PlaceName, Seq(PlaceAbbr, CntyAbbr))
    val fixed = CdtfaAdjust.foldLeft(withDla) {
      case (df, (checkF, checkV, updF, updV)) =>
        Calc.fixIndividual(df, checkF, checkV, updF, updV)
    }
    fixed
      .withColumn(PrimaryDomain, lit(null).cast("string"))   // primary_domain.py:14-15
      .withColumn(Population, lit(null).cast("long"))        // census_population.py:14-15
      .withColumn(NameShort, Calc.nameShort(col(LegalPlaceName)))
  }

  /** `coastal_cut` (`coastline.py:12-66`): exclusion select → planar
    * overlay union → sliver fix → drop overlay bookkeeping → ''-aware
    * post-filter → blank→NULL. Geometry in the service CRS (3857).
    */
  def coastalCut(
      layer: DataFrame, coastline: DataFrame,
      runSliverFix: Boolean = true): DataFrame = {
    val coastalSel = coastline
      .filter(col(Coastal).isin(CoastlineExclude: _*))
      .select(col(Coastal), col("geom"))

    // deterministic pairing-order key: sliverFix sorts each place bucket
    // by this column to decide which polygon absorbs a sliver, so it must
    // be stable run-to-run. monotonically_increasing_id() on a shuffle-fed
    // plan is NOT — task retry / reduce-fetch reordering / cache eviction
    // renumber rows, silently flipping which polygon wins a sliver. A
    // content hash of the overlay output row is.
    val overlaid = SpatialOps.overlayUnion(layer, coastalSel)
    val prelim = overlaid
      .withColumn("__oid", xxhash64(overlaid.columns.map(col).toIndexedSeq: _*))

    val fixedRows =
      if (runSliverFix)
        SpatialOps.sliverFix(prelim, LegalPlaceName, "__oid", "geom",
          KeepFragmentsWkb3857, SliverThresholdM2)
      else prelim

    // NULL-name semantics, adjudicated: a GNIS-miss row carries NULL
    // LegalPlaceName here where the reference's file-GDB world carries
    // '' — both bucket with the ''-named water pieces in sliverFix and
    // both drop under the post-filter when no other name field is set
    // (NULL || false || false is NULL, which filters exactly like the
    // reference's all-'' row). Faithful by construction, so NOT
    // "fixed": making NULLs survive here would diverge from the
    // reference's published output for the same degenerate input.
    fixedRows
      .drop("__oid")
      .filter((col(LegalPlaceName) =!= "" || col(PlaceType) =!= "" || col(PlaceName) =!= "") &&
        G.st_area(col("geom")) > 1)
      .withColumn(Coastal, Calc.blankToNull(col(Coastal)))
  }

  /** Deterministic GUID in the uuid() wire format, derived from two
    * independently-salted content hashes of the row. `expr("uuid()")`
    * is nondeterministic and was stabilized only by the evictable
    * cache: under memory pressure a recomputed partition re-rolled
    * fresh GlobalIDs mid-run, so the same feature carried different
    * ids across two reads of the same Result (the withRowKey rule).
    * Content-derived ids are stable across recomputation; the driver's
    * oracle excludes the column either way (OP-32 ledger).
    */
  private def contentGuid(df: DataFrame): org.apache.spark.sql.Column = {
    val cs = df.columns.map(col).toIndexedSeq
    val xh = xxhash64(cs: _*)
    val yh = xxhash64((lit("graft:guid") +: cs): _*)
    // Byte-identical rows (same attributes AND geometry — plausible
    // after an overlay that emits duplicate pieces) would hash to the
    // SAME GlobalID, and a published layer must not carry duplicate
    // GUIDs. Disambiguate with a row_number over identical-content
    // groups (the two 64-bit hashes ARE the content identity here),
    // perturbing only the duplicates: singletons (the overwhelmingly
    // common case) keep the plain content hash, and the MULTISET of
    // emitted GUIDs is recompute-stable because identical rows are
    // interchangeable — any rank permutation yields the same set.
    // Costs one shuffle on (xh, yh); published layers are dimension-
    // sized, far below the corpus tables this would matter for.
    val dup = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(xh, yh).orderBy(xh))
    val ySalted = when(dup === 1, yh)
      .otherwise(xxhash64(lit("graft:guid:dup"), yh, dup.cast("long")))
    val x = lpad(lower(hex(xh)), 16, "0")
    val y = lpad(lower(hex(ySalted)), 16, "0")
    concat(substring(x, 1, 8), lit("-"), substring(x, 9, 4), lit("-"),
      substring(x, 13, 4), lit("-"), substring(y, 1, 4), lit("-"),
      substring(y, 5, 12))
  }

  /** OP-46 area + OP-32 GUID + OP-45 reproject (`bunny.py:364-391`). */
  def finalizeLayer(layer: DataFrame, srid: Int = ServiceSrid): DataFrame = {
    val withArea = layer
      .withColumn("AREA_SQMI", G.st_area_sqmi(col("geom"), lit(srid)))
    withArea
      .withColumn("GlobalID", contentGuid(withArea))
      .withColumn("geom", G.st_transform(col("geom"), lit(srid), lit(OutputSrid)))
  }

  /** `generate_unincorporated_areas` (`bunny.py:393-403`). Stamps its
    * OWN GlobalIDs: the erase output inherits the source county row's
    * id, and publishing two different features (county and its
    * unincorporated remainder) under one GUID defeats the point of a
    * GUID field.
    */
  def unincorporated(counties3310: DataFrame, cities3310: DataFrame): DataFrame = {
    val erased = SpatialOps.erase(counties3310, cities3310.select("geom"))
      .withColumn(City, lit("Unincorporated"))
      .withColumn("AREA_SQMI", G.st_area_sqmi(col("geom"), lit(OutputSrid)))
    if (erased.columns.contains("GlobalID"))
      erased.withColumn("GlobalID", contentGuid(erased.drop("GlobalID")))
    else erased
  }

  /** OP-52 quality gate (`quality_check.py:1-6`, planned in the
    * reference, real here): key-level diff of a new publication against
    * the previous one. Counts per key, not mere presence: under
    * duplicate keys (a county's main piece + ocean-buffer piece share
    * one key triple) a presence-only full-outer matches the surviving
    * row to BOTH previous rows and reports no change when one of them
    * vanishes — `count_changed` catches exactly that. The groupBy also
    * shrinks the join inputs to one row per key before the exchange.
    */
  def qualityDiff(current: DataFrame, previous: DataFrame, keys: Seq[String]): DataFrame = {
    val cur = current.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n_cur"))
    val prev = previous.groupBy(keys.map(c => col(c).as(s"__p_$c")): _*)
      .agg(count(lit(1)).as("__n_prev"))
    // null-safe key equality: county rows legitimately carry NULL city
    val cond = keys.map(k => cur(k) <=> prev(s"__p_$k")).reduce(_ && _)
    cur.join(prev, cond, "full_outer")
      .withColumn("change",
        when(col("__n_cur").isNull, "removed")
          .when(col("__n_prev").isNull, "added")
          .when(col("__n_cur") =!= col("__n_prev"), "count_changed"))
      .filter(col("change").isNotNull)
      .select(keys.map(k => coalesce(cur(k), prev(s"__p_$k")).as(k)) :+ col("change"): _*)
  }

  /** E1/E3 — the whole flow. Inputs are already-loaded DataFrames
    * (sources are injected: GNIS pipe-CSV, census xlsx, DLA table,
    * CDTFA + coastline feature services in EPSG:3857).
    *
    * Eager at the leaf boundaries: the call runs the shuffle stages
    * of the repaired input, both overlays and the three published
    * layers, which come back as cache-backed leaves. Column pruning
    * stops at a leaf: a consumer of a few columns scans them all.
    */
  def run(
      gnisRaw: DataFrame,
      censusRaw: DataFrame,
      dla: DataFrame,
      cdtfaRaw: DataFrame,
      coastline: DataFrame,
      minCdtfaRecords: Long = CdtfaMinRecords,
      maxCensusMissing: Long = 5): Result = {

    val gnis = processGnis(gnisRaw)
    val census = processCensus(censusRaw, maxCensusMissing)
    // prepareCdtfa registers its own persist (guard count = warm-up)
    val cdtfa = prepareCdtfa(cdtfaRaw, minCdtfaRecords)

    val citiesJoined = runJoins(citiesPathway(cdtfa), census, gnis, dla)
    val countiesJoined = runJoins(countiesPathway(cdtfa), census, gnis, dla)

    // Compact the published layers before caching: they are built by
    // 32-partition shuffles but hold jurisdiction-count rows (hundreds
    // at the reference's production scale), so an uncompacted cache is
    // ~64 near-empty partitions and EVERY downstream read pays that
    // many task setups + columnar-batch deserializations — measured
    // 2.6 CPU-s for a warm 9-row `merged.count()`, ×2 inside the
    // quality gate. `repartition` (not `coalesce`: coalesce would fold
    // into and de-parallelize the expensive overlay/sliver stage
    // upstream) adds one tiny one-time exchange and cuts every warm
    // read to a handful of tasks.
    val cities = graft.CacheLifecycle.persistLeaf(
      finalizeLayer(coastalCut(citiesJoined, coastline))
        .repartition(CachedLayerPartitions))
    val counties = graft.CacheLifecycle.persistLeaf(
      finalizeLayer(coastalCut(countiesJoined, coastline))
        .drop(PlaceAbbr)                                      // bunny.py:391
        .repartition(CachedLayerPartitions))

    // cached too: the erase is recomputed per consumer otherwise, and
    // unincorporated areas are read by both the publish sinks and the
    // unincorporated-layer entry
    val uninc = graft.CacheLifecycle.persistLeaf(
      unincorporated(counties, cities).repartition(CachedLayerPartitions))
    val merged = cities.unionByName(counties, allowMissingColumns = true)

    Result(cities, counties, uninc, merged)
  }

  /** Partition count for the small cached output layers (see run()):
    * sized for the reference's production scale (hundreds of
    * jurisdiction polygons) — enough for multi-core scans, small
    * enough that warm reads don't drown in empty-task setup.
    */
  private val CachedLayerPartitions = 4
}
