package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.geom.{GeomFunctions => G}
import graft.sources.{BunnySources, FeatureService}
import BunnyHopConfig._

/** Pipeline E2E (SURVEY §5 item 5): the full BunnyHop DAG on the
  * offline fixture bundle, asserting the reference's own invariants at
  * fixture scale — row counts per layer, join attachments, the SF
  * coincident-county patch, coastal-buffer sliver reassignment, the
  * final schema, and erase-derived unincorporated areas.
  */
class BunnyHopFlowSpec extends SparkTestBase {

  private def res(name: String): String =
    getClass.getResource(s"/bunnyhop/$name").getPath

  /** Feature-service stub: one full page from the fixture file, then an
    * empty page (exercises OP-06 pagination).
    */
  private def stubFetch(file: String): String => String = {
    var calls = 0
    _ => {
      calls += 1
      if (calls == 1) scala.io.Source.fromFile(file).mkString
      else """{"type":"FeatureCollection","features":[]}"""
    }
  }

  private def loadService(file: String, cols: Seq[String]): DataFrame = {
    val features = FeatureService.fetchAll(stubFetch(res(file)), "http://stub")
    // fixture GeoJSON is EPSG:4326; the pipeline works in the service
    // CRS 3857 like the reference
    FeatureService.toDataFrame(spark, features, cols)
      .withColumn("geom", G.st_transform(col("geom"), lit(4326), lit(ServiceSrid)))
  }

  private lazy val result: BunnyHopFlow.Result = BunnyHopFlow.run(
    gnisRaw = BunnySources.readGnis(spark, res("gnis.txt")),
    censusRaw = BunnySources.readCensusXlsx(spark, res("census_geocodes.xlsx")),
    dla = BunnySources.readDla(spark, res("dla.csv")),
    cdtfaRaw = loadService("cdtfa.geojson", Seq("COPRI", "COUNTY", "CITY")),
    coastline = loadService("coastline.geojson", Seq("OFFSHORE")),
    minCdtfaRecords = 5)

  test("cities layer: 5 dissolved cities with census/GNIS/DLA attachments") {
    val cities = result.cities.orderBy(City).collect()
    assert(cities.map(_.getAs[String](City)).toSeq ==
      Seq("Alameda", "Hills", "Paso Robles", "San Francisco", "Shore"))
    val byCity = cities.map(r => r.getAs[String](City) -> r).toMap
    assert(byCity("Alameda").getAs[String](Geoid) == "0600562")
    assert(byCity("Alameda").getAs[String](PlaceType) == "City")
    assert(byCity("Alameda").getAs[String](LegalPlaceName) == "City of Alameda")
    assert(byCity("Alameda").getAs[Long](GnisId) == 1001L)
    assert(byCity("Alameda").getAs[String](PlaceAbbr) == "ALAM")
    assert(byCity("Alameda").getAs[String](NameShort) == "Alameda")
    assert(byCity("Hills").getAs[String](PlaceType) == "Town")
    assert(byCity("Hills").getAs[String](Geoid) == "0633000")
    // GNIS adjustment El Paso de Robles -> Paso Robles made the join land
    assert(byCity("Paso Robles").getAs[String](LegalPlaceName) == "City of El Paso de Robles")
    assert(byCity("Paso Robles").getAs[String](Geoid) == "0656000")
    assert(byCity("San Francisco").getAs[String](County) == "San Francisco County")
  }

  test("multipart dissolve: Alameda is one 2-part feature") {
    val alameda = result.cities.filter(col(City) === "Alameda")
      .select(G.st_numgeometries(col("geom"))).collect()(0).getInt(0)
    assert(alameda == 2)
  }

  test("counties layer: COPRI from unincorporated pieces; SF patched to 38000") {
    val counties = result.counties
      .select(County, Copri, PlaceName, LegalPlaceName)
      .distinct().orderBy(County).collect()
    val byCounty = counties.map(r => r.getAs[String](County) -> r).toMap
    assert(byCounty.keySet == Set("Alpha County", "Beta County", "San Francisco County"))
    assert(byCounty("Alpha County").getAs[String](Copri) == "01000")
    assert(byCounty("Beta County").getAs[String](Copri) == "02000")
    // no unincorporated piece for SF -> COPRI was NULL until CDTFA_ADJUST
    assert(byCounty("San Francisco County").getAs[String](Copri) == "38000")
    assert(byCounty("San Francisco County").getAs[String](LegalPlaceName) == "San Francisco County")
  }

  test("coastal cut: Shore regains its sub-threshold ocean sliver; county keeps big buffer") {
    // Shore's coastal fragment (≈65k m² in 3857, under the 100k
    // threshold) must be moved back into the city polygon: its final
    // 3310 area ≈ the full original rectangle.
    val shore = result.cities.filter(col(City) === "Shore")
      .select(G.st_area(col("geom")).as("a"), col(Coastal)).collect()
    assert(shore.length == 1)
    val fullShore = 0.041 * 0.004 * 85000.0 * 111000.0 // rough deg->m
    assert(math.abs(shore(0).getAs[Double]("a") - fullShore) / fullShore < 0.05,
      s"shore area ${shore(0).getAs[Double]("a")} vs ~$fullShore")
    assert(shore(0).getAs[String](Coastal) == null) // blank -> NULL

    // Beta County: main piece + over-threshold ocean-buffer piece kept
    val beta = result.counties.filter(col(County) === "Beta County")
      .select(col(Coastal)).collect().map(_.getString(0)).sortBy(s => Option(s).getOrElse(""))
    assert(beta.toSeq == Seq(null, "ocean"))
  }

  test("merged layer: cities+counties, counties lack city abbr (bunny.py:391)") {
    assert(result.merged.count() == 9) // 5 cities + 4 county pieces
    assert(result.counties.columns.toSet.contains(CntyAbbr))
    assert(!result.counties.columns.contains(PlaceAbbr))
    // final schema essentials (FIXTURES.md §4)
    val expected = Set(City, Copri, County, PlaceName, Geoid, PlaceType,
      Population, LegalPlaceName, GnisId, CntyAbbr, NameShort,
      PrimaryDomain, Coastal, "AREA_SQMI", "GlobalID", "geom")
    assert(expected.subsetOf(result.merged.columns.toSet))
    // every row has positive area and a GUID
    val bad = result.merged
      .filter(col("AREA_SQMI") <= 0 || col("GlobalID").isNull).count()
    assert(bad == 0)
  }

  test("unincorporated: erase removes fully-covered SF county; fills city constant") {
    val uninc = result.unincorporated
    val counties = uninc.select(County).distinct()
      .collect().map(_.getString(0)).sorted
    assert(counties.toSeq == Seq("Alpha County", "Beta County"))
    assert(uninc.filter(col(City) =!= "Unincorporated").count() == 0)
    // Alpha unincorporated area < full Alpha county area (cities cut out)
    val alphaFull = result.counties.filter(col(County) === "Alpha County")
      .select(G.st_area(col("geom"))).collect()(0).getDouble(0)
    val alphaUninc = uninc.filter(col(County) === "Alpha County")
      .select(G.st_area(col("geom"))).collect()(0).getDouble(0)
    assert(alphaUninc < alphaFull && alphaUninc > 0.9 * alphaFull)
  }

  test("quality gate: identity diff is empty, a dropped city is flagged") {
    val diff0 = BunnyHopFlow.qualityDiff(result.merged, result.merged, Seq(City, County))
    assert(diff0.count() == 0)
    val prev = result.merged
    val cur = result.merged.filter(!(col(City) <=> "Hills"))
    val diff = BunnyHopFlow.qualityDiff(cur, prev, Seq(City, County)).collect()
    assert(diff.length == 1 && diff(0).getAs[String]("change") == "removed")
  }

  test("quality gate: losing ONE of several same-key rows is count_changed, not silence") {
    // Beta County carries two merged rows under key (City=NULL, County)
    // — main piece + ocean-buffer piece. A presence-only full-outer
    // matched the surviving row to both previous rows and reported NO
    // change when one vanished.
    val key = Seq(City, County)
    val beta = result.merged.filter(col(County) === "Beta County" && col(City).isNull)
    assert(beta.count() >= 2, "fixture must carry duplicate keys for this test")
    // drop exactly one of the Beta rows (the smaller-area piece)
    val minArea = beta.agg(min(col("AREA_SQMI"))).collect()(0).getDouble(0)
    val cur = result.merged.filter(
      !(col(County) <=> "Beta County" && col(City).isNull &&
        col("AREA_SQMI") === minArea))
    assert(cur.count() == result.merged.count() - 1)
    val diff = BunnyHopFlow.qualityDiff(cur, result.merged, key).collect()
    assert(diff.length == 1, diff.mkString(";"))
    assert(diff(0).getAs[String]("change") == "count_changed", diff(0))
  }

  test("GlobalIDs are content-deterministic and distinct across layers") {
    // uuid() stabilized only by an evictable cache renumbered features
    // when a partition recomputed; content-derived ids must be equal
    // across two independent reads and unique within the publication
    val ids1 = result.merged.select(col("GlobalID")).collect().map(_.getString(0)).sorted
    val ids2 = result.merged.select(col("GlobalID")).collect().map(_.getString(0)).sorted
    assert(ids1.sameElements(ids2))
    assert(ids1.distinct.length == ids1.length, "GlobalIDs must be unique")
    assert(ids1.forall(_.matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")))
    // unincorporated stamps its OWN ids, not the source counties'
    val unincIds = result.unincorporated.select(col("GlobalID"))
      .collect().map(_.getString(0)).toSet
    val countyIds = result.counties.select(col("GlobalID"))
      .collect().map(_.getString(0)).toSet
    assert(unincIds.intersect(countyIds).isEmpty,
      "unincorporated rows must not reuse county GlobalIDs")
  }

  test("byte-identical rows still receive distinct GlobalIDs") {
    // an overlay can emit two fully identical pieces (same attributes
    // AND geometry); a pure content hash would stamp them with ONE
    // GlobalID. The row_number disambiguation must keep the ids unique
    // while staying recompute-stable as a multiset.
    import spark.implicits._
    val wkt = "POLYGON((0 0, 1000 0, 1000 1000, 0 1000, 0 0))"
    val df = Seq(("Dup", wkt), ("Dup", wkt), ("Dup", wkt), ("Other", wkt))
      .toDF("NAME", "wkt")
      .withColumn("geom", G.st_geomfromwkt(col("wkt"))).drop("wkt")
    val out = BunnyHopFlow.finalizeLayer(df)
    val ids1 = out.select("GlobalID").collect().map(_.getString(0)).sorted
    val ids2 = out.select("GlobalID").collect().map(_.getString(0)).sorted
    assert(ids1.length == 4 && ids1.distinct.length == 4,
      s"identical-content rows must get distinct GlobalIDs, got ${ids1.mkString(",")}")
    assert(ids1.sameElements(ids2), "GUID multiset must be stable across reads")
    assert(ids1.forall(_.matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")))
  }

  test("coastal cut is deterministic under shuffle-partition changes (r2 verdict #1)") {
    import spark.implicits._
    def sq(x0: Double, y0: Double, x1: Double, y1: Double): String =
      s"POLYGON(($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"
    // place "Tri": rows A and B are big squares with a 100 m gap; row C
    // owns a sub-threshold sliver in the gap touching BOTH A and B, plus
    // a big part of its own. Whichever of A/B pairs with C first absorbs
    // the sliver — the exact ordering-sensitive case the __oid key decides.
    val layer = Seq(
      ("Tri", "City", "Tri", sq(0, 0, 1000, 1000)),
      ("Tri", "City", "Tri", sq(1100, 0, 2100, 1000)),
      ("Tri", "City", "Tri",
        s"MULTIPOLYGON(((3000 0, 4000 0, 4000 1000, 3000 1000, 3000 0)), " +
          s"((1000 0, 1100 0, 1100 100, 1000 100, 1000 0)))"))
      .toDF(LegalPlaceName, PlaceType, PlaceName, "wkt")
      .withColumn("geom", G.st_geomfromwkt(col("wkt"))).drop("wkt")
    val coast = Seq(("ocean", sq(9000, 9000, 9500, 9500)))
      .toDF(Coastal, "wkt")
      .withColumn("geom", G.st_geomfromwkt(col("wkt"))).drop("wkt")

    def runOnce(shufflePartitions: Int, inputPartitions: Int): Seq[(String, String, Double)] = {
      val old = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
      try {
        BunnyHopFlow.coastalCut(layer.repartition(inputPartitions), coast)
          .select(col(LegalPlaceName), md5(col("geom")).as("fp"), G.st_area(col("geom")).as("a"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
          .sortBy(t => (t._1, t._2)).toSeq
      } finally spark.conf.set("spark.sql.shuffle.partitions", old)
    }

    val run1 = runOnce(4, 1)
    val run2 = runOnce(7, 3)
    assert(run1 == run2, s"coastalCut output differs across shuffle layouts:\n$run1\nvs\n$run2")
    // and the sliver really moved: one polygon grew to 1.01e6 m²
    val areas = run1.map(_._3).sorted
    assert(areas.count(a => math.abs(a - 1.0e6) < 1e-3) == 2 &&
      areas.count(a => math.abs(a - 1.01e6) < 1e-3) == 1, s"areas $areas")
  }

  test("census processing: CDP geoid NULL, out-of-state and statewide dropped") {
    val census = BunnyHopFlow.processCensus(
      BunnySources.readCensusXlsx(spark, res("census_geocodes.xlsx")))
    val rows = census.select("Area_Name", PlaceType, Geoid).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(!rows.contains("California"))
    assert(!rows.contains("Autauga County"))
    assert(rows("Somewhere CDP") == ("Cdp", null))       // capitalize, not initcap
    assert(rows("Paso Robles city") == ("City", "0656000")) // census adjustment applied
  }

  test("published layers are cache-backed leaves: short plans, release-safe") {
    val layers = Seq("merged" -> result.merged, "cities" -> result.cities,
      "unincorporated" -> result.unincorporated)
    // downstream operators plan these trees, not the whole flow's DAG
    layers.foreach { case (name, df) =>
      val plan = df.queryExecution.analyzed
      assert(plan.collectLeaves().forall(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
        s"$name:\n$plan")
      assert(plan.collect { case p => p }.size <= 8, s"$name:\n$plan")
    }
    // after release the same frames recompute through the cached RDDs'
    // lineage: identical rows, no stale or failed read
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).sortBy(_.toString).toSeq
    val before = layers.map { case (_, df) => rows(df) }
    graft.CacheLifecycle.release(spark)
    assert(graft.CacheLifecycle.trackedCount(spark) == 0)
    assert(layers.map { case (_, df) => rows(df) } == before)
  }
}
