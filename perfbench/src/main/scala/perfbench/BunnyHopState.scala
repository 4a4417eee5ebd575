package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.CacheLifecycle
import graft.geom.{GeomCodec, GeomFunctions => G}
import graft.pipeline.{BunnyHopConfig => C, BunnyHopFlow}
import graft.sources.{BunnySources, FeatureService, Shapefile, Writers}

/** `bunnyhop_state`: the BunnyHop job on seeded California-scale
  * inputs ([[BunnyGen]]). One unit is a full run: fetch both feature
  * services page by page through `FeatureService.fetchAll` (an
  * in-memory transport serving 1000-feature GeoJSON pages),
  * `BunnyHopFlow.run`, GeoJSON + shapefile writes of the layers,
  * `publishManifest`, and `qualityDiff` against the previous unit's
  * publication read back from its GeoJSON.
  *
  * The traced unit calls the flow's public stages one by one and
  * materializes each (persist + count), so every layer's span holds
  * its own work (see [[flow]] for how its plan differs from `run`'s).
  */
final class BunnyHopState(ctx: Ctx) extends Workload {
  import ctx._

  private var in: BunnyGen.Inputs = _
  private var pages = 0
  private var published = 0
  private var lastDiffRows = -1L
  private var lastLayers: Option[BunnyHopFlow.Result] = None
  private val keys = Seq(C.County, C.City, C.Coastal)
  private val PageSize = 1000

  def generate(): Unit = in = BunnyGen.generate(o.seed)

  def prepare(): Unit = {
    Files.writeString(Paths.get(path("gnis.txt")), in.gnis)
    Files.writeString(Paths.get(path("census.csv")), in.census)
    Files.writeString(Paths.get(path("dla.csv")), in.dla)
  }

  /** Transport for one feature service: serves the page at the URL's
    * `resultOffset`, an empty collection past the end.
    */
  private def transport(features: IndexedSeq[String]): String => String = url => {
    pages += 1
    val off = "resultOffset=(\\d+)".r.findFirstMatchIn(url).map(_.group(1).toInt).getOrElse(0)
    features.slice(off, off + PageSize)
      .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
  }

  private def service(features: IndexedSeq[String], cols: Seq[String]): DataFrame = {
    val parsed = tr.span("sources.feature_parse")(
      FeatureService.fetchAll(transport(features), "http://cdtfa.invalid/FeatureServer/0", PageSize))
    FeatureService.toDataFrame(spark, parsed, cols)
      .withColumn("geom", G.st_transform(col("geom"), lit(4326), lit(C.ServiceSrid)))
  }

  private val censusSchema = StructType(Seq("State FIPS Code", "County FIPS Code",
    "County Subdivision FIPS Code", "Place FIPS Code", "Consolidated City FIPS Code",
    "Area Name").map(StructField(_, StringType)))

  private def sources() = (
    BunnySources.readGnis(spark, path("gnis.txt")),
    spark.read.option("header", "true").schema(censusSchema).csv(path("census.csv")),
    BunnySources.readDla(spark, path("dla.csv")),
    service(in.cdtfaFeatures, Seq("COPRI", "COUNTY", "CITY")),
    service(in.coastFeatures, Seq("OFFSHORE")))

  /** The traced unit builds the same plan as `BunnyHopFlow.run`, stage
    * by stage, with one difference: the intermediates `run` leaves lazy
    * (processed GNIS and census, both pathways, the joined and the
    * coast-cut layers) are persisted and counted inside their span, so
    * each span holds its own work. The three published layers get
    * exactly `run`'s `repartition(4)` + `CacheLifecycle.persist`.
    */
  private def flow(): BunnyHopFlow.Result = {
    val (gnis, census, dla, cdtfa, coast) = sources()
    if (!tr.active) BunnyHopFlow.run(gnis, census, dla, cdtfa, coast)
    else {
      // BunnyHopFlow's private CachedLayerPartitions
      def publish(df: DataFrame) = force(df.repartition(4))
      val g = tr.span("pipeline.gnis")(force(BunnyHopFlow.processGnis(gnis)))
      val c = tr.span("pipeline.census")(force(BunnyHopFlow.processCensus(census)))
      // persists and counts on its own, as in run()
      val cd = tr.span("geom.makevalid")(BunnyHopFlow.prepareCdtfa(cdtfa))
      val cities0 = tr.span("operators.dissolve")(force(BunnyHopFlow.citiesPathway(cd)))
      val counties0 = tr.span("operators.dissolve")(force(BunnyHopFlow.countiesPathway(cd)))
      val citiesJ = tr.span("operators.joinfield")(force(BunnyHopFlow.runJoins(cities0, c, g, dla)))
      val countiesJ = tr.span("operators.joinfield")(force(BunnyHopFlow.runJoins(counties0, c, g, dla)))
      val citiesCut = tr.span("operators.overlay")(force(BunnyHopFlow.coastalCut(citiesJ, coast)))
      val countiesCut = tr.span("operators.overlay")(force(BunnyHopFlow.coastalCut(countiesJ, coast)))
      val cities = tr.span("geom.finalize")(publish(BunnyHopFlow.finalizeLayer(citiesCut)))
      val counties = tr.span("geom.finalize")(
        publish(BunnyHopFlow.finalizeLayer(countiesCut).drop(C.PlaceAbbr)))
      val uninc = tr.span("operators.erase")(publish(BunnyHopFlow.unincorporated(counties, cities)))
      BunnyHopFlow.Result(cities, counties, uninc,
        cities.unionByName(counties, allowMissingColumns = true))
    }
  }

  private def pubDir(n: Int) = path(s"publish_${n % 2}")

  /** One full run; returns its layers. Publication `n` diffs against
    * publication `n - 1`.
    */
  private def runOnce(): BunnyHopFlow.Result = {
    val res = flow()
    val dir = pubDir(published)
    Files.createDirectories(Paths.get(dir))
    tr.span("sources.geojson_write") {
      Writers.writeGeoJson(res.merged, "geom", s"$dir/merged.geojson")
      Writers.writeGeoJson(res.unincorporated, "geom", s"$dir/unincorporated.geojson")
    }
    tr.span("sources.shapefile_write") {
      Shapefile.write(res.cities, s"$dir/cities")
      Shapefile.write(res.counties, s"$dir/counties")
      Shapefile.write(res.unincorporated, s"$dir/unincorporated")
    }
    tr.span("sources.manifest") {
      Writers.publishManifest(Seq("merged", "unincorporated").map(l =>
        Writers.LayerManifest(l, s"California $l boundaries", "CDTFA boundaries",
          "Jurisdiction boundaries with census, GNIS and DLA attributes.",
          Seq("boundaries", l), Map("geojson" -> s"$dir/$l.geojson"),
          Some((s"${l}_blue", s"${l}_green")))), s"$dir/manifest.json")
    }
    // the first run diffs against its own publication
    val prev = Writers.readGeoJson(spark, s"${pubDir(math.max(published - 1, 0))}/merged.geojson")
    lastDiffRows = tr.span("pipeline.quality_diff")(
      BunnyHopFlow.qualityDiff(res.merged, prev, keys).count())
    published += 1
    res
  }

  /** A run releases the previous run's persists before it starts (the
    * reference's end-of-run release, moved so the storage held after a
    * run can be measured).
    */
  def unit(key: String): Unit = {
    if (published > 0) CacheLifecycle.release(spark)
    lastLayers = Some(runOnce())
  }

  def checks(): Seq[Check] = {
    val t = in.truth
    val res = lastLayers.getOrElse(return Seq(Check("bunnyhop/ran", ok = false, "no unit finished")))
    val cols = Seq(C.City, C.County, C.Coastal, "GlobalID", C.GnisId, C.Geoid, "geom")
    def rows(df: DataFrame) = df.select(cols.filter(df.columns.contains).map(col): _*).collect()
    val merged = rows(res.merged)
    val uninc = rows(res.unincorporated)
    def s(r: org.apache.spark.sql.Row, c: String): String =
      if (r.schema.fieldNames.contains(c)) Option(r.getAs[Any](c)).map(_.toString).orNull else null
    def geom(r: org.apache.spark.sql.Row) = GeomCodec.read(r.getAs[Array[Byte]]("geom"))
    val cityRows = merged.filter(r => s(r, C.City) != null)
    val countyRows = merged.filter(r => s(r, C.City) == null)

    // area conservation per county, planar in the output CRS
    val area = scala.collection.mutable.Map.empty[String, (Double, Double)]
    def addArea(county: String, isCounty: Boolean, a: Double): Unit = {
      val (x, y) = area.getOrElse(county, (0.0, 0.0))
      area(county) = if (isCounty) (x + a, y) else (x, y + a)
    }
    countyRows.foreach(r => addArea(s(r, C.County), isCounty = true, geom(r).getArea))
    (cityRows ++ uninc).foreach(r => addArea(s(r, C.County), isCounty = false, geom(r).getArea))
    val badArea = area.collect { case (cn, (a, b)) if math.abs(a - b) > 1e-6 * a => cn }
    val ids = (merged ++ uninc).map(s(_, "GlobalID"))
    val invalid = (merged ++ uninc).count(r => !geom(r).isValid)
    def nullCities(c: String) = cityRows.filter(r => s(r, c) == null).map(s(_, C.City)).toSet
    Seq(
      Check("bunnyhop/records", t.records >= C.CdtfaMinRecords, s"${t.records} records"),
      Check("bunnyhop/area_conservation", badArea.isEmpty && area.size == t.counties,
        s"${area.size} counties, off: ${badArea.take(5).mkString(", ")}"),
      Check("bunnyhop/published_rows", merged.length == t.publishedRows,
        s"${merged.length} published, ${t.publishedRows} planted"),
      Check("bunnyhop/unincorporated_rows", uninc.length == t.unincorporatedRows,
        s"${uninc.length} unincorporated, ${t.unincorporatedRows} planted"),
      Check("bunnyhop/cities", cityRows.map(s(_, C.City)).toSet == t.cityCounty.keySet &&
        cityRows.forall(r => t.cityCounty.get(s(r, C.City)).contains(s(r, C.County))),
        s"${cityRows.length} city rows"),
      Check("bunnyhop/globalid_unique", ids.forall(_ != null) && ids.distinct.length == ids.length,
        s"${ids.distinct.length} distinct of ${ids.length}"),
      Check("bunnyhop/valid_geometry", invalid == 0, s"$invalid invalid"),
      Check("bunnyhop/gnis_misses", nullCities(C.GnisId) == t.gnisMisses,
        s"${nullCities(C.GnisId).size} null GNIS ids, ${t.gnisMisses.size} planted"),
      Check("bunnyhop/census_misses", nullCities(C.Geoid) == t.censusMisses,
        s"${nullCities(C.Geoid).size} null GEOIDs, ${t.censusMisses.size} planted"),
      Check("bunnyhop/quality_diff_empty", lastDiffRows == 0, s"$lastDiffRows changed keys"))
  }

  override def layerMetrics(warmKeys: Seq[String]): Map[String, Double] = {
    val out = lastLayers.toSeq.flatMap(r => Seq(r.merged, r.unincorporated))
      .flatMap(_.select("geom").collect()).map(r => GeomCodec.read(r.getAs[Array[Byte]](0)).getNumPoints.toLong)
    Map(
      "geom.input_vertices" -> in.truth.inputVertices.toDouble,
      "geom.output_vertices" -> out.sum.toDouble,
      "sources.feature_pages" -> pages.toDouble / math.max(1, published),
      "sources.bytes_written_mb" -> dirBytes(pubDir(published - 1)) / Trace.MB,
      "pipeline.published_rows" -> lastLayers.map(_.merged.count().toDouble).getOrElse(0.0))
  }

  private def dirBytes(dir: String): Double = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum
    finally s.close()
  }
}
