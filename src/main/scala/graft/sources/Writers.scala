package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.geom.GeomCodec

/** Output sinks (OP-05 `retrieve.py:44,132`, OP-10 publish artifacts).
  *
  * `writeCsv` is the distributed path (one file per partition);
  * `writeCsvSingle` coalesces for the reference's single-file parity —
  * only for small result tables, never for bulk data. `writeGeoJson`
  * renders a FeatureCollection from a WKB geometry column: the publish
  * artifact the reference's ArcGIS upload step consumes.
  */
object Writers {

  // the directory sinks publish via [[AtomicDirs.writeVia]] (r20):
  // mode("overwrite") alone deletes the destination before the job
  // commits, so a mid-job failure destroyed the previous dataset
  def writeCsv(df: DataFrame, path: String): Unit =
    AtomicDirs.writeVia(df.sparkSession, path) { staging =>
      df.write.mode("overwrite").option("header", "true").csv(staging)
    }

  /** Single-file CSV (reference parity). The coalesce(1) funnels the
    * whole frame through ONE task — correct for small publish tables,
    * a silent single-node bottleneck for anything lake-sized — so the
    * row count is guarded up front (a `limit` probe: stops scanning at
    * maxRows + 1, never counts the full input) with instructions
    * instead of letting a 100 TB frame serialize through one writer.
    *
    * The probe is an EXTRA execution of the input plan before the
    * write — an un-persisted expensive upstream frame pays ~2× here
    * (persist first if that matters; unlike `Shapefile.write`, a CSV
    * write cannot reuse driver-collected probe rows without buffering
    * the table on the driver). `maxRows = Long.MaxValue` is the one
    * explicit "no cap" sentinel; anything else must sit below the
    * probe's Int.MaxValue-row reach or the guard could not actually
    * enforce it, so such values are rejected rather than silently
    * unenforced.
    */
  def writeCsvSingle(df: DataFrame, path: String,
      maxRows: Long = 10_000_000L): Unit = {
    require(maxRows > 0, s"writeCsvSingle: maxRows=$maxRows must be positive")
    // deliberate ceiling: Int.MaxValue+ is beyond the probe's reach
    // (limit() takes an Int, so probed <= Int.MaxValue <= maxRows would
    // always pass), and the single probe-enforceable value above the
    // cutoff (Int.MaxValue-1) is excluded too — a >2-billion-row
    // single-file CSV is far past this writer's intent either way
    require(maxRows == Long.MaxValue || maxRows < Int.MaxValue - 1L,
      s"writeCsvSingle: maxRows=$maxRows is at/above the guard's " +
        "deliberate Int.MaxValue-2 ceiling and below the explicit " +
        "no-cap sentinel Long.MaxValue. Pass Long.MaxValue to disable " +
        "the cap deliberately, or a cap under the ceiling.")
    // (min BEFORE the +1: maxRows = Long.MaxValue means "no cap" and
    // must not wrap negative)
    val probed = df.limit((maxRows.min(Int.MaxValue - 1L) + 1).toInt).count()
    require(probed <= maxRows,
      s"writeCsvSingle: input exceeds maxRows=$maxRows rows — a single-file " +
        "CSV writes through one task. Use writeCsv (one file per partition) " +
        "for bulk data, or raise maxRows if the table genuinely fits.")
    AtomicDirs.writeVia(df.sparkSession, path) { staging =>
      df.coalesce(1).write.mode("overwrite").option("header", "true").csv(staging)
    }
  }

  def writeParquet(df: DataFrame, path: String): Unit =
    AtomicDirs.writeVia(df.sparkSession, path) { staging =>
      df.write.mode("overwrite").parquet(staging)
    }

  /** GeoJSON FeatureCollection: geometry from WKB, all other columns as
    * properties. Executors only compute the rows (and `to_json` of
    * container columns); `toLocalIterator` streams them to the driver
    * one partition at a time, and the driver renders every feature,
    * WKB-to-GeoJSON geometry included — fine for publish-sized layers.
    */
  def writeGeoJson(df: DataFrame, geomCol: String, path: String): Unit = {
    val props = df.columns.filterNot(_ == geomCol)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

    // container columns (array/map/struct) render through Spark's
    // to_json and are spliced in as RAW JSON: the scala-toString
    // fallback published "WrappedArray(a, b)" debug strings as
    // property values (r20 review — the same silent-mangling class
    // the Float/Short/BigDecimal cases below were added to fix)
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType => SqlStructType}
    val isContainer: Map[String, Boolean] = props.map { p =>
      p -> (df.schema(p).dataType match {
        case _: ArrayType | _: MapType | _: SqlStructType => true
        case _ => false
      })
    }.toMap
    val fragments = df.select(
      (props.map(p =>
        if (isContainer(p)) to_json(col(p)).as(p) else col(p)) :+
        col(geomCol).as("__geom")): _*)

    // stream to a sibling temp, promote on success (r19 writer-side
    // no-torn-artifact contract): a corrupt WKB row or an unsupported
    // geometry type surfaces MID-STREAM, after bytes are written — the
    // published path must hold either the previous complete artifact
    // or nothing, never a truncated FeatureCollection
    AtomicFiles.writeVia(Paths.get(path)) { tmp =>
    val out = Files.newBufferedWriter(tmp,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    try {
      out.write("""{"type":"FeatureCollection","features":[""")
      var first = true
      val it = fragments.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        val node = mapper.createObjectNode()
        node.put("type", "Feature")
        val propsNode = node.putObject("properties")
        props.zipWithIndex.foreach { case (p, i) =>
          row.get(i) match {
            case null       => propsNode.putNull(p)
            // a container column arrives as its to_json string (see
            // the select above): splice it in as raw JSON so the
            // artifact carries a real nested array/object
            case v: String if isContainer(p) =>
              propsNode.putRawValue(p,
                new com.fasterxml.jackson.databind.util.RawValue(v))
              ()
            case v: String  => propsNode.put(p, v)
            case v: Long    => propsNode.put(p, v)
            case v: Int     => propsNode.put(p, v)
            case v: Double  => propsNode.put(p, v)
            case v: Boolean => propsNode.put(p, v)
            // the remaining numeric SQL types must stay JSON numbers —
            // the toString fallback emitted "1.5" (a string), and the
            // upload step this artifact feeds would infer a text field
            case v: Float                => propsNode.put(p, v)
            case v: Short                => propsNode.put(p, v)
            case v: Byte                 => propsNode.put(p, v.toShort)
            case v: java.math.BigDecimal => propsNode.put(p, v)
            case v: BigDecimal           => propsNode.put(p, v.bigDecimal)
            case v          => propsNode.put(p, v.toString)
          }
        }
        val wkb = row.getAs[Array[Byte]](props.length)
        val geomJson =
          if (wkb == null) "null" else geoJsonGeometry(GeomCodec.read(wkb))
        if (!first) out.write(",")
        first = false
        out.write(node.toString.dropRight(1) + s""","geometry":$geomJson}""")
      }
      out.write("]}")
    } finally out.close()
    }
  }

  /** Read a GeoJSON FeatureCollection file back as a DataFrame (every
    * property a string column + `geom` WKB) — the round-trip of
    * [[writeGeoJson]] and the same parser the feature-service scan
    * uses. Driver-side parse: GeoJSON artifacts are publish-sized by
    * design (the 100 TB interchange format is parquet).
    */
  def readGeoJson(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    // parsePage's hostile-input diagnostics (malformed JSON, error
    // body, non-FeatureCollection, corrupt geometry) are page-generic —
    // reading from a FILE they must carry the path instead
    val features =
      try FeatureService.parsePage(new String(
        Files.readAllBytes(Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"$path: ${e.getMessage}", e) }
    val columns = features.flatMap(_._1.keys).distinct.sorted
    FeatureService.toDataFrame(spark, features, columns)
  }

  /** One published layer's service-definition metadata — the fields
    * the reference posts per item in its `updateDefinition` call
    * (`scripts/update_service_definitions.py:40-48`: serviceDescription
    * + description HTML with `lastEditDate` nulled) plus the item
    * title/tags an AGOL item carries. `blueGreen` captures the swap
    * topology of `scripts/_services.py` (a public view promoted across
    * two backing services) as DATA, so the swap itself stays a thin
    * driver script outside the engine (SURVEY §2.1's scoping of
    * OP-10).
    */
  final case class LayerManifest(
      name: String,
      title: String,
      summary: String,
      description: String,
      tags: Seq[String],
      artifacts: Map[String, String],
      blueGreen: Option[(String, String)])

  /** Write the publish manifest: the engine-side artifact a driver
    * publish script consumes to push metadata + swap services. Pure
    * local JSON — the engine never talks to a service catalog; it
    * emits everything the ~100-line driver script needs. `lastEditDate`
    * is emitted as an explicit null, mirroring the reference's
    * "null it out or the server rejects the change"
    * (`update_service_definitions.py:41`).
    */
  def publishManifest(layers: Seq[LayerManifest], path: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    val arr = root.putArray("layers")
    layers.foreach { l =>
      val n = arr.addObject()
      n.put("name", l.name)
      n.put("title", l.title)
      n.put("serviceDescription", l.summary)
      n.put("description", l.description)
      val tags = n.putArray("tags")
      l.tags.foreach(tags.add)
      val arts = n.putObject("artifacts")
      l.artifacts.toSeq.sortBy(_._1).foreach { case (k, v) => arts.put(k, v) }
      l.blueGreen.foreach { case (blue, green) =>
        val bg = n.putObject("blueGreen")
        bg.put("blue", blue); bg.put("green", green)
      }
      n.putObject("editingInfo").putNull("lastEditDate")
    }
    // bytes are fully materialized before any I/O; the atomic write
    // keeps a mid-write kill from leaving a torn manifest (r19)
    AtomicFiles.write(Paths.get(path),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
  }

  /** Round-trip of [[publishManifest]] — what the driver publish
    * script parses.
    */
  def readManifest(path: String): Seq[LayerManifest] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(Files.readAllBytes(Paths.get(path)))
    import scala.jdk.CollectionConverters._
    root.get("layers").elements().asScala.map { n =>
      LayerManifest(
        name = n.get("name").asText,
        title = n.get("title").asText,
        summary = n.get("serviceDescription").asText,
        description = n.get("description").asText,
        tags = n.get("tags").elements().asScala.map(_.asText).toSeq,
        artifacts = Option(n.get("artifacts")).map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asText).toMap).getOrElse(Map.empty),
        blueGreen = Option(n.get("blueGreen")).map(bg =>
          (bg.get("blue").asText, bg.get("green").asText)))
    }.toSeq
  }

  /** JTS Polygon/MultiPolygon → GeoJSON geometry text. */
  def geoJsonGeometry(g: org.locationtech.jts.geom.Geometry): String = {
    def ring(r: org.locationtech.jts.geom.LineString): String =
      r.getCoordinates.map(c => s"[${c.x},${c.y}]").mkString("[", ",", "]")
    def poly(p: org.locationtech.jts.geom.Polygon): String = {
      val rings = (Seq(p.getExteriorRing) ++
        (0 until p.getNumInteriorRing).map(p.getInteriorRingN)).map(ring)
      rings.mkString("[", ",", "]")
    }
    g match {
      case p: org.locationtech.jts.geom.Polygon =>
        s"""{"type":"Polygon","coordinates":${poly(p)}}"""
      case mp: org.locationtech.jts.geom.MultiPolygon =>
        val polys = (0 until mp.getNumGeometries)
          .map(i => poly(mp.getGeometryN(i).asInstanceOf[org.locationtech.jts.geom.Polygon]))
        s"""{"type":"MultiPolygon","coordinates":${polys.mkString("[", ",", "]")}}"""
      case other =>
        throw new IllegalArgumentException(s"unsupported geometry ${other.getGeometryType}")
    }
  }
}
