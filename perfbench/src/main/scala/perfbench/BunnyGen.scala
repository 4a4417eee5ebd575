package perfbench

import scala.collection.mutable
import scala.util.Random

/** Seeded, California-scale inputs for the BunnyHop pipeline.
  *
  * 58 counties tile an 8×8 grid of 1° cells (the six north-east cells
  * stay empty). Lattice corners are jittered and every cell edge is a
  * vertex-rich jittered polyline shared by both neighbours, so counties
  * tile exactly. Inside each county, cities are star-shaped polygons on
  * a 4×4 slot grid kept clear of the boundary; some cities have two
  * pieces. The county's unincorporated record is the county polygon
  * with every city piece as a hole, so the records of a county tile it
  * and its area is conserved through dissolve, overlay and erase.
  * Six counties are consolidated city-counties (one city covering the
  * whole county, no unincorporated record), one of them San Francisco,
  * which the pipeline's `CdtfaAdjust` patches.
  *
  * The coastline has one ocean polygon cutting the west column of
  * counties clear of their cities, three bays each filling a free slot
  * of one county, and two land pieces the pipeline must ignore.
  *
  * GNIS, census and DLA rows exist for every place except the planted
  * misses (cities only), plus decoy rows the pipeline must filter out
  * (other states, other feature classes, tolerated blank-FIPS rows),
  * and the four name adjustments of the reference's config.
  *
  * All coordinates are EPSG:4326 and rendered with fixed decimals, so
  * the same seed gives byte-identical inputs.
  */
object BunnyGen {

  final case class Inputs(
      cdtfaFeatures: IndexedSeq[String],
      coastFeatures: IndexedSeq[String],
      gnis: String,
      census: String,
      dla: String,
      truth: Truth)

  /** What the generator planted, for the output checks. */
  final case class Truth(
      records: Int,
      cities: Int,
      counties: Int,
      copriCounties: Int,
      consolidated: Int,
      oceanCounties: Int,
      bays: Int,
      publishedRows: Int,
      unincorporatedRows: Int,
      gnisMisses: Set[String],
      censusMisses: Set[String],
      dlaMisses: Set[String],
      cityCounty: Map[String, String],
      inputVertices: Long)

  val GridCols = 8
  val GridRows = 8
  val Counties = 58
  val Cities = 482
  val Consolidated = 6
  val Bays = 3
  val Misses = 7
  private val Lon0 = -124.0
  private val Lat0 = 33.0
  private val SlotsPerSide = 4
  private val Slot = 0.15
  private val Inner = 0.2 // inner box offset from the nominal cell corner

  /** Special city names exercising the pipeline's name adjustments:
    * (city, GNIS feature name, census area name).
    */
  private val Adjusted = Seq(
    ("Paso Robles", "City of El Paso de Robles", "El Paso de Robles (Paso Robles) city"),
    ("Ventura", "City of San Buenaventura", "San Buenaventura (Ventura) city"),
    ("St. Helena", "City of Saint Helena", "St. Helena city"),
    ("California", "City of California City", "California City city"))

  def generate(seed: Long, edgeVertices: Int = 16, cityVertices: Int = 20): Inputs = {
    val rnd = new Random(seed)
    def jit(a: Double) = (rnd.nextDouble() * 2 - 1) * a

    // cells: (col,row) with col+row < 12 — 58 of 64
    val cells = (for (r <- 0 until GridRows; c <- 0 until GridCols if c + r < 12)
      yield (c, r)).toIndexedSeq
    require(cells.size == Counties)

    // lattice corners and shared edges
    val corner = Array.tabulate(GridCols + 1, GridRows + 1) { (i, j) =>
      (Lon0 + i + jit(0.1), Lat0 + j + jit(0.1))
    }
    val edges = mutable.Map.empty[(Int, Int, Boolean), IndexedSeq[(Double, Double)]]
    def edge(i: Int, j: Int, horizontal: Boolean): IndexedSeq[(Double, Double)] =
      edges.getOrElseUpdate((i, j, horizontal), {
        val (x0, y0) = corner(i)(j)
        val (x1, y1) = if (horizontal) corner(i + 1)(j) else corner(i)(j + 1)
        val inner = (1 to edgeVertices).map { k =>
          val t = k.toDouble / (edgeVertices + 1)
          val off = jit(0.02) * math.sin(math.Pi * t)
          if (horizontal) (x0 + (x1 - x0) * t, y0 + (y1 - y0) * t + off)
          else (x0 + (x1 - x0) * t + off, y0 + (y1 - y0) * t)
        }
        ((x0, y0) +: inner) :+ ((x1, y1))
      })
    def countyRing(c: Int, r: Int): IndexedSeq[(Double, Double)] = {
      val bottom = edge(c, r, horizontal = true)
      val right = edge(c + 1, r, horizontal = false)
      val top = edge(c, r + 1, horizontal = true).reverse
      val left = edge(c, r, horizontal = false).reverse
      bottom.init ++ right.init ++ top.init ++ left
    }

    val names = new Names(rnd)
    val countyNames = "San Francisco" +: (1 until Counties).map(_ => names.next())
    val countyIdx = rnd.shuffle(cells.indices.toIndexedSeq)
    // west column counties meet the ocean; consolidated and bay counties
    // are chosen among the others
    val inland = countyIdx.filter(i => cells(i)._1 > 0)
    val consolidated = inland.take(Consolidated).toSet
    val bayCounties = inland.slice(Consolidated, Consolidated + Bays).toSet
    // San Francisco is consolidated (county name index 0)
    val countyOf: Map[Int, String] = {
      val sfCell = inland.head
      val rest = cells.indices.filterNot(_ == sfCell)
      (rest.zip(countyNames.tail) :+ (sfCell -> countyNames.head)).toMap
    }

    // cities per ordinary county: 476 spread over 52 counties, 5..13 each
    val ordinary = cells.indices.filterNot(consolidated).toIndexedSeq
    val perCounty = mutable.Map(ordinary.map(_ -> 9): _*)
    var surplus = Cities - Consolidated - 9 * ordinary.size
    while (surplus != 0) {
      val k = ordinary(rnd.nextInt(ordinary.size))
      if (surplus > 0 && perCounty(k) < 13) { perCounty(k) += 1; surplus -= 1 }
      else if (surplus < 0 && perCounty(k) > 5) { perCounty(k) -= 1; surplus += 1 }
    }
    (0 until 40).foreach { _ =>
      val a = ordinary(rnd.nextInt(ordinary.size))
      val b = ordinary(rnd.nextInt(ordinary.size))
      if (perCounty(a) > 5 && perCounty(b) < 13) { perCounty(a) -= 1; perCounty(b) += 1 }
    }

    val adjusted = Adjusted.map(_._1)
    val features = mutable.ArrayBuffer.empty[String]
    val cityCounty = mutable.LinkedHashMap.empty[String, String]
    val cityCopri = mutable.Map.empty[String, String]
    val bayRings = mutable.ArrayBuffer.empty[IndexedSeq[(Double, Double)]]
    var vertices = 0L
    var adjustedLeft = adjusted
    def polygon(rs: Seq[IndexedSeq[(Double, Double)]]): String = {
      vertices += rs.map(_.size).sum
      rings(rs)
    }
    def feature(copri: String, county: String, city: String, geom: String): String =
      s"""{"type":"Feature","properties":{"COPRI":"$copri","COUNTY":${Json.str(county)},""" +
        s""""CITY":${Json.str(city)}},"geometry":$geom}"""

    cells.indices.foreach { k =>
      val (c, r) = cells(k)
      val county = s"${countyOf(k)} County"
      val code = f"${k + 1}%02d"
      val ring = closed(countyRing(c, r))
      if (consolidated(k)) {
        val city = countyOf(k)
        cityCounty(city) = county
        cityCopri(city) = s"${code}001"
        features += feature(s"${code}001", county, city, polygon(Seq(ring)))
      } else {
        val slots = rnd.shuffle((0 until SlotsPerSide * SlotsPerSide).toIndexedSeq)
        val n = perCounty(k)
        // a bay county keeps its last slot free for the bay
        val free = slots.size - n - (if (bayCounties(k)) 1 else 0)
        val twoPiece = (0 until n).filter(_ => rnd.nextDouble() < 0.15).take(free).toSet
        var s = 0
        val holes = mutable.ArrayBuffer.empty[IndexedSeq[(Double, Double)]]
        (0 until n).foreach { ci =>
          val city =
            if (adjustedLeft.nonEmpty && rnd.nextDouble() < 0.1) {
              val a = adjustedLeft.head; adjustedLeft = adjustedLeft.tail; a
            } else names.next()
          val copri = f"$code${ci + 1}%03d"
          cityCounty(city) = county
          cityCopri(city) = copri
          val pieces = if (twoPiece(ci)) 2 else 1
          (0 until pieces).foreach { _ =>
            val cr = cityRing(c, r, slots(s), cityVertices, rnd)
            s += 1
            holes += cr.reverse
            features += feature(copri, county, city, polygon(Seq(closed(cr))))
          }
        }
        if (bayCounties(k)) bayRings += slotBox(c, r, slots.last, 0.02)
        features += feature(s"${code}000", county, "Unincorporated",
          polygon(ring +: holes.map(closed).toSeq))
      }
    }
    // any adjusted names not yet placed replace ordinary city names
    adjustedLeft.foreach { a =>
      val victim = cityCounty.keys.find(n => !adjusted.contains(n) &&
        !consolidated.exists(k => countyOf(k) == n)).get
      val (county, copri) = (cityCounty(victim), cityCopri(victim))
      cityCounty.remove(victim); cityCopri.remove(victim)
      cityCounty(a) = county; cityCopri(a) = copri
      val from = s""""CITY":${Json.str(victim)}}"""
      val to = s""""CITY":${Json.str(a)}}"""
      features.indices.foreach(i => if (features(i).contains(from))
        features(i) = features(i).replace(from, to))
    }

    val cdtfa = rnd.shuffle(features.toIndexedSeq)

    // coastline: ocean west of the first column's inner boxes, bays,
    // and land pieces the exclusion filter drops
    val oceanEast = Lon0 + 0.16
    def coast(kind: String, ring: IndexedSeq[(Double, Double)]): String =
      s"""{"type":"Feature","properties":{"OFFSHORE":"$kind"},"geometry":${
        rings(Seq(closed(ring)))}}"""
    val coastFeatures = (
      coast("ocean", IndexedSeq((-126.0, 32.0), (oceanEast, 32.0), (oceanEast, 42.0), (-126.0, 42.0))) +:
        bayRings.map(coast("bay", _)).toIndexedSeq) ++
      Seq(coast("land", slotBox(3, 3, 5, 0.0)), coast("land", slotBox(4, 2, 9, 0.0)))

    // attribute tables, with planted misses among ordinary cities
    val plain = cityCounty.keys.filterNot(n => adjusted.contains(n) ||
      consolidated.exists(k => countyOf(k) == n)).toIndexedSeq
    val picks = rnd.shuffle(plain).take(3 * Misses)
    val gnisMiss = picks.take(Misses).toSet
    val censusMiss = picks.slice(Misses, 2 * Misses).toSet
    val dlaMiss = picks.slice(2 * Misses, 3 * Misses).toSet
    val countyCode = cells.indices.map(k => s"${countyOf(k)} County" -> f"${2 * k + 1}%03d").toMap
    val towns = cityCounty.keys.filter(_ => rnd.nextDouble() < 0.1).toSet -- adjusted

    val gnis = new StringBuilder(
      "feature_id|feature_name|feature_class|census_code|census_class_code|gsa_code|" +
        "opm_code|state_name|state_numeric|county_sequence|county_name|county_numeric|" +
        "date_created|date_edited|bgn_type|bgn_authority|bgn_date|prim_lat_dms|" +
        "prim_long_dms|prim_lat_dec|prim_long_dec\n")
    var fid = 1000L
    def gnisRow(name: String, cls: String, state: String, fclass: String, county: String): Unit = {
      fid += 1
      gnis ++= s"$fid|$name|$fclass|0000|$cls|||$state|06|1|$county|" +
        s"${countyCode.getOrElse(county, "001")}|01/19/1981|03/01/2008|||||400300N|1232530W|40.05|-123.425\n"
    }
    countyCode.keys.toSeq.sorted.foreach(cn => gnisRow(cn, "H1", "California", "Civil", cn))
    cityCounty.foreach { case (city, county) =>
      if (!gnisMiss(city)) {
        val name = Adjusted.find(_._1 == city).map(_._2)
          .getOrElse(s"${if (towns(city)) "Town" else "City"} of $city")
        gnisRow(name, "C1", "California", "Civil", county)
      }
    }
    // decoys: another state, another feature class
    gnisRow(s"City of ${cityCounty.keys.head}", "C1", "Nevada", "Civil", "Washoe County")
    gnisRow(s"City of ${cityCounty.keys.last}", "C1", "California", "Populated Place",
      cityCounty.values.last)

    val census = new StringBuilder(
      "State FIPS Code,County FIPS Code,County Subdivision FIPS Code,Place FIPS Code," +
        "Consolidated City FIPS Code,Area Name\n")
    census ++= "06,000,00000,00000,00000,California\n"
    countyCode.toSeq.sortBy(_._2).foreach { case (cn, cc) =>
      census ++= s"06,$cc,00000,00000,00000,$cn\n"
    }
    var place = 100
    cityCounty.foreach { case (city, county) =>
      place += 7
      if (!censusMiss(city)) {
        val area = Adjusted.find(_._1 == city).map(_._3)
          .getOrElse(s"$city ${if (towns(city)) "town" else "city"}")
        census ++= f"06,${countyCode(county)},00000,$place%05d,00000,$area\n"
      }
    }
    census ++= "32,031,00000,12345,00000,Reno city\n"
    census ++= "06,,,,,Unknown place\n06,,,,,Unknown place\n"

    val dla = new StringBuilder("CENSUS_PLACE_NAME,CDT_CITY_ABBR,CDT_COUNTY_ABBR\n")
    countyCode.keys.toSeq.sorted.foreach(cn =>
      dla ++= s"$cn,,${cn.filter(_.isLetter).take(3).toUpperCase}\n")
    cityCounty.foreach { case (city, county) =>
      if (!dlaMiss(city))
        dla ++= s"$city,${city.filter(_.isLetter).take(4).toUpperCase},${
          county.filter(_.isLetter).take(3).toUpperCase}\n"
    }

    val oceanCounties = cells.count(_._1 == 0)
    val counties = Counties
    val truth = Truth(
      records = cdtfa.size,
      cities = cityCounty.size,
      counties = counties,
      copriCounties = counties - Consolidated,
      consolidated = Consolidated,
      oceanCounties = oceanCounties,
      bays = bayRings.size,
      publishedRows = cityCounty.size + counties + oceanCounties + bayRings.size,
      unincorporatedRows = counties - Consolidated + oceanCounties + bayRings.size,
      gnisMisses = gnisMiss, censusMisses = censusMiss, dlaMisses = dlaMiss,
      cityCounty = cityCounty.toMap,
      inputVertices = vertices)
    Inputs(cdtfa, coastFeatures, gnis.toString, census.toString, dla.toString, truth)
  }

  private def closed(r: IndexedSeq[(Double, Double)]) =
    if (r.head == r.last) r else r :+ r.head

  private def rings(rs: Seq[IndexedSeq[(Double, Double)]]): String =
    rs.map(ring => ring.map { case (x, y) => f"[$x%.7f,$y%.7f]" }.mkString("[", ",", "]"))
      .mkString("""{"type":"Polygon","coordinates":[""", ",", "]}")

  private def slotOrigin(c: Int, r: Int, slot: Int): (Double, Double) =
    (Lon0 + c + Inner + (slot % SlotsPerSide) * Slot,
      Lat0 + r + Inner + (slot / SlotsPerSide) * Slot)

  private def slotBox(c: Int, r: Int, slot: Int, margin: Double): IndexedSeq[(Double, Double)] = {
    val (x, y) = slotOrigin(c, r, slot)
    IndexedSeq((x + margin, y + margin), (x + Slot - margin, y + margin),
      (x + Slot - margin, y + Slot - margin), (x + margin, y + Slot - margin))
  }

  /** A star-shaped (hence simple) counter-clockwise ring in one slot. */
  private def cityRing(c: Int, r: Int, slot: Int, n: Int, rnd: Random): IndexedSeq[(Double, Double)] = {
    val (x, y) = slotOrigin(c, r, slot)
    val (cx, cy) = (x + Slot / 2 + (rnd.nextDouble() - 0.5) * 0.02,
      y + Slot / 2 + (rnd.nextDouble() - 0.5) * 0.02)
    val radius = 0.045 + rnd.nextDouble() * 0.012
    (0 until n).map { i =>
      val a = 2 * math.Pi * i / n
      val rr = radius * (0.85 + 0.15 * rnd.nextDouble())
      (cx + rr * math.cos(a), cy + rr * math.sin(a))
    }
  }

  /** Unique pronounceable place names. */
  private final class Names(rnd: Random) {
    private val syl = Seq("al", "ba", "co", "da", "el", "fa", "go", "ha", "in", "jo",
      "ka", "lo", "ma", "ne", "or", "pa", "ri", "sa", "to", "ul", "va", "wi", "ya", "zo",
      "ber", "cas", "del", "mon", "ros", "ter", "vin", "lar")
    private val seen = mutable.Set("Unincorporated", "San Francisco", "Paso Robles",
      "Ventura", "St. Helena", "California")
    def next(): String = {
      var n = ""
      while (n.isEmpty || seen(n)) {
        val k = 2 + rnd.nextInt(3)
        val s = (0 until k).map(_ => syl(rnd.nextInt(syl.size))).mkString
        n = s.head.toUpper + s.tail
      }
      seen += n
      n
    }
  }
}
