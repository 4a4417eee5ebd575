package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The workload generators are pure functions of the seed, and the
  * truth they report matches what they planted.
  */
class GeneratorSpec extends AnyFunSuite {

  private val head = Seq("join", "hash", "row", "batch", "scan", "column", "filter",
    "table", "data", "agg", "key", "stream", "a", "the")

  private def prop(feature: String, key: String): String =
    s""""$key":"([^"]*)"""".r.findFirstMatchIn(feature).map(_.group(1)).orNull

  test("bunnyhop inputs: same seed gives byte-identical inputs") {
    assert(BunnyGen.generate(7) == BunnyGen.generate(7))
  }

  test("bunnyhop inputs: a different seed gives different inputs") {
    val (a, b) = (BunnyGen.generate(7), BunnyGen.generate(8))
    assert(a.cdtfaFeatures != b.cdtfaFeatures)
    assert(a.gnis != b.gnis)
  }

  test("bunnyhop inputs: planted counts match the reported truth") {
    val in = BunnyGen.generate(11)
    val t = in.truth
    val f = in.cdtfaFeatures
    assert(t.records == f.size && t.records >= 500)
    val cities = f.map(prop(_, "CITY")).filter(_ != "Unincorporated").toSet
    assert(cities.size == t.cities && t.cities == BunnyGen.Cities)
    assert(cities == t.cityCounty.keySet)
    assert(f.map(prop(_, "COUNTY")).toSet.size == t.counties)
    assert(f.count(prop(_, "CITY") == "Unincorporated") == t.copriCounties)
    assert(t.copriCounties == t.counties - t.consolidated)
    assert(Seq("Paso Robles", "Ventura", "St. Helena", "California", "San Francisco")
      .forall(cities))
    val kinds = in.coastFeatures.map(prop(_, "OFFSHORE"))
    assert(kinds.count(_ == "ocean") == 1 && kinds.count(_ == "bay") == t.bays &&
      kinds.count(_ == "land") == 2)
    assert(t.publishedRows == t.cities + t.counties + t.oceanCounties + t.bays)
    assert(t.unincorporatedRows == t.copriCounties + t.oceanCounties + t.bays)
    // planted misses: absent from their table, present in the others
    val gnisNames = in.gnis.linesIterator.drop(1).map(_.split('|')(1)).toSet
    val censusNames = in.census.linesIterator.drop(1).map(_.split(',').last).toSet
    val dlaNames = in.dla.linesIterator.drop(1).map(_.split(',')(0)).toSet
    assert(Seq(t.gnisMisses, t.censusMisses, t.dlaMisses).forall(_.size == BunnyGen.Misses))
    assert(t.gnisMisses.forall(c => !gnisNames.exists(_.endsWith(s"of $c"))))
    assert(t.censusMisses.forall(c => !censusNames(s"$c city") && !censusNames(s"$c town")))
    assert(t.dlaMisses.forall(c => !dlaNames(c)))
    val planted = t.gnisMisses ++ t.censusMisses ++ t.dlaMisses
    assert(planted.size == 3 * BunnyGen.Misses)
    assert((t.cityCounty.keySet -- planted -- Set("Paso Robles", "Ventura", "St. Helena",
      "California")).forall(dlaNames))
  }

  test("corpus: same seed gives byte-identical inputs") {
    assert(CorpusGen.generate(3, 2000, head) == CorpusGen.generate(3, 2000, head))
  }

  test("corpus: a different seed gives different inputs") {
    assert(CorpusGen.generate(3, 2000, head).docs != CorpusGen.generate(4, 2000, head).docs)
  }

  test("corpus: planted counts match the reported truth") {
    val in = CorpusGen.generate(5, 4000, head)
    val t = in.truth
    val text = in.docs.toMap
    assert(t.docs == in.docs.size && in.docs.map(_._1) == in.docs.indices.map(_.toLong))
    assert(t.exactGroups.nonEmpty && t.nearDupClusters.nonEmpty && t.lowQuality.nonEmpty)
    // exact groups share one normalized content key and nothing else does
    def key(id: Long) = text(id).trim.toLowerCase
    assert(t.exactGroups.forall(g => g.map(key).distinct.size == 1))
    val keys = in.docs.map { case (id, _) => key(id) }
    assert(keys.size - keys.distinct.size == t.exactRemoved.size)
    // near-duplicate variants differ from their cluster's original in
    // at most two words
    t.nearDupClusters.foreach { g =>
      val base = text(g.head).split(" ")
      g.tail.foreach { v =>
        val w = text(v).split(" ")
        assert(w.length == base.length && w.zip(base).count { case (a, b) => a != b } <= 2)
      }
    }
    // every planted contamination shares an 8-gram with some eval doc
    val evalGrams = in.eval.flatMap(_._2.split(" ").sliding(8).map(_.mkString(" "))).toSet
    assert(t.contaminated.nonEmpty && t.contaminated.forall(id =>
      text(id).toLowerCase.split(" ").sliding(8).exists(g => evalGrams(g.mkString(" ")))))
    assert(t.recallBound > 0 && t.recallBound <= 1)
  }
}
