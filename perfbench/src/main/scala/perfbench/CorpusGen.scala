package perfbench

import scala.collection.mutable
import scala.util.Random

/** A seeded document corpus for the curation chain, with planted truth.
  *
  * Word choice mixes the vocabulary of the sf tables' `documents.parquet`
  * (the head), the stop words the Gopher rules count, and a seeded tail
  * of pseudo-words: `documents.parquet` alone has a few dozen words,
  * which makes every pair of documents share most character 5-grams and
  * turns MinHash LSH into an all-pairs join. Planted structure:
  *   - exact duplicate groups (copies differ only in case and trailing
  *     whitespace, which `Dedup.contentKey` normalizes);
  *   - near-duplicate clusters (variants substitute two words, keeping
  *     character 5-gram Jaccard near 0.9);
  *   - boilerplate paragraphs appended to a share of documents;
  *   - low-quality documents (too short, or symbol-heavy) the Gopher
  *     rules drop;
  *   - documents carrying a 12-word span of a held-out eval document.
  * Ids are shuffled, so a group's survivor (its minimum id) is not
  * always its original. The contaminated set is computed exactly
  * (every document sharing a token 8-gram with the eval set), so it
  * also holds any accidental overlap.
  */
object CorpusGen {

  final case class Inputs(
      docs: IndexedSeq[(Long, String)],
      eval: IndexedSeq[(Long, String)],
      truth: Truth)

  final case class Truth(
      docs: Int,
      exactGroups: Seq[Seq[Long]],
      nearDupClusters: Seq[Seq[Long]],
      lowQuality: Set[Long],
      contaminated: Set[Long],
      boilerplateDocs: Int,
      recallBound: Double) {
    def exactRemoved: Set[Long] = exactGroups.flatMap(g => g.filterNot(_ == g.min)).toSet
    def nearDupRemoved: Set[Long] = nearDupClusters.flatMap(g => g.filterNot(_ == g.min)).toSet
    /** Documents the chain must keep whatever the LSH recall. */
    def mustKeep(all: Iterable[Long]): Set[Long] = {
      val out = exactRemoved ++ nearDupClusters.flatten ++ lowQuality ++ contaminated
      all.filterNot(out).toSet ++ nearDupClusters.map(_.min).filterNot(id =>
        lowQuality(id) || contaminated(id))
    }
  }

  val StopWords: Seq[String] = Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val NgramN = 8

  def generate(seed: Long, baseDocs: Int, head: Seq[String], evalDocs: Int = 300): Inputs = {
    val rnd = new Random(seed)
    val syl = Seq("ka", "ri", "mo", "te", "sa", "lu", "ne", "po", "vi", "da", "go", "zu",
      "fe", "hi", "jo", "ba", "ren", "tal", "mis", "dor", "qua", "bel", "str", "ven")
    val tail = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < 20000)
        seen += (0 until 2 + rnd.nextInt(3)).map(_ => syl(rnd.nextInt(syl.size))).mkString
      seen.toIndexedSeq
    }
    val headWords = head.distinct.sorted.toIndexedSeq
    def word(): String = {
      val u = rnd.nextDouble()
      if (u < 0.2) headWords(rnd.nextInt(headWords.size))
      else if (u < 0.3) StopWords(rnd.nextInt(StopWords.size))
      else tail((math.pow(rnd.nextDouble(), 1.5) * tail.size).toInt)
    }
    def words(n: Int): Array[String] = {
      val w = Array.fill(n)(word())
      // at least two distinct stop words, the Gopher minimum
      val i = rnd.nextInt(n)
      w(i) = "the"
      w((i + 1 + rnd.nextInt(n - 1)) % n) = "and"
      w
    }
    val boiler = IndexedSeq.fill(20)(words(25).mkString(" "))
    val evalText = IndexedSeq.fill(evalDocs)(words(60 + rnd.nextInt(60)))

    // base documents: (group kind, words)
    val texts = mutable.ArrayBuffer.empty[String]
    val exactGroups = mutable.ArrayBuffer.empty[Seq[Int]]
    val clusters = mutable.ArrayBuffer.empty[Seq[Int]]
    val lowQ = mutable.ArrayBuffer.empty[Int]
    var boilerDocs = 0
    def body(): Array[String] = words(70 + rnd.nextInt(70))
    def withBoiler(w: Array[String]): String = {
      val t = w.mkString(" ")
      if (rnd.nextDouble() < 0.3) { boilerDocs += 1; t + " " + boiler(rnd.nextInt(boiler.size)) }
      else t
    }
    (0 until baseDocs).foreach { _ =>
      val u = rnd.nextDouble()
      if (u < 0.02) { // exact duplicate group
        val t = withBoiler(body())
        val copies = 1 + rnd.nextInt(3)
        val ids = (0 to copies).map { c =>
          texts += (if (c == 0) t else if (c % 2 == 1) t.capitalize + "  " else " " + t.toUpperCase)
          texts.size - 1
        }
        exactGroups += ids
      } else if (u < 0.05) { // near-duplicate cluster
        val w = body()
        val suffix = if (rnd.nextDouble() < 0.3) " " + boiler(rnd.nextInt(boiler.size)) else ""
        val variants = 1 + rnd.nextInt(4)
        val ids = (0 to variants).map { v =>
          val vw = w.clone()
          if (v > 0) (0 until 2).foreach(_ =>
            vw(1 + rnd.nextInt(vw.length - 2)) = tail(rnd.nextInt(tail.size)))
          texts += vw.mkString(" ") + suffix
          texts.size - 1
        }
        clusters += ids
      } else if (u < 0.06) { // low quality: too short or symbol-heavy
        val t =
          if (rnd.nextBoolean()) words(10 + rnd.nextInt(30)).mkString(" ")
          else body().map(w => if (rnd.nextDouble() < 0.3) "#" + w else w).mkString(" ")
        texts += t
        lowQ += texts.size - 1
      } else if (u < 0.065) { // contaminated: a 12-word span of an eval doc
        val w = body()
        val e = evalText(rnd.nextInt(evalText.size))
        val at = rnd.nextInt(e.length - 12)
        texts += (w.take(w.length / 2) ++ e.slice(at, at + 12) ++ w.drop(w.length / 2)).mkString(" ")
      } else texts += withBoiler(body())
    }

    // shuffled ids
    val perm = rnd.shuffle(texts.indices.toIndexedSeq)
    val idOf = new Array[Long](texts.size)
    perm.zipWithIndex.foreach { case (i, id) => idOf(i) = id.toLong }
    val docs = texts.indices.map(i => (idOf(i), texts(i))).sortBy(_._1)
    val eval = evalText.indices.map(i => (i.toLong, evalText(i).mkString(" ")))

    // exact contamination: any shared token 8-gram with the eval set
    def grams(t: String): Iterator[String] = {
      val tok = t.trim.toLowerCase.split("\\s+")
      tok.sliding(NgramN).filter(_.length == NgramN).map(_.mkString(" "))
    }
    val evalGrams = eval.iterator.flatMap(e => grams(e._2)).toSet
    val contaminated = docs.iterator.collect {
      case (id, t) if grams(t).exists(evalGrams) => id
    }.toSet

    Inputs(docs, eval, Truth(
      docs = docs.size,
      exactGroups = exactGroups.map(_.map(idOf(_))).toSeq,
      nearDupClusters = clusters.map(_.map(idOf(_))).toSeq,
      lowQuality = lowQ.map(idOf(_)).toSet,
      contaminated = contaminated,
      boilerplateDocs = boilerDocs,
      recallBound = 0.95))
  }
}
