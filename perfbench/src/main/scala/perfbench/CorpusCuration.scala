package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.CacheLifecycle
import graft.operators.{Decontaminate, Dedup, HashSplit, TextAnalysis}
import graft.sources.Writers

/** The corpus-curation chain, run by the traced `declared_sweep` so the
  * `functions` kernels and the dedup `operators` are measured on some
  * declared workload. It runs over a seeded corpus ([[CorpusGen]]) and
  * calls the operators directly (no declared entry, so no entry memo
  * can serve a pass): `Dedup.exact` → `minhashCandidates` →
  * `ngramJaccard` → `connectedComponents` (one survivor per cluster) →
  * Gopher quality rules → `Decontaminate.removeContaminated` →
  * `HashSplit.assign` → `Writers.writeParquet`. Inputs are read from
  * parquet each pass.
  *
  * Each step is materialized (persist + count) inside its span, and
  * three projection-only noop passes over the corpus time the
  * `functions` kernels (MinHash signature, shingle hashes, SimHash).
  */
final class CorpusCuration(ctx: Ctx) {
  import ctx._
  import CorpusCuration._

  private var in: CorpusGen.Inputs = _
  private val docsPath = path("corpus/docs.parquet")
  private val evalPath = path("corpus/eval.parquet")
  private val outPath = path("corpus/curated.parquet")
  private var lastComponents: Array[org.apache.spark.sql.Row] = Array.empty
  private var pairCounts = (0.0, 0.0)

  /** Generate the corpus from the seed (head words from the sf tables'
    * `documents.parquet`) and write it where the chain reads it.
    */
  def prepare(): Unit = {
    import spark.implicits._
    val vocabulary = spark.read.parquet(s"${o.data}/documents.parquet")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0).distinct().collect().map(_.getString(0)).toSeq.sorted
    in = CorpusGen.generate(o.seed, BaseDocs, vocabulary)
    val parts = spark.sparkContext.defaultParallelism
    spark.createDataset(in.docs).toDF("id", "text").repartition(parts)
      .write.mode("overwrite").parquet(docsPath)
    spark.createDataset(in.eval).toDF("id", "text").coalesce(1)
      .write.mode("overwrite").parquet(evalPath)
  }

  /** One pass of the chain under attribution key `key`. */
  def run(key: String): Unit = {
    tr.at(key)
    chain()
    CacheLifecycle.release(spark)
  }

  private def step(name: String)(df: => DataFrame): DataFrame = tr.span(name)(force(df))

  private def chain(): Unit = {
    val raw = spark.read.parquet(docsPath)
    val eval = spark.read.parquet(evalPath)
    val exact = step("operators.exact_dedup")(Dedup.exact(raw, "text", "id"))
    val cands = step("operators.candidates")(
      Dedup.minhashCandidates(exact, "id", "text", NumHashes, Bands, ShingleK))
    val verified = step("operators.verify")(
      Dedup.ngramJaccard(exact, "id", "text",
        cands.filter(col("est_jaccard") >= Threshold - 0.15), ShingleK)
        .filter(col("jaccard") >= Threshold))
    val comps = tr.span("operators.components")(Dedup.connectedComponents(verified, "a", "b"))
    val survivors = exact.join(comps, Seq("id"), "left")
      .filter(col("component").isNull || col("component") === col("id"))
      .drop("component")
    val quality = step("operators.quality")(survivors.filter(
      TextAnalysis.gopherKeep(TextAnalysis.gopherFlags(col("text")))))
    val clean = step("operators.decontaminate")(
      Decontaminate.removeContaminated(quality, eval, "id", "text", CorpusGen.NgramN))
    tr.span("sources.parquet_write")(
      Writers.writeParquet(HashSplit.assign(clean, "id"), outPath))
    lastComponents = comps.collect()
    pairCounts = (cands.count().toDouble, verified.count().toDouble)
    tr.span("functions.minhash")(noop(raw.select(
      Dedup.minhashSignature(col("text"), NumHashes, ShingleK))))
    tr.span("functions.shingle")(noop(raw.select(Dedup.shingleHashes(col("text"), ShingleK))))
    tr.span("functions.simhash")(noop(raw.select(Dedup.simhash(col("text")))))
  }

  private def recall(): Double = {
    val comp = lastComponents.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = in.truth.nearDupClusters.flatMap(g => g.tail.map(v => (g.head, v)))
    if (pairs.isEmpty) 1.0
    else pairs.count { case (a, b) => comp.get(a).exists(comp.get(b).contains) }.toDouble / pairs.size
  }

  def checks(): Seq[Check] = {
    val t = in.truth
    val all = in.docs.map(_._1)
    val exactIds = Dedup.exact(spark.read.parquet(docsPath), "text", "id")
      .select("id").collect().map(_.getLong(0)).toSet
    val out = spark.read.parquet(outPath).select("id", "split").collect()
    val outIds = out.map(_.getLong(0)).toSet
    val must = t.mustKeep(all)
    val banned = t.exactRemoved ++ t.lowQuality ++ t.contaminated
    val r = recall()
    Seq(
      Check("corpus/exact_dedup", exactIds == all.toSet -- t.exactRemoved,
        s"${all.size - exactIds.size} removed, ${t.exactRemoved.size} planted"),
      Check("corpus/neardup_recall", r >= t.recallBound, f"recall $r%.4f, bound ${t.recallBound}"),
      Check("corpus/keeps_clean", must.subsetOf(outIds),
        s"${(must -- outIds).size} clean documents lost"),
      Check("corpus/removes_planted", (outIds intersect banned).isEmpty &&
        (outIds -- must).subsetOf(t.nearDupRemoved),
        s"${(outIds intersect banned).size} planted removals kept"),
      Check("corpus/split_assigned", out.forall(r => r.getString(1) != null),
        s"${out.length} rows"))
  }

  def layerMetrics: Map[String, Double] = Map(
    "operators.candidate_pairs" -> pairCounts._1,
    "operators.verified_pairs" -> pairCounts._2,
    "operators.candidate_yield" -> (if (pairCounts._1 > 0) pairCounts._2 / pairCounts._1 else 0.0),
    "operators.neardup_recall" -> recall())
}

object CorpusCuration {
  val BaseDocs = 4000
  val NumHashes = 64
  val Bands = 16
  val ShingleK = 5
  val Threshold = 0.8
}
