package perfbench

import scala.collection.mutable

import graft.SparkEntry

/** `declared_sweep`: a fixed sample of the declared `SparkEntry.queries`
  * entries on the bundled sf0.01 tables, each run to completion through
  * the noop sink. The seed permutes the entry order. The cold unit is
  * the process's first pass, right after `CacheLifecycle.release` +
  * `clearCache`; warm units repeat the same calls in the same session,
  * so memos serve.
  *
  * The sample ([[Entries]]) spans every family: memo-served extension
  * entries, streaming entries, read-only scans, spatial and pipeline
  * entries. The whole 151-entry sweep does not fit a run's time budget:
  * an entry's first execution in a fresh JVM costs seconds. After the
  * timed units the entries of [[oracleEntries]] write their output
  * once, for the caller's DuckDB oracle and golden-hash compare.
  *
  * A traced run also times each entry's `count()` and then runs the
  * corpus-curation chain ([[CorpusCuration]]) twice, for the
  * `functions` and dedup `operators` layers no entry reaches unmemoized;
  * its per-layer numbers are those of the second pass.
  */
final class DeclaredSweep(ctx: Ctx) extends Workload {
  import ctx._
  import DeclaredSweep._

  private val order: Seq[String] = new scala.util.Random(o.seed).shuffle(Entries)
  private val walls = mutable.Map.empty[(String, String), Double]
  private val countWalls = mutable.Map.empty[String, Double]
  private lazy val curation = new CorpusCuration(ctx)

  override def minWarmUnits: Int = 5

  def generate(): Unit = {
    val missing = (Entries ++ Pinned).filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown entries: ${missing.mkString(", ")}")
  }

  def prepare(): Unit = tr.span("session.table_load")(
    graft.Tables.names.foreach(graft.Tables.load(spark, o.data, _)))

  def unit(key: String): Unit = order.foreach { n =>
    tr.at(s"$key/$n")
    // a streaming entry runs its query to completion while building the
    // frame it returns; a batch entry only plans there
    walls((key, n)) = attempt(s"$key/$n") {
      val df = tr.span(if (isStreaming(n)) "streaming.run" else "planning.build")(
        SparkEntry.queries(n)(spark, o.data))
      tr.span("exec.noop")(noop(df))
    }
  }

  def checks(): Seq[Check] = {
    if (o.trace)
      order.foreach(n => countWalls(n) =
        Ctx.timed(SparkEntry.queries(n)(spark, o.data).count())._2)
    val out = o.out.resolve("oracle")
    java.nio.file.Files.createDirectories(out)
    val results = oracleEntries.map { n =>
      n -> scala.util.Try(SparkEntry.queries(n)(spark, o.data).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(n).toString))
    }
    java.nio.file.Files.writeString(out.resolve("oracle_sql.json"),
      Json.value(oracleEntries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
    results.map { case (n, r) =>
      Check(s"output/$n", r.isSuccess, r.failed.map(_.toString).getOrElse(""))
    } ++ (if (o.trace) curationChecks() else Nil)
  }

  private def curationChecks(): Seq[Check] =
    scala.util.Try {
      curation.prepare()
      Seq("curation0", CurationKey).foreach(curation.run)
      tr.at("checks")
    }.fold(e => Seq(Check("corpus/ran", ok = false, e.toString)), _ => curation.checks())

  /** Every timed entry, plus one of the golden-pinned entries outside
    * the sample, chosen by the seed (ten consecutive seeds cover them all).
    */
  override def oracleEntries: Seq[String] = {
    val rest = Pinned.filterNot(Entries.contains)
    Entries :+ rest(Math.floorMod(o.seed, rest.size.toLong).toInt)
  }

  private def wall(keys: Seq[String], n: String): Double =
    Main.median(keys.flatMap(k => walls.get((k, n))))

  override def layerMetrics(warmKeys: Seq[String]): Map[String, Double] = {
    val batch = Entries.filterNot(isStreaming).map(wall(warmKeys, _))
    val stream = Entries.filter(isStreaming).map(wall(warmKeys, _))
    val trigger = Main.median(warmKeys.map(k => tr.sum("streaming.trigger_s", Ctx.within(k))))
    Map(
      "queries.batch_p50_s" -> Main.median(batch),
      "queries.batch_p90_s" -> Main.percentile(batch, 0.9),
      "queries.stream_p50_s" -> Main.median(stream),
      "queries.count_pruned" -> countPruned(warmKeys).size.toDouble,
      "streaming.lifecycle_s" -> math.max(0.0, stream.sum - trigger),
      "cache.memo_served_entries" -> memoServed(warmKeys).size.toDouble) ++
      curationMetrics
  }

  private def curationMetrics: Map[String, Double] = {
    val spans = tr.spanSeconds(Ctx.within(CurationKey))
    CurationSpans.map(n => s"${n}_s" -> spans.getOrElse(n, 0.0)).toMap ++
      scala.util.Try(curation.layerMetrics).getOrElse(Map.empty)
  }

  /** Entries whose noop wall exceeds twice their `count()` wall:
    * Catalyst prunes work under `count()`.
    */
  private def countPruned(warmKeys: Seq[String]): Seq[String] =
    Entries.filter(n => countWalls.get(n).exists(c => wall(warmKeys, n) > 2 * c))

  /** Entries whose warm task-CPU is under a tenth of their cold
    * task-CPU: a memo or cache served the warm call.
    */
  private def memoServed(warmKeys: Seq[String]): Seq[String] = Entries.filter { n =>
    val cold = tr.sum("exec.task_cpu_s", _ == s"cold/$n")
    val warm = Main.median(warmKeys.map(k => tr.sum("exec.task_cpu_s", _ == s"$k/$n")))
    cold > 0 && warm < cold / 10
  }

  override def report(warmKeys: Seq[String]): Map[String, Any] = Map(
    "curation_layer_self_s" -> (if (o.trace) tr.layerSelfSeconds(Ctx.within(CurationKey)) else Map.empty),
    "memo_served_entries" -> memoServed(warmKeys),
    "count_pruned_entries" -> countPruned(warmKeys),
    "entry_walls_s" -> Entries.map(n => n -> Map(
      "cold" -> wall(Seq("cold"), n), "warm" -> wall(warmKeys, n),
      "count" -> countWalls.getOrElse(n, Double.NaN))).toMap)
}

object DeclaredSweep {
  /** The attribution key of the curation pass whose numbers are reported. */
  val CurationKey = "curation1"

  val CurationSpans: Seq[String] = Seq("operators.exact_dedup", "operators.candidates",
    "operators.verify", "operators.components", "operators.quality",
    "operators.decontaminate", "functions.minhash", "functions.shingle",
    "functions.simhash", "sources.parquet_write")

  /** Streaming membership, the engine's own naming rule. */
  def isStreaming(name: String): Boolean =
    name.contains("streaming") ||
      Set("x93_session_window", "x95_tws_sessionize", "x99_tws_bootstrap")(name)

  /** The 13 entries pinned to sf0.01 goldens. */
  val Pinned: Seq[String] = Seq("x03_minhash_neardup", "x04_ngram_jaccard",
    "x05_simhash", "x06_embedding_neardup", "x08_ann_lsh", "x16_clean_corpus",
    "x17_winnowing", "x35_embedding_neardup_banded", "x36_ann_lsh_layout",
    "x47_ann_pq", "x48_ann_ivfpq", "x70_semdedup", "x101_semdedup_layout")

  /** The timed sample. */
  val Entries: Seq[String] = Seq(
    // memo-served extension entries (MinHash, SimHash and SemDeDup kernels)
    "x03_minhash_neardup", "x05_simhash", "x70_semdedup",
    // streaming lifecycle
    "x53_streaming_topk", "x54_streaming_hourly",
    // read-only scans and planning-bound batch entries
    "q01", "q22_except", "x42_hash_split",
    // spatial join (memoized grid kNN)
    "g12_nearest_grid")
}
