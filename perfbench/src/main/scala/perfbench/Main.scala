package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CacheLifecycle, GraftSession}

/** One benchmark run: build a session, set up the named workload from
  * the seed, measure, and check the outputs. The cold unit is the
  * process's first unit of work, right after `CacheLifecycle.release` +
  * `clearCache` (JIT, codegen, caches and memos all cold — what a
  * scheduled batch run pays); warm units repeat it in the same session
  * until the requested seconds have passed. Results go to
  * `<out>/result.json`; a traced run also writes `<out>/spans.jsonl`.
  *
  * Usage: perfbench.Main --workload NAME --seed N --seconds S
  *   --trace 0|1 --data DIR --out DIR --start-ms EPOCH_MS
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: Path, startMs: Long)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("data"), Paths.get(req("out")),
      req("start-ms").toLong)
  }

  def main(args: Array[String]): Unit = {
    mainMs = System.currentTimeMillis()
    val o = parse(args)
    Files.createDirectories(o.out)
    val tr = new Trace(o.trace)
    val cpus = Runtime.getRuntime.availableProcessors()
    val (spark, buildS) = Ctx.timed(tr.span("session.build") {
      GraftSession.builder("perfbench")
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.warehouse.dir", o.out.resolve("warehouse").toString)
        .getOrCreate()
    })
    spark.sparkContext.setLogLevel("ERROR")
    tr.register(spark)
    val ctx = new Ctx(spark, tr, o)
    if (o.workload == "train") {
      try train(ctx) finally spark.stop()
      return
    }
    val wl: Workload = o.workload match {
      case "bunnyhop_state" => new BunnyHopState(ctx)
      case "declared_sweep" => new DeclaredSweep(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try run(ctx, wl, buildS) finally spark.stop()
  }

  private var mainMs = 0L

  /** The build's training run: load the classes every workload uses
    * (set-up and one unit each) for the class-data archive.
    */
  private def train(ctx: Ctx): Unit = {
    Speed.probe()
    Seq(new BunnyHopState(ctx), new DeclaredSweep(ctx)).foreach { wl =>
      wl.generate()
      wl.prepare()
      wl.unit("train")
    }
  }

  private def run(ctx: Ctx, wl: Workload, buildS: Double): Unit = {
    import ctx._
    // set-up: the in-memory input generation is repeated three times and
    // counts at its median; the rest (JVM, session, writing the inputs)
    // happens once and counts as measured
    val genS = (1 to 3).map(_ => Ctx.timed(wl.generate())._2)
    val prepS = Ctx.timed(wl.prepare())._2
    val setupS = (System.currentTimeMillis() - o.startMs) / 1e3 - genS.sum + median(genS)
    val setupCpuS = processCpuS()
    Speed.probe() // builds the probe's memory cycle and compiles its loop

    // cold: the first unit of the process, right after release +
    // clearCache; warm: the same unit repeated in the same session.
    // The machine's speed is probed before the first unit and after each.
    val releaseS = Ctx.timed(tr.span("cache.release") {
      CacheLifecycle.release(spark); spark.catalog.clearCache()
    })._2
    val probes = mutable.ArrayBuffer(Speed.probe())
    val cold = timedUnit(ctx, wl, "cold")
    probes += Speed.probe()
    val storage = storageMb(spark)
    val warm = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (warm.size < wl.minWarmUnits || ((System.nanoTime() - t0) / 1e9 < o.seconds && warm.size < 30)) {
      warm += timedUnit(ctx, wl, s"warm${warm.size}")
      probes += Speed.probe()
    }
    // the run's median probe: the host drifts over minutes, far more
    // between runs than within one, and one probe is noisier than many
    val probeWall = median(probes.map(_.wall).toSeq)
    val probeCpu = median(probes.map(_.cpu).toSeq)
    val warmKeys = warm.indices.map(i => s"warm$i")
    // the traced run's overhead: one more unit with spans and layer
    // barriers off (the listeners stay registered)
    val plainS = if (!o.trace) 0.0 else {
      tr.at("plain")
      tr.paused = true
      try attempt("plain")(wl.unit("plain")) finally tr.paused = false
    }
    // per-layer numbers are taken before the checks: a traced run's
    // checks do more work (count() walls, the corpus-curation chain)
    val layers = if (o.trace) layerMetrics(ctx, warmKeys, buildS, releaseS) else Map.empty
    tr.at("checks")
    val (checks, checksS) = Ctx.timed(wl.checks())
    checks.foreach { c =>
      attempted += 1
      if (!c.ok) failed += 1
      if (!c.ok) System.err.println(s"[perfbench] check failed: ${c.name}: ${c.detail}")
    }
    tr.at("done")

    // the cold unit is scored by the CPU it burns (all threads): its wall
    // is mostly first-execution work whose overlap with the 4 cores
    // varies more from process to process than its total does. Every
    // timing is scaled to the nominal machine speed (see Speed).
    val metrics = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS * Speed.NominalWall / probeWall,
      "cold_cpu_s" -> unitCpu("cold") * Speed.NominalCpu / probeCpu,
      "warm_s" -> median(warm.toSeq) * Speed.NominalWall / probeWall,
      "storage_mb" -> storage)
    val extra = mutable.LinkedHashMap[String, Any]()
    extra ++= wl.report(warmKeys)
    if (o.trace) {
      metrics ++= layers
      metrics ++= wl.layerMetrics(warmKeys)
      metrics("jvm.cold_wall_s") = cold
      metrics("jvm.speed_probe_s") = probeWall
      metrics("cache.warm_over_cold") = median(warm.toSeq) / cold
      metrics("trace.overhead_frac") = median(warm.toSeq) / plainS - 1
      tr.writeSpans(o.out.resolve("spans.jsonl"))
      extra("layer_self_s") = Map(
        "cold" -> tr.layerSelfSeconds(Ctx.within("cold")),
        "warm" -> tr.layerSelfSeconds(k => warmKeys.exists(Ctx.within(_)(k))).map {
          case (k, v) => k -> v / warmKeys.size })
    }
    val conditions = Seq(
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "seed" -> o.seed, "workload" -> o.workload, "data_dir" -> o.data,
      "warm_units" -> warm.size, "jvm_flags" -> java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.toArray.toSeq.map(_.toString)
        .filterNot(_.startsWith("--add-opens")),
      "spark" -> spark.version)
    val json = Json.obj(Seq(
      "attempted" -> attempted, "failed" -> failed,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "oracle_entries" -> wl.oracleEntries,
      "metrics" -> metrics.toMap, "conditions" -> conditions.toMap,
      "samples" -> Map("setup_s" -> setupS, "cold_s" -> cold, "warm_s" -> warm.toSeq,
        "unit_cpu_s" -> unitCpu.toMap,
        "speed_probe_wall_s" -> probes.map(_.wall).toSeq,
        "speed_probe_cpu_s" -> probes.map(_.cpu).toSeq, "setup_generate_s" -> genS,
        "setup_prepare_s" -> prepS, "setup_session_s" -> buildS,
        "setup_jvm_start_s" -> (mainMs - o.startMs) / 1e3, "setup_cpu_s" -> setupCpuS,
        "checks_s" -> checksS)) ++ extra.toSeq)
    Files.writeString(o.out.resolve("result.json"), json)
  }

  private def timedUnit(ctx: Ctx, wl: Workload, key: String): Double = {
    import ctx._
    tr.at(key)
    val t = System.currentTimeMillis()
    val c = processCpuS()
    val wall = attempt(key)(wl.unit(key))
    unitCpu(key) = processCpuS() - c
    units += ((key, t, System.currentTimeMillis()))
    wall
  }

  /** The per-layer numbers of a traced run: the median over warm units
    * of each unit's total. The workload adds its own ([[Workload.layerMetrics]]).
    */
  private def layerMetrics(ctx: Ctx, warmKeys: Seq[String], buildS: Double,
      releaseS: Double): Map[String, Double] = {
    import ctx._
    def perUnit(f: (String => Boolean) => Double): Double =
      median(warmKeys.map(k => f(Ctx.within(k))))
    val counters = Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.task_cpu_s",
      "exec.task_run_s", "exec.gc_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
      "exec.spill_mb", "exec.input_mb", "exec.output_mb", "planning.analysis_s",
      "planning.optimization_s", "planning.physical_s", "planning.plans",
      "plans.index_join_nodes", "plans.grid_join_nodes", "plans.spatial_join_rows",
      "plans.nested_loop_joins", "streaming.queries", "streaming.batches",
      "streaming.trigger_s", "streaming.commit_s", "streaming.state_rows")
    val m = mutable.LinkedHashMap[String, Double]()
    counters.foreach(c => m(c) = perUnit(sel => tr.sum(c, sel)))
    m("exec.idle_s") = median(units.toSeq.filter(u => warmKeys.contains(u._1)).map {
      case (k, a, b) => tr.idleSeconds(Ctx.within(k), a, b) })
    val spanNames = Seq("geom.makevalid", "geom.finalize", "operators.dissolve",
      "operators.overlay", "operators.erase", "operators.joinfield",
      "operators.exact_dedup", "operators.candidates", "operators.verify",
      "operators.components", "operators.quality", "operators.decontaminate",
      "functions.minhash", "functions.shingle", "functions.simhash",
      "sources.feature_parse", "sources.geojson_write", "sources.shapefile_write",
      "sources.manifest", "sources.parquet_write", "pipeline.census",
      "pipeline.gnis", "pipeline.quality_diff", "planning.build", "exec.noop",
      "streaming.run")
    spanNames.foreach(n => m(n + "_s") =
      perUnit(sel => tr.spanSeconds(sel).getOrElse(n, 0.0)))
    m("session.build_s") = buildS
    m("session.table_load_s") = tr.spanSeconds(_ == "setup").getOrElse("session.table_load", 0.0)
    m("cache.release_s") = releaseS
    m("cache.tracked_frames") = CacheLifecycle.trackedCount(spark).toDouble
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    m("jvm.gc_s") = scala.jdk.CollectionConverters.ListHasAsScala(gc).asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    m("jvm.jit_s") = if (jit != null) jit.getTotalCompilationTime / 1e3 else 0.0
    m("jvm.code_cache_mb") = scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans).asScala
      .filter(_.getName.startsWith("Code")).map(_.getUsage.getUsed).sum / Trace.MB
    // workload-specific numbers read 0 where the workload has no such layer
    Seq("cache.memo_served_entries", "geom.input_vertices", "geom.output_vertices",
      "operators.candidate_pairs", "operators.verified_pairs", "operators.candidate_yield",
      "operators.neardup_recall", "sources.feature_pages", "sources.bytes_written_mb",
      "pipeline.published_rows", "streaming.lifecycle_s", "queries.batch_p50_s",
      "queries.batch_p90_s", "queries.stream_p50_s", "queries.count_pruned")
      .foreach(k => m(k) = 0.0)
    m.toMap
  }

  private val unitCpu = mutable.Map.empty[String, Double]

  /** CPU seconds of every thread of this process (tasks, driver, JIT, GC). */
  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / Trace.MB

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile, `p` in (0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else xs.sorted.apply(math.max(0, math.ceil(p * xs.size).toInt - 1))
}

/** What a workload shares with the harness: the session, the tracer,
  * the options, and the attempted/failed tally of its operations.
  */
final class Ctx(val spark: SparkSession, val tr: Trace, val o: Main.Opts) {
  var attempted = 0L
  var failed = 0L
  /** (attribution key, start ms, end ms) of every timed unit. */
  val units = mutable.ArrayBuffer.empty[(String, Long, Long)]

  /** Run one operation, counting it; a failure is logged and counted,
    * never fatal to the run. Returns the wall seconds.
    */
  def attempt(what: String)(body: => Unit): Double = {
    attempted += 1
    val t = System.nanoTime()
    try body
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
    }
    (System.nanoTime() - t) / 1e9
  }

  /** Run `df` to completion through the noop sink: every row is
    * computed, nothing is kept (a `count()` lets Catalyst prune).
    */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Persist (tracked for `CacheLifecycle.release`) and materialize:
    * the traced run's barrier between two layer calls.
    */
  def force(df: DataFrame): DataFrame = {
    val p = CacheLifecycle.persist(df)
    p.count()
    p
  }

  def path(name: String): String = o.out.resolve(name).toString
}

object Ctx {
  /** Accepts the attribution keys of unit `key` and of its entries. */
  def within(key: String): String => Boolean = k => k == key || k.startsWith(key + "/")

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t) / 1e9)
  }
}

final case class Check(name: String, ok: Boolean, detail: String = "")

/** A benchmark workload. [[generate]] builds the inputs from the seed in
  * memory (deterministic; run three times during set-up), [[prepare]]
  * writes them where the unit reads them, and [[unit]] is the timed
  * unit of work, called with its attribution key (`cold`, `warm0`, …).
  */
trait Workload {
  /** Warm units run even past `--seconds`: the JIT is still settling in
    * the first warm units, so a fixed count keeps the median comparable.
    */
  def minWarmUnits: Int = 1
  def generate(): Unit
  def prepare(): Unit
  def unit(key: String): Unit
  def checks(): Seq[Check]
  /** Entries whose output the caller compares against the DuckDB oracle. */
  def oracleEntries: Seq[String] = Nil
  def layerMetrics(warmKeys: Seq[String]): Map[String, Double] = Map.empty
  /** Extra detail for result.json (traced runs add listener-derived lists). */
  def report(warmKeys: Seq[String]): Map[String, Any] = Map.empty
}
