package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder.
  *
  * Spans are taken in the benchmark's own files, around each call into
  * an engine layer (`geom.makevalid`, `operators.dissolve`, …): name,
  * start, end, parent span and the attribution key of the unit they ran
  * in. They stay in memory and are written once, at the end.
  *
  * Spark-side counters come from three listeners the benchmark
  * registers — a `SparkListener` (jobs, stages, task metrics, stage
  * intervals), a `QueryExecutionListener` (planning phase times and the
  * executed plan's shape) and a `StreamingQueryListener` (micro-batch
  * progress). Each event is charged to the key the driver thread set
  * with [[at]]; [[settle]] drains the asynchronous listener queues on a
  * positive signal before the key changes, so no event lands in the
  * wrong unit.
  *
  * With tracing off every method is a pass-through and no listener is
  * registered.
  */
final class Trace(val on: Boolean) {
  import Trace.Span

  @volatile private var key = "setup"
  /** While paused, spans and keys are pass-through (the plain unit
    * that measures the tracing overhead).
    */
  var paused = false
  def active: Boolean = on && !paused
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val counters = new ConcurrentHashMap[String, ConcurrentHashMap[String, Double]]()
  private val intervals = new ConcurrentHashMap[String, java.util.List[(Long, Long)]]()

  /** Charge what follows to `k` (settles the previous key first). */
  def at(k: String): Unit = if (active) { settle(); key = k }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = spans.size
      spans += null // reserve the slot so children get higher ids
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val k = key
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, name, k, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def add(metric: String, v: Double): Unit = add(key, metric, v)

  private def add(k: String, metric: String, v: Double): Unit =
    counters.computeIfAbsent(k, _ => new ConcurrentHashMap[String, Double]())
      .merge(metric, v, (a: Double, b: Double) => a + b)

  /** Sum of `metric` over every key accepted by `sel`. */
  def sum(metric: String, sel: String => Boolean): Double =
    counters.asScala.iterator.collect {
      case (k, m) if sel(k) => m.getOrDefault(metric, 0.0)
    }.sum

  /** Total span seconds per span name for keys accepted by `sel`. */
  def spanSeconds(sel: String => Boolean): Map[String, Double] =
    spans.iterator.filter(s => s != null && sel(s.key))
      .toSeq.groupMapReduce(_.name)(_.seconds)(_ + _)

  /** Self time per layer (span name up to the first dot): each span's
    * duration minus the part its direct children cover.
    */
  def layerSelfSeconds(sel: String => Boolean): Map[String, Double] = {
    val done = spans.filter(_ != null)
    val childSum = done.filter(_.parent >= 0).groupMapReduce(_.parent)(_.seconds)(_ + _)
    done.iterator.filter(s => sel(s.key)).toSeq
      .groupMapReduce(_.name.takeWhile(_ != '.'))(s =>
        s.seconds - childSum.getOrElse(s.id, 0.0))(_ + _)
  }

  /** Wall seconds within [startMs, endMs] not covered by any stage
    * that ran for a key accepted by `sel`.
    */
  def idleSeconds(sel: String => Boolean, startMs: Long, endMs: Long): Double = {
    val iv = intervals.asScala.iterator.collect { case (k, l) if sel(k) =>
      l.synchronized(l.asScala.toList) }.flatten
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (-1L, -1L)
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, (endMs - startMs - covered) / 1e3)
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.iterator.filter(_ != null).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "pass" -> s.key, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.write(path, lines.toSeq.asJava)
  }

  // ---- listeners --------------------------------------------------------

  private val sentinelSeq = new AtomicInteger()
  private val sentinelJobs = new ConcurrentHashMap[Int, CountDownLatch]()
  private val sentinelStages = ConcurrentHashMap.newKeySet[Int]()
  private val streamsStarted = new AtomicInteger()
  private val streamsEnded = new AtomicInteger()
  private var spark: SparkSession = _

  def register(s: SparkSession): Unit = if (on) {
    spark = s
    s.sparkContext.addSparkListener(execListener)
    s.listenerManager.register(planListener)
    s.streams.addListener(streamListener)
  }

  /** Drain the listener queues: wait until every started streaming
    * query has reported termination, then run a one-task sentinel job
    * and wait until the SparkListener sees it end. The listener bus
    * delivers a queue's events in order, so every event posted before
    * the sentinel (jobs, stages, SQL execution ends) has been handled.
    */
  def settle(): Unit = if (on && spark != null) {
    val deadline = System.nanoTime() + 30_000_000_000L
    while (streamsEnded.get < streamsStarted.get && System.nanoTime() < deadline)
      Thread.onSpinWait()
    val sc = spark.sparkContext
    val n = sentinelSeq.incrementAndGet()
    val latch = new CountDownLatch(1)
    sentinelJobs.put(n, latch)
    sc.setLocalProperty(Trace.SentinelProp, n.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Trace.SentinelProp, null)
    if (!latch.await(30, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not deliver the sentinel job")
  }

  private val jobSentinel = new ConcurrentHashMap[Int, Int]()

  private val execListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sent = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SentinelProp)))
      sent match {
        case Some(n) =>
          jobSentinel.put(e.jobId, n.toInt)
          e.stageIds.foreach(sentinelStages.add)
        case None => add("exec.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSentinel.remove(e.jobId)).foreach(n =>
        Option(sentinelJobs.remove(n)).foreach(_.countDown()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      if (!sentinelStages.contains(si.stageId)) {
        add("exec.stages", 1)
        add("exec.tasks", si.numTasks)
        for (a <- si.submissionTime; b <- si.completionTime)
          intervals.computeIfAbsent(key, _ =>
            java.util.Collections.synchronizedList(new java.util.ArrayList[(Long, Long)]()))
            .add((a, b))
        val m = si.taskMetrics
        if (m != null) {
          add("exec.task_cpu_s", m.executorCpuTime / 1e9)
          add("exec.task_run_s", m.executorRunTime / 1e3)
          add("exec.gc_s", m.jvmGCTime / 1e3)
          add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / Trace.MB)
          add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / Trace.MB)
          add("exec.spill_mb", m.diskBytesSpilled / Trace.MB)
          add("exec.input_mb", m.inputMetrics.bytesRead / Trace.MB)
          add("exec.output_mb", m.outputMetrics.bytesWritten / Trace.MB)
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phase(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      add("planning.analysis_s", phase("analysis"))
      add("planning.optimization_s", phase("optimization"))
      add("planning.physical_s", phase("planning"))
      add("planning.plans", 1)
      Trace.planNodes(qe.executedPlan).foreach { p =>
        p.getClass.getSimpleName match {
          case "SpatialIndexJoinExec" =>
            add("plans.index_join_nodes", 1)
            add("plans.spatial_join_rows", Trace.outputRows(p))
          case "GridSpatialJoinExec" =>
            add("plans.grid_join_nodes", 1)
            add("plans.spatial_join_rows", Trace.outputRows(p))
          case "BroadcastNestedLoopJoinExec" | "CartesianProductExec" =>
            add("plans.nested_loop_joins", 1)
          case _ =>
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val lastStateRows = new ConcurrentHashMap[java.util.UUID, Long]()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      streamsStarted.incrementAndGet()
      add("streaming.queries", 1)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("streaming.batches", 1)
      add("streaming.trigger_s", ms("triggerExecution") / 1e3)
      val stateCommitMs = p.stateOperators.iterator.map(_.commitTimeMs.toDouble).sum
      add("streaming.commit_s", (ms("walCommit") + ms("commitOffsets") + stateCommitMs) / 1e3)
      lastStateRows.put(p.runId, p.stateOperators.iterator.map(_.numRowsTotal).sum)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      add("streaming.state_rows", Option(lastStateRows.remove(e.runId)).fold(0L)(_.longValue))
      streamsEnded.incrementAndGet()
    }
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, key: String,
      startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  val MB: Double = 1024.0 * 1024.0
  private val SentinelProp = "perfbench.sentinel"

  private object Walk extends AdaptiveSparkPlanHelper

  /** Every node of an executed plan, through adaptive stages and
    * subqueries.
    */
  def planNodes(plan: SparkPlan): Seq[SparkPlan] =
    Walk.collectWithSubqueries(plan) { case p => p }

  private def outputRows(p: SparkPlan): Double =
    p.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
}
