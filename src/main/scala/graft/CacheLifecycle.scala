package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Deterministic lifecycle for operator-internal persists.
  *
  * Several operators persist an intermediate that feeds multiple
  * consumers in the returned plan (LSH signatures, candidate pairs,
  * overlay pair tables). The function itself cannot unpersist — the
  * returned plan references the cached subtree lazily — so without a
  * registry those entries live until LRU eviction. In one long session
  * (a 98-entry × 4-execution bench sweep, or a service) storage
  * accumulates and later queries pay eviction/recompute.
  *
  * Operators persist through [[persist]] instead of
  * `DataFrame.persist` directly; a caller that knows a batch of work
  * is finished (the bench between query groups, a service between
  * sweeps) calls [[release]] to drop every tracked entry at once.
  * Releasing never breaks correctness: a plan executed later simply
  * recomputes the subtree instead of reading cache.
  */
object CacheLifecycle {

  private val tracked = new ConcurrentLinkedQueue[DataFrame]()
  private val releaseHooks = new ConcurrentLinkedQueue[SparkSession => Unit]()

  /** Persist `df` at `level` and track it for the next [[release]]. */
  def persist(
      df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    df.persist(level)
    tracked.add(df)
    df
  }

  /** [[persist]] `df` and return it re-rooted on a `LogicalRDD` leaf
    * over its cache scan (rows stay `InternalRow`), so operators
    * downstream analyze, optimize and print a few-node plan instead of
    * `df`'s lineage. After [[release]] the leaf recomputes through the
    * cached RDD's lineage.
    *
    * Use it for a deep intermediate that several Dataset-built
    * consumers read; plain [[persist]] otherwise, because the leaf
    *  - is eager: planning it runs `df`'s shuffle stages now;
    *  - stops column pruning and filter pushdown: fine for
    *    jurisdiction-sized layers, not for wide bulk tables;
    *  - is a new RDD per call, so a persist reading it never matches
    *    across rebuilds: callers rebuilt per rep memoize instead.
    */
  def persistLeaf(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.leaf(persist(df))

  /** Register a callback run on every [[release]] — memo caches that
    * hand out references to tracked DataFrames (e.g. ExtQueries'
    * candidate memo) must evict alongside, or they would keep serving
    * plans whose persist is gone and silently recompute per use.
    */
  def onRelease(hook: SparkSession => Unit): Unit = releaseHooks.add(hook)

  /** Unpersist every tracked DataFrame belonging to `spark` and run
    * the release hooks. Live entries from other sessions are
    * untouched; entries whose owning session has been STOPPED are
    * reaped regardless (see below).
    *
    * CONCURRENCY CONTRACT: release() must not race memo BUILDERS on
    * the same session — a builder that re-memoizes between the hook
    * sweep and the unpersist loop would hand out a frame whose persist
    * this call then removes (silent recompute per use). Callers
    * release at quiesce points (bench group boundaries, suite
    * teardown), never concurrently with query construction on the
    * same session; ConcurrencySpec's multi-threaded load runs between
    * releases, not across them.
    */
  def release(spark: SparkSession): Unit = {
    // isolate each hook: a hook that throws must not abort the
    // unpersist loops below — "releasing never breaks correctness"
    // includes not silently leaving every tracked frame persisted
    // because one memo callback failed
    releaseHooks.forEach { h =>
      try h(spark)
      catch {
        case scala.util.control.NonFatal(e) =>
          // visible, never silent: a failing memo-eviction hook means
          // memoized plans may outlive their persists (the silent-
          // recompute trap) — the unpersist loops below still run, but
          // the operator owning the hook needs to know
          System.err.println(
            s"[CacheLifecycle] release hook failed (continuing): $e")
      }
    }
    // a STOPPED session's entries are also reaped here (their data is
    // gone with the context; unpersist would throw): without this, a
    // sibling session stopped without its own release() left entries
    // no release(other) could ever remove (owner eq fails) — strongly
    // retaining the dead SparkSession and its plans for the JVM
    // lifetime (r20 review, the layout-memo hazard one level down)
    def dead(s: SparkSession): Boolean =
      try s.sparkContext.isStopped catch { case _: Throwable => true }
    val it = tracked.iterator()
    while (it.hasNext) {
      val df = it.next()
      if (df.sparkSession eq spark) {
        df.unpersist(blocking = false)
        it.remove()
      } else if (dead(df.sparkSession)) it.remove()
    }
    val rit = trackedRdds.iterator()
    while (rit.hasNext) {
      val (owner, rdd) = rit.next()
      // scope by the OWNING SESSION, not the shared SparkContext:
      // sibling sessions (spark.newSession(), the documented service
      // case) share one context, and releasing session A must not
      // unpersist session B's RDDs mid-sweep
      if (owner eq spark) {
        rdd.unpersist(blocking = false)
        rit.remove()
      } else if (dead(owner)) rit.remove()
    }
  }

  private val trackedRdds =
    new ConcurrentLinkedQueue[(SparkSession, org.apache.spark.rdd.RDD[_])]()

  /** Persist and track a raw RDD (operators below the DataFrame layer,
    * e.g. the grid kNN join's result) for the next [[release]] of
    * `owner` — RDDs carry only the shared SparkContext, so the owning
    * session is declared explicitly.
    */
  def persistRdd[T](
      owner: SparkSession,
      rdd: org.apache.spark.rdd.RDD[T],
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): org.apache.spark.rdd.RDD[T] = {
    rdd.persist(level)
    trackedRdds.add((owner, rdd))
    rdd
  }

  /** Snapshot of the tracked DataFrames for `spark` — spec hook (the
    * persist-stability invariant walks these across rebuilds).
    */
  def trackedFrames(spark: SparkSession): Seq[DataFrame] = {
    val b = Seq.newBuilder[DataFrame]
    tracked.forEach(df => if (df.sparkSession eq spark) b += df)
    b.result()
  }

  /** Tracked-entry count for `spark` — spec hook. */
  def trackedCount(spark: SparkSession): Int = {
    var n = 0
    tracked.forEach(df => if (df.sparkSession eq spark) n += 1)
    trackedRdds.forEach { case (owner, _) => if (owner eq spark) n += 1 }
    n
  }
}
