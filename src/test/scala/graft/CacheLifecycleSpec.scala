package graft

import org.apache.spark.sql.functions._

/** The persist-lifecycle contract: operator-internal persists are
  * tracked, and one `release` drops them all — nothing lingers until
  * LRU eviction across a long session (the round-7 audit's defect #2).
  */
class CacheLifecycleSpec extends SparkTestBase {
  import spark.implicits._

  test("release drops every operator-internal persist and stays correct") {
    spark.catalog.clearCache()
    CacheLifecycle.release(spark)

    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (3L, "an unrelated document about distributed query engines and shuffles"))
      .toDF("doc_id", "text")

    // minhashCandidates + ngramJaccard persist signatures, pairs and
    // gram sets internally; materialize so the caches exist for real
    val cands = operators.Dedup.minhashCandidates(docs, "doc_id", "text")
    val verified = operators.Dedup.ngramJaccard(docs, "doc_id", "text", cands)
    val before = verified.collect()
    assert(CacheLifecycle.trackedCount(spark) > 0)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)

    CacheLifecycle.release(spark)
    assert(CacheLifecycle.trackedCount(spark) == 0)
    // the executor-storage view agrees: no cached RDD partitions remain
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)

    // plans built before the release stay CORRECT — they recompute the
    // dropped subtrees instead of reading cache
    assert(verified.collect().sortBy(_.getLong(0)).sameElements(
      before.sortBy(_.getLong(0))))
  }

  test("release hooks evict the pipeline flow memo with its caches") {
    // the r12 p-group regression in one assertion: PipelineQueries'
    // memo must NOT outlive the flow's branch caches — a surviving
    // memo hands every later consumer an UNCACHED Result and each use
    // silently rebuilds the whole pipeline (3.5 s → 8.3 s in the
    // bench when warmup+release first covered p*)
    spark.catalog.clearCache()
    CacheLifecycle.release(spark)
    val a = queries.PipelineQueries.mergedWithGeom(spark)
    assert(a eq queries.PipelineQueries.mergedWithGeom(spark)) // memoized
    CacheLifecycle.release(spark)
    spark.catalog.clearCache()
    val b = queries.PipelineQueries.mergedWithGeom(spark)
    assert(!(a eq b)) // fresh Result whose branches re-cache
    // compact caches: the published layers are jurisdiction-count
    // frames; the cache must not keep the build's full shuffle
    // parallelism (warm reads drowned in empty-task setup pre-r12)
    assert(b.rdd.getNumPartitions <= 8, s"merged partitions: ${b.rdd.getNumPartitions}")
    CacheLifecycle.release(spark)
    spark.catalog.clearCache()
  }

  test("releasing one session leaves a sibling session's tracked RDD persisted") {
    import spark.implicits._
    spark.catalog.clearCache(); CacheLifecycle.release(spark)
    val sibling = spark.newSession()
    val rdd = CacheLifecycle.persistRdd(sibling,
      spark.sparkContext.parallelize(1 to 10, 2))
    rdd.count()
    assert(rdd.getStorageLevel.useMemory)
    // the sessions share one SparkContext: releasing `spark` must not
    // unpersist the SIBLING's RDD (the old context-scoped filter did)
    CacheLifecycle.release(spark)
    assert(rdd.getStorageLevel.useMemory,
      "sibling session's RDD was unpersisted by another session's release")
    CacheLifecycle.release(sibling)
    assert(!rdd.getStorageLevel.useMemory)
  }

  test("release runs hooks BEFORE unpersisting (memos evict while their persists still live)") {
    // ordering contract the ExtQueries/PipelineQueries hooks rely on:
    // when a hook clears a memo, the frames the memo handed out are
    // still tracked/persisted — so no window exists where a memo serves
    // a frame whose persist is already gone
    import spark.implicits._
    spark.catalog.clearCache()
    CacheLifecycle.release(spark)
    var seenAtHookTime = -1
    CacheLifecycle.onRelease(s => if (seenAtHookTime < 0)
      seenAtHookTime = CacheLifecycle.trackedCount(s))
    CacheLifecycle.persist(Seq(1, 2, 3).toDF("v"))
    CacheLifecycle.release(spark)
    assert(seenAtHookTime == 1,
      s"hook must observe the tracked persist (ran before the unpersist loop), saw $seenAtHookTime")
    assert(CacheLifecycle.trackedCount(spark) == 0)
  }

  test("a throwing release hook does not abort the unpersist loop") {
    import spark.implicits._
    spark.catalog.clearCache(); CacheLifecycle.release(spark)
    CacheLifecycle.onRelease(_ => throw new RuntimeException("hook boom"))
    val df = CacheLifecycle.persist(Seq(1, 2, 3).toDF("v"))
    df.count()
    assert(CacheLifecycle.trackedCount(spark) >= 1)
    CacheLifecycle.release(spark)   // must not throw, must still unpersist
    assert(CacheLifecycle.trackedCount(spark) == 0)
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("a persistLeaf frame is tracked, release drops it, and it stays correct") {
    spark.catalog.clearCache(); CacheLifecycle.release(spark)
    val agg = spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
    val leaf = CacheLifecycle.persistLeaf(agg)
    assert(CacheLifecycle.trackedCount(spark) == 1)
    assert(leaf.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    val before = leaf.orderBy("k").collect().toSeq
    assert(before.map(_.getLong(1)).sum == 1000)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)

    CacheLifecycle.release(spark)
    assert(CacheLifecycle.trackedCount(spark) == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    // recomputes through the cached RDD's lineage, same rows
    assert(leaf.orderBy("k").collect().toSeq == before)
  }

  test("every job the persistLeaf re-root starts carries an SQL execution id") {
    // jobs started outside an SQL execution re-compiled generated code
    // on the executors (it cancelled BunnyHop's gain): pin the wrapper
    spark.catalog.clearCache(); CacheLifecycle.release(spark)
    val group = "cache-leaf-jobs"
    val sentinel = "cache-leaf-sentinel"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        p.map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.add(p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))))
          case `sentinel` => drained.countDown()
          case _ =>
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val sc = spark.sparkContext
    try {
      sc.setJobGroup(group, "persistLeaf")
      val leaf = CacheLifecycle.persistLeaf(
        spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count())
      // the listener bus is FIFO: once the sentinel's start arrives,
      // every job the re-root started has been seen
      sc.setJobGroup(sentinel, "drain")
      sc.parallelize(1 to 1, 1).count()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(!jobs.isEmpty, "the re-root ran no shuffle stage (test input lost its shuffle?)")
      assert(jobs.stream().allMatch(_.isDefined), s"jobs without an execution id: $jobs")
      assert(leaf.count() == 7)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      CacheLifecycle.release(spark)
    }
  }

  test("release hooks evict the ExtQueries candidate memo with its persist") {
    spark.catalog.clearCache()
    CacheLifecycle.release(spark)
    val dir = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("x03_minhash_neardup")
    q(spark, dir).count()
    val persisted = spark.sparkContext.getPersistentRDDs.size
    assert(persisted > 0)
    CacheLifecycle.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    // the memo was evicted too: a fresh run re-persists (rather than
    // serving an unpersisted plan that recomputes on every consumer)
    q(spark, dir).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    CacheLifecycle.release(spark)
  }
}
