package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.operators.{CacheRegistry, RelationalOps}

/** The one engine cache lifecycle: a persist dies with its staged
  * write or with the first query that consumes it, at most
  * `CacheRegistry.maxEntries` query-scoped frames stay alive per
  * session (the eldest is evicted AND unpersisted), and repeat
  * registrations of the same plan share one slot. */
class CacheRegistrySpec extends SparkSpec {

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager

  /** A tracked frame, materialized so eviction visibly frees blocks. */
  private def cachedFrame(tag: Int): DataFrame =
    CacheRegistry.filled(spark.range(100 + tag).toDF(s"v$tag"))._1

  /** Block until the listener bus has delivered every event posted so
    * far: it delivers to its listeners in posting order, so once a
    * MARKER job's start arrives, every earlier execution-end event
    * (and the registry's release on it) has been handled. */
  private def drainListenerBus(): Unit = {
    val seen = new CountDownLatch(1)
    val group = "graft-cache-drain-marker"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
              .contains(group)) seen.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "listener drain marker", false)
      try spark.sparkContext.parallelize(Seq(1), 1).count(): Unit
      finally spark.sparkContext.clearJobGroup()
      assert(seen.await(60, TimeUnit.SECONDS), "listener bus failed to deliver the marker job")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("K+1 distinct registrations evict and unpersist the eldest") {
    CacheRegistry.release(spark): Unit // clean slate
    val k = CacheRegistry.maxEntries
    // only the K+1th registration evicts
    val frames = (1 to k + 1).map { i =>
      val f = cachedFrame(i)
      assert(CacheRegistry.size(spark) == math.min(i, k), s"after registration $i")
      f
    }
    assert(frames.head.storageLevel == StorageLevel.NONE,
      "the eldest frame must be unpersisted on eviction")
    assert(frames.tail.forall(_.storageLevel != StorageLevel.NONE),
      "the newest K frames stay cached")
    assert(CacheRegistry.release(spark) == k)
    assert(frames.forall(_.storageLevel == StorageLevel.NONE))
    assert(CacheRegistry.release(spark) == 0, "second release is a no-op")
  }

  test("same-plan re-registration shares a slot and refreshes LRU position") {
    CacheRegistry.release(spark): Unit
    val k = CacheRegistry.maxEntries
    val a = cachedFrame(11)
    val b = cachedFrame(12)
    (1 to k - 2).foreach(i => cachedFrame(100 + i))
    assert(CacheRegistry.size(spark) == k)
    // a repeat call over the SAME input produces a distinct handle with
    // a sameResult plan — must not take a new slot...
    CacheRegistry.scoped(spark.range(111).toDF("v11")): Unit
    assert(CacheRegistry.size(spark) == k)
    assert(b.storageLevel != StorageLevel.NONE, "a repeat must evict nothing")
    // ...and must refresh a's position: the next distinct frame evicts
    // b (now eldest), not a
    cachedFrame(13): Unit
    assert(CacheRegistry.size(spark) == k)
    assert(b.storageLevel == StorageLevel.NONE, "b was eldest after a's refresh")
    assert(a.storageLevel != StorageLevel.NONE, "a stays cached")
    CacheRegistry.release(spark): Unit
  }

  test("query-scoped registry releases a frame when its consuming action completes (VERDICT r21 #2)") {
    import org.apache.spark.sql.functions._
    CacheRegistry.release(spark): Unit
    val base = CacheRegistry.scoped(spark.range(500).toDF("qv"))
    // an UNRELATED execution must not release it
    spark.range(7).count(): Unit
    drainListenerBus()
    assert(CacheRegistry.size(spark) == 1, "unrelated executions must not release the frame")
    assert(base.storageLevel != StorageLevel.NONE)
    // an execution whose plan REFERENCES the frame (here: twice, the
    // shape the persists exist for) releases it on completion
    base.join(base.groupBy().agg(max("qv").as("m")), expr("qv = m"))
      .count(): Unit
    assert(awaitTrue(CacheRegistry.size(spark) == 0),
      "consuming-action completion must release the tracked frame")
    assert(awaitTrue(base.storageLevel == StorageLevel.NONE),
      "release must unpersist the frame")
  }

  test("r22 review: a lazy checkpoint over a tracked frame must NOT release it") {
    import org.apache.spark.sql.functions._
    // Dataset.localCheckpoint flows through withAction, so the
    // completion listener sees an execution whose analyzed plan
    // CONTAINS the tracked frame while the caller is still composing
    // over it (the unstaged q47 path checkpoints its CC seed on top of
    // the registered band frame). Releasing there would defeat the
    // persist before its real consumer runs.
    CacheRegistry.release(spark): Unit
    val base = CacheRegistry.scoped(spark.range(300).toDF("ck"))
    val seed = base.groupBy().agg(max("ck").as("m")).localCheckpoint(false)
    drainListenerBus()
    assert(CacheRegistry.size(spark) == 1,
      "a lazy checkpoint must not release the tracked frame")
    assert(base.storageLevel != StorageLevel.NONE)
    seed.count(): Unit // consuming the CHECKPOINTED plan releases nothing either
    drainListenerBus()
    assert(CacheRegistry.size(spark) == 1,
      "an action over the truncated checkpoint plan must not release")
    base.count(): Unit // the frame's own terminal action releases it
    assert(awaitTrue(CacheRegistry.size(spark) == 0),
      "terminal consumption must still release")
  }

  test("a lineage-truncating consumer releases the frames under its input") {
    import org.apache.spark.sql.functions._
    CacheRegistry.release(spark): Unit
    // connectedComponents' round jobs read checkpoints, never the edge
    // plan, so no completion event can name the frame under it
    val base = CacheRegistry.scoped(spark.range(200).toDF("e"))
    val edges = base.select(col("e").as("src"), (col("e") % 7).as("dst"))
    val comps = graft.operators.GraphOps.connectedComponents(edges)
    assert(CacheRegistry.size(spark) == 0, "the rounds consumed the edge frame")
    assert(base.storageLevel == StorageLevel.NONE)
    assert(comps.count() == 200)
  }

  test("no cached frame from query N survives into query N+1 (VERDICT r21 #2)") {
    import graft.operators.{CorpusOps, WindowOps}
    spark.catalog.clearCache()
    CacheRegistry.release(spark): Unit
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // q54 persists its vocab-freq frame inside the plan…
    CorpusOps.rareTokenFilter(spark, sf).count(): Unit
    // …and the completion listener must have dropped it before the
    // next query runs — nothing persisted survives the action
    assert(awaitTrue(CacheRegistry.size(spark) == 0),
      "q54's freq frame must auto-release at query completion")
    assert(awaitTrue(
      (spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty),
      "q54's cache must not be alive when the next query starts")
    // same contract for the q65 per-user stage minima (two frames)
    WindowOps.eventFunnel(spark, sf).count(): Unit
    assert(awaitTrue(CacheRegistry.size(spark) == 0),
      "q65's stage frames must auto-release at query completion")
    assert(awaitTrue(
      (spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty),
      "q65's caches must not be alive when the next query starts")
  }

  test("percentile stats survive their gate count and die with their query") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    spark.catalog.clearCache()
    CacheRegistry.release(spark): Unit
    // the gate count ran inside percentilesByBucketed, BEFORE the frame
    // was registered: once its completion event has been handled, the
    // exact stale-event guard must have kept the frame
    val q75 = RelationalOps.pricePercentiles(spark, sf)
    drainListenerBus()
    assert(CacheRegistry.size(spark) == 1, "the gate count released the stats frame")
    assert(!cacheManager.isEmpty, "the stats frame must still be cached")
    q75.collect(): Unit
    val scans = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(
      q75.queryExecution.executedPlan) { case s: InMemoryTableScanExec => s }
    assert(scans.nonEmpty, "q75 must read its stats through InMemoryTableScan")
    assert(awaitTrue(cacheManager.isEmpty), "q75's action must release the stats frame")
    assert(CacheRegistry.size(spark) == 0)
  }
}
