package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.StructType

import graft.operators.{CacheRegistry, DedupOps, Staging}

/** `Tables.parquet` takes a read's schema from one footer read on the
  * driver: the schema Spark's own inference gives, nullability
  * included, and no Spark job to build a DataFrame over a base or
  * staged table. */
class ParquetFooterSpec extends SparkSpec {

  private def inferred(path: String): StructType = spark.read.parquet(path).schema

  private def assertParity(path: String): Unit = {
    val footer = Tables.parquet(spark, path).schema
    val want = inferred(path)
    assert(footer == want, s"$path:\n footer   ${footer.treeString}\n inferred ${want.treeString}")
  }

  /** A fresh staging root filled by `stageAll` at sf0.001, shared by
    * the staged tests below. */
  private lazy val stagedRoot: String = {
    val root = Files.createTempDirectory("graft_footer_stage").toString
    DedupOps.withStagingRoot(Some(root)) { DedupOps.stageAll(spark, sf) }: Unit
    root
  }

  /** Every completed table directory under `root`. */
  private def tableDirs(root: String): Seq[String] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala
      .filter(_.getFileName.toString == "_SUCCESS")
      .map(_.getParent.toString).toSeq.sorted
    finally walk.close()
  }

  private def catalogTable(df: DataFrame): CatalogTable =
    df.queryExecution.analyzed.collectFirst {
      case r: LogicalRelation if r.catalogTable.isDefined => r.catalogTable.get
    }.getOrElse(fail(s"no catalog relation in\n${df.queryExecution.analyzed}"))

  test("footer schema equals the inferred schema on the ten base tables") {
    Tables.names.foreach(n => assertParity(s"$sf/$n.parquet"))
  }

  test("footer schema follows the session's parquet confs as inference does") {
    // the long-nanos events fixture TablesSpec writes
    val dir = Files.createTempDirectory("graft_footer_nanos")
    val evDir = dir.resolve("events.parquet").toString
    import spark.implicits._
    Seq((1704067200L * 1000000000L + 123L, "click")).toDF("ts", "event_type")
      .write.mode("overwrite").parquet(evDir)
    assertParity(evDir)
    // the shipped events.ts under both timestamp-inference settings
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prev = spark.conf.get(key)
    try Seq("true", "false").foreach { v =>
      spark.conf.set(key, v)
      assertParity(s"$sf/events.parquet")
    } finally spark.conf.set(key, prev)
    // a partitioned directory whose files hold different columns: the
    // first file's footer plus the partition column, and with schema
    // merging on, the union of every file's columns
    val parts = Files.createTempDirectory("graft_footer_merge").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$parts/p=1")
    Seq((2L, 0.5)).toDF("id", "d").write.parquet(s"$parts/p=2")
    assertParity(parts)
    val mergeKey = "spark.sql.parquet.mergeSchema"
    val prevMerge = spark.conf.get(mergeKey)
    try {
      spark.conf.set(mergeKey, "true")
      assertParity(parts)
      assert(Tables.parquet(spark, parts).columns.toSet == Set("id", "s", "d", "p"))
    } finally spark.conf.set(mergeKey, prevMerge)
  }

  test("footer schema equals the inferred schema on every staged table, DDL re-registration included") {
    val dirs = tableDirs(stagedRoot)
    assert(dirs.size >= 13, s"stageAll wrote only ${dirs.size} tables: $dirs")
    dirs.foreach(assertParity)
    // a new session finding doc_sets already staged re-registers its
    // bucketed catalog entry through the DDL path (simulated: drop the
    // entry — an external table, the files stay — and read through again)
    DedupOps.withStagingRoot(Some(stagedRoot)) {
      val before = catalogTable(DedupOps.docSetsTable(spark, sf))
      spark.sql(s"DROP TABLE ${before.identifier.quotedString}")
      val again = DedupOps.docSetsTable(spark, sf)
      val after = catalogTable(again)
      assert(after.identifier == before.identifier)
      assert(after.bucketSpec.exists(_.bucketColumnNames == Seq("doc_id")),
        s"re-registered doc_sets lost its bucketing: ${after.bucketSpec}")
      assert(again.schema == inferred(Staging.tableDir(stagedRoot, sf, "doc_sets")))
    }
  }

  test("building the staged queries' DataFrames starts no Spark job, q47's components chain aside") {
    val root = stagedRoot
    val marker = "graft-footer-marker"
    val markerSeen = new CountDownLatch(1)
    val jobs = new ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g =>
            if (g == marker) markerSeen.countDown()
            else jobs.merge(g, 1, (a, b) => a + b): Unit
          }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      DedupOps.withStagingRoot(Some(root)) {
        Bench.stagedNames.foreach { name =>
          spark.sparkContext.setJobGroup(s"graft-construct-$name", name, false)
          try SparkEntry.queries(name)(spark, sf): Unit
          finally spark.sparkContext.clearJobGroup()
        }
      }
      // the bus delivers in posting order: once the marker job's start
      // arrives, every construction job has been counted
      spark.sparkContext.setJobGroup(marker, "listener drain marker", false)
      try spark.range(1).count(): Unit
      finally spark.sparkContext.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener bus never delivered the marker job")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      CacheRegistry.release(spark): Unit
    }
    val started = Bench.stagedNames
      .map(n => n -> Option(jobs.get(s"graft-construct-$n")).fold(0)(_.intValue))
      .filter(_._2 > 0).toMap
    // The one eager gate: q47 runs GraphOps.connectedComponentsAuto's
    // label-propagation rounds while it builds its plan (each round's
    // convergence checksum is an action). Traced perfbench dedup at
    // seed 5101 on 4 cores: 9 jobs, about 1.0 s of the query's
    // construction.
    assert(started.keySet == Set("q47_dedup_clusters"),
      s"Spark jobs started while building staged DataFrames: $started")
  }
}
