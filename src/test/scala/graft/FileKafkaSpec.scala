package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipelines.WalmartOrderPipeline
import graft.sinks.JdbcUpsertSink
import graft.sources.FileKafka

/** The file-backed Kafka harness: S1/K1 semantics without a broker —
  * envelope columns, startingOffsets JSON seek, maxOffsetsPerTrigger
  * admission, checkpoint resume, and the production pipeline e2e. */
class FileKafkaSpec extends SparkSpec {

  private def newBroker(): String =
    java.nio.file.Files.createTempDirectory("graft_fk").toString

  test("batch read returns the spark-sql-kafka envelope with dense offsets") {
    val dir = newBroker()
    FileKafka.produceStrings(dir, "t", 0, Seq("a", "b", "c"), timestampMillis = 1700000000000L)
    FileKafka.produce(dir, "t", 1,
      Seq(("k1".getBytes, "d".getBytes)), timestampMillis = 1700000001000L)
    val df = FileKafka.batch(spark, dir, "t")
    assert(df.schema.fieldNames.toSeq ==
      Seq("key", "value", "topic", "partition", "offset", "timestamp"))
    val rows = df.selectExpr("CAST(value AS STRING) v", "topic", "partition", "offset",
        "CAST(key AS STRING) k", "unix_millis(timestamp) ts")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3),
        r.getString(4), r.getLong(5))).toSet
    assert(rows == Set(
      ("a", "t", 0, 0L, null, 1700000000000L),
      ("b", "t", 0, 1L, null, 1700000000000L),
      ("c", "t", 0, 2L, null, 1700000000000L),
      ("d", "t", 1, 0L, "k1", 1700000001000L)))
  }

  test("startingOffsets JSON seeks per partition; -2/-1 mean earliest/latest") {
    val dir = newBroker()
    FileKafka.produceStrings(dir, "t", 0, Seq("a0", "a1", "a2", "a3"))
    FileKafka.produceStrings(dir, "t", 1, Seq("b0", "b1"))
    val seek = FileKafka.batch(spark, dir, "t",
      startingOffsets = """{"t":{"0":2,"1":-2}}""")
    val vals = seek.selectExpr("CAST(value AS STRING)").collect().map(_.getString(0)).toSet
    assert(vals == Set("a2", "a3", "b0", "b1"))
    // -1 = latest -> empty for that partition
    val only0 = FileKafka.batch(spark, dir, "t",
      startingOffsets = """{"t":{"0":0,"1":-1}}""")
    assert(only0.count() == 4)
    // endingOffsets bound the batch
    val bounded = FileKafka.batch(spark, dir, "t",
      startingOffsets = "earliest", endingOffsets = """{"t":{"0":1,"1":1}}""")
    assert(bounded.selectExpr("CAST(value AS STRING)").collect()
      .map(_.getString(0)).toSet == Set("a0", "b0"))
  }

  test("maxOffsetsPerTrigger caps each micro-batch (buffer_size analogue)") {
    val dir = newBroker()
    FileKafka.produceStrings(dir, "t", 0, (0 until 5).map(i => s"a$i"))
    FileKafka.produceStrings(dir, "t", 1, (0 until 3).map(i => s"b$i"))
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = FileKafka.stream(spark, dir, "t", maxOffsetsPerTrigger = Some(3))
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes += df.count(); ()
      }
      .option("checkpointLocation", newBroker())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    q.stop()
    assert(sizes.sum == 8, s"got $sizes")
    assert(sizes.forall(_ <= 3), s"a batch exceeded the cap: $sizes")
    assert(sizes.count(_ > 0) >= 3)
  }

  test("maxOffsetsPerTrigger is prorated over partitions by lag (spark-sql-kafka rateLimit)") {
    val dir = newBroker()
    Seq(0 -> 600, 1 -> 300, 2 -> 100).foreach { case (p, n) =>
      FileKafka.produceStrings(dir, "t", p, (0 until n).map(i => s"p$p-$i"))
    }
    val batches = scala.collection.mutable.ArrayBuffer.empty[Map[Int, Int]]
    val q = FileKafka.stream(spark, dir, "t", maxOffsetsPerTrigger = Some(100))
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += df.select("partition").collect().groupBy(_.getInt(0))
          .map { case (p, rs) => p -> rs.length }
        ()
      }
      .option("checkpointLocation", newBroker())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    q.stop()
    assert(batches.head == Map(0 -> 60, 1 -> 30, 2 -> 10), s"got $batches")
    assert(batches.forall(_.values.sum <= 100), s"a batch exceeded the cap: $batches")
    assert(batches.map(_.values.sum).sum == 1000, s"got $batches")
  }

  test("a sustained backlog on p0 does not starve the other partitions") {
    val dir = newBroker()
    FileKafka.produceStrings(dir, "t", 0, (0 until 5000).map(i => s"a$i"))
    FileKafka.produceStrings(dir, "t", 1, (0 until 50).map(i => s"b$i"))
    FileKafka.produceStrings(dir, "t", 2, (0 until 50).map(i => s"c$i"))
    var at = Map(0 -> 0L, 1 -> 0L, 2 -> 0L)
    (1 to 10).foreach { batch =>
      val next = graft.sources.FileKafkaProbe.nextBatchEnd(dir, "t", 100L, at)
      val read = next.map { case (p, o) => p -> (o - at(p)) }
      assert(read.values.sum <= 100, s"batch $batch over the cap: $read")
      assert(read(1) > 0 && read(2) > 0, s"batch $batch starved p1/p2: $read")
      at = next
      // p0 keeps more than a cap's worth of backlog
      FileKafka.produceStrings(dir, "t", 0, (0 until 100).map(i => s"a$batch-$i"))
    }
  }

  test("checkpoint resume consumes only records produced after the first run") {
    val dir = newBroker()
    val ckpt = newBroker()
    FileKafka.produceStrings(dir, "t", 0, Seq("x1", "x2"))
    def runOnce(): Set[String] = {
      val seen = scala.collection.mutable.Set.empty[String]
      val q = FileKafka.stream(spark, dir, "t")
        .selectExpr("CAST(value AS STRING) AS v")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen ++= df.collect().map(_.getString(0)); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q.stop()
      seen.toSet
    }
    assert(runOnce() == Set("x1", "x2"))
    FileKafka.produceStrings(dir, "t", 0, Seq("x3"))
    assert(runOnce() == Set("x3"), "resume must start from the committed offset")
  }

  test("e2e: filekafka -> parse -> jdbc upsert (the Kafka-first production pipeline)") {
    val url = "jdbc:derby:memory:graftfk;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      """CREATE TABLE wmt_fk (purchaseOrderId BIGINT NOT NULL, sku VARCHAR(50) NOT NULL,
        | orderLineStatus VARCHAR(50), chargeAmount DECIMAL(10,2),
        | PRIMARY KEY (purchaseOrderId, sku))""".stripMargin)
    conn.close()

    val dir = newBroker()
    FileKafka.produceStrings(dir, "orders", 0,
      Seq(OrderFixtures.twoLineOrder, OrderFixtures.malformed))
    FileKafka.produceStrings(dir, "orders", 1, Seq(OrderFixtures.dictLineOrder))

    val sink = new JdbcUpsertSink(url, "wmt_fk",
      JdbcUpsertSink.UpdateInsert(Seq("purchaseOrderId", "sku")), batchSize = 10)
    val parsed = WalmartOrderPipeline.parse(
        FileKafka.stream(spark, dir, "orders", maxOffsetsPerTrigger = Some(2))
          .selectExpr("CAST(value AS STRING) AS value"))
      .select("purchaseOrderId", "sku", "orderLineStatus", "chargeAmount")
    val q = parsed.writeStream
      .foreachBatch(sink.asForeachBatch)
      .option("checkpointLocation", newBroker())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    q.stop()

    val c = DriverManager.getConnection(url)
    val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM wmt_fk")
    rs.next()
    assert(rs.getInt(1) == 3) // 2 + 1 lines, malformed dropped
    c.close()
  }
}
