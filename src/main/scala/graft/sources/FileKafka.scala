package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.Base64

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** File-backed Kafka harness: a DataSource V2 connector whose "broker"
  * is a directory tree — `<dir>/<topic>/p<partition>.log`, one line
  * per record (`offset,base64(key),base64(value),timestampMillis`).
  *
  * Purpose (SURVEY.md §2.1 S1 / §2.2 K1): the offline image has no
  * Kafka jars, so the Kafka-first production pipeline
  * (flink6_walmart_order_pipeline.py:168-198) cannot be exercised
  * against a broker. This connector reproduces the consumer-visible
  * contract exactly — the envelope schema (key, value, topic,
  * partition, offset, timestamp) matches `spark-sql-kafka`, so
  * `WalmartOrderPipeline.fromKafka`-shaped code runs against it
  * unchanged:
  *
  *   - `startingOffsets` = earliest | latest | per-partition JSON
  *     (`{"topic":{"0":23,"1":-2}}`, -2=earliest, -1=latest) — the
  *     offset-seek analogue (kafka_load_to_mysql.py:624-642)
  *   - `maxOffsetsPerTrigger` caps rows per micro-batch via streaming
  *     admission control — the loader's buffer_size analogue
  *     (kafka_load_to_mysql.py:591-607). The cap is prorated over
  *     partitions by their lag, with spark-sql-kafka's `rateLimit`
  *     rule (KafkaMicroBatchStream): partition p takes
  *     `floor(limit * lag_p / totalLag)`, or `ceil` when that share is
  *     below 1 so no partition with a backlog starves, and never past
  *     its end. Every partition with a backlog advances in every
  *     batch, so a capped batch spreads over as many tasks as there
  *     are lagging partitions; like the connector, the ceil can take a
  *     batch past the cap by at most one record per partition.
  *   - batch reads honor `startingOffsets`/`endingOffsets`
  *
  * Production swaps format("filekafka") for format("kafka"); nothing
  * else changes.
  */
object FileKafka {

  /** The spark-sql-kafka envelope, byte for byte. */
  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType)))

  private[sources] def topicDir(dir: String, topic: String): File =
    new File(dir, topic)

  private[sources] def partitionFile(dir: String, topic: String, partition: Int): File =
    new File(topicDir(dir, topic), s"p$partition.log")

  private[sources] def listPartitions(dir: String, topic: String): Seq[Int] = {
    val td = topicDir(dir, topic)
    Option(td.listFiles()).getOrElse(Array.empty)
      .flatMap(f => "^p(\\d+)\\.log$".r.findFirstMatchIn(f.getName).map(_.group(1).toInt))
      .toSeq.sorted
  }

  /** End offset (= record count, offsets are dense from 0). */
  private[sources] def endOffset(dir: String, topic: String, partition: Int): Long = {
    val f = partitionFile(dir, topic, partition)
    if (!f.exists()) 0L
    else {
      val s = Files.lines(f.toPath)
      try s.count() finally s.close()
    }
  }

  def latestOffsets(dir: String, topic: String): Map[Int, Long] =
    listPartitions(dir, topic).map(p => p -> endOffset(dir, topic, p)).toMap

  /** Append records to one topic partition (driver-side test/harness
    * producer — the K1 write path at real scale is the kafka sink).
    * Returns the offsets assigned. */
  def produce(dir: String, topic: String, partition: Int,
              records: Seq[(Array[Byte], Array[Byte])],
              timestampMillis: Long = 0L): Seq[Long] = this.synchronized {
    val f = partitionFile(dir, topic, partition)
    f.getParentFile.mkdirs()
    val start = endOffset(dir, topic, partition)
    val enc = Base64.getEncoder
    val lines = records.zipWithIndex.map { case ((k, v), i) =>
      val kb = if (k == null) "" else enc.encodeToString(k)
      // null value = Kafka tombstone; encoded as empty, decoded to null
      val vb = if (v == null) "" else enc.encodeToString(v)
      s"${start + i},$kb,$vb,$timestampMillis"
    }
    Files.write(f.toPath, lines.asJava, StandardCharsets.UTF_8,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    (start until start + records.size).toSeq
  }

  /** Convenience: produce UTF-8 string values with null keys. */
  def produceStrings(dir: String, topic: String, partition: Int,
                     values: Seq[String], timestampMillis: Long = 0L): Seq[Long] =
    produce(dir, topic, partition,
      values.map(v => (null: Array[Byte], v.getBytes(StandardCharsets.UTF_8))),
      timestampMillis)

  /** Driver-side record read for the consumer client: up to
    * `maxRecords` from `start` (Long-safe skip). Returns
    * (offset, key, value, timestampMillis); null key/value = absent/
    * tombstone. */
  private[sources] def readRecords(dir: String, topic: String, partition: Int,
      start: Long, maxRecords: Int): Seq[(Long, Array[Byte], Array[Byte], Long)] = {
    val f = partitionFile(dir, topic, partition)
    if (!f.exists() || maxRecords <= 0) Nil
    else {
      val dec = Base64.getDecoder
      val s = Files.lines(f.toPath)
      try {
        s.skip(start).limit(maxRecords.toLong).iterator().asScala.map { line =>
          val parts = line.split(",", 4)
          val k = if (parts(1).isEmpty) null else dec.decode(parts(1))
          val v = if (parts(2).isEmpty) null else dec.decode(parts(2))
          (parts(0).toLong, k, v, parts(3).toLong)
        }.toList
      } finally s.close()
    }
  }

  /** S1 streaming read; drop-in shape for Sources.kafkaStream. */
  def stream(spark: SparkSession, dir: String, topic: String,
             startingOffsets: String = "earliest",
             maxOffsetsPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream.format("filekafka")
      .option("path", dir).option("topic", topic)
      .option("startingOffsets", startingOffsets)
    maxOffsetsPerTrigger.fold(r)(n => r.option("maxOffsetsPerTrigger", n)).load()
  }

  /** S1 batch read with offset bounds. */
  def batch(spark: SparkSession, dir: String, topic: String,
            startingOffsets: String = "earliest",
            endingOffsets: String = "latest"): DataFrame =
    spark.read.format("filekafka")
      .option("path", dir).option("topic", topic)
      .option("startingOffsets", startingOffsets)
      .option("endingOffsets", endingOffsets)
      .load()

  // ------------------------------------------------- offset JSON handling

  /** Kafka-style offsets: earliest/latest/JSON. JSON accepts the
    * connector's nested `{"topic":{"0":23,"1":-2}}` (or the flat
    * `{"0":23}`); -2 seeks earliest, -1 latest. Partitions absent from
    * the JSON fall back to `default`. */
  private[sources] def resolveOffsets(dir: String, topic: String, spec: String,
                                      default: String): Map[Int, Long] = {
    val parts = listPartitions(dir, topic)
    def earliest = parts.map(_ -> 0L).toMap
    def latest = latestOffsets(dir, topic)
    spec.trim match {
      case "earliest" => earliest
      case "latest" => latest
      case json =>
        val pairs = """"(\d+)"\s*:\s*(-?\d+)""".r
          .findAllMatchIn(json)
          .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
        parts.map { p =>
          val v = pairs.getOrElse(p,
            if (default == "latest") latest(p) else 0L)
          p -> (v match {
            case -2L => 0L
            case -1L => latest(p)
            case o => o
          })
        }.toMap
    }
  }

  /** spark-sql-kafka's `rateLimit` over `from`/`until` offsets: each
    * lagging partition gets its lag-proportional share of `limit`
    * (see the object doc); partitions without a lag stay at `until`. */
  private[sources] def rateLimit(limit: Long, from: Map[Int, Long],
                                 until: Map[Int, Long]): Map[Int, Long] = {
    val lags = until.map { case (p, e) => p -> (e - from.getOrElse(p, 0L)) }.filter(_._2 > 0)
    val total = lags.values.sum.toDouble
    until.map { case (p, e) =>
      p -> lags.get(p).fold(e) { lag =>
        val share = limit * (lag / total)
        val take = (if (share < 1) math.ceil(share) else math.floor(share)).toLong
        e - lag + math.min(take, lag) // no overflow for any limit
      }
    }
  }

  private[sources] def offsetsToJson(topic: String, offs: Map[Int, Long]): String =
    offs.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }
      .mkString(s"""{"$topic":{""", ",", "}}")
}

/** One dense slice of one topic partition. */
private[sources] case class FileKafkaInputPartition(
    file: String, topic: String, partition: Int,
    start: Long, end: Long) extends InputPartition

private[sources] case class FileKafkaOffset(topic: String, parts: Map[Int, Long])
    extends Offset {
  override def json(): String = FileKafka.offsetsToJson(topic, parts)
}

private[sources] class FileKafkaReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val fk = p.asInstanceOf[FileKafkaInputPartition]
    new PartitionReader[InternalRow] {
      private val dec = Base64.getDecoder
      private val stream: Option[java.util.stream.Stream[String]] = {
        val f = new File(fk.file)
        if (f.exists()) Some(Files.lines(f.toPath)) else None
      }
      // Long-safe slice: a .toInt here would wrap past 2^31 records and
      // silently replay from a bogus offset instead of seeking correctly
      private val lines: Iterator[String] =
        stream.map { s =>
          val it = s.iterator().asScala
          var skipped = 0L
          while (skipped < fk.start && it.hasNext) { it.next(); skipped += 1 }
          new Iterator[String] {
            private var remaining = fk.end - fk.start
            override def hasNext: Boolean = remaining > 0 && it.hasNext
            override def next(): String = { remaining -= 1; it.next() }
          }
        }.getOrElse(Iterator.empty)
      private var row: InternalRow = _
      override def next(): Boolean =
        if (!lines.hasNext) false
        else {
          val parts = lines.next().split(",", 4)
          val key = if (parts(1).isEmpty) null else dec.decode(parts(1))
          // empty value field = tombstone (value is nullable in the
          // spark-sql-kafka envelope)
          val value = if (parts(2).isEmpty) null else dec.decode(parts(2))
          row = new GenericInternalRow(Array[Any](
            key, value, UTF8String.fromString(fk.topic),
            fk.partition, parts(0).toLong, parts(3).toLong * 1000L))
          true
        }
      override def get(): InternalRow = row
      override def close(): Unit = stream.foreach(_.close())
    }
  }
}

private[sources] class FileKafkaScan(options: CaseInsensitiveStringMap) extends Scan {
  private val dir = options.get("path")
  private val topic = options.get("topic")
  private def starting = Option(options.get("startingOffsets")).getOrElse("earliest")
  private def ending = Option(options.get("endingOffsets")).getOrElse("latest")
  private def maxPerTrigger: Option[Long] =
    Option(options.get("maxOffsetsPerTrigger")).map(_.toLong)

  override def readSchema(): StructType = FileKafka.schema

  private def plan(from: Map[Int, Long], to: Map[Int, Long]): Array[InputPartition] =
    to.keys.toSeq.sorted.map { p =>
      FileKafkaInputPartition(
        FileKafka.partitionFile(dir, topic, p).getPath, topic, p,
        from.getOrElse(p, 0L), to(p)): InputPartition
    }.toArray

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      plan(FileKafka.resolveOffsets(dir, topic, starting, "earliest"),
        FileKafka.resolveOffsets(dir, topic, ending, "latest"))
    override def createReaderFactory(): PartitionReaderFactory =
      new FileKafkaReaderFactory
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {
      // Trigger.AvailableNow: Spark only honors admission limits when the
      // source itself supports the trigger (otherwise it wraps the stream
      // and reads ReadAllAvailable in one batch) - same contract as the
      // kafka connector. The target pins "now": records produced after
      // query start are left for the next run.
      private var availableNowTarget: Option[Map[Int, Long]] = None

      override def prepareForTriggerAvailableNow(): Unit =
        availableNowTarget = Some(FileKafka.latestOffsets(dir, topic))

      override def initialOffset(): Offset =
        FileKafkaOffset(topic, FileKafka.resolveOffsets(dir, topic, starting, "earliest"))

      override def getDefaultReadLimit: ReadLimit =
        maxPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

      override def latestOffset(): Offset =
        throw new UnsupportedOperationException(
          "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

      /** Cap this micro-batch at `maxRows`, prorated over the lagging
        * partitions — the buffer_size admission analogue. */
      override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
        val end = availableNowTarget.getOrElse(FileKafka.latestOffsets(dir, topic))
        FileKafkaOffset(topic, limit match {
          case m: ReadMaxRows =>
            FileKafka.rateLimit(m.maxRows(), start.asInstanceOf[FileKafkaOffset].parts, end)
          case _ => end
        })
      }

      override def deserializeOffset(json: String): Offset =
        FileKafkaOffset(topic, FileKafka.resolveOffsets(dir, topic, json, "earliest"))

      override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
        plan(start.asInstanceOf[FileKafkaOffset].parts,
          end.asInstanceOf[FileKafkaOffset].parts)

      override def createReaderFactory(): PartitionReaderFactory =
        new FileKafkaReaderFactory

      override def commit(end: Offset): Unit = ()
      override def stop(): Unit = ()
    }
}

private[sources] class FileKafkaTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"filekafka:${options.get("topic")}"
  override def schema(): StructType = FileKafka.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder { override def build(): Scan = new FileKafkaScan(options) }
}

/** `format("filekafka")` provider. */
class FileKafkaProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "filekafka"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = FileKafka.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new FileKafkaTable(new CaseInsensitiveStringMap(properties))
}
