package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Test access to the package-private FileKafka partition reader —
  * lets specs plan slices directly (including offsets past
  * Int.MaxValue, where the pre-round-3 `.toInt` slice silently
  * wrapped and replayed from a bogus position) — and to the
  * streaming reader's admission step. */
object FileKafkaProbe {

  /** End offsets the next micro-batch reads from `start`, as the
    * streaming reader admits them under `maxOffsetsPerTrigger`. */
  def nextBatchEnd(dir: String, topic: String, maxOffsetsPerTrigger: Long,
                   start: Map[Int, Long]): Map[Int, Long] = {
    val stream = new FileKafkaScan(new CaseInsensitiveStringMap(Map(
        "path" -> dir, "topic" -> topic,
        "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString).asJava))
      .toMicroBatchStream("unused").asInstanceOf[SupportsAdmissionControl]
    stream.latestOffset(FileKafkaOffset(topic, start), stream.getDefaultReadLimit)
      .asInstanceOf[FileKafkaOffset].parts
  }

  def readSlice(file: String, topic: String, partition: Int,
                start: Long, end: Long): Seq[(Long, String)] = {
    val reader = new FileKafkaReaderFactory()
      .createReader(FileKafkaInputPartition(file, topic, partition, start, end))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    try
      while (reader.next()) {
        val r = reader.get()
        val v = if (r.isNullAt(1)) null else new String(r.getBinary(1), "UTF-8")
        out += ((r.getLong(4), v))
      }
    finally reader.close()
    out.toSeq
  }
}
