package graft.sinks

import java.sql.{Connection, DriverManager, PreparedStatement, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Batched JDBC upsert sink — the reference's production sink
  * (SURVEY.md §2.2 K6: 52-column REPLACE INTO with batch/interval/
  * retries, flink5_process_and_sink_jdbc.py:129-198; non-Flink loader
  * upsert semantics kafka_load_to_mysql.py:208-234).
  *
  * Spark's own `df.write.jdbc` has no upsert mode, so this is the one
  * hand-written sink: executed inside `foreachPartition` on the
  * executors (driver never sees rows), one connection and one
  * PreparedStatement per partition, `addBatch`/`executeBatch` every
  * `batchSize` rows, linear retry with backoff per batch
  * (unified_mysql.py:135-157 pattern).
  *
  * Four modes: MySQL `Replace` and `OnDuplicate`, the portable
  * two-statement `UpdateInsert`, and plain `Append`. Idempotence: an
  * upsert keyed on the PK makes microbatch replays effectively
  * exactly-once (ST5) — same trick as the reference's REPLACE INTO.
  *
  * For streaming use: `writeStream.foreachBatch { (df, id) =>
  * sink.write(df) }`.
  */
object JdbcUpsertSink {

  sealed trait Mode
  /** MySQL `REPLACE INTO` — delete+insert upsert (the reference default). */
  case object Replace extends Mode
  /** MySQL `INSERT ... ON DUPLICATE KEY UPDATE`. */
  case object OnDuplicate extends Mode
  /** Portable upsert: batched UPDATE by key, then INSERT the rows the
    * update missed (works on any JDBC engine, e.g. Derby, whose MERGE
    * rejects derived-table sources). */
  case class UpdateInsert(keyCols: Seq[String]) extends Mode
  /** Plain INSERT (no upsert). */
  case object Append extends Mode

  /** Build the parameterized DML for `table` with `cols`.
    *
    * Note: `UpdateInsert` is a two-statement mode — this returns only
    * the UPDATE half; the INSERT half is `buildSql(table, cols, Append)`
    * (the sink's write loop pairs them). It requires at least one
    * non-key column, since `UPDATE t SET <nothing>` is not SQL —
    * all-key rows need `Append`/`Replace` instead. */
  def buildSql(table: String, cols: Seq[String], mode: Mode): String = {
    val colList = cols.mkString(", ")
    val qs = cols.map(_ => "?").mkString(", ")
    mode match {
      case Replace =>
        s"REPLACE INTO $table ($colList) VALUES ($qs)"
      case OnDuplicate =>
        val updates = cols.map(c => s"$c = VALUES($c)").mkString(", ")
        s"INSERT INTO $table ($colList) VALUES ($qs) ON DUPLICATE KEY UPDATE $updates"
      case UpdateInsert(keys) =>
        updateSql(table, cols, keys) // the INSERT half comes from Append
      case Append =>
        s"INSERT INTO $table ($colList) VALUES ($qs)"
    }
  }

  private[sinks] def updateSql(table: String, cols: Seq[String], keys: Seq[String]): String = {
    require(cols.exists(c => !keys.contains(c)),
      s"UpdateInsert mode needs at least one non-key column to SET " +
        s"(all of ${cols.mkString(", ")} are keys); use Append or Replace")
    val sets = cols.filterNot(keys.contains).map(c => s"$c = ?").mkString(", ")
    val cond = keys.map(k => s"$k = ?").mkString(" AND ")
    s"UPDATE $table SET $sets WHERE $cond"
  }

  private def bindValue(ps: PreparedStatement, j: Int, row: Row, i: Int,
                        dt: DataType): Unit = {
    if (row.isNullAt(i)) {
      ps.setObject(j, null)
    } else dt match {
      case LongType => ps.setLong(j, row.getLong(i))
      case IntegerType => ps.setInt(j, row.getInt(i))
      case DoubleType => ps.setDouble(j, row.getDouble(i))
      case FloatType => ps.setFloat(j, row.getFloat(i))
      case BooleanType => ps.setBoolean(j, row.getBoolean(i))
      case StringType => ps.setString(j, row.getString(i))
      case _: DecimalType => ps.setBigDecimal(j, row.getDecimal(i))
      case TimestampType => ps.setTimestamp(j, row.getAs[Timestamp](i))
      case TimestampNTZType =>
        ps.setTimestamp(j, Timestamp.valueOf(row.getAs[java.time.LocalDateTime](i)))
      case DateType => ps.setDate(j, row.getAs[java.sql.Date](i))
      case _ => ps.setObject(j, row.get(i))
    }
  }

  /** Bind the named columns (in the given order) of one row. */
  private[sinks] def bindCols(ps: PreparedStatement, row: Row, schema: StructType,
                              cols: Seq[String]): Unit =
    cols.zipWithIndex.foreach { case (c, k) =>
      val i = schema.fieldIndex(c)
      bindValue(ps, k + 1, row, i, schema(i).dataType)
    }

  /** JDBC setter for one row in schema order. */
  private[sinks] def bindRow(ps: PreparedStatement, row: Row, schema: StructType): Unit =
    bindCols(ps, row, schema, schema.fieldNames.toSeq)
}

/** @param url        JDBC url (credentials via `props`)
  * @param table      fully qualified target table
  * @param mode       upsert dialect (Replace for MySQL parity)
  * @param batchSize  rows per executeBatch (reference presets: 10
  *                   reliability / 100 throughput / 1000 utils default)
  * @param maxRetries per-batch retry attempts, linear backoff
  *                   (3 / 1s·attempt — unified_mysql.py:135-157)
  */
class JdbcUpsertSink(
    url: String,
    table: String,
    mode: JdbcUpsertSink.Mode = JdbcUpsertSink.Replace,
    batchSize: Int = 100,
    maxRetries: Int = 3,
    backoffMs: Long = 1000L,
    props: Map[String, String] = Map.empty) extends Serializable {

  import JdbcUpsertSink._

  private def connect(): Connection = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    DriverManager.getConnection(url, p)
  }

  /** Write a (micro)batch. Call from `foreachBatch` for streaming or
    * directly for batch DataFrames. */
  def write(df: DataFrame): Unit = {
    val schema = df.schema
    val (bs, retries, backoff, m) = (batchSize, maxRetries, backoffMs, mode)
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val conn = connect()
        conn.setAutoCommit(false)
        try {
          val allCols = schema.fieldNames.toSeq
          // one shot per buffered batch; UpdateInsert needs two statements
          val runBatch: (Seq[Row], Connection) => Unit = m match {
            case UpdateInsert(keys) =>
              val updSql = updateSql(table, allCols, keys)
              val insSql = buildSql(table, allCols, Append)
              val updOrder = allCols.filterNot(keys.contains) ++ keys
              val keyIdx = keys.map(schema.fieldIndex)
              (batch0, c) => {
                // last-wins per key within the batch (REPLACE semantics):
                // two INSERTs for the same new key would violate the PK
                val byKey = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Row]
                batch0.foreach(r => byKey(keyIdx.map(r.get)) = r)
                val batch = byKey.values.toSeq
                val upd = c.prepareStatement(updSql)
                val ins = c.prepareStatement(insSql)
                try {
                  // updates run per-row: executeUpdate counts are reliable
                  // on every driver, whereas executeBatch may return
                  // SUCCESS_NO_INFO (e.g. MySQL rewriteBatchedStatements)
                  // and misroute rows to INSERT. UpdateInsert is the
                  // portability mode — the batched fast paths are
                  // Replace/OnDuplicate.
                  val missed = batch.filter { r =>
                    bindCols(upd, r, schema, updOrder)
                    upd.executeUpdate() == 0
                  }
                  missed.foreach { r => bindRow(ins, r, schema); ins.addBatch() }
                  if (missed.nonEmpty) { ins.executeBatch(); () }
                } finally { upd.close(); ins.close() }
              }
            case _ =>
              val sql = buildSql(table, allCols, m)
              (batch, c) => {
                val ps = c.prepareStatement(sql)
                try {
                  batch.foreach { r => bindRow(ps, r, schema); ps.addBatch() }
                  ps.executeBatch()
                  ()
                } finally ps.close()
              }
          }
          val buffer = new scala.collection.mutable.ArrayBuffer[Row](bs)
          def flush(): Unit = if (buffer.nonEmpty) {
            var attempt = 0
            var done = false
            while (!done) {
              try {
                runBatch(buffer.toSeq, conn)
                conn.commit()
                done = true
              } catch {
                case _: java.sql.SQLException if attempt < retries =>
                  attempt += 1
                  try conn.rollback() catch { case _: java.sql.SQLException => () }
                  Thread.sleep(backoff * attempt)
                case e: Throwable =>
                  try conn.rollback() catch { case _: java.sql.SQLException => () }
                  throw e
              }
            }
            buffer.clear()
          }
          rows.foreach { r =>
            buffer += r
            if (buffer.size >= bs) flush()
          }
          flush()
        } finally conn.close()
      }
    }
  }

  /** foreachBatch adapter: `ds.writeStream.foreachBatch(sink.asForeachBatch)`. */
  def asForeachBatch: (DataFrame, Long) => Unit = (df, _) => write(df)
}
