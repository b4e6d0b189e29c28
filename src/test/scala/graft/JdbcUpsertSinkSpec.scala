package graft

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, DriverPropertyInfo, PreparedStatement, SQLException}
import java.util.Properties
import java.util.concurrent.atomic.AtomicInteger

import graft.sinks.JdbcUpsertSink
import graft.sinks.JdbcUpsertSink._

/** A JDBC driver for `jdbc:flaky:<rest>` URLs that opens `jdbc:<rest>`
  * and makes the next [[FlakyDriver.failures]] `executeBatch` calls
  * fail AFTER the inner batch ran — a connection lost before the
  * acknowledgement, so a retry without rollback would apply the rows
  * twice. */
final class FlakyDriver extends java.sql.Driver {
  import FlakyDriver._
  override def acceptsURL(url: String): Boolean = url != null && url.startsWith(prefix)
  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else proxy(classOf[Connection],
      DriverManager.getConnection("jdbc:" + url.stripPrefix(prefix), info)) {
        case (c, m, args) if m.getName == "prepareStatement" =>
          proxy(classOf[PreparedStatement], call(c, m, args)) {
            case (ps, m2, args2) if m2.getName == "executeBatch" =>
              attempts.incrementAndGet()
              val out = call(ps, m2, args2)
              if (failures.getAndDecrement() > 0) throw new SQLException("connection reset")
              out
            case (ps, m2, args2) => call(ps, m2, args2)
          }
        case (c, m, args) =>
          if (m.getName == "rollback") rollbacks.incrementAndGet()
          call(c, m, args)
      }
  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getLogger("flaky")
}

object FlakyDriver {
  val prefix = "jdbc:flaky:"
  val failures = new AtomicInteger()
  val attempts = new AtomicInteger()
  val rollbacks = new AtomicInteger()
  private lazy val registered: Unit = DriverManager.registerDriver(new FlakyDriver)

  /** Arm the next `n` batch failures and zero the counters. */
  def arm(n: Int): Unit = {
    registered
    failures.set(n); attempts.set(0); rollbacks.set(0)
  }

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def proxy[T](iface: Class[T], target: AnyRef)(
      h: PartialFunction[(AnyRef, Method, Array[AnyRef]), AnyRef]): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          h((target, m, args))
      }).asInstanceOf[T]
}

class JdbcUpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  test("REPLACE INTO sql matches the reference sink shape") {
    val sql = buildSql("ods.walmart_order", Seq("purchaseOrderId", "sku", "qty"), Replace)
    assert(sql == "REPLACE INTO ods.walmart_order (purchaseOrderId, sku, qty) VALUES (?, ?, ?)")
  }

  test("ON DUPLICATE KEY UPDATE sql lists every column") {
    val sql = buildSql("t", Seq("a", "b"), OnDuplicate)
    assert(sql == "INSERT INTO t (a, b) VALUES (?, ?) " +
      "ON DUPLICATE KEY UPDATE a = VALUES(a), b = VALUES(b)")
  }

  test("MERGE sql keys on the PK and updates non-keys") {
    val sql = buildSql("t", Seq("id", "v"), Merge(Seq("id")))
    assert(sql.contains("MERGE INTO t t USING"))
    assert(sql.contains("ON t.id = s.id"))
    assert(sql.contains("WHEN MATCHED THEN UPDATE SET t.v = s.v"))
    assert(sql.contains("WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"))
  }

  private val url = "jdbc:derby:memory:graftsink;create=true"

  test("derby integration: append, upsert idempotence, batch flush") {
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE orders_t (id BIGINT NOT NULL PRIMARY KEY, name VARCHAR(50), amount DOUBLE)")
    conn.close()

    val sink = new JdbcUpsertSink(url, "orders_t", UpdateInsert(Seq("id")), batchSize = 2)
    val df1 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "amount")
    sink.write(df1)

    def all(): Map[Long, (String, Double)] = {
      val c = DriverManager.getConnection(url)
      val rs = c.createStatement().executeQuery("SELECT id, name, amount FROM orders_t")
      val b = scala.collection.mutable.Map[Long, (String, Double)]()
      while (rs.next()) b += rs.getLong(1) -> (rs.getString(2), rs.getDouble(3))
      c.close(); b.toMap
    }
    assert(all() == Map(1L -> ("a", 10.0), 2L -> ("b", 20.0), 3L -> ("c", 30.0)))

    // replay the same batch plus an update — upsert must be idempotent
    val df2 = Seq((1L, "a", 10.0), (2L, "B2", 99.0), (4L, "d", 40.0))
      .toDF("id", "name", "amount")
    sink.write(df2)
    sink.write(df2) // second replay: microbatch retry simulation
    assert(all() == Map(1L -> ("a", 10.0), 2L -> ("B2", 99.0),
      3L -> ("c", 30.0), 4L -> ("d", 40.0)))
  }

  test("derby integration: nulls and timestamps bind correctly") {
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE typed_t (id BIGINT NOT NULL PRIMARY KEY, s VARCHAR(10), ts TIMESTAMP, d DECIMAL(10,2))")
    conn.close()
    val sink = new JdbcUpsertSink(url, "typed_t", UpdateInsert(Seq("id")))
    val df = Seq(
      (1L, Some("x"), Some(java.sql.Timestamp.valueOf("2025-10-01 05:00:00")), Some(BigDecimal("12.34"))),
      (2L, None, None, None))
      .toDF("id", "s", "ts", "d")
      .selectExpr("id", "s", "ts", "cast(d as decimal(10,2)) as d")
    sink.write(df)
    val c = DriverManager.getConnection(url)
    val rs = c.createStatement().executeQuery("SELECT s, ts, d FROM typed_t WHERE id = 2")
    rs.next()
    assert(rs.getString(1) == null && rs.getTimestamp(2) == null && rs.getBigDecimal(3) == null)
    val rs2 = c.createStatement().executeQuery("SELECT d FROM typed_t WHERE id = 1")
    rs2.next()
    assert(rs2.getBigDecimal(1).doubleValue() == 12.34)
    c.close()
  }

  /** Append ids 1-5, two rows a batch, through [[FlakyDriver]] with
    * `failures` armed and maxRetries = 3. */
  private def flakyWrite(table: String, failures: Int): Unit = {
    val c = DriverManager.getConnection(url)
    // no key: rows applied twice by a retry without rollback would show
    c.createStatement().execute(s"CREATE TABLE $table (id BIGINT, v VARCHAR(10))")
    c.close()
    FlakyDriver.arm(failures)
    new JdbcUpsertSink(FlakyDriver.prefix + url.stripPrefix("jdbc:"), table, Append,
      batchSize = 2, maxRetries = 3, backoffMs = 1L)
      .write((1L to 5L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
  }

  private def rowsOf(table: String): Seq[(Long, String)] = {
    val c = DriverManager.getConnection(url)
    val rs = c.createStatement().executeQuery(s"SELECT id, v FROM $table")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    while (rs.next()) got += ((rs.getLong(1), rs.getString(2)))
    c.close()
    got.sorted.toSeq
  }

  test("retry: k < maxRetries batch failures commit every row exactly once") {
    flakyWrite("flaky_ok", failures = 2)
    assert(rowsOf("flaky_ok") == (1L to 5L).map(i => (i, s"v$i")))
    assert(FlakyDriver.rollbacks.get == 2 && FlakyDriver.attempts.get == 3 + 2)
  }

  test("retry: more than maxRetries batch failures fail the batch and commit nothing") {
    val e = intercept[Exception](flakyWrite("flaky_bad", failures = 100))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("connection reset")), e)
    // the first attempt plus maxRetries, each rolled back
    assert(FlakyDriver.attempts.get == 4 && FlakyDriver.rollbacks.get == 4)
    assert(rowsOf("flaky_bad").isEmpty)
  }
}
