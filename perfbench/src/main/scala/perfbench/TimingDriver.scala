package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, DriverPropertyInfo, PreparedStatement, Statement}
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

/** A JDBC driver for `jdbc:perfbench:<rest>` URLs that opens
  * `jdbc:<rest>` (embedded Derby here) and counts and times what the
  * sink does through it: statement executions, commits, rollbacks and
  * the rows each UPDATE matched. It measures the sink layer from
  * outside, without touching the sink. */
final class TimingDriver extends java.sql.Driver {
  import TimingDriver._

  override def acceptsURL(url: String): Boolean = url != null && url.startsWith(prefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val inner = DriverManager.getConnection("jdbc:" + url.stripPrefix(prefix), info)
      proxy(classOf[Connection], inner, new ConnectionHandler(inner))
    }

  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getLogger("perfbench")
}

object TimingDriver {
  val prefix = "jdbc:perfbench:"

  val executeNs = new AtomicLong()
  val commitNs = new AtomicLong()
  val statements = new AtomicLong()
  val rollbacks = new AtomicLong()
  val updatesIssued = new AtomicLong()
  val updatesMatched = new AtomicLong()

  final case class Snapshot(executeMs: Double, commitMs: Double, statements: Long,
                            rollbacks: Long, updatesIssued: Long, updatesMatched: Long)
  def snapshot(): Snapshot = Snapshot(executeNs.get / 1e6, commitNs.get / 1e6, statements.get,
    rollbacks.get, updatesIssued.get, updatesMatched.get)

  def reset(): Unit =
    Seq(executeNs, commitNs, statements, rollbacks, updatesIssued, updatesMatched).foreach(_.set(0))

  private lazy val registered: Unit = DriverManager.registerDriver(new TimingDriver)
  def register(): Unit = registered

  private def proxy[T](iface: Class[T], target: AnyRef, h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), h).asInstanceOf[T]

  private def invoke(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def timed(counter: AtomicLong)(body: => AnyRef): AnyRef = {
    val t0 = System.nanoTime()
    try body finally counter.addAndGet(System.nanoTime() - t0)
  }

  private final class ConnectionHandler(inner: Connection) extends InvocationHandler {
    override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
      case "commit" => timed(commitNs)(TimingDriver.invoke(inner, m, args))
      case "rollback" =>
        rollbacks.incrementAndGet()
        TimingDriver.invoke(inner, m, args)
      case "prepareStatement" =>
        val ps = TimingDriver.invoke(inner, m, args).asInstanceOf[PreparedStatement]
        val sql = String.valueOf(args(0)).trim.toUpperCase(java.util.Locale.ROOT)
        proxy(classOf[PreparedStatement], ps, new StatementHandler(ps, sql.startsWith("UPDATE")))
      case _ => TimingDriver.invoke(inner, m, args)
    }
  }

  private final class StatementHandler(inner: Statement, isUpdate: Boolean)
      extends InvocationHandler {
    override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
      case "executeUpdate" =>
        statements.incrementAndGet()
        val n = timed(executeNs)(TimingDriver.invoke(inner, m, args)).asInstanceOf[Integer]
        if (isUpdate) {
          updatesIssued.incrementAndGet()
          if (n.intValue > 0) updatesMatched.incrementAndGet()
        }
        n
      case "executeBatch" | "executeLargeBatch" | "execute" | "executeQuery" =>
        statements.incrementAndGet()
        timed(executeNs)(TimingDriver.invoke(inner, m, args))
      case _ => TimingDriver.invoke(inner, m, args)
    }
  }
}
