package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

object Metrics {
  /** Executor-side totals of a set of Spark jobs as `exec.*` values. */
  def exec(t: ExecTotals): Map[String, Double] = Map(
    "exec.jobs" -> t.jobs.toDouble, "exec.stages" -> t.stages.toDouble,
    "exec.tasks" -> t.tasks.toDouble, "exec.cpu_s" -> t.cpuS, "exec.run_s" -> t.runS,
    "exec.gc_s" -> t.gcS, "exec.shuffle_write_bytes" -> t.shuffleWriteBytes.toDouble,
    "exec.shuffle_read_bytes" -> t.shuffleReadBytes.toDouble,
    "exec.spill_bytes" -> t.spillBytes.toDouble)

  /** The end-to-end metrics every workload reports (units and meaning
    * per workload in BENCHMARK.json and the README). */
  def endToEnd(setupS: Seq[Double], passS: Double, opMs: Seq[Double],
               opsPerS: Double): Map[String, Double] = Map(
    "setup_s" -> Stats.median(setupS), "pass_s" -> passS,
    "op_p50_ms" -> Stats.median(opMs), "op_p90_ms" -> Stats.percentile(opMs, 0.9),
    "ops_per_s" -> opsPerS)
}

/** A query result to compare against its DuckDB oracle: `resultDir`
  * holds the parquet the engine produced over the tables in
  * `tablesDir`; a mismatch fails `executions` operations. */
final case class OracleCheck(name: String, sql: String, tablesDir: String, resultDir: String,
                             executions: Int)

/** What one workload run measured and checked. */
final case class Outcome(attempted: Long, failed: Long, endToEnd: Map[String, Double],
                         layers: Map[String, Double], report: Seq[(String, Any)],
                         oracle: Seq[OracleCheck] = Nil, errors: Seq[String] = Nil)

/** State shared by the workloads of one run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val traced: Boolean, val work: Path) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer
  val recorder: Option[SparkRecorder] =
    if (!traced) None
    else {
      val r = new SparkRecorder(tracer)
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
      Some(r)
    }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Every span of the run: the benchmark's calls plus the jobs and
    * Catalyst phases the listeners saw, nested by time. Read once the
    * workload is done. */
  lazy val spans: Seq[Span] =
    Spans.nest(tracer.all ++ recorder.map(_.spans(tracer)).getOrElse(Nil))

  /** Self time per layer (`self.<layer>_s`) and in total under the
    * spans `roots`, per unit of work when `units` units were traced. */
  def selfTimes(roots: Set[Int], units: Int): Map[String, Double] = {
    val self = Spans.layerSelfMs(spans, roots)
    val n = math.max(1, units)
    self.map { case (l, ms) => s"self.${l}_s" -> ms / 1e3 / n } +
      ("trace.self_sum_s" -> self.values.sum / 1e3 / n)
  }

  /** Run `body` with tracing on (when `on`), then wait for the
    * listeners to catch up before switching it off again. */
  def tracing[T](on: Boolean)(body: => T): T = {
    tracer.on = on && traced
    try body
    finally {
      if (tracer.on) drain()
      tracer.on = false
    }
  }

  /** A fresh directory under the run's work directory. */
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }

  def deadlineAfter(start: Double): Double = start + seconds * 1000.0
}

object Main {
  private val t0 = Clock.nowMs
  /** Progress line in the run's log, stamped with seconds since start. */
  def log(msg: String): Unit = println(f"[perfbench ${(Clock.nowMs - t0) / 1e3}%7.2f] $msg")

  def usage(): Nothing = {
    System.err.println("usage: perfbench.Main --workload <dedup|pipeline|admission> " +
      "--seed <n> --seconds <s> --trace <0|1> --work <dir>")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", usage())
    val seed = opts.get("seed").flatMap(_.toLongOption).getOrElse(usage())
    val seconds = opts.get("seconds").flatMap(_.toDoubleOption).getOrElse(usage())
    val traced = opts.get("trace").contains("1")
    val work = Paths.get(opts.getOrElse("work", usage())).toAbsolutePath
    val run: Ctx => Outcome = workload match {
      case "dedup" => Dedup.run
      case "pipeline" => Pipeline.run
      case "admission" => Admission.run
      case _ => usage()
    }
    Files.createDirectories(work)
    val loadStart = loadavg()
    val t0 = Clock.nowMs
    val spark = graft.GraftSession.local("perfbench")
    val sessionS = (Clock.nowMs - t0) / 1e3
    val ctx = new Ctx(spark, seed, seconds, traced, work)
    val out = try run(ctx) finally {
      if (traced) Spans.writeJsonl(ctx.spans, work.resolve("spans.jsonl"))
    }
    val jvm = jvmMetrics()
    val result = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> (if (traced) out.layers ++ jvm else out.endToEnd),
      "health" -> (Map[String, Any](
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "cores_used" -> ctx.cores,
        "loadavg_start" -> loadStart,
        "loadavg_end" -> loadavg(),
        "session_start_s" -> sessionS) ++
        out.report.collect { case (k @ "generator_max_lateness_ms", v) => k -> v } ++
        out.layers.get("trace.overhead_s").map("trace_overhead_s" -> _)),
      "report" -> Json.Raw(Json.obj(out.report)),
      "errors" -> out.errors,
      "oracle" -> out.oracle.map(c => Map("name" -> c.name, "sql" -> c.sql,
        "tables_dir" -> c.tablesDir, "result_dir" -> c.resultDir, "executions" -> c.executions))))
    Files.write(work.resolve("result.json"), result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim
    catch { case _: java.io.IOException => "" }

  /** Peak heap and total collector time of this JVM. */
  def jvmMetrics(): Map[String, Double] = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    Map("jvm.heap_peak_mb" -> heapPeak / 1048576.0, "jvm.gc_s" -> gcMs / 1e3)
  }
}
