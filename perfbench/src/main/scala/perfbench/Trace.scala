package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch
  * milliseconds with sub-millisecond fractions. `parent` is the id of
  * the span that caused this one; -1 means "the innermost span that
  * contains my start", resolved by [[Spans.nest]]. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startMs: Double, endMs: Double, kind: String = "call",
                      attrs: Map[String, String] = Map.empty) {
  def durMs: Double = endMs - startMs
}

object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds on the monotonic clock. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans recorded by the benchmark's own code around each call into a
  * layer. Kept in memory; written out once at exit. While off, [[span]]
  * only runs its body and the listeners drop their events, so traced
  * and untraced passes can alternate in one process. */
final class Tracer {
  @volatile var on: Boolean = false
  private val ids = new AtomicInteger(0)
  private val buf = ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def nextId(): Int = ids.incrementAndGet()

  def add(s: Span): Unit = buf.synchronized { buf += s }

  /** Time `body` as a span of `layer`; nested calls on the same thread
    * become its children. */
  def span[T](layer: String, name: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      val id = nextId()
      val parent = stack.get().headOption.getOrElse(-1)
      stack.set(id :: stack.get())
      val t0 = Clock.nowMs
      try body
      finally {
        add(Span(id, parent, layer, name, t0, Clock.nowMs, "call", attrs))
        stack.set(stack.get().tail)
      }
    }

  def all: Seq[Span] = buf.synchronized { buf.toVector }
}

/** Pure computations over recorded spans. */
object Spans {

  def writeJsonl(spans: Seq[Span], path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "kind" -> s.kind, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "attrs" -> s.attrs))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Which kinds of span may contain a span of a given kind when its
    * parent is resolved by time: a Spark job never nests in another job
    * that happened to be running, only in the call or phase it served. */
  private val hosts: Map[String, Set[String]] = Map(
    "call" -> Set("call", "phase"),
    "job" -> Set("call", "phase"),
    "phase" -> Set("call", "batch"),
    "batch" -> Set("call"))

  /** Resolve every `parent = -1` to the shortest allowed span whose
    * interval holds the span's start (0 = top level). */
  def nest(spans: Seq[Span]): Seq[Span] = {
    val byKind = spans.groupBy(_.kind)
    spans.map { s =>
      if (s.parent != -1) s
      else {
        val cands = hosts.getOrElse(s.kind, Set.empty).toSeq.flatMap(k => byKind.getOrElse(k, Nil))
          .filter(c => c.id != s.id && c.startMs <= s.startMs && s.startMs < c.endMs &&
            c.durMs >= s.durMs)
        s.copy(parent = if (cands.isEmpty) 0 else cands.minBy(c => (c.durMs, -c.id)).id)
      }
    }
  }

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its children cover (overlapping children counted once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      s.id -> math.max(0.0, s.durMs - covered(c, s.startMs, s.endMs))
    }.toMap
  }

  /** Self time summed per layer, over the spans under `roots` (inclusive). */
  def layerSelfMs(spans: Seq[Span], roots: Set[Int]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    val self = selfTimes(spans)
    val byId = spans.map(s => s.id -> s).toMap
    val out = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    def walk(id: Int): Unit = {
      val s = byId(id)
      out(s.layer) += self(id)
      kids.getOrElse(id, Nil).foreach(k => walk(k.id))
    }
    roots.foreach(walk)
    out.toMap
  }
}

/** Counters of one Spark job, filled from the task-end events. */
final class JobRec(val id: Int, val group: String, val startMs: Long, val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
}

/** Sums over a set of jobs. */
final case class ExecTotals(jobs: Int, stages: Int, tasks: Long, cpuS: Double, runS: Double,
                            gcS: Double, shuffleWriteBytes: Long, shuffleReadBytes: Long,
                            spillBytes: Long)
object ExecTotals {
  def of(js: Seq[JobRec]): ExecTotals = ExecTotals(js.size, js.map(_.stages).sum,
    js.map(_.tasks).sum, js.map(_.cpuNs).sum / 1e9, js.map(_.runMs).sum / 1e3,
    js.map(_.gcMs).sum / 1e3, js.map(_.shuffleWriteBytes).sum,
    js.map(_.shuffleReadBytes).sum, js.map(_.spillBytes).sum)
}

/** Spark's public listeners, recording jobs with their task metrics,
  * persisted-block bytes and Catalyst phase times while the tracer is
  * on. Registered only in traced runs. */
final class SparkRecorder(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile private var blockBytes = 0L
  @volatile var peakBlockBytes = 0L
  /** (phase, startMs, endMs) of every planned query. */
  val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracer.on) {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val rec = new JobRec(e.jobId, group, e.time, e.stageIds)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach(j => j.synchronized { j.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (tracer.on) {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val old = Option(blocks.put(info.blockId.name, size)).getOrElse(0L)
      blockBytes += size - old
      peakBlockBytes = math.max(peakBlockBytes, blockBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = if (tracer.on)
    qe.tracker.phases.foreach { case (name, p) => phases.add((name, p.startTimeMs, p.endTimeMs)) }

  def allJobs: Seq[JobRec] = jobs.values.asScala.toVector.sortBy(_.id)

  /** Jobs that started in [fromMs, toMs]. */
  def jobsIn(fromMs: Double, toMs: Double): Seq[JobRec] =
    allJobs.filter(j => j.startMs >= fromMs - 1 && j.startMs <= toMs + 1)

  /** Jobs and Catalyst phases as spans, to be nested under the calls. */
  def spans(tracer: Tracer): Seq[Span] =
    allJobs.map(j => Span(tracer.nextId(), -1, "exec", s"job ${j.id}", j.startMs.toDouble,
      math.max(j.startMs, if (j.endMs < 0) j.startMs else j.endMs).toDouble, "job",
      Map("group" -> j.group))) ++
    phases.asScala.toVector.map { case (n, a, b) =>
      Span(tracer.nextId(), -1, "catalyst", n, a.toDouble, b.toDouble, "phase")
    }

  /** Phase name → total ms over phases that started in [fromMs, toMs]. */
  def phaseMs(fromMs: Double, toMs: Double): Map[String, Double] =
    phases.asScala.toVector.filter { case (_, a, _) => a >= fromMs - 1 && a <= toMs + 1 }
      .groupBy(_._1).map { case (k, v) => k -> v.map(p => (p._3 - p._2).toDouble).sum }
}
