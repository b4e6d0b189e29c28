package perfbench

import java.sql.DriverManager
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.model.WalmartOrderSchema
import graft.pipelines.WalmartOrderPipeline
import graft.sinks.JdbcUpsertSink
import graft.sources.FileKafka

/** `pipeline`: the reference's order pipeline, composed from the
  * engine's public pieces — `FileKafka.stream` (3 partitions) →
  * `WalmartOrderPipeline.parse` → `JdbcUpsertSink.asForeachBatch` in
  * UpdateInsert mode on embedded in-memory Derby, reached through
  * [[TimingDriver]].
  *
  * Phase 1 (closed loop): drain a pre-produced backlog with
  * `Trigger.AvailableNow` and a fixed `maxOffsetsPerTrigger`.
  * Phase 2 (open loop): one producer thread appends orders on a
  * schedule of [[offeredRowsPerS]] sink rows per second while the
  * query runs on the default 1 s processing-time trigger; each record
  * is timed from when it was due to the commit of the micro-batch that
  * held it. */
object Pipeline {
  val topic = "walmart_order_raw"
  val backlogMessages = 4000
  val maxOffsetsPerTrigger = 1500L
  val warmMessages = 500
  val offeredRowsPerS = 1000.0
  /** Length of the open-loop phase. */
  val liveSeconds = 4.0
  val liveMessages = 6000
  val table = "APP.WALMART_ORDER"

  /** A progress report of one micro-batch. */
  final case class Batch(id: Long, startMs: Double, durations: Map[String, Long],
                         rows: Long, endOffsets: Map[Int, Long])

  /** Micro-batch progress, kept in memory from the streaming listener. */
  final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[(String, Batch)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ends = p.sources.headOption.map(s => offsets(s.endOffset)).getOrElse(Map.empty)
      batches.add(p.name -> Batch(p.batchId, Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, ends))
    }
    def of(name: String): Seq[Batch] =
      batches.asScala.toVector.collect { case (n, b) if n == name => b }.sortBy(_.id)
  }

  /** Partition → offset from a FileKafka offset JSON. */
  def offsets(json: String): Map[Int, Long] =
    if (json == null) Map.empty
    else """"(\d+)"\s*:\s*(\d+)""".r.findAllMatchIn(json)
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap

  /** Commit time of the batch holding each record, by offset range:
    * record (p, o) is in the first batch whose end offset for p exceeds o. */
  def commitTimes(batches: Seq[Batch], records: Seq[(Int, Long)]): Seq[Option[Double]] = {
    val ends = batches.filter(_.durations.contains("triggerExecution"))
      .map(b => (b.endOffsets, b.startMs + b.durations("triggerExecution")))
    records.map { case (p, o) => ends.find(_._1.getOrElse(p, -1L) > o).map(_._2) }
  }

  private def produceAll(ctx: Ctx, dir: String, msgs: Seq[Gen.OrderMessage], dueMs: Long): Seq[(Int, Long)] = {
    val offs = mutable.Map[Int, Seq[Long]]()
    msgs.zipWithIndex.groupBy(_._1.partition).foreach { case (p, ms) =>
      offs(p) = ctx.tracer.span("sources", s"produce p$p")(FileKafka.produce(dir, topic, p,
        ms.map { case (m, _) => (null: Array[Byte], m.json.getBytes("UTF-8")) },
        dueMs))
    }
    val cursor = mutable.Map[Int, Int]().withDefaultValue(0)
    msgs.map { m => val o = offs(m.partition)(cursor(m.partition)); cursor(m.partition) += 1; (m.partition, o) }
  }

  private def createTopic(dir: String): Unit =
    (0 until Gen.partitions).foreach(p => FileKafka.produce(dir, topic, p, Nil))

  private def createTable(db: String): Unit = {
    val c = DriverManager.getConnection(s"jdbc:derby:memory:$db;create=true")
    try c.createStatement().execute(WalmartOrderSchema.ansiDdl("APP", "WALMART_ORDER"))
    finally c.close()
  }

  /** Start the composed pipeline on `dir` into Derby database `db`. */
  private def start(ctx: Ctx, name: String, dir: String, db: String, trigger: Trigger,
                    maxOffsets: Option[Long]) = {
    val sink = new JdbcUpsertSink(s"${TimingDriver.prefix}derby:memory:$db", table,
      JdbcUpsertSink.UpdateInsert(Seq("purchaseOrderId", "sku")), batchSize = 100)
    val write = sink.asForeachBatch
    val raw = ctx.tracer.span("sources", "stream")(FileKafka.stream(ctx.spark, dir, topic,
      "earliest", maxOffsets))
    WalmartOrderPipeline.parse(raw.selectExpr("CAST(value AS STRING) AS value"))
      .writeStream.queryName(name)
      .foreachBatch { (df: DataFrame, id: Long) =>
        ctx.tracer.span("sinks", s"write $name $id")(write(df, id))
      }
      .option("checkpointLocation", ctx.dir(s"checkpoints/$name"))
      .trigger(trigger)
      .start()
  }

  /** Drain the backlog in `dir`; returns the wall (s), the sink rows
    * upserted, and the start and end (epoch ms). */
  private def drain(ctx: Ctx, name: String, dir: String, db: String): (Double, Long, Double, Double) = {
    val before = TimingDriver.snapshot()
    val t0 = Clock.nowMs
    ctx.tracer.span("harness", s"pass $name") {
      val q = start(ctx, name, dir, db, Trigger.AvailableNow(), Some(maxOffsetsPerTrigger))
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    val t1 = Clock.nowMs
    val rows = TimingDriver.snapshot().updatesIssued - before.updatesIssued
    ((t1 - t0) / 1e3, rows, t0, t1)
  }

  def run(ctx: Ctx): Outcome = {
    TimingDriver.register()
    // a traced run drains two more equal backlogs, traced and untraced,
    // after the cold one: their difference is the tracing overhead
    val drainStreams = if (ctx.traced) Seq("drain", "drain-traced", "drain-again") else Seq("drain")
    val backlog = drainStreams.map(s => s -> Gen.orderMessages(ctx.seed, s, 1L + 10000000L *
      drainStreams.indexOf(s), backlogMessages)).toMap
    val live = Gen.orderMessages(ctx.seed, "live", 900000000L, liveMessages)
    // set up: topics with the backlog produced, the live topic, the sink table
    val setups = (1 to 3).map { i =>
      val t0 = Clock.nowMs
      drainStreams.foreach(s => produceAll(ctx, ctx.dir(s"setup-$i/$s"), backlog(s), 0L))
      createTopic(ctx.dir(s"setup-$i/live"))
      createTable(s"pb$i")
      (Clock.nowMs - t0) / 1e3
    }
    Main.log(s"setup ${setups.mkString(" ")}")
    val db = "pb3"
    // warm-up: a small backlog drained into its own table, so phase 1
    // measures the pipeline rather than the JIT compiling it
    val warmDir = ctx.dir("warm")
    produceAll(ctx, warmDir, Gen.orderMessages(ctx.seed, "warm", 800000000L, warmMessages), 0L)
    createTable("pbwarm")
    drain(ctx, "warm", warmDir, "pbwarm")
    Main.log("warm-up done")
    val progress = new Progress
    ctx.spark.streams.addListener(progress)
    TimingDriver.reset()

    // phase 1: closed-loop drain (untraced, then traced in a traced run)
    val (drainS, drainRows, _, _) = drain(ctx, "drain", ctx.dir("setup-3/drain"), db)
    Main.log(f"drain $drainS%.2f s, $drainRows rows")
    val sinkBefore = TimingDriver.snapshot()
    val traced = if (!ctx.traced) None else Some(ctx.tracing(on = true) {
      drain(ctx, "drain-traced", ctx.dir("setup-3/drain-traced"), db)
    })
    val sinkTraced = TimingDriver.snapshot()
    val warmS = if (!ctx.traced) drainS
                else drain(ctx, "drain-again", ctx.dir("setup-3/drain-again"), db)._1

    // phase 2: open loop
    val liveDir = ctx.dir("setup-3/live")
    val (lat, lateness, backlogEnd, produceMs, produced) = ctx.tracing(on = ctx.traced) {
      openLoop(ctx, liveDir, db, live, progress)
    }
    Main.log(f"live p50 ${Stats.median(lat)}%.1f ms, max lateness $lateness%.1f ms")
    ctx.drain()

    // checks, outside every timed region
    val expected = Gen.expectedRows(backlog.values.flatten.toSeq ++ live.take(produced))
    val mismatches = checkTable(db, expected)
    val attempted = (backlog.values.map(_.size).sum + produced).toLong
    val failed = mismatches.size.toLong + lat.count(_.isNaN)

    val samples = lat.filterNot(_.isNaN)
    val endToEnd = Metrics.endToEnd(setups, drainS, samples, drainRows / drainS)
    val layers = traced.map { case (tS, _, t0, t1) =>
      val batches = progress.of("drain-traced")
      val liveBatches = progress.of("live")
      val all = batches ++ liveBatches
      def p50(key: String) = Stats.median(all.map(_.durations.getOrElse(key, 0L).toDouble))
      val jobs = ExecTotals.of(ctx.recorder.get.jobsIn(t0, t1))
      val d = sinkTraced
      val b = sinkBefore
      val issued = d.updatesIssued - b.updatesIssued
      val sinkSpans = ctx.tracer.all.filter(s => s.layer == "sinks" && s.name.startsWith("write drain-traced"))
      addBatchSpans(ctx, batches ++ liveBatches)
      val roots = ctx.spans.filter(s => s.layer == "harness" && s.name == "pass drain-traced").map(_.id).toSet
      Map(
        "sources.latest_offset_ms" -> p50("latestOffset"),
        "sources.backlog_end_records" -> backlogEnd.toDouble,
        "sources.produce_ms" -> produceMs,
        "microbatch.query_planning_ms" -> p50("queryPlanning"),
        "microbatch.add_batch_ms" -> p50("addBatch"),
        "microbatch.wal_commit_ms" -> p50("walCommit"),
        "microbatch.commit_offsets_ms" -> p50("commitOffsets"),
        "microbatch.batches" -> batches.size.toDouble,
        "microbatch.rows_per_batch" -> Stats.median(batches.map(_.rows.toDouble)),
        "sinks.write_ms" -> sinkSpans.map(_.durMs).sum,
        "sinks.jdbc_execute_ms" -> (d.executeMs - b.executeMs),
        "sinks.jdbc_commit_ms" -> (d.commitMs - b.commitMs),
        "sinks.statements" -> (d.statements - b.statements).toDouble,
        "sinks.rollbacks" -> (d.rollbacks - b.rollbacks).toDouble,
        "sinks.update_hit_frac" -> (if (issued > 0) (d.updatesMatched - b.updatesMatched).toDouble / issued else 0.0),
        "trace.pass_wall_s" -> tS,
        "trace.overhead_s" -> (tS - warmS),
        "exec.core_busy_frac" -> jobs.runS / (tS * ctx.cores)) ++ Metrics.exec(jobs) ++
        ctx.selfTimes(roots, 1)
    }.getOrElse(Map.empty[String, Double])
    Outcome(attempted, failed, endToEnd, layers,
      report = Seq("backlog_messages" -> backlogMessages, "live_messages" -> produced,
        "drain_rows" -> drainRows, "live_latency_samples" -> samples.size,
        "tail_percentile" -> Stats.tailPercentile(samples.size),
        "generator_max_lateness_ms" -> lateness, "backlog_end_records" -> backlogEnd,
        "setup_runs_s" -> setups, "table_mismatches" -> mismatches.size,
        "drain_batch_ms" -> progress.of("drain").map(_.durations.getOrElse("triggerExecution", 0L)),
        "drain_add_batch_ms" -> progress.of("drain").map(_.durations.getOrElse("addBatch", 0L)),
        "live_batch_ms" -> progress.of("live").map(_.durations.getOrElse("triggerExecution", 0L)),
        "live_batch_rows" -> progress.of("live").map(_.rows)),
      errors = mismatches.take(20))
  }

  /** The micro-batches as spans, their engine phases laid out in the
    * order the engine runs them inside each trigger. */
  private def addBatchSpans(ctx: Ctx, batches: Seq[Batch]): Unit =
    batches.foreach { b =>
      val total = b.durations.getOrElse("triggerExecution", 0L).toDouble
      ctx.tracer.add(Span(ctx.tracer.nextId(), -1, "microbatch", s"batch ${b.id}", b.startMs,
        b.startMs + total, "batch"))
      var at = b.startMs
      Seq("latestOffset" -> "sources", "walCommit" -> "microbatch", "getBatch" -> "sources",
        "queryPlanning" -> "microbatch", "addBatch" -> "microbatch",
        "commitOffsets" -> "microbatch").foreach { case (k, layer) =>
        b.durations.get(k).foreach { d =>
          ctx.tracer.add(Span(ctx.tracer.nextId(), -1, layer, k, at, at + d, "phase"))
          at += d
        }
      }
    }

  /** Phase 2: produce `msgs` on schedule while the query runs, then let
    * it catch up. Returns per-record latency (ms, NaN when the record
    * was never committed), the producer's worst lateness, the records
    * produced but not committed when production ended, the median
    * produce-call time and the number of messages produced. */
  private def openLoop(ctx: Ctx, dir: String, db: String, msgs: Seq[Gen.OrderMessage],
                       progress: Progress): (Seq[Double], Double, Long, Double, Int) = {
    val schedule = Schedule.due(msgs.map(_.rows.size), offeredRowsPerS, liveSeconds)
    val n = schedule.size
    val q = start(ctx, "live", dir, db, Trigger.ProcessingTime(1000L), None)
    val placed = new Array[(Int, Long)](n)
    val produceCalls = mutable.ArrayBuffer[Double]()
    val t0 = Clock.nowMs + 500.0
    val run = Schedule.drive(schedule.map(t0 + _)) { (from, until, due) =>
      val c0 = Clock.nowMs
      val offs = produceAll(ctx, dir, msgs.slice(from, until), due.toLong)
      produceCalls += Clock.nowMs - c0
      offs.zipWithIndex.foreach { case (o, i) => placed(from + i) = o }
    }
    val producedEnd = Clock.nowMs
    ctx.drain()
    val committed = progress.of("live")
      .filter(b => b.startMs + b.durations.getOrElse("triggerExecution", 0L) <= producedEnd)
      .lastOption.map(_.endOffsets.values.sum).getOrElse(0L)
    val backlogEnd = n - committed
    val deadline = Clock.nowMs + 15000
    while (progress.of("live").lastOption.forall(_.endOffsets.values.sum < n) && Clock.nowMs < deadline)
      Thread.sleep(50)
    q.stop()
    ctx.drain()
    val commits = commitTimes(progress.of("live"), placed.toSeq)
    val lat = (0 until n).filter(i => msgs(i).rows.nonEmpty).map { i =>
      commits(i).map(_ - (t0 + schedule(i))).getOrElse(Double.NaN)
    }
    (lat, run.maxLatenessMs, backlogEnd, Stats.median(produceCalls), n)
  }

  /** Compare the sink table with the generator's last-write-wins rows;
    * returns one line per wrong, missing or unexpected key. */
  def checkTable(db: String, expected: Map[(Long, String), Gen.OrderRow]): Seq[String] = {
    val c = DriverManager.getConnection(s"jdbc:derby:memory:$db")
    val got = mutable.Map[(Long, String), Gen.OrderRow]()
    try {
      val rs = c.createStatement().executeQuery(
        s"SELECT purchaseOrderId, sku, lineNumber, quantity, chargeAmount, orderLineStatus, " +
          s"statusDate, customerEmailId FROM $table")
      while (rs.next()) {
        val r = Gen.OrderRow(rs.getLong(1), rs.getString(2), rs.getInt(3), rs.getInt(4),
          BigDecimal(rs.getBigDecimal(5)), rs.getString(6), rs.getLong(7), rs.getString(8))
        got((r.purchaseOrderId, r.sku)) = r
      }
    } finally c.close()
    val wrong = expected.toSeq.collect {
      case (k, want) if !got.get(k).contains(want) => s"row $k: got ${got.get(k)} want $want"
    }
    val extra = got.keys.filterNot(expected.contains).map(k => s"row $k: not expected")
    (wrong ++ extra).sorted
  }
}

/** Open-loop schedules: when each record is due, and a producer that
  * sends on that schedule however the system is doing. */
object Schedule {

  /** Due offset (ms from the start) of each message, so that the
    * cumulative sink rows follow `rowsPerS`; messages carrying no rows
    * go with the next one. Only as many messages as fit in `seconds`. */
  def due(rowsPerMessage: Seq[Int], rowsPerS: Double, seconds: Double): Seq[Double] = {
    var rows = 0L
    rowsPerMessage.iterator.map { r =>
      val t = rows * 1000.0 / rowsPerS
      rows += r
      t
    }.takeWhile(_ < seconds * 1000.0).toVector
  }

  final case class Run(maxLatenessMs: Double, sends: Int)

  /** Send messages at their absolute due times (epoch ms, ascending):
    * wake at the next due time, send every message due by now in one
    * call `send(from, until, dueOfFirst)`, repeat. A slow send makes
    * later messages late; lateness (send start − due) is recorded, the
    * schedule never shifts. */
  def drive(dueMs: Seq[Double], now: () => Double = () => Clock.nowMs,
            sleep: Long => Unit = Thread.sleep)(send: (Int, Int, Double) => Unit): Run = {
    var i = 0
    var worst = 0.0
    var sends = 0
    while (i < dueMs.size) {
      val wait = dueMs(i) - now()
      if (wait > 0) sleep(math.ceil(wait).toLong)
      val t = now()
      var j = i
      while (j < dueMs.size && dueMs(j) <= t) j += 1
      worst = math.max(worst, t - dueMs(i))
      send(i, j, dueMs(i))
      sends += 1
      i = j
    }
    Run(worst, sends)
  }
}
