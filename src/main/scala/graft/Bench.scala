package graft

/** Benchmark main: one JSON line with per-query seconds at
  * SPARK_GRAFT_SF_DIR (driver contract).
  *
  * Measurement discipline (round-3): every query is timed THREE times
  * and the MEDIAN is reported — a single sample on a contended sandbox
  * mis-ranks queries by an order of magnitude (round-2 postmortem:
  * q21 17.4 s sampled vs 0.91 s re-run). A run that throws is never
  * reported as a fast green number: its error surfaces in the
  * `"errors"` map and the median is taken over the successful runs
  * only (-1 when all three fail).
  *
  * Staging accounting (round-2): the dedup pair/verify queries share
  * shingle/signature subtrees through parquet staging tables
  * (DedupOps.stageSignatures). The bench materializes them into a
  * FRESH directory inside the run, timed as the `stage_dedup` entry —
  * so the headline total pays the full cost honestly. The staging
  * root is scoped through DedupOps.withStagingRoot (thread-local), not
  * the global sys-prop.
  */
object Bench {
  // the queries that read the staged dedup tables: a run selecting
  // none of them skips stageAll
  private[graft] val stagedNames =
    Seq("q20_minhash_signatures", "q21_lsh_candidates", "q22_jaccard_verify",
      "q23_simhash", "q24_simhash_pairs", "q32_dedup_keep_list",
      "q44_jaccard_scale", "q47_dedup_clusters", "q60_containment",
      "q62_source_overlap", "q63_curation_funnel",
      "q80_repeated_spans", "q81_dedup_span_ranges")

  private val reps = 3

  /** An artifact is comparable only when no query failed AND the
    * errors map is empty. Per-query failures already raise n_failed,
    * but a STAGE failure or a schema-tripwire hit leaves every query
    * "green" while silently shifting what was measured (staged queries
    * degrade to unstaged paths, +73 s at 100×; off-baseline inputs
    * aren't the baseline's workload) — those must invalidate the whole
    * run, loudly (VERDICT r13 #2). */
  private[graft] def artifactValid(
      nFailed: Int, errors: collection.Map[String, String]): Boolean =
    nFailed == 0 && errors.isEmpty

  /** First line of /proc/loadavg (empty string off-Linux) — captured at
    * run start and end so a contended artifact self-identifies. */
  private def loadavg(): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")),
      java.nio.charset.StandardCharsets.UTF_8).trim
    catch { case _: Throwable => "" }

  /** 1-minute load average parsed from a /proc/loadavg line; NaN when
    * unavailable (non-Linux) so the gate stays open off-Linux. */
  private[graft] def load1(line: String): Double =
    line.split("\\s+").headOption.flatMap(_.toDoubleOption).getOrElse(Double.NaN)

  /** 5-minute load average from the same line (field 2); NaN when
    * unavailable. */
  private[graft] def load5(line: String): Double =
    line.split("\\s+").lift(1).flatMap(_.toDoubleOption).getOrElse(Double.NaN)

  /** 15-minute load average (field 3); NaN when unavailable. */
  private[graft] def load15(line: String): Double =
    line.split("\\s+").lift(2).flatMap(_.toDoubleOption).getOrElse(Double.NaN)

  /** Contention gate (VERDICT r14 #3): the r14 end-of-round artifacts
    * started at loadavg ~18 and carry 2.3×-drifted entries (q81 9.71 s
    * committed vs 4.6 s same-code quiet-box) — the calibration probe
    * can't catch it because load average LAGS and the contending run
    * may finish mid-bench. Same loud-failure doctrine as
    * [[artifactValid]]: a run that STARTS contended records a
    * `contention` error, which invalidates the artifact, instead of
    * committing numbers that are box noise. Threshold default 4.0
    * (this box idles <1 between rounds; a concurrent bench JVM pushes
    * 1-min load past 10 within a minute); override via
    * SPARK_GRAFT_LOADAVG_MAX, `off` disables (deliberate loaded-box
    * experiments must self-identify in PERF instead). */
  private[graft] def loadavgMax: Option[Double] =
    sys.env.getOrElse("SPARK_GRAFT_LOADAVG_MAX", "4.0") match {
      case "off" => None
      case s     => s.toDoubleOption.orElse(Some(4.0))
    }
  private[graft] def contentionError(startLine: String): Option[String] = {
    val l1 = load1(startLine)
    loadavgMax.collect { case max if l1.isNaN == false && l1 > max =>
      f"loadavg_start $l1%.2f > $max%.2f: box contended, artifact not comparable"
    }
  }

  /** 5-minute-average tier of the gate (VERDICT r15 #3): the 1-min
    * gate has a 5-min blind spot — the r15 16 GiB artifact booted at
    * 1-min 3.40 (passes) but 5-min 5.94 and carried 1.3–1.6× noise on
    * second-tier queries, disproven by a same-code run 10 min later.
    * Above [[loadavgMax]] the 5-min average earns a WARN entry (the
    * artifact stays valid — a decaying 5-min tail after the box
    * actually quiesced is common and the calib series attributes it);
    * above 2× it is an error like the 1-min gate (a box that has
    * averaged >8 over five minutes is mid-contention, not settling). */
  private[graft] def load5Error(startLine: String): Option[String] = {
    val l5 = load5(startLine)
    loadavgMax.collect { case max if !l5.isNaN && l5 > 2 * max =>
      f"loadavg5_start $l5%.2f > ${2 * max}%.2f: sustained contention, artifact not comparable"
    }
  }
  private[graft] def load5Warning(startLine: String): Option[String] = {
    val l5 = load5(startLine)
    loadavgMax.collect { case max if !l5.isNaN && l5 > max && l5 <= 2 * max =>
      f"loadavg5_start $l5%.2f > $max%.2f: 5-min tail elevated; re-run on a quieter box before comparing"
    }
  }

  /** 15-minute tier (VERDICT r18 #2) — WARN only, never invalidates
    * and never holds [[awaitQuietBox]] (a 15-min average needs ~15 min
    * to decay; blocking the driver that long trades one bad artifact
    * for no artifact). The r18 driver-of-record run booted at
    * load1 0.49 / load5 1.81 / load15 4.52 — the tail of a 100× run
    * that had just vacated the box — passed both existing tiers clean,
    * and carried a 2.3× inflated total (stage_dedup 28.8 s vs 5.0 s
    * same-code quiet). A recently-vacated box also holds a COLD page
    * cache for this run's inputs (the warm pass covers that half; this
    * warning covers the attribution half): the warn entry marks the
    * artifact as read on a settling box, so its walls are not compared
    * against a quiet run's without a re-run. */
  private[graft] def load15Warning(startLine: String): Option[String] = {
    val l15 = load15(startLine)
    loadavgMax.collect { case max if !l15.isNaN && l15 > max =>
      f"loadavg15_start $l15%.2f > $max%.2f: box was busy within the last 15 min (likely evicted page cache / decaying tail); re-run on a quieter box before comparing"
    }
  }

  /** Wait-and-retry on a gate trip (VERDICT r15 #1): round 15's
    * driver-of-record artifact is `valid:false` purely because the box
    * was still winding down from the builder's own runs when Bench
    * sampled — the gate refusing outright turned "slow start" into "no
    * valid artifact". Instead: when the boot sample trips either tier,
    * re-read `/proc/loadavg` every `stepMs` for up to `maxWaitMs`
    * (default 3×60 s) and proceed on the first sample that clears BOTH
    * tiers; only a box still contended after the full wait records the
    * contention error. The wait itself is recorded in-artifact
    * (`contention_wait_sec`) so a slow start stays attributable.
    * `read`/`sleep` injectable for the spec. Also the ADVICE-r15 fix
    * for the post-build false positive: a lagging 1-min average decays
    * within the wait window instead of invalidating a quiet run. */
  private[graft] def awaitQuietBox(read: () => String,
      maxWaitMs: Long = 180000L, stepMs: Long = 10000L,
      sleep: Long => Unit = Thread.sleep): (String, Double) = {
    def tripped(line: String): Boolean =
      contentionError(line).isDefined || load5Error(line).isDefined
    var line = read()
    var waitedMs = 0L
    while (tripped(line) && waitedMs < maxWaitMs) {
      sleep(stepMs)
      waitedMs += stepMs
      line = read()
    }
    (line, waitedMs / 1000.0)
  }

  /** Contention guard (round-11, VERDICT r10 #1): a FIXED pure-CPU
    * calibration query — `sum(id % 7)` over a 400M-row range across 32
    * local threads — whose cost is independent of every repo code path
    * and of the SF under test. Median of 3. On a quiet box this lands
    * at a stable per-machine constant; a polluted run (the r10 artifact
    * was ~2× inflated by machine contention with a zero-line source
    * diff) shows up directly as an inflated calib number, making
    * cross-round query ratios attributable without a re-run. */
  /** Returns (median, all-three-samples) so the artifact can carry the
    * raw `calib_series` — the in-run drift guard (a440f24). */
  private def calibrate(
      spark: org.apache.spark.sql.SparkSession): (Double, Seq[Double]) = {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 400000000L, 1L, 32).select(fsum(col("id") % 7)).collect()
      (System.nanoTime() - t0) / 1e9
    }
    (runs.sorted.apply(1), runs)
  }

  /** Page-cache warm pass (VERDICT r18 #2): sequentially read the
    * input parquet under `sfDir` driver-side so the timed reps measure
    * the queries, not whichever prior job last owned the page cache.
    * The r18 driver artifact ran minutes after a 100× run had
    * evicted sf0.1 from cache and read 2.3× the same-code quiet total;
    * the load gates can't see a COLD cache (the box is idle by then).
    * Largest files first so the byte cap (default 8 GiB — covers the
    * driver's sf0.1 with slack; a 100× corpus warms partially, which
    * is still the hottest-table prefix) spends its budget where the IO
    * goes. 8 reader threads — the warm is IO-bound and parallel reads
    * saturate the device without competing with anything (it runs
    * before the first timed rep). `SPARK_GRAFT_WARM=off` disables for
    * deliberate cold-cache experiments. Returns (seconds, bytesRead);
    * both land in the artifact so a warm-dominated start stays
    * attributable. */
  private[graft] def warmPageCache(
      sfDir: String, capBytes: Long = 8L << 30): (Double, Long) = {
    val t0 = System.nanoTime()
    val readBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    try {
      val root = java.nio.file.Paths.get(sfDir)
      if (java.nio.file.Files.isDirectory(root)) {
        val walk = java.nio.file.Files.walk(root)
        val files =
          try {
            val it = walk.iterator()
            val buf = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
            while (it.hasNext) { val p = it.next(); if (java.nio.file.Files.isRegularFile(p)) buf += p }
            buf.sortBy(p => -java.nio.file.Files.size(p)).toVector
          } finally walk.close()
        import scala.jdk.CollectionConverters._
        val queue = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path](files.asJava)
        graft.operators.ConcurrentJobs.runAll((1 to 8).map(i => s"warm-$i" -> (() => {
          val buf = new Array[Byte](1 << 20)
          var p = queue.poll()
          while (p != null && readBytes.get() < capBytes) {
            val in = java.nio.file.Files.newInputStream(p)
            try {
              var n = in.read(buf)
              while (n >= 0 && readBytes.addAndGet(math.max(n, 0)) < capBytes)
                n = in.read(buf)
            } finally in.close()
            p = queue.poll()
          }
        }))): Unit
      }
    } catch {
      // warm is best-effort, never fatal — but only for NON-fatal
      // failures: an interrupt must reach the driver (flag restored;
      // the runner rethrows a reader's own failure unwrapped), and
      // OOM/fatal errors must propagate, not read as "warmed"
      // (ADVICE r19)
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => ()
    }
    ((System.nanoTime() - t0) / 1e9, readBytes.get())
  }

  /** One calibration sample (no median) — the cheap mid-run probe. */
  private def calibrateOnce(spark: org.apache.spark.sql.SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val t0 = System.nanoTime()
    spark.range(0L, 400000000L, 1L, 32).select(fsum(col("id") % 7)).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    // contention probe FIRST, before the session/warmup add our own
    // 32 threads to the 1-min average — this reading is the prior
    // box state, which is what the gate is about. On a trip, wait
    // (bounded) for the box to settle instead of refusing outright.
    val (loadBoot, contentionWaitSec) = awaitQuietBox(() => loadavg())
    if (contentionWaitSec > 0)
      println(f"[contention] waited $contentionWaitSec%.0f s for the box to settle " +
        s"(loadavg now: $loadBoot)")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated query-name filter (scaling experiments on
    // dirs that carry only a table subset); absent = the full suite
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_QUERIES")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession.local("graft-bench")
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // warn tier: recorded in-artifact, never invalidates
    val warnings = scala.collection.mutable.LinkedHashMap[String, String]()

    // round-opening schema tripwire (VERDICT r12 #7): a physical-type
    // drift in the testdata must surface as a loud, incomparable
    // artifact (non-empty errors map), never as silently-shifted query
    // numbers — the events.ts nanos→micros flip cost round 11.
    val drift = try tools.SchemaTripwire.check(sfDir)
                catch { case e: Throwable => Seq(e.toString.take(160)) }
    if (drift.nonEmpty) {
      drift.foreach(d => println(s"[tripwire] DEVIATION $d"))
      errors("schema_tripwire") = drift.mkString("; ").take(480)
    }
    contentionError(loadBoot).foreach { msg =>
      println(s"[contention] $msg")
      errors("contention") = msg
    }
    load5Error(loadBoot).foreach { msg =>
      println(s"[contention] $msg")
      errors("contention5") = msg
    }
    load5Warning(loadBoot).foreach { msg =>
      println(s"[contention][warn] $msg")
      warnings("load5") = msg
    }
    load15Warning(loadBoot).foreach { msg =>
      println(s"[contention][warn] $msg")
      warnings("load15") = msg
    }

    /** Median-of-`reps` seconds for `body`; failures recorded under
      * `name` instead of silently counting as elapsed time. The full
      * rep spread (min/median/max) also lands in the on-disk artifact
      * (VERDICT r18 stretch #6): the 185.9 vs 165.0 s same-code 100×
      * pair differed by single-query rep swings (q10 4.35 → 1.58)
      * invisible to the bracketing calib probes — per-query spread
      * makes mid-run variance attributable after the fact. */
    val spreads = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    def measure(name: String)(body: => Unit): Double = {
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val err =
          try { body; None }
          catch { case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(160)}")
          }
        spark.catalog.clearCache() // no cross-run cache effects
        ((System.nanoTime() - t0) / 1e9, err)
      }
      runs.flatMap(_._2).headOption.foreach(errors(name) = _)
      val ok = runs.collect { case (s, None) => s }.sorted
      if (ok.isEmpty) -1.0
      else {
        spreads(name) = Seq(ok.head, ok(ok.size / 2), ok.last)
        ok(ok.size / 2)
      }
    }

    // warm-up: JIT + codegen + file-index caches, so per-query numbers
    // measure the query, not session startup
    try SparkEntry.entry(spark).count()
    catch { case e: Throwable => errors("warmup") = e.toString.take(160) }

    // page-cache warm pass (VERDICT r18 #2) — before the first timed
    // rep AND before the start calibration, so neither pays cold IO
    val warmOff = sys.env.get("SPARK_GRAFT_WARM").contains("off")
    val (warmSec, warmBytes) =
      if (warmOff) (0.0, 0L) else warmPageCache(sfDir)
    if (!warmOff)
      println(f"[warm] read ${warmBytes.toDouble / (1L << 20)}%.0f MiB from $sfDir in $warmSec%.1f s")

    val loadStart = loadavg()
    val (calibStart, calibStartRuns) = calibrate(spark)
    val calibMid = scala.collection.mutable.ArrayBuffer[Double]()

    // staging ON into a fresh dir; materialization is its own timed
    // entry (single-shot: the staging tables are write-once, a
    // repeat would measure a no-op), then every query runs
    val stageDir = java.nio.file.Files.createTempDirectory("graft_bench_stage").toString
    val anyStaged = stagedNames.exists(selected)
    // per-chain walls from inside the concurrent staging DAG — landed
    // in the artifact as `stage_chains` so a stage_dedup drift
    // attributes to a chain after the fact (VERDICT r19 #4)
    var stageChains: Map[String, Double] = Map.empty
    val results = graft.operators.DedupOps.withStagingRoot(Some(stageDir)) {
      val t0 = System.nanoTime()
      // both minhash presets + simhash + the IVF model; the chains
      // after the shared shingle table run as concurrent Spark jobs.
      // Skipped entirely when the query filter selects no staged query —
      // a filtered run shouldn't pay (or report) 30 s of staging it
      // never reads.
      if (anyStaged)
        try stageChains = graft.operators.DedupOps.stageAll(spark, sfDir)
        catch { case e: Throwable => errors("stage_dedup") = e.toString.take(160) }
      val stageSecs = (System.nanoTime() - t0) / 1e9
      val timed = SparkEntry.queries.toSeq.filter(kv => selected(kv._1)).sortBy(_._1)
        .zipWithIndex.map { case ((name, fn), i) =>
          // one mid-run calibration sample every 20 queries: the r11
          // postmortem (PERF §19) found intermittent MID-RUN drift that
          // inflates a contiguous query band while both endpoints look
          // quiet — only an in-band sample makes that self-identifying
          if (i > 0 && i % 20 == 0) calibMid += calibrateOnce(spark)
          name -> measure(name)(fn(spark, sfDir).count())
        }
      if (anyStaged) timed :+ ("stage_dedup" -> stageSecs) else timed
    }

    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
                  case c if c < ' ' => " "; case c => c.toString }
    def toJson(kvs: Seq[(String, Double)], fmt: Double => String): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val errJson = errors.toSeq
      .map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val (calibEnd, calibEndRuns) = calibrate(spark)
    val loadEnd = loadavg()
    def f4(v: Double) = "%.4f".formatLocal(java.util.Locale.ROOT, v)
    val warnJson = warnings.toSeq
      .map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val guardJson =
      s""""calib_start_sec":${f4(calibStart)},""" +
      s""""calib_end_sec":${f4(calibEnd)},""" +
      s""""calib_series":[${(calibStartRuns ++ calibMid ++ calibEndRuns).map(f4).mkString(",")}],""" +
      s""""contention_wait_sec":${f4(contentionWaitSec)},""" +
      s""""warm_sec":${f4(warmSec)},"warm_bytes":$warmBytes,""" +
      s""""warnings":$warnJson,""" +
      s""""loadavg_boot":"${esc(loadBoot)}",""" +
      s""""loadavg_start":"${esc(loadStart)}","loadavg_end":"${esc(loadEnd)}""""
    // headline total over SUCCESSFUL queries only — summing the -1.0
    // failure sentinels made a broken run look FASTER (the r11 artifact
    // reported 11.19 s for a 19-failure run whose successes took 30 s).
    // n_failed makes any such run self-identify as incomparable.
    val total = results.map(_._2).filter(_ >= 0).sum
    val nFailed = results.count(_._2 < 0)
    // ANY recorded error — not just per-query failures — invalidates
    // the artifact (VERDICT r13 #2): a staging OOM leaves n_failed at 0
    // while every staged query silently degrades to its unstaged path
    // (+73 s at 100×), and a tripwire hit means the inputs aren't the
    // baseline's. Same loud-failure doctrine as the r12 events.ts gate.
    val valid = artifactValid(nFailed, errors)
    // full-precision artifact on disk; the round artifact captures only
    // the last ~2000 chars of stdout, which truncated the r7/r8
    // full-name line mid-JSON ("parsed": null) — so the LAST printed
    // line abbreviates query names to their qNN prefix (~13
    // bytes/entry: the complete 80-query line is ~1.3 kB, inside the
    // capture bound with slack) and points at the full artifact.
    // Per-query rep spread goes in the FULL artifact only — ~40 bytes
    // per query would push the compact stdout line past the round
    // artifact's ~2000-char capture bound
    val spreadJson = spreads.toSeq
      .map { case (k, v) => "\"" + k + "\":[" + v.map(f4).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val chainsJson = toJson(
      stageChains.toSeq.sortBy(-_._2), v => f4(v))
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"n_failed":$nFailed,"valid":$valid,"queries":${toJson(results, _.toString)},"query_spread":$spreadJson,"stage_chains":$chainsJson,$guardJson,"errors":$errJson,"sf":"$sfDir"}"""
    val out = java.nio.file.Paths.get("bench", "bench_full_latest.json")
    try {
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: java.io.IOException => () } // read-only cwd: line still prints
    def short(name: String): String =
      if (name.matches("q\\d+_.*")) name.takeWhile(_ != '_') else name
    val compact = results.map { case (k, v) => short(k) -> v }
    println(s"""{"metric":"total","value":${f4(total)},"unit":"sec","reps":$reps,"n_failed":$nFailed,"valid":$valid,"queries":${
      toJson(compact, v => String.format(java.util.Locale.ROOT, "%.4f", Double.box(v)))
    },$guardJson,"errors":$errJson,"sf":"$sfDir","full":"$out"}""")
    spark.stop()
  }
}
