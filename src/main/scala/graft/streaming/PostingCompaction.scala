package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

/** The bucketed posting-table layout and its file-count-triggered
  * compaction, shared by the three absorbing admission gates: band
  * postings ([[StreamingDedup]], keyed on `cbk`), span postings
  * ([[StreamingSpanGate]], `csh`) and quantized vectors
  * ([[StreamingSemanticGate]], `cbkt`). Every stage, absorb and
  * compaction rewrite goes through [[write]], so the layout is decided
  * once.
  *
  * Compaction (VERDICT r15 #6, PERF §41): the 100-batch admission soak
  * measured probe latency creeping +35% as appends grew the bucketed
  * posting table 2,048 → 5,248 files while bytes grew only 14% —
  * per-file open/footer cost, not data volume, is the creep mechanism.
  * Each append adds ~one file per touched bucket, so file count grows
  * linearly in batches absorbed and a production gate must compact on
  * a FILE-COUNT trigger, not a size one. [[CompactionDial]] is that
  * trigger, one per posting table.
  *
  * The rewrite preserves the bucketed layout (one [[write]] pass over
  * the table, cost amortized over the ~N batches between triggers),
  * lands at ≤ `buckets` files (see [[rewrite]]'s landing-geometry
  * note), swaps in via rename-out/rename-in (NOT atomic — no catalog
  * offers a two-table atomic swap; every crash window leaves a
  * recoverable table and [[recoverIfNeeded]] performs that recovery on
  * the next entry, see [[rewrite]]) and keeps the caller's table NAME
  * stable, so a long-running admission loop never re-resolves
  * anything. */
private[graft] object PostingCompaction {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Write posting `rows` to `table` in the one posting layout: at
    * the writer width of [[atWriterWidth]], then bucketed and sorted on
    * `keyCol`, parquet. `mode` is "overwrite" for a stage or a
    * compaction and "append" for an absorb. Every write lands
    * ≤ `buckets` files. */
  def write(rows: DataFrame, table: String, keyCol: String, buckets: Int,
            mode: String): Unit =
    atWriterWidth(rows, keyCol, buckets)
      .write.mode(mode)
      .bucketBy(buckets, keyCol).sortBy(keyCol)
      .format("parquet").saveAsTable(table)

  /** `rows` at the posting writer's width. Input already in one
    * partition stays there and is written by one task. Wider input is
    * spread one writer per bucket (`repartition(buckets, key)`). Either
    * way each bucket has one writer, so a write lands ≤ `buckets`
    * files.
    *
    * Without one writer per bucket the bucketed write runs at the
    * source's task width and lands ~tasks × buckets files (PERF §57
    * measured 764 tiny files for a 20k-vector corpus, and per-file open
    * cost dominated every probe batch). The one-partition case is a
    * batch-sized absorb over the pinned verdict frame, which AQE's
    * partition coalescing puts in one partition: its repartition cost a
    * map-stage job and a `buckets`-task write per absorb for a few
    * hundred rows (PERF §79). `coalesce(1)` moves no data there; it
    * tells the planner the input is one partition, so a key
    * aggregation or a broadcast join over it adds no exchange (the span
    * absorb's distinct and anti-join). Over a fresh computation the
    * repartition keeps its exchange; over a pinned bucketed scan of the
    * same layout EnsureRequirements elides it (the [[rewrite]] case,
    * PERF §49), as it does over input already hash-partitioned on the
    * key into `buckets` (a distinct after this call). */
  def atWriterWidth(rows: DataFrame, keyCol: String, buckets: Int): DataFrame =
    if (inOnePartition(rows)) rows.coalesce(1)
    else rows.repartition(buckets, col(keyCol))

  /** Whether `rows` plans as one partition, read off its physical plan
    * without running a job: a plan without an exchange is built into
    * its RDD, which only counts the leaves' partitions (a pinned
    * `localCheckpoint` reports no partitioning of its own); an adaptive
    * plan reports the partitioning of its plan before any stage runs,
    * so a shuffle's coalesced width is not seen and counts as wide. */
  private def inOnePartition(rows: DataFrame): Boolean =
    rows.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.outputPartitioning.numPartitions == 1
      case _ => rows.queryExecution.toRdd.getNumPartitions == 1
    }

  private def location(spark: SparkSession, table: String): java.io.File = {
    val uri = spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location
    new java.io.File(uri.getPath)
  }

  /** Data files currently backing `table` (parquet part files). */
  def fileCount(spark: SparkSession, table: String): Int =
    Option(location(spark, table).listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith("part-"))

  /** Restore the live table after a crash inside [[rewrite]]'s swap
    * window (VERDICT r18 #1): if `table` is missing but a side table
    * survives, a single RENAME recovers service. Preference order:
    * `table__compacting` first — the compacted write COMPLETED before
    * any rename ran (the live name only disappears at the rename-out,
    * which the sequence reaches only after `saveAsTable` returns), so
    * renaming it in simply finishes the interrupted swap — then
    * `table__old` (roll back to the pre-compaction data). Returns
    * whether a recovery rename ran; a no-op when the live table
    * already exists. Never drops anything unless the live name is
    * populated first — in the crash window the side tables are the
    * ONLY copies of the corpus. */
  def recoverIfNeeded(spark: SparkSession, table: String): Boolean = {
    val side = table + "__compacting"
    val old = table + "__old"
    if (spark.catalog.tableExists(table)) false
    else if (spark.catalog.tableExists(side)) {
      log.warn(s"$table missing with $side present (crash between " +
        "rename-out and rename-in) — completing the interrupted swap")
      spark.sql(s"ALTER TABLE $side RENAME TO $table"): Unit
      spark.sql(s"DROP TABLE IF EXISTS $old"): Unit
      true
    } else if (spark.catalog.tableExists(old)) {
      log.warn(s"$table missing with $old present — rolling back to " +
        "the pre-compaction data")
      spark.sql(s"ALTER TABLE $old RENAME TO $table"): Unit
      true
    } else false
  }

  private val autoBucketedScanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"

  /** Sessions with a pinned bucketed scan → (rewrites in flight, the
    * session's value before the first of them). */
  private val pins = scala.collection.mutable.Map[SparkSession, (Int, Option[String])]()

  /** Run `body` with `autoBucketedScan` off on `spark` (see [[rewrite]]).
    * The key is session-global and AQE re-plans under it while the write
    * runs, so concurrent rewrites on one session (the admission loop's
    * three dials, or two loops) share ONE pin: the first in saves the
    * session's value and sets false, the last out restores it. A
    * per-rewrite save/restore would let one rewrite capture another's
    * `false` as its saved value and leave the session pinned, or unpin
    * a rewrite still being planned (which then lands tasks × buckets
    * files, PERF §49). Other queries planned on the session inside the
    * window keep their bucketed scans, which is a plan choice, not a
    * result change. */
  private def withBucketedScanPinned[A](spark: SparkSession)(body: => A): A = {
    pins.synchronized {
      val (n, saved) = pins.getOrElse(spark, (0, spark.conf.getOption(autoBucketedScanKey)))
      if (n == 0) spark.conf.set(autoBucketedScanKey, "false")
      pins(spark) = (n + 1, saved)
    }
    try body
    finally pins.synchronized {
      val (n, saved) = pins(spark)
      if (n > 1) pins(spark) = (n - 1, saved)
      else {
        pins.remove(spark): Unit
        saved match {
          case Some(v) => spark.conf.set(autoBucketedScanKey, v)
          case None    => spark.conf.unset(autoBucketedScanKey)
        }
      }
    }
  }

  /** The compaction rewrite itself, unconditionally: one bucketed
    * pass over `table`, landing at ≤ `buckets` files, swapped in via
    * a rename-out/rename-in sequence whose every crash window leaves
    * a recoverable table.
    *
    * LANDING GEOMETRY (VERDICT r17 #1, PERF §49): the pre-r18 form —
    * `spark.table(t).repartition(buckets, col)` into the bucketed
    * write — landed ~(input files / 32) × buckets and GREW ~1.32× per
    * cycle in the r17 soak (2,572 → 13,783 files while bytes grew
    * 26%). Root cause, read off the executed plan (PERF §49):
    * EnsureRequirements elides the user repartition because the
    * bucketed scan claims HashPartitioning(col, buckets) — and THEN
    * the DisableUnnecessaryBucketedScan preparation rule, seeing no
    * operator above the scan that still *requires* that distribution,
    * reverts the scan to split-based (~input-files/32 partitions), so
    * every split task writes one file per bucket it holds. Fix: pin
    * the bucketed scan for the rewrite (autoBucketedScan=false around
    * the read) — one partition per bucket, ZERO exchange, one writer
    * per bucket. Probe A/B at 8 buckets / 8,552 input files: old form
    * 2,106 files in 8.4 s; pinned scan 8 files in 3.9 s; a path-based
    * read that keeps the repartition also lands 8 but pays the
    * shuffle (5.6 s). [[atWriterWidth]]'s repartition stays as a
    * belt-and-braces bound (it self-elides against the pinned bucketed
    * scan).
    *
    * SWAP (VERDICT r17 #2, recovery hardened per VERDICT r18 #1):
    * there is no atomic two-table swap in the catalog, so the
    * sequence is rename-out / rename-in / drop-old: a crash before
    * the rename-out leaves the live table untouched (plus a stale
    * side table); a crash between the renames leaves BOTH
    * `table__old` (the pre-compaction data) and `table__compacting`
    * (the compacted data); a crash after the rename-in leaves the
    * live table compacted plus a stale `table__old`. Entry is
    * recover-first, not drop-first: [[recoverIfNeeded]] renames a
    * surviving side table back in when the live name is missing, and
    * stale side tables are dropped ONLY once the live table is
    * confirmed to exist — the pre-r18 unconditional entry drop would
    * have destroyed the only copies of the data if invoked inside the
    * between-renames crash window. */
  def rewrite(spark: SparkSession, table: String, buckets: Int,
              bucketCol: String): Unit = {
    val side = table + "__compacting"
    val old = table + "__old"
    recoverIfNeeded(spark, table): Unit
    require(spark.catalog.tableExists(table),
      s"$table does not exist and neither $side nor $old survives to " +
        "recover from — refusing to touch anything")
    // Live table confirmed: anything left in the side slots is stale
    // (a pre-rename-out crash's partial write, or a post-rename-in
    // crash's undropped __old) and safe to clear.
    spark.sql(s"DROP TABLE IF EXISTS $side"): Unit
    spark.sql(s"DROP TABLE IF EXISTS $old"): Unit
    withBucketedScanPinned(spark) {
      write(spark.table(table), side, bucketCol, buckets, "overwrite")
    }
    spark.sql(s"ALTER TABLE $table RENAME TO $old"): Unit
    spark.sql(s"ALTER TABLE $side RENAME TO $table"): Unit
    spark.sql(s"DROP TABLE $old"): Unit
  }
}

/** FLOOR-KEYED compaction dial (VERDICT r16 #1, guarded per VERDICT
  * r17 #1 / r18 #3) — the stateful form a long-running admission loop
  * should hold, one per posting table.
  *
  * The dial starts from the staged baseline (the only number known
  * before any compaction), and after EVERY compaction re-keys its
  * threshold off the measured post-compaction count — clamped at the
  * staged baseline from below, and guarded from above by [[rekey]]'s
  * effectiveness check, which judges the landing against the file
  * count the compaction actually started from (not the firing
  * threshold — see [[rekey]]). With the fixed rewrite a healthy
  * landing is ≤ buckets files, so in practice the floor stays at the
  * staged baseline and `filesFactor` means what it says against the
  * staged layout; the re-key exists so a table whose genuine
  * compacted size ever exceeds the baseline still gets
  * (factor − 1) × actual-floor of headroom instead of a strangled
  * cadence. After [[CompactionDial.MaxConsecutiveRejections]]
  * consecutive rejected landings the dial DISARMS — compaction is
  * provably not shrinking the table, so re-firing a full-table
  * rewrite on every batch is a compaction storm, not a remedy.
  *
  * Call [[maybeCompact]] after each absorb. The same dial serves every
  * posting table; only the key column differs (`cbk`, `csh`, `cbkt` —
  * each gate's `postingKey`). Run the admission JVM at a BOUNDED heap
  * (PERF §48: 16 GiB stays flat over 1,000+ batches, while G1 at
  * 100 GiB grew multi-GB young generations whose evacuation pauses
  * landed as 40–131 s batch spikes in the r16 soak;
  * [[graft.tools.AdmissionPipelineSoak.heapWarning]] is the startup
  * check).
  *
  * Not thread-safe — one admission loop owns one dial, the same way
  * it owns the table.
  *
  * @param keyCol         the column the table is bucketed and sorted on
  * @param stagedBaseline the file count the table's stage call returned */
final class CompactionDial(
    val table: String, keyCol: String, stagedBaseline: Int,
    val filesFactor: Double = 2.0, buckets: Int = 64) {
  require(stagedBaseline > 0, s"stagedBaseline must be > 0, got $stagedBaseline")
  require(filesFactor >= 1.0, s"filesFactor must be >= 1.0, got $filesFactor")

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private var floorFiles: Int = stagedBaseline

  /** The file count the threshold is currently keyed off: the staged
    * baseline until the first compaction, the latest measured
    * post-compaction count after. */
  def currentFloor: Int = floorFiles

  /** Files above which the next [[maybeCompact]] fires. Two terms:
    * the factor-scaled floor, and an ABSORB-AWARE lower bound of
    * floor + buckets (VERDICT r19 #9, measured in the r20 semantic
    * soak): one absorbing append lands up to `buckets` files, so any
    * threshold under floor + buckets fires on EVERY absorbing batch
    * by construction — the 250-batch int8-corpus soak at a 24-file
    * staged baseline and factor 1.5 (threshold 36) ran 250
    * compactions in 250 batches, a full-table rewrite per batch that
    * is invisible at 20 MB and a storm at 100 TB. The bound is the
    * small-table regime's dominant term: band posting tables stage at
    * thousands of files and never feel it; a compact staged table
    * (the quantized corpus) gets a cadence of at least
    * ceil(buckets / files-per-absorb) batches between rewrites. */
  def threshold: Double =
    math.max(filesFactor * floorFiles, (floorFiles + buckets).toDouble)

  private[graft] def shouldFire(files: Int): Boolean = files > threshold

  /** Re-key the floor from a measured post-compaction file count —
    * latest measurement wins, clamped at the staged baseline so a
    * freak low landing can't make the dial fire on a near-compact
    * table.
    *
    * EFFECTIVENESS GUARD (VERDICT r17 #1b, re-keyed per r18 #3): an
    * unguarded "latest measurement wins" locked in the r17 soak's
    * pathological landings (2,572 → 13,783 files) as successive
    * floors, ratcheting the threshold 4,115 → 22,053 — a compaction
    * that BARELY shrinks the table must be surfaced as a defect, not
    * adopted as the new normal. The r17 guard compared the landing to
    * half the FIRING THRESHOLD, which for filesFactor < 2 sits below
    * the staged baseline itself — a genuine compact-to-baseline
    * landing would be rejected forever and the documented adaptive
    * re-key was unreachable (VERDICT r18 #3). The guard now judges
    * effectiveness against what the compaction had to work with: a
    * landing is rejected only when it exceeds BOTH half the
    * pre-compaction file count (the rewrite failed to even halve the
    * table) AND the staged baseline (a landing at or under the staged
    * layout is compact by definition, whatever the shrink ratio). A
    * healthy rewrite lands at ≤ buckets files — orders of magnitude
    * under either bound — so the guard never fires on a working
    * layout. [[CompactionDial.MaxConsecutiveRejections]] consecutive
    * rejections disarm the dial (see [[maybeCompact]]): with the
    * floor pinned, an ineffective rewrite would otherwise re-fire on
    * every subsequent check — a full-table write per batch, signaled
    * only by log lines. */
  private[graft] def rekey(postCompactionFiles: Int,
                           preCompactionFiles: Int): Unit =
    if (postCompactionFiles >
        math.max(preCompactionFiles / 2.0, stagedBaseline.toDouble)) {
      rejectedCount += 1
      consecutiveRejected += 1
      log.warn(f"$table: rejected landing of $postCompactionFiles files " +
        f"(> max(half the $preCompactionFiles-file pre-compaction count, " +
        f"staged baseline $stagedBaseline)) — compaction is not shrinking " +
        s"the table; floor stays at $floorFiles " +
        s"($consecutiveRejected consecutive rejection(s))")
      if (disarmed)
        log.error(s"$table: ${CompactionDial.MaxConsecutiveRejections} " +
          "consecutive rejected landings — dial DISARMED; compaction is " +
          "not shrinking this table (layout/plan defect), refusing to " +
          "storm it with full-table rewrites")
    } else {
      floorFiles = math.max(stagedBaseline, postCompactionFiles)
      consecutiveRejected = 0
    }

  private var rejectedCount: Int = 0
  private var consecutiveRejected: Int = 0

  /** Landings [[rekey]] refused to adopt — nonzero means compaction
    * is not actually shrinking the table (a layout/plan defect). */
  def rejectedLandings: Int = rejectedCount

  /** True once [[CompactionDial.MaxConsecutiveRejections]] consecutive
    * landings were rejected: [[maybeCompact]] becomes a no-op rather
    * than a per-batch full-table rewrite storm. A disarmed dial is a
    * page-the-operator condition — the rewrite is presumed defective
    * for this table — but the CAUSE can be transient (e.g. a
    * concurrent absorb racing appends between the rewrite and the
    * landing measurement inflates the measured landing; the dial's
    * single-owner contract forbids that, but an operator who finds
    * and fixes such a violation needs a path back). [[rearm]] is that
    * path: an explicit operator action, never automatic — three
    * rewrites that each failed to shrink the table must not quietly
    * resume on a timer (ADVICE r19). */
  def disarmed: Boolean =
    consecutiveRejected >= CompactionDial.MaxConsecutiveRejections

  /** Re-arm a [[disarmed]] dial after the operator has addressed the
    * cause of the rejected landings (layout defect fixed, racing
    * writer removed). Resets the consecutive-rejection counter —
    * `rejectedLandings` (the lifetime total) keeps counting — and
    * the next [[maybeCompact]] fires normally. No-op when armed. */
  def rearm(reason: String): Unit =
    if (disarmed) {
      log.warn(s"$table: dial RE-ARMED after $consecutiveRejected " +
        s"consecutive rejected landings — operator reason: $reason")
      consecutiveRejected = 0
    }

  /** Compact when the table's file count exceeds [[threshold]]; on a
    * compaction, measure the landing and [[rekey]]. Recovers a
    * mid-swap-crashed table on entry ([[PostingCompaction.recoverIfNeeded]])
    * and refuses to fire once [[disarmed]]. Returns whether a
    * compaction ran. */
  def maybeCompact(spark: SparkSession): Boolean = {
    if (disarmed) return false
    PostingCompaction.recoverIfNeeded(spark, table): Unit
    val files = PostingCompaction.fileCount(spark, table)
    if (!shouldFire(files)) false
    else {
      PostingCompaction.rewrite(spark, table, buckets, keyCol)
      rekey(PostingCompaction.fileCount(spark, table), files)
      true
    }
  }
}

object CompactionDial {
  /** Consecutive rejected landings after which a dial stops firing —
    * three full-table rewrites that each failed to shrink the table
    * is a defect to page on, not a cadence to sustain. */
  val MaxConsecutiveRejections: Int = 3
}
