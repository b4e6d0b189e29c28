package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SpanHashes

/** In-flight repeated-span gate: each streaming document is checked for
  * k-token spans ALREADY PRESENT in the settled corpus — the streaming
  * face of q80's census, for the two admission policies a training
  * pipeline runs continuously:
  *   - contamination: an incoming doc that reproduces a span of the
  *     eval/benchmark corpus must be quarantined before training;
  *   - substring-dup admission: an incoming doc that is mostly made of
  *     spans the corpus already has adds no new signal (Lee et al.'s
  *     substring-duplication argument at span granularity).
  *
  * Scale shape is the shared posting layout ([[PostingCompaction.write]],
  * also behind [[StreamingDedup]] and [[StreamingSemanticGate]]): the
  * corpus's distinct span hashes are written ONCE, bucketed and sorted
  * on the hash ([[stageCorpusSpans]], and [[absorbSpans]] appends in
  * the same layout); each micro-batch emits
  * its own span hashes NARROWLY (the native one-pass
  * [[graft.functions.SpanHashes]] expression — no shuffle, no window
  * state, legal in any streaming projection) and joins the corpus
  * table without exchanging it. The join form follows the sizes
  * (executed plans, PERF §79): the probe is a left-outer join, which
  * can only broadcast its right side, so while the corpus span table
  * is under `autoBroadcastJoinThreshold` every batch broadcasts the
  * whole table and streams itself past it; past the threshold the
  * batch shuffles itself into the corpus bucketing and the corpus is
  * read in place, bucket-aligned. Per-doc
  * aggregation happens on the BATCH side only (micro-batch-sized
  * state, no watermark needed beyond the update-mode sink's own).
  *
  * Exactness: matches are at 61-bit-hash level. Unlike batch q80 the
  * gate does NOT re-verify strings — a false flag needs a cross-corpus
  * M61 collision (~2^-61 per span pair; at 10^12 corpus spans the
  * expected false-flag count is still ~10^-5 per incoming doc), which
  * is the same accept-the-hash contract as the Bloom pre-screen in
  * [[StreamingCuration]] but with a quantified, collision-only error
  * (a Bloom false positive is by design; an M61 collision is an
  * accident). Routing flagged docs through the batch confirm
  * (`CorpusOps.repeatedSpans` semantics) stays available downstream. */
object StreamingSpanGate {

  val defaultSpanLen = 8

  /** Per-doc span census columns, narrowly: `__sh` (array of window
    * hashes) and `n_spans`. */
  private def withSpans(docs: DataFrame, k: Int): DataFrame =
    docs.withColumn("__shs", SpanHashes.span_hashes(col("text"), k))
      .withColumn("n_spans", size(col("__shs")))

  /** The span posting table's key column. */
  val postingKey = "csh"

  /** DISTINCT span hashes of `docs` as posting rows `(csh)` — what
    * [[stageCorpusSpans]] and [[absorbSpans]] both write. The rows are
    * put at the writer's width BEFORE the distinct, so the distinct
    * reuses the writer's partitioning: one exchange for a wide input
    * (none for the distinct itself), none at all for an input already
    * in one partition. */
  private def postingRows(docs: DataFrame, k: Int, buckets: Int): DataFrame =
    PostingCompaction.atWriterWidth(
      docs.select(explode(SpanHashes.span_hashes(col("text"), k)).as(postingKey)),
      postingKey, buckets).distinct()

  /** ONE-TIME corpus layout: DISTINCT span hashes of the corpus (or of
    * an eval suite, for decontamination) in the
    * [[PostingCompaction.write]] layout, bucketed+sorted on the hash.
    * The posting row is 8 bytes — at 10^11 corpus spans the table is
    * sub-TB and every probe past the broadcast threshold joins it in
    * place, bucket-aligned, with zero corpus-side exchange per
    * micro-batch. Returns the staged data-file count, the table's
    * [[CompactionDial]] baseline. */
  def stageCorpusSpans(spark: SparkSession, corpus: DataFrame,
                       table: String, buckets: Int = 64,
                       k: Int = defaultSpanLen): Int = {
    PostingCompaction.write(postingRows(corpus, k, buckets), table, postingKey,
      buckets, "overwrite")
    PostingCompaction.fileCount(spark, table)
  }

  /** ABSORB admitted documents' spans into the staged table: DISTINCT
    * NEW hashes only — the anti-join preserves the staged layout's
    * corpus-wide distinctness invariant ([[spanMatches]] counts one
    * match per probe window via a plain join; a duplicate posting row
    * would double-count every window that hits it) and makes the
    * absorb REPLAY-IDEMPOTENT: re-absorbing an already-absorbed batch
    * appends zero rows, so an at-least-once restart cannot corrupt
    * the table. The anti-join takes the probe's geometry (the corpus
    * table broadcast under the threshold, bucket-aligned past it), and
    * the append writes one file per touched bucket: a one-partition
    * input is written by one task with no exchange at all, the
    * distinct included ([[postingRows]]). */
  def absorbSpans(spark: SparkSession, admitted: DataFrame, table: String,
                  buckets: Int = 64, k: Int = defaultSpanLen): Unit =
    PostingCompaction.write(
      postingRows(admitted, k, buckets).join(spark.table(table), Seq(postingKey), "left_anti"),
      table, postingKey, buckets, "append")

  /** Span gate: for each document, count how many of its `n_spans`
    * k-token windows hash-match a corpus span (`matched_spans` counts
    * DISTINCT matched windows) and emit the per-mille contamination
    * `matched_pm`. Docs under k tokens have n_spans = 0 and pass with
    * zero matches (nothing to reproduce).
    *
    * On a stream, run this per micro-batch via `foreachBatch` (the
    * spec's shape): a document's windows all live in its own row, so
    * the per-doc aggregate is micro-batch-local by construction —
    * running it as a global stream aggregation instead would pin one
    * state row per doc_id FOREVER (unbounded keys, no watermark can
    * expire them). Inside foreachBatch each batch plans the identical
    * batch join of [[probeHits]]: the corpus table broadcast while it
    * is under the broadcast threshold, a bucket-aligned join with only
    * the batch side shuffled past it. */
  def spanMatches(stream: DataFrame, spark: SparkSession, table: String,
                  k: Int = defaultSpanLen): DataFrame =
    probeHits(stream, spark, table, k)
      .groupBy("doc_id", "n_spans")
      .agg(count(col("csh")).as("matched_spans"))
      .withColumn("matched_pm", matchedPm("matched_spans", "n_spans"))
      .select("doc_id", "n_spans", "matched_spans", "matched_pm")

  /** The probe behind [[spanMatches]], before its per-doc count: one
    * `(doc_id, n_spans, csh)` row per DISTINCT k-token window of each
    * doc, `csh` the matching corpus span or NULL (a doc under k tokens
    * keeps one all-NULL window row, so every doc appears). The one probe
    * of this gate: [[spanMatches]] counts it per doc, and
    * [[AdmissionPipeline]] folds it into its per-doc verdict
    * aggregation. */
  def probeHits(stream: DataFrame, spark: SparkSession, table: String,
                k: Int = defaultSpanLen): DataFrame =
    withSpans(stream, k)
      .select(col("doc_id"), col("n_spans"),
        explode_outer(array_distinct(col("__shs"))).as("sh"))
      .join(spark.table(table), col("sh") === col("csh"), "left")
      .select("doc_id", "n_spans", "csh")

  /** Per-mille share of a doc's windows (column `nSpans`) that matched
    * a corpus span (column `matched`), rounded down; 0 for a doc with
    * no window. */
  def matchedPm(matched: String, nSpans: String): Column =
    when(col(nSpans) === 0, lit(0L)).otherwise(expr(s"$matched * 1000 div $nSpans"))

  /** Removal RANGES per document — the actionable form of the gate
    * (batch analogue: `CorpusOps.dedupSpanRanges`/q81): for each doc,
    * 1-based token-index ranges covered by windows whose hash matches
    * a corpus span. Flagged windows merge into one island whenever
    * their token spans overlap (indices differ by <= k-1), so ranges
    * are pairwise DISJOINT per doc. A pipeline strips the ranges and
    * admits the rest of the doc instead of rejecting it whole.
    *
    * Same micro-batch-local shape as [[spanMatches]] (run inside
    * foreachBatch): positions come from `posexplode` over the narrow
    * per-row hash array, only the batch side shuffles into the corpus
    * bucketing, and the island merge's window function runs over
    * FLAGGED batch rows only — per-doc partitions, micro-batch-sized.
    * Matching is hash-level, same contract (and same quantified
    * collision-only error) as the rest of the gate. */
  def spanRanges(stream: DataFrame, spark: SparkSession, table: String,
                 k: Int = defaultSpanLen): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = withSpans(stream, k)
      .select(col("doc_id"), posexplode(col("__shs")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"),
        col("col").as("sh"))
    val flagged = probes
      .join(spark.table(table), col("sh") === col("csh"))
      .select("doc_id", "i")
    val byDoc = Window.partitionBy("doc_id").orderBy("i")
    flagged
      .withColumn("brk",
        when(col("i") - lag("i", 1).over(byDoc) <= k - 1, lit(0))
          .otherwise(lit(1)))
      .withColumn("g", sum("brk").over(byDoc))
      .groupBy("doc_id", "g")
      .agg(min("i").as("start_tok"), (max("i") + lit(k - 1)).as("end_tok"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "start_tok", "end_tok", "n_windows")
  }

  /** Admission verdict at `maxPm` per-mille matched spans: `admit`,
    * or `reject_span_dup` for docs whose corpus-known span share
    * exceeds the cap. */
  def admissionVerdicts(stream: DataFrame, spark: SparkSession,
                        table: String, maxPm: Long = 500,
                        k: Int = defaultSpanLen): DataFrame =
    spanMatches(stream, spark, table, k)
      .withColumn("verdict",
        when(col("matched_pm") > maxPm, lit("reject_span_dup"))
          .otherwise(lit("admit")))
}
