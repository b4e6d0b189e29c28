package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, MinHashParams}

/** In-flight near-duplicate admission: a STREAM of new documents is
  * checked against a STATIC corpus signature table as it arrives —
  * the streaming half of `DedupOps.incrementalDedup` (q61), for
  * pipelines that admit documents continuously instead of in daily
  * batches.
  *
  * The enabler is a NARROW minhash signature: the explode + groupBy
  * reference form needs a shuffle, which a streaming projection
  * cannot do without watermark-managed state. The native one-pass
  * expression behind `DedupOps.withSignatureAll` folds the mins per
  * row with ZERO shuffle — legal in any streaming projection, and the
  * very producer of the staged signature tables. The stream then
  * explodes its band keys and stream-static joins the corpus band
  * table: per micro-batch Spark plans a plain join against the static
  * side.
  *
  * Scale shape: per-row signature math is codegen over the document's
  * own shingles (no corpus access); the static corpus bands join
  * against each micro-batch. The 100 TB layout is
  * [[stageCorpusBands]]: the band posting list bucketed+sorted on the
  * band key once in the shared posting layout
  * ([[PostingCompaction.write]]; [[absorbPostings]] appends the same
  * rows the same way), so no micro-batch probe ([[probeHits]])
  * exchanges the corpus. Its join form follows the sizes (executed
  * plans, PERF §79): a batch under `autoBroadcastJoinThreshold`, every
  * admission batch, is broadcast and joined against the posting table
  * streamed in place; a larger one plans the bucket-aligned sort-merge
  * join of [[stageCorpusBands]].
  */
object StreamingDedup {

  /** [[DedupOps.withSignatureAll]] — the engine's one signature
    * producer, so batch/stream parity holds by construction — with
    * the unsignable rows (under two tokens, or NULL text) dropped:
    * they cannot near-duplicate anything. The stream's other columns
    * ride along. */
  def withSignature(docs: DataFrame,
                    p: MinHashParams = DedupOps.defaultParams): DataFrame =
    DedupOps.withSignatureAll(docs.where(DedupOps.signable), p)

  /** Stream-static near-dup matches: for each streaming document that
    * shares an LSH band with a corpus document and whose signature
    * agreement clears `estThreshold`, emit one row per (doc, corpus
    * partner, est_jaccard). On a stream the final dropDuplicates is
    * Spark's stateful dedup — a pair is emitted once for the stream's
    * lifetime; add a watermark upstream to bound that state when
    * doc_ids are unbounded. On a batch frame it is a plain distinct.
    *
    * @param stream    streaming (or batch) frame with `doc_id` and `text`
    * @param corpusSig STATIC `(doc_id, __sig)` signature table — e.g.
    *                  `DedupOps.minhashSignaturesOf` over the corpus
    */
  def nearDupMatches(stream: DataFrame, corpusSig: DataFrame,
                     p: MinHashParams = DedupOps.defaultParams): DataFrame =
    hitsAgainst(stream, postingRows(corpusSig, p), p)
      .dropDuplicates("new_id", "corpus_id")

  /** The estimated-agreement count between the stream's `__sig` and
    * the corpus row's `__csig` — the native one-pass codegen form
    * ([[graft.functions.BandMatchCount]], rowsPerBand = 0: the bucket
    * join is already exact on the string band key, so no band gate);
    * the old aggregate(zip_with(...)) fold was CodegenFallback and
    * interpreter-bound on the per-batch admission hot path (PERF §47). */
  private val sigAgreement: Column =
    graft.functions.BandMatchCount.band_match_count(
      col("__sig"), col("__csig"), 0)

  /** Band-probe join against a prepared `(cbk, corpus_id, __csig)`
    * posting frame: one `(new_id, corpus_id, est_jaccard)` row per
    * shared band whose agreement clears the est threshold, so a pair
    * sharing several bands repeats. */
  private def hitsAgainst(stream: DataFrame, posting: DataFrame,
                          p: MinHashParams): DataFrame =
    withSignature(stream, p)
      .select(col("doc_id").as("new_id"), col("__sig"))
      .withColumn("bk", explode(expr(DedupOps.bandArrayExpr(p))))
      .join(posting, col("bk") === col("cbk"))
      .withColumn("est_jaccard", sigAgreement.cast("double") / p.numHashes)
      .where(col("est_jaccard") >= DedupOps.estThreshold)
      .select("new_id", "corpus_id", "est_jaccard")

  /** The band posting table's key column. */
  val postingKey = "cbk"

  /** Band posting rows `(cbk, corpus_id, __csig)` of a
    * `(doc_id, __sig)` signature frame — what [[stageCorpusBands]] and
    * [[absorbPostings]] both write. */
  private def postingRows(sigs: DataFrame, p: MinHashParams): DataFrame =
    sigs.select(explode(expr(DedupOps.bandArrayExpr(p))).as(postingKey),
      col("doc_id").as("corpus_id"), col("__sig").as("__csig"))

  /** ONE-TIME corpus-side layout for continuous admission: the band
    * posting list `(cbk, corpus_id, __csig)` written in the
    * [[PostingCompaction.write]] layout, BUCKETED AND SORTED on the
    * band key. A micro-batch probe ([[probeHits]]) over the broadcast
    * threshold then plans a sort-merge join in which the corpus side is
    * read bucket-aligned straight off its files — Spark shuffles and
    * sorts ONLY the micro-batch side, into `buckets` partitions; a
    * smaller batch is broadcast instead and the corpus streamed in
    * place (PERF §79). Either way the 100 TB corpus is never exchanged
    * again, per batch or ever.
    *
    * The signature array is DENORMALIZED into the posting list
    * (numBands copies per doc) so a probe is a single join — no
    * second corpus-sized join to re-attach signatures. At the default
    * 8-hash preset that is 4 copies of a 64-byte array; for the
    * 128/16 production preset, where 16 copies of 1 KiB start to
    * matter, stage a second table bucketed on corpus_id instead and
    * split the probe into two bucket-aligned joins.
    *
    * `corpusSig` is a `(doc_id, __sig)` signature frame —
    * `DedupOps.minhashSignaturesOf` over the corpus, the same form
    * [[absorbPostings]] derives per batch. Returns the staged table's
    * data-file count — the BASELINE for the table's [[CompactionDial]]. */
  def stageCorpusBands(spark: SparkSession, corpusSig: DataFrame,
                       table: String, buckets: Int = 64,
                       p: MinHashParams = DedupOps.defaultParams): Int = {
    PostingCompaction.write(postingRows(corpusSig, p),
      table, postingKey, buckets, "overwrite")
    PostingCompaction.fileCount(spark, table)
  }

  /** The band probe against the posting table from
    * [[stageCorpusBands]], before any pair-level dedup: one
    * `(new_id, corpus_id, est_jaccard)` row per shared band that clears
    * the est threshold. The one probe of this gate:
    * [[nearDupMatchesBucketed]] dedups it per pair, and
    * [[AdmissionPipeline]] folds it into its per-doc verdict
    * aggregation. */
  def probeHits(stream: DataFrame, spark: SparkSession, table: String,
                p: MinHashParams = DedupOps.defaultParams): DataFrame =
    hitsAgainst(stream, spark.table(table), p)

  /** [[nearDupMatches]] against the pre-bucketed posting table from
    * [[stageCorpusBands]] — identical output, but the static side is
    * read in place (zero corpus shuffle per micro-batch). */
  def nearDupMatchesBucketed(stream: DataFrame, spark: SparkSession,
                             table: String,
                             p: MinHashParams = DedupOps.defaultParams): DataFrame =
    probeHits(stream, spark, table, p).dropDuplicates("new_id", "corpus_id")

  /** ABSORB admitted documents into the bucketed band posting table:
    * `DedupOps.minhashSignaturesOf` (the frame [[stageCorpusBands]]
    * takes) → the same
    * band postings [[stageCorpusBands]] writes → append, one writer
    * per touched bucket (≤ `buckets` files per absorb). At-least-once
    * replay duplicates a corpus_id's postings; that is
    * match-invisible (every probe ends in a pair-level
    * dropDuplicates) and storage-bounded by the next compaction
    * rewrite's pass over the table. */
  def absorbPostings(spark: SparkSession, admitted: DataFrame, table: String,
                     buckets: Int = 64,
                     p: MinHashParams = DedupOps.defaultParams): Unit =
    PostingCompaction.write(postingRows(DedupOps.minhashSignaturesOf(admitted, p), p),
      table, postingKey, buckets, "append")

  /** Posting-table data-file count (the compaction trigger input). */
  def postingFileCount(spark: SparkSession, table: String): Int =
    PostingCompaction.fileCount(spark, table)
}
