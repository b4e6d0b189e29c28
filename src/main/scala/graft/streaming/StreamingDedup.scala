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
  * The enabler is a NARROW minhash signature: the batch path computes
  * signatures by explode + groupBy (one shuffle), which a streaming
  * projection cannot do without watermark-managed state. Folding the
  * min over each document's shingle array per row (`array_min` over a
  * `transform`) computes the identical signature with ZERO shuffle —
  * legal in any streaming projection and bit-identical to the staged
  * signature table (spec-pinned). The stream then explodes its band
  * keys and stream-static joins the corpus band table: per micro-batch
  * Spark plans a plain join against the static side.
  *
  * Scale shape: per-row signature math is codegen over the document's
  * own shingles (no corpus access); the static corpus bands join
  * against each micro-batch. The 100 TB layout is
  * [[stageCorpusBands]]: the band posting list bucketed+sorted on the
  * band key once, so every micro-batch probe
  * ([[nearDupMatchesBucketed]]) shuffles only the batch side and the
  * corpus joins in place off its buckets.
  */
object StreamingDedup {

  /** Attach `__sig` (narrow, shuffle-free minhash signature as
    * array<bigint>) to a frame with a `text` column; rows without a
    * bigram (docs under two tokens) carry a NULL `__sig`. The
    * signature IS the batch path's native one-pass expression
    * ([[graft.functions.MinHashSig]] — the same codegen loop behind
    * the staged signature tables), so batch/stream parity holds by
    * construction for every signable row. (An earlier form recomputed
    * the mins as `numHashes` `array_min(transform(__hs, ...))`
    * expressions over the shingle-hash array; those are
    * HigherOrderFunctions — CodegenFallback, interpreted per stream
    * row on the admission gate's per-batch hot path. PERF §47.)
    *
    * One INTENTIONAL divergence from the pre-§47 form (ADVICE r16):
    * a NULL `text` now yields a NULL `__sig` (MinHashSig is
    * null-propagating, and `size(null) > 0` is never true), so
    * [[withSignature]] drops the row with the other unsignables; the
    * old case-when over the shingle-hash array produced an array of
    * `numHashes` NULL elements and let the row flow on with a garbage
    * signature. Dropping is the contract — a null document cannot
    * near-duplicate anything — and curation rejects null text
    * upstream anyway; the batch/stream parity spec pins a null-text
    * row to this behavior. */
  def withSignatureAll(docs: DataFrame,
                       p: MinHashParams = DedupOps.defaultParams): DataFrame =
    docs.withColumn("__sig0",
        graft.functions.MinHashSig.minhash_sig(col("text"), p.numHashes))
      .withColumn("__sig", when(size(col("__sig0")) > 0, col("__sig0")))
      .drop("__sig0")

  /** [[withSignatureAll]] with the unsignable rows dropped — they
    * cannot near-duplicate anything. */
  def withSignature(docs: DataFrame,
                    p: MinHashParams = DedupOps.defaultParams): DataFrame =
    withSignatureAll(docs, p).where(col("__sig").isNotNull)

  /** Stream-static near-dup matches: for each streaming document that
    * shares an LSH band with a corpus document and whose signature
    * agreement clears `estThreshold`, emit one row per (doc, corpus
    * partner, est_jaccard). On a stream the final dropDuplicates is
    * Spark's stateful dedup — a pair is emitted once for the stream's
    * lifetime; add a watermark upstream to bound that state when
    * doc_ids are unbounded. On a batch frame it is a plain distinct.
    *
    * @param stream    streaming (or batch) frame with `doc_id` and `text`
    * @param corpusSig STATIC signature table (doc_id, mh0..mhN) — the
    *                  staged table from `DedupOps.minhashSignatures`
    */
  def nearDupMatches(stream: DataFrame, corpusSig: DataFrame,
                     p: MinHashParams = DedupOps.defaultParams): DataFrame = {
    val corpusBands = DedupOps.bandKeysOf(corpusSig, p)
      .withColumnRenamed("doc_id", "corpus_id")
      .withColumnRenamed("bk", "cbk")
    val corpusArr = corpusSig.select(col("doc_id").as("corpus_id"),
      array((0 until p.numHashes).map(i => col(s"mh$i")): _*).as("__csig"))
    matchesAgainst(stream,
      corpusBands.join(corpusArr, "corpus_id"), p)
  }

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
    * posting frame. */
  private def matchesAgainst(stream: DataFrame, posting: DataFrame,
                             p: MinHashParams): DataFrame =
    withSignature(stream, p)
      .select(col("doc_id").as("new_id"), col("__sig"))
      .withColumn("bk", explode(expr(DedupOps.bandArrayExpr(p))))
      .join(posting, col("bk") === col("cbk"))
      .withColumn("est_jaccard", sigAgreement.cast("double") / p.numHashes)
      .where(col("est_jaccard") >= DedupOps.estThreshold)
      .select("new_id", "corpus_id", "est_jaccard")
      .dropDuplicates("new_id", "corpus_id")

  /** ONE-TIME corpus-side layout for continuous admission: the band
    * posting list `(cbk, corpus_id, __csig)` written as a parquet
    * table BUCKETED AND SORTED on the band key. Every subsequent
    * micro-batch probe ([[nearDupMatchesBucketed]]) then plans a
    * sort-merge join in which the corpus side is read bucket-aligned
    * straight off its files — Spark shuffles and sorts ONLY the
    * micro-batch side, into `buckets` partitions; the 100 TB corpus
    * is never exchanged again, per batch or ever.
    *
    * The signature array is DENORMALIZED into the posting list
    * (numBands copies per doc) so a probe is a single join — no
    * second corpus-sized join to re-attach signatures. At the default
    * 8-hash preset that is 4 copies of a 64-byte array; for the
    * 128/16 production preset, where 16 copies of 1 KiB start to
    * matter, stage a second table bucketed on corpus_id instead and
    * split the probe into two bucket-aligned joins. */
  /** Returns the staged table's data-file count — the BASELINE for the
    * file-count compaction trigger ([[compactionDial]]). */
  def stageCorpusBands(spark: SparkSession, corpusSig: DataFrame,
                       table: String, buckets: Int = 64,
                       p: MinHashParams = DedupOps.defaultParams): Int = {
    corpusSig.select(col("doc_id").as("corpus_id"),
        array((0 until p.numHashes).map(i => col(s"mh$i")): _*).as("__sig"))
      .withColumn("cbk", explode(expr(DedupOps.bandArrayExpr(p))))
      .select(col("cbk"), col("corpus_id"), col("__sig").as("__csig"))
      .write.mode("overwrite")
      .bucketBy(buckets, "cbk").sortBy("cbk")
      .format("parquet").saveAsTable(table)
    PostingCompaction.fileCount(spark, table)
  }

  /** [[nearDupMatches]] against the pre-bucketed posting table from
    * [[stageCorpusBands]] — identical output, but the static side
    * joins in place (zero corpus shuffle per micro-batch). */
  def nearDupMatchesBucketed(stream: DataFrame, spark: SparkSession,
                             table: String,
                             p: MinHashParams = DedupOps.defaultParams): DataFrame =
    matchesAgainst(stream, spark.table(table), p)

  /** ABSORB admitted documents into the bucketed band posting table
    * (the admission-loop append the soak inlined until r20): narrow
    * one-pass signatures → band postings → append, repartitioned to
    * ONE WRITER PER TOUCHED BUCKET (≤ `buckets` files per absorb — the
    * §57 geometry; an unrepartitioned append lands tasks × buckets).
    * At-least-once replay duplicates a corpus_id's postings; that is
    * match-invisible (every probe ends in a pair-level
    * dropDuplicates) and storage-bounded by the next compaction
    * rewrite's pass over the table. */
  def absorbPostings(spark: SparkSession, admitted: DataFrame, table: String,
                     buckets: Int = 64,
                     p: MinHashParams = DedupOps.defaultParams): Unit =
    graft.operators.DedupOps.minhashSignaturesOf(admitted)
      .select(col("doc_id").as("corpus_id"),
        array((0 until p.numHashes).map(i => col(s"mh$i")): _*).as("__sig"))
      .withColumn("cbk", explode(expr(DedupOps.bandArrayExpr(p))))
      .select(col("cbk"), col("corpus_id"), col("__sig").as("__csig"))
      .repartition(buckets, col("cbk"))
      .write.mode("append")
      .bucketBy(buckets, "cbk").sortBy("cbk")
      .format("parquet").saveAsTable(table)

  /** Posting-table data-file count (the compaction trigger input). */
  def postingFileCount(spark: SparkSession, table: String): Int =
    PostingCompaction.fileCount(spark, table)

  /** File-count-triggered compaction dial for a band posting table
    * that ABSORBS admitted batches (VERDICT r15 #6, PERF §41): appends
    * grow the posting table by ~one file per touched bucket per batch,
    * and the soak measured probe latency creeping +35% over 100
    * batches from exactly that (files 2,048 → 5,248; bytes only +14%).
    * Call `maybeCompact` after each absorb: when the file count
    * crosses the threshold the table is rewritten once — bucketed
    * layout and name preserved — and probe latency returns to its
    * staged baseline. FLOOR-KEYED (VERDICT r16 #1, r17 #1): the
    * [[CompactionDial]] starts from the staged file count and re-keys
    * off the measured post-compaction landing after every firing (so
    * the factor means what it says against the table's actual
    * compacted self even if that ever drifts above the baseline) and
    * REJECTS an ineffective landing — the r17 soak's ratchet, where a
    * defective rewrite's inflated landings were adopted as successive
    * floors. With the fixed rewrite a landing is ≤ buckets files (one
    * writer per bucket, zero exchange). See PERF §48/§49.
    *
    * Heap sizing note for admission workloads (PERF §48): run the
    * admission JVM at a BOUNDED heap (the repo-standard 16 GiB stays
    * flat over 1,000+ batches). An oversized heap is not safer — G1
    * at 100 GiB grows multi-GB young generations whose evacuation
    * pauses landed as 40–131 s batch spikes in the r16 soak;
    * [[graft.tools.AdmissionPipelineSoak.heapWarning]] is the startup check.
    *
    * @param baselineFiles the count [[stageCorpusBands]] returned */
  def compactionDial(table: String, baselineFiles: Int,
                     filesFactor: Double = 2.0,
                     buckets: Int = 64): CompactionDial =
    new CompactionDial(table, baselineFiles, filesFactor, buckets, "cbk")
}
