package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DotProduct.dot_product
import graft.operators.EmbeddingOps

/** EMBEDDING-level near-duplicate admission for a document stream —
  * the semantic complement to [[StreamingDedup]]'s lexical (minhash)
  * gate: a paraphrased or re-tokenized duplicate shares no shingles
  * but lands next to its source in embedding space, so a training-data
  * admission pipeline runs BOTH gates (the reference-side analogue is
  * batch `EmbeddingOps.semanticDecontaminate`, q53 — this is its
  * continuous form).
  *
  * The 100 TB layout is the shared posting layout
  * ([[PostingCompaction.write]], also behind [[StreamingDedup]] and
  * [[StreamingSpanGate]]):
  *
  *   - ONE-TIME corpus staging ([[stageCorpusVectors]]): every corpus
  *     vector is int8-quantized (`graft.functions.VecQ8`; at dim 64
  *     on parquet the staged table is smaller at rest than the float
  *     corpus even carrying ids+norms+buckets — parquet
  *     dictionary-encodes the 255-value codes, random floats don't
  *     compress — 3.4× on a 20k-vector corpus (PERF §57) and 2.14× on
  *     sf0.001's 500, which `StreamingSemanticGateSpec` pins at
  *     ≥ 1.5×; the in-memory/shuffle form is 4× narrower per
  *     component), its
  *     quantized norm precomputed, its sign-LSH bucket id
  *     assigned (same planes as q26/q27), and the table written
  *     BUCKETED AND SORTED on the bucket id; [[absorb]] appends the
  *     same rows in the same layout.
  *   - PER MICRO-BATCH probe ([[semanticMatches]]): the batch side
  *     quantizes, norms and buckets itself in one narrow codegen map
  *     (vec_q8 + dot_product + the plane sums — no lambda, no
  *     shuffle), then stream-static joins the staged table on the
  *     bucket id without exchanging the corpus, per batch and forever.
  *     The join form follows the sizes (executed plans, PERF §79): a
  *     batch under `autoBroadcastJoinThreshold`, every admission batch,
  *     is broadcast and the staged table streamed in place; a larger
  *     one is shuffled and sorted into `buckets` partitions against the
  *     corpus read bucket-aligned in place. Candidates clear `minCos`
  *     on the QUANTIZED cosine — integer dots, scale factors
  *     cancelled, the q82 arithmetic — so the probe never touches
  *     float corpus vectors at all.
  *
  * RECALL DIAL (`planeSets`, VERDICT r19 #6): with one plane set the
  * probe searches only the query's own sign bucket (nprobe=1) — a
  * true neighbor whose projection on some plane sits near zero can
  * land one bucket over and is missed. `planeSets = S` stages each
  * corpus vector into S INDEPENDENT bucket spaces
  * (`EmbeddingOps.signBucket` set s; composite key
  * s·2^planes + bucket_s, so sets never collide) and the probe
  * unions the matches from its S buckets: the miss probability decays
  * geometrically in S while staged bytes and per-batch candidate
  * count grow ~linearly. Set 0 is exactly the q26/q27 bucket space,
  * so planeSets=1 (the default) is byte-identical to the r19 layout.
  * Stage and probe MUST agree on (planes, planeSets) — the staged
  * composite keys are meaningless to a probe configured differently.
  * Quantization itself moves cosine by <1% at dim 64 (q82: 24/25
  * top-5 agreement with exact float) — budget `minCos` with that
  * margin.
  *
  * Like [[StreamingDedup.nearDupMatches]], the final dropDuplicates
  * is Spark's stateful dedup on a stream (a pair is emitted once for
  * the query's lifetime, surviving checkpoint restarts) and a plain
  * distinct on a batch frame. STATE BUDGET (ADVICE r19): that dedup
  * state grows with the number of DISTINCT emitted pairs — bounded by
  * Σ per-new-doc matches, in practice ≪ one long per admitted
  * duplicate pair (~32 B of store per entry). A deployment admitting
  * 1M duplicate pairs/day carries ~32 MB/day of state; budget
  * checkpoint size accordingly, or swap in
  * `dropDuplicatesWithinWatermark` once the caller attaches an
  * event-time watermark to the stream (pairs then age out after the
  * watermark delay — correct for admission, where a duplicate verdict
  * only matters once). */
object StreamingSemanticGate {

  /** Quantized columns for one side: `__q`, `__qd`, `__qn` from
    * `EmbeddingOps.quantized` (int8 codes, the codes as array<double>,
    * quantized norm — zero-norm vectors dropped: no direction, so no
    * semantic neighbor), plus `__bkts` (the `planeSets` composite
    * sign-LSH bucket keys, one per plane set). All per-row codegen over
    * the vector — legal in any streaming projection, zero shuffle. */
  private def withQuantized(df: DataFrame, vecCol: String,
                            planes: Int, planeSets: Int): DataFrame = {
    require(planeSets >= 1 && planeSets <= (1 << (30 - planes)),
      s"planeSets must be in [1, 2^(30-planes)], got $planeSets at $planes planes")
    val v = col(vecCol).cast("array<double>")
    EmbeddingOps.quantized(df, v, "__")
      .withColumn("__bkts", array((0 until planeSets).map(s =>
        lit(s * (1 << planes)) + EmbeddingOps.signBucket(v, planes, s)): _*))
  }

  /** The vector posting table's key column. */
  val postingKey = "cbkt"

  /** Corpus-side layout rows: `(cbkt, corpus_id, __cq, __cqn)`, one
    * row per (vector, plane set) — what [[stageCorpusVectors]] and
    * [[absorb]] both write. */
  private def corpusRows(src: DataFrame, idCol: String, vecCol: String,
                         planes: Int, planeSets: Int): DataFrame =
    withQuantized(src.select(col(idCol), col(vecCol)), vecCol, planes, planeSets)
      .select(explode(col("__bkts")).as(postingKey), col(idCol).as("corpus_id"),
        col("__q").as("__cq"), col("__qn").as("__cqn"))

  /** ONE-TIME corpus-side layout: `(cbkt, corpus_id, __cq, __cqn)` in
    * the [[PostingCompaction.write]] layout, bucketed+sorted on the
    * composite sign-LSH bucket key, one row
    * per (vector, plane set) — `planeSets` × corpus rows total, the
    * linear space cost of the recall dial. The codes column `__cq`
    * is stored as the RAW int array (values in [-127, 127] —
    * parquet's dictionary/bit-pack encodings shrink these to ~1
    * byte/component where the float corpus pays 4), so the byte cut
    * is realized AT REST and on every probe read; the probe casts the
    * read codes to array<double> in codegen (exact — see VecQ8's
    * integer-dot note). Returns the staged data file count — the
    * baseline for the table's [[CompactionDial]].
    *
    * @param corpus frame with `idCol` and `vecCol` (array<float> or
    *               array<double>) */
  def stageCorpusVectors(spark: SparkSession, corpus: DataFrame,
                         table: String, buckets: Int = 64,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         planes: Int = EmbeddingOps.numPlanes,
                         planeSets: Int = 1): Int = {
    PostingCompaction.write(corpusRows(corpus, idCol, vecCol, planes, planeSets),
      table, postingKey, buckets, "overwrite")
    PostingCompaction.fileCount(spark, table)
  }

  /** Per-batch (or batch-frame) probe against the staged table from
    * [[stageCorpusVectors]]: one row per (stream doc, corpus partner)
    * whose quantized cosine reaches `minCos` in ANY shared plane-set
    * bucket — `planes`/`planeSets` must match the staged layout. The
    * batch side explodes into its `planeSets` bucket keys before the
    * join (stream-side rows × S — the batch is the small side by
    * design); cross-set duplicate candidates collapse in the final
    * pair-dedup, which both unions the sets' recall and keeps the
    * emitted verdicts set-count-independent.
    *
    * @param stream frame with `idCol` and `vecCol` */
  def semanticMatches(stream: DataFrame, spark: SparkSession, table: String,
                      minCos: Double = EmbeddingOps.nearDupCos,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      planes: Int = EmbeddingOps.numPlanes,
                      planeSets: Int = 1): DataFrame =
    probeHits(stream, spark, table, minCos, idCol, vecCol, planes, planeSets)
      .dropDuplicates("new_id", "corpus_id")

  /** The probe behind [[semanticMatches]], before its pair-level
    * dedup: one `(new_id, corpus_id, cos_q8)` row per shared plane-set
    * bucket whose quantized cosine reaches `minCos`. The one probe of
    * this gate: [[semanticMatches]] dedups it per pair, and
    * [[AdmissionPipeline]] folds it into its per-doc verdict
    * aggregation. */
  def probeHits(stream: DataFrame, spark: SparkSession, table: String,
                minCos: Double = EmbeddingOps.nearDupCos,
                idCol: String = "vec_id", vecCol: String = "embedding",
                planes: Int = EmbeddingOps.numPlanes,
                planeSets: Int = 1): DataFrame =
    withQuantized(stream.select(col(idCol), col(vecCol)), vecCol, planes, planeSets)
      .select(col(idCol).as("new_id"), col("__qd"), col("__qn"),
        explode(col("__bkts")).as("__bkt"))
      .join(spark.table(table), col("__bkt") === col("cbkt"))
      .withColumn("cos_q8",
        dot_product(col("__qd"), col("__cq").cast("array<double>")) /
          (col("__qn") * col("__cqn")))
      .where(col("cos_q8") >= minCos)
      .select("new_id", "corpus_id", "cos_q8")

  /** ABSORB admitted vectors into the staged corpus (the
    * [[StreamingDedup]] absorbing-gate pattern at the embedding
    * level): quantize+bucket the admitted frame the staging way and
    * APPEND it — the shared layout keeps the buckets, so the very next
    * [[semanticMatches]] probe sees the new vectors without any
    * restage, still corpus-exchange-free. The write is the only
    * action: counting the absorbed vectors would cost a persist and a
    * Spark job per micro-batch. A caller that wants the count diffs
    * the table's row count, `planeSets` rows per vector.
    *
    * File growth is ≤ `buckets` files per absorb: long-running loops
    * hold a [[CompactionDial]] and call `maybeCompact` after each
    * absorb, exactly like the band-posting gate. */
  def absorb(spark: SparkSession, admitted: DataFrame, table: String,
             buckets: Int = 64,
             idCol: String = "vec_id", vecCol: String = "embedding",
             planes: Int = EmbeddingOps.numPlanes,
             planeSets: Int = 1): Unit =
    PostingCompaction.write(corpusRows(admitted, idCol, vecCol, planes, planeSets),
      table, postingKey, buckets, "append")
}
