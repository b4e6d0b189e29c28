package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.operators.{DedupOps, MinHashParams}

/** The streaming curation gate: quality-score and dedup-screen
  * documents IN FLIGHT, before they ever land in the corpus store —
  * the admission pipeline a continuously-ingesting training-data
  * system runs, composed from the same primitives the batch
  * operators pin to the oracle.
  *
  * Admission topology (all narrow on the stream side):
  *   1. quality rules — pure per-row expressions (no corpus access);
  *   2. Bloom pre-screen — the corpus's LSH band keys are folded into
  *      a Bloom filter ONCE (driver-side, like Spark's own runtime
  *      filters); a streaming doc whose every band key misses the
  *      filter provably has no band-mate in the corpus (Bloom filters
  *      have no false negatives), so it is admitted without touching
  *      the corpus at all;
  *   3. only the Bloom-hit minority continues to the exact
  *      stream-static verification join ([[StreamingDedup]]).
  * At 100 TB the filter is megabytes for billions of band keys (the
  * reason this shape is the production one: the common case — novel
  * document — costs zero I/O), and the false-positive rate only
  * sends extra docs to verification, never corrupts a verdict.
  */
object StreamingCuration {

  /** Narrow quality columns for a `text` stream: token count, a
    * reject-reason CSV, and a pass flag. The rules are the per-row
    * subset of the batch quality filter (q51): too_short,
    * low_diversity, high_stopword, plus the narrow repetition proxy
    * (excess duplicate-bigram occurrences) — everything computable
    * without a shuffle, hence streaming-legal in a projection. */
  def withQuality(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", expr("size(toks)"))
      // distinct-bigram COUNT via the native one-pass shingle
      // expression — the rule only needs the count, and the previous
      // `transform(sequence(...), concat(...))` + array_distinct form
      // is a CodegenFallback higher-order stack, interpreted per
      // stream row on the admission hot path (PERF §47); ShingleHashes
      // emits exactly one struct per DISTINCT word bigram, so the
      // counts are equal by construction (spec-pinned below)
      .withColumn("__ndbg",
        size(graft.functions.ShingleHashes.shingle_hashes(col("text"))))
      .withColumn("__nbg", expr("greatest(size(toks) - 1, 0)"))
      // malformed input (null/absent text) must REJECT, not slide
      // through: with null text every rule below evaluates to null,
      // no reason fires, and the doc would admit — a gate that waves
      // through exactly the rows it cannot score
      .withColumn("r_null", col("text").isNull)
      .withColumn("r_short", !col("r_null") && col("n_tokens") < 20)
      .withColumn("r_lowdiv",
        expr("size(array_distinct(toks)) * 100 < size(toks) * 35"))
      // stop-token count as codegen set ops (size minus size after
      // removing each stop token) — `filter(toks, x -> ...)` is a
      // higher-order interpreted per row; array_remove drops every
      // occurrence, and split() never yields null elements, so the
      // counts are identical
      .withColumn("r_stop",
        expr("(size(toks) - size(array_remove(array_remove(toks, 'the'), 'a')))" +
          " * 100 > size(toks) * 18"))
      .withColumn("r_repet", expr("(__nbg - __ndbg) * 5 >= __nbg AND __nbg > 0"))
      .withColumn("reasons", concat_ws(",",
        when(col("r_null"), lit("null_text")),
        when(col("r_short"), lit("too_short")),
        when(col("r_lowdiv"), lit("low_diversity")),
        when(col("r_stop"), lit("high_stopword")),
        when(col("r_repet"), lit("repetitive"))))
      .withColumn("pass", (col("reasons") === "").cast("int"))
      .drop("toks", "__ndbg", "__nbg", "r_null", "r_short", "r_lowdiv", "r_stop",
        "r_repet")

  /** Fold the corpus's LSH band keys into a Bloom filter (one
    * driver-side pass over the static signature table). `fpp` trades
    * filter size against how many novel docs take the expensive
    * verify path — never against correctness. `corpusSig` is a
    * `(doc_id, __sig)` frame, e.g. `DedupOps.minhashSignaturesOf`. */
  def corpusBandBloom(corpusSig: DataFrame,
                      p: MinHashParams = DedupOps.defaultParams,
                      fpp: Double = 0.01): BloomFilter = {
    val bands = DedupOps.bandKeysOf(corpusSig, p)
    val n = math.max(bands.count(), 1L)
    bands.stat.bloomFilter("bk", n, fpp)
  }

  /** Streaming admission verdicts: one row per in-flight document.
    *   reject_quality — failed the narrow rules (reasons attached);
    *   admit          — passed quality and provably band-novel
    *                    (every band key missed the Bloom filter);
    *   needs_verify   — passed quality but a band key hit: route to
    *                    the exact stream-static join
    *                    ([[StreamingDedup.nearDupMatches]]).
    * The Bloom probe is a scala UDF over the band array — the sketch
    * lives off the SQL type system, exactly how Spark's own runtime
    * bloom filters work; it is one hash probe per band, no I/O. */
  def admissions(stream: DataFrame, bloom: BloomFilter,
                 p: MinHashParams = DedupOps.defaultParams): DataFrame = {
    val mightMatch = udf { (bks: Seq[String]) =>
      bks != null && bks.exists(bloom.mightContainString)
    }
    // withSignatureAll: an unsignable doc (under two tokens) must
    // surface as reject_quality (too_short covers it), not vanish
    val sigged = DedupOps.withSignatureAll(withQuality(stream), p)
      .withColumn("__bks",
        when(col("__sig").isNotNull, expr(DedupOps.bandArrayExpr(p))))
    sigged
      .withColumn("verdict",
        when(col("pass") === 0, lit("reject_quality"))
          .when(!mightMatch(col("__bks")), lit("admit"))
          .otherwise(lit("needs_verify")))
      .select("doc_id", "verdict", "reasons", "n_tokens")
  }
}
