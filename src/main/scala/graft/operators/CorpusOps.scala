package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between dedup and training: benchmark decontamination, deterministic
  * sampling, domain mixing, quality filtering, and sequence packing.
  *
  * Design rules shared by every operator here:
  *  - deterministic: membership decisions hash document IDENTITY
  *    (md5-based uniform hash), never Spark's partition-dependent
  *    `rand()` — a re-run, a retry, or a different cluster layout
  *    selects the identical sample;
  *  - integer decision arithmetic: thresholds compare `a * k < b * m`
  *    on BIGINTs, not floating ratios, so an independent engine (the
  *    DuckDB oracle) reproduces every flag bit-for-bit;
  *  - shuffle-light: per-document scoring is a narrow map; the only
  *    shuffles are the aggregates that are the operator's point, and
  *    small side tables (benchmark n-grams, per-domain counts) join by
  *    broadcast so the corpus never moves.
  */
object CorpusOps {

  /** 32-bit uniform hash of the doc id — the deterministic coin for
    * every sampling decision. */
  private val u32 =
    "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)"
  private val duckU32 =
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"

  // ------------------------------------------------- decontamination

  /** Benchmark membership: a held-out eval slice of the corpus. In
    * production this is the benchmark suite's own n-gram table; here a
    * deterministic 5% of documents stands in for it. */
  private val benchPred = "doc_id % 20 = 0"

  /** q48: benchmark decontamination census — for every training
    * document, how many of its distinct word-bigram shingles appear in
    * ANY benchmark document. Training docs overlapping the eval set
    * must be dropped before training or the benchmark leaks.
    *
    * Scale shape: benchmark n-grams are tiny next to the corpus (eval
    * suites are fixed-size), so the membership probe is a BROADCAST
    * semi-join — the corpus-side shingles never shuffle; the only wide
    * stage is the per-doc overlap count, keyed by doc_id. Reuses the
    * staged shingle table from the dedup stack. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val bg = DedupOps.shingleTable(spark, sfDir)
    val bench = bg.where(expr(benchPred)).select("s").distinct()
    val train = bg.where(expr(s"NOT ($benchPred)"))
    val sizes = train.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val overlap = train.join(broadcast(bench), "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    sizes.join(overlap, Seq("doc_id"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("overlap_frac",
        round(col("n_overlap") * lit(1.0) / col("n_shingles"), 6))
      // contaminated = overlap >= 90% (near-total n-gram containment =
      // direct benchmark leakage; the synthetic corpus shares a small
      // vocabulary, so incidental bigram overlap is high and a low
      // threshold would not discriminate), in exact integer math
      .withColumn("contaminated",
        (col("n_overlap") * 10 >= col("n_shingles") * 9).cast("int"))
      .select("doc_id", "n_shingles", "n_overlap", "overlap_frac", "contaminated")
      .orderBy("doc_id")
  }

  val decontaminateSql: String = {
    val toks = "string_split(text, ' ')"
    val bigrams =
      s"""CASE WHEN len($toks) < 2 THEN []::VARCHAR[]
         |ELSE list_distinct(list_transform(generate_series(1, len($toks) - 1),
         |  i -> $toks[i] || ' ' || $toks[i + 1])) END""".stripMargin
    s"""WITH bg AS (
       |  SELECT doc_id, unnest($bigrams) AS s FROM documents),
       |bench AS (SELECT DISTINCT s FROM bg WHERE $benchPred),
       |train AS (SELECT * FROM bg WHERE NOT ($benchPred)),
       |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id),
       |overlap AS (
       |  SELECT doc_id, count(*) AS n_overlap
       |  FROM train JOIN bench USING (s) GROUP BY doc_id)
       |SELECT s.doc_id, s.n_shingles,
       |  coalesce(o.n_overlap, 0) AS n_overlap,
       |  round(coalesce(o.n_overlap, 0) * 1.0 / s.n_shingles, 6) AS overlap_frac,
       |  CAST(coalesce(o.n_overlap, 0) * 10 >= s.n_shingles * 9 AS INT) AS contaminated
       |FROM sizes s LEFT JOIN overlap o ON o.doc_id = s.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }

  // ------------------------------------------------ deterministic sampling

  /** Per-language keep rates in per-mille — the "downsample the
    * over-represented web language, keep the rare ones" shape of a
    * corpus-mixing config. */
  private val sampleRatesPm: Seq[(String, Int)] =
    Seq("en" -> 250, "es" -> 800, "de" -> 800, "fr" -> 800, "zh" -> 800)
  private val defaultRatePm = 500

  /** q49: deterministic stratified sample — keep a document iff its
    * identity-hash coin lands under its stratum's rate. Pure narrow
    * filter: no shuffle at all (the ORDER BY is presentation only);
    * re-running selects the identical documents, which is what makes
    * downstream caches and incremental reruns coherent at 100 TB. */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val rateCase = sampleRatesPm
      .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", s" ELSE $defaultRatePm END")
    Tables.documents(spark, sfDir)
      .withColumn("rate_pm", expr(rateCase))
      .where(expr(s"$u32 % 1000") < col("rate_pm"))
      .select("doc_id", "lang", "source", "rate_pm")
      .orderBy("doc_id")
  }

  val stratifiedSampleSql: String = {
    val rateCase = sampleRatesPm
      .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", s" ELSE $defaultRatePm END")
    s"""SELECT doc_id, lang, source, $rateCase AS rate_pm
       |FROM documents
       |WHERE $duckU32 % 1000 < ($rateCase)
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------- domain mixing

  /** q50: balanced domain mix — downsample every language to the size
    * of the smallest one (the uniform-mixture special case of
    * target-proportion mixing; the rate arithmetic generalizes to any
    * target weights). Two tiny aggregates (per-lang counts, global
    * min) broadcast back onto the corpus; the corpus itself never
    * shuffles — keep iff `hash % lang_count < min_count`, i.e. an
    * exact min_count/lang_count rate decided per document. */
  def domainMix(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    // mn rides the counts frame as a constant-partition window min
    // instead of a separate counts.agg(min) + crossJoin: the scalar
    // aggregate re-executed the whole counts subtree (a third
    // document scan per run, r21 plan audit). The window runs over
    // one partition of |langs| rows — bounded by language count, not
    // corpus size (pmod keeps the spec non-empty, the q78 trick).
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
      .withColumn("mn",
        min(col("cnt")).over(Window.partitionBy(pmod(col("cnt"), lit(1)))))
    docs.join(broadcast(counts), "lang")
      .where(expr(s"$u32 % cnt") < col("mn"))
      .select("doc_id", "lang", "cnt", "mn")
      .orderBy("doc_id")
  }

  val domainMixSql: String =
    s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
       |m AS (SELECT min(cnt) AS mn FROM c)
       |SELECT doc_id, lang, cnt, mn
       |FROM documents JOIN c USING (lang) CROSS JOIN m
       |WHERE $duckU32 % cnt < mn
       |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- quality filter

  /** q51: composed quality filter with reject reasons — the C4/Gopher
    * pipeline stage that drops low-quality documents and KEEPS WHY
    * (reason strings drive the curation dashboards that tune
    * thresholds). Rules, all in exact integer arithmetic:
    *   too_short      n_tokens < 20
    *   low_diversity  type-token ratio < 0.35
    *   high_stopword  stopword ratio  > 0.18
    *   repetitive     duplicate-bigram mass >= 0.2 (Gopher §A1.1)
    * One narrow scoring map + one bigram aggregate (the repetition
    * rule's shuffle) joined back by doc_id. */
  def qualityFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", expr("size(toks)"))
      .withColumn("n_distinct", expr("size(array_distinct(toks))"))
      // codegen set ops instead of the higher-order filter(toks, ...)
      // lambda (CodegenFallback, interpreted per row — PERF §47);
      // array_remove drops every occurrence and split() never yields
      // null elements, so the count is identical
      .withColumn("stop_cnt",
        expr("size(toks) - size(array_remove(array_remove(toks, 'the'), 'a'))"))
    // repetition aggregates per row via the native one-pass census
    // (graft.functions.BigramRepStats) — the former explode+double-
    // groupBy subtree shuffled the corpus bigram-string stream twice
    // and joined back; now the whole rule stays inside the scan
    // (PERF §47). Null struct (< 2 tokens) reproduces the old left
    // join's null dup_cnt, so the coalesce below is unchanged.
    base
      .withColumn("__st",
        graft.functions.BigramRepStats.bigram_rep_stats(col("text")))
      .withColumn("n_bigrams", col("__st.n_bigrams"))
      .withColumn("dup_cnt", col("__st.dup_bigram_cnt"))
      .withColumn("r_short", col("n_tokens") < 20)
      .withColumn("r_lowdiv", col("n_distinct") * 100 < col("n_tokens") * 35)
      .withColumn("r_stop", col("stop_cnt") * 100 > col("n_tokens") * 18)
      .withColumn("r_repet",
        coalesce(col("dup_cnt") * 5 >= col("n_bigrams"), lit(false)))
      .withColumn("reasons", concat_ws(",",
        when(col("r_short"), lit("too_short")),
        when(col("r_lowdiv"), lit("low_diversity")),
        when(col("r_stop"), lit("high_stopword")),
        when(col("r_repet"), lit("repetitive"))))
      .withColumn("pass", (col("reasons") === "").cast("int"))
      .select("doc_id", "n_tokens", "reasons", "pass")
      .orderBy("doc_id")
  }

  val qualityFilterSql: String = {
    val toks = "string_split(text, ' ')"
    s"""WITH base AS (
       |  SELECT doc_id,
       |    len($toks) AS n_tokens,
       |    len(list_distinct($toks)) AS n_distinct,
       |    len(list_filter($toks, x -> x = 'the' OR x = 'a')) AS stop_cnt
       |  FROM documents),
       |bgx AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len($toks) - 1),
       |    i -> $toks[i] || ' ' || $toks[i + 1])) AS bg
       |  FROM documents WHERE len($toks) >= 2),
       |cnts AS (SELECT doc_id, bg, count(*) AS cnt FROM bgx GROUP BY doc_id, bg),
       |dup AS (
       |  SELECT doc_id, sum(cnt) AS n_bigrams,
       |    sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_cnt
       |  FROM cnts GROUP BY doc_id)
       |SELECT b.doc_id, b.n_tokens,
       |  concat_ws(',',
       |    CASE WHEN b.n_tokens < 20 THEN 'too_short' END,
       |    CASE WHEN b.n_distinct * 100 < b.n_tokens * 35 THEN 'low_diversity' END,
       |    CASE WHEN b.stop_cnt * 100 > b.n_tokens * 18 THEN 'high_stopword' END,
       |    CASE WHEN coalesce(d.dup_cnt * 5 >= d.n_bigrams, false) THEN 'repetitive' END
       |  ) AS reasons,
       |  CAST(concat_ws(',',
       |    CASE WHEN b.n_tokens < 20 THEN 'too_short' END,
       |    CASE WHEN b.n_distinct * 100 < b.n_tokens * 35 THEN 'low_diversity' END,
       |    CASE WHEN b.stop_cnt * 100 > b.n_tokens * 18 THEN 'high_stopword' END,
       |    CASE WHEN coalesce(d.dup_cnt * 5 >= d.n_bigrams, false) THEN 'repetitive' END
       |  ) = '' AS INT) AS pass
       |FROM base b LEFT JOIN dup d ON d.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin
  }

  // ---------------------------------------------------- sequence packing

  private val packShards = 32
  private val packCapacity = 2048 // tokens per training sequence

  /** q52: contiguous sequence packing — assign each document to the
    * training-sequence bin where its first token lands, packing
    * documents head-to-tail in doc_id order within a shard.
    *
    * Scale shape: packing is inherently sequential, so it is sharded —
    * each of the `packShards` hash shards packs independently (one
    * running-sum window PER SHARD, all shards in parallel). At cluster
    * scale the shard count scales with executors; no global sort, no
    * single-partition window anywhere. */
  def packBins(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      .withColumn("n_tokens", expr("size(split(text, ' '))"))
      .withColumn("shard", col("doc_id") % packShards)
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", expr(s"(cum - n_tokens) div $packCapacity"))
      .select("doc_id", "shard", "n_tokens", "bin")
      .orderBy("doc_id")
  }

  // CAST the bin to BIGINT: DuckDB's windowed sum(BIGINT) is HUGEINT,
  // which the driver's pandas bridge renders as float64 ("0.0" vs "0")
  // and the value hash diverges even though every value is equal.
  val packBinsSql: String =
    s"""SELECT doc_id, doc_id % $packShards AS shard,
       |  len(string_split(text, ' ')) AS n_tokens,
       |  CAST((sum(len(string_split(text, ' '))) OVER (
       |     PARTITION BY doc_id % $packShards ORDER BY doc_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |   - len(string_split(text, ' '))) // $packCapacity AS BIGINT) AS bin
       |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- rare-token (OOV) filter

  /** q54: rare-token census — per document, how many token OCCURRENCES
    * are "rare" (corpus frequency below half the mean type frequency,
    * `c * vocab * 2 < total` in exact integer math). A high rare mass
    * is the classic OOV/garbled-text signal tokenizer-fertility
    * dashboards key on.
    *
    * Scale shape: under Zipf the RARE types are most of the
    * vocabulary, so the broadcastable side is the COMMON head (few
    * types, most of the mass) — rare counts come from
    * `n_tokens - n_common` after a broadcast semi-join against the
    * head, never from materializing the rare tail. The frequency table
    * itself is one partial-agg shuffle over the token stream. */
  def rareTokenFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    // freq (vocab-sized — Heaps' law, sublinear in corpus bytes) backs
    // BOTH tot and the common-head filter; unpersisted each reference
    // re-ran the full token explode + count (r21 plan audit: 4
    // document scans per run, 3 after). Persist, NOT a single-
    // partition window carrying total/vocab: the vocab is unbounded
    // (unlike q57's charset³ trigrams or q50's language list), so a
    // constant-partition window over it is a one-task bottleneck at
    // corpus scale — the PERF §51 skew doctrine. The tok explode
    // itself stays deliberately un-materialized (q57 doctrine:
    // recompute narrow CPU, never widen a shuffle/cache with the
    // token stream).
    val freq = CacheRegistry.scoped(tok.groupBy("t").agg(count(lit(1)).as("c")))
    val tot = freq.agg(sum("c").as("total"), count(lit(1)).as("vocab"))
    val common = freq.crossJoin(broadcast(tot))
      .where(col("c") * col("vocab") * 2 >= col("total")).select("t")
    val perDoc = tok.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
    val commonCnt = tok.join(broadcast(common), Seq("t"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_common"))
    perDoc.join(commonCnt, Seq("doc_id"), "left")
      .withColumn("n_rare", col("n_tokens") - coalesce(col("n_common"), lit(0L)))
      .withColumn("rare_pm", expr("n_rare * 1000 div n_tokens"))
      .withColumn("oov_flag", (col("n_rare") >= 1).cast("int"))
      .select("doc_id", "n_tokens", "n_rare", "rare_pm", "oov_flag")
      .orderBy("doc_id")
  }

  // ------------------------------------------- boilerplate chunk dedup

  private val chunkLen = 5   // tokens per pseudo-line
  private val boilerDf = 2   // chunk is boilerplate if in >= 2 distinct docs

  /** q55: boilerplate-chunk census — the CCNet/RefinedWeb line-dedup
    * topology. Documents are cut into deterministic non-overlapping
    * `chunkLen`-token chunks (the corpus has no newlines, so fixed
    * token windows stand in for lines; with newline-delimited text the
    * splitter is the only line that changes), the corpus-wide document
    * frequency of every chunk is counted, and chunks appearing in >=
    * `boilerDf` distinct documents are flagged as boilerplate. Output
    * is the per-document census (chunk count, boilerplate-chunk count,
    * per-mille) that drives the "strip headers/footers/nav bars before
    * training" pass.
    *
    * Scale shape: one explode (narrow), one hash-agg on the chunk hash
    * for document frequency, and a join back to the chunk stream. The
    * frequent-chunk set is a small fraction of all chunks (that is
    * what makes it boilerplate) but grows with the corpus, so the
    * probe join is hint-free: AQE broadcasts it while it fits and
    * shuffle-joins past that. Chunk identity travels as an 8-byte
    * xxhash64 in the Spark plan, never the chunk string. */
  def boilerplateChunks(spark: SparkSession, sfDir: String): DataFrame = {
    // native one-pass chunk strings (r17 CodegenSweep): same
    // CodegenFallback class as q80's window generator — chunk_strings
    // is the stride=k, short-tail-included geometry of SpanStrings,
    // substring-copied from the text inside codegen (PERF §50)
    val chunks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(
        graft.functions.SpanStrings.chunk_strings(col("text"), chunkLen)).as("chunk"))
      .withColumn("ch", xxhash64(col("chunk"))).drop("chunk")
    val boiler = chunks.groupBy("ch")
      .agg(countDistinct(col("doc_id")).as("df"))
      .where(col("df") >= boilerDf)
      .select("ch")
    val perDoc = chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    // no broadcast HINT on the frequent-chunk set: unlike the Zipf
    // head (q54) or a charset-bounded table (q57), the set of chunks
    // shared by >= 2 docs grows with the corpus. AQE broadcasts it
    // while it fits (it does at every test SF) and falls back to a
    // shuffle join when a 100 TB run's boilerplate set outgrows the
    // driver — forcing the hint would make that run OOM instead.
    val boilCnt = chunks.join(boiler, "ch")
      .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
    perDoc.join(boilCnt, Seq("doc_id"), "left")
      .withColumn("n_boiler", coalesce(col("n_boiler"), lit(0L)))
      .withColumn("boiler_pm", expr("n_boiler * 1000 div n_chunks"))
      .select("doc_id", "n_chunks", "n_boiler", "boiler_pm")
      .orderBy("doc_id")
  }

  // ------------------------------------------- cross-doc repeated spans

  private val spanLen = 8  // tokens per sliding window

  /** q80: cross-document repeated-span census — the memorization-risk
    * report (Lee et al.'s "Deduplicating Training Data" substring-dup
    * concern, at span granularity): every `spanLen`-token SLIDING
    * window that occurs in two or more distinct documents, with its
    * document frequency, total occurrence count, and first containing
    * doc. Complements q55's boilerplate census: chunking only catches
    * duplication aligned to chunk boundaries, the sliding window
    * catches a copied sentence at ANY offset.
    *
    * Scale shape — two phases, exact by construction:
    *   1. HEAVY phase over 8-byte keys only: the native [[
    *      graft.functions.SpanHashes]] expression emits every window's
    *      61-bit polynomial hash in ONE pass over the text (O(chars),
    *      independent of spanLen — no window string is ever
    *      assembled), and a hash-agg keeps hashes seen in >= 2 docs.
    *      The corpus-wide shuffle carries (hash, doc_id) pairs, never
    *      span text.
    *   2. EXACT confirm over affected docs only: docs holding a
    *      candidate hash re-derive their span STRINGS (narrow explode,
    *      recompute-over-materialize as everywhere else), join to the
    *      candidate hashes, and re-group BY STRING — so a 61-bit hash
    *      collision can only add phase-2 work (a candidate the string
    *      group-by splits back apart), never a wrong row. The final
    *      `ndocs >= 2` re-check on string identity makes the output
    *      hash-independent.
    * Both candidate tables are corpus-growing, so the joins are
    * hint-free: AQE broadcasts them while they fit (they do at every
    * test SF — repeated spans are by definition the rare tail). */
  /** Corpus-wide span-census artifacts, STAGED (read-through like the
    * dedup signature chain): q80 and q81 both open with the identical
    * heavy phase — one full-corpus pass for candidate hashes (df >= 2)
    * and one for the affected-doc list — so paying it per query per
    * consumer recomputed the corpus's dominant scan twice per caller.
    * Outputs are the rare tail (repeated spans / docs holding one), so
    * the staged tables are small. */
  private def spanHashed(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select("doc_id", "text")
      .select(col("doc_id"),
        explode(graft.functions.SpanHashes.span_hashes(col("text"), spanLen))
          .as("sh"))

  private[graft] def spanCandTable(spark: SparkSession, sfDir: String): DataFrame = {
    def compute = spanHashed(spark, sfDir).groupBy("sh")
      .agg(countDistinct("doc_id").as("df"))
      .where(col("df") >= 2).select("sh")
    Staging.readThrough(spark, sfDir, "span_cand")(compute)
  }

  private[graft] def spanDocsTable(spark: SparkSession, sfDir: String): DataFrame = {
    def compute = spanHashed(spark, sfDir)
      .join(spanCandTable(spark, sfDir), "sh").select("doc_id").distinct()
    Staging.readThrough(spark, sfDir, "span_docs")(compute)
  }

  def repeatedSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val candHashes = spanCandTable(spark, sfDir)
    val hitDocs = spanDocsTable(spark, sfDir)
    // native one-pass window strings (r17 CodegenSweep): the old
    // transform(sequence(...), i -> concat_ws(' ', slice(toks, i, k)))
    // was a CodegenFallback lambda with a token-array slice per window
    // (PERF §50); span_strings emits each window as one substring of
    // the original text inside codegen, and explode drops the empty
    // array for sub-k docs (the old size(toks) >= k guard)
    val spans = docs.join(hitDocs, "doc_id")
      .select(col("doc_id"), explode(
        graft.functions.SpanStrings.span_strings(col("text"), spanLen)).as("span"))
    spans
      .withColumn("sh", graft.functions.SpanHashes.span_hash(col("span")))
      .join(candHashes, "sh")
      .groupBy("span")
      .agg(countDistinct("doc_id").as("ndocs"), count(lit(1)).as("occ"),
        min("doc_id").as("first_doc"))
      .where(col("ndocs") >= 2)
      .select("span", "ndocs", "occ", "first_doc")
      .orderBy("span")
  }

  val repeatedSpansSql: String = {
    val k = spanLen
    s"""WITH sp AS (
       |  SELECT doc_id, unnest(CASE WHEN len(T) < $k THEN []::VARCHAR[]
       |    ELSE list_transform(generate_series(1, len(T) - ${k - 1}),
       |           i -> array_to_string(T[i:i + ${k - 1}], ' ')) END) AS span
       |  FROM (SELECT doc_id, string_split(text, ' ') AS T
       |        FROM documents) x)
       |SELECT span, count(DISTINCT doc_id) AS ndocs, count(*) AS occ,
       |  min(doc_id) AS first_doc
       |FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY span""".stripMargin
  }

  /** q81: per-document repeated-span REMOVAL RANGES — q80's census made
    * actionable (Lee et al.'s ExactSubstr dedup, expressed at window
    * granularity): for each document, token-index ranges covered by
    * `spanLen`-token sliding windows whose text occurs in >= 2
    * distinct documents. Consecutive flagged windows merge into one
    * island whenever their token spans OVERLAP (window indices differ
    * by <= spanLen-1), so emitted ranges are pairwise DISJOINT per
    * doc — summing end-start+1 over them counts each removed token
    * exactly once. A curation pipeline subtracts these ranges from
    * the doc instead of dropping the whole document — the span-level
    * analogue of the keep-list.
    *
    * Scale shape — q80's two exact phases plus a bounded third:
    *   1. candidate hashes corpus-wide over 8-byte keys (native
    *      one-pass [[graft.functions.SpanHashes]], shuffle carries
    *      (hash, doc_id) only);
    *   2. affected docs re-derive span strings WITH their window
    *      index (narrow posexplode), string-exact re-check ndocs >= 2
    *      so a 61-bit collision can only add work, never a wrong row;
    *   3. flagged window indices merge into disjoint islands per doc
    *      via a gap-threshold running sum (new island when the gap to
    *      the previous flagged index exceeds spanLen-1) — the window
    *      functions run over FLAGGED rows only (by definition the
    *      rare tail), with per-doc partitions, never corpus-sized
    *      ones. */
  def dedupSpanRanges(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val candHashes = spanCandTable(spark, sfDir)
    val hitDocs = spanDocsTable(spark, sfDir)
    // same native window-string generator as q80 (PERF §50); the
    // posexplode position is the 0-based window index, as before.
    // `wins` feeds both the re-check and the join-back and runs once
    // per reference: its persist measured a wash (PERF §68, §70).
    val wins = docs.join(hitDocs, "doc_id")
      .select(col("doc_id"), posexplode(
        graft.functions.SpanStrings.span_strings(col("text"), spanLen)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"),
        col("col").as("span"))
      .withColumn("sh", graft.functions.SpanHashes.span_hash(col("span")))
      .join(candHashes, "sh")
    val repSpans = wins.groupBy("span")
      .agg(countDistinct("doc_id").as("ndocs"))
      .where(col("ndocs") >= 2).select("span")
    val flagged = wins.join(repSpans, "span").select("doc_id", "i")
    val byDoc = Window.partitionBy("doc_id").orderBy("i")
    flagged
      .withColumn("brk",
        when(col("i") - lag("i", 1).over(byDoc) <= spanLen - 1, lit(0))
          .otherwise(lit(1)))
      .withColumn("g", sum("brk").over(byDoc))
      .groupBy("doc_id", "g")
      .agg(min("i").as("start_tok"),
        (max("i") + lit(spanLen - 1)).as("end_tok"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "start_tok", "end_tok", "n_windows")
      .orderBy("doc_id", "start_tok")
  }

  val dedupSpanRangesSql: String = {
    val k = spanLen
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS T FROM documents),
       |idx AS (
       |  SELECT doc_id, T, unnest(generate_series(1, len(T) - ${k - 1})) AS i
       |  FROM tok WHERE len(T) >= $k),
       |sp AS (
       |  SELECT doc_id, i, array_to_string(T[i:i + ${k - 1}], ' ') AS span
       |  FROM idx),
       |rep AS (
       |  SELECT span FROM sp GROUP BY span
       |  HAVING count(DISTINCT doc_id) >= 2),
       |fl AS (SELECT doc_id, i FROM sp JOIN rep USING (span)),
       |brk AS (
       |  SELECT doc_id, i,
       |    CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
       |              <= ${k - 1} THEN 0 ELSE 1 END AS b
       |  FROM fl),
       |isl AS (
       |  SELECT doc_id, i,
       |    sum(b) OVER (PARTITION BY doc_id ORDER BY i) AS g
       |  FROM brk)
       |SELECT doc_id, min(i) AS start_tok, max(i) + ${k - 1} AS end_tok,
       |  count(*) AS n_windows
       |FROM isl GROUP BY doc_id, g
       |ORDER BY doc_id, start_tok""".stripMargin
  }

  val boilerplateChunksSql: String = {
    val toks = "string_split(text, ' ')"
    // chunk i = tokens [i*L+1 .. min((i+1)*L, n)] joined by ' '
    val chunkList =
      s"""list_transform(generate_series(0, CAST(ceil(len($toks) / ${chunkLen}.0) AS INT) - 1),
         |  i -> array_to_string(list_transform(
         |         generate_series(i * $chunkLen + 1,
         |                         least((i + 1) * $chunkLen, len($toks))),
         |         j -> $toks[j]), ' '))""".stripMargin
    s"""WITH ch AS (SELECT doc_id, unnest($chunkList) AS chunk FROM documents),
       |boiler AS (
       |  SELECT chunk FROM ch GROUP BY chunk
       |  HAVING count(DISTINCT doc_id) >= $boilerDf),
       |per AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id),
       |bc AS (
       |  SELECT doc_id, count(*) AS n_boiler
       |  FROM ch JOIN boiler USING (chunk) GROUP BY doc_id)
       |SELECT p.doc_id, p.n_chunks,
       |  coalesce(b.n_boiler, 0) AS n_boiler,
       |  coalesce(b.n_boiler, 0) * 1000 // p.n_chunks AS boiler_pm
       |FROM per p LEFT JOIN bc b ON b.doc_id = p.doc_id
       |ORDER BY p.doc_id""".stripMargin
  }

  // ------------------------------------------------- TF-IDF keywords

  private val tfidfTopK = 3

  /** q56: rarity-weighted top-k terms per document — the log-free
    * TF-IDF variant (score = tf/df scaled to ppm; the corpus-constant
    * N factor and the log are monotone, so the RANKING is the one
    * classic TF-IDF produces for df-distinct terms, in exact integer
    * math the oracle reproduces bit-for-bit). Keyword extraction feeds
    * topic tagging and domain classifiers in a curation pipeline.
    *
    * Scale shape: tf is one hash-agg on (doc_id, term); df is an agg
    * over the DISTINCT (doc_id, term) stream which reuses the tf
    * FRAME — but NOT the tf computation: the r18 A/B re-run
    * (PERF §51, 100× corpus, post-§47 code) showed ReuseExchange does
    * not dedupe the tf subtree (post-exec plan: 0 reused stages,
    * 2 document scans), so the hint-free r14 §30 canonical form paid
    * the corpus explode+agg TWICE. tf is now persisted
    * (MEMORY_AND_DISK, query-scoped like the band cache) — one
    * corpus scan, measured 5.4 → 4.5 s at 100×. The df table (one row
    * per vocabulary term — Heaps' law: sublinear in corpus size)
    * joins back hint-free, broadcast while it fits. Top-k is a
    * per-doc window over tf rows, never a global sort.
    *
    * NOT taken: deriving df as count() over Window.partitionBy(term)
    * (no join at all) measured FASTEST locally (3.3 s at 100×) but a
    * window partition holds EVERY tf row of its term on one task with
    * no partial aggregation — a stopword-grade hot term at corpus
    * scale is a single-task straggler/spill bomb, where the groupBy
    * df collapses it map-side. The local win does not survive the
    * 1000× skew; PERF §51. */
  def tfidfKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = CacheRegistry.scoped(Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_ppm").desc, col("term").asc)
    // vocabulary grows with the corpus (Heaps' law — sublinear but
    // unbounded), so the df join carries no broadcast hint: AQE
    // broadcasts while the vocabulary fits and shuffle-joins on the
    // term beyond that
    tf.join(df, "term")
      .withColumn("score_ppm", expr("tf * 1000000 div df"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= tfidfTopK)
      .select("doc_id", "term", "tf", "df", "score_ppm", "rank")
      .orderBy("doc_id", "rank")
  }

  val tfidfKeywordsSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY doc_id, term),
       |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
       |scored AS (
       |  SELECT t.doc_id, t.term, t.tf, d.df, t.tf * 1000000 // d.df AS score_ppm,
       |    row_number() OVER (PARTITION BY t.doc_id
       |                       ORDER BY t.tf * 1000000 // d.df DESC, t.term ASC) AS rank
       |  FROM tfc t JOIN dfc d USING (term))
       |SELECT doc_id, term, tf, df, score_ppm, rank
       |FROM scored WHERE rank <= $tfidfTopK
       |ORDER BY doc_id, rank""".stripMargin

  // ------------------------------------------- char-trigram typicality

  /** q57: character-trigram typicality — the integer-exact stand-in
    * for the KenLM-perplexity quality filter (CCNet's third stage):
    * docs whose character sequences are globally rare are garbled
    * text, encoding noise, or the wrong language. Per document:
    * trigram occurrence count, the corpus frequency mass of those
    * occurrences, typicality in ppm (mean per-occurrence corpus
    * frequency, scaled), and the rarest trigram's corpus count.
    *
    * A true LM score needs log-probs; logs differ in the last ulp
    * across engines, so the census sticks to exact integer sums —
    * MONOTONE in the mean trigram probability, which is what the
    * filter thresholds on anyway.
    *
    * Scale shape: trigram explode is narrow; the corpus frequency
    * table is bounded by charset^3 (not corpus size) so it broadcasts;
    * the only wide stage is the per-doc sum. At petabyte scale the
    * per-doc sum uses mean-of-ppm instead of sum*1e6 to stay inside
    * int64 — same topology. */
  /** The trigram occurrence stream, with identity as a PACKED BIGINT
    * (3 x 21-bit codepoints), not a string: the trigram string never
    * leaves the plan — the census only needs counts, and the packing
    * is injective so counts match the oracle's string grouping. The
    * packing is a native codegen expression
    * (graft.functions.PackedTrigrams): one pass over the string's
    * codepoints straight to the long array — the SQL-expr form
    * (`transform(split(text, ''), ascii)` + windowed shifts)
    * allocated a single-char UTF8String per character, and the naive
    * `substring(text, i, 3)` before it seeked from the string head
    * (quadratic in doc length; measured 2.2x slower). */
  private def trigramOccurrences(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .where(length(col("text")) >= 3)
      .select(col("doc_id"),
        explode(graft.functions.PackedTrigrams.packed_trigrams(col("text"))).as("tri"))

  def trigramTypicality(spark: SparkSession, sfDir: String): DataFrame = {
    // Two passes over the narrow explode beat one pass over a
    // materialized (doc, tri, count) intermediate (measured 1.85 s vs
    // 2.84 s at sf0.1): map-side combine shrinks the freq shuffle to
    // the distinct-trigram set (bounded by charset^3, not corpus
    // size) and the per-doc shuffle to one row per (partition, doc),
    // while the intermediate would shuffle every distinct (doc, tri)
    // pair and pin it in cache. Exactly the trade a 100 TB run wants:
    // recompute narrow CPU, never widen a shuffle.
    val occ = trigramOccurrences(spark, sfDir)
    // total rides the freq frame as a constant-partition window sum
    // instead of freq.agg(sum) + crossJoin: the scalar aggregate
    // re-executed the freq subtree — a THIRD trigram explode over the
    // corpus per run (r21 plan audit), on top of the two deliberate
    // passes. The window is one partition of |distinct trigrams| rows
    // (bounded by charset³, the same bound that justifies the
    // broadcast), never corpus rows.
    val freq = occ.groupBy("tri").agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(col("cnt"), lit(1)))))
    occ.join(broadcast(freq), "tri")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tris"),
           sum("cnt").as("freq_mass"),
           min("cnt").as("rarest_cnt"),
           max("total").as("total")) // constant on every joined row
      .withColumn("typ_ppm", expr("freq_mass * 1000000 div (n_tris * total)"))
      .select("doc_id", "n_tris", "freq_mass", "rarest_cnt", "typ_ppm")
      .orderBy("doc_id")
  }

  val trigramTypicalitySql: String =
    s"""WITH tris AS (
       |  SELECT doc_id,
       |    unnest(list_transform(generate_series(1, len(text) - 2),
       |                          i -> substr(text, i, 3))) AS tri
       |  FROM documents WHERE len(text) >= 3),
       |freq AS (SELECT tri, count(*) AS cnt FROM tris GROUP BY tri),
       |tot AS (SELECT sum(cnt) AS total FROM freq),
       |per AS (
       |  SELECT doc_id, count(*) AS n_tris, sum(cnt) AS freq_mass,
       |    min(cnt) AS rarest_cnt
       |  FROM tris JOIN freq USING (tri) GROUP BY doc_id)
       |SELECT doc_id, n_tris, CAST(freq_mass AS BIGINT) AS freq_mass, rarest_cnt,
       |  CAST(freq_mass * 1000000 // (n_tris * total) AS BIGINT) AS typ_ppm
       |FROM per CROSS JOIN tot
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------- deterministic epoch shuffle

  private val shuffleEpochs = 2
  private val shuffleShards = 16

  /** q58: deterministic training-order shuffle — every epoch assigns
    * every document a shard and a position inside that shard, from a
    * hash of (epoch, doc_id) alone. The property that matters at
    * scale: re-running epoch e on any cluster layout reproduces the
    * identical order (resumable training), and no two epochs share an
    * order (the hash re-keys per epoch).
    *
    * Scale shape: the shard assignment is a narrow map; ordering is a
    * row_number window PER (epoch, shard) — shards scale with
    * executors, so there is no global sort and no single-partition
    * window anywhere. */
  def epochShuffle(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val coin =
      "cast(conv(substring(md5(concat(epoch, ':', doc_id)), 1, 8), 16, 10) as bigint)"
    val w = Window.partitionBy("epoch", "shard")
      .orderBy(col("coin").asc, col("doc_id").asc)
    Tables.documents(spark, sfDir).select("doc_id")
      .withColumn("epoch", explode(expr(s"sequence(0, ${shuffleEpochs - 1})")))
      .withColumn("coin", expr(coin))
      .withColumn("shard", col("coin") % shuffleShards)
      .withColumn("pos", row_number().over(w))
      .select("epoch", "doc_id", "shard", "pos")
      .orderBy("epoch", "doc_id")
  }

  val epochShuffleSql: String = {
    val coin =
      "('0x' || substr(md5(epoch || ':' || doc_id), 1, 8))::BIGINT"
    s"""WITH e AS (
       |  SELECT doc_id, unnest(generate_series(0, ${shuffleEpochs - 1})) AS epoch
       |  FROM documents),
       |c AS (SELECT doc_id, epoch, $coin AS coin FROM e)
       |SELECT epoch, doc_id, coin % $shuffleShards AS shard,
       |  row_number() OVER (PARTITION BY epoch, coin % $shuffleShards
       |                     ORDER BY coin ASC, doc_id ASC) AS pos
       |FROM c ORDER BY epoch, doc_id""".stripMargin
  }

  // ------------------------------------------------- curation funnel

  /** q63: the curation funnel — one row per pipeline stage with the
    * surviving document count: raw → exact dedup → near dedup (the
    * q32 keep-list) → quality filter (q51 pass) → decontamination
    * (q48: non-benchmark and not contaminated). The report every
    * curation run publishes: where documents die, at a glance — and a
    * composition proof that the stage operators agree on membership.
    *
    * Scale shape: each stage is an existing operator's subtree (all
    * staged/bounded as documented on each); the funnel adds only
    * count aggregates and doc_id semi-joins between them. The
    * exact-dup keeper column comes from the STAGED keeper frame
    * ([[DedupOps.keeperTable]]) that the keep-list also consumes —
    * the corpus-wide md5 window is paid once per corpus, not once
    * per funnel report. */
  /** Staged per-doc curation stage-flags (`stage_flags`): one row per
    * document with its verdict at every funnel stage — exact-dup
    * survivor (q32's keeper), near-dup keep-list member (q32), quality
    * pass (q51), decontaminated (q48). The q51 quality subtree and the
    * q48 benchmark-overlap subtree are the funnel's whole cost when
    * recomputed inline (the r9 100× funnel tail, 9.9 s, was exactly
    * these two); staged, they are paid once per corpus alongside the
    * other staged dedup artifacts and every funnel report afterwards
    * is a scan + one aggregate over five tiny columns. */
  private[graft] def stageFlagsTable(spark: SparkSession, sfDir: String): DataFrame = {
    def compute = {
      // Staging-window overlap (PERF §34): inside stageAll this chain's
      // gating dependency is the verified table behind dedupKeepList —
      // the LONGEST chain's dir lock. The q51 quality and q48 decontam
      // subtrees depend on nothing the dedup chains build (documents +
      // shingles only), so they are materialized EAGERLY first
      // (~doc_count rows of flags each) and their execution overlaps
      // the verify build instead of serializing behind it; the final
      // write is then three cheap joins. persist, not localCheckpoint:
      // the frames are small but their lineage is the two subtrees —
      // keep them recomputable on block loss (a truncated checkpoint
      // lost while this chain waits ~the longest chain's wall on the
      // verified lock would kill the whole stageAll at its very end).
      // ONE union-count fills both caches in a single job, so the two
      // subtrees run as concurrent stages rather than back-to-back
      // actions. This compute only runs inside its own staged write,
      // so a cold query-time build takes the same plan, and the
      // persists are consumed by the stage_flags write and die with it.
      val q = CacheRegistry.scoped(qualityFilter(spark, sfDir).where(col("pass") === 1)
        .select("doc_id").withColumn("f_q", lit(true)))
      val dc = CacheRegistry.scoped(decontaminate(spark, sfDir).where(col("contaminated") === 0)
        .select("doc_id").withColumn("f_dc", lit(true)))
      q.select(lit(1L).as("one")).unionAll(dc.select(lit(1L).as("one")))
        .count(): Unit
      val keeper = DedupOps.keeperTable(spark, sfDir)
      keeper
        .join(DedupOps.dedupKeepList(spark, sfDir).select("doc_id")
                .withColumn("f_near", lit(true)), Seq("doc_id"), "left")
        .join(q, Seq("doc_id"), "left")
        .join(dc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (col("doc_id") === col("keeper")).as("f_exact"),
          coalesce(col("f_near"), lit(false)).as("f_near"),
          coalesce(col("f_q"), lit(false)).as("f_q"),
          coalesce(col("f_dc"), lit(false)).as("f_dc"))
    }
    Staging.readThrough(spark, sfDir, "stage_flags")(compute)
  }

  def curationFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    // One pass: per-doc stage-membership flags (staged), ONE aggregate
    // produces every stage count, and `stack` unpivots to the report
    // rows — a funnel over any corpus size costs one scan-and-count
    // job, not one operator-subtree job per stage.
    stageFlagsTable(spark, sfDir).agg(
        count(lit(1)).as("c_raw"),
        sum(when(col("f_exact"), 1L).otherwise(0L)).as("c_exact"),
        sum(when(col("f_near"), 1L).otherwise(0L)).as("c_near"),
        sum(when(col("f_near") && col("f_q"), 1L).otherwise(0L)).as("c_q"),
        sum(when(col("f_near") && col("f_q") && col("f_dc"), 1L)
          .otherwise(0L)).as("c_dc"))
      .selectExpr(
        """stack(5,
          |  0, 'raw',         c_raw,
          |  1, 'exact_dedup', c_exact,
          |  2, 'near_dedup',  c_near,
          |  3, 'quality',     c_q,
          |  4, 'decontam',    c_dc) AS (stage_idx, stage, n_docs)""".stripMargin)
      .orderBy("stage_idx")
  }

  val curationFunnelSql: String = {
    def sub(q: String): String = q.replaceAll("ORDER BY[^)]*$", "")
    s"""WITH keep AS (SELECT doc_id FROM (${sub(DedupOps.dedupKeepListSql)})),
       |qf AS (SELECT doc_id FROM (${sub(qualityFilterSql)}) WHERE pass = 1),
       |dc AS (SELECT doc_id FROM (${sub(decontaminateSql)}) WHERE contaminated = 0)
       |SELECT 0 AS stage_idx, 'raw' AS stage,
       |  (SELECT count(*) FROM documents) AS n_docs
       |UNION ALL SELECT 1, 'exact_dedup',
       |  (SELECT count(DISTINCT md5(text)) FROM documents)
       |UNION ALL SELECT 2, 'near_dedup', (SELECT count(*) FROM keep)
       |UNION ALL SELECT 3, 'quality',
       |  (SELECT count(*) FROM keep JOIN qf USING (doc_id))
       |UNION ALL SELECT 4, 'decontam',
       |  (SELECT count(*) FROM keep JOIN qf USING (doc_id) JOIN dc USING (doc_id))
       |ORDER BY stage_idx""".stripMargin
  }

  val rareTokenFilterSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |f AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
       |m AS (SELECT sum(c) AS total, count(*) AS vocab FROM f),
       |com AS (SELECT t FROM f CROSS JOIN m WHERE c * vocab * 2 >= total),
       |per AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY doc_id),
       |cc AS (
       |  SELECT doc_id, count(*) AS n_common
       |  FROM tok JOIN com USING (t) GROUP BY doc_id)
       |SELECT p.doc_id, p.n_tokens,
       |  p.n_tokens - coalesce(c.n_common, 0) AS n_rare,
       |  (p.n_tokens - coalesce(c.n_common, 0)) * 1000 // p.n_tokens AS rare_pm,
       |  CAST(p.n_tokens - coalesce(c.n_common, 0) >= 1 AS INT) AS oov_flag
       |FROM per p LEFT JOIN cc c ON c.doc_id = p.doc_id
       |ORDER BY p.doc_id""".stripMargin
}
