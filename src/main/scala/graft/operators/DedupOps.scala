package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** MinHash/LSH configuration. The defaults are the 8-hash/4-band
  * oracle configuration (kept for the deterministic CORRECTNESS
  * compare); production recall at 100 TB wants `MinHashParams(128, 16)`
  * — the banding math (s-curve threshold ≈ (1/b)^(1/r)) and every
  * operator below take the parameters, the topology is unchanged.
  */
final case class MinHashParams(numHashes: Int = 8, numBands: Int = 4) {
  require(numHashes > 0 && numBands > 0 && numHashes % numBands == 0,
    s"numBands ($numBands) must divide numHashes ($numHashes)")
  val rowsPerBand: Int = numHashes / numBands
}

/** Near-duplicate detection for training-data pipelines: MinHash+LSH,
  * SimHash, and exact n-gram Jaccard verification.
  *
  * Pipeline shape (the scale path for 100 TB):
  *   1. shingle (word bigrams) per document              — narrow map
  *   2. minhash signatures                               — one shuffle on doc_id
  *   3. LSH banding: candidate pairs share a band bucket — shuffle on band key;
  *      never O(n²): the join fans out only within buckets
  *   4. exact Jaccard verification on candidates only    — bounded join
  *
  * All hashes are arithmetic over md5 prefixes, so an independent SQL
  * engine (the DuckDB oracle) reproduces them bit-for-bit. At
  * production scale swap in xxhash64 for speed; the topology is
  * unchanged.
  *
  * Shared-subtree staging: the pair/verify operators reference the
  * shingle and signature subtrees several times. Every testdata-keyed
  * entry routes through a read-through parquet staging table
  * ([[Staging]]: one materialization, then a plain scan with column
  * pruning — exactly what a 100 TB pipeline does between dedup
  * stages); there is no unstaged mode. The root is system property
  * `graft.stage.dir` (unset → `$java.io.tmpdir/graft-stage`) or a
  * thread-scoped [[withStagingRoot]]. The `*Of(docs)` library entries
  * take an arbitrary frame and compute inline.
  */
object DedupOps {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // minhash parameters: defaults 8 hashes, 4 bands x 2 rows
  private[graft] val P = 4294967311L // prime > 2^32
  private[graft] val A = Seq(3L, 5L, 7L, 11L, 13L, 17L, 19L, 23L)
  private[graft] val B = Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L)
  /** Universal-hash coefficients for any signature width; the first 8
    * are the round-1 oracle constants, the extension keeps a_i odd and
    * strictly increasing (distinct for all i). */
  private[graft] def coeffA(i: Int): Long = if (i < A.length) A(i) else 6L * i + 5L
  private[graft] def coeffB(i: Int): Long = if (i < B.length) B(i) else 2L * i + 1L

  val defaultParams: MinHashParams = MinHashParams()
  /** Production-recall preset: 128 hashes / 16 bands of 8 rows →
    * s-curve threshold ≈ (1/16)^(1/8) ≈ 0.71 with a sharp cutoff. */
  val scaleParams: MinHashParams = MinHashParams(128, 16)

  val numHashes: Int = defaultParams.numHashes
  val numBands: Int = defaultParams.numBands
  val estThreshold = 0.5
  val jaccardThreshold = 0.5
  val hammingThreshold = 10

  // ---------------------------------------------------------------- staging
  // shared read-through mechanics (incl. the source-content
  // fingerprint in the staging key) live in graft.operators.Staging
  //
  // Every persist below but prefixJaccardPairsOf's (a try/finally: its
  // consumers all run before it returns) goes through
  // CacheRegistry.scoped: inside a staged write the frame dies with the
  // write, otherwise with the first query that consumes the returned
  // plan. simhashPairsFrom's band stream and CorpusOps.dedupSpanRanges'
  // flagged-window frame recompute per reference instead: their
  // persists measured a wash (PERF §68, §70).

  /** Run `body` with an explicit staging root (`Some(dir)`), scoped to
    * the current thread — concurrent library consumers must not race
    * on the global sys-prop. Staging cannot be turned off: `None`
    * throws. */
  def withStagingRoot[T](root: Option[String])(body: => T): T =
    Staging.withRoot(root.getOrElse(throw new IllegalArgumentException(
      "withStagingRoot(None): staging cannot be turned off; pass Some(dir) " +
        "or leave graft.stage.dir to choose the root")))(body)

  /** Materialize EVERY staged dedup/ANN table for `sfDir`, exploiting
    * the dependency DAG: every chain — the shared shingle and doc_sets
    * roots, one signatures→candidates→verify chain per minhash preset,
    * the simhash table, the IVF ANN model, and the rest — is submitted
    * AT ONCE as a concurrent Spark job on the shared session; the
    * per-table dir locks serialize exactly the DAG edges (a dependent
    * chain blocks on its dependency's lock, independents overlap). On
    * a cluster each chain is its own job whose stages interleave on
    * free executors; at staging time the work is write-bound, so
    * overlapping the chains hides per-job fixed cost (scheduling,
    * codegen, parquet commit) behind each other (wall A/B: PERF §34).
    * Exceptions from any chain propagate (no partial-success silence).
    *
    * Returns the per-chain wall seconds — the chains run as
    * CONCURRENT jobs, so the caller's total says nothing about which
    * chain dominates; Bench lands this map in the
    * artifact as `stage_chains` so a stage_dedup drift attributes to
    * a chain in minutes instead of a day of probe runs (VERDICT r19
    * #4: the r16→r19 53→66 s elevation was attributed on the evidence
    * of ONE chain's probe because the others had no recorded walls).
    * A chain's wall includes dir-lock waits on its dependencies (the
    * DAG bills waiting to the waiter, as the [stage] log lines always
    * have). */
  def stageAll(spark: SparkSession, sfDir: String,
               presets: Seq[MinHashParams] = Seq(defaultParams, scaleParams),
               ivf: Boolean = true): Map[String, Double] = {
    val root = Staging.root
    // Driver-memory guard (r13, VERDICT r12 #4): cap BOTH broadcast
    // thresholds for the staging window. The thresholds compare
    // against COMPRESSED shuffle bytes, and the dedup chains'
    // intermediates (sorted monotone id-pair frames) compress so
    // well that a sub-10 MB stage can explode ~100× into an
    // in-heap hash relation — an 8 GiB driver died materializing a
    // ~1 GiB broadcast allocation with nine chains' sort/agg
    // buffers alive (bench 100× at SPARK_DRIVER_MEM=8g: the exact
    // r12 STAGE_MATERIALIZATION failure, reproduced). 1 MiB caps
    // the worst-case expansion near ~100 MB per build; the staging
    // chains are scan/agg-bound, so the lost broadcasts cost
    // little (A/B in PERF §28). Query-time joins outside stageAll
    // keep the session defaults (q79's verify-broadcast win at
    // 16 GiB is a QUERY-time plan).
    //
    // The cap mutates SESSION-global conf, so two invariants hold
    // (ADVICE r13): (a) one stageAll per session at a time — a
    // concurrent/reentrant call would snapshot the already-capped
    // value and restore it permanently; (b) EVERYTHING that runs
    // under the cap (incl. the shared shingle root, whose failure
    // class this guard targets) sits inside the try whose finally
    // restores the snapshot, so a staging failure can't leak
    // 1 MiB thresholds into every later query-time plan.
    require(beginStaging(spark),
      "stageAll is already running on this SparkSession; " +
        "concurrent staging would corrupt the broadcast-threshold snapshot")
    val bcastKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val bcastSaved = bcastKeys.map(k => k -> spark.conf.getOption(k))
    try {
      bcastKeys.foreach(spark.conf.set(_, "1m"))
      // Chain inventory FIRST (as thunks), so the pool is sized to
      // run every chain concurrently: the r13 pool of
      // presets.size + 2 threads queued flags/keeper/ivf behind
      // the first four chains, and the serial up-front shingle
      // build delayed even the chains that never touch shingles
      // (signatures, simhash, keeper, ivf). Now shingles and
      // doc_sets are ordinary EARLY chains — dependents block on
      // their dir locks, independents overlap their builds — and
      // the lock graph follows the staging DAG (acyclic), so
      // all-at-once submission cannot deadlock. Measured: PERF §34.
      val work: Seq[(String, () => Unit)] =
        Seq[(String, () => Unit)](
          // shared roots of the DAG, submitted first
          "shingles" -> (() => shingleTable(spark, sfDir): Unit),
          // doc_sets gates BOTH presets' verifies; as its own early
          // chain it lands as soon as shingles do, instead of
          // behind prefixTable inside the prefix chain
          "docsets" -> (() => docSetsTable(spark, sfDir): Unit)) ++
        // candTable builds its sigTable dependency read-through;
        // simhash is its own chain, not part of the preset chains.
        // defaultParams first: its verified table gates the flags
        // chain (dedupKeepList), making it the critical path
        presets.map(p => s"minhash-h${p.numHashes}" -> (() =>
          verifiedTable(spark, sfDir, p): Unit)) ++
        Seq[(String, () => Unit)](
          "simhash" -> (() => simhashTable(spark, sfDir): Unit),
          // prefix DEPENDS on the docsets chain since r16: its
          // staged build joins doc_sets' `sk` column instead of
          // re-aggregating the sketch (PERF §45) — the dir-lock
          // wait IS billed to prefix's [stage] line, trading idle
          // time for the removed duplicate aggregate
          "prefix" -> (() =>
            prefixTable(spark, sfDir, prefixThreshold): Unit),
          "contain" -> (() => containCandTable(spark, sfDir): Unit),
          // corpus span census (q80/q81 + the streaming gate's batch
          // confirm path): cand hashes then the affected-doc list
          "spans" -> (() => {
            CorpusOps.spanCandTable(spark, sfDir): Unit
            CorpusOps.spanDocsTable(spark, sfDir): Unit
          }),
          "keeper" -> (() => keeperTable(spark, sfDir): Unit),
          // per-doc funnel stage-flags (q63): consumes the keeper and
          // verified tables read-through (the dir locks serialize it
          // behind the chains building them) plus the q51/q48 subtrees
          "flags" -> (() => CorpusOps.stageFlagsTable(spark, sfDir): Unit)) ++
        (if (ivf) Seq[(String, () => Unit)](
          "ivf" -> (() => EmbeddingOps.stageIvf(spark, sfDir): Unit))
         else Nil)
      // Staging's root override is thread-local; re-pin it (and a
      // distinguishable job group, which perfbench's staging rows
      // filter on) inside each worker thread. The runner gives each
      // chain its own FAIR pool `graft-stage-<tag>` and, on a chain
      // failure, cancels and drains the others before rethrowing —
      // so the finally below never restores the broadcast
      // thresholds or clears the staging marker under a surviving
      // chain (uncapped broadcast plans are the exact OOM class the
      // cap exists for).
      val walls = ConcurrentJobs.runAll(spark, "graft-stage", work.map {
        case (tag, body) => tag -> (() =>
          Staging.withRoot(root) {
            spark.sparkContext.setJobGroup(s"graft-stage-$tag", tag, false)
            // per-chain wall seconds, to the log (a failed chain's
            // too) AND the returned map (Bench's `stage_chains`
            // artifact field): chains run as concurrent jobs, so the
            // bench's stage_dedup total says nothing about WHICH
            // chain dominates
            val t0 = System.nanoTime()
            def wall = (System.nanoTime() - t0) / 1e9
            try { body(); wall } finally {
              spark.sparkContext.clearJobGroup()
              log.info(f"[stage] $tag $wall%.2f s")
            }
          })
      })
      work.map(_._1).zip(walls).toMap
    } finally {
      bcastSaved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      endStaging(spark)
    }
  }

  /** Sessions with a stageAll in flight — guards the session-global
    * broadcast-threshold save/cap/restore against concurrent or
    * reentrant staging on one session (ADVICE r13). */
  private val stagingSessions =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  /** Atomically mark a staging run in flight on `spark`; false if one
    * already is (the caller must NOT proceed). */
  private[graft] def beginStaging(spark: SparkSession): Boolean =
    stagingSessions.add(spark)

  private[graft] def endStaging(spark: SparkSession): Unit =
    stagingSessions.remove(spark): Unit

  // ------------------------------------------------------------- shingling

  /** Distinct word-bigram shingles over a PRE-MATERIALIZED token
    * array; guards single-token docs. Tokenizing once into a column
    * matters: referencing split() inline inside the transform lambda
    * re-evaluates it per element — measured 6x slower. */
  private[graft] val bigramsE =
    """case when size(toks) < 2 then cast(array() as array<string>)
      |else array_distinct(transform(sequence(1, size(toks) - 1),
      |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))) end""".stripMargin

  /** One row per (doc_id, distinct shingle) with both hash widths:
    * `h` (32-bit, minhash) and `h60` (60-bit, simhash) — a single
    * staged table serves every downstream dedup stage. The shingle
    * construction and both hash prefixes come from ONE native codegen
    * expression (graft.functions.ShingleHashes) — bit-identical to
    * the SQL-expr pipeline it replaced but without materializing the
    * md5 hex string per shingle (measured at sf0.1: every unstaged
    * dedup path 20-30% faster, e.g. q21 2.1 -> 1.4 s, q44
    * 4.8 -> 4.0 s; staging itself is write/band-join-bound and moved
    * from 5.5 to 5.2 s). */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.ShingleHashes.shingle_hashes(col("text"))).as("sh"))
      .select(col("doc_id"), col("sh.s").as("s"),
        col("sh.h").as("h"), col("sh.h60").as("h60"))

  /** The staged shingle table: the shared root of the dedup DAG, and
    * the entry point for other corpus operators (decontamination) that
    * reuse the same shingles. */
  private[graft] def shingleTable(spark: SparkSession, sfDir: String): DataFrame =
    Staging.readThrough(spark, sfDir, "shingles")(
      shinglesOf(Tables.documents(spark, sfDir)))

  // ------------------------------------------------------------ signatures

  /** Aggregate-form `(doc_id, mh0..mhN)` signatures (explode →
    * numHashes min() aggs) — the bit-parity REFERENCE the specs check
    * [[withSignatureAll]]'s array against; not on any hot path. */
  private[graft] def signaturesFrom(sh: DataFrame, p: MinHashParams): DataFrame = {
    val aggs = (0 until p.numHashes).map { i =>
      min(expr(s"(${coeffA(i)} * h + ${coeffB(i)}) % $P")).as(s"mh$i")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** THE minhash signature producer: attach `__sig` (array<bigint>) to
    * a frame with a `text` column — every staged, library and
    * streaming signature comes from here, in this form. One narrow
    * native pass ([[graft.functions.MinHashSig]]): no explode, no
    * aggregate, no exchange, legal in any streaming projection;
    * bit-identical to [[signaturesFrom]]. Docs under two tokens and
    * NULL texts carry a NULL `__sig`: they cannot near-duplicate
    * anything (both spec-pinned). */
  def withSignatureAll(docs: DataFrame, p: MinHashParams = defaultParams): DataFrame =
    docs.withColumn("__sig", graft.functions.MinHashSig.minhash_sig(col("text"), p.numHashes))

  /** The docs [[graft.functions.MinHashSig]] signs: its `split(" ", -1)`
    * yields two tokens exactly when the text holds a ' ', and it returns
    * NULL for every other text (NULL included). Filter on this BEFORE
    * signing: a filter on `isnotnull(__sig)` is pushed below the
    * projection with the alias substituted, so `minhash_sig` ran twice
    * per doc, once in the filter and once in the projection. */
  private[graft] val signable: Column = col("text").contains(" ")

  /** `(doc_id, __sig)` of the signable docs of a `(doc_id, text)` frame
    * — the library entry for corpora not staged under a testdata dir. */
  def minhashSignaturesOf(docs: DataFrame, p: MinHashParams = defaultParams): DataFrame =
    withSignatureAll(docs.where(signable), p).select("doc_id", "__sig")

  /** `(doc_id, __sig)` signature table, staged. (Tried doc_id-bucketed staging like
    * `doc_sets` for the est-attach joins in r12: isolated stage times
    * held but the CONCURRENT stageAll wall went 86 → 97 s — the per-chain
    * saveAsTable catalog commands and extra repartition serialize
    * against the other seven chains. Plain parquet staging wins at
    * full concurrency.) */
  private def sigTable(spark: SparkSession, sfDir: String, p: MinHashParams): DataFrame =
    Staging.readThrough(spark, sfDir, s"sig_h${p.numHashes}")(
      minhashSignaturesOf(Tables.documents(spark, sfDir), p))

  /** MinHash signatures: mh_i = min over shingles of (a_i*h + b_i) % P.
    * One narrow pass over the documents scan — zero exchange. The one
    * spread of `__sig` into `(doc_id, mh0..mhN)`: the q20/q42 output. */
  def minhashSignatures(spark: SparkSession, sfDir: String): DataFrame =
    minhashSignatures(spark, sfDir, defaultParams)

  def minhashSignatures(spark: SparkSession, sfDir: String, p: MinHashParams): DataFrame =
    sigTable(spark, sfDir, p)
      .select(col("doc_id") +: (0 until p.numHashes).map(i => col("__sig")(i).as(s"mh$i")): _*)
      .orderBy("doc_id")

  // shared oracle CTE prefix: documents -> distinct shingle hashes -> signatures
  private val duckToks = "string_split(text, ' ')"
  private val duckBigrams =
    s"""CASE WHEN len($duckToks) < 2 THEN []::VARCHAR[]
       |ELSE list_distinct(list_transform(generate_series(1, len($duckToks) - 1),
       |  i -> $duckToks[i] || ' ' || $duckToks[i + 1])) END""".stripMargin
  private def duckSigCte(p: MinHashParams): String = {
    val mins = (0 until p.numHashes).map { i =>
      s"min((${coeffA(i)} * h + ${coeffB(i)}) % $P) AS mh$i"
    }.mkString(", ")
    s"""WITH bg AS (
       |  SELECT doc_id, unnest($duckBigrams) AS s FROM documents),
       |hh AS (
       |  SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM bg),
       |sig AS (
       |  SELECT doc_id, $mins FROM hh GROUP BY doc_id)""".stripMargin
  }

  def minhashSignaturesSqlFor(p: MinHashParams): String = {
    val cols = (0 until p.numHashes).map(i => s"mh$i").mkString(", ")
    s"${duckSigCte(p)}\nSELECT doc_id, $cols FROM sig ORDER BY doc_id"
  }

  val minhashSignaturesSql: String = minhashSignaturesSqlFor(defaultParams)

  // ----------------------------------------------------------- LSH banding

  /** LSH banding: band key = concat(b, mh_{b*r} .. mh_{b*r+r-1});
    * candidate pairs share at least one band; est_jaccard = fraction
    * of equal minhashes, thresholded. */
  def lshCandidates(spark: SparkSession, sfDir: String): DataFrame =
    lshCandidates(spark, sfDir, defaultParams)

  def lshCandidates(spark: SparkSession, sfDir: String, p: MinHashParams): DataFrame =
    candTable(spark, sfDir, p)

  /** Candidate-pair table, staged like the signature tables: the band
    * self-join is the most expensive dedup stage, and both the verify
    * query and the keep-list re-derive from it — at scale that is a
    * materialized intermediate, not a recomputed subtree (measured at
    * 10x sf0.1: jaccard verify 47 s recomputing vs ~14 s reading the
    * staged pairs). */
  private def candTable(spark: SparkSession, sfDir: String, p: MinHashParams): DataFrame =
    // sort = false: the read below re-applies the ordering, so an
    // in-plan global sort at write time is pure waste — and not a
    // small one: the range exchange's boundary SAMPLING re-executes
    // the whole post-shuffle segment (distinct + est join-backs), a
    // second full pass of the most expensive stage on the h8
    // staging chain (sorted write 154 s vs unsorted 15 s on the
    // same warmed 100× corpus; PERF §47).
    Staging.readThrough(spark, sfDir, s"cand_h${p.numHashes}_b${p.numBands}")(
        lshCandidatesFrom(sigTable(spark, sfDir, p), p, BandGuard.default,
          sort = false))
      .orderBy("doc_a", "doc_b")

  /** LSH candidates over an arbitrary `(doc_id, text)` frame — the
    * library entry for corpora not staged under a testdata dir; no
    * read-through staging, explicit skew guard. */
  def lshCandidatesOf(docs: DataFrame,
                      p: MinHashParams = defaultParams,
                      g: BandGuard = BandGuard.default): DataFrame =
    lshCandidatesFrom(CacheRegistry.scoped(minhashSignaturesOf(docs, p)), p, g)

  /** SQL expr producing the band-key array from the `__sig` array
    * column: band b's key is "b_mh.._mh" over its rowsPerBand slice.
    *
    * UNROLLED per band, not `transform(sequence(...), ...)`: the
    * higher-order form is CodegenFallback — interpreted lambda
    * dispatch plus a slice allocation per band per row — and on the
    * 100× corpus the band-stream build stage swung 2→18 s wall
    * (47→449 CPU-s) with JIT mood on exactly that interpreter path
    * (PERF §47). The unrolled concat/element_at tree is entirely
    * native codegen; key VALUES are identical (same concat layout),
    * so staged posting tables keep their meaning. */
  private[graft] def bandArrayExpr(p: MinHashParams): String =
    (0 until p.numBands).map { b =>
      val elems = (1 to p.rowsPerBand)
        .map(j => s"cast(element_at(__sig, ${b * p.rowsPerBand + j}) as string)")
        .mkString(", ")
      s"concat('${b}_', concat_ws('_', $elems))"
    }.mkString("array(", ", ", ")")

  /** (doc_id, bk) band-key stream of a `(doc_id, __sig)` signature frame. */
  private[graft] def bandKeysOf(sig: DataFrame, p: MinHashParams): DataFrame =
    sig.select(col("doc_id"), explode(expr(bandArrayExpr(p))).as("bk"))

  private[graft] def lshCandidatesFrom(sig: DataFrame, p: MinHashParams, g: BandGuard,
                                       sort: Boolean = true): DataFrame = {
    // The signature arrives as ONE array column (`__sig`): banding, the
    // guard fingerprint and the match count run as small codegen loops
    // instead of p.numHashes unrolled expressions (at 128 hashes the
    // unrolled form dominated staging time).
    val arr = sig.select("doc_id", "__sig")
    // Band key for the SELF-JOIN: an 8-byte xxhash64 of (band index,
    // band slice), not the "b_mh.._mh" string — at h128/b16 the 8M-row
    // band stream's ~160-byte concat strings were the dominant staging
    // cost (build ~6.8 s PER SIDE plus the fat shuffle; the hashed keys
    // cut the candidate stage 27 -> ~10 s at 100×). Exactness is NOT
    // delegated to the hash: a 64-bit collision can only ADD a
    // candidate row, and the exact band-slice recheck below (on the
    // signature arrays the est stage attaches anyway) removes any pair
    // that shares no true band — output identical to string banding
    // MODULO the bucket cap: a cross-band xxhash64 collision (~2^-64
    // per bucket pair) could merge two buckets, trip maxBucket, and
    // drop true pairs the recheck cannot restore. If byte-identical
    // output under capping must be guaranteed, widen the key with the
    // band index; at 2^-64 the trade is not worth the fatter shuffle.
    val bandHashExpr = {
      // element_at per rank instead of slice(): the slice form
      // allocates a fresh 8-long array per band per row (16 per row at
      // b16) just to feed the hash — measured 4.0 vs ~1.5 s over the
      // 100× 8M-band stream. UNROLLED per band rather than
      // transform(sequence(...)): the higher-order form is
      // CodegenFallback and its interpreted eval made this stage's
      // wall swing 2→18 s at 100× with JIT mood (PERF §47); the
      // unrolled xxhash64 tree is native codegen with identical key
      // values (the band index hashes as the same INT).
      (0 until p.numBands).map { b =>
        val elems = (1 to p.rowsPerBand)
          .map(j => s"element_at(__sig, ${b * p.rowsPerBand + j})")
          .mkString(", ")
        s"xxhash64($b, $elems)"
      }.mkString("array(", ", ", ")")
    }
    // The band stream carries (doc_id, bk) only: `__sig` never rides
    // through the cap window or the persist; the est stage re-attaches it.
    val (capped, star) = SkewGuard.guardedBands(
      arr, "doc_id", "__sig", expr(bandHashExpr), Nil, g)
    // The capped band stream feeds BOTH sides of the self-join, and
    // stage reuse does not fire across a self-join's sides (the PERF
    // §30 observation) — so without materialization the collapse, the
    // explode and the bucket-cap window execute twice. The library
    // call materializes it once while a guard cap is finite (a partial
    // guard still runs the cap window per side); the plain explode is
    // cheaper to recompute than to cache. 16 B/row × numBands rows/doc
    // ≈ 130 MB at h128/100×; persist — NOT localCheckpoint — so
    // lineage survives block loss.
    //
    // NOT inside a staged write (PERF §35): the measured win is the
    // un-contended library call (h8 banding 25 → 15 s, h128 9.5 → 4 s
    // at 100×); under the staging DAG's all-at-once concurrency the
    // same persist measured level-to-worse (the fill job serializes a
    // chain segment other chains' work no longer hides). A staged
    // `cand_h*` table is therefore built without it, by a stageAll
    // chain and by a cold read-through alike.
    val finiteCap = g.maxBucket != Int.MaxValue || g.maxGroupAllPairs != Int.MaxValue
    val bands =
      if (Staging.inStagedWrite || !finiteCap) capped
      else CacheRegistry.scoped(capped)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // Agreement count + band recheck in ONE native codegen pass
    // (graft.functions.BandMatchCount): the former
    // aggregate(zip_with(...)) / exists(slice = slice) pair is a
    // CodegenFallback higher-order stack that evaluated interpreted at
    // ~23 µs per candidate row — the dominant CPU of the candidate
    // stage at 100× and the source of its 4–7× run-to-run wall swings
    // (PERF §47). m >= 0 is the exact sharesBand recheck; the division
    // reproduces est_jaccard bit-identically.
    val m = graft.functions.BandMatchCount.band_match_count(
      col("__sig_a"), col("__sig_b"), p.rowsPerBand)
    cand
      .join(arr.select(col("doc_id").as("doc_a"), col("__sig").as("__sig_a")), "doc_a")
      .join(arr.select(col("doc_id").as("doc_b"), col("__sig").as("__sig_b")), "doc_b")
      .withColumn("__m", m)
      .where(col("__m") >= 0)
      .withColumn("est_jaccard", col("__m").cast("double") / p.numHashes)
      .where(col("est_jaccard") >= estThreshold)
      .select("doc_a", "doc_b", "est_jaccard")
      .unionByName(star.select(col("rep").as("doc_a"), col("member").as("doc_b"),
        lit(1.0).as("est_jaccard"))) match {
      case out if sort => out.orderBy("doc_a", "doc_b")
      case out         => out
    }
  }

  /** Sum as a balanced parenthesis tree: a flat left-nested `+` chain
    * of 128 terms exceeds DuckDB's binder recursion limit (128). */
  private def balancedSum(terms: Seq[String]): String =
    if (terms.size == 1) terms.head
    else {
      val (l, r) = terms.splitAt(terms.size / 2)
      s"(${balancedSum(l)} + ${balancedSum(r)})"
    }

  private def matchesExpr(p: MinHashParams): String =
    balancedSum((0 until p.numHashes)
      .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END"))

  /** One band-key SELECT per band over the `sig` CTE, UNION ALL-ed. */
  private def duckBandUnion(p: MinHashParams): String =
    (0 until p.numBands).map { b =>
      val mhs = (b * p.rowsPerBand until (b + 1) * p.rowsPerBand)
        .map(i => s", '_', mh$i").mkString
      s"SELECT doc_id, concat($b$mhs) AS bk FROM sig"
    }.mkString(" UNION ALL ")

  private def duckBandsCte(p: MinHashParams): String = {
    val matches = matchesExpr(p)
    s""",bands AS (${duckBandUnion(p)}),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id),
       |vcand AS (
       |  SELECT doc_a, doc_b
       |  FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
       |  WHERE CAST($matches AS DOUBLE) / ${p.numHashes} >= $estThreshold)""".stripMargin
  }

  def lshCandidatesSqlFor(p: MinHashParams): String = {
    val matches = matchesExpr(p)
    s"""${duckSigCte(p)}
       |${duckBandsCte(p)}
       |SELECT doc_a, doc_b, CAST($matches AS DOUBLE) / ${p.numHashes} AS est_jaccard
       |FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
       |WHERE CAST($matches AS DOUBLE) / ${p.numHashes} >= $estThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val lshCandidatesSql: String = lshCandidatesSqlFor(defaultParams)

  // ------------------------------------------------------- exact Jaccard

  /** Exact n-gram Jaccard verification over the LSH candidate pairs —
    * the bounded second stage; never touches non-candidate pairs. */
  def jaccardVerify(spark: SparkSession, sfDir: String): DataFrame =
    jaccardVerify(spark, sfDir, defaultParams)

  /** Exact Jaccard from overlap statistics, rounded for the oracle.
    * (Every verification operator — Jaccard, containment, incremental
    * admission — now routes through the two-stage set-table verify,
    * [[verifyPrefixPairs]]/[[containmentVerify]]; the exploded
    * candidates x shingles overlap join this column once paired with
    * re-shuffled the full shingle table per consumer and is gone.) */
  private def jaccardCol: Column =
    round(col("i") * lit(1.0) / (col("na") + col("nb") - col("i")), 6)

  /** Verified near-dup pair table, staged like the candidate table:
    * the exact-Jaccard verify join is the last expensive dedup stage,
    * and three downstream consumers (the verify query itself, the
    * keep-list, the cluster labeling) all re-derive from it. At scale
    * the verified pair list is THE dedup artifact a pipeline
    * materializes once and serves everywhere; recomputing the
    * candidates x shingles join per consumer triples the heaviest
    * stage for no information gain.
    *
    * The verify is the same two-stage hash-bound shape as q79
    * ([[verifyPrefixPairs]]), whose in-SMJ sketch bound is the only
    * prefilter: no candidate count, no broadcast (PERF §71). Output is
    * exact rounded Jaccard, zero false negatives by the collision-
    * slack bound. */
  private def verifiedTable(spark: SparkSession, sfDir: String,
                            p: MinHashParams): DataFrame =
    Staging.readThrough(spark, sfDir, s"verified_h${p.numHashes}_b${p.numBands}")(
      verifyPrefixPairs(lshCandidates(spark, sfDir, p).select("doc_a", "doc_b"),
        docSetsTable(spark, sfDir), jaccardThreshold))

  def jaccardVerify(spark: SparkSession, sfDir: String, p: MinHashParams): DataFrame =
    verifiedTable(spark, sfDir, p).orderBy("doc_a", "doc_b")

  /** Oracle CTEs every verified-pair query shares (q22, q32, q47,
    * q62): per-doc bigram counts `sizes` and each LSH candidate's
    * bigram overlap `inter`, over the `bg`/`vcand` CTEs. */
  private def duckInterCte: String =
    """sizes AS (SELECT doc_id, count(*) AS n FROM bg GROUP BY doc_id),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS i
      |  FROM vcand c
      |  JOIN bg x ON x.doc_id = c.doc_a
      |  JOIN bg y ON y.doc_id = c.doc_b AND y.s = x.s
      |  GROUP BY c.doc_a, c.doc_b)""".stripMargin

  /** Oracle edge CTEs of q47 and q62, over [[duckInterCte]]: verified
    * near pairs and exact-duplicate `(keeper, doc)` pairs. */
  private def duckPairCtes: String =
    s"""near_pairs AS (
       |  SELECT doc_a, doc_b
       |  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= $jaccardThreshold),
       |exact_pairs AS (
       |  SELECT keeper AS doc_a, doc_id AS doc_b FROM (
       |    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
       |    FROM documents) t
       |  WHERE doc_id <> keeper)""".stripMargin

  def jaccardVerifySqlFor(p: MinHashParams): String =
    s"""${duckSigCte(p)}
       |${duckBandsCte(p)},
       |$duckInterCte
       |SELECT doc_a, doc_b, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= $jaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  val jaccardVerifySql: String = jaccardVerifySqlFor(defaultParams)

  // ---------------------------------------------------------- keep-list

  /** Exact-duplicate keeper frame: one row per doc with the survivor
    * (minimum doc_id) of its identical-text group — the corpus-wide
    * md5 window every exact-dedup consumer needs. STAGED (`keeper`):
    * the keep-list (q32), the cluster labeling (q47), and the
    * curation funnel (q63) all consume it; computing the window once
    * and serving parquet scans removes a corpus-wide shuffle+sort per
    * consumer (round-7/8 verdict item). */
  private[graft] def keeperTable(spark: SparkSession, sfDir: String): DataFrame = {
    def compute = Tables.documents(spark, sfDir).select("doc_id", "text")
      .withColumn("keeper", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))))
      .select("doc_id", "keeper")
    Staging.readThrough(spark, sfDir, "keeper")(compute)
  }

  /** Exact-duplicate edges `(doc_id, keeper)`: every doc that is not
    * its identical-text group's survivor, with that survivor. */
  private def exactDupEdges(spark: SparkSession, sfDir: String): DataFrame =
    keeperTable(spark, sfDir).where(col("doc_id") =!= col("keeper"))

  /** End-to-end dedup keep-list: drop exact duplicates (keep the
    * minimum doc_id per identical text) and near-duplicates (for each
    * LSH-verified pair, keep the smaller id). The typical final stage
    * of a training-data dedup pipeline: the output is the surviving
    * corpus. Anti-joins keep it linear — no O(n²) anywhere. */
  def dedupKeepList(spark: SparkSession, sfDir: String): DataFrame = {
    // base doc list from the raw table (a pruned one-column scan)
    val docs = Tables.documents(spark, sfDir).select("doc_id")
    val exactDrop = exactDupEdges(spark, sfDir).select("doc_id")
    val nearDrop = jaccardVerify(spark, sfDir).select(col("doc_b").as("doc_id"))
    docs.join(exactDrop.union(nearDrop).distinct(), Seq("doc_id"), "left_anti")
      .select("doc_id")
      .orderBy("doc_id")
  }

  val dedupKeepListSql: String =
    s"""${duckSigCte(defaultParams)}
       |${duckBandsCte(defaultParams)},
       |$duckInterCte,
       |near_drop AS (
       |  SELECT doc_b AS doc_id
       |  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= $jaccardThreshold),
       |exact_drop AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
       |    FROM documents) t
       |  WHERE doc_id <> keeper)
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT doc_id FROM exact_drop)
       |  AND doc_id NOT IN (SELECT doc_id FROM near_drop)
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ clusters

  /** Near-duplicate CLUSTERS: connected components over the union of
    * exact-duplicate edges (same md5(text)) and LSH-verified near-dup
    * pairs. Pairs alone under-dedup — `a~b` and `b~c` must collapse
    * {a,b,c} to one group with one survivor (cluster_id = min doc_id).
    * The iterative component labeling runs only on the edge-induced
    * subgraph (duplicates, not the corpus — see [[GraphOps]]); the
    * corpus joins in once at the end to label singletons, and cluster
    * sizes come from one window over cluster_id. */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id")
    val exactPairs = exactDupEdges(spark, sfDir)
      .select(col("keeper").as("src"), col("doc_id").as("dst"))
    val nearPairs = jaccardVerify(spark, sfDir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    // Eager gate: the label-propagation rounds run while this plan is
    // built (9 jobs and about 1.0 s in traced perfbench dedup at seed
    // 5101, 4 cores); ParquetFooterSpec names it as the staged queries'
    // only one.
    val comps = GraphOps.connectedComponentsAuto(exactPairs.unionByName(nearPairs))
    // cluster_size from a pre-aggregate over the EDGE-INDUCED components
    // frame joined back, not a count window over the labeled corpus
    // (guide §2.4, r22): the window always pays a corpus-wide
    // Exchange(cluster_id)+Sort, while the aggregate runs over comps
    // (duplicated docs only — a small fraction of the corpus by design)
    // and AQE broadcasts the join when the cluster count fits; when it
    // does not, the fallback shuffle join on cluster_id is the same
    // exchange the window paid, so the trade never inverts. Equivalent
    // because every comps id is a corpus doc_id (both edge sources
    // derive from documents) and doc_id is unique, so a labeled
    // cluster's window count equals its comps row count; and a
    // singleton's cluster_id is its own NON-edge doc_id, which no
    // component label (always an edge-vertex minimum) can collide with
    // — its count is exactly 1.
    val sizes = comps.groupBy(col("lbl").as("cluster_id"))
      .agg(count(lit(1)).as("__csz"))
    GraphOps.labelVertices(docs.select("doc_id"), "doc_id", comps)
      .join(sizes, Seq("cluster_id"), "left")
      .withColumn("cluster_size", coalesce(col("__csz"), lit(1L)))
      .select("doc_id", "cluster_id", "cluster_size")
      .orderBy("doc_id")
  }

  /** Oracle: the same pipeline with the component labeling expressed as
    * a recursive reachability CTE (min reachable id per vertex). */
  val dedupClustersSql: String =
    s"""${duckSigCte(defaultParams).replaceFirst("WITH ", "WITH RECURSIVE ")}
       |${duckBandsCte(defaultParams)},
       |$duckInterCte,
       |$duckPairCtes,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM near_pairs
       |  UNION SELECT doc_a, doc_b FROM exact_pairs
       |  UNION SELECT doc_b, doc_a FROM near_pairs
       |  UNION SELECT doc_b, doc_a FROM exact_pairs),
       |reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
       |lbls AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id)
       |SELECT l.doc_id, l.cluster_id,
       |  count(*) OVER (PARTITION BY l.cluster_id) AS cluster_size
       |FROM lbls l ORDER BY l.doc_id""".stripMargin

  // --------------------------------------------- cross-source overlap

  /** q62: cross-source duplication matrix — for every pair of sources,
    * how many duplicate pairs (exact + verified near) cross them. The
    * curation dashboard that decides which crawls to drop or
    * re-prioritize: two sources sharing most of their content should
    * not both be ingested at full rate.
    *
    * Scale shape: pure post-processing of the STAGED verified-pair
    * table plus the linear exact-dup star — pair volume, not corpus
    * volume; the doc→source attachment is a join against a two-column
    * projection of the corpus, and the final matrix is one tiny
    * aggregate (sources², a constant). */
  def sourceOverlapMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    // exact-dup star from the STAGED keeper frame (same expression —
    // min(doc_id) over the md5(text) window — computed once per corpus
    // by stageAll); the previous inline window re-shuffled the full
    // text column per q62 run even though q32/q47/q63 already read the
    // staged table (r21 audit)
    val exactPairs = exactDupEdges(spark, sfDir)
      .select(col("keeper").as("doc_a"), col("doc_id").as("doc_b"))
    val pairs = jaccardVerify(spark, sfDir).select("doc_a", "doc_b")
      .unionByName(exactPairs).distinct()
    val src = Tables.documents(spark, sfDir).select("doc_id", "source")
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
              greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  val sourceOverlapMatrixSql: String =
    s"""${duckSigCte(defaultParams)}
       |${duckBandsCte(defaultParams)},
       |$duckInterCte,
       |$duckPairCtes,
       |pairs AS (
       |  SELECT doc_a, doc_b FROM near_pairs
       |  UNION SELECT doc_a, doc_b FROM exact_pairs)
       |SELECT least(da.source, db.source) AS source_a,
       |  greatest(da.source, db.source) AS source_b,
       |  count(*) AS n_pairs
       |FROM pairs
       |JOIN documents da ON da.doc_id = pairs.doc_a
       |JOIN documents db ON db.doc_id = pairs.doc_b
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------- containment dedup

  private val anchorK = 3      // rarest shingles per doc used as anchors
  private val anchorMaxDf = 8  // a shingle this common cannot anchor
  val containThreshold = 0.8   // |A ∩ B| / min(|A|,|B|)

  /** q60: containment dedup census — near-dup detection's blind spot
    * is the SMALL document fully contained in a big one (quote pages,
    * excerpt farms): Jaccard is tiny (union is the big doc), so
    * MinHash/LSH never pairs them. Containment = |A∩B| / min(|A|,|B|)
    * catches exactly that.
    *
    * All-pairs containment is O(n²); this bounds candidates by
    * RARE-SHINGLE ANCHORING: each doc nominates its `anchorK` rarest
    * shingles (corpus df ascending, shingle text as tiebreak, only
    * shingles with df <= `anchorMaxDf` may anchor), and each anchor
    * probes the full posting list of that shingle. The recall
    * guarantee holds for FULL containment: a fully-contained doc's
    * anchors are all inside the container, so the container is always
    * on their posting lists. Below that — at `containThreshold` 0.8 a
    * doc's anchorK rarest shingles can fall in the non-shared 20% —
    * partial containment is best-effort under anchoring (the oracle
    * shares the same anchoring, so the two sides agree on exactly
    * which pairs qualify). Fan-out is bounded by construction: an
    * anchor's posting list has at most `anchorMaxDf` docs, so
    * candidates <= docs x anchorK x anchorMaxDf — linear, and the
    * skew cap is built into the candidate definition, not bolted on.
    *
    * Scale shape: one df aggregate over the staged shingle table, one
    * shuffle join on the shingle to attach df, a per-doc top-k window,
    * the bounded anchor self-join, then the same candidates-only
    * intersection join the Jaccard verifier uses. */
  def containmentPairs(spark: SparkSession, sfDir: String): DataFrame =
    containmentVerify(containCandTable(spark, sfDir),
        docSetsTable(spark, sfDir))
      .orderBy("doc_a", "doc_b")

  /** Containment pairs over an arbitrary `(doc_id, text)` frame — the
    * library entry for corpora not staged under a testdata dir. */
  def containmentPairsOf(docs: DataFrame): DataFrame =
    containmentFrom(CacheRegistry.scoped(shinglesOf(docs)))

  private def containmentFrom(bg: DataFrame): DataFrame =
    containmentVerify(containmentCandidates(bg), setsFrom(bg))
      .orderBy("doc_a", "doc_b")

  /** Anchor-probe candidate pairs (bounded: <= docs x anchorK x
    * anchorMaxDf rows by construction). STAGED (`contain_cand`) next
    * to the LSH candidate table — the df aggregate + per-doc anchor
    * window is computed once per corpus, and the census query reads a
    * bounded pair list. */
  private[graft] def containCandTable(spark: SparkSession, sfDir: String): DataFrame =
    Staging.readThrough(spark, sfDir, "contain_cand")(
      containmentCandidates(shingleTable(spark, sfDir)))

  private def containmentCandidates(bg: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val df = bg.groupBy("s").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df").asc, col("s").asc)
    val anchors = bg.select("doc_id", "s").join(df, "s")
      .where(col("df") <= anchorMaxDf)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= anchorK)
      .select("doc_id", "s")
    // anchors probe the FULL posting list, not other docs' anchors: the
    // big doc containing a small one rarely ANCHORS the shared shingle
    // (its own unique shingles are rarer still), but its posting-list
    // entry is always there. Fan-out stays bounded: an anchor has
    // df <= anchorMaxDf, so its posting list has <= anchorMaxDf docs.
    anchors.as("x").join(bg.select("doc_id", "s").as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
              greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
  }

  /** Containment verify, same two-stage shape as [[verifyPrefixPairs]]
    * (hash upper bound on the sorted int arrays, exact string confirm
    * on survivors): c_true <= (i_hash + collision slack) / min(na, nb),
    * so pruning at `containThreshold` minus the rounding half-ulp can
    * only drop pairs the exact rounded compare drops too. Replaces the
    * exploded candidates x shingles overlap join, whose shuffle
    * carried one row per SHARED SHINGLE per pair — at 100× that was
    * the bulk of the census cost. */
  private[graft] def containmentVerify(cand: DataFrame, sets: DataFrame): DataFrame = {
    val hashPass = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha"),
        col("n").as("na"), col("nh").as("nha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb"),
        col("n").as("nb"), col("nh").as("nhb")), "doc_b")
      .withColumn("iu",
        graft.functions.SortedIntersectCount
          .sorted_intersect_count(col("ha"), col("hb")) +
        least(col("na") - col("nha"), col("nb") - col("nhb")))
      .where(col("iu") * lit(1.0) / least(col("na"), col("nb")) >=
             containThreshold - 5e-7)
      .select("doc_a", "doc_b")
    hashPass
      .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("sa"),
        col("n").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("sb"),
        col("n").as("nb")), "doc_b")
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("containment",
        round(col("i") * lit(1.0) / least(col("na"), col("nb")), 6))
      .where(col("containment") >= containThreshold)
      .select("doc_a", "doc_b", "na", "nb", "i", "containment")
  }

  val containmentPairsSql: String =
    s"""WITH bg AS (
       |  SELECT doc_id, unnest($duckBigrams) AS s FROM documents),
       |df AS (SELECT s, count(*) AS df FROM bg GROUP BY s),
       |anch AS (
       |  SELECT doc_id, s FROM (
       |    SELECT b.doc_id, b.s,
       |      row_number() OVER (PARTITION BY b.doc_id ORDER BY d.df ASC, b.s ASC) AS rk
       |    FROM bg b JOIN df d USING (s) WHERE d.df <= $anchorMaxDf) t
       |  WHERE rk <= $anchorK),
       |cand AS (
       |  SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
       |                  greatest(x.doc_id, y.doc_id) AS doc_b
       |  FROM anch x JOIN bg y ON x.s = y.s AND x.doc_id <> y.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM bg GROUP BY doc_id),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS i
       |  FROM cand c
       |  JOIN bg p ON p.doc_id = c.doc_a
       |  JOIN bg q ON q.doc_id = c.doc_b AND q.s = p.s
       |  GROUP BY c.doc_a, c.doc_b)
       |SELECT doc_a, doc_b, sa.n AS na, sb.n AS nb, i,
       |  round(i * 1.0 / least(sa.n, sb.n), 6) AS containment
       |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
       |           JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE round(i * 1.0 / least(sa.n, sb.n), 6) >= $containThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------ prefix-filter join

  /** q79: EXACT-RECALL near-dup pairs by prefix filtering (the
    * PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08).
    * MinHash/LSH (q21/q22) has PROBABILISTIC recall: a qualifying
    * pair can miss every band. This operator is the deterministic
    * complement: under a global rarest-first shingle order (corpus df
    * ascending, shingle text as tiebreak), any two sets with
    * Jaccard >= t MUST share an element inside each other's first
    * n - ceil(t*n) + 1 shingles — so joining prefixes alone has zero
    * false negatives, and the oracle is the TRUE all-pairs answer,
    * not a mirror of the candidate generator.
    *
    * Candidates are cut twice before verification, both sides exact:
    * the length filter (t*nb <= na <= nb/t: sizes too far apart
    * cannot clear t) and the PPJoin position filter — a shared prefix
    * element at ranks (ra, rb) bounds the overlap by
    * min(na-ra, nb-rb) + 1, and for a qualifying pair the FIRST
    * shared element always passes, so filtering per join row then
    * dedup-ing pairs keeps recall exact.
    *
    * Scale shape: one df aggregate + per-doc top-(n-ceil(tn)+1)
    * window (per-doc rows, never stratum-sized), a self-join whose
    * posting lists hold the corpus's RAREST shingles first, then the
    * shared candidates-only verify join. The prefix frame and the
    * doc-level set table are STAGED artifacts (`prefix_t*`,
    * `doc_sets`) — the self-join's two sides and the verify's two
    * sides each scan parquet instead of recomputing the df-aggregate
    * + per-doc window subtree per reference (4.9 s shipped in r8 vs
    * 1.24 s staged+hash-bound, in-JVM median at sf0.1 — PERF.md §11;
    * staging alone was NOT the whole story, the verify stage's hash
    * upper bound below carries most of the win on candidate-heavy
    * corpora).
    * Prefix length is (1-t)n+1, so the regime matters: at the LSH
    * threshold 0.5 half of every document is prefix and the self-join
    * explodes (measured 33 s at sf0.1 vs 4 s for LSH+verify) —
    * prefix filtering is the HIGH-threshold tool, and
    * [[prefixThreshold]] = 0.8 pins it there. Division of labor:
    * LSH for broad candidate recall at 0.5, the prefix join for
    * guaranteed-recall tight duplicates at 0.8+. */
  val prefixThreshold = 0.8

  /** The candidate-side threshold is loosened by the oracle's rounding
    * half-ulp: verification (and the DuckDB oracle) accept
    * round(jaccard, 6) >= t, so a pair with true Jaccard in
    * [t - 5e-7, t) passes the rounded compare — the prefix/length/
    * position filters must not prune it. Only reachable for documents
    * with ~400k+ distinct shingles, but exact recall means exact. */
  private def loosened(t: Double): Double = t - 5e-7

  def prefixJaccardPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val sets = docSetsTable(spark, sfDir)
    val prefix = prefixTable(spark, sfDir, prefixThreshold)
    // broadcast sketch prefilter while the corpus fits the ceiling
    // (parquet-metadata count — cheap), past it the enumeration-grain
    // rejection via the sketches CARRIED on the prefix rows — no
    // broadcast, no cliff (PERF §44). Exact at any size on both paths:
    // the verify is the recall authority, the prefilters only drop
    // pairs the bound proves non-qualifying
    val cand = candidatesDispatch(prefix, sets, prefixThreshold,
      Tables.documents(spark, sfDir).count())
    verifyPrefixPairs(cand, sets, prefixThreshold)
      .orderBy("doc_a", "doc_b")
  }

  /** [[prefixJaccardPairs]] over an arbitrary `(doc_id, text)` frame.
    * EAGER (runs a job before returning): the candidate pairs are
    * localCheckpoint-ed so the persisted prefix frame can be released
    * before the result is handed back — repeated calls must not
    * accumulate cached RDDs for the session's lifetime. The shingle
    * explode is narrow and recomputed per consumer (measured cheaper
    * than materializing it; see the staging notes above). */
  def prefixJaccardPairsOf(docs: DataFrame,
                           t: Double = prefixThreshold): DataFrame = {
    val bg = shinglesOf(docs).select("doc_id", "s", "h", "h60")
    val prefix = prefixFrom(bg, t)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sets = setsFrom(bg)
      // broadcast prefilter under the ceiling, carried
      // enumeration-grain rejection past it (the persisted
      // prefix frame carries `sk`) — no cliff. The ceiling guard
      // counts docs off the PERSISTED prefix frame, not `docs`:
      // an arbitrary caller lineage must not be recomputed for a count
      val cand = candidatesDispatch(prefix, sets, t,
        prefix.select("doc_id").distinct().count()).localCheckpoint(true)
      verifyPrefixPairs(cand, sets, t)
    } finally { prefix.unpersist(false): Unit }
  }

  /** Probe prefix per doc under the global rarest-first order: the
    * (1-t)n + 1 rarest shingles, ranked. One df aggregate + one
    * per-doc window — per-doc rows, never stratum-sized. The emitted
    * join key is the 60-bit shingle hash, not the string: h60 is a
    * FUNCTION of the shingle, so equal shingles always collide (no
    * candidate is ever lost) and the self-join compares longs instead
    * of strings; a spurious h60 collision only adds a candidate the
    * verify stage discards.
    *
    * Each prefix row also CARRIES the doc's 128 B bucket-count sketch
    * (`sk`, r15): the enumeration self-join then has both pair sides'
    * sketches resident in its own rows, so the bound rejection runs at
    * enumeration grain WITHOUT a broadcast — no corpus-size ceiling
    * (PERF §44). The carry is cheap because the prefix frame is
    * doc-grain small (~(1-t)n+1 rows/doc: 2.2/doc on this corpus,
    * 0.2n/doc for book-sized docs), and consumers that don't ask for
    * `sk` prune the column at the parquet scan (`BucketSketchSpec`
    * pins this for the broadcast path). The per-doc sketch aggregate
    * is its OWN doc_id exchange (the window's exchange is not reused
    * — its input carries the dfs join), but a narrow one: (doc_id, int32)
    * per shingle row, ~15–20% of the window exchange's width, linear
    * in corpus bytes — and since r16 paid ONLY by the library entry
    * [[prefixJaccardPairsOf]]: the staged build joins the prefix rows
    * to the doc_sets table's identical `sk` column instead (see
    * [[prefixTable]]). */
  private def prefixFrom(bg: DataFrame, t: Double): DataFrame =
    prefixBare(bg, t).join(skFrom(bg), "doc_id")

  /** The rank/length part of the prefix frame, sans sketch. */
  private def prefixBare(bg: DataFrame, t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tL = loosened(t)
    val dfs = bg.groupBy("s").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df").asc, col("s").asc)
    bg.join(dfs, "s")
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .where(col("rk") <= col("n") - ceil(lit(tL) * col("n")) + 1)
      .select("doc_id", "h60", "rk", "n")
  }

  /** Per-doc 64-bucket count sketch straight from the shingle rows —
    * value-identical to doc_sets' `sk` column (the sketch is a bag of
    * per-bucket counts, insensitive to collection order), used only
    * where no staged doc_sets exists to reuse. */
  private def skFrom(bg: DataFrame): DataFrame =
    bg.withColumn("__h32", (col("h") - lit(2147483648L)).cast("int"))
      .groupBy("doc_id")
      .agg(collect_list("__h32").as("__hs"))
      .select(col("doc_id"),
        graft.functions.BucketSketch.bucket_count_sketch(col("__hs")).as("sk"))

  /** Staged probe-prefix frame (`prefix_t800` for the default 0.8):
    * the df-aggregate + window subtree is computed ONCE per corpus;
    * the self-join's two references then scan parquet.
    *
    * The STAGED build reuses doc_sets' `sk` column through the staged
    * bucketed table instead of re-aggregating the whole shingle stream
    * (VERDICT r15 #2: stage v5's own sketch aggregate was a duplicate
    * of a computation the docsets chain runs anyway, and the 8 GiB
    * staging wall paid for it). The join's small side is the
    * POST-FILTER prefix rows (~(1-t)n+1 per doc) and the doc_sets
    * side reads its buckets in place — far narrower than the per-
    * shingle-row (doc_id, h32) exchange it replaces. In the staging
    * DAG this makes prefix a DEPENDENT of the docsets chain (it
    * blocks on the doc_sets dir lock); docsets lands at ~1/3 of the
    * wall and prefix was never the critical path, so the wait trades
    * idle time for the removed duplicate work (A/B: PERF §45).
    * Table content is unchanged (same rows, same sk values) — no
    * stage-version bump, no restage. */
  private[graft] def prefixTable(spark: SparkSession, sfDir: String,
                                 t: Double): DataFrame =
    Staging.readThrough(spark, sfDir, s"prefix_t${math.round(t * 1000)}") {
      prefixBare(shingleTable(spark, sfDir).select("doc_id", "s", "h60"), t)
        .join(docSetsTable(spark, sfDir).select("doc_id", "sk"), "doc_id")
    }

  /** Doc-level shingle-set table (`doc_sets`): one row per doc with
    * the sorted distinct-shingle array + its size. The verify stage
    * joins it twice per pass (doc_a / doc_b side) from FOUR consumers
    * (the LSH verify of q22/q44, q79 prefix pairs, q60 containment,
    * q61 incremental admission); staged BUCKETED ON doc_id (r11,
    * PERF.md §13) so every verify attach is a sort-merge join that
    * reads the set arrays bucket-aligned in place — only the
    * candidate-pair side shuffles. Without the bucketing the arrays
    * themselves were the shuffle (~25 GB across the verify consumers
    * at 100×). */
  private[graft] def docSetsTable(spark: SparkSession, sfDir: String): DataFrame = {
    // The STAGED table also carries the 64-bucket count sketch (`sk`,
    // 128 B/doc — computed once at staging time, column-pruned away
    // from consumers that don't ask for it; VERDICT r14 #2). The
    // verify's bucket-aligned SMJ reads it in place alongside the
    // hash arrays, so the sketch bound prunes pairs pre-intersect
    // with ZERO extra exchange at ANY corpus size; it is the LSH
    // verify's only sketch bound, and q79's broadcast prefilter and
    // staged prefix table read the same column.
    val compute =
      setsFrom(shingleTable(spark, sfDir).select("doc_id", "s", "h"))
        .withColumn("sk",
          graft.functions.BucketSketch.bucket_count_sketch(col("hs")))
    Staging.bucketedReadThrough(spark, sfDir, "doc_sets",
      buckets = 64, bucketCol = "doc_id")(compute)
  }

  /** Per-doc set table: sorted 32-bit-hash array (`hs` as array<int> —
    * int, not long, because the verify stage shuffles these arrays
    * attached to every candidate pair, and at a candidate-heavy 100×
    * the array bytes ARE the shuffle; h - 2^31 maps the unsigned
    * 32-bit hash range onto int exactly — bijective, order-preserving,
    * ANSI-cast-safe), its DISTINCT size (`nh` — shy of `n` only
    * when two of the doc's shingles collide on the hash, the slack
    * term of the verify bound), sorted shingle-string array (`ss`,
    * the exact confirm input — column-pruned away unless a pair
    * survives the hash stage), and the set size. */
  private[graft] def setsFrom(bg: DataFrame): DataFrame =
    bg.withColumn("__h32", (col("h") - lit(2147483648L)).cast("int"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list("__h32")).as("hs"),
        size(array_distinct(collect_list("__h32"))).as("nh"),
        sort_array(collect_list("s")).as("ss"), count(lit(1)).as("n"))

  /** PPJoin candidate generation over a prefix frame. Asymmetry:
    * order each pair by (n, doc_id); the LARGER side x keeps its
    * probe prefix, the smaller side y only needs the index prefix
    * n - ceil(2t/(1+t)*n) + 1 (its worst-case qualifying overlap is
    * against an equal-size partner) — the shorter list on one side
    * multiplies out of the bucket sizes.
    *
    * The position filter is the AGGREGATED PPJoin bound: shared
    * elements sort identically in both docs (one global order), so
    * every shared element either joins prefix-to-prefix or lies
    * strictly after the LAST such join element in BOTH documents;
    * hence overlap <= k + min(na - ra_k, nb - rb_k) for k join rows
    * with last positions (ra_k, rb_k). Per pair this is provably at
    * least as tight as the classic per-element
    * min(na-ra, nb-rb) + 1 test (positions are strictly increasing,
    * so the first element's slack absorbs k-1), and the pair grouping
    * replaces the dedup the per-element form needed anyway. A
    * qualifying pair always keeps its first shared element in the
    * join, so recall stays exact.
    *
    * The PPJoin LENGTH-RATIO bound is the `x.n <= y.n / t` filter
    * below (since r8): Jaccard >= t forces min(na,nb) >= t*max(na,nb),
    * and Catalyst evaluates it inside the join before the aggregate.
    * Promoting the length into the equi-key (geometric buckets of
    * ratio 1/t; a qualifying pair spans <= 1 bucket, smaller side
    * probes {b, b+1}) was built and MEASURED AT 100x — byte-identical
    * 58.7M candidates, zero time win (r13) — because enumeration is
    * not where the time goes: the 392M h60-collision rows cost only a
    * codegen'd predicate each, the length filter kills 64% of them,
    * and the surviving 143M-row aggregate + 58.7M-pair verify
    * hand-off (both unchanged by bucketing) carry the cost. The
    * per-bucket products are uniform (max 65,792 — no skewed task),
    * so the stage is enumeration-optimal for this corpus; revisit
    * bucketing only for corpora whose shingle buckets mix widely
    * different lengths AND whose enumeration dominates the profile. */
  private[graft] def candidatesFrom(prefix: DataFrame, t: Double): DataFrame =
    aggregateEnumerated(enumeratedCollisions(prefix, t), t)

  /** The candidate stage's ENUMERATION alone: one row per h60 prefix
    * collision that survives the rank and length-ratio bounds — the
    * 392M→143M funnel of PERF §27 — flattened to named columns so
    * row-grain filters can run before [[aggregateEnumerated]]. Both
    * sides' carried sketches ride along as `xsk`/`ysk`; consumers that
    * never reference them get them pruned from the prefix scan
    * (`BucketSketchSpec` pins this). */
  private def enumeratedCollisions(prefix: DataFrame, t: Double): DataFrame = {
    val tL = loosened(t)
    val larger = col("x.n") > col("y.n") ||
      (col("x.n") === col("y.n") && col("x.doc_id") > col("y.doc_id"))
    prefix.as("x").join(prefix.as("y"),
        col("x.h60") === col("y.h60") && larger &&
        col("y.rk") <=
          col("y.n") - ceil(lit(2 * tL / (1 + tL)) * col("y.n")) + 1)
      .where(col("x.n") <= col("y.n") / tL)
      .select(col("x.doc_id").as("xa"), col("y.doc_id").as("ya"),
        col("x.n").as("nx"), col("y.n").as("ny"),
        col("x.rk").as("xrk"), col("y.rk").as("yrk"),
        col("x.sk").as("xsk"), col("y.sk").as("ysk"))
  }

  /** Collision rows → candidate pairs (doc_a < doc_b): per-pair
    * collision count plus the aggregated position bound (PPJoin's
    * suffix bound). */
  private def aggregateEnumerated(e: DataFrame, t: Double): DataFrame = {
    val tL = loosened(t)
    e.groupBy("xa", "ya", "nx", "ny")
      .agg(count(lit(1)).as("k"),
        max(col("xrk")).as("ra"), max(col("yrk")).as("rb"))
      .where(col("k") + least(col("nx") - col("ra"), col("ny") - col("rb")) >=
             lit(tL / (1 + tL)) * (col("nx") + col("ny")))
      .select(least(col("xa"), col("ya")).as("doc_a"),
              greatest(col("xa"), col("ya")).as("doc_b"))
  }

  /** Keeps the rows whose sketch bound can still reach `t` — the ONE
    * bound behind the broadcast, carried and in-SMJ rejections
    * (PERF §29/§31/§44): Σ min(bucket counts) of the two sides'
    * sketches (`skA`, `skB`) provably upper-bounds the true
    * shared-shingle count (see BucketSketch scaladoc), so filtering
    * ub/(na+nb-ub) < loosened(t) can only drop pairs the exact verify
    * would drop. Docs with ≥ 65,535 shingles (count saturation)
    * bypass the filter entirely. */
  private def withinSketchBound(rows: DataFrame, skA: String, skB: String,
      na: String, nb: String, t: Double): DataFrame =
    rows
      .withColumn("__ub",
        graft.functions.BucketSketch.bucket_min_sum(col(skA), col(skB)))
      .where(col(na) >= 65535 || col(nb) >= 65535 ||
             col("__ub") * lit(1.0) / (col(na) + col(nb) - col("__ub")) >= loosened(t))
      .drop("__ub")

  /** A set table's per-doc sketch: the staged doc_sets `sk` column when
    * present (written once at staging time, a 128 B/doc column scan),
    * else computed from the `hs` array in the scan stage. */
  private def setSketch(sets: DataFrame): Column =
    if (sets.columns.contains("sk")) col("sk")
    else graft.functions.BucketSketch.bucket_count_sketch(col("hs"))

  /** [[candidatesFrom]] with the sketch bound applied to the
    * ENUMERATION rows, before the pair aggregate (PERF §31). The
    * bound depends only on the two doc identities, so every collision
    * row of a pair shares the verdict — dropping them pre-aggregate
    * drops whole pairs, never partial rows, and only pairs the exact
    * verify would reject. The two sketch attaches are broadcast hash
    * joins from the set table (the prefix rows' own `sk` is dropped
    * and pruned from the scan), so they stay inside the enumeration's
    * codegen stage: the pair aggregate's hash table then holds only
    * sketch-surviving pairs (~25.6k at 100×) instead of 58.7M. */
  private[graft] def candidatesSketchFiltered(prefix: DataFrame,
      sets: DataFrame, t: Double): DataFrame = {
    val sk = sets.select(col("doc_id"), setSketch(sets).as("__sk"))
    def side(key: String, skOut: String) =
      broadcast(sk.select(col("doc_id").as(key), col("__sk").as(skOut)))
    val e = enumeratedCollisions(prefix, t).drop("xsk", "ysk")
      .join(side("xa", "xsk"), "xa")
      .join(side("ya", "ysk"), "ya")
    aggregateEnumerated(withinSketchBound(e, "xsk", "ysk", "nx", "ny", t), t)
  }

  /** Enumeration-grain sketch rejection with NO broadcast and NO
    * corpus-size ceiling (r15, PERF §44): the 128 B sketches ride the
    * prefix rows themselves (see [[prefixFrom]]), so the bound is
    * evaluated INLINE in the self-join's own stage — the two sides'
    * sketches are already in the joined row, no attach join at all.
    * Same bound, same saturation bypass, and the same survivors as
    * [[candidatesSketchFiltered]] (`BucketSketchSpec` pins the two
    * candidate sets identical), so the pair aggregate's hash table
    * holds ~25.6k sketch-survivors at 100× instead of 58.7M — at ANY
    * corpus size. Cost of the carry: +128 B per PREFIX row
    * ((1-t)n+1 rows/doc) through the self-join's two shuffles, linear
    * in corpus docs, vs the broadcast path's O(corpus) driver-resident
    * relation. */
  private[graft] def candidatesSketchCarried(prefix: DataFrame,
                                             t: Double): DataFrame =
    aggregateEnumerated(
      withinSketchBound(enumeratedCollisions(prefix, t), "xsk", "ysk", "nx", "ny", t), t)

  /** Candidate stage dispatch shared by [[prefixJaccardPairs]] and
    * [[prefixJaccardPairsOf]]: the broadcast prefilter while the
    * corpus fits [[sketchMaxDocs]], the carried enumeration-grain
    * path past it (the quiet-box A/B at 100× measured broadcast
    * 7.9–9.2 s vs carried 9.6–10.1 s under the ceiling, and carried
    * 9.6–10.1 s vs pair-grain 29–36 s past it — PERF §44). The
    * dispatch logs its choice once per call — the observability
    * behind the natural past-ceiling run (VERDICT r15 #4). */
  private def candidatesDispatch(prefix: DataFrame, sets: DataFrame,
      t: Double, nDocs: Long): DataFrame = {
    val carried = sketchCarried(nDocs)
    log.info(s"q79 sketch auto: nDocs=$nDocs ceiling=$sketchMaxDocs -> " +
      (if (carried) "carried (past ceiling, no broadcast)" else "broadcast prefilter"))
    if (carried) candidatesSketchCarried(prefix, t)
    else candidatesSketchFiltered(prefix, sets, t)
  }

  /** Corpus-size ceiling for q79's broadcast sketch prefilter: 2M docs
    * × (128 B sketch + row overhead) ≈ 400 MB in-heap per broadcast
    * relation — inside a 16 GiB (and the validated 8 GiB) driver.
    * Beyond it [[candidatesDispatch]] takes the carried
    * enumeration-grain path instead, which has no ceiling, and the
    * verify's in-SMJ bound ([[verifyHashPass]]) applies at any size.
    * The ceiling is the same inside and outside a `stageAll` window:
    * no staging chain builds a broadcast sketch relation. */
  private[graft] val sketchMaxDocs = 2000000L

  /** The dispatch decision: the carried path exactly past the ceiling. */
  private[graft] def sketchCarried(nDocs: Long): Boolean = nDocs > sketchMaxDocs

  /** Stage 1 of the verify alone (the hash upper bound);
    * [[verifyPrefixPairs]] runs the exact confirm over its survivors.
    *
    * The bucketed sketch bound runs INSIDE the verify SMJ first
    * (VERDICT r14 #2): the per-doc sketches ride the same
    * bucket-aligned attach as the hash arrays ([[setSketch]] — never
    * an extra exchange), and the 64-min-ops bound filter sits BELOW
    * the `iu` projection in the plan, so a sketch-rejected pair never
    * pays the O(na+nb) sorted-intersect. It is the only sketch bound
    * the LSH verify (q22/q44) applies, and the one q79 keeps at any
    * corpus size: the flood pays 128 B compares instead of array
    * intersects. */
  private[graft] def verifyHashPass(cand: DataFrame, sets: DataFrame,
                                    t: Double): DataFrame = {
    val skc = setSketch(sets)
    val tL = loosened(t)
    val attached = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha"),
        col("n").as("na"), col("nh").as("nha"), skc.as("__ska")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb"),
        col("n").as("nb"), col("nh").as("nhb"), skc.as("__skb")), "doc_b")
    withinSketchBound(attached, "__ska", "__skb", "na", "nb", t)
      .withColumn("iu",
        graft.functions.SortedIntersectCount
          .sorted_intersect_count(col("ha"), col("hb")) +
        least(col("na") - col("nha"), col("nb") - col("nhb")))
      .where(col("iu") * lit(1.0) / (col("na") + col("nb") - col("iu")) >= tL)
      .select("doc_a", "doc_b")
  }

  /** Exact verify by per-doc shingle SETS (docs are rows, not
    * explosions): joins against the doc-level set table beat
    * re-exploding the corpus into a (pair x shingle) shuffle; for
    * corpora of BOOK-sized documents (arrays of 10^4+) flip back to
    * the exploded overlapStats join.
    *
    * Two stages, both with zero false negatives:
    *   1. HASH upper bound ([[verifyHashPass]]) — distinct-intersect
    *      the sorted 32-bit hash arrays (int compares, no string
    *      hashing). The hash is a function of the shingle, so every
    *      shared shingle lands in the hash intersection; the only way
    *      i_hash undercounts i_true is a WITHIN-DOC collision, and
    *      each such collision also shrinks the doc's distinct-hash
    *      count, so i_true <= i_hash + min(na - nha, nb - nhb) — a
    *      provable upper bound for ANY hash function (slack exactly 0
    *      on a collision-free corpus; `VerifyBoundSpec` pins the bound
    *      under forced within-doc, cross-doc, and constant-hash
    *      collisions against brute force).
    *      Filtering that bound against t (loosened by the rounding
    *      half-ulp) can only drop pairs the exact compare would drop
    *      too. This is where a candidate-heavy corpus (small
    *      vocabulary → weak prefix pruning) gets cheap: measured
    *      6.2 s -> sub-second on 667k candidates at sf0.1.
    *   2. EXACT confirm — only survivors (the near-dups themselves,
    *      plus the rare hash-bound overshoot) touch the string
    *      arrays; the final compare is the ORACLE's compare —
    *      round(j, 6) >= t. */
  private[graft] def verifyPrefixPairs(cand: DataFrame, sets: DataFrame,
                                t: Double): DataFrame = {
    val hashPass = verifyHashPass(cand, sets, t)
    hashPass
      .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("sa"),
        col("n").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("sb"),
        col("n").as("nb")), "doc_b")
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", jaccardCol)
      .where(col("jaccard") >= t)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** The TRUE all-pairs answer — not a candidate-generator mirror:
    * the oracle PROVES the prefix filter's recall guarantee. */
  val prefixJaccardPairsSql: String =
    s"""WITH bg AS (
       |  SELECT doc_id, unnest($duckBigrams) AS s FROM documents),
       |sizes AS (SELECT doc_id, count(*) AS n FROM bg GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
       |  FROM bg x JOIN bg y ON x.s = y.s AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
       |           JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= $prefixThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------- incremental dedup

  /** The "today's crawl" stand-in: a deterministic tenth of the corpus
    * arrives as the new batch; everything else is the settled corpus. */
  private val batchPred = "doc_id % 10 = 7"

  /** q61: incremental dedup — the production shape for daily ingest: a
    * NEW batch is admitted against the settled corpus without ever
    * re-deduping the corpus against itself. A new doc is rejected as
    * `dup_exact` (byte-identical text exists), `dup_near` (shares a
    * band bucket with a corpus doc and exact Jaccard verifies), or
    * `admit`ted. Ties are deterministic: the matched corpus doc is the
    * highest-Jaccard then lowest-id partner.
    *
    * Scale shape: the batch is orders of magnitude smaller than the
    * corpus, so every batch-side table (signatures, band keys, text
    * hashes) BROADCASTS — the staged corpus signature table is scanned
    * once and never shuffles; corpus shingles join only against the
    * candidate pairs. The corpus never pairs with itself: the band
    * join is strictly batch x corpus. */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val p = defaultParams
    val sig = sigTable(spark, sfDir, p)
    val newBands = bandKeysOf(sig.where(expr(batchPred)), p)
    val corpusBands = bandKeysOf(sig.where(expr(s"NOT ($batchPred)")), p)
    val cand = broadcast(newBands.as("nb"))
      .join(corpusBands.as("cb"), col("nb.bk") === col("cb.bk"))
      .select(col("nb.doc_id").as("new_id"), col("cb.doc_id").as("old_id"))
      .distinct()
    val near = verifyPrefixPairs(
        cand.select(col("new_id").as("doc_a"), col("old_id").as("doc_b")),
        docSetsTable(spark, sfDir), jaccardThreshold)
      .select(col("doc_a").as("new_id"), col("doc_b").as("old_id"),
        col("jaccard"))
      .groupBy("new_id").agg(
        max(struct(col("jaccard"), (-col("old_id")).as("negId"))).as("best"))
      .select(col("new_id"),
        col("best.jaccard").as("near_jaccard"), (-col("best.negId")).as("near_id"))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val newDocs = docs.where(expr(batchPred))
    val exact = broadcast(newDocs.select(col("doc_id").as("new_id"), md5(col("text")).as("sg")))
      .join(docs.where(expr(s"NOT ($batchPred)"))
              .select(md5(col("text")).as("sg"), col("doc_id").as("old_id")), "sg")
      .groupBy("new_id").agg(min("old_id").as("exact_id"))
    newDocs.select(col("doc_id").as("new_id"))
      .join(exact, Seq("new_id"), "left")
      .join(near, Seq("new_id"), "left")
      .withColumn("verdict",
        when(col("exact_id").isNotNull, lit("dup_exact"))
          .when(col("near_id").isNotNull, lit("dup_near"))
          .otherwise(lit("admit")))
      .withColumn("match_id",
        coalesce(col("exact_id"), col("near_id"), lit(-1L)))
      .withColumn("jaccard",
        when(col("exact_id").isNotNull, lit(1.0))
          .otherwise(coalesce(col("near_jaccard"), lit(0.0))))
      .select(col("new_id").as("doc_id"), col("verdict"), col("match_id"), col("jaccard"))
      .orderBy("doc_id")
  }

  val incrementalDedupSql: String = {
    val p = defaultParams
    s"""${duckSigCte(p)},
       |bands AS (${duckBandUnion(p)}),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS old_id
       |  FROM bands x JOIN bands y ON x.bk = y.bk
       |  WHERE x.doc_id % 10 = 7 AND NOT (y.doc_id % 10 = 7)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM bg GROUP BY doc_id),
       |inter AS (
       |  SELECT c.new_id, c.old_id, count(*) AS i
       |  FROM cand c
       |  JOIN bg x ON x.doc_id = c.new_id
       |  JOIN bg y ON y.doc_id = c.old_id AND y.s = x.s
       |  GROUP BY c.new_id, c.old_id),
       |near0 AS (
       |  SELECT new_id, old_id,
       |    round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
       |  FROM inter JOIN sizes sa ON sa.doc_id = new_id
       |             JOIN sizes sb ON sb.doc_id = old_id
       |  WHERE round(i * 1.0 / (sa.n + sb.n - i), 6) >= $jaccardThreshold),
       |near AS (
       |  SELECT new_id, jaccard AS near_jaccard, old_id AS near_id FROM (
       |    SELECT new_id, old_id, jaccard,
       |      row_number() OVER (PARTITION BY new_id
       |                         ORDER BY jaccard DESC, old_id ASC) AS rk
       |    FROM near0) t WHERE rk = 1),
       |exact AS (
       |  SELECT n.doc_id AS new_id, min(o.doc_id) AS exact_id
       |  FROM documents n JOIN documents o
       |    ON md5(n.text) = md5(o.text) AND NOT (o.doc_id % 10 = 7)
       |  WHERE n.doc_id % 10 = 7
       |  GROUP BY n.doc_id)
       |SELECT n.doc_id,
       |  CASE WHEN e.exact_id IS NOT NULL THEN 'dup_exact'
       |       WHEN r.near_id IS NOT NULL THEN 'dup_near'
       |       ELSE 'admit' END AS verdict,
       |  coalesce(e.exact_id, r.near_id, -1) AS match_id,
       |  CASE WHEN e.exact_id IS NOT NULL THEN 1.0
       |       ELSE coalesce(r.near_jaccard, 0.0) END AS jaccard
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) n
       |LEFT JOIN exact e ON e.new_id = n.doc_id
       |LEFT JOIN near r ON r.new_id = n.doc_id
       |ORDER BY n.doc_id""".stripMargin
  }

  // ------------------------------------------------------------- simhash

  /** SimHash: 60-bit signature; bit j is the sign of the sum over
    * shingles of ±1 depending on bit j of the shingle hash. This is
    * the aggregate form (explode → 60 ±1 bit-sum aggregates, one
    * shuffle on doc_id), retained as the bit-parity REFERENCE for
    * [[simhashOf]] (the production path) and its spec; no production
    * path calls it. */
  private[graft] def simhashFrom(sh: DataFrame): DataFrame = {
    val bitSums = (0 until 60).map { j =>
      // branch-free ±1: (bit*2 - 1); ~25% faster than a CASE per bit
      sum(expr(s"(shiftright(h60, $j) & 1) * 2 - 1")).as(s"s$j")
    }
    val simExpr = (0 until 60)
      .map(j => s"(case when s$j > 0 then ${1L << j}L else 0L end)")
      .mkString(" + ")
    sh.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash", expr(simExpr))
      .select("doc_id", "simhash")
  }

  /** One-pass narrow simhash via the native
    * [[graft.functions.SimHashDoc]] expression — computed inside the
    * documents scan, zero exchange; bit-identical to [[simhashFrom]]
    * (spec-pinned). Docs with < 2 tokens return the -1 sentinel and
    * are filtered, matching the groupBy form's absence. */
  private[graft] def simhashOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.SimHashDoc.simhash_doc(col("text")).as("simhash"))
      .where(col("simhash") >= 0)

  /** Simhash table, staged. */
  private def simhashTable(spark: SparkSession, sfDir: String): DataFrame =
    Staging.readThrough(spark, sfDir, "simhash")(simhashOf(Tables.documents(spark, sfDir)))

  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashTable(spark, sfDir).orderBy("doc_id")

  /** Oracle simhash, shared by [[simhashSql]] and [[simhashPairsSql]]:
    * the `bg`/`hh`/`bits` CTEs (60 ±1 bit-sums per doc over the 60-bit
    * shingle hash) and the signature expression over `bits`. */
  private val duckSimhashBits: String = {
    val bitSums = (0 until 60).map { j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(", ")
    s"""WITH bg AS (
       |  SELECT doc_id, unnest($duckBigrams) AS s FROM documents),
       |hh AS (
       |  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM bg),
       |bits AS (SELECT doc_id, $bitSums FROM hh GROUP BY doc_id)""".stripMargin
  }
  private val duckSimExpr: String = (0 until 60)
    .map(j => s"(CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
    .mkString(" + ")

  val simhashSql: String =
    s"""$duckSimhashBits
       |SELECT doc_id, $duckSimExpr AS simhash FROM bits ORDER BY doc_id""".stripMargin

  /** SimHash near-dup pairs: 4 bands of 15 bits block the join;
    * pairs in the same band bucket are checked by Hamming distance.
    * Same LSH-style scale bound: no O(n²) comparison. */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairsFrom(simhashTable(spark, sfDir), BandGuard.default)

  /** SimHash pairs over an arbitrary `(doc_id, text)` frame with an
    * explicit skew guard; no read-through staging. */
  def simhashPairsOf(docs: DataFrame, g: BandGuard = BandGuard.default): DataFrame =
    simhashPairsFrom(CacheRegistry.scoped(simhashOf(docs)), g)

  private def simhashPairsFrom(sh: DataFrame, g: BandGuard): DataFrame = {
    // identical simhashes collapse to a hamming-0 star
    val bandKeys = array((0 until 4).map { b =>
      concat_ws("_", lit(b), expr(s"shiftright(simhash, ${15 * b}) & 32767"))
    }: _*)
    // the band stream is not persisted: a wash at 100×, slower on
    // perfbench dedup (PERF §68, §70)
    val (bands, star) = SkewGuard.guardedBands(
      sh, "doc_id", "simhash", bandKeys, Seq("simhash"), g)
    bands.as("x").join(bands.as("y"),
        col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .distinct()
      .where(col("hamming") <= hammingThreshold)
      .unionByName(star.select(col("rep").as("doc_a"), col("member").as("doc_b"),
        lit(0).as("hamming")))
      .orderBy("doc_a", "doc_b")
  }

  val simhashPairsSql: String = {
    val bands = (0 until 4).map { b =>
      s"SELECT doc_id, simhash, concat($b, '_', (simhash >> ${15 * b}) & 32767) AS bk FROM sh"
    }.mkString(" UNION ALL ")
    s"""$duckSimhashBits,
       |sh AS (SELECT doc_id, $duckSimExpr AS simhash FROM bits),
       |bands AS ($bands)
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  bit_count(xor(x.simhash, y.simhash)) AS hamming
       |FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= $hammingThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }
}
