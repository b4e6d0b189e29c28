package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructType}

import graft.operators.{ConcurrentJobs, DedupOps, EmbeddingOps, MinHashParams}

/** The three corpus-side posting tables one composed admission
  * pipeline owns: minhash band postings ([[StreamingDedup]]), span
  * hashes ([[StreamingSpanGate]]), quantized vectors
  * ([[StreamingSemanticGate]]). */
final case class AdmissionTables(bands: String, spans: String, vectors: String)

/** One floor-keyed [[CompactionDial]] per posting table — the shared
  * dial set a long-running composed loop holds. */
final case class AdmissionDials(bands: CompactionDial, spans: CompactionDial,
                                vectors: CompactionDial) {
  def all: Seq[CompactionDial] = Seq(bands, spans, vectors)
  /** Check the three dials side by side and fire whichever are over
    * threshold; returns how many ran. Each dial touches only its own
    * table, and concurrent rewrites share one bucketed-scan pin
    * (`PostingCompaction.rewrite`). */
  def maybeCompactAll(spark: SparkSession): Int =
    ConcurrentJobs.runAll(spark, AdmissionPipeline.Pools,
      Seq("bands" -> bands, "spans" -> spans, "vectors" -> vectors).map {
        case (gate, dial) => gate -> (() => dial.maybeCompact(spark))
      }).count(identity)
}

/** Knobs for the three gates, bundled so stage and probe CANNOT
  * disagree (every layout parameter — presets, span length, planes —
  * is baked into the staged tables). */
final case class AdmissionConfig(
    p: MinHashParams = DedupOps.defaultParams,
    spanLen: Int = StreamingSpanGate.defaultSpanLen,
    maxSpanPm: Long = 500,
    minCos: Double = EmbeddingOps.nearDupCos,
    planes: Int = EmbeddingOps.numPlanes,
    planeSets: Int = 1,
    buckets: Int = 64,
    filesFactor: Double = 2.0)

/** COMPOSED training-data admission (VERDICT r19 stretch #8): the
  * lexical (minhash/LSH), span (substring-dup), and semantic
  * (quantized-embedding) gates ran as three separate streams until
  * r20; a real ingest wants ONE foreachBatch that reads each incoming
  * document once, probes all three staged corpus tables, and emits a
  * single verdict frame — `(doc_id, verdict)` with verdict ∈ admit |
  * dup_lexical | dup_span | dup_semantic — then absorbs the admitted
  * docs into all three tables under one shared dial set.
  *
  * Verdict PRECEDENCE is strongest-signal-first: `dup_lexical` (the
  * doc near-duplicates a whole corpus document — minhash agreement ≥
  * the est threshold), else `dup_span` (more than `maxSpanPm` per
  * mille of its k-token windows reproduce corpus spans — Lee et
  * al.-style substring duplication), else `dup_semantic` (an int8
  * quantized-cosine neighbor above `minCos` — the paraphrase case the
  * lexical gates can't see), else `admit`. Each gate keeps its own
  * blind spots: a sub-bigram or null text passes the lexical gate, a
  * doc under k tokens passes the span gate, a zero-norm embedding
  * passes the semantic gate — composition exists precisely so the
  * others still get a look.
  *
  * Scale shape: each probe is its gate's own `probeHits`, a
  * stream-static join against the gate's bucketed posting table, and
  * ONE aggregation over their raw rows and the batch rows judges the
  * batch ([[verdicts]]). The join form follows the sizes (executed
  * plans, PERF §79): at batch scale the lexical and semantic probes
  * broadcast the BATCH side and stream their posting tables in place,
  * and the span probe's left-outer join broadcasts the corpus span
  * table itself while that table is under
  * `spark.sql.autoBroadcastJoinThreshold`; past the threshold the
  * probes plan bucket-aligned sort-merge joins in which only the batch
  * side shuffles into each table's bucketing. No form exchanges a
  * corpus table. The verdict aggregation shuffles batch-sized rows
  * once. The per-table writes — the three stage writes, the three
  * absorbs and the three dial checks/rewrites — each touch only their
  * own table, so no order exists between them: each triple runs side
  * by side through [[graft.operators.ConcurrentJobs]], one FAIR pool
  * per gate. At batch scale the loop is bound by fixed cost per Spark
  * job, not by compute (PERF §77, §79): a fresh batch runs the pin of
  * its judged frame (three probe broadcasts, the aggregation's map
  * stage and the pin itself), one store write, four absorb jobs (the
  * span absorb's anti-join broadcasts the span table first) and the
  * caller's read of the store — 11 jobs where the per-gate form ran
  * 25. The verdict store is read back with the schema its writer
  * knows, so neither read starts a schema-inference job.
  *
  * EXACTLY-ONCE contract (the [[processBatch]] ledger): Spark's
  * foreachBatch is at-least-once — after a crash the last uncommitted
  * batch REPLAYS, and a naive replay would re-probe a corpus that
  * already absorbed the batch, flipping its own docs from admit to
  * dup (they'd match themselves). processBatch is therefore
  * checkpointed per batch id under `stateDir`:
  *
  *   1. ledger hit → the batch fully completed earlier; return the
  *      STORED verdicts, touch nothing.
  *   2. verdict store hit (parquet `_SUCCESS` present) → verdicts
  *      were computed and delivered before the crash; SKIP the
  *      recompute (this is what makes the mid-absorb crash window
  *      safe — stored verdicts can't flip) and re-run the absorb.
  *   3. otherwise judge the batch against the current corpus and pin
  *      the judged rows, write their verdicts to the store (overwrite
  *      — idempotent delivery), absorb the pinned `admit` rows into
  *      all three tables, fire the dials, and commit the ledger entry
  *      last. The store and the absorbs read the one pinned frame, so
  *      the absorbs take exactly the store's admitted set.
  *
  * The three absorbs run concurrently, but the order across phases is
  * unchanged: the store is written before any absorb starts, the dials
  * fire only after all three absorbs returned, and the ledger entry is
  * written last. If one absorb fails, the runner cancels the other two
  * and waits for them to drain before processBatch rethrows — no job
  * of the batch outlives the failure, and no ledger entry is written.
  * What such a failure can leave — some gates absorbed, others not —
  * is no new crash state: the sequential loop could already crash
  * after its first or second absorb, and the store-hit replay below
  * covers every subset, since each gate's absorb is replay-tolerant on
  * its own.
  *
  * Absorb replay (a crash between store-write and ledger-commit
  * re-runs step 3's absorb): the span absorb is a no-op by anti-join;
  * the band/vector absorbs append duplicate postings for the same
  * corpus ids — match-invisible (every probe ends in a pair-level
  * dedup) and storage-bounded by the next compaction. Self-pairs
  * (new_id = corpus_id) are excluded in the lexical and semantic
  * probes for the same window. */
object AdmissionPipeline {

  val Admit = "admit"
  val DupLexical = "dup_lexical"
  val DupSpan = "dup_span"
  val DupSemantic = "dup_semantic"

  /** FAIR pool prefix of the per-gate writes: `graft-admit-<gate>`. */
  private[streaming] val Pools = "graft-admit"

  /** ONE-TIME staging of all three corpus tables from the settled
    * corpus; returns the shared dial set, each dial floor-keyed off
    * its table's staged file count.
    *
    * @param corpusDocs frame with `doc_id`, `text`
    * @param corpusVecs frame with `doc_id`, `embedding` (the same id
    *                   space as corpusDocs — one embedding per doc) */
  def stageCorpus(spark: SparkSession, corpusDocs: DataFrame,
                  corpusVecs: DataFrame, t: AdmissionTables,
                  cfg: AdmissionConfig = AdmissionConfig()): AdmissionDials = {
    val Seq(bBands, bSpans, bVecs) = ConcurrentJobs.runAll(spark, Pools, Seq(
      "bands" -> (() => StreamingDedup.stageCorpusBands(spark,
        DedupOps.minhashSignaturesOf(corpusDocs, cfg.p), t.bands, cfg.buckets, cfg.p)),
      "spans" -> (() => StreamingSpanGate.stageCorpusSpans(spark, corpusDocs,
        t.spans, cfg.buckets, cfg.spanLen)),
      "vectors" -> (() => StreamingSemanticGate.stageCorpusVectors(spark, corpusVecs,
        t.vectors, cfg.buckets, idCol = "doc_id", vecCol = "embedding",
        planes = cfg.planes, planeSets = cfg.planeSets))))
    AdmissionDials(
      new CompactionDial(t.bands, StreamingDedup.postingKey, bBands,
        cfg.filesFactor, cfg.buckets),
      new CompactionDial(t.spans, StreamingSpanGate.postingKey, bSpans,
        cfg.filesFactor, cfg.buckets),
      new CompactionDial(t.vectors, StreamingSemanticGate.postingKey, bVecs,
        cfg.filesFactor, cfg.buckets))
  }

  /** One verdict row per batch row, by the precedence above. A
    * `doc_id` is judged once, so every row of a repeated `doc_id` takes
    * the same verdict: lexical or semantic if any of its rows earns it,
    * span if the matched windows of all its rows exceed `maxSpanPm` of
    * its longest row's windows. Pure read — absorbs nothing;
    * [[processBatch]] is the full loop.
    *
    * @param batch frame with `doc_id`, `text`, `embedding` */
  def verdicts(spark: SparkSession, batch: DataFrame, t: AdmissionTables,
               cfg: AdmissionConfig = AdmissionConfig()): DataFrame =
    judged(spark, batch, t, cfg).select("doc_id", "verdict")

  /** Every batch row `(doc_id, text, embedding)` with its doc's
    * `verdict`, from ONE aggregation: the three gates' raw probe rows
    * (`probeHits`: band hits, one row per distinct span window, vector
    * hits) and the batch rows are unioned and grouped by `doc_id` once.
    * The group yields the three flags and carries the doc's batch rows,
    * which are spread back out, so [[verdicts]], the store and the
    * absorbs all read one computation. Lexical and semantic self-pairs
    * (new_id = corpus_id) do not count (see the object doc). */
  private def judged(spark: SparkSession, batch: DataFrame, t: AdmissionTables,
                     cfg: AdmissionConfig): DataFrame = {
    val docs = batch.select("doc_id", "text")
    val lex = StreamingDedup.probeHits(docs, spark, t.bands, cfg.p)
      .where(col("new_id") =!= col("corpus_id"))
      .select(col("new_id").as("doc_id"), lit(true).as("__lex"))
    val span = StreamingSpanGate.probeHits(docs, spark, t.spans, cfg.spanLen)
    val sem = StreamingSemanticGate.probeHits(
        batch.select(col("doc_id"), col("embedding")), spark, t.vectors,
        cfg.minCos, idCol = "doc_id", vecCol = "embedding",
        planes = cfg.planes, planeSets = cfg.planeSets)
      .where(col("new_id") =!= col("corpus_id"))
      .select(col("new_id").as("doc_id"), lit(true).as("__sem"))
    val rows = batch.select(col("doc_id"), struct("text", "embedding").as("__row"))
    Seq(lex, span, sem).foldLeft(rows)(_.unionByName(_, allowMissingColumns = true))
      .groupBy("doc_id")
      .agg(max("__lex").as("__lex"), count("csh").as("matched"),
        max("n_spans").as("n_spans"), max("__sem").as("__sem"),
        collect_list("__row").as("__rows"))
      .withColumn("verdict",
        when(col("__lex"), lit(DupLexical))
          .when(StreamingSpanGate.matchedPm("matched", "n_spans") > cfg.maxSpanPm,
            lit(DupSpan))
          .when(col("__sem"), lit(DupSemantic))
          .otherwise(lit(Admit)))
      .select(col("doc_id"), col("verdict"), explode(col("__rows")).as("__row"))
      .select(col("doc_id"), col("__row.text").as("text"),
        col("__row.embedding").as("embedding"), col("verdict"))
  }

  /** Absorb `admitted` (`doc_id`, `text`, `embedding`) into all three
    * posting tables: one write per table, side by side, no other
    * action. If one write fails, the others are cancelled and drained
    * before the failure is rethrown ([[ConcurrentJobs]]). */
  def absorbAdmitted(spark: SparkSession, admitted: DataFrame,
                     t: AdmissionTables,
                     cfg: AdmissionConfig = AdmissionConfig()): Unit =
    ConcurrentJobs.runAll(spark, Pools, Seq(
      "bands" -> (() => StreamingDedup.absorbPostings(spark,
        admitted.select("doc_id", "text"), t.bands, cfg.buckets, cfg.p)),
      "spans" -> (() => StreamingSpanGate.absorbSpans(spark,
        admitted.select("doc_id", "text"), t.spans, cfg.buckets, cfg.spanLen)),
      "vectors" -> (() => StreamingSemanticGate.absorb(spark,
        admitted.select(col("doc_id"), col("embedding")), t.vectors,
        cfg.buckets, idCol = "doc_id", vecCol = "embedding",
        planes = cfg.planes, planeSets = cfg.planeSets)))): Unit

  private def verdictDir(stateDir: String, batchId: Long): String =
    s"$stateDir/verdicts/batch=$batchId"
  private def ledgerPath(stateDir: String, batchId: Long): java.nio.file.Path =
    java.nio.file.Paths.get(stateDir, "ledger", s"batch-$batchId")
  private def storedOk(dir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS"))

  /** The verdict store read back with the schema its writer knows —
    * `(doc_id` of the batch's type`, verdict string)` — so the read
    * plans without a schema-inference job. */
  private def stored(spark: SparkSession, store: String, batch: DataFrame): DataFrame =
    spark.read.schema(new StructType()
        .add(batch.schema("doc_id"))
        .add("verdict", StringType))
      .parquet(store)

  /** The full per-batch loop (the foreachBatch body): verdict →
    * store → absorb → compact → ledger, checkpointed per `batchId`
    * as documented on the object. Returns the batch's verdict frame
    * (read back from the store, so callers see exactly what was
    * delivered).
    *
    * A fresh batch is judged in one pinned computation that reads the
    * source frame once per probe and once for its rows; a foreachBatch
    * frame re-reads the same offsets each time. The store-hit replay
    * pins the source frame instead and absorbs its stored admits
    * through a join. */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                   t: AdmissionTables, dials: AdmissionDials,
                   stateDir: String,
                   cfg: AdmissionConfig = AdmissionConfig()): DataFrame = {
    val store = verdictDir(stateDir, batchId)
    if (java.nio.file.Files.exists(ledgerPath(stateDir, batchId)))
      return stored(spark, store, batch) // fully committed earlier
    if (!storedOk(store)) {
      // pin the judged batch: the store and the absorbs read this one
      // computation, so the absorbs take exactly the stored admits
      val pinned = judged(spark, batch, t, cfg).localCheckpoint(true)
      pinned.select("doc_id", "verdict")
        .coalesce(1) // batch-sized; one delivery file, no shuffle
        .write.mode("overwrite").parquet(store)
      absorbAdmitted(spark, pinned.where(col("verdict") === Admit), t, cfg)
    } else {
      // replay after the store committed: verdicts are already
      // delivered and MUST NOT be recomputed against the (possibly
      // partially) absorbed corpus — re-run only the absorb, which
      // is replay-tolerant per gate (see the object doc)
      absorbFor(spark, batch.localCheckpoint(true), store, t, cfg)
    }
    dials.maybeCompactAll(spark): Unit
    val ledger = ledgerPath(stateDir, batchId)
    java.nio.file.Files.createDirectories(ledger.getParent)
    try java.nio.file.Files.createFile(ledger): Unit
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    stored(spark, store, batch)
  }

  private def absorbFor(spark: SparkSession, pinned: DataFrame, store: String,
                        t: AdmissionTables, cfg: AdmissionConfig): Unit = {
    val admitted = pinned.join(
      stored(spark, store, pinned).where(col("verdict") === Admit).select("doc_id"),
      Seq("doc_id"))
    absorbAdmitted(spark, admitted, t, cfg)
  }

  /** Wire a streaming source of `(doc_id, text, embedding)` through
    * [[processBatch]] with a checkpoint — kill/resume replays the
    * uncommitted batch into the ledger logic above. The verdict
    * parquet under `stateDir/verdicts/` IS the exactly-once output
    * stream (one directory per batch id). */
  def start(stream: DataFrame, spark: SparkSession, t: AdmissionTables,
            dials: AdmissionDials, stateDir: String, checkpointDir: String,
            cfg: AdmissionConfig = AdmissionConfig()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        processBatch(spark, b, id, t, dials, stateDir, cfg): Unit
      }
      .start()
}
