package perfbench

import org.apache.spark.sql.functions.col

import graft.streaming.{AdmissionConfig, AdmissionPipeline, AdmissionTables, StreamingDedup}

/** `admission`: the composed `AdmissionPipeline.processBatch` loop —
  * lexical, span and semantic probes, verdict store, absorb and
  * compaction dials — over documents joined with their embeddings, one
  * closed-loop client. A pass stages the three posting tables from the
  * corpus (`stageCorpus`), then processes batches. Every batch plants
  * the soak's four classes in equal quarters (lexical twin, span copy,
  * semantic twin, novel); the verdicts must equal the planted classes. */
object Admission {
  /** Scale factor of the generated corpus. */
  val sf = 0.01
  val batchSize = 48
  /** Batches in the fixed part of the pass; more run while time is left. */
  val minBatches = 6
  /** The first batches warm the probe and absorb paths: they are checked
    * but left out of the batch latency and throughput figures. Two, so
    * that the measured batches start on a batch that does not compact
    * and alternate evenly with those that do. */
  val warmup = 2
  /** A span copy is one span-length window of a corpus document
    * followed by 400 fresh tokens, flagged by any reproduced window
    * (`maxSpanPm` 0). The soak's shape (15 corpus tokens, 85 fresh ones,
    * 50 per mille) lets the 8-hash minhash estimate call about one span
    * copy in 90 a lexical twin on this 30-word corpus (29 of 2,500 over
    * five seeds, against none of 2,500 with this shape): here the bigram
    * Jaccard with the source stays under 0.02. */
  val spanTokens: Int = graft.streaming.StreamingSpanGate.defaultSpanLen
  val spanFiller = 400
  /** Cosine 0.8 as in the soak; 8 buckets per posting table instead of
    * the default 64, which doubles the batch wall at this corpus size. */
  val cfg = AdmissionConfig(maxSpanPm = 0, minCos = 0.8, buckets = 8)

  def tables(tag: String): AdmissionTables =
    AdmissionTables(s"pb_${tag}_bands", s"pb_${tag}_spans", s"pb_${tag}_vecs")

  /** The generated corpus: documents joined with their embeddings. */
  def corpus(ctx: Ctx, dir: String) = {
    val docs = graft.Tables.documents(ctx.spark, dir).select("doc_id", "text")
    val vecs = graft.Tables.embeddings(ctx.spark, dir)
      .select(col("vec_id").as("doc_id"), col("embedding").cast("array<double>").as("embedding"))
    docs.join(vecs, "doc_id")
  }

  final case class BatchRun(index: Int, traced: Boolean, startMs: Double, endMs: Double,
                            docs: Int, wrong: Seq[String]) {
    def wallMs: Double = endMs - startMs
  }

  def run(ctx: Ctx): Outcome = {
    import ctx.spark.implicits._
    val setups = (1 to 3).map { i =>
      val t0 = Clock.nowMs
      Gen.writeTables(ctx.spark, ctx.dir(s"corpus-$i"), ctx.seed, sf,
        only = Set("documents", "embeddings"))
      (Clock.nowMs - t0) / 1e3
    }
    Main.log(s"setup ${setups.mkString(" ")}")
    val frame = corpus(ctx, ctx.dir("corpus-3"))
    val rows = frame.collect().map(r => Gen.CorpusDoc(r.getLong(0), r.getString(1),
      r.getSeq[Double](2))).sortBy(_.docId).toIndexedSeq
    val t = tables("live")
    val state = ctx.dir("state")

    // the pass: stage the three posting tables, then process batches
    val s0 = Clock.nowMs
    val dials = ctx.tracing(ctx.traced) {
      ctx.tracer.span("streaming", "stageCorpus")(AdmissionPipeline.stageCorpus(ctx.spark,
        frame.select("doc_id", "text"), frame.select("doc_id", "embedding"), t, cfg))
    }
    val stageS = (Clock.nowMs - s0) / 1e3
    Main.log(f"stageCorpus $stageS%.2f s")
    val files = scala.collection.mutable.ArrayBuffer[Int]()
    def postingFiles = Seq(t.bands, t.spans, t.vectors).map(StreamingDedup.postingFileCount(ctx.spark, _)).sum
    files += postingFiles
    val deadline = ctx.deadlineAfter(s0)
    val runs = scala.collection.mutable.ArrayBuffer[BatchRun]()
    // a traced run traces batches in pairs (2-3, 6-7 after the warm-up)
    // so that each side sees compacting and non-compacting batches alike
    val need = if (ctx.traced) warmup + 8 else minBatches
    while (runs.size < need || Clock.nowMs < deadline) {
      val b = runs.size
      val docs = Gen.admissionBatch(ctx.seed, b, batchSize, rows, spanTokens, spanFiller)
      val batch = docs.map(d => (d.docId, d.text, d.embedding)).toDF("doc_id", "text", "embedding")
      val traced = ctx.traced && b >= warmup && (b - warmup) % 4 < 2
      val t0 = Clock.nowMs
      val got = ctx.tracing(traced) {
        ctx.tracer.span("harness", s"pass batch $b") {
          ctx.tracer.span("streaming", s"processBatch $b") {
            AdmissionPipeline.processBatch(ctx.spark, batch, b.toLong, t, dials, state, cfg)
              .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
          }
        }
      }
      val t1 = Clock.nowMs
      val wrong = docs.filter(d => !got.get(d.docId).contains(d.expected))
        .map(d => s"batch $b doc ${d.docId}: verdict ${got.get(d.docId)} planted ${d.expected}")
      runs += BatchRun(b, traced, t0, t1, docs.size, wrong)
      files += postingFiles
    }
    Main.log(f"${runs.size} batches, p50 ${Stats.median(runs.map(_.wallMs))}%.0f ms")

    val walls = runs.drop(warmup).map(_.wallMs).toSeq
    val q = math.max(1, walls.size / 4)
    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      val tr = runs.drop(warmup).filter(_.traced)
      val rec = ctx.recorder.get
      val perBatch = tr.map(r => ExecTotals.of(rec.jobsIn(r.startMs, r.endMs)))
      val roots = ctx.spans.filter(s => s.layer == "harness" && s.name.startsWith("pass batch ")).map(_.id).toSet
      Map(
        "streaming.jobs_per_batch" -> Stats.median(perBatch.map(_.jobs.toDouble)),
        "streaming.cpu_s" -> Stats.median(perBatch.map(_.cpuS)),
        "streaming.shuffle_write_bytes" -> Stats.median(perBatch.map(_.shuffleWriteBytes.toDouble)),
        "streaming.posting_files" -> files.last.toDouble,
        "streaming.compactions" -> files.sliding(2).count(w => w.size == 2 && w(1) < w(0)).toDouble,
        "streaming.batch_growth" -> Stats.median(walls.takeRight(q)) / Stats.median(walls.take(q)),
        "trace.pass_wall_s" -> tr.map(_.wallMs).sum / 1e3,
        "trace.overhead_s" -> (Stats.median(tr.map(_.wallMs)) -
          Stats.median(runs.drop(warmup).filterNot(_.traced).map(_.wallMs))) / 1e3,
        "exec.core_busy_frac" -> tr.map(r => ExecTotals.of(rec.jobsIn(r.startMs, r.endMs)).runS).sum /
          (tr.map(_.wallMs).sum / 1e3 * ctx.cores)) ++
        Metrics.exec(ExecTotals.of(tr.flatMap(r => rec.jobsIn(r.startMs, r.endMs)).toSeq)) ++
        ctx.selfTimes(roots, 1)
    }
    val docs = runs.map(_.docs).sum
    val wrong = runs.flatMap(_.wrong)
    Outcome(docs.toLong, wrong.size.toLong,
      endToEnd = Metrics.endToEnd(setups, stageS + runs.take(minBatches).map(_.wallMs).sum / 1e3,
        walls, runs.drop(warmup).map(_.docs).sum / (walls.sum / 1e3)),
      layers = layers,
      report = Seq("batches" -> runs.size, "batch_size" -> batchSize, "corpus_docs" -> rows.size,
        "stage_corpus_s" -> stageS,
        "tail_percentile" -> Stats.tailPercentile(walls.size),
        "batch_walls_ms" -> runs.map(_.wallMs).toSeq,
        "posting_files" -> files.toSeq, "setup_runs_s" -> setups, "sf" -> sf),
      errors = wrong.take(20).toSeq)
  }
}
