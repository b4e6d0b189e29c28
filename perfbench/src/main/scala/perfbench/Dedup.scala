package perfbench

import java.nio.file.{Files, Paths}

import graft.operators.DedupOps
import graft.tools.MakeScaleData

/** `dedup`: `DedupOps.stageAll` into a fresh staging root, then the
  * staged consumer queries reading it, in graft.Bench's order; one
  * closed-loop client. The pass runs in a fresh JVM, as a batch job
  * does; after it the queries run once more over its staging root, for
  * twice the latency samples. The corpus is the generated documents and
  * embeddings replicated [[k]] times by `graft.tools.MakeScaleData`. */
object Dedup {
  /** Scale factor of the generated base tables. */
  val sf = 0.0025
  /** Corpus replication factor. */
  val k = 2

  /** Generate the base documents and embeddings (the only tables the
    * dedup chains read), then write their K-fold replication. */
  def writeCorpus(ctx: Ctx, dir: String, sf: Double, k: Int): Unit = {
    val base = dir + "-base"
    Gen.writeTables(ctx.spark, base, ctx.seed, sf, only = Set("documents", "embeddings"))
    MakeScaleData.scaledDocuments(ctx.spark, base, k).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    MakeScaleData.scaledEmbeddings(ctx.spark, base, k).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Bytes of all files under `dir`. */
  def bytesUnder(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  def run(ctx: Ctx): Outcome = {
    val setups = (1 to 3).map { i =>
      val t0 = Clock.nowMs
      writeCorpus(ctx, ctx.dir(s"corpus-$i"), sf, k)
      (Clock.nowMs - t0) / 1e3
    }
    Main.log(s"setup ${setups.mkString(" ")}")
    val dir = ctx.dir("corpus-3")
    val q = new Queries(ctx)
    val chains = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    val stageWalls = scala.collection.mutable.ArrayBuffer[(Double, Double, Long)]()
    var root = ""
    val passes = Passes.loop(ctx, minPasses = 1) { i =>
      root = ctx.dir(s"staging-$i")
      DedupOps.withStagingRoot(Some(root)) {
        val t0 = Clock.nowMs
        chains += ctx.tracer.span("staging", "stageAll")(DedupOps.stageAll(ctx.spark, dir))
        stageWalls += ((t0, Clock.nowMs, bytesUnder(root)))
        // a fixed order, so the same queries pay the cold JVM's first-use
        // costs in every run
        Queries.staged.map(q.run(_, dir))
      }
    } { (a, b, execs) =>
      val (s0, s1, bytes) = stageWalls.last
      val rec = ctx.recorder.get
      val staging = ExecTotals.of(rec.allJobs.filter(j =>
        j.group.startsWith("graft-stage-") && j.startMs >= math.floor(s0) && j.startMs < s1))
      Passes.queryLayers(ctx, s1, b, execs) ++ Map(
        "staging.stage_s" -> (s1 - s0) / 1e3,
        "staging.chain_max_s" -> chains.last.values.maxOption.getOrElse(0.0),
        "staging.jobs" -> staging.jobs.toDouble,
        "staging.cpu_s" -> staging.cpuS,
        "staging.run_s" -> staging.runS,
        "staging.core_busy_frac" -> staging.runS / ((s1 - s0) / 1e3 * ctx.cores),
        "staging.shuffle_write_bytes" -> staging.shuffleWriteBytes.toDouble,
        "staging.spill_bytes" -> staging.spillBytes.toDouble,
        "staging.bytes_written" -> bytes.toDouble)
    }
    // a second round of the queries: 26 samples, enough for a median
    val again = if (ctx.traced) Nil else DedupOps.withStagingRoot(Some(root)) {
      Queries.staged.map(q.run(_, dir))
    }
    val oracle = q.oracleChecks()
    val walls = (passes.filterNot(_.traced).flatMap(_.execs) ++ again).map(_.wallMs)
    val docs = Gen.sizes(sf).documents * k
    Outcome(q.attempted, q.failed,
      endToEnd = Metrics.endToEnd(setups, Stats.median(passes.filterNot(_.traced).map(_.wallS)), walls,
        walls.size / (walls.sum / 1e3)),
      layers = Passes.layerMetrics(ctx, passes),
      report = Seq(
        "k" -> k, "sf" -> sf, "documents" -> docs, "passes" -> passes.size,
        "query_executions" -> walls.size, "tail_percentile" -> Stats.tailPercentile(walls.size),
        "setup_runs_s" -> setups, "pass_walls_s" -> passes.map(_.wallS),
        "query_ms" -> (passes.flatMap(_.execs) ++ again).map(e => e.name -> e.wallMs),
        "stage_walls_s" -> stageWalls.map { case (a, b, _) => (b - a) / 1e3 }.toSeq,
        "stage_chains_s" -> chains.lastOption.getOrElse(Map.empty)),
      oracle = oracle,
      errors = q.errors.toSeq)
  }
}
