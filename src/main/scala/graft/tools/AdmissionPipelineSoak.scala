package graft.tools

import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.{AdmissionConfig, AdmissionPipeline, AdmissionTables}

/** Sustained soak for the COMPOSED admission pipeline — the
  * three-gate foreachBatch loop (lexical + span + semantic verdicts,
  * shared absorb, one dial set, verdict-store + ledger) under the
  * §56/§61 drive shape: does the composed per-batch wall stay flat
  * while all three posting tables absorb admitted documents?
  *
  * Corpus: documents ⋈ embeddings on id (one embedding per doc).
  * Each batch is four quarters, one per verdict class:
  *   - lexical dups: corpus text verbatim, decorrelated embedding;
  *   - span dups: 15 corpus tokens + batch-salted filler (over the
  *     50 pm cap, far under the minhash est threshold);
  *   - semantic dups: batch-salted filler text, corpus embedding
  *     verbatim (the paraphrase case);
  *   - novel: batch-salted filler text, per-batch sign-decorrelated
  *     embedding (absorbed — the corpus the next batches probe).
  * Quarter membership is hash-split; filler text and flip patterns
  * vary per batch (a repeated pattern would — correctly — flag later
  * batches as dups of earlier admissions, see [[flipSign]]).
  *
  * Per batch: the FULL [[AdmissionPipeline.processBatch]] wall
  * (probe ×3 + verdict store + absorb ×3 + dial checks + ledger),
  * verdict-class counts; summary: p50/p90/p99/max, per-100 windows,
  * per-table file counts, compactions, rejected landings.
  *
  * Usage: runMain graft.tools.AdmissionPipelineSoak <sfDir>
  *          [nBatches] [batchSize] [filesFactor]
  *        (defaults 100, 1000, 2.0; SPARK_GRAFT_MASTER=
  *        local-cluster[2,4,4096] for the real-scheduler run)
  */
object AdmissionPipelineSoak {

  /** Heap-sizing tripwire (VERDICT r16 #6): the r16 soak's first
    * attempt ran at -Xmx100g and showed 40–131 s batch spikes from
    * batch ~86 on — G1 at oversized heaps grows multi-GB young
    * generations whose evacuation pauses land exactly like contention
    * spikes; the identical soak at the repo-standard 16 GiB was flat
    * (max 6.3 s over 431 batches, zero organic full GCs). PERF §48.
    * Admission-gate latency contracts assume a BOUNDED heap: warn at
    * startup when the JVM exceeds this documented bound. */
  private[graft] val maxRecommendedHeapBytes: Long = 32L << 30

  private[graft] def heapWarning(maxHeapBytes: Long): Option[String] =
    if (maxHeapBytes <= maxRecommendedHeapBytes) None
    else Some(f"max heap ${maxHeapBytes / (1L << 30)} GiB exceeds the " +
      f"${maxRecommendedHeapBytes / (1L << 30)} GiB admission-workload bound: " +
      "G1 young-gen evacuation pauses at oversized heaps land as " +
      "multi-10-s batch spikes (PERF §48); run admission JVMs at ~16 GiB")

  /** Deterministic per-(batch, dim) sign — two avalanche rounds, so
    * every batch's flip pattern is independent of every other's (a
    * small-modulus pattern family would cycle and flag later batches'
    * novel vectors as dups of earlier admissions). */
  private def flipSign(b: Int, d: Int): Double = {
    var h = d * 1103515245 + b * 747796405 + 0x51ed270b
    h = (h ^ (h >>> 15)) * 0x85ebca6b
    h = h ^ (h >>> 13)
    if ((h & 1) == 0) 1.0 else -1.0
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: AdmissionPipelineSoak <sfDir> [nBatches] [batchSize] [filesFactor]")
    val sfDir = args(0)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(100)
    val batchSize = args.lift(2).map(_.toLong).getOrElse(1000L)
    val filesFactor = args.lift(3).map(_.toDouble).getOrElse(2.0)
    heapWarning(Runtime.getRuntime.maxMemory())
      .foreach(w => println(s"[psoak][warn] $w"))
    val spark = graft.GraftSession.local("admission-pipeline-soak")

    val t = AdmissionTables("psoak_bands", "psoak_spans", "psoak_vecs")
    Seq(t.bands, t.spans, t.vectors).foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS $n"): Unit
      val warehouse = new java.io.File(
        java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir")).getPath)
      Option(warehouse.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(n))
        .foreach { d =>
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory)
              Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
            f.delete(): Unit
          }
          rm(d)
        }
    }
    val cfg = AdmissionConfig(maxSpanPm = 50, minCos = 0.8, filesFactor = filesFactor)

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"),
        col("embedding").cast("array<double>").as("embedding"))
    val corpus = docs.join(vecs, "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nCorpus = corpus.count()
    val t0 = System.nanoTime()
    val dials = AdmissionPipeline.stageCorpus(
      spark, corpus.select("doc_id", "text"), corpus.select("doc_id", "embedding"),
      t, cfg)
    println(f"[psoak] staged 3 tables from $nCorpus docs in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s (thresholds: " +
      f"bands ${dials.bands.threshold}%.0f spans ${dials.spans.threshold}%.0f " +
      f"vecs ${dials.vectors.threshold}%.0f)")
    val stateDir = java.nio.file.Files.createTempDirectory("psoak_state").toString

    val m = math.max(1L, nCorpus / math.max(batchSize, 1L))
    val latencies = new Array[Double](nBatches)
    val classTotals = scala.collection.mutable.LinkedHashMap(
      "admit" -> 0L, "dup_lexical" -> 0L, "dup_span" -> 0L, "dup_semantic" -> 0L)
    (0 until nBatches).foreach { b =>
      val slice = corpus.where(pmod(col("doc_id"), lit(m)) === lit(b % m))
        .withColumn("__q", pmod(xxhash64(col("doc_id"), lit(b)), lit(4)))
      val flips = Array.tabulate(64)(d => flipSign(b, d))
      val filler = (lo: Int, hi: Int) => concat_ws(" ",
        expr(s"transform(sequence($lo, $hi), i -> concat('nv', doc_id, 'b$b', 'x', i))"))
      def renumber(offset: Long) = (col("doc_id") + lit(offset) + lit(b) * 1000000L)
      val lexDup = slice.where(col("__q") === 0)
        .select(renumber(10000000000L).as("doc_id"), col("text"),
          zip_with(col("embedding"), lit(flips), (x, s) => x * s).as("embedding"))
      val spanDup = slice.where(col("__q") === 1)
        .select(renumber(20000000000L).as("doc_id"),
          concat_ws(" ",
            concat_ws(" ", slice_fn(col("text"))), filler(1, 85)).as("text"),
          zip_with(col("embedding"), lit(flips.map(-_)), (x, s) => x * s).as("embedding"))
      val semDup = slice.where(col("__q") === 2)
        .select(renumber(30000000000L).as("doc_id"),
          filler(1, 50).as("text"), col("embedding"))
      val novel = slice.where(col("__q") === 3)
        .select(renumber(40000000000L).as("doc_id"),
          filler(51, 100).as("text"),
          zip_with(col("embedding"), lit(flips), (x, s) => x * s).as("embedding"))
      val batch = lexDup.unionByName(spanDup).unionByName(semDup).unionByName(novel)
        .localCheckpoint(true)
      val s0 = System.nanoTime()
      val verdicts = AdmissionPipeline.processBatch(
        spark, batch, b.toLong, t, dials, stateDir, cfg)
      val counts = verdicts.groupBy("verdict").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      latencies(b) = (System.nanoTime() - s0) / 1e9
      counts.foreach { case (k, v) => classTotals(k) = classTotals.getOrElse(k, 0L) + v }
      println(f"[psoak] batch $b%3d wall=${latencies(b)}%.3f s " +
        s"admit=${counts.getOrElse("admit", 0L)} " +
        s"lex=${counts.getOrElse("dup_lexical", 0L)} " +
        s"span=${counts.getOrElse("dup_span", 0L)} " +
        s"sem=${counts.getOrElse("dup_semantic", 0L)}")
      spark.catalog.clearCache()
    }
    val sorted = latencies.sorted
    def pct(p: Double) = sorted(math.min(sorted.length - 1,
      math.ceil(p * sorted.length).toInt - 1))
    val first10 = latencies.take(10).sum / math.min(10, latencies.length)
    val last10 = latencies.takeRight(10).sum / math.min(10, latencies.length)
    println(f"[psoak] summary n=$nBatches batchSize=$batchSize " +
      f"p50=${pct(0.50)}%.3f p90=${pct(0.90)}%.3f p99=${pct(0.99)}%.3f " +
      f"max=${sorted.last}%.3f s first10mean=$first10%.3f last10mean=$last10%.3f")
    println(s"[psoak] verdicts ${classTotals.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    dials.all.foreach { d =>
      println(f"[psoak] dial ${d.table} floor=${d.currentFloor} " +
        f"threshold=${d.threshold}%.0f rejected=${d.rejectedLandings} disarmed=${d.disarmed} " +
        s"files=${graft.streaming.StreamingDedup.postingFileCount(spark, d.table)}")
    }
    latencies.grouped(50).zipWithIndex.foreach { case (w, i) =>
      if (w.length >= 20) {
        val ws = w.sorted
        def wp(p: Double) = ws(math.min(ws.length - 1,
          math.ceil(p * ws.length).toInt - 1))
        println(f"[psoak] window ${i * 50}%4d..${i * 50 + w.length - 1}%4d " +
          f"p50=${wp(0.50)}%.3f p90=${wp(0.90)}%.3f p99=${wp(0.99)}%.3f s")
      }
    }
    spark.stop()
  }

  /** First 15 tokens of `text` as an array column. */
  private def slice_fn(text: org.apache.spark.sql.Column) =
    slice(split(text, " "), 1, 15)
}
