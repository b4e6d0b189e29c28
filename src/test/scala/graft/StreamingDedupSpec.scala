package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.DedupOps
import graft.streaming.{CompactionDial, StreamingDedup}

class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  test("narrow per-row signature is bit-identical to the batch signature table") {
    // batch and stream share one producer, so the independent side is
    // the explode→groupBy reference, for both presets
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    for (p <- Seq(DedupOps.defaultParams, DedupOps.scaleParams)) {
      val narrow = StreamingDedup.withSignature(docs, p)
        .select(col("doc_id"), col("__sig"))
        .as[(Long, Seq[Long])].collect().toMap
      val wide = DedupOps.signaturesFrom(DedupOps.shinglesOf(docs), p).collect()
        .map(r => r.getLong(0) -> (1 to p.numHashes).map(r.getLong)).toMap
      assert(narrow.keySet == wide.keySet,
        "narrow path must keep exactly the docs the batch path signs")
      narrow.foreach { case (d, sig) =>
        assert(sig == wide(d), s"doc $d narrow signature diverges from batch at h${p.numHashes}")
      }
    }
  }

  test("narrow signature drops only sub-bigram docs and never shuffles") {
    val tiny = Seq((1L, "solo"), (2L, ""), (3L, "two tokens")).toDF("doc_id", "text")
    val out = StreamingDedup.withSignature(tiny)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(3L))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"narrow signature shuffled:\n$plan")
  }

  test("null text yields a null signature and is dropped (intentional post-§47 contract, ADVICE r16)") {
    // the pre-§47 case-when form let a null-text row flow on with an
    // all-NULL signature array; the native MinHashSig propagates the
    // null so withSignature drops the row with the other unsignables —
    // a null document cannot near-duplicate anything
    val rows = Seq((1L, null: String), (2L, "two tokens here"))
      .toDF("doc_id", "text")
    val all = DedupOps.withSignatureAll(rows)
    assert(all.where(col("doc_id") === 1L).select("__sig")
      .collect()(0).isNullAt(0), "null text must carry a null __sig")
    assert(StreamingDedup.withSignature(rows)
      .select("doc_id").as[Long].collect().toSet == Set(2L),
      "null-text row must be dropped by withSignature")
  }

  test("floor-keyed dial re-keys its threshold off the measured post-compaction floor (VERDICT r16 #1)") {
    // injected counts replaying the r16 soak's geometry (PERF §48):
    // staged baseline 2,048 files, post-compaction floor ~3,200
    val dial = new CompactionDial("t", StreamingDedup.postingKey, 2048, filesFactor = 4.0)
    assert(dial.currentFloor == 2048 && dial.threshold == 8192.0)
    assert(!dial.shouldFire(8192) && dial.shouldFire(8193))
    // fired at 8,193 files, landed 3,200: a 2.6× shrink, adopted
    dial.rekey(3200, preCompactionFiles = 8193)
    assert(dial.currentFloor == 3200 && dial.threshold == 12800.0)
    // the stateless dial keeps firing at 8,193 forever from here;
    // the floor-keyed threshold restores (factor−1) × actual-floor
    assert(!dial.shouldFire(8193))
    assert(dial.shouldFire(12801))
    // a freak low landing never drags the floor under the baseline
    dial.rekey(100, preCompactionFiles = 12801)
    assert(dial.currentFloor == 2048)
    assert(dial.rejectedLandings == 0, "healthy landings are never rejected")
  }

  test("rekey guard rejects an ineffective landing and disarms after a storm (VERDICT r17 #1, r18 #3)") {
    // injected counts replaying the r17 soak's ratchet: the defective
    // rewrite landed 2,572 files from 4,115 over a 2,048 baseline
    // (factor 2.0 → threshold 4,096) and "latest measurement wins"
    // adopted it — compounding 1.32× per cycle to 13,783 files. The
    // guard refuses any landing above BOTH half the pre-compaction
    // count and the staged baseline: the floor stays put, the
    // rejection is counted, and the dial keeps firing at the
    // unratcheted cadence until the disarm bound.
    val dial = new CompactionDial("t", StreamingDedup.postingKey, 2048, filesFactor = 2.0)
    assert(dial.threshold == 4096.0 && dial.rejectedLandings == 0)
    dial.rekey(2572, preCompactionFiles = 4115)
    assert(dial.currentFloor == 2048,
      "a pathological landing must not ratchet the floor")
    assert(dial.threshold == 4096.0)
    assert(dial.rejectedLandings == 1 && !dial.disarmed)
    // a healthy post-fix landing (≤ buckets files) is adopted, clamped
    // at the staged baseline — and resets the consecutive-rejection run
    dial.rekey(64, preCompactionFiles = 4115)
    assert(dial.currentFloor == 2048 && dial.rejectedLandings == 1)
    // three consecutive ineffective landings disarm the dial: a
    // rewrite that provably doesn't shrink the table must not re-fire
    // a full-table write on every subsequent batch
    (1 to 3).foreach(_ => dial.rekey(4000, preCompactionFiles = 4115))
    assert(dial.rejectedLandings == 4 && dial.disarmed,
      "3 consecutive rejections must disarm the dial")
    // explicit operator re-arm (ADVICE r19): the consecutive counter
    // resets, the lifetime rejection total does not, and the dial
    // fires again at the unratcheted cadence
    dial.rearm("spec: racing absorb removed")
    assert(!dial.disarmed && dial.rejectedLandings == 4,
      "rearm must reset the consecutive run but keep the lifetime count")
    assert(dial.shouldFire(4097), "a re-armed dial must fire again")
    // rearm on an ARMED dial is a no-op
    dial.rekey(64, preCompactionFiles = 4115)
    dial.rearm("spec: no-op")
    assert(!dial.disarmed && dial.rejectedLandings == 4)
  }

  test("rekey guard adopts a compact-to-baseline landing under filesFactor < 2 (VERDICT r18 #3)") {
    // the r17 guard compared the landing to threshold/2 = (factor/2) ×
    // floor, so for factor 1.6 (threshold 3,277 over a 2,048 baseline)
    // the guard sat at 1,638 — BELOW the baseline — and a genuine
    // compact-to-baseline landing of 2,048 was rejected forever, an
    // every-check full-table rewrite storm. Judged against the
    // pre-compaction count with the staged baseline as an absolute
    // floor, the same landing is adopted.
    val dial = new CompactionDial("t", StreamingDedup.postingKey, 2048, filesFactor = 1.6)
    assert(dial.threshold == 2048 * 1.6)
    // fired just above threshold (3,300 files), landed at the staged
    // baseline: compact by definition, whatever the shrink ratio
    dial.rekey(2048, preCompactionFiles = 3300)
    assert(dial.rejectedLandings == 0,
      "a landing at the staged baseline must never be rejected")
    assert(dial.currentFloor == 2048 && !dial.disarmed)
  }

  test("stream-static admission flags near-dups in flight, passes novel docs silently") {
    // static corpus: two docs
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again"),
      (200L, "an entirely different corpus document about spark plans")
    ).toDF("doc_id", "text")
    val corpusSig = DedupOps.minhashSignaturesOf(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    corpusSig.count()

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = StreamingDedup.nearDupMatches(
        mem.toDF().toDF("doc_id", "text"), corpusSig)
      .writeStream.format("memory").queryName("sd_matches")
      .outputMode("append").start()
    try {
      mem.addData(
        // near-dup of corpus doc 100 (one word changed)
        (1L, "the quick brown fox leaps over the lazy dog again and again"),
        // novel document: must not match anything
        (2L, "completely unrelated text with no shared shingles at all"),
        // byte-identical to corpus doc 200: est_jaccard must be 1.0
        (3L, "an entirely different corpus document about spark plans"))
      q.processAllAvailable()
      val out = spark.table("sd_matches")
        .select("new_id", "corpus_id", "est_jaccard")
        .as[(Long, Long, Double)].collect()
      val byNew = out.groupBy(_._1)
      assert(byNew.contains(1L), s"near-dup not flagged: ${out.mkString(",")}")
      assert(byNew(1L).forall(_._2 == 100L))
      assert(!byNew.contains(2L), "novel doc must not match")
      assert(byNew(3L).exists(m => m._2 == 200L && m._3 == 1.0),
        s"exact twin must match with est 1.0: ${out.mkString(",")}")

      // stateful dedup: replaying the same docs must not re-emit pairs
      val before = spark.table("sd_matches").count()
      mem.addData((1L, "the quick brown fox leaps over the lazy dog again and again"))
      q.processAllAvailable()
      assert(spark.table("sd_matches").count() == before,
        "recurring pair re-emitted despite stateful dedup")
    } finally {
      q.stop()
      corpusSig.unpersist()
      spark.sql("DROP TABLE IF EXISTS sd_matches")
    }
  }

  test("bucketed corpus posting table: identical matches, zero corpus-side exchange") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val batch = docs.where(expr("doc_id % 10 = 7"))
    val corpusSig = DedupOps.minhashSignaturesOf(
      docs.where(expr("NOT (doc_id % 10 = 7)")))
    val table = "sd_corpus_bands"
    StreamingDedup.stageCorpusBands(spark, corpusSig, table, buckets = 8)
    try {
      val bucketed = StreamingDedup.nearDupMatchesBucketed(batch, spark, table)
      val plain = StreamingDedup.nearDupMatches(batch, corpusSig)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("new_id", "corpus_id", "est_jaccard")
          .as[(Long, Long, Double)].collect().toSet
      assert(pairs(bucketed) == pairs(plain),
        "bucketed probe must reproduce the plain stream-static matches")
      // plan shape: force the sort-merge path (a broadcast would hide
      // the property under test) and require the corpus scan to be
      // bucket-aligned with NO exchange anywhere on its side — only
      // the probe (micro-batch) side may shuffle
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "-1")
      try {
        val plan = StreamingDedup.nearDupMatchesBucketed(batch, spark, table)
          .queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"),
          s"corpus posting scan must read its buckets:\n$plan")
        // the probe (stream) side shuffles into the bucket count; the
        // corpus side must join IN PLACE — no exchange on its key ever
        // (the only other exchange is dropDuplicates over the already-
        // filtered match set, which is fine at any corpus size)
        assert("Exchange hashpartitioning\\(bk#".r.findAllIn(plan).size == 1,
          s"probe side must shuffle to the corpus bucketing:\n$plan")
        assert(!plan.contains("Exchange hashpartitioning(cbk"),
          s"corpus side must never be exchanged:\n$plan")
      } finally spark.conf.set(key, prev)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("compaction dial fires on the file-count trigger, preserves matches and layout (r16)") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val batch = docs.where(expr("doc_id % 10 = 7"))
    val corpusSig = DedupOps.minhashSignaturesOf(
      docs.where(expr("NOT (doc_id % 10 = 7)")))
    val table = "sd_compact_bands"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val baseline = StreamingDedup.stageCorpusBands(spark, corpusSig, table, buckets = 8)
    try {
      assert(baseline > 0, "stageCorpusBands must report the staged file count")
      // absorb two admitted batches, the way the admission loop appends
      val p = DedupOps.defaultParams
      (1 to 2).foreach { i =>
        val extraSig = DedupOps.minhashSignaturesOf(
          docs.where(expr(s"doc_id % 10 = $i"))
            .select((col("doc_id") + lit(1000000L * i)).as("doc_id"), col("text")))
        extraSig.withColumnRenamed("doc_id", "corpus_id")
          .withColumn("cbk", explode(expr(DedupOps.bandArrayExpr(p))))
          .select(col("cbk"), col("corpus_id"), col("__sig").as("__csig"))
          .write.mode("append").bucketBy(8, "cbk").sortBy("cbk")
          .format("parquet").saveAsTable(table)
      }
      val grown = StreamingDedup.postingFileCount(spark, table)
      assert(grown > baseline, "appends must grow the file count")
      def pairs() = StreamingDedup.nearDupMatchesBucketed(batch, spark, table)
        .select("new_id", "corpus_id", "est_jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val before = pairs()
      assert(before.nonEmpty, "fixture must produce matches")
      // injected threshold just below the current growth -> fires
      val factor = math.max(1.0, grown.toDouble / baseline * 0.9)
      val first = new CompactionDial(table, StreamingDedup.postingKey, baseline, factor,
        buckets = 8)
      assert(first.maybeCompact(spark),
        s"dial must fire at $grown files vs threshold ${first.threshold}")
      // LANDING BOUND (VERDICT r17 #1): the pinned-bucketed-scan
      // rewrite writes one file per bucket — the r17 defect (landing
      // ∝ input file count via the elided repartition + reverted
      // bucketed scan) landed ~0.25 × input here and grew per cycle
      val landedFirst = StreamingDedup.postingFileCount(spark, table)
      assert(landedFirst <= 8,
        s"rewrite must land at <= buckets files, got $landedFirst")
      // the swap leaves no side/old tables behind
      assert(!spark.catalog.tableExists(s"${table}__compacting") &&
        !spark.catalog.tableExists(s"${table}__old"),
        "rewrite must clean up its swap tables")
      assert(pairs() == before, "compaction must preserve match parity")
      // bucketed layout survives the rewrite: corpus side still reads
      // its buckets in place under forced sort-merge
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "-1")
      try {
        val plan = StreamingDedup.nearDupMatchesBucketed(batch, spark, table)
          .queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"), s"bucket layout lost:\n$plan")
        assert(!plan.contains("Exchange hashpartitioning(cbk"),
          s"corpus side exchanged after compaction:\n$plan")
      } finally spark.conf.set(key, prev)
      // below threshold now -> no-op
      assert(!new CompactionDial(table, StreamingDedup.postingKey, baseline, 1000.0, buckets = 8)
        .maybeCompact(spark))
      // FLOOR-KEYED dial end-to-end on the same table (VERDICT r16 #1):
      // regrow it, fire through maybeCompact, observe the re-key to the
      // measured landing, and the very next check is a no-op
      (3 to 4).foreach { i =>
        val extraSig = DedupOps.minhashSignaturesOf(
          docs.where(expr(s"doc_id % 10 = $i"))
            .select((col("doc_id") + lit(1000000L * i)).as("doc_id"), col("text")))
        extraSig.withColumnRenamed("doc_id", "corpus_id")
          .withColumn("cbk", explode(expr(DedupOps.bandArrayExpr(p))))
          .select(col("cbk"), col("corpus_id"), col("__sig").as("__csig"))
          .write.mode("append").bucketBy(8, "cbk").sortBy("cbk")
          .format("parquet").saveAsTable(table)
      }
      val regrown = StreamingDedup.postingFileCount(spark, table)
      val beforeDial = pairs() // appends 3-4 may add legitimate matches
      val dial = new CompactionDial(table, StreamingDedup.postingKey, baseline,
        math.max(1.0, regrown.toDouble / baseline * 0.9), buckets = 8)
      assert(dial.currentFloor == baseline, "dial starts keyed to the staged baseline")
      assert(dial.maybeCompact(spark), "dial must fire on the regrown table")
      val landed = StreamingDedup.postingFileCount(spark, table)
      assert(landed <= 8, s"dial rewrite must land at <= buckets files, got $landed")
      assert(dial.currentFloor == math.max(baseline, landed),
        s"dial must re-key to the measured landing ($landed), got ${dial.currentFloor}")
      assert(dial.rejectedLandings == 0,
        "a healthy landing must be adopted, not rejected")
      assert(!dial.maybeCompact(spark), "freshly compacted table must not re-fire")
      assert(pairs() == beforeDial, "floor-keyed compaction must preserve match parity")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}__compacting")
      spark.sql(s"DROP TABLE IF EXISTS ${table}__old")
    }
  }

  test("admission heap guard warns only above the documented bound (VERDICT r16 #6)") {
    import graft.tools.AdmissionPipelineSoak.{heapWarning, maxRecommendedHeapBytes}
    assert(heapWarning(16L << 30).isEmpty, "repo-standard 16 GiB is the flat profile")
    assert(heapWarning(maxRecommendedHeapBytes).isEmpty, "bound itself is inclusive")
    val w = heapWarning(100L << 30)
    assert(w.exists(_.contains("100 GiB")), s"oversized heap must warn: $w")
  }

  test("admission agrees with the batch incremental verdicts at est level") {
    // run the batch-side q61 candidates through the streaming operator
    // in batch mode: every dup_exact/dup_near doc whose est clears the
    // threshold must surface, with the same corpus partner available
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val batch = docs.where(expr("doc_id % 10 = 7"))
    val corpusSig = DedupOps.minhashSignaturesOf(
      docs.where(expr("NOT (doc_id % 10 = 7)")))
    val got = StreamingDedup.nearDupMatches(batch, corpusSig)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    val verdicts = DedupOps.incrementalDedup(spark, sf)
      .where(col("verdict") === "dup_exact")
      .select("doc_id", "match_id").as[(Long, Long)].collect()
    // exact dups agree on the partner at est level (est_jaccard = 1)
    verdicts.foreach { case (d, m) =>
      assert(got.contains((d, m)),
        s"batch dup_exact ($d,$m) missing from streaming admission")
    }
  }
}
