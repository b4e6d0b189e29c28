package graft

import org.apache.spark.JobExecutionStatus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{AdmissionConfig, AdmissionPipeline, AdmissionTables}

/** Composed admission (VERDICT r19 stretch #8): one foreachBatch over
  * (doc_id, text, embedding) probing all three staged gates, one
  * verdict frame, shared absorb + dial set, ledger-checkpointed
  * exactly-once per batch. */
class AdmissionPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val t = AdmissionTables("ap_bands", "ap_spans", "ap_vecs")
  private def dropAll(): Unit =
    Seq(t.bands, t.spans, t.vectors).foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))

  /** Corpus docs 100+ paired with embeddings 100+ on a shared id. */
  private def corpusDocs = Tables.documents(spark, sf)
    .where(col("doc_id") >= 100).select("doc_id", "text")
  private def corpusVecs = Tables.embeddings(spark, sf)
    .where(col("vec_id") >= 100)
    .select(col("vec_id").as("doc_id"), col("embedding").cast("array<double>").as("embedding"))

  /** A batch planting one doc per verdict class. */
  private def fixtureBatch(idBase: Long): (org.apache.spark.sql.DataFrame, Map[Long, String]) = {
    val srcText = corpusDocs.where(col("doc_id") === 100)
      .select("text").as[String].collect().head
    val srcVec = corpusVecs.where(col("doc_id") === 142)
      .select("embedding").as[Seq[Double]].collect().head
    // decorrelated sign patterns, VARIED PER BATCH (k): an admitted
    // batch's vectors are absorbed, so a repeated pattern in the next
    // batch would — correctly — flag as a semantic dup of the earlier
    // admission rather than exercise the admit path
    val k = (idBase / 100000L % 7L).toInt
    val novelVec = Seq.tabulate(srcVec.length)(d => if ((d + k) % 2 == 0) 1.0 else -1.0)
    val novelVec2 = Seq.tabulate(srcVec.length)(d => if ((d + k) % 3 == 0) 1.0 else -1.0)
    val novelVec3 = Seq.tabulate(srcVec.length)(d => if ((d + k) % 5 == 0) 1.0 else -1.0)
    val srcTokens = srcText.split(" ")
    // 15 corpus tokens → 8 matched 8-token windows of 93 (~86 pm,
    // over the spec's 50 pm cap) while sharing only ~14 bigram
    // shingles — far under the lexical est threshold even though the
    // synthetic corpus text is repetitive (a 30-token prefix covered
    // enough of doc 100's DISTINCT shingles to trip minhash at 0.5)
    val spanDupText = (srcTokens.take(15) ++
      (1 to 85).map(i => s"novel$idBase~$i")).mkString(" ")
    val novelText = (1 to 50).map(i => s"fresh$idBase~$i").mkString(" ")
    val rows = Seq(
      (idBase + 1, srcText, novelVec),      // lexical twin of corpus 100
      (idBase + 2, spanDupText, novelVec2), // 8/93 windows reproduce corpus spans
      (idBase + 3, novelText, srcVec),      // semantic twin of corpus 142
      (idBase + 4, novelText.replace("fresh", "other"), novelVec3)) // novel
    (rows.toDF("doc_id", "text", "embedding"),
      Map(idBase + 1 -> "dup_lexical", idBase + 2 -> "dup_span",
        idBase + 3 -> "dup_semantic", idBase + 4 -> "admit"))
  }

  private val cfg = AdmissionConfig(maxSpanPm = 50, minCos = 0.8)

  test("composed verdicts: each gate fires on its own class, precedence holds") {
    dropAll()
    val dials = AdmissionPipeline.stageCorpus(spark, corpusDocs, corpusVecs, t, cfg)
    try {
      val (batch, expected) = fixtureBatch(9000000L)
      val got = AdmissionPipeline.verdicts(spark, batch, t, cfg)
        .as[(Long, String)].collect().toMap
      assert(got == expected, s"verdicts diverge: got $got expected $expected")
      assert(dials.all.forall(!_.disarmed))
    } finally dropAll()
  }

  test("processBatch is exactly-once per batch id: ledger short-circuits, store-hit replay never flips verdicts") {
    dropAll()
    val dials = AdmissionPipeline.stageCorpus(spark, corpusDocs, corpusVecs, t, cfg)
    val stateDir = java.nio.file.Files.createTempDirectory("ap_state").toString
    try {
      val (batch, expected) = fixtureBatch(9100000L)
      def postingCount(n: String): Long = spark.table(n).count()

      val v1 = AdmissionPipeline.processBatch(spark, batch, 0L, t, dials, stateDir, cfg)
        .as[(Long, String)].collect().toMap
      assert(v1 == expected)
      val (bands1, spans1, vecs1) =
        (postingCount(t.bands), postingCount(t.spans), postingCount(t.vectors))
      assert(vecs1 > 0 && spans1 > 0)

      // full replay (ledger hit): stored verdicts returned, zero writes
      val v2 = AdmissionPipeline.processBatch(spark, batch, 0L, t, dials, stateDir, cfg)
        .as[(Long, String)].collect().toMap
      assert(v2 == v1, "ledger replay must return the stored verdicts")
      assert(postingCount(t.bands) == bands1 && postingCount(t.spans) == spans1 &&
        postingCount(t.vectors) == vecs1, "ledger replay must absorb nothing")

      // mid-crash replay (store committed, ledger lost): the corpus
      // has ALREADY absorbed the batch — a recompute would flip the
      // admitted doc to a dup of its own absorbed copy; the store hit
      // must skip the recompute and only re-run the absorb
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(stateDir, "ledger", "batch-0"))
      val v3 = AdmissionPipeline.processBatch(spark, batch, 0L, t, dials, stateDir, cfg)
        .as[(Long, String)].collect().toMap
      assert(v3 == v1, "store-hit replay must not recompute (verdict flip)")
      assert(postingCount(t.spans) == spans1,
        "span re-absorb must be a no-op (anti-join idempotence)")
      // band/vector re-absorbs may append duplicates — bounded, and
      // match-invisible through the pair-level dedup:
      val (batch2, expected2) = fixtureBatch(9200000L)
      val v4 = AdmissionPipeline.processBatch(spark, batch2, 1L, t, dials, stateDir, cfg)
        .as[(Long, String)].collect().toMap
      assert(v4 == expected2, "duplicate postings must not change later verdicts")
      // the previously admitted doc is now corpus: its twin gets flagged
      val twinOfAdmitted = Seq((9999999L,
        batch.where(col("doc_id") === 9100004L).select("text").as[String].collect().head,
        Seq.tabulate(64)(d => if (d % 7 == 0) 1.0 else -1.0)))
        .toDF("doc_id", "text", "embedding")
      val v5 = AdmissionPipeline.verdicts(spark, twinOfAdmitted, t, cfg)
        .as[(Long, String)].collect().toMap
      assert(v5(9999999L) == "dup_lexical",
        "absorbed admissions must gate later twins (the absorbing property)")
    } finally dropAll()
  }

  test("streaming e2e: kill/resume on one checkpoint replays into the ledger, dials compact, verdicts exactly-once") {
    dropAll()
    // filesFactor 1.0: every absorb trips the dial — the compaction
    // path runs INSIDE the streaming loop, not just in batch tests
    val tightCfg = cfg.copy(filesFactor = 1.0)
    val dials = AdmissionPipeline.stageCorpus(spark, corpusDocs, corpusVecs, t, tightCfg)
    val stateDir = java.nio.file.Files.createTempDirectory("ap_state2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ap_ckpt").toString
    try {
      implicit val sqlCtx = spark.sqlContext
      val (b1, exp1) = fixtureBatch(9300000L)
      val rows1 = b1.as[(Long, String, Seq[Double])].collect().toSeq

      val mem1 = MemoryStream[(Long, String, Seq[Double])]
      val q1 = AdmissionPipeline.start(
        mem1.toDF().toDF("doc_id", "text", "embedding"),
        spark, t, dials, stateDir, ckpt, tightCfg)
      try { mem1.addData(rows1: _*); q1.processAllAvailable() } finally q1.stop()

      // resume on the SAME checkpoint with a fresh source (the
      // FileKafkaAdmissionSpec shape): the restarted query continues
      // the batch-id sequence; earlier ledger entries stay committed
      val (b2, exp2) = fixtureBatch(9400000L)
      val rows2 = b2.as[(Long, String, Seq[Double])].collect().toSeq
      val mem2 = MemoryStream[(Long, String, Seq[Double])]
      mem2.addData(rows1: _*) // re-offered input (at-least-once source)
      val q2 = AdmissionPipeline.start(
        mem2.toDF().toDF("doc_id", "text", "embedding"),
        spark, t, dials, stateDir, ckpt, tightCfg)
      try { mem2.addData(rows2: _*); q2.processAllAvailable() } finally q2.stop()

      val all = spark.read.parquet(s"$stateDir/verdicts")
        .select("doc_id", "verdict").as[(Long, String)].collect()
      // exactly one verdict row per doc across the restart — the
      // replayed first batch landed on its original batch directory
      assert(all.length == all.map(_._1).distinct.length,
        s"duplicate verdicts across restart: ${all.mkString(",")}")
      val byDoc = all.toMap
      exp1.foreach { case (id, v) => assert(byDoc(id) == v, s"doc $id: ${byDoc(id)} != $v") }
      exp2.foreach { case (id, v) => assert(byDoc(id) == v, s"doc $id: ${byDoc(id)} != $v") }
      // the tight dial compacted at least once and landed sane
      assert(dials.all.forall(d => !d.disarmed && d.rejectedLandings == 0))
      Seq(t.bands, t.spans, t.vectors).foreach { n =>
        val files = graft.streaming.StreamingDedup.postingFileCount(spark, n)
        assert(files <= 3 * tightCfg.buckets,
          s"$n at $files files after compaction — layout defect")
      }
    } finally dropAll()
  }

  /** Jobs started under a fresh job group while `body` runs — the
    * runner's threads inherit the group, so the concurrent absorbs
    * count too. The bus delivers in posting order: once a marker job's
    * start arrives, every job of `body` has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val group = s"ap-jobs-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet(): Unit
          case Some(`marker`) => markerSeen.countDown()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "admission job count", false)
      try body finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.setJobGroup(marker, "listener drain marker", false)
      try spark.range(1).count(): Unit finally spark.sparkContext.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the marker job")
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("one non-compacting processBatch, the collect of its verdicts included, runs at most 15 Spark jobs") {
    // pin, verdicts, store, three absorbs and the caller's collect: the
    // batch is bound by fixed cost per job (PERF §79)
    dropAll()
    val dials = AdmissionPipeline.stageCorpus(spark, corpusDocs, corpusVecs, t, cfg)
    val stateDir = java.nio.file.Files.createTempDirectory("ap_jobs").toString
    try {
      val (batch, expected) = fixtureBatch(9600000L)
      val files = () => dials.all.map(d => graft.streaming.StreamingDedup.postingFileCount(spark, d.table))
      val before = files()
      var got = Map.empty[Long, String]
      val jobs = jobsOf {
        got = AdmissionPipeline.processBatch(spark, batch, 0L, t, dials, stateDir, cfg)
          .as[(Long, String)].collect().toMap
      }
      assert(got == expected, s"verdicts diverge: got $got expected $expected")
      // each table grew by its absorb and sits under its threshold: no dial fired
      val after = files()
      assert(before.zip(after).forall { case (b, a) => a > b }, s"posting files $before -> $after")
      assert(dials.all.zip(after).forall { case (d, n) => n <= d.threshold },
        s"a dial was over its threshold: $after")
      assert(jobs <= 15, s"$jobs Spark jobs for one admission batch, budget 15")
    } finally dropAll()
  }

  test("a repeated doc_id: every row takes the doc's verdict and every admitted row's postings are absorbed") {
    dropAll()
    val dials = AdmissionPipeline.stageCorpus(spark, corpusDocs, corpusVecs, t, cfg)
    val stateDir = java.nio.file.Files.createTempDirectory("ap_repeat").toString
    try {
      val (planted, _) = fixtureBatch(9700000L)
      val lexTwin = planted.where(col("doc_id") === 9700001L)
        .select("text", "embedding").as[(String, Seq[Double])].collect().head
      def novel(tag: String): String = (1 to 50).map(i => s"$tag~$i").mkString(" ")
      // the fixture's span-copy shape: 15 tokens of a text, 85 fresh
      def spanCopy(tag: String): String =
        (novel(tag).split(" ").take(15) ++ (1 to 85).map(i => s"copy$tag~$i")).mkString(" ")
      // random sign patterns: pairwise cosines near 0, far under 0.8
      def vec(seed: Int): Seq[Double] = {
        val r = new scala.util.Random(seed)
        Seq.fill(64)(if (r.nextBoolean()) 1.0 else -1.0)
      }
      val batch = Seq(
        (1L, novel("alpha"), vec(11)), // doc 1 twice, both rows novel
        (1L, novel("beta"), vec(13)),
        (2L, lexTwin._1, lexTwin._2),  // doc 2 twice, one row a lexical twin
        (2L, novel("gamma"), vec(17)))
        .toDF("doc_id", "text", "embedding")
      val rows = AdmissionPipeline.processBatch(spark, batch, 0L, t, dials, stateDir, cfg)
        .as[(Long, String)].collect().toSeq
      assert(rows.sorted == Seq(1L -> "admit", 1L -> "admit", 2L -> "dup_lexical", 2L -> "dup_lexical"),
        s"verdict rows: $rows")
      // both admitted rows of doc 1 are corpus now, text and vector;
      // neither row of the rejected doc 2 is
      val probe = Seq(
        (11L, novel("alpha"), vec(19)),
        (12L, novel("beta"), vec(23)),
        (13L, novel("fresh"), vec(11)),
        (14L, novel("other"), vec(13)),
        (15L, novel("gamma"), vec(29)),
        (16L, novel("novel"), vec(17)),
        (17L, spanCopy("beta"), vec(31)),
        (18L, spanCopy("gamma"), vec(37)))
        .toDF("doc_id", "text", "embedding")
      val later = AdmissionPipeline.verdicts(spark, probe, t, cfg).as[(Long, String)].collect().toMap
      assert(later == Map(11L -> "dup_lexical", 12L -> "dup_lexical", 13L -> "dup_semantic",
        14L -> "dup_semantic", 15L -> "admit", 16L -> "admit", 17L -> "dup_span", 18L -> "admit"),
        s"later verdicts: $later")
    } finally dropAll()
  }

  test("a failing absorb: processBatch rethrows once the batch's jobs have ended, commits no ledger, and the rerun delivers the planted verdicts") {
    val (batch, expected) = fixtureBatch(9500000L)
    val ledger = (dir: String) => java.nio.file.Paths.get(dir, "ledger", "batch-0")
    // the span posting count a clean run of the batch leaves
    dropAll()
    val cleanDials = AdmissionPipeline.stageCorpus(spark, corpusDocs, corpusVecs, t, cfg)
    AdmissionPipeline.processBatch(spark, batch, 0L, t, cleanDials,
      java.nio.file.Files.createTempDirectory("ap_clean").toString, cfg).collect(): Unit
    val cleanSpans = spark.table(t.spans).count()
    dropAll()

    val dials = AdmissionPipeline.stageCorpus(spark, corpusDocs, corpusVecs, t, cfg)
    val stateDir = java.nio.file.Files.createTempDirectory("ap_fail").toString
    // a plain file where the span append's committer makes its
    // _temporary directory: the probes still read the table, and the
    // span absorb alone fails, mid-batch, with the band and vector
    // absorbs running beside it
    val spanDir = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(t.spans)).location.getPath
    val blocker = java.nio.file.Paths.get(spanDir, "_temporary")
    java.nio.file.Files.write(blocker, Array.emptyByteArray): Unit
    val group = s"ap-fail-${java.util.UUID.randomUUID()}"
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val pools = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val endedAt = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          started.add(e.jobId): Unit
          Option(e.properties.getProperty("spark.scheduler.pool")).foreach(pools.add)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = endedAt.put(e.jobId, e.time): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the caller's job group, as foreachBatch runs under the stream's:
      // the runner's threads inherit it, so every job of the batch is in it
      spark.sparkContext.setJobGroup(group, "failing admission batch", false)
      val err =
        try intercept[Exception](
          AdmissionPipeline.processBatch(spark, batch, 0L, t, dials, stateDir, cfg))
        finally spark.sparkContext.clearJobGroup()
      val thrownAt = System.currentTimeMillis()
      // the span absorb's own failure, not a sibling's cancellation
      assert(err.getMessage.contains(s"${t.spans}/_temporary"), s"unexpected failure: $err")
      import scala.jdk.CollectionConverters._
      assert(awaitTrue(started.asScala.forall(endedAt.containsKey)),
        "every job of the failed batch must end")
      assert(Set("graft-admit-bands", "graft-admit-vectors").subsetOf(pools.asScala),
        s"the band and vector absorbs must run in their own pools, in the caller's group: $pools")
      val late = started.asScala.filter(id => endedAt.get(id) > thrownAt)
      assert(late.isEmpty, s"jobs ${late.mkString(",")} ended after processBatch threw")
      val tracker = spark.sparkContext.statusTracker
      val running = tracker.getJobIdsForGroup(group).filter(id =>
        tracker.getJobInfo(id).exists(_.status == JobExecutionStatus.RUNNING))
      assert(running.isEmpty, s"jobs still running after the throw: ${running.mkString(",")}")
      assert(!java.nio.file.Files.exists(ledger(stateDir)),
        "a failed batch must not commit its ledger entry")

      java.nio.file.Files.delete(blocker)
      val rerun = AdmissionPipeline.processBatch(spark, batch, 0L, t, dials, stateDir, cfg)
        .as[(Long, String)].collect().toMap
      assert(rerun == expected, s"rerun verdicts diverge: got $rerun expected $expected")
      assert(java.nio.file.Files.exists(ledger(stateDir)))
      assert(spark.table(t.spans).count() == cleanSpans,
        "the rerun's span absorb must leave a clean run's span postings")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      java.nio.file.Files.deleteIfExists(blocker): Unit
      dropAll()
    }
  }
}
