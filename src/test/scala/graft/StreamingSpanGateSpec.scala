package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{CompactionDial, StreamingSpanGate}

class StreamingSpanGateSpec extends SparkSpec {
  import spark.implicits._

  private val k = StreamingSpanGate.defaultSpanLen

  /** Driver-side truth: distinct k-token windows of `text` that occur
    * anywhere in the corpus texts. */
  private def expectedCounts(text: String, corpus: Seq[String]): (Int, Int) = {
    def spans(t: String): Seq[String] = {
      val toks = t.split(" ", -1)
      (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" "))
    }
    val corpusSpans = corpus.flatMap(spans).toSet
    val mine = spans(text)
    (mine.size, mine.distinct.count(corpusSpans.contains))
  }

  test("gate counts match driver-side truth; zero corpus-side exchange") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val corpus = docs.where(expr("NOT (doc_id % 10 = 7)"))
    val batch = docs.where(expr("doc_id % 10 = 7"))
    val table = "sg_corpus_spans"
    StreamingSpanGate.stageCorpusSpans(spark, corpus, table, buckets = 8)
    try {
      val corpusTexts = corpus.select("text").as[String].collect().toSeq
      val got = StreamingSpanGate.spanMatches(batch, spark, table)
        .select("doc_id", "n_spans", "matched_spans", "matched_pm")
        .as[(Long, Int, Long, Long)].collect()
      val texts = batch.select("doc_id", "text").as[(Long, String)]
        .collect().toMap
      assert(got.length == texts.size, "one verdict row per batch doc")
      got.foreach { case (id, n, m, pm) =>
        val (en, em) = expectedCounts(texts(id), corpusTexts)
        assert((n, m) == ((en, em.toLong)), s"doc $id: ($n,$m) vs ($en,$em)")
        assert(pm == (if (en == 0) 0L else m * 1000 / en))
      }
      // the near-dup-rich fixture must actually discriminate
      assert(got.exists(_._3 > 0) && got.exists(_._3 == 0))

      // plan shape, under forced sort-merge: the corpus posting scan
      // reads its buckets in place; only the probe side may exchange
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "-1")
      try {
        val plan = StreamingSpanGate.spanMatches(batch, spark, table)
          .queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"),
          s"corpus span scan must read its buckets:\n$plan")
        assert(!plan.contains("Exchange hashpartitioning(csh"),
          s"corpus side must never be exchanged:\n$plan")
      } finally spark.conf.set(key, prev)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("span posting compaction fires on the trigger and keeps gate parity (r16)") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val corpus = docs.where(expr("NOT (doc_id % 10 = 7)"))
    val batch = docs.where(expr("doc_id % 10 = 7"))
    val table = "sg_compact_spans"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val baseline = StreamingSpanGate.stageCorpusSpans(spark, corpus, table, buckets = 8)
    try {
      assert(baseline > 0)
      // absorb three admitted batches' spans (disjoint synthetic
      // tokens per batch), the growth shape of the admission loop
      import graft.functions.SpanHashes
      (1 to 3).foreach { i =>
        docs.where(expr(s"doc_id % 10 = $i"))
          .select(concat_ws(" ",
            expr(s"transform(split(text, ' '), t -> concat(t, '~abs$i'))")).as("text"))
          .select(explode(SpanHashes.span_hashes(col("text"), k)).as("csh"))
          .distinct()
          .write.mode("append").bucketBy(8, "csh").sortBy("csh")
          .format("parquet").saveAsTable(table)
      }
      val grown = graft.streaming.StreamingDedup.postingFileCount(spark, table)
      assert(grown > baseline)
      def verdicts() = StreamingSpanGate.spanMatches(batch, spark, table)
        .select("doc_id", "n_spans", "matched_spans")
        .as[(Long, Int, Long)].collect().toSet
      val before = verdicts()
      val factor = math.max(1.0, grown.toDouble / baseline * 0.9)
      val dial = new CompactionDial(table, StreamingSpanGate.postingKey, baseline, factor,
        buckets = 8)
      assert(dial.maybeCompact(spark),
        s"dial must fire at $grown files vs threshold ${dial.threshold}")
      val landed = graft.streaming.StreamingDedup.postingFileCount(spark, table)
      // landing bound (VERDICT r17 #1): one file per bucket
      assert(landed <= 8, s"rewrite must land at <= buckets files, got $landed")
      assert(verdicts() == before, "compaction must preserve gate verdicts")
      // the swap leaves no side/old tables behind
      assert(!spark.catalog.tableExists(s"${table}__compacting") &&
        !spark.catalog.tableExists(s"${table}__old"),
        "rewrite must clean up its swap tables")
      assert(!new CompactionDial(table, StreamingSpanGate.postingKey, baseline, 1000.0, buckets = 8)
        .maybeCompact(spark))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}__compacting")
      spark.sql(s"DROP TABLE IF EXISTS ${table}__old")
    }
  }

  test("span ranges match driver-side island truth") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val corpus = docs.where(expr("NOT (doc_id % 10 = 7)"))
    val batch = docs.where(expr("doc_id % 10 = 7"))
    val table = "sg_corpus_spans_rng"
    StreamingSpanGate.stageCorpusSpans(spark, corpus, table, buckets = 8)
    try {
      // driver truth: flagged window positions (1-based) merged into
      // maximal contiguous ranges — the q81 semantics against a corpus
      def spans(t: String): Seq[String] = {
        val toks = t.split(" ", -1)
        (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" "))
      }
      val corpusSpans = corpus.select("text").as[String].collect()
        .flatMap(spans).toSet
      val expected = batch.select("doc_id", "text").as[(Long, String)]
        .collect().flatMap { case (id, text) =>
          val flagged = spans(text).zipWithIndex
            .collect { case (s, i0) if corpusSpans.contains(s) => i0 + 1L }
          // merge on token-span overlap (gap <= k-1) → disjoint ranges
          flagged.foldLeft(List.empty[(Long, Long, Long)]) {
            case ((s, e, n) :: rest, i) if i <= e =>
              (s, i + (k - 1), n + 1) :: rest
            case (acc, i) => (i, i + (k - 1), 1L) :: acc
          }.reverse.map { case (s, e, n) => (id, s, e, n) }
        }.sortBy(r => (r._1, r._2))
      val got = StreamingSpanGate.spanRanges(batch, spark, table)
        .orderBy("doc_id", "start_tok")
        .as[(Long, Long, Long, Long)].collect()
      assert(expected.nonEmpty && got.toSeq == expected.toSeq)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("sustained ingest: 24 triggers leave ZERO streaming state behind") {
    // the gate's contract at scale: per-doc aggregation lives inside
    // foreachBatch (batch-local), so a long-running admission stream
    // accumulates NO state-store rows — state is what would grow
    // per-trigger against an unbounded doc_id key space
    val corpus = Tables.documents(spark, sf).select("doc_id", "text")
    val table = "sg_sustained_spans"
    StreamingSpanGate.stageCorpusSpans(spark, corpus, table, buckets = 8)
    val batchTexts = corpus.limit(5).as[(Long, String)].collect()
    val seen = new java.util.concurrent.atomic.AtomicLong
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.addAndGet(
          StreamingSpanGate.spanMatches(b, spark, table).count()): Unit
      }.start()
    try {
      (1 to 24).foreach { i =>
        mem.addData(batchTexts.toSeq.map { case (id, t) =>
          (id + i * 1000000L, t) }: _*)
        q.processAllAvailable()
      }
      assert(seen.get() == 24L * batchTexts.length,
        "every trigger must produce one verdict row per doc")
      val progresses = q.recentProgress.toSeq
      assert(progresses.count(_.numInputRows > 0) >= 24,
        s"expected >=24 data triggers, saw ${progresses.size}")
      val stateRows = progresses.flatMap(_.stateOperators).map(_.numRowsTotal)
      assert(stateRows.forall(_ == 0L) ,
        s"span gate must be stateless across triggers, state rows: $stateRows")
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("live stream via foreachBatch: verdicts arrive per micro-batch") {
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (200L, "one two three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text")
    val table = "sg_stream_spans"
    StreamingSpanGate.stageCorpusSpans(spark, corpus, table, buckets = 4)
    val results = scala.collection.mutable.Map.empty[Long, (Long, String)]
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        StreamingSpanGate.admissionVerdicts(b, spark, table, maxPm = 500)
          .select("doc_id", "matched_spans", "verdict")
          .collect().foreach(r =>
            results.synchronized {
              results(r.getLong(0)) = (r.getLong(1), r.getString(2))
            })
      }.start()
    try {
      mem.addData(
        // full 10-token copy of corpus doc 100: 3 of 3 windows known
        (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        // one corpus window embedded in novel text
        (2L, "x one two three four five six seven eight y z w v u t"),
        // novel, span-free of the corpus
        (3L, "nothing here matches the settled corpus at span length"),
        // under k tokens: no spans, must admit
        (4L, "too short"))
      q.processAllAvailable()
      val r = results.synchronized(results.toMap)
      assert(r(1L) == ((3L, "reject_span_dup")), s"got $r")
      assert(r(2L)._1 == 1L && r(2L)._2 == "admit", s"got $r")
      assert(r(3L) == ((0L, "admit")), s"got $r")
      assert(r(4L) == ((0L, "admit")), s"got $r")
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }
}
