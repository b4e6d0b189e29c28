package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.EmbeddingOps
import graft.streaming.{CompactionDial, StreamingSemanticGate}

class StreamingSemanticGateSpec extends SparkSpec {
  import spark.implicits._

  private val table = "sg_sem_corpus"
  private val buckets = 8

  /** (vec_id, quantized ints, sign bucket) for every embedding, both
    * pieces computed through ALREADY-SPEC-PINNED engine paths
    * (VecQuantSpec bit-parity; q26's oracle-checked buckets) — the
    * driver then recombines them independently of the gate's join. */
  private def quantizedWithBuckets(): Map[Long, (Array[Double], Int)] = {
    val q = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        graft.functions.VecQuant.vec_q8(col("embedding").cast("array<double>")).as("q"))
      .as[(Long, Array[Int])].collect().toMap
    val bk = EmbeddingOps.lshBuckets(spark, sf)
      .as[(Long, Int)].collect().toMap
    q.map { case (id, arr) => id -> (arr.map(_.toDouble), bk(id)) }
  }

  test("batch matches equal the driver-side same-bucket quantized-cosine truth") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.where(col("vec_id") >= 10)
    // batch = the 10 raw query vectors PLUS two corpus twins under new
    // ids — random embeddings rarely clear nearDupCos naturally at
    // this sf, and the gate's job is exactly the twin case
    val twins = emb.where(col("vec_id") === 42 || col("vec_id") === 77)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val batch = emb.where(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).unionByName(twins)
    val staged = StreamingSemanticGate.stageCorpusVectors(
      spark, corpus, table, buckets)
    try {
      // one writer per bucket: the stage's repartition must land at
      // most `buckets` files (764 tiny files without it — probe-measured)
      assert(staged > 0 && staged <= buckets,
        s"stage must land <= $buckets files, got $staged")
      val got = StreamingSemanticGate.semanticMatches(batch, spark, table)
        .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet

      val base = quantizedWithBuckets()
      val all = base ++ Seq(1000042L -> base(42L), 1000077L -> base(77L))
      def cos(a: Array[Double], b: Array[Double]): Double = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      val expected = (for {
        (nid, (nq, nb)) <- all if (nid < 10 || nid >= 1000000L) && nq.exists(_ != 0.0)
        (cid, (cq, cb)) <- all if cid >= 10 && cid < 1000000L && cq.exists(_ != 0.0)
        if nb == cb && cos(nq, cq) >= EmbeddingOps.nearDupCos
      } yield (nid, cid)).toSet
      assert(expected.nonEmpty, "fixture must produce at least one semantic match")
      assert(expected.contains((1000042L, 42L)) && expected.contains((1000077L, 77L)),
        "the injected twins must be in the truth set")
      assert(got == expected,
        s"gate/truth divergence: only-gate=${got -- expected} only-truth=${expected -- got}")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("corpus side reads its buckets in place: zero corpus exchange per probe") {
    val emb = Tables.embeddings(spark, sf)
    StreamingSemanticGate.stageCorpusVectors(
      spark, emb.where(col("vec_id") >= 10), table, buckets)
    try {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      spark.conf.set(key, "-1")
      try {
        val plan = StreamingSemanticGate.semanticMatches(
            emb.where(col("vec_id") < 10), spark, table)
          .queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"), s"bucket layout unused:\n$plan")
        assert(!plan.contains("Exchange hashpartitioning(cbkt"),
          s"corpus side exchanged on a probe:\n$plan")
      } finally spark.conf.set(key, prev)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("staged int8 corpus is >= 1.5x smaller at rest than the float embeddings it came from") {
    // the stage's byte claim: int8 codes dictionary-encode, random
    // floats don't compress, so the staged table stays smaller even
    // carrying ids + norm + bucket (2.14x measured over the parquet
    // data files at sf0.001: 500 vectors, default 64 buckets)
    val srcBytes = new java.io.File(s"$sf/embeddings.parquet").length
    StreamingSemanticGate.stageCorpusVectors(spark, Tables.embeddings(spark, sf), table)
    try {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location
      val stagedBytes = Option(new java.io.File(loc.getPath).listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum
      assert(srcBytes > 0 && stagedBytes > 0, s"float $srcBytes B, staged $stagedBytes B")
      val ratio = srcBytes.toDouble / stagedBytes
      assert(ratio >= 1.5,
        f"staged int8 table only $ratio%.2fx under the float corpus ($srcBytes B -> $stagedBytes B)")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("absorbing gate: admitted vectors are probe-visible, dial compacts to <= buckets, parity survives") {
    val emb = Tables.embeddings(spark, sf)
    val staged = StreamingSemanticGate.stageCorpusVectors(
      spark, emb.where(col("vec_id") >= 10), table, buckets)
    try {
      // a twin of vector 7 matches NOTHING yet (7 is not in the corpus)
      def probeTwin(of: Long, asId: Long): Set[Long] =
        StreamingSemanticGate.semanticMatches(
            emb.where(col("vec_id") === of)
              .select(lit(asId).as("vec_id"), col("embedding")),
            spark, table, minCos = 0.8)
          .select("corpus_id").as[Long].collect().toSet
      assert(probeTwin(of = 7L, asId = 500001L).isEmpty,
        "twin of an unabsorbed vector must not match")
      // absorb vectors 0-9; the SAME probe now flags the twin against
      // the absorbed copy — the absorbing property
      val rowsBefore = spark.table(table).count()
      StreamingSemanticGate.absorb(
        spark, emb.where(col("vec_id") < 10), table, buckets)
      val absorbedRows = spark.table(table).count() - rowsBefore
      // one posting row per (vector, plane set): 10 vectors × 1 set
      assert(absorbedRows == 10L, s"expected 10 vectors absorbed, got $absorbedRows rows")
      assert(probeTwin(of = 7L, asId = 500002L).contains(7L),
        "twin of an absorbed vector must match it")
      // growth + floor-keyed compaction through the shared dial. The
      // threshold's absorb-aware lower bound (floor + buckets, the r20
      // storm fix) means ONE absorb can never trip it — by design —
      // so a second absorb pushes past floor + buckets first
      val grown1 = graft.streaming.StreamingDedup.postingFileCount(spark, table)
      assert(grown1 > staged, "absorb must append files")
      val dial = new CompactionDial(table, StreamingSemanticGate.postingKey, staged,
        filesFactor = 1.0, buckets)
      assert(!dial.shouldFire(staged + buckets),
        "a single absorb's worst-case landing must never trip the dial (storm guard)")
      StreamingSemanticGate.absorb(
        spark, emb.where(col("vec_id") >= 10 && col("vec_id") < 30), table, buckets): Unit
      assert(dial.maybeCompact(spark), "dial must fire on the grown table")
      val landed = graft.streaming.StreamingDedup.postingFileCount(spark, table)
      assert(landed <= buckets, s"rewrite must land <= $buckets files, got $landed")
      assert(dial.rejectedLandings == 0 && !dial.disarmed)
      assert(!spark.catalog.tableExists(s"${table}__compacting") &&
        !spark.catalog.tableExists(s"${table}__old"))
      // parity: the absorbed twin still matches after the rewrite
      assert(probeTwin(of = 7L, asId = 500003L).contains(7L),
        "compaction must preserve the absorbed corpus")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("planeSets recall dial: S=2 matches == two-set driver truth, a strict superset of S=1 (VERDICT r19 #6)") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.where(col("vec_id") >= 10 && col("vec_id") < 200)
    // perturbed twins of every corpus vector: deterministic noise
    // sized against the UNIT-NORM corpus (components ~N(0, 1/√dim)) so
    // each plane projection flips w.p. a few % — enough twins lose
    // their set-0 bucket (the nprobe=1 miss the dial exists to
    // recover) while cos(twin, source) stays ~0.995
    val corpusVecs = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    val twins = corpusVecs.map { case (id, v) =>
      (id + 1000000L,
        v.zipWithIndex.map { case (x, d) => x + ((id * 31 + d * 17) % 7 - 3) * 0.006 })
    }.toSeq
    val batch = twins.toDF("vec_id", "embedding")
    val minCos = 0.9

    /** Engine-pinned per-vector pieces (VecQuant bit-parity spec;
      * signBucket is q26's oracle-checked arithmetic per set) — the
      * match logic is then recombined driver-side, independently of
      * the gate's explode/join/dedup. */
    def pieces(df: org.apache.spark.sql.DataFrame): Map[Long, (Array[Double], Int, Int)] = {
      val v = col("embedding").cast("array<double>")
      df.select(col("vec_id"),
          graft.functions.VecQuant.vec_q8(v).as("q"),
          EmbeddingOps.signBucket(v, EmbeddingOps.numPlanes, 0).as("b0"),
          EmbeddingOps.signBucket(v, EmbeddingOps.numPlanes, 1).as("b1"))
        .as[(Long, Array[Int], Int, Int)].collect()
        .map { case (id, q, b0, b1) => id -> (q.map(_.toDouble), b0, b1) }.toMap
    }
    val cp = pieces(corpus)
    val tp = pieces(batch)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def truth(sets: Int): Set[(Long, Long)] = (for {
      (nid, (nq, nb0, nb1)) <- tp.toSeq
      (cid, (cq, cb0, cb1)) <- cp.toSeq
      if nb0 == cb0 || (sets > 1 && nb1 == cb1)
      if cos(nq, cq) >= minCos
    } yield (nid, cid)).toSet
    val truth1 = truth(1)
    val truth2 = truth(2)
    assert(truth2.subsetOf(truth1) == false && truth1.subsetOf(truth2),
      s"fixture must plant set-1-only recoveries: S1=${truth1.size} S2=${truth2.size}")

    def run(planeSets: Int): Set[(Long, Long)] = {
      StreamingSemanticGate.stageCorpusVectors(
        spark, corpus, table, buckets, planeSets = planeSets)
      try StreamingSemanticGate.semanticMatches(
          batch, spark, table, minCos = minCos, planeSets = planeSets)
        .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
      finally spark.sql(s"DROP TABLE IF EXISTS $table")
    }
    val got1 = run(1)
    val got2 = run(2)
    assert(got1 == truth1,
      s"S=1 divergence: only-gate=${got1 -- truth1} only-truth=${truth1 -- got1}")
    assert(got2 == truth2,
      s"S=2 divergence: only-gate=${got2 -- truth2} only-truth=${truth2 -- got2}")
    assert(got1.subsetOf(got2), "set 0 is shared, so S=2 must recall every S=1 pair")
    assert((got2 -- got1).nonEmpty,
      "the second plane set must recover at least one nprobe=1 miss")
  }

  test("absorbed vectors stay probe-visible without a restage") {
    val emb = Tables.embeddings(spark, sf)
    StreamingSemanticGate.stageCorpusVectors(
      spark, emb.where(col("vec_id") >= 10), table, buckets)
    try {
      StreamingSemanticGate.absorb(
        spark, emb.where(col("vec_id") < 10), table, buckets)
      val twin = emb.where(col("vec_id") === 7)
        .select(lit(600001L).as("vec_id"), col("embedding"))
      assert(StreamingSemanticGate.semanticMatches(twin, spark, table, minCos = 0.8)
        .select("corpus_id").as[Long].collect().toSet.contains(7L),
        "absorb must land the vectors")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("stream drive: exact and perturbed twins flagged, novel vector passes; zero-norm dropped") {
    val emb = Tables.embeddings(spark, sf)
    StreamingSemanticGate.stageCorpusVectors(
      spark, emb.where(col("vec_id") >= 10), table, buckets)
    try {
      val base = emb.where(col("vec_id") === 42)
        .select(col("embedding").cast("array<double>"))
        .as[Seq[Double]].collect().head
      val twin = base                       // cos ~1 with corpus vec 42
      val near = base.map(_ * 1.01 + 1e-4)  // tiny scale+shift: still ~1
      // alternating-sign unit pattern: decorrelated from real data
      val novel = Seq.tabulate(base.length)(d => if (d % 2 == 0) 1.0 else -1.0)
      val zero = Seq.fill(base.length)(0.0)

      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(Long, Seq[Double])]
      val q = StreamingSemanticGate.semanticMatches(
          mem.toDF().toDF("vec_id", "embedding"), spark, table, minCos = 0.8)
        .writeStream.format("memory").queryName("sg_sem_matches")
        .outputMode("append").start()
      try {
        mem.addData((1L, twin), (2L, near), (3L, novel), (4L, zero))
        q.processAllAvailable()
        val out = spark.table("sg_sem_matches")
          .select("new_id", "corpus_id", "cos_q8")
          .as[(Long, Long, Double)].collect()
        val byNew = out.groupBy(_._1)
        assert(byNew.contains(1L) && byNew(1L).exists(m => m._2 == 42L && m._3 > 0.999),
          s"exact twin must match corpus 42 at cos ~1: ${out.mkString(",")}")
        assert(byNew.contains(2L) && byNew(2L).exists(_._2 == 42L),
          s"perturbed twin must still match corpus 42: ${out.mkString(",")}")
        assert(!byNew.contains(3L), s"novel vector must pass: ${out.mkString(",")}")
        assert(!byNew.contains(4L), "zero-norm vector must be dropped, not divided by")

        // stateful pair dedup: replaying the twin must not re-emit
        val before = spark.table("sg_sem_matches").count()
        mem.addData((1L, twin))
        q.processAllAvailable()
        assert(spark.table("sg_sem_matches").count() == before,
          "recurring pair re-emitted despite stateful dedup")
      } finally q.stop()
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
