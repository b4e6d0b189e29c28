package graft

import org.apache.spark.sql.functions._

import graft.functions.BucketSketch
import graft.operators.DedupOps

/** The bucket-count sketch (q79 verify prefilter) and its bound:
  * bucket_min_sum(sketch(a), sketch(b)) must upper-bound the true
  * distinct-intersection of the two hash arrays for EVERY input —
  * the prefilter's exact-recall guarantee rides on it. */
class BucketSketchSpec extends SparkSpec {
  import spark.implicits._

  test("min-sum bound >= true intersection on random arrays (property)") {
    val rnd = new scala.util.Random(79)
    // skewed domain so buckets collide hard: values in [0, 512)
    val rows = (1 to 200).map { i =>
      (i.toLong, Array.fill(rnd.nextInt(80) + 1)(rnd.nextInt(512)).distinct)
    }
    val df = rows.toDF("doc_id", "hs")
      .select(col("doc_id"), col("hs"),
        BucketSketch.bucket_count_sketch(col("hs")).as("sk"))
    val pairs = df.as("a").join(df.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(
        BucketSketch.bucket_min_sum(col("a.sk"), col("b.sk")).as("ub"),
        size(array_intersect(col("a.hs"), col("b.hs"))).as("i"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getInt(0) >= r.getInt(1),
        s"bound ${r.getInt(0)} < true intersection ${r.getInt(1)}")
    }
  }

  test("sketch counts duplicates separately (bound only loosens)") {
    // two distinct shingles colliding on the same hash value appear as
    // duplicate ints; each must bump its bucket
    val df = Seq((1L, Array(5, 5, 5)), (2L, Array(5)))
      .toDF("doc_id", "hs")
      .select(BucketSketch.bucket_count_sketch(col("hs")).as("sk"))
    val sks = df.collect().map(_.getAs[Array[Byte]](0))
    val bucket = 5 & 63
    def cnt(sk: Array[Byte]) =
      ((sk(bucket * 2) & 0xff) << 8) | (sk(bucket * 2 + 1) & 0xff)
    assert(cnt(sks(0)) == 3)
    assert(cnt(sks(1)) == 1)
  }

  test("interpreted eval matches codegen") {
    // eval path via an aggregation boundary that blocks codegen is
    // hard to force; instead call nullSafeEval directly
    val hs = Array(1, 65, 129, 2, 3)
    val e = graft.functions.BucketCountSketch(
      org.apache.spark.sql.GraftShim.expression(lit(1)))
    val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(hs)
    val interp = e.nullSafeEval(arr).asInstanceOf[Array[Byte]]
    val viaDf = Seq(Tuple1(hs)).toDF("hs")
      .select(BucketSketch.bucket_count_sketch(col("hs")))
      .collect()(0).getAs[Array[Byte]](0)
    assert(interp.toSeq == viaDf.toSeq)
    // bucket 1 holds values 1, 65, 129 -> count 3
    assert(((interp(2) & 0xff) << 8 | (interp(3) & 0xff)) == 3)
  }

  test("q79 prefilter is output-invariant (parity with the plain path)") {
    // sf0.01: the decade where q79 has verified pairs (25 at t=0.8)
    val dir = "/root/testdata/sf0.01"
    val t = DedupOps.prefixThreshold
    val stageDir =
      java.nio.file.Files.createTempDirectory("graft_sketch_parity").toString
    try DedupOps.withStagingRoot(Some(stageDir)) {
      val prefix = DedupOps.prefixTable(spark, dir, t)
      val sets = DedupOps.docSetsTable(spark, dir)
      def candSet(c: org.apache.spark.sql.DataFrame) =
        c.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def pairs(cand: org.apache.spark.sql.DataFrame) =
        DedupOps.verifyPrefixPairs(cand, sets, t).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // the shipped path applies the bound at enumeration-row grain,
      // before the pair aggregate: it keeps a strict subset of the
      // unfiltered candidates and verifies to the same pair set
      val all = DedupOps.candidatesFrom(prefix, t)
      val filtered = DedupOps.candidatesSketchFiltered(prefix, sets, t)
      val (allCand, kept) = (candSet(all), candSet(filtered))
      assert(kept.subsetOf(allCand) && kept.size < allCand.size,
        s"prefilter must keep a strict subset: ${kept.size} of ${allCand.size}")
      val plain = pairs(all)
      assert(plain.nonEmpty, "expected verified pairs at sf0.01")
      assert(pairs(filtered) == plain,
        "prefilter must not change the verified pair set")
    } finally spark.catalog.clearCache()
  }

  test("q79 dispatch takes the carried path exactly past sketchMaxDocs") {
    assert(!DedupOps.sketchCarried(0L))
    assert(!DedupOps.sketchCarried(DedupOps.sketchMaxDocs))
    assert(DedupOps.sketchCarried(DedupOps.sketchMaxDocs + 1))
  }

  test("bucketed sketch path (past the broadcast ceiling) is output-invariant") {
    // VERDICT r14 #2: past sketchMaxDocs the broadcast prefilter is
    // skipped and the bound must still hold pairs back inside the
    // verify's bucket-aligned SMJ via the staged doc_sets `sk`
    // column. The past-ceiling plan is the carried candidate stage
    // into that verify; its pair set must be identical to the default
    // (broadcast-prefiltered) plan.
    val dir = "/root/testdata/sf0.01"
    val t = DedupOps.prefixThreshold
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val stageDir =
      java.nio.file.Files.createTempDirectory("graft_sketch_bucketed").toString
    val defaultQ79 = try DedupOps.withStagingRoot(Some(stageDir)) {
      // staged doc_sets must physically carry the sketch column
      val sets = DedupOps.docSetsTable(spark, dir)
      assert(sets.columns.contains("sk"),
        "staged doc_sets must carry the sketch column")
      val defaultQ79 = pairSet(DedupOps.prefixJaccardPairs(spark, dir))
      assert(defaultQ79.nonEmpty && pairSet(DedupOps.jaccardVerify(spark, dir)).nonEmpty)
      val prefix = DedupOps.prefixTable(spark, dir, t)
      assert(pairSet(DedupOps.verifyPrefixPairs(
          DedupOps.candidatesSketchCarried(prefix, t), sets, t)) == defaultQ79,
        "bucketed-path q79 pair set must match the broadcast path")
      defaultQ79
    } finally spark.catalog.clearCache()
    // no sk column on a library set frame: verifyHashPass computes the
    // sketch in the scan stage (the other setSketch branch); same pairs
    val viaLib = pairSet(DedupOps.prefixJaccardPairsOf(graft.Tables.documents(spark, dir), t))
    assert(viaLib == defaultQ79,
      "library (sketch computed from hs) pair set must match the staged path")
    spark.catalog.clearCache()
  }

  test("carried sketch path (enumeration-grain, ceiling-free) is output-invariant") {
    // r15 PERF §44: the prefix rows carry the 128 B sketch, so the
    // bound rejects at enumeration grain with no broadcast at all —
    // candidate set and verified pairs must be identical to the
    // broadcast path and to the unfiltered reference, staged and
    // unstaged.
    val dir = "/root/testdata/sf0.01"
    val t = DedupOps.prefixThreshold
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def q79() = pairSet(DedupOps.prefixJaccardPairs(spark, dir))
    val stageDir =
      java.nio.file.Files.createTempDirectory("graft_sketch_carried").toString
    val plain = try DedupOps.withStagingRoot(Some(stageDir)) {
      val prefix = DedupOps.prefixTable(spark, dir, t)
      assert(prefix.columns.contains("sk"),
        "staged prefix table must carry the sketch column")
      val sets = DedupOps.docSetsTable(spark, dir)
      def candSet(c: org.apache.spark.sql.DataFrame) =
        c.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val carried = candSet(DedupOps.candidatesSketchCarried(prefix, t))
      val bcast = candSet(DedupOps.candidatesSketchFiltered(prefix, sets, t))
      val all = candSet(DedupOps.candidatesFrom(prefix, t))
      assert(carried == bcast,
        "carried enumeration filter must keep the broadcast path's candidate set")
      assert(carried.size < all.size,
        s"carried filter must reject something: ${carried.size} of ${all.size}")
      // the reference: every prefix candidate verified, no sketch bound
      val plain = pairSet(DedupOps.verifyPrefixPairs(
        DedupOps.candidatesFrom(prefix, t), sets, t))
      assert(plain.nonEmpty)
      assert(q79() == plain, "default (broadcast) path pair set must match")
      // the past-ceiling dispatch: carried candidates into the verify
      assert(pairSet(DedupOps.verifyPrefixPairs(
          DedupOps.candidatesSketchCarried(prefix, t), sets, t)) == plain,
        "past-ceiling (carried) path pair set must match")
      plain
    } finally spark.catalog.clearCache()
    // the library entry over the documents frame (its own prefix and
    // set frames, no staged table) verifies to the same pairs
    val docs = graft.Tables.documents(spark, dir)
    val viaLib = pairSet(DedupOps.prefixJaccardPairsOf(docs, t))
    assert(viaLib.nonEmpty && viaLib == plain,
      "library path must match the unfiltered pair set")
    spark.catalog.clearCache()
  }

  test("broadcast prefilter plan prunes the carried sk column from the prefix scan") {
    // PERF §44: only the carried path reads the prefix rows' `sk`; on
    // the broadcast path the sketches come from doc_sets, so the
    // staged prefix table's parquet scan must not read the column
    val dir = "/root/testdata/sf0.01"
    val t = DedupOps.prefixThreshold
    val stageDir =
      java.nio.file.Files.createTempDirectory("graft_sketch_prune").toString
    try DedupOps.withStagingRoot(Some(stageDir)) {
      val prefix = DedupOps.prefixTable(spark, dir, t)
      val sets = DedupOps.docSetsTable(spark, dir)
      def prefixScanColumns(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.sparkPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.contains("prefix_t")) =>
            s.requiredSchema.fieldNames.toSeq
        }
      val bcast = prefixScanColumns(DedupOps.candidatesSketchFiltered(prefix, sets, t))
      assert(bcast.nonEmpty, "broadcast plan must scan the staged prefix table")
      assert(bcast.forall(!_.contains("sk")),
        s"broadcast plan's prefix scans must not read sk: $bcast")
      // the unfiltered enumeration carries xsk/ysk too; with no
      // consumer referencing them they must be pruned from the scan
      val plain = prefixScanColumns(DedupOps.candidatesFrom(prefix, t))
      assert(plain.nonEmpty && plain.forall(!_.contains("sk")),
        s"unfiltered candidate plan's prefix scans must not read sk: $plain")
      // the carried plan is the one consumer that does read it
      val carried = prefixScanColumns(DedupOps.candidatesSketchCarried(prefix, t))
      assert(carried.nonEmpty && carried.forall(_.contains("sk")),
        s"carried plan's prefix scans must read sk: $carried")
    } finally spark.catalog.clearCache()
  }
}
