package graft

import java.nio.file.{Files, Paths}

import graft.operators.Staging

/** Cross-process safety contract of the staging promote path: a table
  * under its final name is always complete, racing writers converge. */
class StagingSpec extends SparkSpec {

  private def mkTable(dir: String, marker: String, success: Boolean): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, marker), "x".getBytes)
    if (success) Files.write(Paths.get(dir, "_SUCCESS"), Array.emptyByteArray)
  }

  test("promote discards the loser when a complete winner already exists") {
    val base = Files.createTempDirectory("graft_stage_spec").toString
    val dst = s"$base/t"
    mkTable(dst, "winner", success = true)
    val tmp = s"$base/t.tmp-loser"
    mkTable(tmp, "loser", success = true)
    Staging.promote(Paths.get(tmp), Paths.get(dst))
    assert(Files.exists(Paths.get(dst, "winner")), "winner table must be untouched")
    assert(!Files.exists(Paths.get(dst, "loser")))
    assert(!Files.exists(Paths.get(tmp)), "loser temp dir must be cleaned up")
  }

  test("promote replaces crash debris (a partial table with no _SUCCESS)") {
    val base = Files.createTempDirectory("graft_stage_spec").toString
    val dst = s"$base/t"
    mkTable(dst, "partial", success = false)
    val tmp = s"$base/t.tmp-new"
    mkTable(tmp, "fresh", success = true)
    Staging.promote(Paths.get(tmp), Paths.get(dst))
    assert(Files.exists(Paths.get(dst, "_SUCCESS")))
    assert(Files.exists(Paths.get(dst, "fresh")))
    assert(!Files.exists(Paths.get(dst, "partial")))
  }

  test("racing promoters (simulated cross-process, no JVM lock) converge to one complete table") {
    val base = Files.createTempDirectory("graft_stage_spec").toString
    val dst = Paths.get(s"$base/t")
    val races = (1 to 8).map { i =>
      val tmp = s"$base/t.tmp-$i"
      mkTable(tmp, s"writer$i", success = true)
      new Thread(() => Staging.promote(Paths.get(tmp), dst))
    }
    races.foreach(_.start()); races.foreach(_.join())
    assert(Files.exists(dst.resolve("_SUCCESS")), "exactly one writer must have promoted")
    val markers = dst.toFile.listFiles().map(_.getName).filter(_.startsWith("writer"))
    assert(markers.length == 1, s"table must come from a single writer, saw ${markers.toSeq}")
    val leftovers = Paths.get(base).toFile.listFiles().map(_.getName).filter(_.contains(".tmp-"))
    assert(leftovers.isEmpty, s"losing temp dirs must be cleaned up, saw ${leftovers.toSeq}")
  }

  test("readThrough never leaves temp dirs and serves a complete table") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_stage_spec").toString
    val out = Staging.withRoot(root) {
      Staging.readThrough(spark, sf, "spec_probe") {
        spark.range(100).select(col("id"), (col("id") * 2).as("d"))
      }.count()
    }
    assert(out == 100)
    val tableDir = Paths.get(Staging.tableDir(root, sf, "spec_probe"))
    assert(Files.exists(tableDir.resolve("_SUCCESS")))
    val tmps = tableDir.getParent.toFile.listFiles().map(_.getName).filter(_.contains(".tmp-"))
    assert(tmps.isEmpty, s"no temp debris expected, saw ${tmps.toSeq}")
  }

  test("staged doc_sets is doc_id-bucketed: verify joins exchange only the probe side") {
    import org.apache.spark.sql.functions._
    import graft.operators.DedupOps
    val root = Files.createTempDirectory("graft_stage_bucketed").toString
    DedupOps.withStagingRoot(Some(root)) {
      val sets = DedupOps.docSetsTable(spark, sf)
      // bucketing changes layout, never content: the catalog read equals
      // a plain parquet read of the same directory
      val staged = sets.orderBy("doc_id").collect()
      val plain = Tables.parquet(spark, Staging.tableDir(root, sf, "doc_sets"))
        .orderBy("doc_id").collect()
      assert(staged.nonEmpty && staged.sameElements(plain),
        "bucketed read != plain parquet read of its files")
      // a verify-shaped equi-join on doc_id must shuffle ONLY the
      // candidate/probe side; the set arrays read bucket-aligned
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val probe = spark.range(64).select(col("id").as("doc_a"))
        val j = probe.join(sets, probe("doc_a") === sets("doc_id"))
        val plan = j.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
        // the planner enables the bucketed read exactly when a join
        // consumes the partitioning (a bare scan reports
        // "Bucketed: false (disabled by query planner)")
        assert(plan.contains("Bucketed: true"),
          s"sets side must read its buckets in place:\n$plan")
        val nEx = "Exchange hashpartitioning".r.findAllIn(plan).size
        assert(nEx == 1, s"only the probe side may exchange, saw $nEx:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      // a NEW session finding the files already staged re-registers
      // them through the DDL path (simulated: drop the catalog entry —
      // external table, files stay — and read through again)
      val name = spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_doc_sets_")).head
      spark.sql(s"DROP TABLE $name")
      val again = DedupOps.docSetsTable(spark, sf)
      val reName = spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_doc_sets_")).head
      val desc = spark.sql(s"DESCRIBE EXTENDED $reName").collect().mkString
      assert(desc.contains("Bucket") && desc.contains("doc_id"),
        s"re-registered table must stay doc_id-bucketed:\n$desc")
      assert(again.count() == staged.length.toLong)
    }
  }

  test("stageAll builds the full staged table set concurrently and matches serial staging") {
    import graft.operators.DedupOps
    val p8 = DedupOps.defaultParams
    val p128 = DedupOps.scaleParams
    // concurrent DAG into a fresh root
    val rootA = Files.createTempDirectory("graft_stage_all").toString
    val (candA, interpreted) = DedupOps.withStagingRoot(Some(rootA)) {
      DedupOps.stageAll(spark, sf)
      // the staged consumer queries run without an interpreted
      // (CodegenFallback) expression anywhere in their executed plans:
      // collect() runs THIS dataset's plan, so AQE's final stages are
      // the ones walked
      val hits = Bench.stagedNames.map { name =>
        val df = SparkEntry.queries(name)(spark, sf)
        df.collect(): Unit
        name -> CodegenFallbacks.fallbackHits(df.queryExecution.executedPlan)
      }.filter(_._2.nonEmpty)
      (DedupOps.lshCandidates(spark, sf).collect().toSeq, hits)
    }
    assert(interpreted.isEmpty, s"interpreted expressions in staged queries: $interpreted")
    val expectTables = Seq(
      "shingles", "simhash",
      s"sig_h${p8.numHashes}", s"cand_h${p8.numHashes}_b${p8.numBands}",
      s"sig_h${p128.numHashes}", s"cand_h${p128.numHashes}_b${p128.numBands}")
    expectTables.foreach { t =>
      val dir = Paths.get(Staging.tableDir(rootA, sf, t))
      assert(Files.exists(dir.resolve("_SUCCESS")), s"missing staged table $t")
    }
    val ivfDirs = Paths.get(Staging.tableDir(rootA, sf, "x")).getParent
      .toFile.listFiles().map(_.getName).filter(_.startsWith("ivf_"))
    assert(ivfDirs.length == 2, s"expected ivf_cent + ivf_assign, saw ${ivfDirs.toSeq}")
    // serial read-through staging into another root (signatures, then
    // candidates, on this thread) yields the identical candidate table
    val rootB = Files.createTempDirectory("graft_stage_all").toString
    val candB = DedupOps.withStagingRoot(Some(rootB)) {
      DedupOps.lshCandidates(spark, sf).collect().toSeq
    }
    assert(candA == candB, "concurrent and serial staging must agree")
    spark.catalog.clearCache()
  }

  test("staged signature tables hold one array<bigint> column; q20/q42 spread it into mh0..mhN") {
    import org.apache.spark.sql.types.{ArrayType, LongType}
    import graft.operators.DedupOps
    val root = Files.createTempDirectory("graft_sig_format").toString
    DedupOps.withStagingRoot(Some(root)) {
      DedupOps.stageAll(spark, sf, ivf = false)
      for ((p, q) <- Seq(DedupOps.defaultParams -> "q20_minhash_signatures",
                         DedupOps.scaleParams -> "q42_minhash_scale")) {
        val fields = spark.read
          .parquet(Staging.tableDir(root, sf, s"sig_h${p.numHashes}")).schema.fields
        assert(fields.map(_.name).toSeq == Seq("doc_id", "__sig") &&
          fields(1).dataType.isInstanceOf[ArrayType] &&
          fields(1).dataType.asInstanceOf[ArrayType].elementType == LongType,
          s"sig_h${p.numHashes} must stage (doc_id, array<bigint>), got ${fields.toSeq}")
        val out = SparkEntry.queries(q)(spark, sf)
        assert(out.columns.toSeq == "doc_id" +: (0 until p.numHashes).map(i => s"mh$i"),
          s"$q columns: ${out.columns.toSeq}")
        val ref = DedupOps.signaturesFrom(
          DedupOps.shinglesOf(Tables.documents(spark, sf)), p).orderBy("doc_id")
        assert(out.collect().toSeq == ref.collect().toSeq,
          s"$q must equal the aggregate reference")
      }
    }
  }

  test("staging cannot be turned off: graft.stage.dir=off or empty and withStagingRoot(None) fail naming the setting") {
    import graft.operators.DedupOps
    val key = "graft.stage.dir"
    for (v <- Seq("off", "")) {
      val saved = sys.props.get(key)
      sys.props(key) = v
      val e = try intercept[IllegalArgumentException](DedupOps.lshCandidates(spark, sf))
        finally saved.fold(sys.props.remove(key))(sys.props.put(key, _)): Unit
      assert(e.getMessage.contains(key), s"message must name $key: ${e.getMessage}")
    }
    val e = intercept[IllegalArgumentException] {
      DedupOps.withStagingRoot(None) { DedupOps.lshCandidates(spark, sf) }
    }
    assert(e.getMessage.contains("withStagingRoot(None)"),
      s"message must name the setting: ${e.getMessage}")
  }

  test("stageAll restores broadcast thresholds when staging FAILS (ADVICE r13)") {
    import graft.operators.DedupOps
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val root = Files.createTempDirectory("graft_stage_fail").toString
    // a nonexistent sfDir makes the shared shingle root throw — the
    // exact STAGE_MATERIALIZATION failure class the 1 MiB cap guards;
    // before the r14 fix the cap leaked into the session and silently
    // disabled broadcasts for every later query-time plan
    intercept[Throwable] {
      DedupOps.withStagingRoot(Some(root)) {
        DedupOps.stageAll(spark, "/nonexistent/graft_sf_dir")
      }
    }
    val after = keys.map(k => k -> spark.conf.getOption(k))
    assert(after == saved,
      s"broadcast thresholds must be restored after a staging failure: $after vs $saved")
  }

  test("stageAll refuses concurrent/reentrant staging on one session (ADVICE r13)") {
    import graft.operators.DedupOps
    assert(DedupOps.beginStaging(spark), "first begin must win")
    try {
      assert(!DedupOps.beginStaging(spark), "second begin must be refused")
      val root = Files.createTempDirectory("graft_stage_reent").toString
      val e = intercept[IllegalArgumentException] {
        DedupOps.withStagingRoot(Some(root)) { DedupOps.stageAll(spark, sf) }
      }
      assert(e.getMessage.contains("already running"))
    } finally DedupOps.endStaging(spark)
    // released: a fresh begin succeeds again
    assert(DedupOps.beginStaging(spark))
    DedupOps.endStaging(spark)
  }

  test("a cold read-through build plans like a stageAll chain") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import scala.jdk.CollectionConverters._
    import graft.operators.{CacheRegistry, CorpusOps, DedupOps}
    spark.catalog.clearCache()
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    // every execution, in completion order, as (action, execution)
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        execs.add(f -> qe): Unit
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def writeOf(table: String)(qe: QueryExecution): Boolean =
      qe.analyzed.collectFirst { case w: InsertIntoHadoopFsRelationCommand =>
        w.outputPath.getName.startsWith(table + ".tmp-")
      }.contains(true)
    def names(qe: QueryExecution): Seq[String] =
      qe.analyzed.flatMap(_.output).map(_.name)
    /** The executions completed up to and including `table`'s write. */
    def upToWrite(table: String): Seq[(String, QueryExecution)] = {
      def all = execs.asScala.toSeq
      assert(awaitTrue(all.exists(e => writeOf(table)(e._2))),
        s"no write of $table reached the listener")
      all.take(all.indexWhere(e => writeOf(table)(e._2)) + 1)
    }
    val root = Files.createTempDirectory("graft_cold_plan").toString
    DedupOps.withStagingRoot(Some(root)) {
      // sig_h8 staged first, so the listener sees only the cand build
      DedupOps.minhashSignatures(spark, sf).count(): Unit
      val pre = persisted
      spark.listenerManager.register(listener)
      try {
        execs.clear()
        DedupOps.lshCandidates(spark, sf)
        val cand = upToWrite("cand_h8_b4")
        val write = cand.last._2
        // the write's executed plan reads no cached band stream
        // (doc_id, bk): the band self-join recomputes each side, as on a
        // stageAll chain (PERF §35)
        val helper = new AdaptiveSparkPlanHelper {}
        val cached = helper.collectWithSubqueries(write.executedPlan) {
          case s: InMemoryTableScanExec => s.relation.output.map(_.name)
        }
        assert(!cached.exists(_.contains("bk")),
          s"cold cand_h8_b4 write cached a band stream: $cached\n${write.executedPlan}")
        // the suspect census is filled by its own count before the write
        val censusFills = cand.init.filter { case (f, qe) =>
          f == "count" && names(qe).contains("__fp")
        }
        assert(censusFills.size == 1,
          s"expected one census fill before the cand write, saw ${cand.map(_._1)}")
        // a cold stage_flags build fills the q51/q48 flag frames with
        // one union count before its write
        execs.clear()
        CorpusOps.stageFlagsTable(spark, sf)
        val flags = upToWrite("stage_flags")
        val unionCounts = flags.init.filter { case (f, qe) =>
          val n = names(qe)
          f == "count" && n.contains("f_q") && n.contains("f_dc") && n.contains("one")
        }
        assert(unionCounts.size == 1,
          s"expected one flag union count before the stage_flags write, saw ${flags.map(_._1)}")
      } finally spark.listenerManager.unregister(listener)
      // every persist the two builds took died with its write
      assert(awaitTrue((persisted -- pre).isEmpty),
        s"cold builds leaked persisted RDDs: ${persisted -- pre}")
      assert(CacheRegistry.size(spark) == 0,
        "staged-build persists must not land in the query-scoped registry")
    }
    spark.catalog.clearCache()
  }
}
