package graft

import java.sql.DriverManager
import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicInteger

import graft.sinks.JdbcUpsertSink
import graft.sources.OrderApiIngest
import graft.sources.OrderApiIngest._
import graft.tools.JdbcAdmin

/** Regressions for defects found in the round-1 code review. */
class ReviewRegressionSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftreg;create=true"

  test("UpdateInsert survives duplicate keys within one batch (last wins)") {
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE dupb (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(10))")
    conn.close()
    val sink = new JdbcUpsertSink(url, "dupb",
      JdbcUpsertSink.UpdateInsert(Seq("id")), batchSize = 10, maxRetries = 0)
    // same new key twice in one batch: previously two INSERTs -> PK violation
    sink.write(Seq((1L, "first"), (2L, "x"), (1L, "second")).toDF("id", "v").coalesce(1))
    val c = DriverManager.getConnection(url)
    val rs = c.createStatement().executeQuery("SELECT v FROM dupb WHERE id = 1")
    rs.next()
    assert(rs.getString(1) == "second") // REPLACE semantics: last wins
    c.close()
  }

  test("deterministic statement errors fail fast, without retry backoff") {
    // large backoff: any retry of a deterministic error would stall >5s
    val admin = new JdbcAdmin(url, maxRetries = 3, backoffMs = 5000)
    admin.execute("CREATE TABLE fastfail_t (id INT)")
    val t0 = System.nanoTime()
    assert(!admin.executeIdempotent("CREATE TABLE fastfail_t (id INT)"))
    intercept[java.sql.SQLException] { admin.execute("SELECT FROM syntax error") }
    assert((System.nanoTime() - t0) / 1e9 < 4.0,
      "deterministic errors must not be retried with backoff")
  }

  test("executeIdempotent propagates does-not-exist errors") {
    val admin = new JdbcAdmin(url, maxRetries = 0)
    admin.execute("CREATE TABLE idem_t (id INT)")
    // true idempotency case still tolerated
    assert(!admin.executeIdempotent("CREATE TABLE idem_t (id INT)"))
    // "does not exist" is NOT an already-exists case and must surface
    // (Derby: 'MISSING_T' does not exist — the old substring match
    // on 'exist' swallowed this)
    intercept[java.sql.SQLException] {
      admin.executeIdempotent("DROP TABLE missing_t")
    }
  }

  test("over-limit 10-minute windows split to 1-minute windows instead of dropping pages") {
    val calls = scala.collection.mutable.ListBuffer.empty[String]
    val api = Api(
      listUrl = (f, t, _, limit) => s"u?from=$f&to=$t&limit=$limit",
      fetchToken = () => "tok",
      parsePage = body => {
        val parts = body.split(";", 2)
        (parts(0).toInt, parts.lift(1).filter(_.nonEmpty)
          .map(_.split(",").toSeq).getOrElse(Nil).map(id => Order(id, "{}")))
      })
    val transport: Transport = req => {
      calls += req.url
      // span in minutes parsed from the from/to timestamps
      val ts = """from=([0-9T:\-]+)&to=([0-9T:\-]+)""".r.findFirstMatchIn(req.url).get
      val span = java.time.Duration.between(
        LocalDateTime.parse(ts.group(1)), LocalDateTime.parse(ts.group(2))).toMinutes
      span match {
        case 60 => HttpResp(200, "30;IGN")       // hour over limit -> split
        case 10 if req.url.contains("from=2025-10-01T00:00:00") =>
          HttpResp(200, "5;IGN2")                // first 10-min window ALSO over limit
        case 10 => HttpResp(200, s"1;t${calls.size}")
        case 1 => HttpResp(200, s"1;m${calls.size}")
      }
    }
    val out = OrderApiIngest.fetchWindow(transport, api,
      LocalDateTime.parse("2025-10-01T00:00:00"),
      LocalDateTime.parse("2025-10-01T01:00:00"), "S", limit = 2)
    // first 10-min window split into 10 one-minute fetches + 5 other 10-min windows
    assert(out.size == 15, s"got ${out.size}: ${out.map(_.purchaseOrderId)}")
    assert(out.map(_.purchaseOrderId).forall(id => id.startsWith("m") || id.startsWith("t")))
  }

  test("UpdateInsert with only key columns is rejected up front") {
    val e = intercept[IllegalArgumentException] {
      JdbcUpsertSink.buildSql("t", Seq("id", "sku"),
        JdbcUpsertSink.UpdateInsert(Seq("id", "sku")))
    }
    assert(e.getMessage.contains("non-key"))
  }

  test("backupTable emits MySQL LIKE-clone for mysql urls, ANSI CTAS otherwise") {
    // ANSI path runs live on Derby
    val admin = new JdbcAdmin(url, maxRetries = 0)
    admin.execute("CREATE TABLE bk_src (id INT)")
    admin.execute("INSERT INTO bk_src VALUES (1), (2)")
    admin.backupTable("bk_src", "bk_dst")
    assert(admin.countRows("bk_dst") == 2)
    // MySQL path: LIKE-clone (preserves keys/indexes; MySQL lacks WITH NO DATA)
    val my = new JdbcAdmin("jdbc:mysql://host/db")
    assert(my.backupCloneSql("a", "b") == "CREATE TABLE b LIKE a")
    assert(admin.backupCloneSql("a", "b")
      == "CREATE TABLE b AS SELECT * FROM a WITH NO DATA")
  }

  test("env overlay: double underscore addresses sections containing underscores") {
    val c = GraftConfig.resolve(envPrefix = "GRAFT_",
      env = Map(
        "GRAFT_MY_SECTION__KEY" -> "v1",
        "GRAFT_KAFKA_BOOTSTRAP_SERVERS" -> "b:9092"))
    assert(c("my_section.key") == "v1")
    assert(c("kafka.bootstrap_servers") == "b:9092") // single-underscore fallback intact
  }

  test("rolling_hash SQL registration validates arity") {
    graft.functions.RollingHash.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT rolling_hash('a', 'b')").collect()
    }
    assert(e.getMessage.toLowerCase.contains("rolling_hash"))
    // correct arity still works
    assert(spark.sql("SELECT rolling_hash('ab') AS h").collect()(0).getLong(0) ==
      graft.functions.RollingHash.hash("ab"))
  }

  test("transport failures consume exactly one retry each") {
    val attempts = new AtomicInteger()
    val api = Api(
      listUrl = (_, _, _, _) => "u",
      fetchToken = () => "tok",
      parsePage = body => (1, Seq(Order(body, "{}"))))
    val transport: Transport = _ =>
      if (attempts.incrementAndGet() <= 3) throw new java.io.IOException("flaky")
      else HttpResp(200, "OK")
    // maxRetries=3 must tolerate exactly 3 transport failures
    val out = OrderApiIngest.fetchWindow(transport, api,
      LocalDateTime.parse("2025-10-01T00:00:00"),
      LocalDateTime.parse("2025-10-01T01:00:00"), "S", maxRetries = 3, pauseMs = 1)
    assert(out.map(_.purchaseOrderId) == Seq("OK"))
    assert(attempts.get() == 4)
  }

  test("lshCandidatesOf plan construction runs zero Spark jobs (r14 review: lazy library contract)") {
    // The banding suspect census is persisted and (inside a staged
    // write only) eagerly counted; a library caller constructing a
    // plan must not trigger ANY job — merely calling lshCandidatesOf
    // or explaining its plan used to run the corpus census.
    // Deterministic listener-bus drain (ADVICE r14): a fixed sleep can
    // under-wait on a loaded box and pass spuriously. Instead, run a
    // MARKER job (distinct job group) after plan construction: the bus
    // delivers events to a listener in posting order, so once the
    // marker's start event arrives, any job started during plan
    // construction must already have been counted.
    val nonMarkerJobs = new AtomicInteger(0)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val markerGroup = "graft-zero-jobs-marker"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val group = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        if (group.contains(markerGroup)) markerSeen.countDown()
        else nonMarkerJobs.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val docs = (1L to 50L).map(i => (i, s"alpha beta gamma delta $i"))
        .toDF("doc_id", "text")
      val plan = graft.operators.DedupOps.lshCandidatesOf(docs)
      plan.queryExecution.executedPlan: Unit // force full planning
      spark.sparkContext.setJobGroup(markerGroup, "listener drain marker", false)
      try spark.range(1).count(): Unit
      finally spark.sparkContext.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus failed to deliver the marker job start")
      assert(nonMarkerJobs.get() == 0,
        s"plan construction ran ${nonMarkerJobs.get()} Spark job(s); must be lazy")
      assert(plan.count() >= 0) // the plan itself still executes fine
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.operators.CacheRegistry.release(spark): Unit
    }
  }

  test("band persist lifecycle: library calls releasable, staged builds self-clean (r15)") {
    import graft.operators.{CacheRegistry, DedupOps}
    spark.catalog.clearCache()
    CacheRegistry.release(spark): Unit
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    // library call: the signature frame, the band stream and the guard's
    // suspect census are all query-scoped
    val docs = (1L to 80L).map(i => (i, s"common shared text body $i"))
      .toDF("doc_id", "text")
    val before = persisted
    val cand = DedupOps.lshCandidatesOf(docs)
    assert(CacheRegistry.size(spark) == 3,
      "signature, band and census frames must be registered before any action")
    cand.count(): Unit
    // the consuming count's completion listener releases all three:
    // nothing the library call persisted survives its query
    assert(awaitTrue(CacheRegistry.size(spark) == 0),
      "the frames must auto-release when their consuming query completes")
    assert(awaitTrue((persisted -- before).isEmpty),
      s"persisted RDDs survived the consuming query: ${persisted -- before}")
    assert(CacheRegistry.release(spark) == 0,
      "explicit release after the auto-release is a no-op")
    spark.catalog.clearCache()
    // cold STAGED build (query-time read-through): it plans like a
    // stageAll chain — no band-stream persist, an eagerly filled
    // suspect census — and the census is consumed by the parquet write
    // and must be auto-released by the write-completion hook: no
    // persisted frames survive the build
    val root = java.nio.file.Files
      .createTempDirectory("graft_band_lifecycle").toString
    DedupOps.withStagingRoot(Some(root)) {
      val pre = persisted
      DedupOps.lshCandidates(spark, "/root/testdata/sf0.001").count(): Unit
      val leaked = persisted -- pre
      assert(leaked.isEmpty,
        s"staged cold build leaked persisted RDDs: $leaked")
      assert(CacheRegistry.size(spark) == 0,
        "staged-build persists must not land in the query-scoped registry")
    }
    spark.catalog.clearCache()
  }
}
