package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Transforms
import graft.sources.Sources
import graft.streaming.StreamOps

class ApiSurfaceSpec extends SparkSpec {
  import spark.implicits._

  /** (file name, text) of every Scala source under src/main. */
  private def mainSources: Seq[(String, String)] = sourcesUnder("src/main")

  /** (file name, text) of every Scala source under `dir`. */
  private def sourcesUnder(dir: String): Seq[(String, String)] = {
    val root = new java.io.File(dir)
    assert(root.isDirectory, s"source tree not found at ${root.getAbsolutePath}")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    scalaFiles(root).map(f => f.getName -> java.nio.file.Files.readString(f.toPath))
  }

  test("tumbleSql generates runnable SQL with window start/end") {
    Tables.events(spark, sf).createOrReplaceTempView("events_v")
    val sql = StreamOps.tumbleSql("events_v", "ts", "1 hour",
      keys = Seq("event_type"),
      aggSelects = Seq("COUNT(*) AS cnt", "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total"))
    val out = spark.sql(sql)
    assert(out.columns.toSet == Set("event_type", "cnt", "total", "window_start", "window_end"))
    assert(out.count() > 0)
    // window bounds are exactly the size apart
    val bad = out.where(
      col("window_end").cast("timestamp").cast("long") -
        col("window_start").cast("timestamp").cast("long") =!= 3600).count()
    assert(bad == 0)
  }

  test("streaming file source reads csv with explicit schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csvstream")
    java.nio.file.Files.writeString(dir.resolve("part1.csv"), "1,a\n2,b\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val stream = Sources.file(spark, dir.toString, "csv", Some(schema), streaming = true)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("csv_stream_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("csv_stream_out").count() == 2)
  }

  test("typed map/flatMap/keyBy wrappers behave like the reference operators") {
    val ds = Seq("a b", "c", "a c").toDS()
    val mapped = Transforms.map(ds, (s: String) => s.length)
    assert(mapped.collect().sorted.toSeq == Seq(1, 3, 3))
    val flat = Transforms.flatMap(ds, (s: String) => s.split(" ").toSeq)
    assert(flat.count() == 5)
    val grouped = Transforms.keyBy(flat, identity[String]).count().collect().toMap
    assert(grouped == Map("a" -> 2, "b" -> 1, "c" -> 2))
  }

  test("GraftConfig-driven session settings reach the SQL conf") {
    // the session factory is exercised by every main; assert the
    // scale-relevant settings it promises
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("every SPARK_GRAFT_* env dial named under src/main is an allowlisted production knob") {
    // one line per kept dial and why it stays; an A/B switch for a
    // settled decision does not belong here, it belongs deleted
    val allowed = Map(
      "SPARK_GRAFT_CPUS" -> "local thread and shuffle-partition count: deployment sizing",
      "SPARK_GRAFT_MASTER" -> "master URL override, e.g. local-cluster for multi-executor runs",
      "SPARK_GRAFT_SF_DIR" -> "graft.Bench input directory: the bench driver's contract",
      "SPARK_GRAFT_QUERIES" -> "graft.Bench query subset for table-subset scale dirs",
      "SPARK_GRAFT_WARM" -> "graft.Bench page-cache warm pass, off for cold-cache runs",
      "SPARK_GRAFT_LOADAVG_MAX" -> "graft.Bench refuses to time a contended box above this load")
    val named = mainSources.flatMap { case (file, text) =>
      "SPARK_GRAFT_[A-Z0-9_]+".r.findAllIn(text).map(_ -> file)
    }
    val unlisted = named.filterNot { case (n, _) => allowed.contains(n) }
    assert(unlisted.isEmpty, s"env dials outside the allowlist: ${unlisted.distinct}")
    assert(named.map(_._1).toSet == allowed.keySet,
      "an allowlisted dial no longer in the source must leave the allowlist")
  }

  test("every main entry point under src/main is an allowlisted CLI") {
    // one line per kept main and why it stays; a one-off measurement
    // main belongs in a spec assertion, not in src/main
    val allowed = Map(
      "Bench" -> "the suite's per-query timing line: the bench driver's contract",
      "Verify" -> "writes every query's output for the DuckDB oracle check",
      "Explain" -> "prints selected queries' physical plans",
      "EnvCheck" -> "environment smoke check: JVM, runtime classes, JDBC, testdata",
      "MakeScaleData" -> "builds the K-times replicated scale dirs for scaling runs",
      "SchemaTripwire" -> "checks testdata parquet footers against the pinned schema",
      "AdmissionPipelineSoak" -> "long admission soak whose batch shape perfbench's admission workload cites")
    // the entry point is named by the nearest top-level (unindented)
    // `object` above it; nested objects such as case objects don't count
    val objectDecl = """(?m)^(?:[\w\[\]]+\s+)*object\s+(\w+)""".r
    val entry = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val named = mainSources.flatMap { case (file, text) =>
      val objects = objectDecl.findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
      entry.findAllMatchIn(text).map { m =>
        objects.takeWhile(_._1 < m.start).lastOption
          .map(_._2).getOrElse(file) -> file
      }
    }
    val unlisted = named.filterNot { case (n, _) => allowed.contains(n) }
    assert(unlisted.isEmpty, s"main entry points outside the allowlist: ${unlisted.distinct}")
    assert(named.map(_._1).toSet == allowed.keySet,
      "an allowlisted main no longer in the source must leave the allowlist")
  }

  test("every graft.* system property read under src/main is an allowlisted knob") {
    // same rule as the env dials: one line per kept property and why
    val allowed = Map(
      "graft.stage.dir" -> "staging root: where stageAll writes and staged queries read")
    // every read spelling: sys.props(k), sys.props.get/getOrElse/
    // contains(k), System.getProperty(k[, default])
    val read =
      """(?:sys\.props(?:\.get|\.getOrElse|\.contains)?|System\.getProperty)\(\s*"(graft\.[^"]+)"""".r
    val named = mainSources.flatMap { case (file, text) =>
      read.findAllMatchIn(text).map(m => m.group(1) -> file)
    }
    val unlisted = named.filterNot { case (n, _) => allowed.contains(n) }
    assert(unlisted.isEmpty, s"system properties outside the allowlist: ${unlisted.distinct}")
    assert(named.map(_._1).toSet == allowed.keySet,
      "an allowlisted property no longer read in the source must leave the allowlist")
  }

  test("the admission posting-table layout is written in one place") {
    // stage, absorb and compaction all go through
    // PostingCompaction.write; a second bucketBy under streaming is a
    // copy of the layout that can drift from it
    val writes = sourcesUnder("src/main/scala/graft/streaming").flatMap { case (file, text) =>
      "bucketBy\\(".r.findAllIn(text).map(_ => file)
    }
    assert(writes == Seq("PostingCompaction.scala"),
      s"bucketBy( under graft/streaming, expected once in PostingCompaction: $writes")
  }

  test("each admission gate's probe is defined once and the pipeline only composes them") {
    // AdmissionPipeline's verdict aggregation takes each gate's raw hit
    // rows from its probeHits; a second band-agreement, cosine or
    // bucket expression, or a posting-table read in the pipeline, is a
    // fork of a gate's probe that can drift from the gate
    val streaming = sourcesUnder("src/main/scala/graft/streaming")
    Seq("band_match_count(", "dot_product(", "signBucket(").foreach { probe =>
      val defs = streaming.flatMap { case (file, text) =>
        java.util.regex.Pattern.quote(probe).r.findAllIn(text).map(_ => file)
      }
      assert(defs.size == 1, s"$probe under graft/streaming, expected once: $defs")
    }
    val pipeline = streaming.collect { case ("AdmissionPipeline.scala", text) => text }
    assert(pipeline.size == 1, "AdmissionPipeline.scala not found under graft/streaming")
    val forks = Seq("band_match_count", "span_hashes", "dot_product", "spark.table(")
      .filter(pipeline.head.contains)
    assert(forks.isEmpty, s"probe code in AdmissionPipeline.scala: $forks")
  }

  test("concurrent work is launched by one runner, ConcurrentJobs") {
    // stageAll's chains, the admission loop's per-table writes and
    // Bench's page-cache warm share its pool sizing, FAIR pools and
    // cancel-drain-rethrow failure path; a second thread pool is a
    // second launcher that can drift from it
    val launchers = mainSources.flatMap { case (file, text) =>
      "Executors\\.new|ExecutionContext\\.fromExecutor".r.findAllIn(text).map(_ => file)
    }
    assert(launchers.nonEmpty && launchers.forall(_ == "ConcurrentJobs.scala"),
      s"thread pools under src/main, expected only in ConcurrentJobs: $launchers")
  }

  test("the LSH band guard is written once, in SkewGuard") {
    // the minhash, simhash and embedding self-joins all take their
    // collapse and bucket cap from SkewGuard.guardedBands; a capBuckets(
    // or min_by( elsewhere, or a second guard-off branch, is a copy of
    // the guard that can drift from it
    val guardCalls = mainSources.flatMap { case (file, text) =>
      "capBuckets\\(|min_by\\(".r.findAllIn(text).map(_ => file)
    }
    assert(guardCalls.nonEmpty && guardCalls.forall(_ == "SkewGuard.scala"),
      s"capBuckets( / min_by( under src/main, expected only in SkewGuard: $guardCalls")
    val offBranches = mainSources.flatMap { case (file, text) =>
      "maxGroupAllPairs == Int\\.MaxValue".r.findAllIn(text).map(_ => file)
    }
    assert(offBranches == Seq("SkewGuard.scala"),
      s"guard-off collapse branches under src/main, expected one in SkewGuard: $offBranches")
  }

  test("the minhash signature has one producer and is spread into mh columns once") {
    // every signature is DedupOps.withSignatureAll's __sig array; a
    // second minhash_sig( call or a col(s"mh$i") pack brings back a
    // parallel format and its pack/unpack round trips
    val functions = sourcesUnder("src/main/scala/graft/functions").map(_._1).toSet
    val producers = mainSources.filterNot(f => functions(f._1)).flatMap {
      case (file, text) => "minhash_sig\\(".r.findAllIn(text).map(_ => file)
    }
    assert(producers == Seq("DedupOps.scala"),
      s"minhash_sig( outside graft/functions, expected once in DedupOps: $producers")
    val packs = mainSources.flatMap { case (file, text) =>
      "col\\(s\"mh\\$".r.findAllIn(text).map(_ => file)
    }
    assert(packs.isEmpty, s"col(s\"mh$$...) packs under src/main: $packs")
    val spread = mainSources.flatMap { case (file, text) =>
      "\\.as\\(s\"mh\\$".r.findAllIn(text).map(_ => file)
    }
    assert(spread == Seq("DedupOps.scala", "DedupOps.scala"),
      s"mh column names under src/main, expected the minhashSignatures spread and the signaturesFrom reference: $spread")
  }

  test("every engine persist goes through CacheRegistry or a same-function try/finally") {
    // CacheRegistry.scoped gives a persist its owner (the staged write
    // or the consuming query); any other .persist( under src/main must
    // be released by the function that takes it
    val allowed = Map(
      "CacheRegistry.scala" -> (2, "scoped and filled: the one lifecycle"),
      "Sinks.scala" -> (1, "withDeadLetter: try/finally around the two sink passes"),
      "GraphOps.scala" -> (1, "connectedComponents: try/finally around the round jobs"),
      "DedupOps.scala" -> (1, "prefixJaccardPairsOf: try/finally, the candidates are checkpointed inside"),
      "EmbeddingOps.scala" -> (1, "kmeansCentroids: try/finally around the Lloyd iterations"),
      "AdmissionPipelineSoak.scala" -> (1, "CLI main: the corpus frame lives for the whole process"))
    val persists = mainSources.flatMap { case (file, text) =>
      "\\.persist\\(".r.findAllIn(text).map(_ => file)
    }.groupBy(identity).map { case (f, hits) => f -> hits.size }
    assert(persists == allowed.map { case (f, (n, _)) => f -> n },
      s".persist( per file under src/main, expected ${allowed.map { case (f, (n, _)) => f -> n }}: $persists")
    val retired = mainSources.flatMap { case (file, text) =>
      "SessionCacheRegistry|release\\w*Cache".r.findAllIn(text).map(m => s"$file: $m")
    }
    assert(retired.isEmpty, s"a second cache registry or release function under src/main: $retired")
  }

  test("every parquet read under src/main goes through Tables.parquet") {
    // a read without a schema starts a one-task Spark job to read one
    // footer; Tables.parquet reads that footer on the driver instead.
    // MakeScaleData reads through it too, so the list has no exceptions
    val reads = mainSources.flatMap { case (file, text) =>
      "read\\.parquet\\(".r.findAllIn(text).map(_ => file)
    }
    assert(reads.nonEmpty && reads.forall(_ == "Tables.scala"),
      s"read.parquet( under src/main, expected only in Tables.parquet: $reads")
  }

  test("perfbench's staged query list matches graft.Bench.stagedNames") {
    // perfbench keeps its own copy of the list; a query added to or
    // dropped from one of them silently misses the other
    val f = java.nio.file.Paths.get("perfbench/src/main/scala/perfbench/Queries.scala")
    assert(java.nio.file.Files.exists(f), s"not found: ${f.toAbsolutePath}")
    val text = java.nio.file.Files.readString(f)
    val decl = """val staged: Seq\[String\] = Seq\(([^)]*)\)""".r
    val listed = decl.findFirstMatchIn(text).map(m =>
      "\"([^\"]+)\"".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)
    assert(listed.contains(Bench.stagedNames),
      s"perfbench staged list $listed differs from Bench.stagedNames ${Bench.stagedNames}")
  }
}
