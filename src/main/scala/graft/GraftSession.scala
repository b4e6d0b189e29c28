package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Plays the role of the reference's environment setup chain
  * (flink1_create_filnk_env.py:50-89 env creation,
  * flink3_add_parameter_to_flink.py:22-89 parallelism/checkpointing) —
  * re-expressed as Spark session configuration. Jar management
  * (flink2_add_jar_to_flink.py) is obsolete: dependencies live on the
  * classpath.
  *
  * Scale posture: shuffle partitions default to the local core count
  * (not 200); AQE is on so that at cluster scale the runtime re-plans
  * partition counts, skew joins, and broadcast decisions from actual
  * stage statistics.
  */
object GraftSession {

  /** Default thread/partition count, overridable via SPARK_GRAFT_CPUS. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      // FAIR task scheduling across concurrent jobs: with one query at
      // a time this is inert (a single job owns every slot either
      // way); during stageAll's all-at-once chain DAG it stops an
      // early-submitted chain's wide stage from starving the
      // critical-path chain's next stage of task slots (FIFO offers
      // slots strictly in job-submission order). A/B: PERF §36.
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // maxShuffledHashJoinLocalMapThreshold (the AQE sort-merge ->
      // shuffled-hash rewrite) stays at Spark's default, 0 = off: PERF §64
      // the driver-generated events table carries TIMESTAMP(NANOS)
      // which Spark's parquet reader only surfaces as long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // 4.1's async checksum file manager deadlocks state-store
      // commits under local-mode thread pools; plain checkpoint IO
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.ui.enabled", "false")

  /** Skew-hardened profile (VERDICT r15 #5) — the PERF §40 discovery
    * shipped as an engine dial instead of prose. The adversarial-skew
    * audit found that AQE's skew-join split is VETOED by default
    * whenever a downstream aggregation runs ON the join key (the agg
    * reuses the join's hash partitioning, splitting would insert an
    * extra exchange, and AQE declines) — exactly the TPC-H Q3 / q67
    * shape (join on l_orderkey, group by l_orderkey), so on a hot-key
    * corpus the one straggler task owns ~30% of the join while the
    * split silently never fires. `forceOptimizeSkewedJoin` trades one
    * small extra exchange on the agg for the split; the §40 bisection
    * measured the q67-shape split firing only under force, with the
    * post-split task distribution back inside the mean+4σ bound.
    *
    * Thresholds default to Spark's production values (256 MiB skew
    * threshold / 64 MiB advisory target — tuned for executor-memory-
    * sized partitions); pass scaled values for small-SF runs
    * (`SkewAuditSpec` pins the veto and the forced split at 1m/512k).
    * Apply to sessions whose workload joins possibly-hot keys and
    * aggregates on them; the force flag is deliberately NOT the
    * session default because uniform workloads pay the extra agg
    * exchange for nothing.
    *
    * Firing contract at the PRODUCTION defaults, measured (PERF §53,
    * 100× Zipf corpus): the split engages exactly when one key's
    * post-shuffle partition reaches executor-memory scale — the
    * mega-supplier join's 268 MB hot partition crossed the 256 MiB
    * threshold and the forced split landed it back at 59 MB max-read
    * (wall 16.6 → 5.5 s), while an un-forced session left it whole
    * (the §40 agg-reuses-join-partitioning veto holds at ANY size,
    * which is why the force flag, not the threshold, is the dial);
    * hot keys below executor scale (42–85 MB there) correctly stay
    * unsplit at the defaults. */
  def skewHardened(spark: SparkSession,
                   skewedPartitionThreshold: String = "256m",
                   advisoryPartitionSize: String = "64m"): SparkSession = {
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      skewedPartitionThreshold)
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      advisoryPartitionSize)
    spark
  }

  /** Local session for tests/tools; cluster deployments pass their own
    * master via spark-submit and only inherit the SQL conf above.
    *
    * SPARK_GRAFT_MASTER overrides the master URL — the instrument
    * behind the multi-executor smoke runs (VERDICT r14 stretch #8):
    * `local-cluster[2,4,4096]` launches two real executor JVMs with
    * separate block managers and a real network shuffle, closing the
    * "local-mode artifact" caveat on scheduler/staging claims without
    * a cluster. Requires SPARK_HOME (+ worker JVMs inherit
    * spark.executor.memory from the bracket args). */
  def local(appName: String = "graft"): SparkSession = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b = builder(appName).master(master)
    // local-cluster executors are SEPARATE JVMs launched by the
    // in-process worker: they inherit Spark's jars but not this
    // application's compiled classes, so ship the driver's classpath
    // on the executor classpath — the one piece spark-submit --jars
    // would otherwise do. Derived from java.class.path minus the
    // Spark distribution's own jars (ADVICE r15: the previous single
    // getClass codeSource missed any dependency living outside that
    // one directory — scalatest in forked test JVMs, and SparkEntry's
    // dir if the build ever splits outputs).
    if (master.startsWith("local-cluster")) {
      val sparkHome = sys.env.get("SPARK_HOME")
      val cp = System.getProperty("java.class.path", "")
        .split(java.io.File.pathSeparator)
        .filter(_.nonEmpty)
        .filterNot(p => sparkHome.exists(h => p.startsWith(h)))
        .mkString(java.io.File.pathSeparator)
      b.config("spark.executor.extraClassPath", cp): Unit
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
