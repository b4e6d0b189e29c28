package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * Kept deliberately thin: [[parquet]] hands Catalyst a plain parquet
  * relation it can push filters and column pruning into — any wrapping
  * (caching, collecting, schema rewriting) here would only get in the
  * optimizer's way. At cluster scale the same call reads a partitioned
  * directory tree with partition pruning for free. The one thing it
  * adds is where the schema comes from: the footer is read on the
  * driver, so building the DataFrame starts no Spark job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) (which
      // Spark surfaces as long under spark.sql.legacy.parquet.nanosAsLong)
      // and TIMESTAMP(MICROS). Normalize to TIMESTAMP_NTZ either way —
      // the micros truncation is what DuckDB applies to nanos, so oracle
      // comparisons line up — and decide from the RESOLVED schema, not
      // from an assumption about the file: hard-coding `ts div 1000`
      // breaks analysis for every events query the moment the testdata
      // generator switches units.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = parquet(spark, s"$sfDir/events.parquet")
      import org.apache.spark.sql.functions.expr
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      // All conversions go through raw epoch micros added to an NTZ
      // epoch literal: `cast(... as timestamp_ntz)` from TimestampType
      // renders in the SESSION timezone, so a non-UTC consumer session
      // would see shifted events timestamps relative to the oracle.
      // timestampadd over TIMESTAMP_NTZ never consults the session tz.
      val epochNtz = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
      raw.schema("ts").dataType match {
        case LongType => // nanos surfaced as long → truncate to micros
          raw.withColumn("ts",
            expr(s"timestampadd(MICROSECOND, ts div 1000, $epochNtz)"))
        case TimestampNTZType => raw // already zone-free wall time
        case _ => // instant type → UTC wall time, session-tz-independent
          raw.withColumn("ts",
            expr(s"timestampadd(MICROSECOND, unix_micros(ts), $epochNtz)"))
      }
    } else parquet(spark, s"$sfDir/$name.parquet")
  }

  /** Every parquet read under src/main: `spark.read.parquet(path)` with
    * its schema read from one footer on the driver first
    * ([[GraftParquetShim.footerSchema]]). Without a schema, the read
    * starts a one-task job just to read that footer. Files are still
    * listed on every call, and nothing is cached across calls: a
    * rewritten directory is seen at the next read. Falls back to
    * Spark's own inference when the footer does not decide the schema
    * (no data file, or schema merging on). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    GraftParquetShim.footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every table as a temp view so `spark.sql` text works —
    * the analogue of the reference's Table-API registration
    * (utils/flink_table_api_utils.py:129-174).
    *
    * Memoized per (session, dir): registering the ten views lists each
    * table twice, reads its footer and analyzes its view — about
    * 0.11 s at sf0.001 on a 4-core host with no Spark job, against a
    * 0.19–0.28 s run of q16, the SQL-text query it serves (schema
    * inference made it about 0.7 s and ten jobs). Re-registering is
    * only needed when the data dir changes; a dir switch (scale-factor
    * change mid-session, as Bench and the tests do) invalidates the
    * memo. The memo hit still confirms every canonical view EXISTS (a
    * cheap in-memory catalog lookup) so foreign code dropping one of
    * these names forces a re-register instead of failing downstream
    * SQL; it deliberately does NOT detect a view REPLACED under a
    * canonical name — callers registering their own views must not
    * collide with [[names]].
    * WeakHashMap keys: a retired SparkSession must not be pinned by
    * this cache. */
  private val registeredFor = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    def current =
      registeredFor.get(spark) == sfDir &&
        names.forall(spark.catalog.tableExists)
    if (!current) synchronized {
      if (!current) {
        names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
        registeredFor.put(spark, sfDir)
      }
    }
  }
}
