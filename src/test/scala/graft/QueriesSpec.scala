package graft

import org.apache.spark.sql.functions._

/** Smoke + semantic checks for every SparkEntry query. The exact
  * value-level gate is the DuckDB oracle (tools/check.py mirrors the
  * driver); here we assert structural invariants cheaply. */
class QueriesSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and returns rows") {
    // ...and leaves nothing cached once its action has completed, both
    // when the shared tables are staged (cold, into a fresh root) and
    // when every query recomputes them
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val fresh = java.nio.file.Files.createTempDirectory("graft_queries_stage").toString
    Seq(Some(fresh), None).foreach { root =>
      operators.DedupOps.withStagingRoot(root) {
        SparkEntry.queries.foreach { case (name, fn) =>
          val df = fn(spark, sf)
          assert(df.count() > 0, s"$name returned no rows")
          assert(awaitTrue(cache.isEmpty),
            s"$name left a cached plan behind (staging root $root)")
        }
      }
    }
  }

  test("every query has matching oracle or is consciously rows-only") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // keep this list explicit so nothing silently loses its oracle
    assert(noOracle.isEmpty, s"queries without oracle: $noOracle")
    // and no orphaned oracle: a typo'd key would silently skip the compare
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without query: $orphans")
  }

  test("pricing summary groups are complete") {
    val df = operators.RelationalOps.pricingSummary(spark, sf)
    val flags = df.select("l_returnflag").distinct().collect().map(_.getString(0)).toSet
    assert(flags.subsetOf(Set("A", "N", "R")) && flags.nonEmpty)
  }

  test("topk emits at most k rows per group, ranked") {
    val df = operators.RelationalOps.topKPerGroup(spark, sf, k = 3)
    val bad = df.groupBy("o_custkey").count().where(col("count") > 3).count()
    assert(bad == 0)
    assert(df.where(col("rk") > 3).count() == 0)
  }

  test("interval join respects the 24h bound") {
    val df = operators.WindowOps.intervalJoin(spark, sf)
    assert(df.count() > 0)
  }

  test("session windows respect the 30-minute gap invariant") {
    import org.apache.spark.sql.expressions.Window
    val s = operators.WindowOps.session(spark, sf)
    // within a user, consecutive sessions must be separated by > gap:
    // next session_start - previous session_end >= 0 (sessions don't overlap)
    val w = Window.partitionBy("user_id").orderBy("session_start")
    val overlaps = s.withColumn("prev_end", lag("session_end", 1).over(w))
      .where(col("prev_end").isNotNull && col("session_start") < col("prev_end"))
      .count()
    assert(overlaps == 0)
  }
}
