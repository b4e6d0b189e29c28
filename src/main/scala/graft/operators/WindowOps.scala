package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.RelationalOps.decSum

/** Time-window aggregations (SURVEY.md §2.7 W1-W3/W8, §2.6 A5/A8).
  *
  * Batch forms of the reference's tumbling / sliding / session window
  * builders (utils/flink_window_utils.py:89-227) and SQL
  * TUMBLE/HOP/SESSION generators (:467-611). The same `window()` /
  * `session_window()` expressions run unchanged under Structured
  * Streaming with `withWatermark` (see graft.streaming).
  *
  * Scale note: `window()` is a scalar bucket computation — the
  * aggregation is an ordinary hash agg with map-side combine, so the
  * shuffle carries one row per (bucket, key), not per event.
  */
object WindowOps {

  /** Tumbling 1-hour count+sum per event_type — the stage-2
    * "per-hour order count & amount" acceptance shape
    * (stage2_window_statistics/README.md:7-11). */
  def tumbling(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("event_count"), decSum(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("event_count"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  val tumblingSql: String =
    """SELECT date_trunc('hour', ts) AS window_start,
      |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
      |  event_type, COUNT(*) AS event_count,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin

  /** Sliding (HOP) window: 2-hour size, 1-hour slide, global (no key)
    * — W2 / utils/flink_window_utils.py:139-184. */
  def sliding(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("event_count"), decSum(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_count"), col("total_value"))
      .orderBy(col("window_start"))

  /** DuckDB oracle: each event belongs to the two hourly-aligned 2-hour
    * windows covering it; enumerate both starts and filter. */
  val slidingSql: String =
    """SELECT ws AS window_start, ws + INTERVAL 2 HOUR AS window_end,
      |  COUNT(*) AS event_count,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM (
      |  SELECT unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws, ts, value
      |  FROM events) t
      |WHERE ts >= ws AND ts < ws + INTERVAL 2 HOUR
      |GROUP BY ws ORDER BY ws""".stripMargin

  /** Session window, 30-minute gap, keyed by user — W3 /
    * utils/flink_window_utils.py:186-227. Spark's built-in
    * `session_window` (≥3.2). */
  def session(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("event_count"), decSum(col("value")).as("total_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("event_count"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** Gaps-and-islands formulation: a new session starts when the gap
    * from the previous event of the same user is > 30 min; session end
    * = last event + gap (Spark session_window semantics for point
    * events). */
  val sessionSql: String =
    """SELECT MIN(ts) AS session_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
      |  user_id, COUNT(*) AS event_count,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM (
      |  SELECT user_id, ts, value,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM (
      |    SELECT user_id, ts, value,
      |      CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS is_new
      |    FROM events) a) b
      |GROUP BY user_id, session_id ORDER BY user_id, session_start""".stripMargin

  /** Interval join (JN3) / stream-stream window join (JN1) batch
    * analogue: for each signup, purchases by the same user within the
    * next 24 hours. At scale this is an equi-join on user_id (one
    * shuffle) with the range predicate applied post-join; in streaming
    * form the same condition bounds state via watermarks. */
  def intervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val signups = ev.where(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"), col("ts").as("signup_ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    signups.join(purchases, Seq("user_id"))
      .where(col("purchase_ts") >= col("signup_ts") &&
        col("purchase_ts") < col("signup_ts") + expr("INTERVAL 24 HOURS"))
      .select(col("user_id"), col("signup_id"), col("purchase_id"),
        col("value").cast("decimal(18,2)").cast("double").as("purchase_value"))
      .orderBy(col("user_id"), col("signup_id"), col("purchase_id"))
  }

  /** Stream-stream window equi-join (JN1) batch analogue: signups and
    * purchases of the same user paired when they fall in the SAME
    * tumbling 1-hour window — the reference's window-join semantics
    * (utils/flink_transform_utils.py:377-428): bucketized time
    * equality on top of the equi-key. */
  def windowJoinQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val l = ev.where(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"),
        window(col("ts"), "1 hour").as("w"))
    val r = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("user_id_r"), col("event_id").as("purchase_id"),
        window(col("ts"), "1 hour").as("w2"))
    l.join(r, col("user_id") === col("user_id_r") && col("w") === col("w2"))
      .select(col("user_id"), col("w.start").as("window_start"),
        col("signup_id"), col("purchase_id"))
      .orderBy("user_id", "window_start", "signup_id", "purchase_id")
  }

  val windowJoinQuerySql: String =
    """SELECT s.user_id AS user_id, date_trunc('hour', s.ts) AS window_start,
      |  s.event_id AS signup_id, p.event_id AS purchase_id
      |FROM (SELECT * FROM events WHERE event_type = 'signup') s
      |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON s.user_id = p.user_id
      | AND date_trunc('hour', s.ts) = date_trunc('hour', p.ts)
      |ORDER BY user_id, window_start, signup_id, purchase_id""".stripMargin

  val intervalJoinSql: String =
    """SELECT s.user_id AS user_id, s.event_id AS signup_id, p.event_id AS purchase_id,
      |  CAST(CAST(p.value AS DECIMAL(18,2)) AS DOUBLE) AS purchase_value
      |FROM (SELECT * FROM events WHERE event_type = 'signup') s
      |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON s.user_id = p.user_id
      | AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL 24 HOUR
      |ORDER BY user_id, signup_id, purchase_id""".stripMargin

  /** q65: ordered event funnel — per user, the earliest view, the
    * earliest click strictly after that view, the earliest purchase
    * strictly after that click; reported as per-stage user counts with
    * step conversion in per-mille. The product-analytics staple that
    * needs ORDER among events, not just co-occurrence (windowJoin) or
    * proximity (intervalJoin).
    *
    * Scale shape: three per-user min-aggregates chained by equi-joins
    * on user_id — every stage is key-partitioned on the same key, so
    * a cluster plans one shuffle and co-partitioned joins after it;
    * no window over the raw event stream, no per-user state.
    *
    * The v and c stage frames are each referenced twice (by the next
    * stage AND by the counts row) and Spark does not share the
    * subtrees — unpersisted, the r21 plan audit counted SIX event
    * scans per run (each stage's whole chain re-executed per
    * reference). Both frames are per-user minima (one narrow row per
    * surviving user), so they persist (MEMORY_AND_DISK, query-scoped
    * like q56's tf frame) and the plan pays three pushed-filter event
    * scans — one per stage — and each aggregate once. */
  def eventFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select("user_id", "event_type", "ts")
    def first(tpe: String): DataFrame = ev.where(col("event_type") === tpe)
      .groupBy("user_id").agg(min("ts").as(s"t_$tpe"))
    val v = CacheRegistry.scoped(first("view"))
    val c = CacheRegistry.scoped(ev.where(col("event_type") === "click")
      .join(v, "user_id").where(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click")))
    val p = ev.where(col("event_type") === "purchase")
      .join(c, "user_id").where(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min("ts").as("t_purchase"))
    val counts = v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
    counts.selectExpr(
        """stack(3,
          |  0, 'view',     n_view,     1000L,
          |  1, 'click',    n_click,    n_click * 1000 div n_view,
          |  2, 'purchase', n_purchase, n_purchase * 1000 div n_click
          |) AS (stage_idx, stage, n_users, conv_pm)""".stripMargin)
      .orderBy("stage_idx")
  }

  val eventFunnelSql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS t_click
      |  FROM events e JOIN v ON v.user_id = e.user_id
      |  WHERE e.event_type = 'click' AND e.ts > v.t_view
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS t_purchase
      |  FROM events e JOIN c ON c.user_id = e.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      |  GROUP BY e.user_id),
      |n AS (
      |  SELECT (SELECT count(*) FROM v) AS n_view,
      |         (SELECT count(*) FROM c) AS n_click,
      |         (SELECT count(*) FROM p) AS n_purchase)
      |SELECT 0 AS stage_idx, 'view' AS stage, n_view AS n_users,
      |  CAST(1000 AS BIGINT) AS conv_pm FROM n
      |UNION ALL SELECT 1, 'click', n_click, n_click * 1000 // n_view FROM n
      |UNION ALL SELECT 2, 'purchase', n_purchase, n_purchase * 1000 // n_click FROM n
      |ORDER BY stage_idx""".stripMargin

  /** q66: weekly cohort retention — users cohorted by the week of
    * their first signup; for each cohort and week offset k, how many
    * were active (any event) in cohort week + k, as count and
    * per-mille of cohort size. The second product-analytics staple
    * after the funnel, and the classic "triangle" report.
    *
    * Scale shape: cohort assignment is one per-user min-aggregate;
    * activity is a DISTINCT (user, week) aggregate (map-side combine
    * collapses the event stream); both join on user_id — same-key
    * shuffles a cluster co-partitions. The final matrix is
    * cohorts × offsets, a constant-sized aggregate. */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    // cohort is referenced twice (sizes + the activity join) and the
    // subtree re-executed per reference (r21 plan audit: 3 event
    // scans); one narrow per-user row → query-scoped persist
    val cohort = CacheRegistry.scoped(ev.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t0"))
      .withColumn("cohort_week", date_trunc("week", col("t0"))).drop("t0"))
    val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    val activity = ev.select(col("user_id"),
        date_trunc("week", col("ts")).as("act_week")).distinct()
    cohort.join(activity, "user_id")
      .withColumn("week_offset",
        expr("cast(datediff(act_week, cohort_week) div 7 as int)"))
      .where(col("week_offset") >= 0)
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("n_active"))
      .join(sizes, "cohort_week")
      .withColumn("retention_pm", expr("n_active * 1000 div cohort_size"))
      .select("cohort_week", "week_offset", "n_active", "cohort_size", "retention_pm")
      .orderBy("cohort_week", "week_offset")
  }

  val cohortRetentionSql: String =
    """WITH cohort AS (
      |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |sizes AS (
      |  SELECT cohort_week, count(*) AS cohort_size FROM cohort GROUP BY cohort_week),
      |activity AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events),
      |m AS (
      |  SELECT c.cohort_week,
      |    CAST(date_diff('day', c.cohort_week, a.act_week) // 7 AS INT) AS week_offset,
      |    count(DISTINCT c.user_id) AS n_active
      |  FROM cohort c JOIN activity a ON a.user_id = c.user_id
      |  WHERE a.act_week >= c.cohort_week
      |  GROUP BY 1, 2)
      |SELECT m.cohort_week, m.week_offset, m.n_active, s.cohort_size,
      |  m.n_active * 1000 // s.cohort_size AS retention_pm
      |FROM m JOIN sizes s ON s.cohort_week = m.cohort_week
      |ORDER BY m.cohort_week, m.week_offset""".stripMargin
}
