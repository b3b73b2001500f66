package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-time windowing on `events.ts` (SURVEY.md §2.5 A5, §2.9 T2, §2.4
  * E5) as BATCH queries — the streaming twins (same `window()` calls under
  * a watermark) live in [[graft.streaming.Pipeline]]; Spark guarantees
  * stream/batch agreement for these plans, which is what the parity specs
  * assert.
  *
  * The reference's only window is Firehose's 60 s processing-time buffer
  * (`stream_processor.py:295-297`); event-time tumbling/sliding/session
  * windows are the EXT analytics surface on the driver's `events` table.
  *
  * Parity notes: the parquet `ts` is nanosecond-precision; Spark truncates
  * to µs (Tables.events), DuckDB keeps ns. Hour/half-hour buckets are
  * unaffected; the session query truncates to whole seconds in BOTH
  * engines so gap comparisons are integral.
  *
  * Scale: each query is scan → single hash-agg on (bucket, key) — the
  * partial-agg shuffle carries one row per (window × type) per partition.
  * Sliding windows double the row count BEFORE the partial agg (explode
  * factor = size/slide), which is the standard cost; session windows
  * shuffle on user_id once.
  */
object TimeWindows {

  /** A5/T2 tumbling: hourly event counts and value sums per type. */
  def tumblingHourly(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  def tumblingHourlySql: String =
    """SELECT time_bucket(INTERVAL '1 hour', ts)::TIMESTAMP AS window_start,
      |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** T2 sliding: 1-hour windows every 30 min (each event lands in
    * size/slide = 2 windows). The DuckDB twin enumerates the two window
    * starts per event explicitly — same assignment rule Spark uses
    * (slide-grid aligned to the epoch). */
  def slidingHourHalf(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  def slidingHourHalfSql: String =
    """WITH assigned AS (
      |  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
      |                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
      |           ::TIMESTAMP AS window_start,
      |    event_type, value
      |  FROM events
      |)
      |SELECT window_start, event_type, count(*) AS n_events,
      |  round(sum(value), 2) AS sum_value
      |FROM assigned
      |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** T2/T4 session windows: per-user sessions with a 10-minute inactivity
    * gap (Spark `session_window`; oracle = classic gaps-and-islands).
    * Both engines sessionize on whole-second timestamps; a new session
    * starts when the gap is STRICTLY > 10 min — Spark merges an event
    * arriving exactly at the session end (verified empirically on the one
    * exactly-600 s gap in the sf0.01 data). */
  def userSessions(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("second", col("ts")).as("ts"))
      .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  /** The twin runs over DISTINCT (user, second) with a count `n`: with
    * two events of one user in the same second, the `lag` window and the
    * running-sum window could order the tie differently, splitting one
    * session in two on some runs (seen on the x10-replicated events).
    * Distinct timestamps leave no tie to order. */
  def userSessionsSql: String =
    """WITH e AS (
      |  SELECT user_id, date_trunc('second', ts)::TIMESTAMP AS ts,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), brk AS (
      |  SELECT user_id, ts, n,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL '10 minutes'
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), sess AS (
      |  SELECT user_id, ts, n,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM brk
      |)
      |SELECT user_id, min(ts) AS session_start, sum(n)::BIGINT AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** E5 date/time scalars: hour-of-day profile per event type.
    *
    * The 4-decimal average is computed ENTIRELY in integer arithmetic:
    * `value` is a 2-decimal quantity, so per-row cents are exact longs,
    * the sum is order-independent, and half-up rounding to 1e-4 units is
    * the integer identity floor((200·cents + n) / (2n)) (values are
    * non-negative; engines differ on negative integer division). The
    * final /10000.0 of a small integer is exact. Both `avg(double)`
    * (±1 ulp by addition order) and `round(double, 4)` (Spark rounds the
    * exact binary expansion, DuckDB a float multiply) proved
    * non-portable at exact .00005 boundaries — seen at sf0.001. */
  def hourlyProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(hour(col("ts")).cast("long").as("hour_of_day"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("hour_of_day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
      .select(col("hour_of_day"), col("event_type"), col("n_events"),
        (expr("(200 * cents + n_events) div (2 * n_events)").cast("double")
          / 10000.0).as("avg_value"))
      .orderBy(col("hour_of_day"), col("event_type"))

  def hourlyProfileSql: String =
    """WITH c AS (
      |  SELECT hour(ts)::BIGINT AS hour_of_day, event_type,
      |    round(value * 100)::BIGINT AS cents
      |  FROM events
      |)
      |SELECT hour_of_day, event_type, count(*) AS n_events,
      |  (((200 * sum(cents)::BIGINT + count(*)) // (2 * count(*)))::DOUBLE
      |    / 10000.0) AS avg_value
      |FROM c GROUP BY 1, 2 ORDER BY hour_of_day, event_type""".stripMargin
}
