package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-analytics staples over the `events` stream: conversion funnel
  * and retention cohorts — the two queries every product-analytics
  * engine ships, here as one-pass conditional aggregations.
  *
  * Scale posture: both collapse the event log per user in a single
  * shuffle on the high-cardinality user_id (conditional `min`s — no
  * joins, no window over a low-cardinality key); the second aggregation
  * runs on one row per user (funnel) or one row per (user, day)
  * (retention), corpus-independent of the raw event volume.
  *
  * Timestamps compare at whole seconds / calendar days (ns-vs-µs parity,
  * FIXTURES.md §B).
  */
object EventAnalytics {

  /** Conversion funnel signup → view → purchase with LOOSE ordering
    * semantics: a user reaches a step if the FIRST occurrence of every
    * step so far is in non-decreasing time order (first-touch funnel;
    * inclusive ties, matching the as-of join's same-second treatment).
    * One row per step with the surviving user count. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    def firstOf(t: String) =
      min(when(col("event_type") === t, unix_timestamp(col("ts"))))
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(firstOf("signup").as("s"), firstOf("view").as("v"),
        firstOf("purchase").as("p"))
    val steps = perUser.agg(
      sum(when(col("s").isNotNull, 1L).otherwise(0L)).as("n1"),
      sum(when(col("s") <= col("v"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("s") <= col("v") && col("v") <= col("p"), 1L)
        .otherwise(0L)).as("n3"))
    steps.select(explode(array(
        struct(lit(1L).as("step"), lit("signup").as("step_name"), col("n1").as("n_users")),
        struct(lit(2L).as("step"), lit("signup>view").as("step_name"), col("n2").as("n_users")),
        struct(lit(3L).as("step"), lit("signup>view>purchase").as("step_name"), col("n3").as("n_users"))))
        .as("r"))
      .select(col("r.step"), col("r.step_name"), col("r.n_users"))
      .orderBy(col("step"))
  }

  def funnelSql: String =
    """WITH per_user AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup'
      |        THEN floor(epoch(ts))::BIGINT END) AS s,
      |    min(CASE WHEN event_type = 'view'
      |        THEN floor(epoch(ts))::BIGINT END) AS v,
      |    min(CASE WHEN event_type = 'purchase'
      |        THEN floor(epoch(ts))::BIGINT END) AS p
      |  FROM events GROUP BY user_id
      |), agg AS (
      |  SELECT
      |    sum(CASE WHEN s IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n1,
      |    sum(CASE WHEN s <= v THEN 1 ELSE 0 END)::BIGINT AS n2,
      |    sum(CASE WHEN s <= v AND v <= p THEN 1 ELSE 0 END)::BIGINT AS n3
      |  FROM per_user
      |)
      |SELECT step, step_name, n_users FROM (
      |  SELECT 1::BIGINT AS step, 'signup' AS step_name, n1 AS n_users FROM agg
      |  UNION ALL
      |  SELECT 2, 'signup>view', n2 FROM agg
      |  UNION ALL
      |  SELECT 3, 'signup>view>purchase', n3 FROM agg
      |) ORDER BY step""".stripMargin

  /** Retention cohorts: users grouped by the calendar day of their first
    * event; for each (cohort_day, activity_day) the count of cohort
    * members active that day. Day 0 of every cohort equals the cohort
    * size by construction. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val cohorts = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    e.distinct()
      .join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"), col("day").as("activity_day"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("activity_day"))
  }

  /** Rolling 7-day active users (q76): for every calendar day with
    * activity, the count of DISTINCT users active in the trailing 7-day
    * window — the WAU curve. Exact, not sketched: activity first
    * collapses to distinct (user_id, day) pairs (the only corpus-sized
    * shuffle, keyed on user_id), then each pair EXPLODES into its ≤7
    * window-end days and a broadcast equi-join with the calendar-bounded
    * day dimension keeps only observed days; the final distinct-count
    * shuffles (day, user_id) pairs. At 100 TB the same plan holds
    * because the fan-out is windowDays-bounded per pair (round 18: this
    * replaced a |pairs|×|days| nested-loop range join); the sketched
    * alternative (per-day HLL merged over windows) trades exactness for
    * one less shuffle and is what q34's HLL family would supply.
    *
    * Day arithmetic is integer (datediff), so the window membership test
    * is exact cross-engine. */
  def rollingActiveUsers(spark: SparkSession, dir: String,
                         windowDays: Int = 7): DataFrame = {
    require(windowDays > 0,
      s"rollingActiveUsers: windowDays must be positive ($windowDays)")
    // ROUND-18 SHAVE (§3): same bounded-explode replacement of the
    // day-dimension nested-loop range join as q145 (see stickiness);
    // the distinct (user, day) collapse now rides the shared
    // events.userDayPairs seam both queries read.
    val pairs = graft.PlanCache.cached(spark, s"events.userDayPairs:$dir") {
      Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    }
    val days = pairs.select(col("day").as("t")).distinct()
    pairs
      .select(col("user_id"), explode(expr(
        s"sequence(day, date_add(day, ${windowDays - 1}))")).as("t"))
      .join(broadcast(days), Seq("t"))
      .groupBy(col("t"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .select(col("t").as("day"), col("active_users"))
      .orderBy(col("day"))
  }

  /** DAU/WAU stickiness (q145): per calendar day — exact daily active
    * users, exact trailing-7-day active users (the q76 WAU device), and
    * the stickiness ratio in basis points (DAU·10⁴ div WAU) — the
    * engagement dial every growth dashboard carries: 10000 bp means
    * every weekly user shows up daily; a sagging ratio with flat WAU
    * means the same audience visits less often. Integer day arithmetic
    * and an integer ratio: nothing interpolated crosses engines.
    *
    * Scale posture: activity collapses once to distinct (user, day)
    * pairs (the only corpus-sized shuffle, shared by both legs via
    * PlanCache); DAU is a per-day count over the pairs; WAU re-uses the
    * q76 bounded explode + broadcast equi-join (≤ windowDays rows per
    * pair, no nested loop); the final join is |days|-row against
    * |days|-row. */
  def stickiness(spark: SparkSession, dir: String,
                 windowDays: Int = 7): DataFrame = {
    require(windowDays > 0,
      s"stickiness: windowDays must be positive ($windowDays)")
    val pairs = graft.PlanCache.cached(spark, s"events.userDayPairs:$dir") {
      Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    }
    val dau = pairs.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val days = pairs.select(col("day").as("t")).distinct()
    // ROUND-18 SHAVE (§3 avoid exploding joins): the trailing-window
    // membership used to be a BroadcastNestedLoopJoin against the day
    // dimension — |pairs| × |days| comparisons, quadratic as the
    // calendar grows. Each pair covers EXACTLY the windowDays window
    // ends [day, day+6], so a bounded explode emits those directly and
    // a broadcast EQUI-join restricts to observed days: ≤7 rows per
    // pair at any scale, no nested loop. Same device in q76.
    val wau = pairs
      .select(col("user_id"), explode(expr(
        s"sequence(day, date_add(day, ${windowDays - 1}))")).as("t"))
      .join(broadcast(days), Seq("t"))
      .groupBy(col("t"))
      .agg(countDistinct(col("user_id")).as("wau"))
      .select(col("t").as("day"), col("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        expr("dau * 10000 div wau").as("stickiness_bp"))
      .orderBy(col("day"))
  }

  def stickinessSql(windowDays: Int = 7): String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT user_id, ts::DATE AS day FROM events
       |), dau AS (
       |  SELECT day, count(DISTINCT user_id)::BIGINT AS dau
       |  FROM pairs GROUP BY day
       |), days AS (
       |  SELECT DISTINCT day AS t FROM pairs
       |), wau AS (
       |  SELECT t AS day, count(DISTINCT user_id)::BIGINT AS wau
       |  FROM pairs JOIN days
       |    ON date_diff('day', day, t) BETWEEN 0 AND ${windowDays - 1}
       |  GROUP BY t
       |)
       |SELECT dau.day, dau.dau, wau.wau,
       |  ((dau.dau * 10000) // wau.wau)::BIGINT AS stickiness_bp
       |FROM dau JOIN wau USING (day) ORDER BY dau.day""".stripMargin

  def rollingActiveUsersSql(windowDays: Int = 7): String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT user_id, ts::DATE AS day FROM events
       |), days AS (
       |  SELECT DISTINCT day AS t FROM pairs
       |)
       |SELECT t AS day, count(DISTINCT user_id) AS active_users
       |FROM pairs JOIN days ON date_diff('day', day, t) BETWEEN 0 AND ${windowDays - 1}
       |GROUP BY t ORDER BY day""".stripMargin

  def retentionSql: String =
    """WITH e AS (
      |  SELECT DISTINCT user_id, ts::DATE AS day FROM events
      |), cohorts AS (
      |  SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id
      |)
      |SELECT c.cohort_day, e.day AS activity_day, count(*) AS n_users
      |FROM e JOIN cohorts c USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_day, activity_day""".stripMargin

  /** Conversion-latency distribution (q130): for every user whose FIRST
    * purchase is at-or-after their FIRST signup (the q58 first-touch
    * rule, inclusive ties), the signup→purchase latency bucketed by
    * duration — the time-to-convert histogram next to the funnel's
    * step counts. Per bucket: converting users and share in basis
    * points. Latencies are exact integer µs differences on the
    * µs-truncated timeline.
    *
    * Scale posture: one conditional-min collapse per user (the q58
    * shape — partial+final around ONE user_id exchange, no join against
    * the raw log), then a ≤5-row bucket rollup + broadcast total. */
  def conversionLatency(spark: SparkSession, dir: String): DataFrame = {
    val cells = graft.PlanCache.cached(spark, s"events.convLatency:$dir") {
      Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "signup", unix_micros(col("ts"))))
            .as("s_us"),
          min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
            .as("p_us"))
        .filter(col("s_us").isNotNull && col("p_us").isNotNull &&
          col("p_us") >= col("s_us"))
        .withColumn("lat_us", col("p_us") - col("s_us"))
        .groupBy(
          when(col("lat_us") < 86400000000L, "a_lt_1d")
            .when(col("lat_us") < 259200000000L, "b_1_3d")
            .when(col("lat_us") < 604800000000L, "c_3_7d")
            .when(col("lat_us") < 1209600000000L, "d_7_14d")
            .otherwise("e_ge_14d").as("latency_bucket"))
        .agg(count(lit(1)).as("n_users"))
    }
    val tot = cells.agg(sum(col("n_users")).as("n_tot"))
    cells.crossJoin(broadcast(tot))
      .select(col("latency_bucket"), col("n_users"),
        expr("n_users * 10000 div n_tot").as("share_bp"))
      .orderBy(col("latency_bucket"))
  }

  def conversionLatencySql: String =
    """WITH per_user AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup'
      |        THEN epoch_us(ts::TIMESTAMP) END) AS s_us,
      |    min(CASE WHEN event_type = 'purchase'
      |        THEN epoch_us(ts::TIMESTAMP) END) AS p_us
      |  FROM events GROUP BY user_id
      |), lat AS (
      |  SELECT p_us - s_us AS lat_us FROM per_user
      |  WHERE s_us IS NOT NULL AND p_us IS NOT NULL AND p_us >= s_us
      |), cells AS (
      |  SELECT CASE WHEN lat_us < 86400000000 THEN 'a_lt_1d'
      |    WHEN lat_us < 259200000000 THEN 'b_1_3d'
      |    WHEN lat_us < 604800000000 THEN 'c_3_7d'
      |    WHEN lat_us < 1209600000000 THEN 'd_7_14d'
      |    ELSE 'e_ge_14d' END AS latency_bucket,
      |    count(*)::BIGINT AS n_users
      |  FROM lat GROUP BY 1
      |), tot AS (SELECT sum(n_users)::BIGINT AS n_tot FROM cells)
      |SELECT latency_bucket, n_users,
      |  ((n_users * 10000) // tot.n_tot)::BIGINT AS share_bp
      |FROM cells CROSS JOIN tot ORDER BY latency_bucket""".stripMargin

  /** Exact value-percentile table (q132): per event_type, the exact
    * discrete p50/p90/p99 of `value` on a 0.01 grid — the latency/value
    * SLO table every event dashboard carries, computed with the q99
    * histogram-election device so percentiles are EXACT integer-rank
    * elections, not interpolated floats: values lift to the exact
    * integer cent grid (`cast(round(value*100) as bigint)`, the
    * q107/q128 micro-unit device — Spark's BigDecimal HALF_UP and
    * DuckDB's float `round(x,2)` disagree on fractional-decimal
    * rounding, but both round-to-integer the same exact binary double),
    * the corpus collapses to a (type, cents) histogram with map-side
    * combine, and only histogram rows (bounded by the value grid, not
    * the event count) are ever windowed. cutoff_cents = min cents whose
    * cumulative count reaches ⌈p·n/100⌉ — both engines compute the
    * identical rank arithmetic, and no double ever crosses engines.
    *
    * Scale posture: at 100 TB the histogram stays |grid| rows per type
    * while a sort-based percentile would single-task each type; the
    * Spark-native `approx_percentile` sketch is the spec-gated
    * cross-check, not the answer (sketches are engine-specific —
    * a DuckDB oracle can never hash-match one). */
  def valuePercentiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byType = Window.partitionBy(col("event_type"))
    val cumW = byType.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("v"))
      .groupBy(col("event_type"), col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .withColumn("n", sum(col("cnt")).over(byType))
      .select(col("event_type"), col("v"), col("cum"), col("n"),
        explode(array(Seq(50, 90, 99).map(p => lit(p.toLong)): _*)).as("pct"))
      .filter(col("cum") >= expr("(pct * n + 99) div 100"))
      .groupBy(col("event_type"), col("pct"))
      .agg(min(col("v")).as("cutoff_cents"), max(col("n")).as("n_events"))
      .orderBy(col("event_type"), col("pct"))
  }

  def valuePercentilesSql: String =
    """WITH h AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
      |    count(*)::BIGINT AS cnt
      |  FROM events GROUP BY 1, 2
      |), c AS (
      |  SELECT event_type, v,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM h
      |), x AS (
      |  SELECT c.event_type, c.v, c.cum, c.n, p.pct
      |  FROM c CROSS JOIN (SELECT unnest([50, 90, 99]) AS pct) p
      |  WHERE c.cum >= (p.pct * c.n + 99) // 100
      |)
      |SELECT event_type, pct::BIGINT AS pct, min(v)::BIGINT AS cutoff_cents,
      |  max(n)::BIGINT AS n_events
      |FROM x GROUP BY 1, 2 ORDER BY event_type, pct""".stripMargin

  /** Mergeable quantile-sketch audit (q159): the log-binned histogram
    * sketch (DDSketch-family, public: Masson et al., VLDB 2019) priced
    * against the exact q132 percentile table. The q132 exact histogram is
    * keyed on the raw cent VALUE — unbounded as the value range grows and
    * only mergeable at full fidelity; this sketch re-keys it onto
    * relative-error log bins (4 sub-bins per octave: bin = 4·e + s over
    * v4 = 4·cents, e = ⌊log2 v4⌋ via the established length(bin(x))
    * device, s = ⌊4·v4/2^e⌋ − 4), which is the state a 1000-shard
    * federation ships: bounded (≤ 4 bins/octave ≈ 250 bins for any
    * BIGINT range), merged by plain count addition, quantiles read off
    * the merged cumulative. Bin estimates take the bin's UPPER edge, so
    * the estimate over-reads by strictly less than the 25% bin width —
    * err_bp < 2500 by construction (the spec asserts it, and that merged
    * shard sketches equal the full-data sketch). Per (event_type, pct ∈
    * {50, 90, 99}): event count, sketch size in bins, exact vs estimated
    * cents, and the error in basis points.
    *
    * Scale posture: the sketch is ONE map-side-combined groupBy on
    * (type, bin) — at 100 TB each map task emits ≤ bins rows, no value
    * ever sorts globally; the windowed cumulative runs over sketch rows
    * (bounded), exactly like q132's histogram device; the exact leg IS
    * q132 (shared shape, audit-sized join). All arithmetic BIGINT. */
  def quantileSketchAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sketch = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("cast(round(value * 100) as bigint) * 4").as("v4"))
      .select(col("event_type"),
        expr("(length(bin(v4)) - 1) * 4 + v4 * 4 div " +
          "shiftleft(cast(1 as bigint), length(bin(v4)) - 1) - 4").as("bin"))
      .groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("cnt"))
    val byType = Window.partitionBy(col("event_type"))
    val cumW = byType.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val est = sketch
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .withColumn("n", sum(col("cnt")).over(byType))
      .withColumn("n_bins", count(lit(1)).over(byType))
      .select(col("event_type"), col("bin"), col("cum"), col("n"),
        col("n_bins"),
        explode(array(Seq(50, 90, 99).map(p => lit(p.toLong)): _*)).as("pct"))
      .filter(col("cum") >= expr("(pct * n + 99) div 100"))
      .groupBy(col("event_type"), col("pct"))
      .agg(min(col("bin")).as("qbin"), max(col("n_bins")).as("n_bins"))
      .select(col("event_type"), col("pct"), col("n_bins"),
        expr("(shiftleft(cast(1 as bigint), cast(qbin div 4 as int) - 2) " +
          "* (qbin % 4 + 5) - 1) div 4").as("est_cents"))
    est.join(valuePercentiles(spark, dir), Seq("event_type", "pct"))
      .select(col("event_type"), col("pct"), col("n_events"), col("n_bins"),
        col("cutoff_cents").as("exact_cents"), col("est_cents"))
      .withColumn("err_bp",
        expr("abs(est_cents - exact_cents) * 10000 div exact_cents"))
      .orderBy(col("event_type"), col("pct"))
  }

  def quantileSketchAuditSql: String =
    """WITH vals AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) * 4 AS v4
      |  FROM events
      |), sk AS (
      |  SELECT event_type,
      |    (length(bin(v4)) - 1) * 4 +
      |      (v4 * 4 // (1::BIGINT << (length(bin(v4)) - 1))) - 4 AS bin,
      |    count(*)::BIGINT AS cnt
      |  FROM vals GROUP BY 1, 2
      |), c AS (
      |  SELECT event_type, bin,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(cnt) OVER (PARTITION BY event_type) AS n,
      |    count(*) OVER (PARTITION BY event_type) AS n_bins
      |  FROM sk
      |), x AS (
      |  SELECT event_type, bin, n_bins, pct
      |  FROM c CROSS JOIN (SELECT unnest([50, 90, 99]) AS pct) p
      |  WHERE cum >= (pct * n + 99) // 100
      |), q AS (
      |  SELECT event_type, pct, min(bin) AS qbin, max(n_bins)::BIGINT AS n_bins
      |  FROM x GROUP BY 1, 2
      |), e AS (
      |  SELECT event_type, pct::BIGINT AS pct, n_bins,
      |    (((1::BIGINT << ((qbin // 4) - 2)::INT) * (qbin % 4 + 5) - 1)
      |      // 4)::BIGINT AS est_cents
      |  FROM q
      |), h AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
      |    count(*)::BIGINT AS cnt
      |  FROM events GROUP BY 1, 2
      |), c2 AS (
      |  SELECT event_type, v,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM h
      |), x2 AS (
      |  SELECT c2.event_type, c2.v, c2.n, p.pct
      |  FROM c2 CROSS JOIN (SELECT unnest([50, 90, 99]) AS pct) p
      |  WHERE c2.cum >= (p.pct * c2.n + 99) // 100
      |), ex AS (
      |  SELECT event_type, pct::BIGINT AS pct, min(v)::BIGINT AS exact_cents,
      |    max(n)::BIGINT AS n_events
      |  FROM x2 GROUP BY 1, 2
      |)
      |SELECT e.event_type, e.pct, ex.n_events, e.n_bins, ex.exact_cents,
      |  e.est_cents,
      |  (abs(e.est_cents - ex.exact_cents) * 10000 // ex.exact_cents)::BIGINT
      |    AS err_bp
      |FROM e JOIN ex ON e.event_type = ex.event_type AND e.pct = ex.pct
      |ORDER BY e.event_type, e.pct""".stripMargin

  /** Volume-anomaly panel (q164): per (day, event_type) — event count,
    * the trailing-`trail`-day baseline (integer mean over the PRIOR days
    * present, rows-based so calendar gaps simply shrink the baseline
    * window — the documented rule), the signed deviation from baseline
    * in basis points, and an anomaly flag at ±`threshBp`. The intake
    * alarm every event pipeline carries: a type whose daily volume
    * halves (instrumentation broke) or doubles (bot flood) shows as
    * |dev_bp| ≥ 5000 the day it happens. Day 1 of each type has no
    * baseline and is excluded.
    *
    * Scale posture: the corpus collapses FIRST to the (day, type) cell
    * table with map-side combine — the trailing window runs over those
    * bounded aggregate rows (the q132 histogram-window rule: windows
    * never see raw events), partitioned by type with a rows-frame. All
    * deviations are BIGINT div arithmetic — identical in both engines. */
  def volumeAnomaly(spark: SparkSession, dir: String, trail: Int = 7,
                    threshBp: Long = 5000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(trail > 0, s"volumeAnomaly: trail must be positive ($trail)")
    val daily = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("day"), col("event_type"), col("n_events"))
    val trailW = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-trail, -1)
    daily
      .withColumn("n_prior", count(lit(1)).over(trailW))
      .withColumn("sum_prior", sum(col("n_events")).over(trailW))
      .filter(col("n_prior") > 0)
      .withColumn("base", expr("sum_prior div n_prior"))
      .withColumn("dev_bp",
        expr("(n_events - base) * 10000 div greatest(base, 1)"))
      .withColumn("anomaly",
        when(abs(col("dev_bp")) >= threshBp, 1L).otherwise(0L))
      .select(col("day"), col("event_type"), col("n_events"), col("base"),
        col("dev_bp"), col("anomaly"))
      .orderBy(col("day"), col("event_type"))
  }

  def volumeAnomalySql(trail: Int = 7, threshBp: Long = 5000L): String =
    s"""WITH d AS (
       |  SELECT time_bucket(INTERVAL '1 day', ts)::TIMESTAMP AS day,
       |    event_type, count(*)::BIGINT AS n_events
       |  FROM events GROUP BY 1, 2
       |), t AS (
       |  SELECT day, event_type, n_events,
       |    count(*) OVER w AS n_prior,
       |    sum(n_events) OVER w AS sum_prior
       |  FROM d
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN $trail PRECEDING AND 1 PRECEDING)
       |)
       |SELECT day, event_type, n_events,
       |  (sum_prior // n_prior)::BIGINT AS base,
       |  ((n_events - sum_prior // n_prior) * 10000
       |    // greatest(sum_prior // n_prior, 1))::BIGINT AS dev_bp,
       |  (CASE WHEN abs((n_events - sum_prior // n_prior) * 10000
       |    // greatest(sum_prior // n_prior, 1)) >= $threshBp
       |    THEN 1 ELSE 0 END)::BIGINT AS anomaly
       |FROM t WHERE n_prior > 0 ORDER BY day, event_type""".stripMargin

  /** Event co-occurrence lift matrix (q169): for every unordered pair
    * of event types — users doing BOTH, each side's user marginal, and
    * the lift versus independence in basis points
    * (n_both·n_users·10000 div (n_a·n_b)): lift ≫ 10000 means the two
    * behaviors travel together (bundle them in funnels), ≪ 10000 means
    * they split the user base (distinct segments). The q154
    * source×language independence device applied to BEHAVIOR, and the
    * unordered companion to q122's directed transition matrix (q122
    * counts consecutive steps; this counts whether the same user EVER
    * does both).
    *
    * Scale posture: ONE distinct (user, type) projection (map-side
    * combinable, ≤ \|types\| rows per user), self-joined on the
    * high-cardinality user_id (the q12-q14 window-partition contract
    * applied to a join key — never on a type); cells and marginals are
    * ≤ \|types\|²-row rollups with map-side combine; the lift product
    * rides decimal(38,0)/HUGEINT (n_both·n_users·10000 overflows BIGINT
    * at 100 TB user counts). */
  def cooccurrenceLift(spark: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val marginals = ut.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users_t"))
    val nUsers = ut.select(col("user_id")).distinct().count()
    val pairs = ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")),
        Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(marginals.select(col("event_type").as("type_a"),
        col("n_users_t").as("n_a"))), Seq("type_a"))
      .join(broadcast(marginals.select(col("event_type").as("type_b"),
        col("n_users_t").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
        col("n_b"),
        expr(s"cast(cast(n_both as decimal(38,0)) * $nUsers * 10000 " +
          "div (cast(n_a as decimal(38,0)) * n_b) as bigint)").as("lift_bp"))
      .orderBy(col("type_a"), col("type_b"))
  }

  def cooccurrenceLiftSql: String =
    """WITH ut AS (
      |  SELECT DISTINCT user_id, event_type FROM events
      |), m AS (
      |  SELECT event_type, count(*)::BIGINT AS n_users_t FROM ut GROUP BY 1
      |), n AS (
      |  SELECT count(DISTINCT user_id)::BIGINT AS n_users FROM ut
      |), p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    count(*)::BIGINT AS n_both
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id
      |    AND a.event_type < b.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT type_a, type_b, n_both, ma.n_users_t AS n_a, mb.n_users_t AS n_b,
      |  ((n_both::HUGEINT * n.n_users * 10000)
      |    // (ma.n_users_t::HUGEINT * mb.n_users_t))::BIGINT AS lift_bp
      |FROM p
      |JOIN m ma ON ma.event_type = p.type_a
      |JOIN m mb ON mb.event_type = p.type_b
      |CROSS JOIN n
      |ORDER BY type_a, type_b""".stripMargin

  /** Arrival-burstiness audit (q172): per event type, the exact Fano
    * factor of the per-day arrival counts in basis points —
    * F = var/mean, computed as F_bp = (n·Σc² − (Σc)²)·10000 div
    * (n·Σc) over the n observed daily cells. 10000 is the Poisson line:
    * F ≫ 10000 means arrivals clump (campaign bursts, bot storms — the
    * q164 alarms will fire often and honestly), F ≪ 10000 means
    * metronome traffic (schedulers, heartbeats — any q164 flag there is
    * a REAL break). The characterization that calibrates how much
    * trust to put in threshold alarms per type. Population variance
    * over observed days (absent days are not zero-filled — the same
    * rows-based rule as q164, disclosed).
    *
    * Scale posture: the corpus collapses FIRST to (type, day) cells
    * with map-side combine; Σc and Σc² are one |types|-row rollup over
    * those cells; the c² products ride decimal(38,0)/HUGEINT (a 100 TB
    * day cell squared overflows BIGINT). */
  def burstiness(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("c")).as("n_events"),
        sum(expr("cast(c as decimal(38,0)) * c")).as("ss"))
      .select(col("event_type"), col("n_days"), col("n_events"),
        expr("cast((n_days * ss - cast(n_events as decimal(38,0)) " +
          "* n_events) * 10000 div (cast(n_days as decimal(38,0)) " +
          "* n_events) as bigint)").as("fano_bp"))
      .orderBy(col("event_type"))

  def burstinessSql: String =
    """WITH d AS (
      |  SELECT time_bucket(INTERVAL '1 day', ts) AS day, event_type,
      |    count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2
      |), a AS (
      |  SELECT event_type, count(*)::BIGINT AS n_days,
      |    sum(c)::BIGINT AS n_events,
      |    sum(c::HUGEINT * c) AS ss
      |  FROM d GROUP BY event_type
      |)
      |SELECT event_type, n_days, n_events,
      |  ((n_days * ss - n_events::HUGEINT * n_events) * 10000
      |    // (n_days::HUGEINT * n_events))::BIGINT AS fano_bp
      |FROM a ORDER BY event_type""".stripMargin

  /** User-journey transition matrix (q122): for every user's event
    * sequence in (event-time, event_id) order, count each consecutive
    * (from_type → to_type) step — the Markov-cell table session-flow
    * analysis and journey anomaly detection read. Per cell: transitions,
    * distinct users making the step, and the cell's share of all
    * transitions in basis points.
    *
    * Cross-engine order rule: the lag window orders by the µs-truncated
    * timestamp (DuckDB's ns column casts down to Spark's precision —
    * FIXTURES.md §B) with event_id as the unique tie-break, so both
    * engines walk identical sequences even when two events share a
    * microsecond.
    *
    * Scale posture: ONE window exchange on the high-cardinality user_id
    * (the q12-q14 contract — no low-cardinality key ever partitions a
    * window), then a rollup to ≤|types|² cells with map-side combine;
    * the cell table is persisted for its two consumers. At 100 TB the
    * event log crosses the cluster once. */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cells = graft.PlanCache.cached(spark, s"events.transitions:$dir") {
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("to_type"))
        .withColumn("from_type", lag(col("to_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n_transitions"),
          countDistinct(col("user_id")).as("n_users"))
    }
    val tot = cells.agg(sum(col("n_transitions")).as("n_tot"))
    cells.crossJoin(broadcast(tot))
      .select(col("from_type"), col("to_type"), col("n_transitions"),
        col("n_users"),
        expr("n_transitions * 10000 div n_tot").as("share_bp"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Session-gap election histogram (q127): the distribution of
    * consecutive same-user inter-event gaps in fixed duration buckets —
    * the table a session timeout (q28's `session_window` gap) is chosen
    * FROM: the bucket where the share collapses is the inactivity knee.
    * Per bucket: gap count, distinct users, and share of all gaps in
    * basis points. Gaps are exact integer microsecond differences on
    * the µs-truncated timeline (the q122 cross-engine order rule), so
    * bucket edges cut identically in both engines.
    *
    * Scale posture: the same ONE user_id window exchange as q122, then
    * a ≤5-row bucket rollup with map-side combine + a broadcast 1-row
    * total. Bucket labels are prefix-ordered so the output sort is
    * chronological. */
  def sessionGaps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gaps = graft.PlanCache.cached(spark, s"events.sessionGaps:$dir") {
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("prev_us").isNotNull)
        .withColumn("gap_us", unix_micros(col("ts")) - col("prev_us"))
        .groupBy(
          when(col("gap_us") < 10000000L, "a_lt_10s")
            .when(col("gap_us") < 60000000L, "b_lt_60s")
            .when(col("gap_us") < 600000000L, "c_lt_10m")
            .when(col("gap_us") < 3600000000L, "d_lt_1h")
            .otherwise("e_ge_1h").as("gap_bucket"))
        .agg(count(lit(1)).as("n_gaps"),
          countDistinct(col("user_id")).as("n_users"))
    }
    val tot = gaps.agg(sum(col("n_gaps")).as("n_tot"))
    gaps.crossJoin(broadcast(tot))
      .select(col("gap_bucket"), col("n_gaps"), col("n_users"),
        expr("n_gaps * 10000 div n_tot").as("share_bp"))
      .orderBy(col("gap_bucket"))
  }

  def sessionGapsSql: String =
    """WITH seq AS (
      |  SELECT user_id,
      |    epoch_us(ts::TIMESTAMP) -
      |      lag(epoch_us(ts::TIMESTAMP)) OVER (PARTITION BY user_id
      |        ORDER BY ts::TIMESTAMP, event_id) AS gap_us
      |  FROM events
      |), g AS (
      |  SELECT CASE WHEN gap_us < 10000000 THEN 'a_lt_10s'
      |    WHEN gap_us < 60000000 THEN 'b_lt_60s'
      |    WHEN gap_us < 600000000 THEN 'c_lt_10m'
      |    WHEN gap_us < 3600000000 THEN 'd_lt_1h'
      |    ELSE 'e_ge_1h' END AS gap_bucket, user_id
      |  FROM seq WHERE gap_us IS NOT NULL
      |), cells AS (
      |  SELECT gap_bucket, count(*)::BIGINT AS n_gaps,
      |    count(DISTINCT user_id)::BIGINT AS n_users
      |  FROM g GROUP BY 1
      |), tot AS (SELECT sum(n_gaps)::BIGINT AS n_tot FROM cells)
      |SELECT gap_bucket, n_gaps, n_users,
      |  ((n_gaps * 10000) // tot.n_tot)::BIGINT AS share_bp
      |FROM cells CROSS JOIN tot ORDER BY gap_bucket""".stripMargin

  def transitionMatrixSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type AS to_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts::TIMESTAMP, event_id) AS from_type
      |  FROM events
      |), cells AS (
      |  SELECT from_type, to_type, count(*)::BIGINT AS n_transitions,
      |    count(DISTINCT user_id)::BIGINT AS n_users
      |  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
      |), tot AS (SELECT sum(n_transitions)::BIGINT AS n_tot FROM cells)
      |SELECT from_type, to_type, n_transitions, n_users,
      |  ((n_transitions * 10000) // tot.n_tot)::BIGINT AS share_bp
      |FROM cells CROSS JOIN tot ORDER BY from_type, to_type""".stripMargin

  /** X173 Markov next-event backtest (q247): how predictable is the
    * journey — per state, the first-order Markov predictor (the modal
    * next event given the CURRENT event) judged on exact transition
    * counts against the marginal baseline (always predict the globally
    * most-common next event), the q241/q243 forecaster-ladder
    * discipline applied to the q122 transition seam. Per from-state:
    * out-transitions, the modal prediction and its exact hits,
    * accuracy in bp, the baseline's hits/accuracy on the SAME
    * transitions, the lift, and the helps election — a state where
    * conditioning does NOT beat the marginal is one the product funnel
    * should treat as noise, and the lift-weighted sum is the ceiling
    * any next-action model must beat before it earns deployment.
    * Argmax elections ride the lexicographic struct-min device
    * (min(−count, type) — count desc, type asc), never a window.
    *
    * Scale posture: everything reads the PlanCache'd |types|² q122
    * cell table (ONE user window exchange, shared); elections and
    * joins are folds over those cells plus a bounded-enforced 1-row
    * marginal broadcast; ≤|types| output rows. */
  /** Synchronized power-iteration steps [[markovStationary]] runs —
    * fixed so both engines walk the identical computation (the q225
    * PrIterations rule). 16 steps: the residual shrinks by |λ₂| per
    * step, so even a sluggish λ₂ = ½ chain lands within a tenth of a
    * bp of the true stationary mix — and each step is a join over a
    * ≤|types|²-cell table, so 16 of them are audit-priced. */
  val MarkovSteps: Int = 16

  /** X187 Markov stationary event mix (q261): the long-run event
    * distribution the click-stream converges to — [[MarkovSteps]]
    * synchronized integer power-iteration steps of π·P from the
    * uniform start over the q122/q247 transition matrix (Markov 1906;
    * the q225 dyadic-damping discipline without damping). q122 shows
    * today's one-step flows and q247 how predictable the next step
    * is; this is the EQUILIBRIUM read — if the stationary share of
    * 'error' exceeds its observed share, the flow structure is
    * funneling users toward errors and the mix will drift there as
    * sessions lengthen. Exactly integer: per-cell transition
    * probability floored once to micro units (n·10⁶ div r), each step
    * floors per-term mass·p div 10⁶ BEFORE summing (engine-order-
    * proof, the q225 rule), shares renormalized in bp at the end so
    * the floor shrinkage cancels; a state with no outgoing
    * transitions keeps its mass (self-loop — the PageRank dangling
    * rule without teleport).
    *
    * Domain bound: per-term mass·p_micro ≤ 10³·|types|·10⁶ — BIGINT-
    * safe at any corpus size; the cell table is ≤|types|² rows.
    *
    * Scale posture: the transition collapse rides the PlanCache'd
    * q122/q247 seam (its ONE user-window exchange); the walk is 8
    * joins over the ≤|types|²-cell table — audit-sized at any scale;
    * ≤|types| output rows. */
  def markovStationary(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cells = graft.PlanCache.cached(spark, s"events.transitions:$dir") {
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("to_type"))
        .withColumn("from_type", lag(col("to_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n_transitions"),
          countDistinct(col("user_id")).as("n_users"))
    }
    val outdeg = cells.groupBy(col("from_type"))
      .agg(sum(col("n_transitions")).as("n_out"))
    val pcell = cells
      .join(outdeg, Seq("from_type"))
      .select(col("from_type"), col("to_type"),
        expr("n_transitions * 1000000 div n_out").as("p_micro"))
    val types = cells.select(col("from_type").as("event_type"))
      .unionByName(cells.select(col("to_type").as("event_type")))
      .distinct()
    // the whole 16-step walk folds IN-ROW over the collected
    // ≤|types|²-cell matrix (the q253 bounded-collapse rule): the
    // join-per-step formulation paid 16 rounds of job overhead
    // (measured 7.6 s at sf0.1 for ~2000 integer ops); indexes come
    // from array_position against the sorted type list, so no row
    // ever reaches the driver
    val bb = graft.PlanAudit.Bounded
    val tyList = types.agg(sort_array(collect_list(col("event_type")))
      .as("ty"))
    val cellArr = pcell
      .crossJoin(bb.broadcastBounded("q261_markov_stationary.tylist",
        tyList.select(col("ty").as("ty2")), 1L))
      .select(struct(
        expr("cast(array_position(ty2, from_type) as int)").as("f"),
        expr("cast(array_position(ty2, to_type) as int)").as("t"),
        col("p_micro").as("p")).as("c"))
      .agg(collect_list(col("c")).as("cells"))
    val one = tyList.crossJoin(
      bb.broadcastBounded("q261_markov_stationary.cells", cellArr, 1L))
    // ROUND-18 SHAVE (§2.4): the final assembly used to leave the
    // one-row world — explode π, re-join it with the type universe and
    // the out-degree table, and cross in a separately-aggregated totals
    // row (3 joins + 2 extra aggregations over ≤|types| rows, each with
    // its own exchange/broadcast build). The out-degrees now ride in as
    // ONE broadcast ≤|types|-entry map, both totals fold IN-ROW over
    // the already-collected arrays, and the output is a single
    // explode+projection — the walk's one-row discipline carried to the
    // end. `ty` is already the sorted distinct type universe, so the
    // per-type output set is unchanged; element_at on the map is the
    // old LEFT join (null -> 0 for sink-only types).
    val odMap = outdeg.agg(map_from_entries(
      collect_list(struct(col("from_type"), col("n_out")))).as("od"))
    val piArr = one
      .crossJoin(bb.broadcastBounded("q261_markov_stationary.odmap",
        odMap, 1L))
      .select(col("ty"), col("od"), expr(
      s"""aggregate(
         |  sequence(1, $MarkovSteps),
         |  array_repeat(1000L, size(ty)),
         |  (acc, step) -> transform(ty, (x, j0) ->
         |    aggregate(cells, 0L, (s, c) ->
         |      s + IF(c.t = j0 + 1,
         |        element_at(acc, c.f) * c.p div 1000000, 0L))
         |    + IF(exists(cells, c -> c.f = j0 + 1),
         |        0L, element_at(acc, j0 + 1))))""".stripMargin)
      .as("mass"))
    piArr
      .withColumn("pi_tot", expr("aggregate(mass, 0L, (s, x) -> s + x)"))
      .withColumn("out_tot",
        expr("aggregate(map_values(od), 0L, (s, x) -> s + x)"))
      .select(explode(arrays_zip(col("ty"), col("mass"))).as("z"),
        col("od"), col("pi_tot"), col("out_tot"))
      .select(col("z.ty").as("event_type"),
        expr("coalesce(element_at(od, z.ty), 0L)").as("n_out"),
        expr("coalesce(element_at(od, z.ty), 0L) * 10000 div out_tot")
          .as("obs_share_bp"),
        expr("z.mass * 10000 div pi_tot").as("stationary_share_bp"))
      .withColumn("delta_bp",
        col("stationary_share_bp") - col("obs_share_bp"))
      .orderBy(col("event_type"))
  }

  def markovStationarySql: String = {
    def step(prev: String, k: Int): String =
      s"""pi$k AS MATERIALIZED (
         |  SELECT event_type, sum(mass)::BIGINT AS mass FROM (
         |    SELECT p.to_type AS event_type,
         |      (i.mass * p.p_micro // 1000000)::BIGINT AS mass
         |    FROM $prev i JOIN pcell p ON p.from_type = i.event_type
         |    UNION ALL
         |    SELECT i.event_type, i.mass
         |    FROM $prev i LEFT JOIN outdeg o ON o.from_type = i.event_type
         |    WHERE o.from_type IS NULL
         |  ) GROUP BY 1
         |)""".stripMargin
    val steps = (1 to MarkovSteps)
      .map(k => step(if (k == 1) "pi0" else s"pi${k - 1}", k))
      .mkString(", ")
    s"""WITH seq AS (
       |  SELECT user_id, event_type AS to_type,
       |    lag(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts::TIMESTAMP, event_id) AS from_type
       |  FROM events
       |), cells AS MATERIALIZED (
       |  SELECT from_type, to_type, count(*)::BIGINT AS n
       |  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
       |), outdeg AS MATERIALIZED (
       |  SELECT from_type, sum(n)::BIGINT AS n_out FROM cells GROUP BY 1
       |), pcell AS MATERIALIZED (
       |  SELECT c.from_type, c.to_type,
       |    (c.n * 1000000 // o.n_out)::BIGINT AS p_micro
       |  FROM cells c JOIN outdeg o USING (from_type)
       |), ty AS (
       |  SELECT from_type AS event_type FROM cells
       |  UNION
       |  SELECT to_type FROM cells
       |), pi0 AS (
       |  SELECT event_type, 1000::BIGINT AS mass FROM ty
       |), $steps, tots AS (
       |  SELECT (SELECT sum(mass) FROM pi$MarkovSteps)::BIGINT AS pi_tot,
       |    (SELECT sum(n_out) FROM outdeg)::BIGINT AS out_tot
       |)
       |SELECT ty.event_type,
       |  coalesce(o.n_out, 0)::BIGINT AS n_out,
       |  (coalesce(o.n_out, 0) * 10000 // t.out_tot)::BIGINT
       |    AS obs_share_bp,
       |  (coalesce(p.mass, 0) * 10000 // t.pi_tot)::BIGINT
       |    AS stationary_share_bp,
       |  ((coalesce(p.mass, 0) * 10000 // t.pi_tot) -
       |   (coalesce(o.n_out, 0) * 10000 // t.out_tot))::BIGINT AS delta_bp
       |FROM ty
       |LEFT JOIN outdeg o ON o.from_type = ty.event_type
       |LEFT JOIN pi$MarkovSteps p ON p.event_type = ty.event_type
       |CROSS JOIN tots t
       |ORDER BY ty.event_type""".stripMargin
  }

  def markovBacktest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cells = graft.PlanCache.cached(spark, s"events.transitions:$dir") {
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("to_type"))
        .withColumn("from_type", lag(col("to_type"), 1).over(w))
        .filter(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n_transitions"),
          countDistinct(col("user_id")).as("n_users"))
    }
    val perState = cells.groupBy(col("from_type"))
      .agg(sum(col("n_transitions")).as("n_out"),
        min(struct((lit(0L) - col("n_transitions")).as("nc"),
          col("to_type").as("t"))).as("pick"))
      .select(col("from_type"), col("n_out"),
        col("pick.t").as("modal_next"),
        (lit(0L) - col("pick.nc")).as("hits"))
    val marginal = cells.groupBy(col("to_type"))
      .agg(sum(col("n_transitions")).as("n"))
      .agg(min(struct((lit(0L) - col("n")).as("nn"),
        col("to_type").as("t"))).as("g"))
      .select(col("g.t").as("g_modal"))
    val baseline = cells.select(col("from_type").as("bf"),
      col("to_type").as("bt"), col("n_transitions").as("bn"))
    perState
      .crossJoin(graft.PlanAudit.Bounded
        .broadcastBounded("q247_markov_backtest.marginal", marginal, 1L))
      .join(baseline,
        col("from_type") === col("bf") && col("g_modal") === col("bt"),
        "left")
      .select(col("from_type"), col("n_out"), col("modal_next"),
        col("hits"),
        expr("hits * 10000 div n_out").as("accuracy_bp"),
        col("g_modal").as("baseline_next"),
        coalesce(col("bn"), lit(0L)).as("baseline_hits"),
        expr("coalesce(bn, 0L) * 10000 div n_out").as("baseline_bp"),
        (expr("hits * 10000 div n_out") -
          expr("coalesce(bn, 0L) * 10000 div n_out")).as("lift_bp"),
        (col("hits") > coalesce(col("bn"), lit(0L))).as("markov_helps"))
      .orderBy(col("from_type"))
  }

  def markovBacktestSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type AS to_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts::TIMESTAMP, event_id) AS from_type
      |  FROM events
      |), cells AS (
      |  SELECT from_type, to_type, count(*)::BIGINT AS n
      |  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
      |), ranked AS (
      |  SELECT from_type, to_type, n,
      |    row_number() OVER (PARTITION BY from_type
      |      ORDER BY n DESC, to_type) AS rn,
      |    sum(n) OVER (PARTITION BY from_type) AS n_out
      |  FROM cells
      |), st AS (
      |  SELECT from_type, n_out, to_type AS modal_next, n AS hits
      |  FROM ranked WHERE rn = 1
      |), marg AS (
      |  SELECT to_type AS g_modal
      |  FROM cells GROUP BY to_type
      |  ORDER BY sum(n) DESC, to_type LIMIT 1
      |)
      |SELECT st.from_type, st.n_out::BIGINT AS n_out, st.modal_next,
      |  st.hits,
      |  (st.hits * 10000 // st.n_out)::BIGINT AS accuracy_bp,
      |  marg.g_modal AS baseline_next,
      |  coalesce(b.n, 0)::BIGINT AS baseline_hits,
      |  (coalesce(b.n, 0) * 10000 // st.n_out)::BIGINT AS baseline_bp,
      |  ((st.hits * 10000 // st.n_out) -
      |   (coalesce(b.n, 0) * 10000 // st.n_out))::BIGINT AS lift_bp,
      |  (st.hits > coalesce(b.n, 0)) AS markov_helps
      |FROM st CROSS JOIN marg
      |LEFT JOIN cells b
      |  ON b.from_type = st.from_type AND b.to_type = marg.g_modal
      |ORDER BY st.from_type""".stripMargin

  /** Revenue-attribution comparison (q175): every purchase's cent value
    * credited to a channel under the two standard single-touch models —
    * FIRST-touch (the user's first event type ever: which door they came
    * in through) and LAST-touch (the latest non-purchase event type
    * strictly before the purchase; purchases with no prior touch credit
    * "(direct)"). Per (model, channel): purchases, cents, and the
    * channel's share of all purchase cents in basis points. Reading the
    * two models side by side is the point: a channel fat under
    * first-touch but thin under last-touch ACQUIRES users who convert
    * elsewhere; the reverse CLOSES conversions it didn't source. Event
    * order is (µs timestamp, event_id) — the q122 cross-engine rule; a
    * purchase immediately after another purchase skips it and credits
    * the latest NON-purchase touch (both engines via null-skipping
    * window last-value).
    *
    * Scale posture: ONE user_id window exchange computes both
    * attributions (two frames over the same partition/order — Spark
    * plans them over a single shuffle); the per-purchase table is
    * PlanCache'd (both model legs read it); legs collapse to ≤|types|-row
    * rollups with map-side combine; the grand total is a broadcast 1-row
    * scalar. Cents ride the exact round(value·100) integer grid. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wFirst = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val purchases = graft.PlanCache.cached(spark, s"events.attribution:$dir") {
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
        .withColumn("first_type", first(col("event_type")).over(wFirst))
        .withColumn("prev_touch",
          last(when(col("event_type") =!= "purchase", col("event_type")),
            ignoreNulls = true).over(wPrev))
        .filter(col("event_type") === "purchase")
        .select(col("cents"), col("first_type"),
          coalesce(col("prev_touch"), lit("(direct)")).as("last_type"))
    }
    val tot = purchases.agg(sum(col("cents")).as("tc"))
    def leg(model: String, channel: Column): DataFrame =
      purchases.groupBy(channel.as("channel"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("cents"))
        .select(lit(model).as("model"), col("channel"), col("n_purchases"),
          col("cents"))
    leg("first_touch", col("first_type"))
      .unionByName(leg("last_touch", col("last_type")))
      .crossJoin(broadcast(tot))
      .select(col("model"), col("channel"), col("n_purchases"), col("cents"),
        expr("cents * 10000 div tc").as("share_bp"))
      .orderBy(col("model"), col("channel"))
  }

  def attributionSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents,
      |    first_value(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts::TIMESTAMP, event_id) AS first_type,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
      |        IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_touch
      |  FROM events
      |), p AS (
      |  SELECT cents, first_type, coalesce(prev_touch, '(direct)') AS last_type
      |  FROM seq WHERE event_type = 'purchase'
      |), tot AS (SELECT sum(cents)::BIGINT AS tc FROM p
      |), u AS (
      |  SELECT 'first_touch' AS model, first_type AS channel,
      |    count(*)::BIGINT AS n_purchases, sum(cents)::BIGINT AS cents
      |  FROM p GROUP BY 2
      |  UNION ALL
      |  SELECT 'last_touch', last_type, count(*)::BIGINT, sum(cents)::BIGINT
      |  FROM p GROUP BY 2
      |)
      |SELECT model, channel, n_purchases, cents,
      |  (cents * 10000 // tot.tc)::BIGINT AS share_bp
      |FROM u CROSS JOIN tot ORDER BY model, channel""".stripMargin

  /** Inactivity-gap timeout for [[sessionization]] (30 min in µs) — the
    * knee the q127 gap histogram motivates. */
  val SessionTimeoutUs: Long = 1800000000L

  /** Sessionization audit (q179): the batch twin of the T2
    * `session_window` — events split into sessions at >30 min of
    * same-user inactivity, then the session-size distribution: per
    * size band, sessions, share of all sessions in bp, events carried,
    * total duration (whole seconds) and mean seconds per session in
    * milli-units (exact integer division). The a_1 band's share
    * IS the bounce rate; the table is how a product dashboard prices
    * engagement depth, and how a training-data pipeline weighs
    * "session" context windows before packing interaction logs.
    *
    * Session ids are the standard lag+cumsum device: a row opens a new
    * session iff it has no predecessor or its gap exceeds the timeout;
    * the running sum of open-flags over the same (ts, event_id) window
    * (the q122 cross-engine order rule) numbers sessions 1..k per
    * user. Both engines compute identical integer µs gaps, so session
    * boundaries cut identically.
    *
    * Scale posture: ONE user_id window exchange (lag and cumsum share
    * the same partition/order — one Exchange, one sort); the
    * per-session rollup groups on (user_id, sid), which the window's
    * hash partitioning on user_id already clusters — no second
    * Exchange; bands collapse to ≤5 rows with map-side combine + a
    * broadcast 1-row total. Durations are exact integer µs divided
    * once at the end. */
  /** Cached per-session rollup (user_id, sid, n_events, dur_sec, us0,
    * us1) — the q179 lag+cumsum device materialized once; q179's bands
    * and q233's concurrency sweep read the same table. */
  private def sessionTable(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // (us, event_id) ≡ the q122 (ts, event_id) rule: ts is µs-truncated
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    graft.PlanCache.cached(spark, s"events.sessions:$dir") {
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("opens", when(col("prev_us").isNull ||
          col("us") - col("prev_us") > SessionTimeoutUs, 1L).otherwise(0L))
        .withColumn("sid", sum(col("opens")).over(cum))
        .groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n_events"),
          expr("(max(us) - min(us)) div 1000000").as("dur_sec"),
          min(col("us")).as("us0"), max(col("us")).as("us1"))
    }
  }

  def sessionization(spark: SparkSession, dir: String): DataFrame = {
    val sess = sessionTable(spark, dir)
    val bands = sess.groupBy(
      when(col("n_events") === 1, "a_1")
        .when(col("n_events") === 2, "b_2")
        .when(col("n_events") <= 5, "c_3_5")
        .when(col("n_events") <= 10, "d_6_10")
        .otherwise("e_gt_10").as("size_band"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        sum(col("dur_sec")).as("sum_dur_sec"))
    val tot = bands.agg(sum(col("n_sessions")).as("n_tot"))
    bands.crossJoin(broadcast(tot))
      .select(col("size_band"), col("n_sessions"),
        expr("n_sessions * 10000 div n_tot").as("share_bp"),
        col("n_events"), col("sum_dur_sec"),
        expr("sum_dur_sec * 1000 div n_sessions").as("dur_per_session_milli"))
      .orderBy(col("size_band"))
  }

  /** Robust value statistics (q180): per event type, the plain, TRIMMED
    * (drop the lowest and highest 5% of occurrences) and WINSORIZED
    * (clamp to the p5/p95 values) means of `value`, in exact
    * milli-cents — the outlier-resistant companion to the q132
    * percentile table (Tukey's robust statistics): a mean that moves
    * when the trimmed mean doesn't is pure tail, and the
    * trimmed-vs-winsorized gap prices how heavy that tail is. Both
    * robust means are EXACT integer rank algebra, not sketches:
    * occurrences of value v occupy ranks (cum−cnt, cum] in the
    * per-type value histogram, so the trimmed slice keeps
    * min(cum,hi) − max(cum−cnt,lo) of them and the winsor cutoffs are
    * integer-rank elections (the q132 device) — no float ever crosses
    * engines.
    *
    * Scale posture: the corpus collapses ONCE to the (type, cents)
    * histogram with map-side combine (PlanCache'd — both stat legs
    * read it); cumulative windows run over grid-sized histogram rows
    * only; cutoffs join back per-type (broadcast, ≤|types| rows);
    * ·1000 products ride decimal(38,0)/HUGEINT. Divisions rely on the
    * documented non-negative value grid — a signed-value corpus would
    * need floor-vs-truncate alignment (Spark `div` truncates, DuckDB
    * `//` floors; identical only on non-negative operands). */
  def robustValueStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byT = Window.partitionBy(col("event_type"))
    val cumW = byT.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = graft.PlanCache.cached(spark, s"events.centsHistCum:$dir") {
      Tables.events(spark, dir)
        .select(col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("v"))
        .groupBy(col("event_type"), col("v")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(cumW))
        .withColumn("n", sum(col("cnt")).over(byT))
        .withColumn("lo", expr("5 * n div 100"))
        .withColumn("hi", expr("n - 5 * n div 100"))
    }
    val core = hist.groupBy(col("event_type")).agg(
      max(col("n")).as("n_events"),
      sum(col("cnt") * col("v")).as("sum_v"),
      sum(greatest(lit(0L),
        least(col("cum"), col("hi")) - greatest(col("cum") - col("cnt"),
          col("lo"))) * col("v")).as("trimmed_sum"),
      max(col("hi") - col("lo")).as("trimmed_n"),
      min(when(col("cum") >= col("lo") + 1, col("v"))).as("c5"),
      min(when(col("cum") >= col("hi"), col("v"))).as("c95"))
    val wins = hist.join(broadcast(core.select(col("event_type"),
        col("c5").as("w5"), col("c95").as("w95"))), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(sum(col("cnt") *
        least(greatest(col("v"), col("w5")), col("w95"))).as("wins_sum"))
    core.join(wins, Seq("event_type"))
      .select(col("event_type"), col("n_events"),
        expr("cast(cast(sum_v as decimal(38,0)) * 1000 div n_events " +
          "as bigint)").as("mean_millicents"),
        expr("cast(cast(trimmed_sum as decimal(38,0)) * 1000 div trimmed_n " +
          "as bigint)").as("trimmed_mean_millicents"),
        expr("cast(cast(wins_sum as decimal(38,0)) * 1000 div n_events " +
          "as bigint)").as("winsorized_mean_millicents"),
        col("c5").as("p5_cents"), col("c95").as("p95_cents"))
      .orderBy(col("event_type"))
  }

  def robustValueStatsSql: String =
    """WITH h AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
      |    count(*)::BIGINT AS cnt
      |  FROM events GROUP BY 1, 2
      |), c AS (
      |  SELECT event_type, v, cnt,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM h
      |), b AS (
      |  SELECT *, 5 * n // 100 AS lo, n - 5 * n // 100 AS hi FROM c
      |), core AS (
      |  SELECT event_type, max(n)::BIGINT AS n_events,
      |    sum(cnt * v)::BIGINT AS sum_v,
      |    sum(greatest(0, least(cum, hi) - greatest(cum - cnt, lo)) * v)
      |      ::BIGINT AS trimmed_sum,
      |    max(hi - lo)::BIGINT AS trimmed_n,
      |    min(CASE WHEN cum >= lo + 1 THEN v END)::BIGINT AS c5,
      |    min(CASE WHEN cum >= hi THEN v END)::BIGINT AS c95
      |  FROM b GROUP BY 1
      |), wins AS (
      |  SELECT b.event_type,
      |    sum(b.cnt * least(greatest(b.v, core.c5), core.c95))::BIGINT
      |      AS wins_sum
      |  FROM b JOIN core USING (event_type) GROUP BY 1
      |)
      |SELECT event_type, n_events,
      |  (sum_v::HUGEINT * 1000 // n_events)::BIGINT AS mean_millicents,
      |  (trimmed_sum::HUGEINT * 1000 // trimmed_n)::BIGINT
      |    AS trimmed_mean_millicents,
      |  (wins_sum::HUGEINT * 1000 // n_events)::BIGINT
      |    AS winsorized_mean_millicents,
      |  c5 AS p5_cents, c95 AS p95_cents
      |FROM core JOIN wins USING (event_type) ORDER BY event_type""".stripMargin

  /** Weekly-seasonality deviation map (q185): the (ISO weekday × hour)
    * traffic heatmap with each cell's observed share against the
    * share INDEPENDENCE would predict (row share × column share), in
    * basis points — the weekly load fingerprint behind the q29 hourly
    * profile and the q164 anomaly monitor's seasonal baseline. A cell
    * whose dev_bp is strongly positive is a weekly hotspot (Monday-9am
    * spikes); an all-near-zero map says hour-of-day and day-of-week
    * load are separable, so capacity can be planned from the two
    * marginals alone. All arithmetic is exact integer on the 168-cell
    * grid (obs = O·10⁴ div N, exp = R·C·10⁴ div N² in
    * decimal(38,0)/HUGEINT); weekday is ISO (Mon=1) in BOTH engines —
    * Spark `weekday()+1` ≡ DuckDB `isodow()`.
    *
    * Scale posture: the corpus collapses map-side to ≤168 cells; row,
    * column and grand totals are ≤7-, ≤24- and 1-row broadcast
    * rollups of the cell table — no corpus-wide window, no second
    * scan. */
  def weeklySeasonality(spark: SparkSession, dir: String): DataFrame = {
    val cells = graft.PlanCache.cached(spark, s"events.dowHourCells:$dir") {
      Tables.events(spark, dir)
        .select((expr("weekday(ts)") + 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hour"))
        .groupBy(col("dow"), col("hour")).agg(count(lit(1)).as("n_events"))
    }
    val r = cells.groupBy(col("dow")).agg(sum(col("n_events")).as("r_tot"))
    val c = cells.groupBy(col("hour")).agg(sum(col("n_events")).as("c_tot"))
    val n = cells.agg(sum(col("n_events")).as("n_tot"))
    cells
      .join(broadcast(r), Seq("dow"))
      .join(broadcast(c), Seq("hour"))
      .crossJoin(broadcast(n))
      .select(col("dow"), col("hour"), col("n_events"),
        expr("n_events * 10000 div n_tot").as("obs_bp"),
        expr("cast(cast(r_tot as decimal(38,0)) * c_tot * 10000 " +
          "div (cast(n_tot as decimal(38,0)) * n_tot) as bigint)")
          .as("exp_bp"))
      .withColumn("dev_bp", col("obs_bp") - col("exp_bp"))
      .orderBy(col("dow"), col("hour"))
  }

  def weeklySeasonalitySql: String =
    """WITH cells AS (
      |  SELECT isodow(ts::TIMESTAMP)::BIGINT AS dow,
      |    hour(ts::TIMESTAMP)::BIGINT AS hour,
      |    count(*)::BIGINT AS n_events
      |  FROM events GROUP BY 1, 2
      |), r AS (SELECT dow, sum(n_events)::BIGINT AS r_tot FROM cells GROUP BY 1
      |), c AS (SELECT hour, sum(n_events)::BIGINT AS c_tot FROM cells GROUP BY 1
      |), n AS (SELECT sum(n_events)::BIGINT AS n_tot FROM cells)
      |SELECT cells.dow, cells.hour, n_events,
      |  (n_events * 10000 // n.n_tot)::BIGINT AS obs_bp,
      |  ((r.r_tot::HUGEINT * c.c_tot * 10000)
      |    // (n.n_tot::HUGEINT * n.n_tot))::BIGINT AS exp_bp,
      |  (n_events * 10000 // n.n_tot)::BIGINT
      |    - ((r.r_tot::HUGEINT * c.c_tot * 10000)
      |       // (n.n_tot::HUGEINT * n.n_tot))::BIGINT AS dev_bp
      |FROM cells
      |JOIN r USING (dow) JOIN c USING (hour) CROSS JOIN n
      |ORDER BY dow, hour""".stripMargin

  /** New-vs-returning growth accounting (q186): per activity day —
    * distinct active users, users whose FIRST-ever event lands that day
    * (acquisition), returning users, and the new-user share in bp. The
    * daily growth ledger every product review reads first (the q28
    * retention matrix's diagonal margin) and the intake-side twin of
    * corpus snapshot deltas (q133): "how much of today's activity is
    * genuinely new entities".
    *
    * Scale posture: the corpus collapses to distinct (user, day) with
    * map-side partial agg (ONE corpus exchange, keyed on user_id); the
    * first-day election groups the SAME user-hashed stream (Exchange
    * reused — no second corpus shuffle); the flag join is user-keyed on
    * two already-co-partitioned user-grained tables; the day rollup is
    * calendar-sized. */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val userDays = graft.PlanCache.cached(spark, s"events.userDays:$dir") {
      Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
    }
    val firsts = userDays.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    userDays.join(firsts, Seq("user_id"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active_users"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new_users"))
      .select(col("day"), col("n_active_users"), col("n_new_users"),
        (col("n_active_users") - col("n_new_users")).as("n_returning"),
        expr("n_new_users * 10000 div n_active_users").as("new_share_bp"))
      .orderBy(col("day"))
  }

  def newVsReturningSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, ts::DATE AS day FROM events
      |), f AS (
      |  SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1
      |)
      |SELECT day, count(*)::BIGINT AS n_active_users,
      |  sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)::BIGINT
      |    AS n_new_users,
      |  (count(*) - sum(CASE WHEN day = first_day THEN 1 ELSE 0 END))::BIGINT
      |    AS n_returning,
      |  (sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) * 10000
      |    // count(*))::BIGINT AS new_share_bp
      |FROM ud JOIN f USING (user_id)
      |GROUP BY day ORDER BY day""".stripMargin

  /** Survival-table intervals for [[conversionSurvival]] (label,
    * day-lo, day-hi): day 0, day 1, days 2-3, 4-7, 8-14. Conversions
    * past day 14 (and never-converters) remain in the final survival
    * figure — the event log is the complete history, so there is no
    * censoring to model. */
  private val SurvivalIntervals: Seq[(String, Long, Long)] = Seq(
    ("a_d0", 0L, 0L), ("b_d1", 1L, 1L), ("c_d2_3", 2L, 3L),
    ("d_d4_7", 4L, 7L), ("e_d8_14", 8L, 14L))

  /** Time-to-convert survival table (q188): discrete signup→first-
    * purchase survival over day intervals — users at risk entering the
    * interval, conversions inside it, the interval hazard in bp
    * (converted ÷ at-risk), cumulative conversions, and the survival
    * share still unconverted at the interval's end. The actuarial
    * life-table reading of q130's latency histogram (Kaplan–Meier on
    * complete-history data, where no censoring term is needed): hazard
    * says WHEN conversion pressure happens, survival says how much of
    * the funnel is still open — both exact integer ratios, never a
    * cumulative float product.
    *
    * Scale posture: one user-keyed conditional-min collapse (the q58/
    * q130 shape) → a day-grid latency histogram with map-side combine;
    * the interval table is a broadcast 5-row cross over grid-sized
    * rows; the signup total is a broadcast 1-row scalar. */
  def conversionSurvival(spark: SparkSession, dir: String): DataFrame = {
    val users = graft.PlanCache.cached(spark, s"events.signupLat:$dir") {
      Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "signup", unix_micros(col("ts"))))
            .as("s_us"),
          min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
            .as("p_us"))
        .filter(col("s_us").isNotNull)
        .select(when(col("p_us").isNotNull && col("p_us") >= col("s_us"),
          expr("(p_us - s_us) div 86400000000")).as("lat_day"))
    }
    val hist = users.filter(col("lat_day").isNotNull)
      .groupBy(col("lat_day")).agg(count(lit(1)).as("cnt"))
    val total = users.agg(count(lit(1)).as("n_signups"))
    val intervals = SurvivalIntervals.map { case (l, lo, hi) =>
      struct(lit(l).as("interval"), lit(lo).as("lo"), lit(hi).as("hi"))
    }
    hist
      // literal 5-interval fan-out per histogram row: a pure Generate
      // over grid-sized rows, no join at all
      .select(col("lat_day"), col("cnt"),
        explode(array(intervals: _*)).as("iv"))
      .select(col("lat_day"), col("cnt"),
        col("iv.interval").as("interval"), col("iv.lo").as("lo"),
        col("iv.hi").as("hi"))
      .groupBy(col("interval"), col("lo"))
      .agg(sum(when(col("lat_day").between(col("lo"), col("hi")),
          col("cnt")).otherwise(0L)).as("converted_in"),
        sum(when(col("lat_day") < col("lo"), col("cnt")).otherwise(0L))
          .as("cum_before"))
      .crossJoin(broadcast(total))
      .select(col("interval"), col("converted_in"),
        (col("n_signups") - col("cum_before")).as("at_risk"),
        // at_risk can be 0 when every remaining signup already
        // converted before the interval; define the hazard as 0 there
        // (nothing left to convert) instead of a NULL from div-by-zero
        expr("CASE WHEN n_signups - cum_before = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE converted_in * 10000 div (n_signups - cum_before) END")
          .as("hazard_bp"),
        (col("cum_before") + col("converted_in")).as("cum_converted"),
        expr("(n_signups - cum_before - converted_in) * 10000 div n_signups")
          .as("survival_bp"))
      .orderBy(col("interval"))
  }

  def conversionSurvivalSql: String = {
    val ivs = SurvivalIntervals
      .map { case (l, lo, hi) => s"('$l', $lo, $hi)" }.mkString(", ")
    s"""WITH per_user AS (
       |  SELECT user_id,
       |    min(CASE WHEN event_type = 'signup'
       |        THEN epoch_us(ts::TIMESTAMP) END) AS s_us,
       |    min(CASE WHEN event_type = 'purchase'
       |        THEN epoch_us(ts::TIMESTAMP) END) AS p_us
       |  FROM events GROUP BY user_id
       |), u AS (
       |  SELECT CASE WHEN p_us IS NOT NULL AND p_us >= s_us
       |    THEN (p_us - s_us) // 86400000000 END AS lat_day
       |  FROM per_user WHERE s_us IS NOT NULL
       |), h AS (
       |  SELECT lat_day, count(*)::BIGINT AS cnt FROM u
       |  WHERE lat_day IS NOT NULL GROUP BY 1
       |), tot AS (SELECT count(*)::BIGINT AS n_signups FROM u
       |), iv(interval, lo, hi) AS (VALUES $ivs
       |), c AS (
       |  SELECT iv.interval, iv.lo,
       |    sum(CASE WHEN h.lat_day BETWEEN iv.lo AND iv.hi
       |        THEN h.cnt ELSE 0 END)::BIGINT AS converted_in,
       |    sum(CASE WHEN h.lat_day < iv.lo THEN h.cnt ELSE 0 END)::BIGINT
       |      AS cum_before
       |  FROM iv CROSS JOIN h GROUP BY 1, 2
       |)
       |SELECT interval, converted_in,
       |  (tot.n_signups - cum_before)::BIGINT AS at_risk,
       |  (CASE WHEN tot.n_signups - cum_before = 0 THEN 0
       |    ELSE converted_in * 10000 // (tot.n_signups - cum_before)
       |    END)::BIGINT AS hazard_bp,
       |  (cum_before + converted_in)::BIGINT AS cum_converted,
       |  ((tot.n_signups - cum_before - converted_in) * 10000
       |    // tot.n_signups)::BIGINT AS survival_bp
       |FROM c CROSS JOIN tot ORDER BY interval""".stripMargin
  }

  // ---- X198: Kaplan-Meier conversion estimator (q272) -----------------------

  /** X198 Kaplan–Meier product-limit estimator (q272): the
    * right-censored upgrade of q188's conversion survival table
    * (Kaplan & Meier 1958). q188's interval table treats
    * never-converted signups as an undifferentiated remainder; KM
    * censors each of them at the END of observation (corpus max event
    * time) so the risk set shrinks honestly as follow-up runs out —
    * the difference between "users who didn't convert" and "users we
    * stopped being able to watch", which is exactly the bias a
    * growth team reads wrong when late cohorts look like
    * non-converters. Per conversion-day event time t: the risk set
    * n(t), conversions d(t), same-day censorings c(t), and the
    * product-limit survival Ŝ(t) = Π_{u ≤ t} (n(u) − d(u))/n(u) in
    * micro units.
    *
    * Exactly integer: cells walk in ascending-t order and the product
    * floors ONCE per step on the micro grid (censor-only cells
    * multiply by n/n = 1 exactly, so they only shrink the risk set) —
    * the q225 engine-order-proof rule; the Spark side folds the
    * sorted cell array in one row (the q255 device), the oracle walks
    * the same ranked cells with a recursive CTE. Exact while
    * micro·|risk set| fits BIGINT (≲9·10¹² users at risk).
    *
    * Scale posture: ONE user-keyed conditional-min collapse (the
    * q58/q130/q188 shape, map-side combinable) → a (lag-day) cell
    * table bounded by the calendar span; the fold is ONE row holding
    * that audit-sized array; output is ≤|event-time| rows. */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    // the per-user collapse is the cached seam; the bounded-broadcast
    // claim must register OUTSIDE it (a warm PlanCache would otherwise
    // skip registration and the PlanAuditSpec sweep — rightly — flags
    // the site as a bare broadcast)
    val per = graft.PlanCache.cached(spark, s"events.kmUsers:$dir") {
      Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "signup", unix_micros(col("ts"))))
            .as("s_us"),
          min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
            .as("p_us"),
          max(unix_micros(col("ts"))).as("last_us"))
        .filter(col("s_us").isNotNull)
    }
    val endUs = per.agg(max(col("last_us")).as("end_us"))
    val cells = per
      .crossJoin(graft.PlanAudit.Bounded
        .broadcastBounded("q272_kaplan_meier.end", endUs, 1L))
      .select(
        when(col("p_us").isNotNull && col("p_us") >= col("s_us"),
          expr("(p_us - s_us) div 86400000000"))
          .otherwise(expr("(end_us - s_us) div 86400000000")).as("t"),
        when(col("p_us").isNotNull && col("p_us") >= col("s_us"), 1L)
          .otherwise(0L).as("ev"))
      .groupBy(col("t"))
      .agg(sum(col("ev")).as("d"),
        sum(lit(1L) - col("ev")).as("c"))
    cells
      .agg(expr("sort_array(collect_list(named_struct(" +
        "'t', t, 'd', d, 'c', c)))").as("arr"))
      .select(explode(expr(
        "aggregate(arr, named_struct(" +
          "'rem', aggregate(arr, 0L, (a, x) -> a + x.d + x.c), " +
          "'s', 1000000L, " +
          "'out', cast(array() as array<struct<t:bigint,n:bigint," +
          "d:bigint,c:bigint,s:bigint>>)), " +
          "(st, x) -> named_struct(" +
          "'rem', st.rem - x.d - x.c, " +
          "'s', st.s * (st.rem - x.d) div st.rem, " +
          "'out', IF(x.d > 0, array_append(st.out, named_struct(" +
          "'t', x.t, 'n', st.rem, 'd', x.d, 'c', x.c, " +
          "'s', st.s * (st.rem - x.d) div st.rem)), st.out)), " +
          "st -> st.out)")).as("r"))
      .select(col("r.t").as("lag_day"), col("r.n").as("n_risk"),
        col("r.d").as("n_conv"), col("r.c").as("n_cens_at"),
        col("r.s").as("km_survival_micro"))
      .orderBy(col("lag_day"))
  }

  def kaplanMeierSql: String =
    """WITH RECURSIVE per_user AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup'
      |        THEN epoch_us(ts::TIMESTAMP) END) AS s_us,
      |    min(CASE WHEN event_type = 'purchase'
      |        THEN epoch_us(ts::TIMESTAMP) END) AS p_us,
      |    max(epoch_us(ts::TIMESTAMP)) AS last_us
      |  FROM events GROUP BY user_id
      |), signed AS (
      |  SELECT * FROM per_user WHERE s_us IS NOT NULL
      |), fin AS (SELECT max(last_us) AS end_us FROM signed
      |), u AS (
      |  SELECT CASE WHEN p_us IS NOT NULL AND p_us >= s_us
      |      THEN (p_us - s_us) // 86400000000
      |      ELSE (fin.end_us - s_us) // 86400000000 END AS t,
      |    CASE WHEN p_us IS NOT NULL AND p_us >= s_us THEN 1 ELSE 0
      |      END AS ev
      |  FROM signed CROSS JOIN fin
      |), cells AS (
      |  SELECT t, sum(ev)::BIGINT AS d, sum(1 - ev)::BIGINT AS c
      |  FROM u GROUP BY 1
      |), ranked AS (
      |  SELECT t, d, c, row_number() OVER (ORDER BY t) AS i FROM cells
      |), tot AS (
      |  SELECT coalesce(sum(d + c), 0)::BIGINT AS n FROM cells
      |), walk AS (
      |  SELECT 0::BIGINT AS i, n AS rem, 1000000::BIGINT AS s,
      |    0::BIGINT AS t, 0::BIGINT AS n_risk, 0::BIGINT AS d,
      |    0::BIGINT AS c
      |  FROM tot
      |  UNION ALL
      |  SELECT r.i, w.rem - r.d - r.c,
      |    (w.s * (w.rem - r.d) // w.rem)::BIGINT,
      |    r.t, w.rem, r.d, r.c
      |  FROM walk w JOIN ranked r ON r.i = w.i + 1
      |)
      |SELECT t AS lag_day, n_risk, d AS n_conv, c AS n_cens_at,
      |  s AS km_survival_micro
      |FROM walk WHERE i >= 1 AND d > 0 ORDER BY lag_day""".stripMargin

  /** Mann–Kendall trend test (q189): per event type, the exact
    * nonparametric trend statistic over the daily volume series —
    * S = Σ_{i<j} sign(c_j − c_i), Kendall's tau against time in bp
    * (S ÷ C(n,2)), and the sign verdict. The standard
    * distribution-free "is this metric actually trending" test (Mann
    * 1945; Kendall 1975) behind the q164 level alarms: volumeAnomaly
    * flags single bad days, this reads the whole window's direction —
    * robust to outliers because only ORDER enters, never magnitude.
    * All integer: sign sums and one bp division. Types active on a
    * single day (no pairs) still appear — n_days = 1, n_pairs = 0,
    * tau_bp = 0, 'flat' — so an absent row always means "untracked",
    * never "not enough days".
    *
    * Scale posture: the corpus collapses FIRST to (type, day) cells
    * with map-side combine (the q164/q172 seam, PlanCache-shared);
    * the pair fan-out is a type-keyed self-join over the
    * calendar-sized cell table (days², audit-sized at any corpus
    * scale — 10 years is ~6.7M pairs per type); the fold is a
    * |types|-row rollup. */
  /** The (event_type, day) cell collapse — event count `c` plus
    * purchase cents mass `cents` — the ONE corpus pass behind the
    * calendar-grain family (q189 trend, q203 burst, q206 co-movement
    * via [[denseDayGrid]], q204 refresh audit). Carrying cents costs
    * the seam one BIGINT per audit-sized cell and saves q204 its own
    * three corpus passes (guide §2.4: share one exchange). */
  private[graft] def dayTypeCells(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(spark, s"events.dayTypeCells:$dir") {
      Tables.events(spark, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          when(col("event_type") === "purchase",
            expr("cast(round(value * 100) as bigint)")).otherwise(0L)
            .as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("c"), sum(col("cents")).as("cents"))
    }

  def mannKendallTrend(spark: SparkSession, dir: String): DataFrame = {
    val cells = dayTypeCells(spark, dir)
    val a = cells.select(col("event_type"), col("day").as("d1"),
      col("c").as("c1"))
    val b = cells.select(col("event_type").as("et_b"), col("day").as("d2"),
      col("c").as("c2"))
    // per-type day counts come from the cell table directly (not the
    // pair join) so a type active on a SINGLE day — which produces no
    // pairs — still appears, with n_pairs = 0 and a 'flat' verdict
    val perType = cells.groupBy(col("event_type"))
      .agg(countDistinct(col("day")).as("n_days"))
    val pairs = a
      .join(b, col("event_type") === col("et_b") && col("d1") < col("d2"))
      .groupBy(col("event_type"))
      .agg(sum(signum(col("c2") - col("c1")).cast("long")).as("s_raw"),
        count(lit(1)).as("p_raw"))
    perType.join(pairs, Seq("event_type"), "left")
      .select(col("event_type"), col("n_days"),
        coalesce(col("p_raw"), lit(0L)).as("n_pairs"),
        coalesce(col("s_raw"), lit(0L)).as("s_stat"))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("s_stat"),
        // sign-split: Spark div truncates, DuckDB // floors — they only
        // agree on non-negative operands, so divide |S| and re-sign;
        // zero pairs (single active day) defines tau as 0
        expr("CASE WHEN n_pairs = 0 THEN CAST(0 AS BIGINT) " +
          "WHEN s_stat < 0 " +
          "THEN -((-s_stat) * 10000 div n_pairs) " +
          "ELSE s_stat * 10000 div n_pairs END").as("tau_bp"),
        expr("CASE WHEN s_stat > 0 THEN 'increasing' " +
          "WHEN s_stat < 0 THEN 'decreasing' ELSE 'flat' END").as("trend"))
      .orderBy(col("event_type"))
  }

  def mannKendallTrendSql: String =
    """WITH cells AS (
      |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2
      |), pt AS (
      |  SELECT event_type, count(DISTINCT day)::BIGINT AS n_days
      |  FROM cells GROUP BY 1
      |), p AS (
      |  SELECT a.event_type, count(*)::BIGINT AS p_raw,
      |    sum(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1
      |        ELSE 0 END)::BIGINT AS s_raw
      |  FROM cells a JOIN cells b
      |    ON a.event_type = b.event_type AND a.day < b.day
      |  GROUP BY 1
      |)
      |SELECT pt.event_type, pt.n_days,
      |  coalesce(p.p_raw, 0)::BIGINT AS n_pairs,
      |  coalesce(p.s_raw, 0)::BIGINT AS s_stat,
      |  (CASE WHEN coalesce(p.p_raw, 0) = 0 THEN 0
      |    WHEN p.s_raw < 0 THEN -((-p.s_raw) * 10000 // p.p_raw)
      |    ELSE p.s_raw * 10000 // p.p_raw END)::BIGINT AS tau_bp,
      |  CASE WHEN coalesce(p.s_raw, 0) > 0 THEN 'increasing'
      |    WHEN coalesce(p.s_raw, 0) < 0 THEN 'decreasing'
      |    ELSE 'flat' END AS trend
      |FROM pt LEFT JOIN p USING (event_type)
      |ORDER BY pt.event_type""".stripMargin

  /** Deterministic experiment readout (q191): users assigned to
    * control/treatment by the md5-derived 60-bit hash of their id
    * (h1 % 2 — the q86 mixture-coin device on the user grain), then
    * per arm: users, assignment share (the balance check every
    * experiment platform runs before reading results), converters
    * (≥1 purchase), conversion bp, purchase cents, and cents/user in
    * milli-cents. This is how production experimentation actually
    * buckets — a pure function of the id, reproducible across reruns,
    * backfills and engines, never a stored assignment table. The
    * readout is the exact 2×2 table (+ value column); significance
    * testing happens downstream of these exact counts.
    *
    * Scale posture: ONE user-keyed collapse (map-side partial agg on
    * the hash-projected stream), then a 2-row arm rollup + broadcast
    * 1-row total. Cents ride the round(·100) grid. */
  def abReadout(spark: SparkSession, dir: String): DataFrame = {
    val users = graft.PlanCache.cached(spark, s"events.abUsers:$dir") {
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("converted"),
          sum(when(col("event_type") === "purchase", col("cents"))
            .otherwise(0L)).as("purchase_cents"))
        .select(
          when(pmod(graft.functions.TextHash.h1(col("user_id").cast("string")),
            lit(2L)) === 0L, "control").otherwise("treatment").as("arm"),
          col("converted"), col("purchase_cents"))
    }
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("converted")).as("n_converters"),
        sum(col("purchase_cents")).as("purchase_cents"))
    val tot = arms.agg(sum(col("n_users")).as("n_tot"))
    arms.crossJoin(broadcast(tot))
      .select(col("arm"), col("n_users"),
        expr("n_users * 10000 div n_tot").as("assign_share_bp"),
        col("n_converters"),
        expr("n_converters * 10000 div n_users").as("conv_bp"),
        col("purchase_cents"),
        expr("purchase_cents * 1000 div n_users").as("cents_per_user_milli"))
      .orderBy(col("arm"))
  }

  def abReadoutSql: String = {
    val arm = graft.functions.TextHash.h1Sql("user_id::VARCHAR")
    s"""WITH u AS (
       |  SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
       |      AS converted,
       |    sum(CASE WHEN event_type = 'purchase'
       |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)::BIGINT
       |      AS purchase_cents
       |  FROM events GROUP BY 1
       |), a AS (
       |  SELECT CASE WHEN ($arm) % 2 = 0 THEN 'control'
       |    ELSE 'treatment' END AS arm, converted, purchase_cents
       |  FROM u
       |), arms AS (
       |  SELECT arm, count(*)::BIGINT AS n_users,
       |    sum(converted)::BIGINT AS n_converters,
       |    sum(purchase_cents)::BIGINT AS purchase_cents
       |  FROM a GROUP BY 1
       |), tot AS (SELECT sum(n_users)::BIGINT AS n_tot FROM arms)
       |SELECT arm, n_users,
       |  (n_users * 10000 // tot.n_tot)::BIGINT AS assign_share_bp,
       |  n_converters,
       |  (n_converters * 10000 // n_users)::BIGINT AS conv_bp,
       |  purchase_cents,
       |  (purchase_cents * 1000 // n_users)::BIGINT AS cents_per_user_milli
       |FROM arms CROSS JOIN tot ORDER BY arm""".stripMargin
  }

  /** X176 A/B significance audit (q250): the inference layer q191's
    * readout stops short of — the pooled two-proportion z-test on the
    * conversion split, computed EXACTLY in integer fixed point. With
    * x/n converters per arm, z = (x₁n₂ − x₂n₁) / sqrt(D) where
    * D = P(N−P)·n₁·n₂ div N (P = x₁+x₂, N = n₁+n₂ — the pooled
    * variance numerator on a floored integer grid, identical in both
    * engines); the q245 isqrt device takes the root and the magnitude
    * lands in milli. Signed division never happens (the FIXTURES §C
    * floor/truncate trap): the statistic rides |diff| with an explicit
    * direction column. Row carries both arms' counts, the absolute
    * conversion gap in bp, z in milli, and the 95%/99% verdicts
    * (1960/2576 milli) — the "is this real or noise" stamp every
    * experiment readout needs before anyone ships on it.
    *
    * Domain bound: D ≤ N³/16 — BIGINT-safe below ~4.5M experiment
    * users (the decimal(38,0) guard covers the intermediate products);
    * beyond that, test on a user sample.
    *
    * Scale posture: rides the PlanCache'd q191 per-user table (ONE
    * user collapse, shared); everything after is a 1-row fold. */
  def abSignificance(spark: SparkSession, dir: String): DataFrame = {
    val users = graft.PlanCache.cached(spark, s"events.abUsers:$dir") {
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("converted"),
          sum(when(col("event_type") === "purchase", col("cents"))
            .otherwise(0L)).as("purchase_cents"))
        .select(
          when(pmod(graft.functions.TextHash.h1(col("user_id").cast("string")),
            lit(2L)) === 0L, "control").otherwise("treatment").as("arm"),
          col("converted"), col("purchase_cents"))
    }
    users
      .agg(
        sum(when(col("arm") === "control", 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === "control", col("converted"))
          .otherwise(0L)).as("x1"),
        sum(when(col("arm") === "treatment", 1L).otherwise(0L)).as("n2"),
        sum(when(col("arm") === "treatment", col("converted"))
          .otherwise(0L)).as("x2"))
      .select(col("n1").as("n_control"), col("x1").as("conv_control"),
        expr("CASE WHEN n1 > 0 THEN x1 * 10000 div n1 ELSE 0L END")
          .as("conv_control_bp"),
        col("n2").as("n_treatment"), col("x2").as("conv_treatment"),
        expr("CASE WHEN n2 > 0 THEN x2 * 10000 div n2 ELSE 0L END")
          .as("conv_treatment_bp"),
        expr("abs(x2 * n1 - x1 * n2)").as("dabs"),
        expr("CASE WHEN x2 * n1 > x1 * n2 THEN 'treatment_up' " +
          "WHEN x2 * n1 < x1 * n2 THEN 'treatment_down' " +
          "ELSE 'flat' END").as("direction"),
        expr("CASE WHEN n1 > 0 AND n2 > 0 THEN " +
          "cast(cast((x1 + x2) as decimal(38,0)) * (n1 + n2 - x1 - x2) " +
          "* n1 * n2 div (n1 + n2) as bigint) ELSE 0L END").as("dvar"))
      .select(col("n_control"), col("conv_control"), col("conv_control_bp"),
        col("n_treatment"), col("conv_treatment"), col("conv_treatment_bp"),
        expr("CASE WHEN n_control > 0 AND n_treatment > 0 THEN " +
          "cast(cast(dabs as decimal(38,0)) * 10000 div " +
          "(cast(n_control as decimal(38,0)) * n_treatment) as bigint) " +
          "ELSE 0L END").as("diff_abs_bp"),
        col("direction"),
        expr(s"CASE WHEN dvar > 0 THEN cast(cast(dabs as decimal(38,0)) " +
          s"* 1000 div (${Curation.isqrtSpark("dvar")}) as bigint) " +
          "ELSE 0L END").as("z_abs_milli"))
      .withColumn("significant_95", col("z_abs_milli") >= 1960L)
      .withColumn("significant_99", col("z_abs_milli") >= 2576L)
  }

  def abSignificanceSql: String = {
    val arm = graft.functions.TextHash.h1Sql("user_id::VARCHAR")
    s"""WITH RECURSIVE u AS (
       |  SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
       |      AS converted
       |  FROM events GROUP BY 1
       |), s AS (
       |  SELECT
       |    sum(CASE WHEN ($arm) % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n1,
       |    sum(CASE WHEN ($arm) % 2 = 0 THEN converted ELSE 0 END)::BIGINT
       |      AS x1,
       |    sum(CASE WHEN ($arm) % 2 = 0 THEN 0 ELSE 1 END)::BIGINT AS n2,
       |    sum(CASE WHEN ($arm) % 2 = 0 THEN 0 ELSE converted END)::BIGINT
       |      AS x2
       |  FROM u
       |), d AS (
       |  SELECT n1, x1, n2, x2,
       |    abs(x2 * n1 - x1 * n2)::BIGINT AS dabs,
       |    CASE WHEN x2 * n1 > x1 * n2 THEN 'treatment_up'
       |      WHEN x2 * n1 < x1 * n2 THEN 'treatment_down'
       |      ELSE 'flat' END AS direction,
       |    CASE WHEN n1 > 0 AND n2 > 0 THEN
       |      ((x1 + x2)::HUGEINT * (n1 + n2 - x1 - x2) * n1 * n2
       |        // (n1 + n2))::BIGINT ELSE 0 END AS dvar
       |  FROM s
       |), f AS (
       |  SELECT d.*, dvar AS num, 0::BIGINT AS res, 0 AS i FROM d
       |  UNION ALL
       |  SELECT n1, x1, n2, x2, dabs, direction, dvar,
       |    CASE WHEN num >= res + (1::BIGINT << (62 - 2 * i))
       |      THEN num - res - (1::BIGINT << (62 - 2 * i)) ELSE num END,
       |    CASE WHEN num >= res + (1::BIGINT << (62 - 2 * i))
       |      THEN res // 2 + (1::BIGINT << (62 - 2 * i)) ELSE res // 2 END,
       |    i + 1
       |  FROM f WHERE i < 32
       |)
       |SELECT n1 AS n_control, x1 AS conv_control,
       |  (CASE WHEN n1 > 0 THEN x1 * 10000 // n1 ELSE 0 END)::BIGINT
       |    AS conv_control_bp,
       |  n2 AS n_treatment, x2 AS conv_treatment,
       |  (CASE WHEN n2 > 0 THEN x2 * 10000 // n2 ELSE 0 END)::BIGINT
       |    AS conv_treatment_bp,
       |  (CASE WHEN n1 > 0 AND n2 > 0 THEN
       |    (dabs::HUGEINT * 10000 // (n1::HUGEINT * n2))::BIGINT
       |    ELSE 0 END)::BIGINT AS diff_abs_bp,
       |  direction,
       |  (CASE WHEN dvar > 0 THEN
       |    (dabs::HUGEINT * 1000 // res)::BIGINT ELSE 0 END)::BIGINT
       |    AS z_abs_milli,
       |  (CASE WHEN dvar > 0 THEN
       |    (dabs::HUGEINT * 1000 // res)::BIGINT ELSE 0 END) >= 1960
       |    AS significant_95,
       |  (CASE WHEN dvar > 0 THEN
       |    (dabs::HUGEINT * 1000 // res)::BIGINT ELSE 0 END) >= 2576
       |    AS significant_99
       |FROM f WHERE i = 32""".stripMargin
  }

  /** State dwell-time attribution (q192): per event type, the total and
    * mean time users SPEND in that state — each inter-event gap is
    * attributed to the event that OPENED it (last-touch state
    * semantics, the q175 rule applied to time instead of revenue).
    * Complements q127 (which distributes the same gaps by duration) by
    * answering "which state do users linger in" — the screen-time
    * table of product analytics, and the dwell weighting a session-
    * packing pipeline (X26/X105) reads before sizing context windows.
    * All integer: exact µs gaps, single divisions.
    *
    * Scale posture: the same ONE user_id window exchange as q122/q127
    * (lead over (us, event_id)); a ≤|types|-row rollup with map-side
    * combine + a broadcast 1-row total. */
  def stateDwell(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val cells = graft.PlanCache.cached(spark, s"events.stateDwell:$dir") {
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .filter(col("next_us").isNotNull)
        .withColumn("dwell_us", col("next_us") - col("us"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_dwells"),
          sum(col("dwell_us")).as("dwell_us"))
    }
    val tot = cells.agg(sum(col("dwell_us")).as("t_us"))
    cells.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_dwells"),
        expr("dwell_us div 1000000").as("dwell_sec"),
        expr("dwell_us div (n_dwells * 1000)").as("mean_dwell_ms"),
        expr("case when t_us = 0 then cast(0 as bigint) " +
          "else dwell_us * 10000 div t_us end").as("dwell_share_bp"))
      .orderBy(col("event_type"))
  }

  def stateDwellSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us,
      |    lead(epoch_us(ts::TIMESTAMP)) OVER (PARTITION BY user_id
      |      ORDER BY ts::TIMESTAMP, event_id) AS next_us
      |  FROM events
      |), d AS (
      |  SELECT event_type, next_us - us AS dwell_us
      |  FROM seq WHERE next_us IS NOT NULL
      |), cells AS (
      |  SELECT event_type, count(*)::BIGINT AS n_dwells,
      |    sum(dwell_us)::BIGINT AS dwell_us
      |  FROM d GROUP BY 1
      |), tot AS (SELECT sum(dwell_us)::BIGINT AS t_us FROM cells)
      |SELECT event_type, n_dwells,
      |  (dwell_us // 1000000)::BIGINT AS dwell_sec,
      |  (dwell_us // (n_dwells * 1000))::BIGINT AS mean_dwell_ms,
      |  (CASE WHEN tot.t_us = 0 THEN 0
      |    ELSE dwell_us * 10000 // tot.t_us END)::BIGINT AS dwell_share_bp
      |FROM cells CROSS JOIN tot ORDER BY event_type""".stripMargin

  /** Cohort lifetime-value matrix (q195): users grouped by the calendar
    * MONTH of their first event; per (cohort_month, activity_month) the
    * purchase cents that cohort spent that month and the per-cohort-user
    * rate in milli-cents — the revenue companion to q28's retention
    * counts (an LTV curve is this matrix read along a row, and payback
    * analysis reads it along the diagonal). Months are 'yyyy-MM' UTC
    * strings, cents exact.
    *
    * Scale posture: ONE user-keyed collapse computes first-month and
    * per-(user, month) spend together (map-side partial agg); the
    * cohort fan-in is a user-keyed join of two co-partitioned
    * user-grained tables; the matrix fold is months²-sized with
    * map-side combine; cohort sizes broadcast back onto matrix rows. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val um = graft.PlanCache.cached(spark, s"events.userMonths:$dir") {
      Tables.events(spark, dir)
        .select(col("user_id"), date_format(col("ts"), "yyyy-MM").as("month"),
          when(col("event_type") === "purchase",
            expr("cast(round(value * 100) as bigint)")).otherwise(0L)
            .as("cents"))
        .groupBy(col("user_id"), col("month"))
        .agg(sum(col("cents")).as("cents"))
    }
    val cohorts = um.groupBy(col("user_id"))
      .agg(min(col("month")).as("cohort_month"))
    val sizes = cohorts.groupBy(col("cohort_month"))
      .agg(count(lit(1)).as("n_cohort_users"))
    um.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_month"), col("month").as("activity_month"))
      .agg(sum(col("cents")).as("purchase_cents"),
        count(lit(1)).as("n_active_users"))
      .join(broadcast(sizes), Seq("cohort_month"))
      .select(col("cohort_month"), col("activity_month"),
        col("n_cohort_users"), col("n_active_users"), col("purchase_cents"),
        expr("purchase_cents * 1000 div n_cohort_users")
          .as("cents_per_cohort_user_milli"))
      .orderBy(col("cohort_month"), col("activity_month"))
  }

  /** X185 weekly cohort retention triangle (q259): the classic
    * product-analytics retention read — users bucketed into weekly
    * signup cohorts (first-active week), then per (cohort, week
    * offset): active users and retention in bp of the cohort size.
    * q195 answers "how much do cohorts SPEND over time"; this answers
    * "do they COME BACK at all" — the activity twin, and the table
    * every growth review draws as the triangle (offset 0 reads 10000
    * by construction; the decay profile down each column is the
    * product's habit curve, and a cohort row that decays faster than
    * the one above it is the regression signal). Weeks are absolute
    * epoch-day div 7 buckets, so both engines cut identically and
    * cross-month weeks never split.
    *
    * Scale posture: ONE corpus collapse to the distinct (user, week)
    * grain (map-side combinable, the only corpus shuffle); cohorts
    * are a user-grain min; the triangle is a cohort-keyed collapse of
    * the user-week table joined to the broadcast cohort-size
    * dimension; ≤|weeks|² output rows. */
  def retentionTriangle(spark: SparkSession, dir: String): DataFrame = {
    val uw = graft.PlanCache.cached(spark, s"events.userWeeks:$dir") {
      Tables.events(spark, dir)
        .select(col("user_id"),
          expr("cast(datediff(to_date(ts), date'1970-01-01') div 7 " +
            "as bigint)").as("week"))
        .distinct()
    }
    val cohorts = uw.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val sizes = cohorts.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_cohort_users"))
    uw.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active_users"))
      .join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"),
        col("n_cohort_users"), col("n_active_users"),
        expr("n_active_users * 10000 div n_cohort_users")
          .as("retention_bp"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  def retentionTriangleSql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id,
      |    ((ts::DATE - DATE '1970-01-01') // 7)::BIGINT AS week
      |  FROM events
      |), cohorts AS (
      |  SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1
      |), sizes AS (
      |  SELECT cohort_week, count(*)::BIGINT AS n_cohort_users
      |  FROM cohorts GROUP BY 1
      |), tri AS (
      |  SELECT c.cohort_week, (uw.week - c.cohort_week)::BIGINT
      |      AS week_offset,
      |    count(*)::BIGINT AS n_active_users
      |  FROM uw JOIN cohorts c USING (user_id)
      |  GROUP BY 1, 2
      |)
      |SELECT cohort_week, week_offset, n_cohort_users, n_active_users,
      |  (n_active_users * 10000 // n_cohort_users)::BIGINT AS retention_bp
      |FROM tri JOIN sizes USING (cohort_week)
      |ORDER BY cohort_week, week_offset""".stripMargin

  def cohortLtvSql: String =
    """WITH um AS (
      |  SELECT user_id, strftime(ts::TIMESTAMP, '%Y-%m') AS month,
      |    sum(CASE WHEN event_type = 'purchase'
      |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)::BIGINT
      |      AS cents
      |  FROM events GROUP BY 1, 2
      |), cohorts AS (
      |  SELECT user_id, min(month) AS cohort_month FROM um GROUP BY 1
      |), sizes AS (
      |  SELECT cohort_month, count(*)::BIGINT AS n_cohort_users
      |  FROM cohorts GROUP BY 1
      |), m AS (
      |  SELECT c.cohort_month, um.month AS activity_month,
      |    sum(um.cents)::BIGINT AS purchase_cents,
      |    count(*)::BIGINT AS n_active_users
      |  FROM um JOIN cohorts c USING (user_id)
      |  GROUP BY 1, 2
      |)
      |SELECT cohort_month, activity_month, n_cohort_users, n_active_users,
      |  purchase_cents,
      |  (purchase_cents * 1000 // n_cohort_users)::BIGINT
      |    AS cents_per_cohort_user_milli
      |FROM m JOIN sizes USING (cohort_month)
      |ORDER BY cohort_month, activity_month""".stripMargin

  /** Longest-active-streak distribution (q196): per user, the longest
    * run of CONSECUTIVE active days, rolled into streak bands — the
    * engagement-habit histogram (gamification's "streak" read as an
    * audit), computed with the classic gaps-and-islands device: on a
    * user's distinct active days ordered by date, day −
    * row_number()·1day is CONSTANT within a consecutive run, so the
    * (user, anchor) group IS the island and its size the streak
    * length. One pass, no self-join, no recursion.
    *
    * Scale posture: corpus collapses to distinct (user, day) map-side
    * (PlanCache-shared with q186); the island window partitions on
    * user_id (the q122 exchange, reused by the island rollup and the
    * per-user max — all user-keyed); the band fold is ≤5 rows +
    * broadcast scalar total. */
  def activeStreaks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val userDays = graft.PlanCache.cached(spark, s"events.userDays:$dir") {
      Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
    }
    val streaks = userDays
      .withColumn("anchor",
        date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("anchor"))
      .agg(count(lit(1)).as("streak"))
      .groupBy(col("user_id"))
      .agg(max(col("streak")).as("best_streak"))
    val bands = streaks.groupBy(
      when(col("best_streak") === 1, "a_1")
        .when(col("best_streak") === 2, "b_2")
        .when(col("best_streak") <= 4, "c_3_4")
        .when(col("best_streak") <= 7, "d_5_7")
        .otherwise("e_gt_7").as("streak_band"))
      .agg(count(lit(1)).as("n_users"),
        max(col("best_streak")).as("max_streak"))
    val tot = bands.agg(sum(col("n_users")).as("n_tot"))
    bands.crossJoin(broadcast(tot))
      .select(col("streak_band"), col("n_users"),
        expr("n_users * 10000 div n_tot").as("share_bp"),
        col("max_streak"))
      .orderBy(col("streak_band"))
  }

  def activeStreaksSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, ts::DATE AS day FROM events
      |), isl AS (
      |  SELECT user_id,
      |    day - to_days(row_number() OVER (PARTITION BY user_id
      |      ORDER BY day)::INTEGER) AS anchor
      |  FROM ud
      |), s AS (
      |  SELECT user_id, count(*)::BIGINT AS streak
      |  FROM isl GROUP BY user_id, anchor
      |), best AS (
      |  SELECT user_id, max(streak)::BIGINT AS best_streak FROM s GROUP BY 1
      |), bands AS (
      |  SELECT CASE WHEN best_streak = 1 THEN 'a_1'
      |    WHEN best_streak = 2 THEN 'b_2'
      |    WHEN best_streak <= 4 THEN 'c_3_4'
      |    WHEN best_streak <= 7 THEN 'd_5_7'
      |    ELSE 'e_gt_7' END AS streak_band,
      |    count(*)::BIGINT AS n_users,
      |    max(best_streak)::BIGINT AS max_streak
      |  FROM best GROUP BY 1
      |), tot AS (SELECT sum(n_users)::BIGINT AS n_tot FROM bands)
      |SELECT streak_band, n_users,
      |  (n_users * 10000 // tot.n_tot)::BIGINT AS share_bp, max_streak
      |FROM bands CROSS JOIN tot ORDER BY streak_band""".stripMargin

  def sessionizationSql: String =
    s"""WITH seq AS (
       |  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us,
       |    lag(epoch_us(ts::TIMESTAMP)) OVER (PARTITION BY user_id
       |      ORDER BY ts::TIMESTAMP, event_id) AS prev_us
       |  FROM events
       |), f AS (
       |  SELECT user_id, event_id, us,
       |    CASE WHEN prev_us IS NULL OR us - prev_us > $SessionTimeoutUs
       |      THEN 1 ELSE 0 END AS opens
       |  FROM seq
       |), sid AS (
       |  -- same (us, event_id) tie-break as the lag window: a µs tie with
       |  -- an opens=1 row would otherwise split sessions differently
       |  SELECT user_id, us,
       |    sum(opens) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM f
       |), sess AS (
       |  SELECT user_id, sid, count(*)::BIGINT AS n_events,
       |    ((max(us) - min(us)) // 1000000)::BIGINT AS dur_sec
       |  FROM sid GROUP BY 1, 2
       |), bands AS (
       |  SELECT CASE WHEN n_events = 1 THEN 'a_1'
       |    WHEN n_events = 2 THEN 'b_2'
       |    WHEN n_events <= 5 THEN 'c_3_5'
       |    WHEN n_events <= 10 THEN 'd_6_10'
       |    ELSE 'e_gt_10' END AS size_band,
       |    count(*)::BIGINT AS n_sessions,
       |    sum(n_events)::BIGINT AS n_events,
       |    sum(dur_sec)::BIGINT AS sum_dur_sec
       |  FROM sess GROUP BY 1
       |), tot AS (SELECT sum(n_sessions)::BIGINT AS n_tot FROM bands)
       |SELECT size_band, n_sessions,
       |  (n_sessions * 10000 // tot.n_tot)::BIGINT AS share_bp,
       |  n_events, sum_dur_sec,
       |  (sum_dur_sec * 1000 // n_sessions)::BIGINT AS dur_per_session_milli
       |FROM bands CROSS JOIN tot ORDER BY size_band""".stripMargin

  // ---- X129: decayed-baseline burst panel (q203) ---------------------------

  /** Dyadic decay weights for [[decayedBurstPanel]]: the 7 most recent
    * prior days at halving weight (64, 32, …, 1; denominator 127) —
    * exponential smoothing with α = 1/2 truncated to a week (the
    * classic Brown/Holt recursion made EXACTLY integer: powers of two
    * instead of a float decay, so both engines land identical
    * baselines). */
  val BurstWeights: Seq[Long] = (0 until 7).map(k => 64L >> k)

  /** X129 decayed-baseline burst panel (q203): per event type — days
    * scored, burst days (volume more than 2× the decayed baseline of
    * the prior week), quiet days (volume under a fifth of it), and the
    * worst burst ratio in bp of baseline. The q164 level panel flags
    * deviations from a STATIC per-type mean; this scores each day
    * against a RECENCY-weighted baseline, so a gradual ramp stops
    * alerting (the baseline follows) while a step change fires — the
    * burst-vs-trend distinction every volume monitor eventually needs
    * (q189 reads direction, this reads shock). Gap days count as
    * genuine zeros: the calendar grid is dense, so a silent week
    * really does decay the baseline to zero, and a "burst from
    * silence" (volume with a zero baseline) is counted in
    * `n_burst` but carries the documented ratio sentinel −1 (it has
    * no finite ratio and must not win `max_ratio_bp`).
    *
    * Scale posture: the corpus collapses FIRST to (type, day) cells
    * (the PlanCache seam shared with q164/q172/q189); the dense grid
    * is |types| × calendar days (audit-sized at ANY corpus scale) via
    * one broadcast span scalar; the 7 lags ride ONE type-keyed window
    * over grid rows; the fold is a |types|-row rollup. */
  /** Dense (event_type, day, c) calendar grid over the event span —
    * gap days as genuine zeros. |types| × calendar days rows
    * (audit-sized at any corpus scale); PlanCache-shared by the q203
    * burst panel and the q206 co-movement matrix. */
  private def denseDayGrid(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(spark, s"events.denseDayGrid:$dir") {
      val cells = dayTypeCells(spark, dir)
      val span = Tables.events(spark, dir)
        .agg(min(to_date(col("ts"))).as("d0"),
          max(to_date(col("ts"))).as("d1"))
      cells.select(col("event_type")).distinct()
        .crossJoin(broadcast(span))
        .select(col("event_type"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(cells, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("c"), lit(0L)).as("c"))
    }

  def decayedBurstPanel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = denseDayGrid(spark, dir)
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val baseline = BurstWeights.zipWithIndex
      .map { case (wt, k) => lag(col("c"), k + 1, 0L).over(w) * lit(wt) }
      .reduce(_ + _)
    grid
      .withColumn("rn", row_number().over(w))
      .withColumn("b127", baseline)
      .filter(col("rn") > 7) // a full prior week exists
      .select(col("event_type"), col("c"), col("b127"),
        expr("CASE WHEN b127 = 0 THEN CASE WHEN c = 0 THEN CAST(10000 AS BIGINT) " +
          "ELSE CAST(-1 AS BIGINT) END " +
          "ELSE c * 127 * 10000 div b127 END").as("ratio_bp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days_scored"),
        sum(when(col("c") * 127 > col("b127") * 2, 1L).otherwise(0L))
          .as("n_burst"),
        sum(when(col("c") * 127 * 5 < col("b127"), 1L).otherwise(0L))
          .as("n_quiet"),
        max(col("ratio_bp")).as("max_ratio_bp"))
      .orderBy(col("event_type"))
  }

  // ---- X133: value-quartile migration matrix (q207) ------------------------

  /** X133 value-quartile migration matrix (q207): split the purchase
    * log at the midpoint day, assign each user an exact spend QUARTILE
    * within each half (the q132/q176 histogram-rank election — never
    * ntile), and emit the migration matrix: users per (from, to) cell,
    * plus 'new' (second half only) and 'churned' (first half only)
    * edges with quartile 0 on the missing side. This is the
    * period-over-period value-migration read every growth team runs —
    * RFM (q176) scores a single window; this shows users MOVING
    * between value tiers, which is where expansion and churn risk
    * actually live.
    *
    * Quartile rule: boundary = smallest spend with cum ≥ (q·n+3) div 4
    * over the period's per-user spend histogram; a user's quartile is
    * 1 + (boundaries strictly below their spend) — exact, total and
    * tie-stable in both engines (equal spends share a quartile).
    *
    * Scale posture: ONE user-period collapse (map-side combinable, the
    * only corpus shuffle); each period's boundary election runs on the
    * distinct-spend histogram (audit-sized); quartile assignment is a
    * broadcast ≤3-row theta-join per period (the q176 cutoff shape);
    * the matrix is a ≤(5×5)-row fold. */
  def valueMigration(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
    val mid = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(expr("date_add(d0, cast(datediff(d1, d0) div 2 as int))")
        .as("cut"))
    // perUser is read six times (two quartiled legs × {hist, n, final
    // join}) — without a materialization point each reference re-ran
    // the purchase scan + collapse (28 exchanges in the executed
    // plan). User-grain, so a seam is the q64/q225 rule (§2.4 share
    // one exchange).
    val perUser = graft.PlanCache.cached(spark, s"events.migrationSpend:$dir") {
      ev.crossJoin(broadcast(mid))
        .withColumn("period", when(col("day") <= col("cut"), 1L).otherwise(2L))
        .groupBy(col("user_id"), col("period"))
        .agg(sum(col("cents")).as("spend"))
    }
    def quartiled(p: Long): DataFrame = {
      val u = perUser.filter(col("period") === p)
      val hist = graft.PlanCache.cached(spark, s"events.migrationHist:$p:$dir") {
        u.groupBy(col("spend")).agg(count(lit(1)).as("cnt"))
      }
      val n = u.agg(count(lit(1)).as("n"))
      // boundary q (1..3) = smallest spend with cum >= (q·n+3) div 4;
      // cum via the q167-style triangle fold (audit-sized histogram)
      val h2 = hist.select(col("spend").as("s2"), col("cnt").as("c2"))
      val cum = hist.join(broadcast(h2), col("s2") <= col("spend"))
        .groupBy(col("spend")).agg(sum(col("c2")).as("cum"))
      val bounds = cum.crossJoin(broadcast(n))
        .select(col("spend"),
          explode(sequence(lit(1L), lit(3L))).as("q"), col("cum"), col("n"))
        .filter(col("cum") >= expr("(q * n + 3) div 4"))
        .groupBy(col("q")).agg(min(col("spend")).as("boundary"))
      u.join(broadcast(bounds), col("spend") > col("boundary"), "left")
        .groupBy(col("user_id"))
        .agg((count(col("q")) + 1).as("quartile"))
    }
    val q1 = quartiled(1L).select(col("user_id"), col("quartile").as("q_from"))
    val q2 = quartiled(2L).select(col("user_id"), col("quartile").as("q_to"))
    q1.join(q2, Seq("user_id"), "full")
      .select(coalesce(col("q_from"), lit(0L)).as("q_from"),
        coalesce(col("q_to"), lit(0L)).as("q_to"))
      .groupBy(col("q_from"), col("q_to"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("q_from"), col("q_to"))
  }

  def valueMigrationSql: String = {
    def leg(cmp: String): String =
      s"""  SELECT user_id, sum(cents)::BIGINT AS spend
         |  FROM ev CROSS JOIN mid WHERE day $cmp cut GROUP BY 1""".stripMargin
    def quartile(src: String): String =
      s"""  SELECT u.user_id, (1 + count(b.q))::BIGINT AS quartile
         |  FROM $src u LEFT JOIN (
         |    SELECT q, min(spend) AS boundary FROM (
         |      SELECT h.spend, q.q, sum(h2.cnt) AS cum, n.n
         |      FROM (SELECT spend, count(*)::BIGINT AS cnt FROM $src
         |            GROUP BY 1) h
         |      JOIN (SELECT spend AS s2, count(*)::BIGINT AS cnt FROM $src
         |            GROUP BY 1) h2(s2, cnt) ON h2.s2 <= h.spend
         |      CROSS JOIN (SELECT unnest([1, 2, 3])::BIGINT AS q) q
         |      CROSS JOIN (SELECT count(*)::BIGINT AS n FROM $src) n
         |      GROUP BY h.spend, q.q, n.n
         |    ) WHERE cum >= (q * n + 3) // 4 GROUP BY q
         |  ) b ON u.spend > b.boundary
         |  GROUP BY u.user_id""".stripMargin
    s"""WITH ev AS (
       |  SELECT user_id, ts::DATE AS day, round(value * 100)::BIGINT AS cents
       |  FROM events WHERE event_type = 'purchase'
       |), mid AS (
       |  SELECT min(day) + ((max(day) - min(day)) // 2)::INTEGER AS cut
       |  FROM ev
       |), p1 AS (
       |${leg("<=")}
       |), p2 AS (
       |${leg(">")}
       |), k1 AS (
       |${quartile("p1")}
       |), k2 AS (
       |${quartile("p2")}
       |)
       |SELECT coalesce(k1.quartile, 0)::BIGINT AS q_from,
       |  coalesce(k2.quartile, 0)::BIGINT AS q_to,
       |  count(*)::BIGINT AS n_users
       |FROM k1 FULL JOIN k2 USING (user_id)
       |GROUP BY 1, 2 ORDER BY q_from, q_to""".stripMargin
  }

  // ---- X132: metric co-movement matrix (q206) ------------------------------

  /** X132 metric co-movement matrix (q206): Spearman rank correlation
    * (Spearman 1904) between every pair of event types' DAILY volume
    * series, in exact milli units: ρ = 1 − 6·Σd² ∕ (n³ − n) over
    * distinct ranks. The "which metrics move together" read behind
    * dashboard grouping and alert dedup — two types with ρ ≈ 1000 are
    * one signal, ρ ≈ −1000 is a substitution effect (q169 reads
    * per-user co-occurrence; this reads population-level co-movement,
    * robust to scale because only RANKS enter). Ranks come from the
    * DENSE calendar grid (gap days are genuine zeros in both series)
    * and tie-break deterministically on the day, so both engines rank
    * identically and the statistic is the documented distinct-rank
    * variant. All integer: Σd² and one milli division, sign-free by
    * construction (the division operand is non-negative; the
    * subtraction may legitimately go negative).
    *
    * Scale posture: the corpus collapses to the PlanCache-shared dense
    * grid first (|types| × calendar days — audit-sized); ranking is a
    * type-keyed window over grid rows; the pair space is a day-keyed
    * self-join of the grid (|types|² × days cells, still audit-sized);
    * the fold is a |types|²-row rollup. */
  def comovementMatrix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("c"), col("day"))
    val ranked = denseDayGrid(spark, dir)
      .withColumn("r", row_number().over(w).cast("long"))
    val a = ranked.select(col("event_type").as("type_a"), col("day"),
      col("r").as("ra"))
    val b = ranked.select(col("event_type").as("type_b"), col("day"),
      col("r").as("rb"))
    a.join(b, Seq("day"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_days"),
        sum((col("ra") - col("rb")) * (col("ra") - col("rb"))).as("d2_sum"))
      .select(col("type_a"), col("type_b"), col("n_days"), col("d2_sum"),
        expr("CASE WHEN n_days < 2 THEN CAST(0 AS BIGINT) " +
          "ELSE 1000 - 6000 * d2_sum div (n_days * n_days * n_days - n_days) " +
          "END").as("rho_milli"))
      .orderBy(col("type_a"), col("type_b"))
  }

  def comovementMatrixSql: String =
    """WITH cells AS (
      |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events
      |), grid AS (
      |  SELECT t.event_type, g.day::DATE AS day, coalesce(cells.c, 0) AS c
      |  FROM (SELECT DISTINCT event_type FROM cells) t
      |  CROSS JOIN (SELECT unnest(generate_series(d0, d1,
      |    INTERVAL 1 DAY))::DATE AS day FROM span) g
      |  LEFT JOIN cells USING (event_type, day)
      |), ranked AS (
      |  SELECT event_type, day,
      |    row_number() OVER (PARTITION BY event_type ORDER BY c, day)
      |      ::BIGINT AS r
      |  FROM grid
      |)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |  count(*)::BIGINT AS n_days,
      |  sum((a.r - b.r) * (a.r - b.r))::BIGINT AS d2_sum,
      |  (CASE WHEN count(*) < 2 THEN 0
      |    ELSE 1000 - 6000 * sum((a.r - b.r) * (a.r - b.r))
      |      // (count(*) * count(*) * count(*) - count(*)) END)::BIGINT
      |    AS rho_milli
      |FROM ranked a JOIN ranked b
      |  ON a.day = b.day AND a.event_type < b.event_type
      |GROUP BY 1, 2 ORDER BY type_a, type_b""".stripMargin

  /** X190 Pearson co-movement matrix (q264): the PARAMETRIC twin of
    * q206 on the same dense daily grid (Pearson 1896) — Spearman reads
    * monotone association in ranks; Pearson prices the LINEAR
    * relationship in the raw volumes, so the pair is the classic
    * diagnostic: ρ high but r low = monotone-but-curved, r ≫ ρ = a
    * few huge days doing all the work. Exactly integer: per pair,
    * cov = n·Σxy − ΣxΣy, var = n·Σx² − (Σx)², and r_milli =
    * sign(cov)·(1000·|cov| div (√vx·√vy)) — the roots are the q245
    * restoring isqrt rounded to NEAREST (quantization ≲ 1/√v
    * relative, negligible on any real daily series) and the result
    * clamped to ±1000 so Cauchy–Schwarz survives the rounding;
    * degenerate (zero-variance) series read 0.
    *
    * Domain bound: the isqrt operand n·Σx² − (Σx)² must fit 2⁶², so
    * per type (days × peak daily volume) ≲ 2.1e9 — a year at ~5.9M
    * events/day/type; past that, correlate a weekly grid.
    *
    * Scale posture: rides the PlanCache'd q203/q206 dense grid
    * (audit-sized at any corpus scale); the pair space is the q206
    * day-keyed self-join; the rest is per-pair arithmetic on
    * ≤|types|² rows. */
  def pearsonMatrix(spark: SparkSession, dir: String): DataFrame = {
    val grid = denseDayGrid(spark, dir)
    val a = grid.select(col("event_type").as("type_a"), col("day"),
      col("c").as("x"))
    val b = grid.select(col("event_type").as("type_b"), col("day"),
      col("c").as("y"))
    a.join(b, Seq("day"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn("cov", expr("n * sxy - sx * sy"))
      .withColumn("vx", expr("n * sxx - sx * sx"))
      .withColumn("vy", expr("n * syy - sy * sy"))
      .withColumn("rx0", expr(graft.operators.Curation.isqrtSpark("vx")))
      .withColumn("ry0", expr(graft.operators.Curation.isqrtSpark("vy")))
      .withColumn("rx", expr(
        "rx0 + IF(2 * (vx - rx0 * rx0) > 2 * rx0 + 1, 1L, 0L)"))
      .withColumn("ry", expr(
        "ry0 + IF(2 * (vy - ry0 * ry0) > 2 * ry0 + 1, 1L, 0L)"))
      .select(col("type_a"), col("type_b"), col("n").as("n_days"),
        expr("least(greatest(CASE WHEN vx <= 0 OR vy <= 0 THEN 0L " +
          "WHEN cov >= 0 THEN " +
          "cast(cast(1000 as decimal(38,0)) * cov div (rx * ry) as bigint) " +
          "ELSE 0L - cast(cast(1000 as decimal(38,0)) * (0L - cov) div " +
          "(rx * ry) as bigint) END, -1000L), 1000L)")
          .as("pearson_r_milli"))
      .orderBy(col("type_a"), col("type_b"))
  }

  def pearsonMatrixSql: String =
    """WITH RECURSIVE cells AS (
      |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events
      |), grid AS (
      |  SELECT t.event_type, g.day::DATE AS day, coalesce(cells.c, 0) AS c
      |  FROM (SELECT DISTINCT event_type FROM cells) t
      |  CROSS JOIN (SELECT unnest(generate_series(d0, d1,
      |    INTERVAL 1 DAY))::DATE AS day FROM span) g
      |  LEFT JOIN cells USING (event_type, day)
      |), sums AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    count(*)::BIGINT AS n,
      |    sum(a.c)::BIGINT AS sx, sum(b.c)::BIGINT AS sy,
      |    sum(a.c * a.c)::BIGINT AS sxx, sum(b.c * b.c)::BIGINT AS syy,
      |    sum(a.c * b.c)::BIGINT AS sxy
      |  FROM grid a JOIN grid b
      |    ON a.day = b.day AND a.event_type < b.event_type
      |  GROUP BY 1, 2
      |), m AS (
      |  SELECT type_a, type_b, n,
      |    (n * sxy - sx * sy)::BIGINT AS cov,
      |    (n * sxx - sx * sx)::BIGINT AS vx,
      |    (n * syy - sy * sy)::BIGINT AS vy
      |  FROM sums
      |), f AS (
      |  SELECT type_a, type_b, n, cov, vx, vy,
      |    vx AS numx, 0::BIGINT AS resx,
      |    vy AS numy, 0::BIGINT AS resy, 0 AS i
      |  FROM m
      |  UNION ALL
      |  SELECT type_a, type_b, n, cov, vx, vy,
      |    CASE WHEN numx >= resx + (1::BIGINT << (62 - 2 * i))
      |      THEN numx - resx - (1::BIGINT << (62 - 2 * i)) ELSE numx END,
      |    CASE WHEN numx >= resx + (1::BIGINT << (62 - 2 * i))
      |      THEN resx // 2 + (1::BIGINT << (62 - 2 * i)) ELSE resx // 2 END,
      |    CASE WHEN numy >= resy + (1::BIGINT << (62 - 2 * i))
      |      THEN numy - resy - (1::BIGINT << (62 - 2 * i)) ELSE numy END,
      |    CASE WHEN numy >= resy + (1::BIGINT << (62 - 2 * i))
      |      THEN resy // 2 + (1::BIGINT << (62 - 2 * i)) ELSE resy // 2 END,
      |    i + 1
      |  FROM f WHERE i < 32
      |), roots AS (
      |  SELECT type_a, type_b, n, cov, vx, vy,
      |    resx + (CASE WHEN 2 * (vx - resx * resx) > 2 * resx + 1
      |      THEN 1 ELSE 0 END) AS rx,
      |    resy + (CASE WHEN 2 * (vy - resy * resy) > 2 * resy + 1
      |      THEN 1 ELSE 0 END) AS ry
      |  FROM f WHERE i = 32
      |)
      |SELECT type_a, type_b, n AS n_days,
      |  least(greatest((CASE WHEN vx <= 0 OR vy <= 0 THEN 0
      |    WHEN cov >= 0 THEN (1000::HUGEINT * cov // (rx * ry))::BIGINT
      |    ELSE -((1000::HUGEINT * (-cov) // (rx * ry))::BIGINT)
      |    END)::BIGINT, -1000), 1000)::BIGINT AS pearson_r_milli
      |FROM roots ORDER BY type_a, type_b""".stripMargin

  // ---- X197: autocorrelation panel + Ljung-Box portmanteau (q271) -----------

  /** χ² 95% critical value at df = 7 in milli units (Ljung–Box over
    * the 7 daily lags). */
  val LjungBoxCritMilli = 14067L

  /** X197 autocorrelation panel (q271): per event type, the sample
    * autocorrelation of the daily-volume series at lags 1–7 over the
    * dense calendar grid, plus the Ljung–Box portmanteau Q over those
    * seven lags (Ljung & Box 1978) with its χ²₇ significance verdict.
    * The shelf's MAGNITUDE read on serial structure: q267 (runs test)
    * asks whether yesterday's DIRECTION predicts today's at all; this
    * measures how much of today's level each of the last seven days
    * explains — lag-7 dominating is the weekly signature q265 prices,
    * lag-1 dominating is momentum the q243 trend rung captures, and an
    * insignificant Q says the series is white and every forecaster
    * rung past the mean is state wasted.
    *
    * Exactly integer: with S = Σc, SS = Σc², and per-lag pair sums
    * (sxy, head, tail), the centered products ride the N²-scaled
    * identity num_k = N²·sxy − N·S·(head+tail) + (N−k)·S² over
    * den = N²·SS − N·S² (no mean ever divides); acf_milli floors once
    * with the q264 sign-split rule and clamps to ±1000. Q folds
    * per-term: ⌊N(N+2)·acf_k² / ((N−k)·1000)⌋ summed — per-term
    * floors, engine-order-proof. A zero-variance series reads acf 0
    * everywhere (no serial structure in a constant).
    *
    * Domain bound: N²·SS rides decimal(38,0)/HUGEINT — exact while
    * days²·(peak daily volume)² stays inside 38 digits (centuries at
    * 10⁹ events/day); the Q fold is BIGINT-safe to ~10⁵ days.
    *
    * Scale posture: rides the PlanCache'd q203/q206/q264 dense grid
    * (audit-sized at ANY corpus scale); the 7 lags ride ONE type-keyed
    * window over grid rows; everything after is arithmetic on
    * |types|×7 rows. */
  def acfPanel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = denseDayGrid(spark, dir)
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lagged = grid.select(
      (Seq(col("event_type"), col("c")) ++
        (1 to 7).map(k => lag(col("c"), k).over(w).as(s"l$k"))): _*)
    val aggExprs: Seq[Column] =
      Seq(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("ss")) ++
        (1 to 7).flatMap(k => Seq(
          sum(col("c") * col(s"l$k")).as(s"sxy$k"),
          sum(when(col(s"l$k").isNotNull, col("c"))).as(s"sh$k"),
          sum(col(s"l$k")).as(s"st$k")))
    val sums = lagged.groupBy(col("event_type"))
      .agg(aggExprs.head, aggExprs.tail: _*)
    val rows = sums.selectExpr(
      "event_type", "n", "s", "ss",
      "stack(7, " + (1 to 7).map(k =>
        s"${k}L, coalesce(sxy$k, 0L), coalesce(sh$k, 0L), " +
          s"coalesce(st$k, 0L)").mkString(", ") +
        ") AS (lag_k, sxy, sh, st)")
      .select(col("event_type"), col("n").as("n_days"), col("lag_k"),
        expr("CASE WHEN n <= lag_k THEN 0L ELSE " +
          "least(greatest(CASE " +
          "WHEN cast(n as decimal(38,0)) * n * ss - " +
          "cast(n as decimal(38,0)) * s * s <= 0 THEN 0L " +
          "WHEN cast(n as decimal(38,0)) * n * sxy - " +
          "cast(n as decimal(38,0)) * s * (sh + st) + " +
          "cast(n - lag_k as decimal(38,0)) * s * s >= 0 THEN " +
          "cast(1000 * (cast(n as decimal(38,0)) * n * sxy - " +
          "cast(n as decimal(38,0)) * s * (sh + st) + " +
          "cast(n - lag_k as decimal(38,0)) * s * s) div " +
          "(cast(n as decimal(38,0)) * n * ss - " +
          "cast(n as decimal(38,0)) * s * s) as bigint) " +
          "ELSE 0L - cast(1000 * (0 - (cast(n as decimal(38,0)) * n * sxy - " +
          "cast(n as decimal(38,0)) * s * (sh + st) + " +
          "cast(n - lag_k as decimal(38,0)) * s * s)) div " +
          "(cast(n as decimal(38,0)) * n * ss - " +
          "cast(n as decimal(38,0)) * s * s) as bigint) END, " +
          "-1000L), 1000L) END").as("acf_milli"))
    val wq = Window.partitionBy(col("event_type"))
    rows
      .withColumn("lb_q_milli", sum(expr(
        "IF(n_days <= lag_k, 0L, " +
          "n_days * (n_days + 2) * acf_milli * acf_milli div " +
          "((n_days - lag_k) * 1000))")).over(wq))
      .withColumn("serial_dependent",
        when(col("lb_q_milli") > lit(LjungBoxCritMilli), 1L).otherwise(0L))
      .select(col("event_type"), col("lag_k"), col("n_days"),
        col("acf_milli"), col("lb_q_milli"), col("serial_dependent"))
      .orderBy(col("event_type"), col("lag_k"))
  }

  def acfPanelSql: String = {
    val lagCols = (1 to 7).map(k =>
      s"lag(c, $k) OVER (PARTITION BY event_type ORDER BY day) AS l$k")
      .mkString(", ")
    val sumCols = (1 to 7).map(k =>
      s"sum(c * l$k)::BIGINT AS sxy$k, " +
        s"sum(CASE WHEN l$k IS NOT NULL THEN c END)::BIGINT AS sh$k, " +
        s"sum(l$k)::BIGINT AS st$k").mkString(", ")
    val kRows = (1 to 7).map(k =>
      s"SELECT event_type, n, s, ss, ${k}::BIGINT AS lag_k, " +
        s"coalesce(sxy$k, 0) AS sxy, coalesce(sh$k, 0) AS sh, " +
        s"coalesce(st$k, 0) AS st FROM sums").mkString("\n    UNION ALL\n    ")
    s"""WITH cells AS (
       |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS c
       |  FROM events GROUP BY 1, 2
       |), span AS (
       |  SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events
       |), grid AS (
       |  SELECT t.event_type, g.day::DATE AS day, coalesce(cells.c, 0) AS c
       |  FROM (SELECT DISTINCT event_type FROM cells) t
       |  CROSS JOIN (SELECT unnest(generate_series(d0, d1,
       |    INTERVAL 1 DAY))::DATE AS day FROM span) g
       |  LEFT JOIN cells USING (event_type, day)
       |), lagged AS (
       |  SELECT event_type, c, $lagCols FROM grid
       |), sums AS (
       |  SELECT event_type, count(*)::BIGINT AS n, sum(c)::BIGINT AS s,
       |    sum(c * c)::BIGINT AS ss, $sumCols
       |  FROM lagged GROUP BY 1
       |), krows AS (
       |    $kRows
       |), acf AS (
       |  SELECT event_type, lag_k, n AS n_days,
       |    CASE WHEN n <= lag_k THEN 0
       |      ELSE least(greatest(CASE
       |        WHEN n::HUGEINT * n * ss - n::HUGEINT * s * s <= 0 THEN 0
       |        WHEN n::HUGEINT * n * sxy - n::HUGEINT * s * (sh + st) +
       |          (n - lag_k)::HUGEINT * s * s >= 0 THEN
       |          (1000 * (n::HUGEINT * n * sxy -
       |            n::HUGEINT * s * (sh + st) +
       |            (n - lag_k)::HUGEINT * s * s) //
       |           (n::HUGEINT * n * ss - n::HUGEINT * s * s))::BIGINT
       |        ELSE -((1000 * (-(n::HUGEINT * n * sxy -
       |            n::HUGEINT * s * (sh + st) +
       |            (n - lag_k)::HUGEINT * s * s)) //
       |           (n::HUGEINT * n * ss - n::HUGEINT * s * s))::BIGINT)
       |      END, -1000), 1000) END::BIGINT AS acf_milli
       |  FROM krows
       |), q AS (
       |  SELECT event_type, lag_k, n_days, acf_milli,
       |    sum(CASE WHEN n_days <= lag_k THEN 0
       |      ELSE n_days * (n_days + 2) * acf_milli * acf_milli //
       |        ((n_days - lag_k) * 1000) END)
       |      OVER (PARTITION BY event_type)::BIGINT AS lb_q_milli
       |  FROM acf
       |)
       |SELECT event_type, lag_k, n_days, acf_milli, lb_q_milli,
       |  (CASE WHEN lb_q_milli > ${LjungBoxCritMilli} THEN 1 ELSE 0
       |    END)::BIGINT AS serial_dependent
       |FROM q ORDER BY event_type, lag_k""".stripMargin
  }

  /** X191 weekly-seasonality strength (q265): per event type, Fisher's
    * correlation ratio η² between day-of-week and daily volume over
    * the dense grid — ONE number for "how weekly is this metric"
    * (Fisher 1925; η² = SS_between/SS_total, the variance share the
    * weekday explains). q185 maps WHERE the weekly mass sits; this
    * says HOW MUCH structure there is — the number that decides
    * whether q241/q251's seasonal forecaster rungs are worth their
    * state, and the parametric cousin of electing b_seasonal in q251.
    * Exactly integer: per dow cell, ⌊S_g²/n_g⌋ via the q255
    * quotient-remainder identity (no decimal division trusted);
    * η²_bp = 10⁴·max(0, N·Σ⌊S_g²/n_g⌋ − S²) div (N·Σc² − S²), clamped
    * at 0 because per-cell floors can dip an exactly-null numerator
    * a hair negative; an all-constant series (zero total variance)
    * reads 0. Peak/trough weekday by exact milli mean with
    * deterministic low-dow tie-breaks.
    *
    * Domain bound: 10⁴·N·Σc² rides decimal(38,0)/HUGEINT — exact
    * while days·(peak daily volume) stays below ~10¹⁶.
    *
    * Scale posture: rides the PlanCache'd q203/q206/q264 dense grid;
    * everything after is arithmetic on ≤|types|×7 dow cells;
    * ≤|types| output rows. */
  def weeklyEtaSquared(spark: SparkSession, dir: String): DataFrame = {
    val grid = denseDayGrid(spark, dir)
      .withColumn("dow", (expr("weekday(day)") + 1).cast("long"))
    val perDow = grid.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("ng"), sum(col("c")).as("sg"))
      .withColumn("qg", expr(
        "cast(sg div ng as decimal(38,0)) * (sg div ng) * ng " +
          "+ cast(2 as decimal(38,0)) * (sg div ng) * (sg % ng) " +
          "+ ((sg % ng) * (sg % ng) div ng)"))
      .withColumn("mean_milli", expr(
        "cast(cast(sg as decimal(38,0)) * 1000 div ng as bigint)"))
    val sq = grid.groupBy(col("event_type"))
      .agg(sum(col("c") * col("c")).as("qq"))
    perDow
      .groupBy(col("event_type"))
      .agg(sum(col("ng")).as("n"), sum(col("sg")).as("s"),
        sum(col("qg")).as("qsum"),
        max(struct(col("mean_milli").as("m"), (lit(0L) - col("dow"))
          .as("negd"))).as("pk"),
        min(struct(col("mean_milli").as("m"), col("dow").as("d")))
          .as("tr"))
      .join(sq, Seq("event_type"))
      .select(col("event_type"), col("n").as("n_days"),
        expr("CASE WHEN cast(n as decimal(38,0)) * qq " +
          "- cast(s as decimal(38,0)) * s > 0 THEN " +
          "cast(greatest(cast(0 as decimal(38,0)), " +
          "cast(10000 as decimal(38,0)) * " +
          "(n * qsum - cast(s as decimal(38,0)) * s)) div " +
          "(cast(n as decimal(38,0)) * qq " +
          "- cast(s as decimal(38,0)) * s) as bigint) " +
          "ELSE 0L END").as("eta2_bp"),
        col("pk.m").as("peak_mean_milli"),
        (lit(0L) - col("pk.negd")).as("peak_dow"),
        col("tr.m").as("trough_mean_milli"),
        col("tr.d").as("trough_dow"))
      .orderBy(col("event_type"))
  }

  def weeklyEtaSquaredSql: String =
    """WITH cells AS (
      |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events
      |), grid AS (
      |  SELECT t.event_type, g.day::DATE AS day, coalesce(cells.c, 0) AS c,
      |    isodow(g.day::DATE)::BIGINT AS dow
      |  FROM (SELECT DISTINCT event_type FROM cells) t
      |  CROSS JOIN (SELECT unnest(generate_series(d0, d1,
      |    INTERVAL 1 DAY))::DATE AS day FROM span) g
      |  LEFT JOIN cells USING (event_type, day)
      |), perdow AS (
      |  SELECT event_type, dow, count(*)::BIGINT AS ng,
      |    sum(c)::BIGINT AS sg
      |  FROM grid GROUP BY 1, 2
      |), qcol AS (
      |  SELECT event_type, dow, ng, sg,
      |    (sg::HUGEINT * sg // ng) AS qg,
      |    (sg::HUGEINT * 1000 // ng)::BIGINT AS mean_milli
      |  FROM perdow
      |), sq AS (
      |  SELECT event_type, sum(c::HUGEINT * c) AS qq FROM grid GROUP BY 1
      |), agg AS (
      |  SELECT q.event_type, sum(q.ng)::BIGINT AS n, sum(q.sg)::BIGINT AS s,
      |    sum(q.qg) AS qsum
      |  FROM qcol q GROUP BY 1
      |), pk AS (
      |  SELECT event_type, mean_milli AS peak_mean_milli, dow AS peak_dow,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY mean_milli DESC, dow) AS rn
      |  FROM qcol
      |), tr AS (
      |  SELECT event_type, mean_milli AS trough_mean_milli,
      |    dow AS trough_dow,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY mean_milli, dow) AS rn
      |  FROM qcol
      |)
      |SELECT a.event_type, a.n AS n_days,
      |  (CASE WHEN a.n::HUGEINT * sq.qq - a.s::HUGEINT * a.s > 0
      |    THEN greatest(0::HUGEINT, 10000::HUGEINT *
      |      (a.n * a.qsum - a.s::HUGEINT * a.s))
      |      // (a.n::HUGEINT * sq.qq - a.s::HUGEINT * a.s)
      |    ELSE 0 END)::BIGINT AS eta2_bp,
      |  p.peak_mean_milli, p.peak_dow,
      |  t.trough_mean_milli, t.trough_dow
      |FROM agg a
      |JOIN sq USING (event_type)
      |JOIN pk p ON p.event_type = a.event_type AND p.rn = 1
      |JOIN tr t ON t.event_type = a.event_type AND t.rn = 1
      |ORDER BY a.event_type""".stripMargin

  /** X193 Wald–Wolfowitz runs test (q267): is each type's daily
    * up/down move sequence RANDOM, or does it cluster into regimes?
    * (Wald & Wolfowitz 1940). The inference shelf's autocorrelation
    * member: q189/q252 read monotone trend, q228 level shifts, q265
    * weekly structure — this reads SERIAL DEPENDENCE itself: too few
    * sign runs = momentum/regimes (yesterday's direction predicts
    * today's), too many = oscillation (daily over-correction). Signs
    * come from day-over-day deltas on the dense grid with zero
    * deltas dropped (the standard treatment). Exactly integer: with
    * A = R·N − 2n₊n₋ − N and B = 2n₊n₋(2n₊n₋ − N), z² =
    * A²(N−1)/B, so z_milli = sign(A)·isqrt(10⁶·A²·(N−1) div B) —
    * ONE root via the q245 isqrt, no σ ever materializes.
    *
    * Domain bound: N here counts nonzero daily deltas — calendar-
    * bounded, so 10⁶·A²·(N−1) ≤ 10⁶·N⁵ stays decimal(38,0)-safe for
    * any series under ~3.9e6 days (ten thousand years).
    *
    * Scale posture: rides the PlanCache'd dense grid; one
    * calendar-bounded fold per type (state: previous sign + three
    * counters); the z arithmetic is per-row on ≤|types| rows. */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    val grid = denseDayGrid(spark, dir)
    val series = grid.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
        count(lit(1)).as("n_days"),
        map_from_entries(collect_list(struct(
          expr("cast(datediff(day, date'1970-01-01') as bigint)"),
          col("c")))).as("m"))
      .withColumn("lo", expr("cast(datediff(d0, date'1970-01-01') as bigint)"))
      .withColumn("hi", expr("cast(datediff(d1, date'1970-01-01') as bigint)"))
    def cAt(j: String) = s"element_at(m, $j)"
    val sgn = s"sign(${cAt("v")} - ${cAt("v - 1")})"
    series
      .withColumn("st", expr(
        s"""aggregate(
           |  sequence(lo + 1, hi),
           |  named_struct('prev', 0L, 'n1', 0L, 'n2', 0L, 'runs', 0L),
           |  (acc, v) -> IF($sgn = 0, acc, named_struct(
           |    'prev', cast($sgn as bigint),
           |    'n1', acc.n1 + IF($sgn > 0, 1L, 0L),
           |    'n2', acc.n2 + IF($sgn < 0, 1L, 0L),
           |    'runs', acc.runs +
           |      IF(cast($sgn as bigint) = acc.prev, 0L, 1L))))"""
          .stripMargin))
      .select(col("event_type"), col("n_days"),
        col("st.n1").as("n_up"), col("st.n2").as("n_down"),
        col("st.runs").as("n_runs"))
      .withColumn("nn", expr("n_up + n_down"))
      .withColumn("aa", expr("n_runs * nn - 2 * n_up * n_down - nn"))
      .withColumn("bb", expr(
        "cast(2 as decimal(38,0)) * n_up * n_down " +
          "* (2 * n_up * n_down - nn)"))
      .withColumn("zarg", expr(
        "CASE WHEN bb > 0 THEN cast(cast(1000000 as decimal(38,0)) " +
          "* aa * aa * (nn - 1) div bb as bigint) ELSE 0L END"))
      .withColumn("z_milli", expr(
        "IF(aa >= 0, 1L, -1L) * " +
          graft.operators.Curation.isqrtSpark("zarg")))
      .select(col("event_type"), col("n_days"), col("n_up"),
        col("n_down"), col("n_runs"), col("z_milli"),
        expr("abs(z_milli) >= 1960").as("significant_95"),
        expr("CASE WHEN z_milli <= -1960 THEN 'a_trending' " +
          "WHEN z_milli >= 1960 THEN 'c_oscillating' " +
          "ELSE 'b_random' END").as("regime"))
      .orderBy(col("event_type"))
  }

  def runsTestSql: String =
    """WITH RECURSIVE cells AS (
      |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events
      |), grid AS (
      |  SELECT t.event_type, g.day::DATE AS day, coalesce(cells.c, 0) AS c
      |  FROM (SELECT DISTINCT event_type FROM cells) t
      |  CROSS JOIN (SELECT unnest(generate_series(d0, d1,
      |    INTERVAL 1 DAY))::DATE AS day FROM span) g
      |  LEFT JOIN cells USING (event_type, day)
      |), nd AS (
      |  SELECT event_type, count(*)::BIGINT AS n_days FROM grid GROUP BY 1
      |), sg AS (
      |  SELECT event_type, day,
      |    sign(c - lag(c) OVER (PARTITION BY event_type ORDER BY day))
      |      ::BIGINT AS s
      |  FROM grid
      |), nz AS (
      |  SELECT event_type, day, s,
      |    lag(s) OVER (PARTITION BY event_type ORDER BY day) AS prev
      |  FROM sg WHERE s IS NOT NULL AND s <> 0
      |), st AS (
      |  SELECT event_type,
      |    sum(CASE WHEN s > 0 THEN 1 ELSE 0 END)::BIGINT AS n_up,
      |    sum(CASE WHEN s < 0 THEN 1 ELSE 0 END)::BIGINT AS n_down,
      |    sum(CASE WHEN prev IS NULL OR s <> prev THEN 1 ELSE 0 END)
      |      ::BIGINT AS n_runs
      |  FROM nz GROUP BY 1
      |), m AS (
      |  SELECT nd.event_type, nd.n_days,
      |    coalesce(st.n_up, 0)::BIGINT AS n_up,
      |    coalesce(st.n_down, 0)::BIGINT AS n_down,
      |    coalesce(st.n_runs, 0)::BIGINT AS n_runs,
      |    (coalesce(st.n_up, 0) + coalesce(st.n_down, 0))::BIGINT AS nn
      |  FROM nd LEFT JOIN st USING (event_type)
      |), d AS (
      |  SELECT *,
      |    (n_runs * nn - 2 * n_up * n_down - nn)::BIGINT AS aa,
      |    (2::HUGEINT * n_up * n_down * (2 * n_up * n_down - nn)) AS bb
      |  FROM m
      |), e AS (
      |  SELECT *,
      |    CASE WHEN bb > 0 THEN
      |      (1000000::HUGEINT * aa * aa * (nn - 1) // bb)::BIGINT
      |      ELSE 0 END AS zarg
      |  FROM d
      |), f AS (
      |  SELECT event_type, n_days, n_up, n_down, n_runs, aa,
      |    zarg, zarg AS num, 0::BIGINT AS res, 0 AS i FROM e
      |  UNION ALL
      |  SELECT event_type, n_days, n_up, n_down, n_runs, aa, zarg,
      |    CASE WHEN num >= res + (1::BIGINT << (62 - 2 * i))
      |      THEN num - res - (1::BIGINT << (62 - 2 * i)) ELSE num END,
      |    CASE WHEN num >= res + (1::BIGINT << (62 - 2 * i))
      |      THEN res // 2 + (1::BIGINT << (62 - 2 * i)) ELSE res // 2 END,
      |    i + 1
      |  FROM f WHERE i < 32
      |)
      |SELECT event_type, n_days, n_up, n_down, n_runs,
      |  ((CASE WHEN aa >= 0 THEN 1 ELSE -1 END) * res)::BIGINT AS z_milli,
      |  abs((CASE WHEN aa >= 0 THEN 1 ELSE -1 END) * res) >= 1960
      |    AS significant_95,
      |  CASE WHEN (CASE WHEN aa >= 0 THEN 1 ELSE -1 END) * res <= -1960
      |    THEN 'a_trending'
      |    WHEN (CASE WHEN aa >= 0 THEN 1 ELSE -1 END) * res >= 1960
      |    THEN 'c_oscillating'
      |    ELSE 'b_random' END AS regime
      |FROM f WHERE i = 32 ORDER BY event_type""".stripMargin

  def decayedBurstPanelSql: String = {
    val terms = BurstWeights.zipWithIndex
      .map { case (wt, k) => s"lag(c, ${k + 1}, 0) OVER w * $wt" }
      .mkString(" + ")
    s"""WITH cells AS (
       |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS c
       |  FROM events GROUP BY 1, 2
       |), span AS (
       |  SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events
       |), grid AS (
       |  SELECT t.event_type, g.day::DATE AS day, coalesce(cells.c, 0) AS c
       |  FROM (SELECT DISTINCT event_type FROM cells) t
       |  CROSS JOIN (SELECT unnest(generate_series(d0, d1,
       |    INTERVAL 1 DAY))::DATE AS day FROM span) g
       |  LEFT JOIN cells USING (event_type, day)
       |), scored AS (
       |  SELECT event_type, c, $terms AS b127,
       |    row_number() OVER w AS rn
       |  FROM grid WINDOW w AS (PARTITION BY event_type ORDER BY day)
       |)
       |SELECT event_type, count(*)::BIGINT AS n_days_scored,
       |  sum(CASE WHEN c * 127 > b127 * 2 THEN 1 ELSE 0 END)::BIGINT
       |    AS n_burst,
       |  sum(CASE WHEN c * 127 * 5 < b127 THEN 1 ELSE 0 END)::BIGINT
       |    AS n_quiet,
       |  max(CASE WHEN b127 = 0 THEN (CASE WHEN c = 0 THEN 10000 ELSE -1 END)
       |    ELSE c * 127 * 10000 // b127 END)::BIGINT AS max_ratio_bp
       |FROM scored WHERE rn > 7
       |GROUP BY 1 ORDER BY event_type""".stripMargin
  }

  // ---- X139: decile gains / lift table (q213) -------------------------------

  /** X139 decile gains table (q213): rank users by an engagement score
    * (click + view events), split into deciles, and per decile read the
    * positive rate, lift vs the base rate, and cumulative capture of
    * all positives — the standard model-evaluation gains chart
    * ("target the top 2 deciles, capture X% of buyers") read as an
    * exact audit. The positive label is deterministic and
    * self-calibrated: a user whose purchase count strictly exceeds the
    * corpus per-user mean (n_purch · n_users > total purchases — pure
    * integer cross-multiplication, no division). q99 calibrates a
    * quality score against labels; this prices a TARGETING score the
    * way a campaign consumer would.
    *
    * Decile assignment is windowless and exact (the q132/q167 rule —
    * NEVER ntile, never a global sort): the per-user collapse feeds a
    * distinct-SCORE histogram; descending cumulative counts come from
    * the broadcast triangle self-join over histogram rows; a score's
    * decile is ((10·(cum−1)) div n_users) + 1 — whole tie-groups land
    * in one decile, so equal scores never split across deciles (the
    * q207 tie-stable rule).
    *
    * Scale posture: ONE corpus shuffle (the user_id collapse,
    * map-side combinable); the histogram is |distinct scores|-sized
    * (audit-sized at any corpus scale); both cumulative folds are
    * broadcast triangle joins (histogram², then ≤10²); every divisor
    * is guarded or structurally positive. */
  /** X192 exact AUC audit (q266): the area under the ROC curve of
    * q213's engagement score against its purchase label, computed
    * EXACTLY as the rank statistic AUC = (U + ties/2)/(n₊·n₋)
    * (Hanley & McNeil 1982; Mann–Whitney U is the identity) — q213
    * prices the score at ten operating points; this is the single
    * threshold-free number model reviews compare across versions,
    * plus its Gini twin (2·AUC − 1). Exactly integer: the q253
    * doubled-midrank fold over the per-SCORE histogram (never a
    * user-grain sort) — u_doubled = r1d − n₊(n₊+1) with ascending
    * score ranks, auc_bp = u_doubled·10⁴ div 2n₊n₋ on a
    * decimal(38,0) guard, ties split evenly by the midrank algebra
    * itself. Degenerate corpora (no positives or no negatives) read
    * the 5000 coin-flip sentinel.
    *
    * Domain bound: the q253 one — rank products fit BIGINT while the
    * user count stays below ~2.1e9; the ·10⁴ product rides
    * decimal(38,0).
    *
    * Scale posture: rides the PlanCache'd q213 per-user engagement
    * collapse (ONE corpus shuffle, shared); the fold walks the
    * bounded distinct-score histogram in one row; one output row. */
  def aucAudit(spark: SparkSession, dir: String): DataFrame = {
    val per = graft.PlanCache.cached(spark, s"events.userEngagement:$dir") {
      Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type").isin("click", "view"), 1L)
          .otherwise(0L)).as("score"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purch"))
    }
    val tot = per.agg(count(lit(1)).as("n_users_t"),
      sum(col("n_purch")).as("tot_purch"))
    val hist = per.crossJoin(graft.PlanAudit.Bounded
        .broadcastBounded("q266_auc_audit.total", tot, 1L))
      .select(col("score"),
        when(col("n_purch") * col("n_users_t") > col("tot_purch"), 1L)
          .otherwise(0L).as("pos"))
      .groupBy(col("score"))
      .agg(sum(col("pos")).as("c1"),
        (count(lit(1)) - sum(col("pos"))).as("c2"))
    hist
      .agg(map_from_entries(collect_list(struct(col("score"),
        struct(col("c1"), col("c2"))))).as("m"),
        sort_array(collect_list(col("score"))).as("ks"))
      .select(expr(
        """aggregate(
          |  ks,
          |  named_struct('n1', 0L, 'n2', 0L, 'r1d', 0L),
          |  (acc, v) -> named_struct(
          |    'n1', acc.n1 + element_at(m, v).c1,
          |    'n2', acc.n2 + element_at(m, v).c2,
          |    'r1d', acc.r1d + element_at(m, v).c1 *
          |      (2 * (acc.n1 + acc.n2) +
          |       element_at(m, v).c1 + element_at(m, v).c2 + 1)))"""
          .stripMargin).as("st"))
      .select(col("st.n1").as("n_positive"), col("st.n2").as("n_negative"),
        expr("st.r1d - st.n1 * (st.n1 + 1)").as("u_doubled"))
      .select(col("n_positive"), col("n_negative"),
        expr("CASE WHEN n_positive > 0 AND n_negative > 0 THEN " +
          "cast(cast(u_doubled as decimal(38,0)) * 10000 div " +
          "(2 * n_positive * n_negative) as bigint) ELSE 5000L END")
          .as("auc_bp"))
      .withColumn("gini_bp", col("auc_bp") * 2 - 10000L)
      .withColumn("better_than_coin", col("auc_bp") > 5000L)
  }

  def aucAuditSql: String =
    """WITH per AS (
      |  SELECT user_id,
      |    sum(CASE WHEN event_type IN ('click', 'view') THEN 1
      |      ELSE 0 END)::BIGINT AS score,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1
      |      ELSE 0 END)::BIGINT AS n_purch
      |  FROM events GROUP BY 1
      |), tot AS (
      |  SELECT count(*)::BIGINT AS n_users_t,
      |    sum(n_purch)::BIGINT AS tot_purch
      |  FROM per
      |), hist AS (
      |  SELECT score,
      |    sum(CASE WHEN n_purch * t.n_users_t > t.tot_purch THEN 1
      |      ELSE 0 END)::BIGINT AS c1,
      |    sum(CASE WHEN n_purch * t.n_users_t > t.tot_purch THEN 0
      |      ELSE 1 END)::BIGINT AS c2
      |  FROM per CROSS JOIN tot t GROUP BY 1
      |), ranked AS (
      |  SELECT c1, c2,
      |    coalesce(sum(c1 + c2) OVER (ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cbefore
      |  FROM hist
      |), s AS (
      |  SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2,
      |    sum(c1 * (2 * cbefore + c1 + c2 + 1))::BIGINT AS r1d
      |  FROM ranked
      |)
      |SELECT n1 AS n_positive, n2 AS n_negative,
      |  (CASE WHEN n1 > 0 AND n2 > 0 THEN
      |    ((r1d - n1 * (n1 + 1))::HUGEINT * 10000 // (2 * n1 * n2))::BIGINT
      |    ELSE 5000 END)::BIGINT AS auc_bp,
      |  (CASE WHEN n1 > 0 AND n2 > 0 THEN
      |    ((r1d - n1 * (n1 + 1))::HUGEINT * 10000 // (2 * n1 * n2))::BIGINT
      |    ELSE 5000 END) * 2 - 10000 AS gini_bp,
      |  (CASE WHEN n1 > 0 AND n2 > 0 THEN
      |    ((r1d - n1 * (n1 + 1))::HUGEINT * 10000 // (2 * n1 * n2))::BIGINT
      |    ELSE 5000 END) > 5000 AS better_than_coin
      |FROM s""".stripMargin

  def decileGains(spark: SparkSession, dir: String): DataFrame = {
    val per = graft.PlanCache.cached(spark, s"events.userEngagement:$dir") {
      Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type").isin("click", "view"), 1L)
          .otherwise(0L)).as("score"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purch"))
    }
    val tot = per.agg(count(lit(1)).as("n_users_t"),
      sum(col("n_purch")).as("tot_purch"))
    // hist is referenced twice (both triangle sides) and dec three
    // times (dec, decTot, decB): without a materialization point every
    // reference re-ran the whole upstream collapse (~6 recomputations,
    // 20 exchanges in the executed plan). Both tables are audit-sized
    // (|distinct scores| / ≤10 rows), so the seams are the q64/q261
    // rule (§2.4).
    val hist = graft.PlanCache.cached(spark, s"events.decileHist:$dir") {
      per.crossJoin(broadcast(tot))
        .select(col("score"),
          when(col("n_purch") * col("n_users_t") > col("tot_purch"), 1L)
            .otherwise(0L).as("pos"))
        .groupBy(col("score"))
        .agg(count(lit(1)).as("nu"), sum(col("pos")).as("np"))
    }
    val histB = hist.select(col("score").as("s2"), col("nu").as("nu2"))
    val dec = graft.PlanCache.cached(spark, s"events.deciles:$dir") {
      hist
        .join(broadcast(histB), col("s2") >= col("score"))
        .groupBy(col("score"), col("nu"), col("np"))
        .agg(sum(col("nu2")).as("cum_u"))
        .crossJoin(broadcast(tot))
        .select(expr("(10 * (cum_u - 1)) div n_users_t + 1").as("decile"),
          col("nu"), col("np"))
        .groupBy(col("decile"))
        .agg(sum(col("nu")).as("n_users"), sum(col("np")).as("n_pos"))
    }
    val decTot = dec.agg(sum(col("n_users")).as("tot_u"),
      sum(col("n_pos")).as("tot_pos"))
    val decB = dec.select(col("decile").as("d2"),
      col("n_users").as("nu2"), col("n_pos").as("np2"))
    dec
      .join(broadcast(decB), col("d2") <= col("decile"))
      .groupBy(col("decile"), col("n_users"), col("n_pos"))
      .agg(sum(col("nu2")).as("cum_users"), sum(col("np2")).as("cum_pos"))
      .crossJoin(broadcast(decTot))
      .select(col("decile"), col("n_users"), col("n_pos"),
        col("cum_users"), col("cum_pos"),
        expr("n_pos * 10000 div n_users").as("rate_bp"),
        expr("CASE WHEN tot_pos = 0 THEN 0 ELSE " +
          "n_pos * tot_u * 10000 div (n_users * tot_pos) END").as("lift_bp"),
        expr("CASE WHEN tot_pos = 0 THEN 0 ELSE " +
          "cum_pos * 10000 div tot_pos END").as("capture_bp"))
      .orderBy(col("decile"))
  }

  def decileGainsSql: String =
    """WITH per AS (
      |  SELECT user_id,
      |    sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0
      |      END)::BIGINT AS score,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
      |      END)::BIGINT AS n_purch
      |  FROM events GROUP BY 1
      |), tot AS (
      |  SELECT count(*)::BIGINT AS n_users_t, sum(n_purch)::BIGINT
      |    AS tot_purch
      |  FROM per
      |), hist AS (
      |  SELECT score, count(*)::BIGINT AS nu,
      |    sum(CASE WHEN n_purch * tot.n_users_t > tot.tot_purch
      |      THEN 1 ELSE 0 END)::BIGINT AS np
      |  FROM per CROSS JOIN tot GROUP BY 1
      |), cum AS (
      |  SELECT a.score, a.nu, a.np, sum(b.nu)::BIGINT AS cum_u
      |  FROM hist a JOIN hist b ON b.score >= a.score
      |  GROUP BY 1, 2, 3
      |), dec AS (
      |  SELECT ((10 * (cum_u - 1)) // tot.n_users_t + 1) AS decile,
      |    sum(nu)::BIGINT AS n_users, sum(np)::BIGINT AS n_pos
      |  FROM cum CROSS JOIN tot GROUP BY 1
      |), dt AS (
      |  SELECT sum(n_users)::BIGINT AS tot_u, sum(n_pos)::BIGINT AS tot_pos
      |  FROM dec
      |), c AS (
      |  SELECT a.decile, a.n_users, a.n_pos,
      |    sum(b.n_users)::BIGINT AS cum_users,
      |    sum(b.n_pos)::BIGINT AS cum_pos
      |  FROM dec a JOIN dec b ON b.decile <= a.decile
      |  GROUP BY 1, 2, 3
      |)
      |SELECT decile, n_users, n_pos, cum_users, cum_pos,
      |  (n_pos * 10000 // n_users)::BIGINT AS rate_bp,
      |  CASE WHEN dt.tot_pos = 0 THEN 0
      |    ELSE (n_pos * dt.tot_u * 10000 // (n_users * dt.tot_pos))::BIGINT
      |    END AS lift_bp,
      |  CASE WHEN dt.tot_pos = 0 THEN 0
      |    ELSE (cum_pos * 10000 // dt.tot_pos)::BIGINT END AS capture_bp
      |FROM c CROSS JOIN dt ORDER BY decile""".stripMargin

  // ---- X195: score-calibration audit (q269) ---------------------------------

  /** Shared q269/q270 seam: the per-user engagement score read as a
    * max-normalized probability, bucketed into 10 equal-width bp bins.
    * Per bin: user count, positive count (q213's above-average-purchaser
    * rule), and the exact sum of predicted bp. Rides the PlanCache'd
    * q213 per-user collapse — no new corpus scan. */
  private def calibrationBins(spark: SparkSession,
                              dir: String): DataFrame =
    graft.PlanCache.cached(spark, s"events.calibBins:$dir") {
      val bb = graft.PlanAudit.Bounded
      val per = graft.PlanCache.cached(spark, s"events.userEngagement:$dir") {
        Tables.events(spark, dir)
          .groupBy(col("user_id"))
          .agg(sum(when(col("event_type").isin("click", "view"), 1L)
            .otherwise(0L)).as("score"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("n_purch"))
      }
      val tot = per.agg(count(lit(1)).as("n_users_t"),
        sum(col("n_purch")).as("tot_purch"),
        max(col("score")).as("max_score"))
      val hist = per
        .crossJoin(bb.broadcastBounded("q269_calibration.totals", tot, 1L))
        .select(col("score"), col("max_score"),
          when(col("n_purch") * col("n_users_t") > col("tot_purch"), 1L)
            .otherwise(0L).as("pos"))
        .groupBy(col("score"), col("max_score"))
        .agg(count(lit(1)).as("nu"), sum(col("pos")).as("np"))
        .select(col("nu"), col("np"),
          expr("CASE WHEN max_score = 0 THEN 0L " +
            "ELSE score * 10000 div max_score END").as("pred_bp"))
      hist
        .select(col("nu"), col("np"), col("pred_bp"),
          least(expr("pred_bp div 1000"), lit(9L)).as("bin"))
        .groupBy(col("bin"))
        .agg(sum(col("nu")).as("n_users"), sum(col("np")).as("n_pos"),
          sum(col("nu") * col("pred_bp")).as("sum_pred"))
    }

  /** Shared q269/q270 oracle prefix: the same bins in DuckDB SQL. */
  private def calibrationBinsSqlWith: String =
    """WITH per AS (
      |  SELECT user_id,
      |    sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0
      |      END)::BIGINT AS score,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
      |      END)::BIGINT AS n_purch
      |  FROM events GROUP BY 1
      |), tot AS (
      |  SELECT count(*)::BIGINT AS n_users_t,
      |    sum(n_purch)::BIGINT AS tot_purch,
      |    max(score)::BIGINT AS max_score
      |  FROM per
      |), hist AS (
      |  SELECT score, max_score, count(*)::BIGINT AS nu,
      |    sum(CASE WHEN n_purch * tot.n_users_t > tot.tot_purch
      |      THEN 1 ELSE 0 END)::BIGINT AS np
      |  FROM per CROSS JOIN tot GROUP BY 1, 2
      |), cells AS (
      |  SELECT nu, np,
      |    CASE WHEN max_score = 0 THEN 0
      |      ELSE score * 10000 // max_score END AS pred_bp
      |  FROM hist
      |), bins AS (
      |  SELECT least(pred_bp // 1000, 9) AS bin,
      |    sum(nu)::BIGINT AS n_users, sum(np)::BIGINT AS n_pos,
      |    sum(nu * pred_bp)::BIGINT AS sum_pred
      |  FROM cells GROUP BY 1
      |)""".stripMargin

  /** X195 score-calibration audit (q269): the reliability diagram +
    * expected calibration error of the q213 engagement score read as a
    * probability (max-normalized to the bp grid). Per predicted-bp bin
    * (10 equal-width bins): users, positives (q213's above-average-
    * purchaser label), exact mean predicted bp, observed positive rate
    * bp, the signed gap, and the corpus ECE (user-weighted mean absolute
    * gap — Naeini et al. 2015's ECE on the integer bp grid). q266/q213
    * measure DISCRIMINATION (ranking); this measures CALIBRATION — a
    * score can order users perfectly and still be wrong as a
    * probability, which is what a downstream bidder/triage consumer
    * actually spends against.
    *
    * All integer: predicted bp floors once per score cell, bin means
    * floor once per bin, ECE floors once — identical in both engines.
    *
    * Scale posture: rides the PlanCache'd q213 per-user collapse (the
    * only corpus-scale work, map-side combinable); the score histogram
    * is distinct-score-sized, bins are ≤10 rows, and the ECE scalar is
    * a bounded-enforced single-row cross back onto them. */
  def calibrationAudit(spark: SparkSession, dir: String): DataFrame = {
    val bb = graft.PlanAudit.Bounded
    val bins = calibrationBins(spark, dir)
      .select(col("bin"), col("n_users"), col("n_pos"),
        expr("sum_pred div n_users").as("mean_pred_bp"),
        expr("n_pos * 10000 div n_users").as("obs_bp"))
    val ece = bins.agg(sum(col("n_users")).as("n_t"),
      sum(col("n_users") *
        abs(col("obs_bp") - col("mean_pred_bp"))).as("w_gap"))
      .select(expr("w_gap div n_t").as("ece_bp"))
    bins
      .crossJoin(bb.broadcastBounded("q269_calibration.ece", ece, 1L))
      .select(col("bin"), col("n_users"), col("n_pos"),
        col("mean_pred_bp"), col("obs_bp"),
        (col("obs_bp") - col("mean_pred_bp")).as("gap_bp"),
        col("ece_bp"))
      .orderBy(col("bin"))
  }

  def calibrationAuditSql: String =
    s"""$calibrationBinsSqlWith, rel AS (
       |  SELECT bin, n_users, n_pos,
       |    (sum_pred // n_users)::BIGINT AS mean_pred_bp,
       |    (n_pos * 10000 // n_users)::BIGINT AS obs_bp
       |  FROM bins
       |), ece AS (
       |  SELECT (sum(n_users * abs(obs_bp - mean_pred_bp)) //
       |    sum(n_users))::BIGINT AS ece_bp
       |  FROM rel
       |)
       |SELECT bin::BIGINT AS bin, n_users, n_pos, mean_pred_bp, obs_bp,
       |  (obs_bp - mean_pred_bp)::BIGINT AS gap_bp, ece_bp
       |FROM rel CROSS JOIN ece ORDER BY bin""".stripMargin

  // ---- X196: Brier decomposition (q270) --------------------------------------

  /** X196 Brier-score decomposition (q270): Murphy (1973)'s exact
    * three-way split of the q269 probability forecast's Brier score —
    * RELIABILITY (calibration loss, what q269's ECE weighs linearly,
    * here quadratically), RESOLUTION (how much the bins separate the
    * base rate; subtracts from loss), and UNCERTAINTY (the base rate's
    * own variance, the no-skill floor) — all on the bp² integer grid,
    * binned exactly as q269 bins. brier_bp2 = rel − res + unc, so a
    * forecaster reads WHERE the loss comes from: a miscalibrated but
    * sharp score fixes itself with recalibration (rel high, res high);
    * a flat score cannot (res ≈ 0).
    *
    * All integer: bin means/rates are the q269 floored bp values;
    * squares and user-weighted folds are exact BIGINTs (≤10 bins ×
    * bp² ≤ 10^8 × corpus users — far inside the long range).
    *
    * Scale posture: rides the PlanCache'd q269 bin table (≤10 rows);
    * the base-rate scalar is a bounded-enforced single-row cross onto
    * those rows; output is ONE row. */
  def brierDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val bb = graft.PlanAudit.Bounded
    val bins = calibrationBins(spark, dir)
      .select(col("n_users"), col("n_pos"),
        expr("sum_pred div n_users").as("mean_pred_bp"),
        expr("n_pos * 10000 div n_users").as("obs_bp"))
    val base = bins.agg(sum(col("n_users")).as("n_t"),
      sum(col("n_pos")).as("pos_t"))
      .select(col("n_t"),
        expr("pos_t * 10000 div n_t").as("obar_bp"))
    bins
      .crossJoin(bb.broadcastBounded("q270_brier.base", base, 1L))
      .agg(max(col("n_t")).as("n_users"), max(col("obar_bp")).as("obar_bp"),
        sum(col("n_users") * (col("mean_pred_bp") - col("obs_bp")) *
          (col("mean_pred_bp") - col("obs_bp"))).as("rel_num"),
        sum(col("n_users") * (col("obs_bp") - col("obar_bp")) *
          (col("obs_bp") - col("obar_bp"))).as("res_num"))
      .select(col("n_users"), col("obar_bp"),
        expr("rel_num div n_users").as("rel_bp2"),
        expr("res_num div n_users").as("res_bp2"),
        expr("obar_bp * (10000 - obar_bp)").as("unc_bp2"))
      .withColumn("brier_bp2",
        col("rel_bp2") - col("res_bp2") + col("unc_bp2"))
  }

  def brierDecompositionSql: String =
    s"""$calibrationBinsSqlWith, rel AS (
       |  SELECT n_users, n_pos,
       |    (sum_pred // n_users)::BIGINT AS mean_pred_bp,
       |    (n_pos * 10000 // n_users)::BIGINT AS obs_bp
       |  FROM bins
       |), base AS (
       |  SELECT sum(n_users)::BIGINT AS n_t,
       |    (sum(n_pos) * 10000 // sum(n_users))::BIGINT AS obar_bp
       |  FROM rel
       |), folded AS (
       |  SELECT max(b.n_t)::BIGINT AS n_users,
       |    max(b.obar_bp)::BIGINT AS obar_bp,
       |    sum(r.n_users * (r.mean_pred_bp - r.obs_bp) *
       |      (r.mean_pred_bp - r.obs_bp))::BIGINT AS rel_num,
       |    sum(r.n_users * (r.obs_bp - b.obar_bp) *
       |      (r.obs_bp - b.obar_bp))::BIGINT AS res_num
       |  FROM rel r CROSS JOIN base b
       |)
       |SELECT n_users, obar_bp,
       |  (rel_num // n_users)::BIGINT AS rel_bp2,
       |  (res_num // n_users)::BIGINT AS res_bp2,
       |  (obar_bp * (10000 - obar_bp))::BIGINT AS unc_bp2,
       |  (rel_num // n_users - res_num // n_users +
       |   obar_bp * (10000 - obar_bp))::BIGINT AS brier_bp2
       |FROM folded""".stripMargin

  // ---- X201: Cochran-Mantel-Haenszel stratified A/B (q275) ------------------

  /** χ² 95% critical value at df = 1, milli units (the CMH verdict). */
  val CmhCritMilli = 3841L

  /** X201 Cochran–Mantel–Haenszel stratified experiment readout
    * (q275): the q191 hash-coin A/B conversion table, stratified by
    * each user's first-touch ISO weekday, with the CMH pooled χ² and
    * the Mantel–Haenszel common odds ratio (Cochran 1954; Mantel &
    * Haenszel 1959). The Simpson's-paradox guard q191 lacks: a
    * marginal 2×2 can reverse sign when arrival day confounds both
    * assignment mix and conversion; CMH tests the treatment effect
    * WITHIN each stratum and pools the evidence — the stratified
    * readout every experimentation platform publishes next to the
    * marginal one.
    *
    * Exactly integer, per-term floors (the q225 engine-order-proof
    * rule): E_k in milli = ⌊10³·n1·m1/N⌋, V_k in micro =
    * ⌊10⁶·n1·n2·m1·m0/(N²(N−1))⌋, OR terms in milli = ⌊10³·a·d/N⌋ /
    * ⌊10³·b·c/N⌋ — each floored once per stratum, then summed;
    * cmh_milli = ⌊10³·(Σ10³a − ΣE)²/ΣV⌋ (the milli²/micro scales
    * cancel exactly). Degenerate strata contribute V = 0 honestly
    * (single-user strata add no information); ΣV = 0 reads cmh 0.
    *
    * Scale posture: ONE user-keyed collapse (map-side combinable —
    * arm coin, converted flag, first-touch µs min); strata fold to
    * ≤7 (dow) × 2 (arm) cells; the summary is a bounded-enforced
    * 1-row cross back onto the ≤7-row stratum table. */
  def cmhStratifiedAb(spark: SparkSession, dir: String): DataFrame = {
    val bb = graft.PlanAudit.Bounded
    val users = graft.PlanCache.cached(spark, s"events.cmhUsers:$dir") {
      Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("converted"),
          min(col("ts")).as("first_ts"))
        .select(
          when(pmod(graft.functions.TextHash.h1(col("user_id").cast("string")),
            lit(2L)) === 0L, 0L).otherwise(1L).as("treat"),
          col("converted"),
          (expr("weekday(first_ts)") + 1).cast("long").as("dow"))
    }
    val strata = users.groupBy(col("dow"))
      .agg(sum(when(col("treat") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("treat") === 0L, 1L).otherwise(0L)).as("n2"),
        sum(when(col("treat") === 1L, col("converted")).otherwise(0L))
          .as("a"),
        sum(when(col("treat") === 0L, col("converted")).otherwise(0L))
          .as("c"))
      .withColumn("b", expr("n1 - a"))
      .withColumn("d", expr("n2 - c"))
      .withColumn("nk", expr("n1 + n2"))
      .withColumn("m1", expr("a + c"))
      .withColumn("m0", expr("b + d"))
    val summary = strata.agg(
      sum(expr("1000 * a")).as("sa_milli"),
      sum(expr("cast(cast(1000 as decimal(38,0)) * n1 * m1 div nk " +
        "as bigint)")).as("se_milli"),
      sum(expr("CASE WHEN nk <= 1 THEN 0L ELSE " +
        "cast(cast(1000000 as decimal(38,0)) * n1 * n2 * m1 * m0 div " +
        "(cast(nk as decimal(38,0)) * nk * (nk - 1)) as bigint) END"))
        .as("sv_micro"),
      sum(expr("cast(cast(1000 as decimal(38,0)) * a * d div nk " +
        "as bigint)")).as("rnum_milli"),
      sum(expr("cast(cast(1000 as decimal(38,0)) * b * c div nk " +
        "as bigint)")).as("rden_milli"))
      .select(
        expr("CASE WHEN sv_micro = 0 THEN 0L ELSE " +
          "cast(cast(1000 as decimal(38,0)) * " +
          "(sa_milli - se_milli) * (sa_milli - se_milli) div " +
          "sv_micro as bigint) END").as("cmh_milli"),
        expr("CASE WHEN rden_milli = 0 THEN -1L ELSE " +
          "1000 * rnum_milli div rden_milli END").as("or_mh_milli"))
      .withColumn("significant",
        when(col("cmh_milli") > lit(CmhCritMilli), 1L).otherwise(0L))
    strata
      .select(col("dow"), col("n1").as("n_treat"), col("n2").as("n_ctrl"),
        col("a").as("conv_treat"), col("c").as("conv_ctrl"))
      .crossJoin(bb.broadcastBounded("q275_cmh_ab.summary", summary, 1L))
      .orderBy(col("dow"))
  }

  def cmhStratifiedAbSql: String = {
    val arm = graft.functions.TextHash.h1Sql("user_id::VARCHAR")
    s"""WITH u AS (
       |  SELECT user_id,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
       |      END)::BIGINT AS converted,
       |    min(ts) AS first_ts
       |  FROM events GROUP BY 1
       |), tagged AS (
       |  SELECT CASE WHEN ($arm) % 2 = 0 THEN 0 ELSE 1 END AS treat,
       |    converted, isodow(first_ts::TIMESTAMP)::BIGINT AS dow
       |  FROM u
       |), strata AS (
       |  SELECT dow,
       |    sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
       |    sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END)::BIGINT AS n2,
       |    sum(CASE WHEN treat = 1 THEN converted ELSE 0 END)::BIGINT AS a,
       |    sum(CASE WHEN treat = 0 THEN converted ELSE 0 END)::BIGINT AS c
       |  FROM tagged GROUP BY 1
       |), cells AS (
       |  SELECT dow, n1, n2, a, c, n1 - a AS b, n2 - c AS d,
       |    n1 + n2 AS nk, a + c AS m1, (n1 - a) + (n2 - c) AS m0
       |  FROM strata
       |), s AS (
       |  SELECT sum(1000 * a)::BIGINT AS sa_milli,
       |    sum((1000::HUGEINT * n1 * m1 // nk)::BIGINT)::BIGINT
       |      AS se_milli,
       |    sum(CASE WHEN nk <= 1 THEN 0 ELSE
       |      (1000000::HUGEINT * n1 * n2 * m1 * m0 //
       |       (nk::HUGEINT * nk * (nk - 1)))::BIGINT END)::BIGINT
       |      AS sv_micro,
       |    sum((1000::HUGEINT * a * d // nk)::BIGINT)::BIGINT
       |      AS rnum_milli,
       |    sum((1000::HUGEINT * b * c // nk)::BIGINT)::BIGINT
       |      AS rden_milli
       |  FROM cells
       |), summary AS (
       |  SELECT
       |    (CASE WHEN sv_micro = 0 THEN 0 ELSE
       |      (1000::HUGEINT * (sa_milli - se_milli) *
       |       (sa_milli - se_milli) // sv_micro)::BIGINT END)::BIGINT
       |      AS cmh_milli,
       |    (CASE WHEN rden_milli = 0 THEN -1
       |      ELSE 1000 * rnum_milli // rden_milli END)::BIGINT
       |      AS or_mh_milli
       |  FROM s
       |)
       |SELECT c.dow, c.n1 AS n_treat, c.n2 AS n_ctrl,
       |  c.a AS conv_treat, c.c AS conv_ctrl, summary.cmh_milli,
       |  summary.or_mh_milli,
       |  (CASE WHEN summary.cmh_milli > ${CmhCritMilli} THEN 1 ELSE 0
       |    END)::BIGINT AS significant
       |FROM cells c CROSS JOIN summary ORDER BY c.dow""".stripMargin
  }

  // ---- X200: isotonic (PAV) score recalibration (q274) ----------------------

  /** X200 isotonic recalibration (q274): the pool-adjacent-violators
    * fit of the q269 reliability diagram — the monotone recalibration
    * TABLE (bin → isotonic rate) a consumer applies to FIX the
    * miscalibration q269 diagnoses (Ayer et al. 1955; Zadrozny &
    * Elkan 2002). Computed NOT by the sequential pooling loop but by
    * the exact minimax identity iso_i = max_{j≤i} min_{l≥i}
    * rate(j..l) over pooled bin intervals — with ≤10 bins that is a
    * ≤10³-cell triangle algebra, which both engines evaluate as plain
    * joins (no iteration, no stack). The result is the unique
    * monotone non-decreasing fit minimizing squared error, so
    * downstream bidders can use the score as a probability with the
    * q269 gap provably non-increasing per block.
    *
    * Exactness device: interval rates compare through the floor of
    * rate·10¹⁸ — two rates compare wrongly only if they differ by
    * < 10⁻¹⁸ (impossible below ~10⁹ users per bin, and the SAME key
    * is computed in both engines, so cross-engine parity holds
    * regardless); the published bp value floors that key once more
    * (exact: 10¹⁸/10⁴ is a power split).
    *
    * Scale posture: rides the PlanCache'd q269/q270 bin seam (no new
    * corpus scan); every join side is a ≤10-row (intervals ≤55-row)
    * bounded-enforced broadcast; output ≤10 rows. */
  def isotonicCalibration(spark: SparkSession, dir: String): DataFrame = {
    val bb = graft.PlanAudit.Bounded
    val bins = calibrationBins(spark, dir)
      .select(col("bin"), col("n_users"), col("n_pos"),
        expr("sum_pred div n_users").as("mean_pred_bp"),
        expr("n_pos * 10000 div n_users").as("obs_bp"))
    val ivals = bins.select(col("bin").as("j"))
      .crossJoin(bb.broadcastBounded("q274_isotonic.l",
        bins.select(col("bin").as("l")), 10L))
      .filter(col("j") <= col("l"))
      .crossJoin(bb.broadcastBounded("q274_isotonic.m",
        bins.select(col("bin").as("m"), col("n_users").as("nu"),
          col("n_pos").as("np")), 10L))
      .filter(col("m").between(col("j"), col("l")))
      .groupBy(col("j"), col("l"))
      .agg(sum(col("nu")).as("n_iv"), sum(col("np")).as("p_iv"))
      .select(col("j"), col("l"), expr(
        "cast(p_iv as decimal(38,0)) * 1000000000000000000 div n_iv")
        .as("rk"))
    val iso = bins.select(col("bin"))
      .crossJoin(bb.broadcastBounded("q274_isotonic.iv", ivals, 55L))
      .filter(col("j") <= col("bin") && col("l") >= col("bin"))
      .groupBy(col("bin"), col("j")).agg(min(col("rk")).as("mn"))
      .groupBy(col("bin")).agg(max(col("mn")).as("iso_rk"))
    bins.join(iso, Seq("bin"))
      .select(col("bin"), col("n_users"), col("n_pos"),
        col("mean_pred_bp"), col("obs_bp"),
        expr("cast(iso_rk div 100000000000000 as bigint)").as("iso_bp"))
      .orderBy(col("bin"))
  }

  def isotonicCalibrationSql: String =
    s"""$calibrationBinsSqlWith, b AS (
       |  SELECT bin, n_users, n_pos,
       |    (sum_pred // n_users)::BIGINT AS mean_pred_bp,
       |    (n_pos * 10000 // n_users)::BIGINT AS obs_bp
       |  FROM bins
       |), rk AS (
       |  SELECT j.bin AS j, l.bin AS l,
       |    (sum(m.n_pos)::HUGEINT * 1000000000000000000 //
       |     sum(m.n_users)::HUGEINT) AS rk
       |  FROM b j JOIN b l ON j.bin <= l.bin
       |  JOIN b m ON m.bin BETWEEN j.bin AND l.bin
       |  GROUP BY 1, 2
       |), mm AS (
       |  SELECT i.bin, r.j, min(r.rk) AS mn
       |  FROM b i JOIN rk r ON r.j <= i.bin AND r.l >= i.bin
       |  GROUP BY 1, 2
       |), iso AS (
       |  SELECT bin, max(mn) AS iso_rk FROM mm GROUP BY 1
       |)
       |SELECT b.bin, b.n_users, b.n_pos, b.mean_pred_bp, b.obs_bp,
       |  (iso.iso_rk // 100000000000000)::BIGINT AS iso_bp
       |FROM b JOIN iso USING (bin) ORDER BY bin""".stripMargin

  // ---- X147: funnel stage-dwell diagnosis (q221) -----------------------------

  /** X147 funnel stage-dwell diagnosis (q221): per consecutive funnel
    * transition (signup→view, view→purchase, the q58 first-touch
    * inclusive-tie rule) — users entering, users passing, pass rate bp,
    * and the exact mean and median dwell seconds of the passers. q58
    * counts WHO falls out of the funnel, q130 prices the END-TO-END
    * conversion delay; this attributes the delay (and the drop) to the
    * STAGE that causes it — the diagnosis a growth team acts on
    * ("step 2 passes fine but takes 3 days; step 3 is where we lose
    * them").
    *
    * The median is the q132 exact-rank election (cum ≥ ⌈n/2⌉ over the
    * per-stage dwell histogram) — never ntile, never interpolated; the
    * histogram is keyed on whole dwell SECONDS, so its size is bounded
    * by the calendar span (the q200 value-range rule), not the user
    * count. Means are single integer divisions of µs-exact sums.
    *
    * Scale posture: ONE user_id conditional-min collapse (the
    * q58/q130 shape, PlanCache'd); stage dwells project off that
    * user-grained table; the cumulative window runs over histogram
    * rows partitioned by stage; entering/passing counts are 1-row
    * folds broadcast back. */
  def funnelStageDwell(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firsts = graft.PlanCache.cached(spark, s"events.funnelFirsts:$dir") {
      Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "signup", unix_micros(col("ts"))))
            .as("s_us"),
          min(when(col("event_type") === "view", unix_micros(col("ts"))))
            .as("v_us"),
          min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
            .as("p_us"))
    }
    val dwells = firsts
      .filter(col("s_us") <= col("v_us"))
      .select(lit("a_signup_to_view").as("stage"),
        expr("(v_us - s_us) div 1000000").as("dwell_sec"))
      .unionByName(firsts
        .filter(col("s_us") <= col("v_us") && col("v_us") <= col("p_us"))
        .select(lit("b_view_to_purchase").as("stage"),
          expr("(p_us - v_us) div 1000000").as("dwell_sec")))
    val byStage = Window.partitionBy(col("stage"))
    val cumW = byStage.orderBy(col("dwell_sec"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stats = dwells.groupBy(col("stage"), col("dwell_sec"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .withColumn("n", sum(col("cnt")).over(byStage))
      .withColumn("sum_dwell",
        sum(col("dwell_sec") * col("cnt")).over(byStage))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col("stage"))
      .agg(max(col("n")).as("n_passing"),
        min(col("dwell_sec")).as("p50_dwell_sec"),
        expr("max(sum_dwell) div max(n)").as("mean_dwell_sec"))
    val entering = firsts.agg(
      sum(when(col("s_us").isNotNull, 1L).otherwise(0L)).as("e1"),
      sum(when(col("s_us") <= col("v_us"), 1L).otherwise(0L)).as("e2"))
      .select(explode(array(
        struct(lit("a_signup_to_view").as("stage"), col("e1").as("n_entering")),
        struct(lit("b_view_to_purchase").as("stage"), col("e2").as("n_entering"))))
        .as("r"))
      .select(col("r.stage").as("stage"), col("r.n_entering"))
    stats.join(broadcast(entering), Seq("stage"))
      .select(col("stage"), col("n_entering"), col("n_passing"),
        expr("n_passing * 10000 div n_entering").as("pass_bp"),
        col("mean_dwell_sec"), col("p50_dwell_sec"))
      .orderBy(col("stage"))
  }

  def funnelStageDwellSql: String =
    """WITH firsts AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup'
      |        THEN epoch_us(ts::TIMESTAMP) END) AS s_us,
      |    min(CASE WHEN event_type = 'view'
      |        THEN epoch_us(ts::TIMESTAMP) END) AS v_us,
      |    min(CASE WHEN event_type = 'purchase'
      |        THEN epoch_us(ts::TIMESTAMP) END) AS p_us
      |  FROM events GROUP BY user_id
      |), dwells AS (
      |  SELECT 'a_signup_to_view' AS stage,
      |    (v_us - s_us) // 1000000 AS dwell_sec
      |  FROM firsts WHERE s_us <= v_us
      |  UNION ALL
      |  SELECT 'b_view_to_purchase', (p_us - v_us) // 1000000
      |  FROM firsts WHERE s_us <= v_us AND v_us <= p_us
      |), h AS (
      |  SELECT stage, dwell_sec, count(*)::BIGINT AS cnt
      |  FROM dwells GROUP BY 1, 2
      |), c AS (
      |  SELECT stage, dwell_sec, cnt,
      |    sum(cnt) OVER (PARTITION BY stage ORDER BY dwell_sec
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(cnt) OVER (PARTITION BY stage) AS n,
      |    sum(dwell_sec * cnt) OVER (PARTITION BY stage) AS sum_dwell
      |  FROM h
      |), med AS (
      |  SELECT stage, max(n)::BIGINT AS n_passing,
      |    min(dwell_sec)::BIGINT AS p50_dwell_sec,
      |    (max(sum_dwell) // max(n))::BIGINT AS mean_dwell_sec
      |  FROM c WHERE cum >= (n + 1) // 2 GROUP BY 1
      |), ent AS (
      |  SELECT 'a_signup_to_view' AS stage,
      |    sum(CASE WHEN s_us IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
      |      AS n_entering
      |  FROM firsts
      |  UNION ALL
      |  SELECT 'b_view_to_purchase',
      |    sum(CASE WHEN s_us <= v_us THEN 1 ELSE 0 END)::BIGINT
      |  FROM firsts
      |)
      |SELECT med.stage, n_entering, n_passing,
      |  (n_passing * 10000 // n_entering)::BIGINT AS pass_bp,
      |  mean_dwell_sec, p50_dwell_sec
      |FROM med JOIN ent ON med.stage = ent.stage
      |ORDER BY med.stage""".stripMargin

  // ---- X142: top session paths (q216) ---------------------------------------

  /** Path depth for [[sessionPaths]]: the opening trigram — long enough
    * to separate journeys, short enough that the path space stays
    * |types|³-bounded. */
  val PathDepth: Int = 3

  /** X142 top session paths (q216): the most frequent session-opening
    * event-type sequences (first [[PathDepth]] events per session,
    * joined with '>'), each with its session share and the share of
    * those sessions that convert (contain a purchase ANYWHERE — the
    * journey may convert after the opening). Sequential-pattern
    * mining's depth-k head (Agrawal & Srikant 1995, ICDE) restricted to
    * session openings — the "how do converting journeys START" read
    * behind onboarding and landing-page work; q122 reads one-step
    * transitions, q58 a FIXED funnel, this elects the actual paths.
    *
    * Sessions cut by the q179 lag+cumsum device (same timeout, same
    * (µs, event_id) order rule, so boundaries are cross-engine
    * identical); the opening path is the first 3 events in that same
    * order — deterministic under ts collisions.
    *
    * Scale posture: ONE user_id window exchange (lag + cumsum share
    * it); the per-session path fold groups on (user_id, sid), already
    * clustered by the window's partitioning — no second corpus
    * exchange; the path rollup is |types|³-bounded with map-side
    * combine; top-k rides TakeOrderedAndProject; the total is a
    * broadcast 1-row scalar. */
  def sessionPaths(spark: SparkSession, dir: String,
                   k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ROUND-18 SHAVE (§2.3 aggregate fewer bytes, §2.4): (a) the
    // per-session collect used to gather EVERY event's (us, event_id,
    // event_type) struct and sort the whole array just to slice its
    // first 3 — the in-session position is already available in the
    // window pass (rn − session-start rn, one row_number + one running
    // max over the SAME two window specs the lag/cumsum already pay),
    // so the collect now keeps ≤PathDepth structs per session and the
    // array sort is over ≤3 elements; (b) `tot` re-ran the whole
    // corpus pipeline (the before-plan carries the scan→window→collect
    // subtree TWICE — AQE exchange reuse does not cover the diverging
    // agg/top-k legs), so the |types|³-bounded path table is a seam
    // both the top-k and the total read (the q64/q213 audit-grain
    // materialization rule); it does not depend on `k`.
    val paths = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      .withColumn("opens", when(col("prev_us").isNull ||
        col("us") - col("prev_us") > SessionTimeoutUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("opens")).over(cum))
      .withColumn("srn", max(when(col("opens") === 1L, col("rn"))).over(cum))
      .groupBy(col("user_id"), col("sid"))
      .agg(
        array_join(expr(s"transform(sort_array(collect_list(" +
          s"IF(rn - srn < $PathDepth, " +
          "struct(us, event_id, event_type), NULL))), " +
          "e -> e.event_type)"), ">").as("path"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converts"))
    val byPath = graft.PlanCache.cached(spark, s"events.sessionPaths:$dir") {
      paths.groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("converts")).as("n_convert"))
    }
    val tot = byPath.agg(sum(col("n_sessions")).as("n_tot"))
    byPath
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
      .crossJoin(broadcast(tot))
      .select(col("path"), col("n_sessions"),
        expr("n_sessions * 10000 div n_tot").as("share_bp"),
        col("n_convert"),
        expr("n_convert * 10000 div n_sessions").as("convert_bp"))
      .orderBy(col("n_sessions").desc, col("path"))
  }

  def sessionPathsSql(k: Int = 20): String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts::TIMESTAMP) AS us
       |  FROM events
       |), marked AS (
       |  SELECT user_id, event_id, event_type, us,
       |    CASE WHEN lag(us) OVER w IS NULL
       |      OR us - lag(us) OVER w > $SessionTimeoutUs
       |      THEN 1 ELSE 0 END AS opens
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |), sids AS (
       |  SELECT user_id, event_id, event_type, us,
       |    sum(opens) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM marked
       |), ranked AS (
       |  SELECT user_id, sid, event_type, us, event_id,
       |    row_number() OVER (PARTITION BY user_id, sid
       |      ORDER BY us, event_id) AS rn
       |  FROM sids
       |), sess AS (
       |  SELECT user_id, sid,
       |    string_agg(CASE WHEN rn <= $PathDepth THEN event_type END, '>'
       |      ORDER BY us, event_id) AS path,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
       |      END)::BIGINT AS converts
       |  FROM ranked GROUP BY 1, 2
       |), byp AS (
       |  SELECT path, count(*)::BIGINT AS n_sessions,
       |    sum(converts)::BIGINT AS n_convert
       |  FROM sess GROUP BY 1
       |), top AS (
       |  SELECT * FROM byp ORDER BY n_sessions DESC, path LIMIT $k
       |), tot AS (
       |  SELECT sum(n_sessions)::BIGINT AS n_tot FROM byp
       |)
       |SELECT path, n_sessions,
       |  (n_sessions * 10000 // tot.n_tot)::BIGINT AS share_bp,
       |  n_convert,
       |  (n_convert * 10000 // n_sessions)::BIGINT AS convert_bp
       |FROM top CROSS JOIN tot
       |ORDER BY n_sessions DESC, path""".stripMargin

  /** Observation-window days for [[churnLabels]] (days 0..ObsDays-1 from
    * the corpus' first day) and the horizon that labels churn (the next
    * HorizonDays). Fixed so both engines cut identical cohorts. */
  val ObsDays: Int = 14
  val HorizonDays: Int = 7

  /** X153 churn-label builder (q227): the supervised-label table a churn
    * model trains on, at the (user, event_type) grain — a user's
    * engagement with a FEATURE counts as churned iff the pair is active
    * in the [[ObsDays]]-day observation window but has NO event in the
    * following [[HorizonDays]]-day horizon — rolled up by
    * observation-activity band (1, 2–3, 4–7, ≥8 active days). The
    * causal-direction complement of q59's descriptive cohorts:
    * retention counts what HAPPENED per cohort day, this fixes a
    * feature window and a disjoint future label window (the
    * leakage-free framing — features never read horizon data). The
    * feature grain is deliberate: whole-account churn is near-zero on
    * any healthy product, feature abandonment is where the signal
    * lives, and the monotone churn-vs-activity gradient across bands
    * is the sanity read before any model sees the table.
    *
    * Windows anchor at the corpus' first event day (data-derived, not a
    * wall-clock constant), so the query is scale- and refresh-stable.
    *
    * Scale posture: ONE corpus shuffle (groupBy (user_id, event_type)
    * with conditional distinct-day count and horizon flag — no join,
    * no window); the band rollup runs on one row per observed pair;
    * the anchor day is a broadcast 1-row scalar. Day arithmetic is
    * exact integer datediff on calendar days (ns-vs-µs parity-safe). */
  def churnLabels(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
    val d0 = ev.agg(min(col("day")).as("d0"))
    val perUser = ev.crossJoin(broadcast(d0))
      .select(col("user_id"), col("event_type"),
        datediff(col("day"), col("d0")).as("idx"), col("day"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        countDistinct(when(col("idx") < ObsDays, col("day"))).as("obs_days"),
        max(when(col("idx").between(ObsDays, ObsDays + HorizonDays - 1), 1L)
          .otherwise(0L)).as("horizon_active"))
      .filter(col("obs_days") > 0)
    perUser
      .groupBy(
        when(col("obs_days") === 1, "a_1")
          .when(col("obs_days") <= 3, "b_2_3")
          .when(col("obs_days") <= 7, "c_4_7")
          .otherwise("d_ge_8").as("activity_band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("horizon_active") === 0, 1L).otherwise(0L))
          .as("n_churned"),
        sum(col("obs_days")).as("sum_obs_days"))
      .select(col("activity_band"), col("n_pairs"), col("n_churned"),
        expr("n_churned * 10000 div n_pairs").as("churn_bp"),
        col("sum_obs_days"))
      .orderBy(col("activity_band"))
  }

  def churnLabelsSql: String =
    s"""WITH d0 AS (
       |  SELECT min(ts::DATE) AS d0 FROM events
       |), u AS (
       |  SELECT user_id, event_type,
       |    count(DISTINCT CASE WHEN ts::DATE - d0 < $ObsDays
       |      THEN ts::DATE END)::BIGINT AS obs_days,
       |    max(CASE WHEN ts::DATE - d0 BETWEEN $ObsDays
       |      AND ${ObsDays + HorizonDays - 1} THEN 1 ELSE 0
       |      END)::BIGINT AS horizon_active
       |  FROM events CROSS JOIN d0
       |  GROUP BY 1, 2
       |), labeled AS (
       |  SELECT CASE WHEN obs_days = 1 THEN 'a_1'
       |      WHEN obs_days <= 3 THEN 'b_2_3'
       |      WHEN obs_days <= 7 THEN 'c_4_7'
       |      ELSE 'd_ge_8' END AS activity_band,
       |    obs_days, horizon_active
       |  FROM u WHERE obs_days > 0
       |)
       |SELECT activity_band, count(*)::BIGINT AS n_pairs,
       |  sum(CASE WHEN horizon_active = 0 THEN 1 ELSE 0 END)::BIGINT
       |    AS n_churned,
       |  (sum(CASE WHEN horizon_active = 0 THEN 1 ELSE 0 END) * 10000
       |    // count(*))::BIGINT AS churn_bp,
       |  sum(obs_days)::BIGINT AS sum_obs_days
       |FROM labeled GROUP BY 1 ORDER BY activity_band""".stripMargin

  /** X154 CUSUM level-shift detection (q228, Page 1954): for each event
    * type, the two-sided cumulative-sum statistic over its zero-filled
    * daily count series — S⁺ᵢ = max(0, S⁺ᵢ₋₁ + devᵢ) for upward shifts,
    * the mirrored S⁻ for drops — with the peak value (normalized to bp
    * of the series' total deviation capacity n·total) and the day it
    * peaks. CUSUM accumulates small sustained deviations that q164's
    * per-day z-panel (memoryless by design) never flags: a 10% step
    * change hiding inside daily noise walks the CUSUM line up day after
    * day until it crosses, and the argmax day IS the change point
    * estimate.
    *
    * Exactness: deviations are scaled by n (devᵢ = cᵢ·n − total), so
    * mean-centering never divides — the whole walk is BIGINT in both
    * engines; peaks are ≤ 2·n·total, so the bp product stays inside the
    * decimal(38,0)/HUGEINT guard at any corpus scale.
    *
    * Scale posture: the corpus collapses once to (type, day) cells
    * (map-side combine); the per-type series is calendar-bounded (the
    * q164/q185 rule: days, not events), so the per-type map + the
    * sequential `aggregate` fold touch ≤|days| elements per type — the
    * ONE inherently-sequential statistic here rides a bounded array
    * fold, never a driver loop; the DuckDB twin walks the identical
    * recursion as a recursive CTE. */
  def cusumShift(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    val series = cnt.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
        sum(col("c")).as("total"),
        map_from_entries(collect_list(struct(col("day"), col("c"))))
          .as("m"))
      .select(col("event_type"), col("d0"), col("total"),
        (datediff(col("d1"), col("d0")) + 1).cast("long").as("n"), col("m"))
    val devAt = "(coalesce(element_at(m, date_add(d0, cast(i as int))), " +
      "cast(0 as bigint)) * n - total)"
    def sUp = s"greatest(cast(0 as bigint), acc.su + $devAt)"
    def sDn = s"greatest(cast(0 as bigint), acc.sd - $devAt)"
    series
      .withColumn("st", expr(
        s"""aggregate(
           |  sequence(cast(0 as bigint), n - 1),
           |  named_struct(
           |    'su', cast(0 as bigint), 'mu', cast(0 as bigint),
           |    'au', cast(-1 as bigint),
           |    'sd', cast(0 as bigint), 'md', cast(0 as bigint),
           |    'ad', cast(-1 as bigint)),
           |  (acc, i) -> named_struct(
           |    'su', $sUp,
           |    'mu', CASE WHEN $sUp > acc.mu THEN $sUp ELSE acc.mu END,
           |    'au', CASE WHEN $sUp > acc.mu THEN i ELSE acc.au END,
           |    'sd', $sDn,
           |    'md', CASE WHEN $sDn > acc.md THEN $sDn ELSE acc.md END,
           |    'ad', CASE WHEN $sDn > acc.md THEN i ELSE acc.ad END))""".stripMargin))
      .select(col("event_type"), col("n").as("n_days"),
        col("total").as("total_events"),
        expr("cast(cast(st.mu as decimal(38,0)) * 10000 div " +
          "(cast(n as decimal(38,0)) * total) as bigint)").as("up_peak_bp"),
        expr("CASE WHEN st.au >= 0 THEN date_add(d0, cast(st.au as int)) " +
          "END").as("up_peak_day"),
        expr("cast(cast(st.md as decimal(38,0)) * 10000 div " +
          "(cast(n as decimal(38,0)) * total) as bigint)").as("down_peak_bp"),
        expr("CASE WHEN st.ad >= 0 THEN date_add(d0, cast(st.ad as int)) " +
          "END").as("down_peak_day"))
      .orderBy(col("event_type"))
  }

  def cusumShiftSql: String = {
    val dev = "(coalesce(c.c, 0) * f.n - f.total)"
    val sUp = s"greatest(0, f.su + $dev)"
    val sDn = s"greatest(0, f.sd - $dev)"
    s"""WITH RECURSIVE cnt AS (
       |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS c
       |  FROM events GROUP BY 1, 2
       |), span AS (
       |  SELECT event_type, min(day) AS d0,
       |    (max(day) - min(day) + 1)::BIGINT AS n,
       |    sum(c)::BIGINT AS total
       |  FROM cnt GROUP BY 1
       |), f AS (
       |  SELECT event_type, d0, n, total, 0::BIGINT AS i,
       |    0::BIGINT AS su, 0::BIGINT AS mu, (-1)::BIGINT AS au,
       |    0::BIGINT AS sd, 0::BIGINT AS md, (-1)::BIGINT AS ad
       |  FROM span
       |  UNION ALL
       |  SELECT f.event_type, f.d0, f.n, f.total, f.i + 1,
       |    $sUp,
       |    CASE WHEN $sUp > f.mu THEN $sUp ELSE f.mu END,
       |    CASE WHEN $sUp > f.mu THEN f.i ELSE f.au END,
       |    $sDn,
       |    CASE WHEN $sDn > f.md THEN $sDn ELSE f.md END,
       |    CASE WHEN $sDn > f.md THEN f.i ELSE f.ad END
       |  FROM f LEFT JOIN cnt c
       |    ON c.event_type = f.event_type AND c.day = f.d0 + (f.i)::INTEGER
       |  WHERE f.i < f.n
       |)
       |SELECT event_type, n AS n_days, total AS total_events,
       |  (mu::HUGEINT * 10000 // (n::HUGEINT * total))::BIGINT
       |    AS up_peak_bp,
       |  CASE WHEN au >= 0 THEN d0 + au::INTEGER END AS up_peak_day,
       |  (md::HUGEINT * 10000 // (n::HUGEINT * total))::BIGINT
       |    AS down_peak_bp,
       |  CASE WHEN ad >= 0 THEN d0 + ad::INTEGER END AS down_peak_day
       |FROM f WHERE i = n ORDER BY event_type""".stripMargin
  }

  // ---- X199: EWMA control chart (q273) --------------------------------------

  /** X199 EWMA control chart (q273, Roberts 1959): per event type, the
    * exponentially-weighted moving average of the zero-filled daily
    * count series — z_i = λ·c_i + (1−λ)·z_{i−1} with the dyadic
    * λ = 1/4 (the q243 dyadic-smoothing rule) — scored against the
    * asymptotic 3σ_z control limits, σ_z² = σ²·λ/(2−λ) = σ²/7, in the
    * textbook two-phase discipline: PHASE I (the first ⌈n/2⌉ days)
    * estimates μ and σ, PHASE II (the rest) is monitored against
    * them. Estimating σ from the whole series would let a level shift
    * inflate its own limits and mask itself — the Phase I/II split is
    * why control-chart practice separates estimation from monitoring.
    * The third member of the drift shelf: q164's z-panel is memoryless
    * (one bad day), q228's CUSUM accumulates indefinitely (sustained
    * shifts), EWMA's geometric memory catches drifts too slow for the
    * z-panel and too short for CUSUM to dominate — the NIST canon
    * ships all three. Per type: days, Phase-I μ/σ², final EWMA,
    * Phase-II alarm-day counts both sides, first alarm day, and the
    * peak Phase-II deviation.
    *
    * Exactly integer: the walk rides the milli grid with ONE floor per
    * step (z' = (1000·c + 3·z) div 4 — the q225 engine-order-proof
    * rule); the limit test is the q257 SQUARED-threshold device,
    * 7·dev² > 9·σ²_milli² on decimal(38,0)/HUGEINT (no root is ever
    * taken), with σ²_milli² = ⌊10⁶(h·Σ₁c² − S₁²)/h²⌋ floored once
    * over the h Phase-I days. A zero-noise Phase I alarms on ANY
    * Phase-II deviation — the conservative read of a perfectly flat
    * baseline.
    *
    * Scale posture: the corpus collapses once to (type, day) cells
    * (map-side combine, the q228 seam shape); Phase-I sums and the
    * walk are calendar-bounded in-row folds against the day→count map
    * (the q228 device — bounded array folds, never a driver loop);
    * the DuckDB twin walks the identical recursion as a recursive
    * CTE; |types| output rows. */
  def ewmaChart(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    val cAt = "coalesce(element_at(m, date_add(d0, cast(i as int))), " +
      "cast(0 as bigint))"
    val series = cnt.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
        map_from_entries(collect_list(struct(col("day"), col("c"))))
          .as("m"))
      .select(col("event_type"), col("d0"), col("m"),
        (datediff(col("d1"), col("d0")) + 1).cast("long").as("n"))
      .withColumn("h", expr("(n + 1) div 2"))
      .withColumn("s1", expr("aggregate(sequence(0L, h - 1), 0L, " +
        s"(a, i) -> a + $cAt)"))
      .withColumn("ssq1", expr("aggregate(sequence(0L, h - 1), 0L, " +
        s"(a, i) -> a + $cAt * $cAt)"))
      .withColumn("mu_milli", expr("1000 * s1 div h"))
      .withColumn("var_milli2", expr(
        "cast(cast(1000000 as decimal(38,0)) * " +
          "(cast(h as decimal(38,0)) * ssq1 - " +
          "cast(s1 as decimal(38,0)) * s1) div " +
          "(cast(h as decimal(38,0)) * h) as bigint)"))
    val zNext = s"(1000 * $cAt + 3 * acc.z) div 4"
    val alarmUp = s"(i >= h AND $zNext > mu_milli AND " +
      s"cast(7 as decimal(38,0)) * ($zNext - mu_milli) * " +
      s"($zNext - mu_milli) > cast(9 as decimal(38,0)) * var_milli2)"
    val alarmDn = s"(i >= h AND $zNext < mu_milli AND " +
      s"cast(7 as decimal(38,0)) * (mu_milli - $zNext) * " +
      s"(mu_milli - $zNext) > cast(9 as decimal(38,0)) * var_milli2)"
    series
      .withColumn("st", expr(
        s"""aggregate(
           |  sequence(cast(0 as bigint), n - 1),
           |  named_struct(
           |    'z', mu_milli, 'nup', cast(0 as bigint),
           |    'ndn', cast(0 as bigint), 'fa', cast(-1 as bigint),
           |    'mx', cast(0 as bigint)),
           |  (acc, i) -> named_struct(
           |    'z', $zNext,
           |    'nup', acc.nup + IF($alarmUp, 1L, 0L),
           |    'ndn', acc.ndn + IF($alarmDn, 1L, 0L),
           |    'fa', CASE WHEN acc.fa >= 0 THEN acc.fa
           |      WHEN $alarmUp OR $alarmDn THEN i ELSE acc.fa END,
           |    'mx', CASE WHEN i >= h
           |      THEN greatest(acc.mx, abs($zNext - mu_milli))
           |      ELSE acc.mx END))""".stripMargin))
      .select(col("event_type"), col("n").as("n_days"),
        col("h").as("n_phase1"), col("mu_milli"), col("var_milli2"),
        col("st.z").as("ewma_last_milli"),
        col("st.nup").as("n_alarm_up"), col("st.ndn").as("n_alarm_dn"),
        expr("CASE WHEN st.fa >= 0 THEN date_add(d0, cast(st.fa as int)) " +
          "END").as("first_alarm_day"),
        col("st.mx").as("max_abs_dev_milli"))
      .orderBy(col("event_type"))
  }

  def ewmaChartSql: String = {
    val cAt = "coalesce(c.c, 0)"
    val zNext = s"(1000 * $cAt + 3 * f.z) // 4"
    val alarmUp = s"(f.i >= f.h AND $zNext > f.mu_milli AND " +
      s"7::HUGEINT * ($zNext - f.mu_milli) * ($zNext - f.mu_milli) > " +
      s"9::HUGEINT * f.var_milli2)"
    val alarmDn = s"(f.i >= f.h AND $zNext < f.mu_milli AND " +
      s"7::HUGEINT * (f.mu_milli - $zNext) * (f.mu_milli - $zNext) > " +
      s"9::HUGEINT * f.var_milli2)"
    s"""WITH RECURSIVE cnt AS (
       |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS c
       |  FROM events GROUP BY 1, 2
       |), span AS (
       |  SELECT event_type, min(day) AS d0,
       |    (max(day) - min(day) + 1)::BIGINT AS n
       |  FROM cnt GROUP BY 1
       |), base AS (
       |  SELECT s.event_type, s.d0, s.n, ((s.n + 1) // 2)::BIGINT AS h,
       |    coalesce(sum(CASE WHEN c.day < s.d0 +
       |      (((s.n + 1) // 2))::INTEGER THEN c.c END), 0)::BIGINT AS s1,
       |    coalesce(sum(CASE WHEN c.day < s.d0 +
       |      (((s.n + 1) // 2))::INTEGER THEN c.c * c.c END), 0)::BIGINT
       |      AS ssq1
       |  FROM span s LEFT JOIN cnt c ON c.event_type = s.event_type
       |  GROUP BY 1, 2, 3
       |), prepped AS (
       |  SELECT event_type, d0, n, h,
       |    (1000 * s1 // h)::BIGINT AS mu_milli,
       |    (1000000::HUGEINT * (h::HUGEINT * ssq1 - s1::HUGEINT * s1)
       |      // (h::HUGEINT * h))::BIGINT AS var_milli2
       |  FROM base
       |), f AS (
       |  SELECT event_type, d0, n, h, mu_milli, var_milli2,
       |    0::BIGINT AS i, mu_milli AS z, 0::BIGINT AS nup,
       |    0::BIGINT AS ndn, (-1)::BIGINT AS fa, 0::BIGINT AS mx
       |  FROM prepped
       |  UNION ALL
       |  SELECT f.event_type, f.d0, f.n, f.h, f.mu_milli, f.var_milli2,
       |    f.i + 1,
       |    ($zNext)::BIGINT,
       |    f.nup + CASE WHEN $alarmUp THEN 1 ELSE 0 END,
       |    f.ndn + CASE WHEN $alarmDn THEN 1 ELSE 0 END,
       |    CASE WHEN f.fa >= 0 THEN f.fa
       |      WHEN $alarmUp OR $alarmDn THEN f.i ELSE f.fa END,
       |    CASE WHEN f.i >= f.h
       |      THEN greatest(f.mx, abs(($zNext) - f.mu_milli))
       |      ELSE f.mx END
       |  FROM f LEFT JOIN cnt c
       |    ON c.event_type = f.event_type AND c.day = f.d0 + (f.i)::INTEGER
       |  WHERE f.i < f.n
       |)
       |SELECT event_type, n AS n_days, h AS n_phase1, mu_milli,
       |  var_milli2, z AS ewma_last_milli, nup AS n_alarm_up,
       |  ndn AS n_alarm_dn,
       |  CASE WHEN fa >= 0 THEN d0 + fa::INTEGER END AS first_alarm_day,
       |  mx AS max_abs_dev_milli
       |FROM f WHERE i = n ORDER BY event_type""".stripMargin
  }

  /** X156 ingestion-coverage gap audit (q230): per event type, hourly
    * presence against the corpus-wide hour grid — expected hours,
    * present hours, coverage bp, the number of contiguous MISSING runs
    * (gaps-and-islands), and the longest outage in hours. The backfill
    * planner's worklist: q164 asks "was yesterday's volume weird", this
    * asks "which hours never ARRIVED" — run-length matters because one
    * 12-hour outage and twelve 1-hour blips cost the same cell count
    * but completely different backfill jobs (one range-restated
    * partition vs twelve). Head/tail gaps count against the shared
    * global grid, so a type that starts late or stops early shows as
    * gapped, not short.
    *
    * Scale posture: the corpus collapses once to distinct (type, hour)
    * cells — calendar-bounded per type at ANY corpus scale (the
    * q164/q185 rule), so the per-type lag window rides bounded
    * partitions; the grid is a broadcast 1-row scalar; output is
    * |types| rows. Hour index is exact integer µs div 3600·10⁶. */
  def coverageGaps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .distinct()
    val grid = cells.agg(min(col("h")).as("gmin"), max(col("h")).as("gmax"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    cells.withColumn("prev", lag(col("h"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_present"),
        min(col("h")).as("first_h"), max(col("h")).as("last_h"),
        sum(when(col("h") - col("prev") > 1, 1L).otherwise(0L))
          .as("runs_mid"),
        max(when(col("h") - col("prev") > 1, col("h") - col("prev") - 1)
          .otherwise(0L)).as("max_mid"))
      .crossJoin(broadcast(grid))
      .select(col("event_type"),
        (col("gmax") - col("gmin") + 1).as("n_expected"),
        col("n_present"),
        expr("n_present * 10000 div (gmax - gmin + 1)").as("coverage_bp"),
        (col("runs_mid")
          + when(col("first_h") > col("gmin"), 1L).otherwise(0L)
          + when(col("last_h") < col("gmax"), 1L).otherwise(0L))
          .as("n_gap_runs"),
        greatest(col("max_mid"), col("first_h") - col("gmin"),
          col("gmax") - col("last_h")).as("max_gap_hours"))
      .orderBy(col("event_type"))
  }

  def coverageGapsSql: String =
    """WITH cells AS (
      |  SELECT DISTINCT event_type,
      |    epoch_us(ts::TIMESTAMP) // 3600000000 AS h
      |  FROM events
      |), grid AS (
      |  SELECT min(h) AS gmin, max(h) AS gmax FROM cells
      |), g AS (
      |  SELECT event_type, h,
      |    lag(h) OVER (PARTITION BY event_type ORDER BY h) AS prev
      |  FROM cells
      |), per AS (
      |  SELECT event_type, count(*)::BIGINT AS n_present,
      |    min(h) AS first_h, max(h) AS last_h,
      |    sum(CASE WHEN h - prev > 1 THEN 1 ELSE 0 END)::BIGINT AS runs_mid,
      |    max(CASE WHEN h - prev > 1 THEN h - prev - 1 ELSE 0
      |      END)::BIGINT AS max_mid
      |  FROM g GROUP BY 1
      |)
      |SELECT event_type, (gmax - gmin + 1)::BIGINT AS n_expected,
      |  n_present,
      |  (n_present * 10000 // (gmax - gmin + 1))::BIGINT AS coverage_bp,
      |  (runs_mid + CASE WHEN first_h > gmin THEN 1 ELSE 0 END
      |    + CASE WHEN last_h < gmax THEN 1 ELSE 0 END)::BIGINT
      |    AS n_gap_runs,
      |  greatest(max_mid, first_h - gmin, gmax - last_h)::BIGINT
      |    AS max_gap_hours
      |FROM per CROSS JOIN grid ORDER BY event_type""".stripMargin

  /** X159 peak session concurrency (q233): per calendar day, the maximum
    * number of SIMULTANEOUSLY open sessions at minute resolution, the
    * first minute-of-day it peaks, and how many sessions started that
    * day — the capacity-sizing read (connection pools, state-store
    * memory, seat licensing) that per-day session COUNTS can't give: a
    * day of short non-overlapping sessions and a day of long stacked
    * ones count the same in q179 but need completely different peak
    * capacity. The classic interval-stabbing sweep made distributed:
    * sessions become ±1 deltas at their start minute / end+1 minute,
    * deltas collapse to the minute grid FIRST (map-side combine), and
    * only then does the running sum walk the grid.
    *
    * Minute resolution is the documented contract (a sub-minute spike
    * inside one cell reads as its cell's plateau) — it is what bounds
    * the sweep: the grid is calendar minutes (≤44 640 cells per month
    * at ANY corpus scale, the q203/q206 bounded-grid rule), and the
    * running sum is the textbook TWO-LEVEL distributed prefix sum —
    * a day-partitioned window (≤1440 rows per partition) plus per-day
    * entering offsets from the q167 broadcast triangle over the
    * |days|-row net table — so no single-partition window ever forms.
    * Per-day sentinel rows carry the entering concurrency across
    * silent days, so a session spanning a quiet day still registers.
    *
    * Scale posture: sessions come from the PlanCache'd q179 seam (one
    * user_id window exchange, paid once); the delta collapse is
    * map-side combinable; everything after runs on the bounded minute
    * grid. Day span covers [first session START, last session END] day
    * — a cross-midnight session registers on its closing day via the
    * sentinel carry, but the pure release minute (end+1) can't mint a
    * day beyond the data. */
  def peakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = graft.PlanCache.cached(spark, s"events.sessionMinutes:$dir") {
      sessionTable(spark, dir)
        .select(expr("us0 div 60000000").as("m0"),
          expr("us1 div 60000000").as("m1"))
    }
    val bounds = spans.agg(expr("min(m0) div 1440").as("d_lo"),
      expr("max(m1) div 1440").as("d_hi"))
    // one pass fans each session into its ±1 delta pair
    val deltas = spans.select(explode(expr(
      "array(named_struct('m', m0, 'd', 1L), " +
        "named_struct('m', m1 + 1, 'd', -1L))")).as("e"))
      .select(col("e.m").as("m"), col("e.d").as("d"))
    val sentinels = bounds
      .select(explode(expr("sequence(d_lo, d_hi)")).as("dd"))
      .select((col("dd") * 1440).as("m"), lit(0L).as("d"))
    val cells = graft.PlanCache.cached(spark, s"events.minuteCells:$dir") {
      deltas.unionByName(sentinels)
        .groupBy(col("m")).agg(sum(col("d")).as("net"))
        .withColumn("day_idx", expr("m div 1440"))
    }
    // two-level prefix sum: within-day running sum (≤1440 rows per
    // partition) + per-day entering offsets via the broadcast triangle
    val wd = Window.partitionBy(col("day_idx")).orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dayNet = cells.groupBy(col("day_idx")).agg(sum(col("net")).as("dnet"))
    val prior = dayNet.select(col("day_idx").as("d2"), col("dnet").as("n2"))
    val offsets = dayNet.join(broadcast(prior), col("d2") < col("day_idx"),
        "left")
      .groupBy(col("day_idx"))
      .agg(coalesce(sum(col("n2")), lit(0L)).as("entering"))
    // peak + first peak minute in ONE collapse: lexicographic struct max
    // over (cur, −minute) elects max cur then min minute — no join-back
    val argm = cells.withColumn("wcum", sum(col("net")).over(wd))
      .join(broadcast(offsets), Seq("day_idx"))
      .select(col("day_idx"),
        struct((col("wcum") + col("entering")).as("cur"),
          (lit(0L) - col("m") % 1440).as("negm")).as("pk"))
      .groupBy(col("day_idx")).agg(max(col("pk")).as("pk"))
      .select(col("day_idx"), col("pk.cur").as("peak"),
        (lit(0L) - col("pk.negm")).as("peak_minute"))
    val starts = spans.groupBy(expr("m0 div 1440").as("day_idx"))
      .agg(count(lit(1)).as("n_started"))
    argm.join(starts, Seq("day_idx"), "left")
      .crossJoin(broadcast(bounds))
      .filter(col("day_idx").between(col("d_lo"), col("d_hi")))
      .select(
        expr("date_add(DATE '1970-01-01', cast(day_idx as int))").as("day"),
        coalesce(col("n_started"), lit(0L)).as("n_sessions_started"),
        col("peak").as("peak_concurrent"),
        col("peak_minute").as("peak_minute_of_day"))
      .orderBy(col("day"))
  }

  def peakConcurrencySql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us FROM events
       |), marked AS (
       |  SELECT user_id, event_id, us,
       |    CASE WHEN lag(us) OVER w IS NULL
       |      OR us - lag(us) OVER w > $SessionTimeoutUs
       |      THEN 1 ELSE 0 END AS opens
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |), sids AS (
       |  SELECT user_id, us,
       |    sum(opens) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM marked
       |), spans AS (
       |  SELECT min(us) // 60000000 AS m0, max(us) // 60000000 AS m1
       |  FROM sids GROUP BY user_id, sid
       |), bounds AS (
       |  SELECT min(m0) // 1440 AS d_lo, max(m1) // 1440 AS d_hi FROM spans
       |), cells AS (
       |  SELECT m, sum(d)::BIGINT AS net FROM (
       |    SELECT m0 AS m, 1 AS d FROM spans
       |    UNION ALL SELECT m1 + 1, -1 FROM spans
       |    UNION ALL SELECT unnest(generate_series(d_lo, d_hi)) * 1440, 0
       |    FROM bounds
       |  ) GROUP BY 1
       |), sweep AS (
       |  SELECT m // 1440 AS day_idx, m,
       |    sum(net) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND CURRENT ROW)::BIGINT AS cur
       |  FROM cells
       |), peaks AS (
       |  SELECT day_idx, max(cur)::BIGINT AS peak FROM sweep GROUP BY 1
       |), argm AS (
       |  SELECT s.day_idx, p.peak, min(s.m % 1440)::BIGINT AS peak_minute
       |  FROM sweep s JOIN peaks p
       |    ON s.day_idx = p.day_idx AND s.cur = p.peak
       |  GROUP BY 1, 2
       |), starts AS (
       |  SELECT m0 // 1440 AS day_idx, count(*)::BIGINT AS n_started
       |  FROM spans GROUP BY 1
       |)
       |SELECT DATE '1970-01-01' + a.day_idx::INTEGER AS day,
       |  coalesce(s.n_started, 0)::BIGINT AS n_sessions_started,
       |  a.peak AS peak_concurrent,
       |  a.peak_minute AS peak_minute_of_day
       |FROM argm a
       |LEFT JOIN starts s ON a.day_idx = s.day_idx
       |CROSS JOIN bounds
       |WHERE a.day_idx BETWEEN d_lo AND d_hi
       |ORDER BY day""".stripMargin

  /** Recovery/abandonment cutoffs for [[errorRecovery]] (µs): a next
    * event within QuickUs is a quick recovery; nothing within
    * AbandonUs is an abandonment. */
  val QuickUs: Long = 300000000L
  val AbandonUs: Long = 1800000000L

  /** X162 error-recovery outcome audit (q236): what happens immediately
    * AFTER each error event — the user's next action classified as
    * quick recovery (any non-error within 5 min), slow recovery
    * (non-error within 30 min), error cascade (another error within
    * 30 min), or abandonment (nothing within 30 min) — with share and
    * mean time-to-next per outcome. The reliability read q58's funnel
    * and q122's transition matrix both miss: transitions count WHERE
    * users go, this times HOW FAST they come back and isolates the
    * cascade share (retry storms — the client-side thundering herd
    * that turns one fault into N) from the abandonment share (the
    * revenue cost of the fault). The 30-min abandonment cutoff is the
    * q179 session-timeout knee, so "abandoned" = "the error ended the
    * session".
    *
    * Scale posture: ONE user_id window exchange (the q179/q122 order
    * rule (µs, event_id)) computes each error's successor; the
    * classification is a per-row expression and the rollup is ≤4 rows.
    * Gap algebra is exact integer µs. */
  def errorRecovery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val outcomes = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("gap_us", lead(col("us"), 1).over(w) - col("us"))
      .filter(col("event_type") === "error")
      .select(
        when(col("next_type").isNull || col("gap_us") > AbandonUs,
          "d_abandoned")
          .when(col("next_type") === "error", "c_cascade")
          .when(col("gap_us") <= QuickUs, "a_quick_recovery")
          .otherwise("b_slow_recovery").as("outcome"),
        when(col("next_type").isNotNull && col("gap_us") <= AbandonUs,
          col("gap_us")).as("gus"))
    val agg = outcomes.groupBy(col("outcome"))
      .agg(count(lit(1)).as("n_errors"),
        coalesce(sum(col("gus")), lit(0L)).as("sum_gus"))
    val tot = agg.agg(sum(col("n_errors")).as("n_tot"))
    agg.crossJoin(graft.PlanAudit.Bounded
      .broadcastBounded("q236_error_recovery.total", tot, 1L))
      .select(col("outcome"), col("n_errors"),
        expr("n_errors * 10000 div n_tot").as("share_bp"),
        expr("sum_gus div (n_errors * 1000)").as("mean_gap_ms"))
      .orderBy(col("outcome"))
  }

  def errorRecoverySql: String =
    s"""WITH seq AS (
       |  SELECT user_id, event_id, event_type,
       |    epoch_us(ts::TIMESTAMP) AS us,
       |    lead(event_type) OVER w AS next_type,
       |    lead(epoch_us(ts::TIMESTAMP)) OVER w
       |      - epoch_us(ts::TIMESTAMP) AS gap_us
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |), o AS (
       |  SELECT CASE
       |      WHEN next_type IS NULL OR gap_us > $AbandonUs THEN 'd_abandoned'
       |      WHEN next_type = 'error' THEN 'c_cascade'
       |      WHEN gap_us <= $QuickUs THEN 'a_quick_recovery'
       |      ELSE 'b_slow_recovery' END AS outcome,
       |    CASE WHEN next_type IS NOT NULL AND gap_us <= $AbandonUs
       |      THEN gap_us END AS gus
       |  FROM seq WHERE event_type = 'error'
       |), agg AS (
       |  SELECT outcome, count(*)::BIGINT AS n_errors,
       |    coalesce(sum(gus), 0)::BIGINT AS sum_gus
       |  FROM o GROUP BY 1
       |), tot AS (
       |  SELECT sum(n_errors)::BIGINT AS n_tot FROM agg
       |)
       |SELECT outcome, n_errors,
       |  (n_errors * 10000 // n_tot)::BIGINT AS share_bp,
       |  (sum_gus // (n_errors * 1000))::BIGINT AS mean_gap_ms
       |FROM agg CROSS JOIN tot ORDER BY outcome""".stripMargin

  /** The non-purchase channel universe for [[uShapedAttribution]] —
    * fixed so the per-purchase running counts are a closed column set
    * in both engines (FIXTURES.md §B event_type domain). */
  val TouchChannels: Seq[String] = Seq("click", "error", "signup", "view")

  /** X163 U-shaped multi-touch revenue attribution (q237): every
    * purchase's cents split 40% to the FIRST touch, 40% to the LAST
    * touch before purchase, 20% spread evenly over the middle touches
    * — the position-based model between q175's two single-touch
    * extremes (first-touch over-credits acquisition, last-touch
    * over-credits closing; U-shaped prices both ends of the journey
    * and still acknowledges the middle). Touch = any non-purchase
    * event; a touchless purchase credits '(direct)'. Allocation is
    * EXACT to the cent per purchase: 40% legs floor on the cents grid,
    * the middle pool is the exact remainder, its per-touch unit floors,
    * and the division remainder rides with the first-touch credit
    * (documented, engine-identical) — Σ credits ≡ Σ purchase cents,
    * spec-asserted.
    *
    * Scale posture: ONE user_id window exchange carries the first/last
    * touch AND the per-channel running counts (the channel set is the
    * fixed [[TouchChannels]], so "middle touches per channel" is
    * closed-form column algebra — no touch-list explosion, no
    * purchase×touch join); each purchase then fans out exactly
    * 2+|channels| credit rows via stack(), and the rollup is
    * ≤|channels|+1 rows. */
  def uShapedAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    val base = TouchChannels.foldLeft(
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("cents"))
        .withColumn("ft", first(touch, ignoreNulls = true).over(wPrev))
        .withColumn("lt", last(touch, ignoreNulls = true).over(wPrev))) {
      (df, t) => df.withColumn(s"c_$t",
        sum(when(col("event_type") === t, 1L).otherwise(0L)).over(wPrev))
    }
    val cSum = TouchChannels.map(t => s"coalesce(c_$t, 0L)").mkString(" + ")
    val p = base.filter(col("event_type") === "purchase")
      .select(Seq(col("cents"),
        coalesce(col("ft"), lit("(direct)")).as("ft"),
        coalesce(col("lt"), lit("(direct)")).as("lt"),
        expr(s"$cSum").as("m")) ++
        TouchChannels.map(t =>
          coalesce(col(s"c_$t"), lit(0L)).as(s"c_$t")): _*)
      .select(Seq(col("cents"), col("ft"), col("lt"), col("m"),
        expr("cents * 2 div 5").as("f40"),
        expr("cents - 2 * (cents * 2 div 5)").as("mid_total"),
        expr("greatest(m - 2, 0L)").as("m_mid")) ++
        TouchChannels.map(t => (col(s"c_$t")
          - when(col("ft") === t, 1L).otherwise(0L)
          - when(col("lt") === t && col("m") >= 2, 1L).otherwise(0L))
          .as(s"mc_$t")): _*)
      .select(col("*"),
        expr("CASE WHEN m_mid > 0 THEN mid_total div m_mid ELSE 0L END")
          .as("unit"))
      .select(col("*"),
        expr("mid_total - unit * m_mid").as("rem"))
    val midLegs = TouchChannels
      .map(t => s"'$t', unit * mc_$t").mkString(", ")
    val credits = p.select(expr(
      s"stack(${TouchChannels.size + 2}, " +
        s"ft, f40 + rem, lt, f40, $midLegs) as (channel, acents)"))
    val agg = credits.groupBy(col("channel"))
      .agg(sum(col("acents")).as("cents"),
        sum(when(col("acents") > 0, 1L).otherwise(0L)).as("n_credits"))
      .filter(col("cents") > 0)
    val tot = agg.agg(sum(col("cents")).as("tc"))
    agg.crossJoin(graft.PlanAudit.Bounded
      .broadcastBounded("q237_u_attribution.total", tot, 1L))
      .select(col("channel"), col("n_credits"), col("cents"),
        expr("cents * 10000 div tc").as("share_bp"))
      .orderBy(col("channel"))
  }

  def uShapedAttributionSql: String = {
    val counts = TouchChannels.map(t =>
      s"""    sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END)
         |      OVER wp AS c_$t""".stripMargin).mkString(",\n")
    val mids = TouchChannels.map(t =>
      s"""    (c_$t - CASE WHEN ft = '$t' THEN 1 ELSE 0 END
         |      - CASE WHEN lt = '$t' AND m >= 2 THEN 1 ELSE 0
         |      END)::BIGINT AS mc_$t""".stripMargin).mkString(",\n")
    val midLegs = TouchChannels.map(t =>
      s"SELECT '$t' AS channel, unit * mc_$t AS acents FROM alloc")
      .mkString("\n  UNION ALL ")
    s"""WITH seq AS (
       |  SELECT user_id, event_type,
       |    CAST(round(value * 100) AS BIGINT) AS cents,
       |    first_value(CASE WHEN event_type <> 'purchase'
       |        THEN event_type END IGNORE NULLS) OVER wp AS ft,
       |    last_value(CASE WHEN event_type <> 'purchase'
       |        THEN event_type END IGNORE NULLS) OVER wp AS lt,
       |$counts
       |  FROM events
       |  WINDOW wp AS (PARTITION BY user_id
       |    ORDER BY ts::TIMESTAMP, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |), p AS (
       |  SELECT cents, coalesce(ft, '(direct)') AS ft,
       |    coalesce(lt, '(direct)') AS lt,
       |    (${TouchChannels.map(t => s"coalesce(c_$t, 0)").mkString(" + ")}
       |      )::BIGINT AS m,
       |    ${TouchChannels.map(t => s"coalesce(c_$t, 0)::BIGINT AS c_$t")
            .mkString(", ")}
       |  FROM seq WHERE event_type = 'purchase'
       |), sized AS (
       |  SELECT cents, ft, lt, m,
       |    (cents * 2 // 5)::BIGINT AS f40,
       |    (cents - 2 * (cents * 2 // 5))::BIGINT AS mid_total,
       |    greatest(m - 2, 0)::BIGINT AS m_mid,
       |$mids
       |  FROM p
       |), alloc AS (
       |  SELECT *, CASE WHEN m_mid > 0 THEN mid_total // m_mid
       |      ELSE 0 END::BIGINT AS unit,
       |    (mid_total - (CASE WHEN m_mid > 0 THEN mid_total // m_mid
       |      ELSE 0 END) * m_mid)::BIGINT AS rem
       |  FROM sized
       |), credits AS (
       |  SELECT ft AS channel, f40 + rem AS acents FROM alloc
       |  UNION ALL SELECT lt, f40 FROM alloc
       |  UNION ALL $midLegs
       |), agg AS (
       |  SELECT channel, sum(acents)::BIGINT AS cents,
       |    sum(CASE WHEN acents > 0 THEN 1 ELSE 0 END)::BIGINT AS n_credits
       |  FROM credits GROUP BY 1
       |  HAVING sum(acents) > 0
       |), tot AS (
       |  SELECT sum(cents)::BIGINT AS tc FROM agg
       |)
       |SELECT channel, n_credits, cents,
       |  (cents * 10000 // tot.tc)::BIGINT AS share_bp
       |FROM agg CROSS JOIN tot ORDER BY channel""".stripMargin
  }

  /** Seasonal lag (days) for [[forecastBacktest]]'s seasonal-naive
    * model — weekly, the q185 cycle. */
  val SeasonLag: Int = 7

  /** X167 forecast backtest (q241, Hyndman & Koehler 2006's MASE on the
    * integer grid): for each event type's zero-filled daily series, the
    * in-sample error bills of the two zero-parameter forecasters —
    * naive (ŷₜ = yₜ₋₁) and seasonal-naive (ŷₜ = yₜ₋₇) — as exact
    * absolute-deviation sums over the common support t ≥ 7, their
    * ratio in bp (the MASE numerator/denominator pair), and the
    * election of whether weekly seasonality actually helps forecast
    * the stream. The forecasting companion to q185/q189: seasonality
    * DEVIATION maps say the weekly pattern exists, the trend test says
    * the level moves — this says whether a capacity forecast should
    * CARRY the weekly pattern, judged the way forecasters are actually
    * judged (against the naive baseline), with no floats anywhere.
    * Types whose span is shorter than a full season have no t ≥ 7
    * support and are dropped (documented).
    *
    * Scale posture: the corpus collapses once to (type, day) cells
    * (map-side combine); zero-fill and both lag reads ride the
    * calendar-bounded per-type series (the q228 map + q230 bounded
    * window rule); output is ≤|types| rows. */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    val series = cnt.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
        sum(col("c")).as("total"),
        map_from_entries(collect_list(struct(col("day"), col("c"))))
          .as("m"))
      .select(col("event_type"), col("total"),
        (datediff(col("d1"), col("d0")) + 1).cast("long").as("n"),
        col("d0"), col("m"))
      .filter(col("n") > SeasonLag)
      .select(col("event_type"), col("total"), col("n"),
        explode(expr("sequence(cast(0 as bigint), n - 1)")).as("i"),
        expr("coalesce(element_at(m, date_add(d0, cast(i as int))), " +
          "cast(0 as bigint))").as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("i"))
    series
      .withColumn("p1", lag(col("c"), 1).over(w))
      .withColumn("p7", lag(col("c"), SeasonLag).over(w))
      .filter(col("i") >= SeasonLag)
      .groupBy(col("event_type"), col("n"), col("total"))
      .agg(sum(abs(col("c") - col("p1"))).as("sad_naive"),
        sum(abs(col("c") - col("p7"))).as("sad_seasonal"))
      .select(col("event_type"), col("n").as("n_days"),
        col("total").as("total_events"), col("sad_naive"),
        col("sad_seasonal"),
        expr("CASE WHEN sad_naive > 0 " +
          "THEN sad_seasonal * 10000 div sad_naive " +
          "ELSE 10000L END").as("mase_bp"),
        (col("sad_seasonal") < col("sad_naive")).as("seasonal_helps"))
      .orderBy(col("event_type"))
  }

  def forecastBacktestSql: String =
    s"""WITH cnt AS (
       |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS c
       |  FROM events GROUP BY 1, 2
       |), span AS (
       |  SELECT event_type, min(day) AS d0,
       |    (max(day) - min(day) + 1)::BIGINT AS n, sum(c)::BIGINT AS total
       |  FROM cnt GROUP BY 1
       |  HAVING (max(day) - min(day) + 1) > $SeasonLag
       |), grid AS (
       |  SELECT event_type, n, total, d0,
       |    unnest(generate_series(0, (n - 1)::INTEGER))::BIGINT AS i
       |  FROM span
       |), filled AS (
       |  SELECT g.event_type, g.n, g.total, g.i,
       |    coalesce(c.c, 0)::BIGINT AS c
       |  FROM grid g LEFT JOIN cnt c
       |    ON c.event_type = g.event_type AND c.day = g.d0 + g.i::INTEGER
       |), lagged AS (
       |  SELECT event_type, n, total, i, c,
       |    lag(c, 1) OVER w AS p1, lag(c, $SeasonLag) OVER w AS p7
       |  FROM filled
       |  WINDOW w AS (PARTITION BY event_type ORDER BY i)
       |)
       |SELECT event_type, n AS n_days, total AS total_events,
       |  sum(abs(c - p1))::BIGINT AS sad_naive,
       |  sum(abs(c - p7))::BIGINT AS sad_seasonal,
       |  (CASE WHEN sum(abs(c - p1)) > 0
       |    THEN sum(abs(c - p7)) * 10000 // sum(abs(c - p1))
       |    ELSE 10000 END)::BIGINT AS mase_bp,
       |  (sum(abs(c - p7)) < sum(abs(c - p1))) AS seasonal_helps
       |FROM lagged WHERE i >= $SeasonLag
       |GROUP BY 1, 2, 3 ORDER BY event_type""".stripMargin

  /** Non-negative shift for [[holtBacktest]]'s dyadic divisions: Spark
    * `div` truncates toward zero while DuckDB `//` floors, so every
    * division operand is shifted by this multiple of 4 first (the
    * FIXTURES §C rule) — level/trend magnitudes stay far below it. */
  val HoltShift: Long = 1L << 50

  /** X169 Holt trend-corrected backtest (q243): the next rung of the
    * q241 forecaster ladder (Holt 1957; judged as Hyndman & Koehler
    * 2006 judge forecasters — against the naive baselines). Per event
    * type, one exact level+trend smoothing walk over the zero-filled
    * daily series with DYADIC weights α = ½, β = ¼, in integer
    * milli-units so both engines land identical BIGINTs:
    * f_t = ℓ + b, ℓ' = (y + ℓ + b) div 2, b' = (ℓ' − ℓ + 3b) div 4 —
    * every division on a [[HoltShift]]-shifted non-negative operand
    * (floor ≡ truncate). The bill is the i ≥ 7 absolute-deviation sum
    * (the exact q241 judged span), with q241's naive and seasonal SADs
    * recomputed in the SAME fold (map lookups at i−1/i−7, no window) —
    * so the row carries MASE vs BOTH baselines and the election says
    * whether trend-correction earns its keep per type; a type q241
    * called seasonal can still reject Holt (level+trend can't carry a
    * weekly shape), which is the point of backtesting the ladder.
    *
    * Scale posture: the corpus collapses once to (type, day) cells; the
    * walk is a calendar-bounded per-type array fold (the q228 device —
    * genuinely sequential state rides the fold, never a driver loop);
    * ≤|types| output rows. */
  def holtBacktest(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    val series = cnt.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
        sum(col("c")).as("total"),
        map_from_entries(collect_list(struct(col("day"), col("c"))))
          .as("m"))
      .select(col("event_type"), col("d0"), col("total"),
        (datediff(col("d1"), col("d0")) + 1).cast("long").as("n"), col("m"))
      .filter(col("n") > SeasonLag)
    def cAt(j: String) = "coalesce(element_at(m, date_add(d0, " +
      s"cast(($j) as int))), cast(0 as bigint))"
    val c = HoltShift
    val lNew = s"((${cAt("i")} * 1000 + acc.l + acc.b + $c) div 2 - ${c / 2})"
    series
      .withColumn("st", expr(
        s"""aggregate(
           |  sequence(cast(1 as bigint), n - 1),
           |  named_struct(
           |    'l', ${cAt("0")} * 1000, 'b', cast(0 as bigint),
           |    'sh', cast(0 as bigint), 'sn', cast(0 as bigint),
           |    'ss', cast(0 as bigint)),
           |  (acc, i) -> named_struct(
           |    'l', $lNew,
           |    'b', (($lNew - acc.l + 3 * acc.b + $c) div 4 - ${c / 4}),
           |    'sh', acc.sh + IF(i >= $SeasonLag,
           |      abs(${cAt("i")} * 1000 - (acc.l + acc.b)), cast(0 as bigint)),
           |    'sn', acc.sn + IF(i >= $SeasonLag,
           |      abs(${cAt("i")} - ${cAt("i - 1")}), cast(0 as bigint)),
           |    'ss', acc.ss + IF(i >= $SeasonLag,
           |      abs(${cAt("i")} - ${cAt(s"i - $SeasonLag")}),
           |      cast(0 as bigint))))""".stripMargin))
      .select(col("event_type"), col("n").as("n_days"),
        col("total").as("total_events"),
        col("st.sn").as("sad_naive"), col("st.ss").as("sad_seasonal"),
        col("st.sh").as("sad_holt_milli"),
        expr("CASE WHEN st.sn > 0 THEN st.sh * 10 div st.sn " +
          "ELSE 10000L END").as("mase_vs_naive_bp"),
        expr("CASE WHEN st.ss > 0 THEN st.sh * 10 div st.ss " +
          "ELSE 10000L END").as("mase_vs_seasonal_bp"),
        expr("st.sh < st.sn * 1000 AND st.sh < st.ss * 1000")
          .as("holt_best"))
      .orderBy(col("event_type"))
  }

  def holtBacktestSql: String = {
    val c = HoltShift
    val lNew = s"((coalesce(ci.c, 0) * 1000 + f.l + f.b + $c) // 2 - ${c / 2})"
    s"""WITH RECURSIVE cnt AS (
       |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS c
       |  FROM events GROUP BY 1, 2
       |), span AS (
       |  SELECT event_type, min(day) AS d0,
       |    (max(day) - min(day) + 1)::BIGINT AS n, sum(c)::BIGINT AS total
       |  FROM cnt GROUP BY 1
       |  HAVING (max(day) - min(day) + 1) > $SeasonLag
       |), f AS (
       |  SELECT s.event_type, s.d0, s.n, s.total, 1::BIGINT AS i,
       |    coalesce(c0.c, 0) * 1000 AS l, 0::BIGINT AS b,
       |    0::BIGINT AS sh, 0::BIGINT AS sn, 0::BIGINT AS ss
       |  FROM span s LEFT JOIN cnt c0
       |    ON c0.event_type = s.event_type AND c0.day = s.d0
       |  UNION ALL
       |  SELECT f.event_type, f.d0, f.n, f.total, f.i + 1,
       |    $lNew,
       |    (($lNew - f.l + 3 * f.b + $c) // 4 - ${c / 4}),
       |    f.sh + CASE WHEN f.i >= $SeasonLag
       |      THEN abs(coalesce(ci.c, 0) * 1000 - (f.l + f.b))
       |      ELSE 0 END,
       |    f.sn + CASE WHEN f.i >= $SeasonLag
       |      THEN abs(coalesce(ci.c, 0) - coalesce(c1.c, 0)) ELSE 0 END,
       |    f.ss + CASE WHEN f.i >= $SeasonLag
       |      THEN abs(coalesce(ci.c, 0) - coalesce(c7.c, 0)) ELSE 0 END
       |  FROM f
       |  LEFT JOIN cnt ci
       |    ON ci.event_type = f.event_type AND ci.day = f.d0 + (f.i)::INTEGER
       |  LEFT JOIN cnt c1
       |    ON c1.event_type = f.event_type
       |    AND c1.day = f.d0 + (f.i - 1)::INTEGER
       |  LEFT JOIN cnt c7
       |    ON c7.event_type = f.event_type
       |    AND c7.day = f.d0 + (f.i - $SeasonLag)::INTEGER
       |  WHERE f.i <= f.n - 1
       |)
       |SELECT event_type, n AS n_days, total AS total_events,
       |  sn AS sad_naive, ss AS sad_seasonal, sh AS sad_holt_milli,
       |  (CASE WHEN sn > 0 THEN sh * 10 // sn ELSE 10000 END)::BIGINT
       |    AS mase_vs_naive_bp,
       |  (CASE WHEN ss > 0 THEN sh * 10 // ss ELSE 10000 END)::BIGINT
       |    AS mase_vs_seasonal_bp,
       |  (sh < sn * 1000 AND sh < ss * 1000) AS holt_best
       |FROM f WHERE i = n ORDER BY event_type""".stripMargin
  }

  /** Error-rate budget for [[errorBudget]] in basis points of all
    * events (the SLO: at most this share may be errors). */
  val BudgetBp: Long = 2500L

  /** X174 error-budget burn panel (q248): the SRE multiwindow burn-rate
    * read (Beyer et al., the public SRE workbook) on the zero-filled
    * daily grid — per day: exact event/error counts, the day's error
    * rate, its burn rate against the [[BudgetBp]] SLO in centi-multiples
    * (100 = consuming budget exactly at the sustainable rate), the same
    * pair over the trailing 7-day window, since-start cumulative
    * burn (from the corpus' first day, no month reset), and the
    * fast-burn alert (day burn ≥ 2× AND trailing-week
    * burn ≥ 1× — the workbook's short+long window conjunction that
    * suppresses both blips and stale pages). q236 reads how users
    * RECOVER from errors, q164 whether volume is weird; this is the
    * release-gate read: is the error SHARE eating the budget faster
    * than the SLO can absorb.
    *
    * Scale posture: the corpus collapses once to ≤|days| (day, n, e)
    * cells; the grid, trailing windows and cumulative sums are map
    * lookups over the calendar-bounded day map (the q241/q243 device —
    * the inner folds touch ≤7 and ≤|days| cells per row, never the
    * corpus, and no single-partition window forms); one output row per
    * day. */
  def errorBudget(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("is_err"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("is_err")).as("e"))
    def winAgg(from: String) =
      s"aggregate(sequence($from, i), named_struct('n', 0L, 'e', 0L), " +
        "(acc, j) -> named_struct(" +
        "'n', acc.n + coalesce(element_at(m, date_add(d0, cast(j as int))).n, 0L), " +
        "'e', acc.e + coalesce(element_at(m, date_add(d0, cast(j as int))).e, 0L)))"
    cells
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
        map_from_entries(collect_list(struct(col("day"),
          struct(col("n"), col("e"))))).as("m"))
      .select(col("d0"), col("m"),
        (datediff(col("d1"), col("d0")) + 1).cast("long").as("nd"))
      .select(col("d0"), col("m"),
        explode(expr("sequence(cast(0 as bigint), nd - 1)")).as("i"))
      .select(
        expr("date_add(d0, cast(i as int))").as("day"),
        expr("coalesce(element_at(m, date_add(d0, cast(i as int))).n, 0L)")
          .as("n"),
        expr("coalesce(element_at(m, date_add(d0, cast(i as int))).e, 0L)")
          .as("e"),
        expr(winAgg("greatest(cast(0 as bigint), i - 6)")).as("w7"),
        expr(winAgg("cast(0 as bigint)")).as("wc"))
      .select(col("day"), col("n").as("n_events"), col("e").as("n_errors"),
        expr("CASE WHEN n > 0 THEN e * 10000 div n ELSE 0L END")
          .as("rate_bp"),
        expr(s"CASE WHEN n > 0 THEN e * 10000 div n * 100 div $BudgetBp " +
          "ELSE 0L END").as("burn_1d_centi"),
        col("w7.n").as("n_events_7d"), col("w7.e").as("n_errors_7d"),
        expr("CASE WHEN w7.n > 0 THEN w7.e * 10000 div w7.n ELSE 0L END")
          .as("rate_7d_bp"),
        expr("CASE WHEN w7.n > 0 THEN w7.e * 10000 div w7.n * 100 div " +
          s"$BudgetBp ELSE 0L END").as("burn_7d_centi"),
        expr("CASE WHEN wc.n > 0 THEN wc.e * 10000 div wc.n * 100 div " +
          s"$BudgetBp ELSE 0L END").as("cum_burn_centi"))
      .withColumn("alert_fast",
        col("burn_1d_centi") >= 200L && col("burn_7d_centi") >= 100L)
      .orderBy(col("day"))
  }

  def errorBudgetSql: String =
    s"""WITH cells AS (
       |  SELECT ts::DATE AS d, count(*)::BIGINT AS n,
       |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
       |      AS e
       |  FROM events GROUP BY 1
       |), span AS (
       |  SELECT min(d) AS d0, (max(d) - min(d) + 1)::BIGINT AS nd
       |  FROM cells
       |), grid AS (
       |  SELECT d0 + unnest(range(0, nd::INTEGER))::INTEGER AS day
       |  FROM span
       |), g AS (
       |  SELECT day, coalesce(n, 0) AS n, coalesce(e, 0) AS e
       |  FROM grid LEFT JOIN cells ON cells.d = grid.day
       |), w AS (
       |  SELECT a.day, a.n, a.e,
       |    sum(CASE WHEN b.day >= a.day - 6 THEN b.n ELSE 0 END)::BIGINT
       |      AS n7,
       |    sum(CASE WHEN b.day >= a.day - 6 THEN b.e ELSE 0 END)::BIGINT
       |      AS e7,
       |    sum(b.n)::BIGINT AS nc, sum(b.e)::BIGINT AS ec
       |  FROM g a JOIN g b ON b.day <= a.day
       |  GROUP BY 1, 2, 3
       |)
       |SELECT day, n AS n_events, e AS n_errors,
       |  (CASE WHEN n > 0 THEN e * 10000 // n ELSE 0 END)::BIGINT
       |    AS rate_bp,
       |  (CASE WHEN n > 0 THEN e * 10000 // n * 100 // $BudgetBp
       |    ELSE 0 END)::BIGINT AS burn_1d_centi,
       |  n7 AS n_events_7d, e7 AS n_errors_7d,
       |  (CASE WHEN n7 > 0 THEN e7 * 10000 // n7 ELSE 0 END)::BIGINT
       |    AS rate_7d_bp,
       |  (CASE WHEN n7 > 0 THEN e7 * 10000 // n7 * 100 // $BudgetBp
       |    ELSE 0 END)::BIGINT AS burn_7d_centi,
       |  (CASE WHEN nc > 0 THEN ec * 10000 // nc * 100 // $BudgetBp
       |    ELSE 0 END)::BIGINT AS cum_burn_centi,
       |  (CASE WHEN n > 0 THEN e * 10000 // n * 100 // $BudgetBp
       |     ELSE 0 END) >= 200
       |    AND (CASE WHEN n7 > 0 THEN e7 * 10000 // n7 * 100 // $BudgetBp
       |     ELSE 0 END) >= 100 AS alert_fast
       |FROM w ORDER BY day""".stripMargin

  /** X177 Holt–Winters backtest (q251): the top rung of the forecaster
    * ladder — additive level+trend+seasonal smoothing (Winters 1960)
    * with dyadic weights α = ½, β = ¼, γ = ½ and the weekly season, in
    * the same exact integer milli-units as q243: per day,
    * f = ℓ + b + s[i mod 7], ℓ' = (y − s + ℓ + b) div 2,
    * b' = (ℓ' − ℓ + 3b) div 4, s' = (y − ℓ' + s) div 2, every division
    * on a [[HoltShift]]-shifted non-negative operand. The SAME fold
    * carries the plain-Holt walk and the naive/seasonal map lookups,
    * so one pass bills all four forecasters on the identical i ≥ 7
    * judged span and the row elects the winner (ties prefer the
    * simpler model: naive < seasonal < holt < hw) — the complete
    * capacity-forecast decision table: does this type need a trend, a
    * season, or both.
    *
    * Scale posture: the q243 posture verbatim — one (type, day)
    * collapse, a calendar-bounded per-type fold whose state is 11
    * longs (2 + 7-slot season ring + 2), ≤|types| output rows.
    *
    * Domain bound: mase_hw_vs_holt_bp computes shw·10⁴ in BIGINT —
    * safe while the milli-unit SAD stays below ~9.2e14, i.e. a mean
    * daily |error| of ~2.5e9 events over a year-long span; the
    * sibling ·10 columns have 1000× more headroom. */
  def hwBacktest(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    val series = cnt.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
        sum(col("c")).as("total"),
        map_from_entries(collect_list(struct(col("day"), col("c"))))
          .as("m"))
      .select(col("event_type"), col("d0"), col("total"),
        (datediff(col("d1"), col("d0")) + 1).cast("long").as("n"), col("m"))
      .filter(col("n") > SeasonLag)
    def cAt(j: String) = "coalesce(element_at(m, date_add(d0, " +
      s"cast(($j) as int))), cast(0 as bigint))"
    val c = HoltShift
    val yM = s"(${cAt("i")} * 1000)"
    val sIdx = "element_at(acc.s, cast(i % 7 as int) + 1)"
    val lNew = s"(($yM - $sIdx + acc.l + acc.b + $c) div 2 - ${c / 2})"
    val sNew = s"(($yM - $lNew + $sIdx + $c) div 2 - ${c / 2})"
    val hlNew = s"(($yM + acc.hl + acc.hb + $c) div 2 - ${c / 2})"
    series
      .withColumn("st", expr(
        s"""aggregate(
           |  sequence(cast(1 as bigint), n - 1),
           |  named_struct(
           |    'l', ${cAt("0")} * 1000, 'b', cast(0 as bigint),
           |    's', array_repeat(cast(0 as bigint), 7),
           |    'hl', ${cAt("0")} * 1000, 'hb', cast(0 as bigint),
           |    'shw', cast(0 as bigint), 'sho', cast(0 as bigint),
           |    'sn', cast(0 as bigint), 'ss', cast(0 as bigint)),
           |  (acc, i) -> named_struct(
           |    'l', $lNew,
           |    'b', (($lNew - acc.l + 3 * acc.b + $c) div 4 - ${c / 4}),
           |    's', transform(acc.s, (v, k) ->
           |      IF(k = cast(i % 7 as int), $sNew, v)),
           |    'hl', $hlNew,
           |    'hb', (($hlNew - acc.hl + 3 * acc.hb + $c) div 4 - ${c / 4}),
           |    'shw', acc.shw + IF(i >= $SeasonLag,
           |      abs($yM - (acc.l + acc.b + $sIdx)), cast(0 as bigint)),
           |    'sho', acc.sho + IF(i >= $SeasonLag,
           |      abs($yM - (acc.hl + acc.hb)), cast(0 as bigint)),
           |    'sn', acc.sn + IF(i >= $SeasonLag,
           |      abs(${cAt("i")} - ${cAt("i - 1")}), cast(0 as bigint)),
           |    'ss', acc.ss + IF(i >= $SeasonLag,
           |      abs(${cAt("i")} - ${cAt(s"i - $SeasonLag")}),
           |      cast(0 as bigint))))""".stripMargin))
      .select(col("event_type"), col("n").as("n_days"),
        col("total").as("total_events"),
        col("st.sn").as("sad_naive"), col("st.ss").as("sad_seasonal"),
        col("st.sho").as("sad_holt_milli"),
        col("st.shw").as("sad_hw_milli"),
        expr("CASE WHEN st.sn > 0 THEN st.shw * 10 div st.sn " +
          "ELSE 10000L END").as("mase_hw_vs_naive_bp"),
        expr("CASE WHEN st.ss > 0 THEN st.shw * 10 div st.ss " +
          "ELSE 10000L END").as("mase_hw_vs_seasonal_bp"),
        expr("CASE WHEN st.sho > 0 THEN st.shw * 10000 div st.sho " +
          "ELSE 10000L END").as("mase_hw_vs_holt_bp"),
        expr("CASE WHEN st.sn * 1000 <= st.ss * 1000 " +
          "AND st.sn * 1000 <= st.sho AND st.sn * 1000 <= st.shw " +
          "THEN 'a_naive' " +
          "WHEN st.ss * 1000 <= st.sho AND st.ss * 1000 <= st.shw " +
          "THEN 'b_seasonal' " +
          "WHEN st.sho <= st.shw THEN 'c_holt' ELSE 'd_hw' END")
          .as("best_model"))
      .orderBy(col("event_type"))
  }

  def hwBacktestSql: String = {
    val c = HoltShift
    val yM = "(coalesce(ci.c, 0) * 1000)"
    val sIdx = "(CASE (f.i % 7) WHEN 0 THEN f.s0 WHEN 1 THEN f.s1 " +
      "WHEN 2 THEN f.s2 WHEN 3 THEN f.s3 WHEN 4 THEN f.s4 " +
      "WHEN 5 THEN f.s5 ELSE f.s6 END)"
    val lNew = s"(($yM - $sIdx + f.l + f.b + $c) // 2 - ${c / 2})"
    val sNew = s"(($yM - $lNew + $sIdx + $c) // 2 - ${c / 2})"
    val hlNew = s"(($yM + f.hl + f.hb + $c) // 2 - ${c / 2})"
    val sCols = (0 to 6).map(k =>
      s"CASE WHEN f.i % 7 = $k THEN $sNew ELSE f.s$k END").mkString(",\n    ")
    s"""WITH RECURSIVE cnt AS (
       |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS c
       |  FROM events GROUP BY 1, 2
       |), span AS (
       |  SELECT event_type, min(day) AS d0,
       |    (max(day) - min(day) + 1)::BIGINT AS n, sum(c)::BIGINT AS total
       |  FROM cnt GROUP BY 1
       |  HAVING (max(day) - min(day) + 1) > $SeasonLag
       |), f AS (
       |  SELECT s.event_type, s.d0, s.n, s.total, 1::BIGINT AS i,
       |    coalesce(c0.c, 0) * 1000 AS l, 0::BIGINT AS b,
       |    0::BIGINT AS s0, 0::BIGINT AS s1, 0::BIGINT AS s2,
       |    0::BIGINT AS s3, 0::BIGINT AS s4, 0::BIGINT AS s5,
       |    0::BIGINT AS s6,
       |    coalesce(c0.c, 0) * 1000 AS hl, 0::BIGINT AS hb,
       |    0::BIGINT AS shw, 0::BIGINT AS sho,
       |    0::BIGINT AS sn, 0::BIGINT AS ss
       |  FROM span s LEFT JOIN cnt c0
       |    ON c0.event_type = s.event_type AND c0.day = s.d0
       |  UNION ALL
       |  SELECT f.event_type, f.d0, f.n, f.total, f.i + 1,
       |    $lNew,
       |    (($lNew - f.l + 3 * f.b + $c) // 4 - ${c / 4}),
       |    $sCols,
       |    $hlNew,
       |    (($hlNew - f.hl + 3 * f.hb + $c) // 4 - ${c / 4}),
       |    f.shw + CASE WHEN f.i >= $SeasonLag
       |      THEN abs($yM - (f.l + f.b + $sIdx)) ELSE 0 END,
       |    f.sho + CASE WHEN f.i >= $SeasonLag
       |      THEN abs($yM - (f.hl + f.hb)) ELSE 0 END,
       |    f.sn + CASE WHEN f.i >= $SeasonLag
       |      THEN abs(coalesce(ci.c, 0) - coalesce(c1.c, 0)) ELSE 0 END,
       |    f.ss + CASE WHEN f.i >= $SeasonLag
       |      THEN abs(coalesce(ci.c, 0) - coalesce(c7.c, 0)) ELSE 0 END
       |  FROM f
       |  LEFT JOIN cnt ci
       |    ON ci.event_type = f.event_type AND ci.day = f.d0 + (f.i)::INTEGER
       |  LEFT JOIN cnt c1
       |    ON c1.event_type = f.event_type
       |    AND c1.day = f.d0 + (f.i - 1)::INTEGER
       |  LEFT JOIN cnt c7
       |    ON c7.event_type = f.event_type
       |    AND c7.day = f.d0 + (f.i - $SeasonLag)::INTEGER
       |  WHERE f.i <= f.n - 1
       |)
       |SELECT event_type, n AS n_days, total AS total_events,
       |  sn AS sad_naive, ss AS sad_seasonal, sho AS sad_holt_milli,
       |  shw AS sad_hw_milli,
       |  (CASE WHEN sn > 0 THEN shw * 10 // sn ELSE 10000 END)::BIGINT
       |    AS mase_hw_vs_naive_bp,
       |  (CASE WHEN ss > 0 THEN shw * 10 // ss ELSE 10000 END)::BIGINT
       |    AS mase_hw_vs_seasonal_bp,
       |  (CASE WHEN sho > 0 THEN shw * 10000 // sho ELSE 10000 END)::BIGINT
       |    AS mase_hw_vs_holt_bp,
       |  CASE WHEN sn * 1000 <= ss * 1000 AND sn * 1000 <= sho
       |      AND sn * 1000 <= shw THEN 'a_naive'
       |    WHEN ss * 1000 <= sho AND ss * 1000 <= shw THEN 'b_seasonal'
       |    WHEN sho <= shw THEN 'c_holt' ELSE 'd_hw' END AS best_model
       |FROM f WHERE i = n ORDER BY event_type""".stripMargin
  }

  /** X178 Theil–Sen robust slope (q252): the MAGNITUDE companion to
    * q189's Mann–Kendall direction test (Sen 1968; Theil 1950) — per
    * event type, the median of all C(n,2) pairwise day-slopes over the
    * zero-filled daily grid, in milli-events/day. Median beats
    * least-squares here for the same reason MK beats Pearson: a single
    * outage day cannot drag the slope. Slopes are magnitude-floored
    * toward zero (sign-split — both engines truncate identically, the
    * FIXTURES §C signed-division rule) and the median is the exact
    * lower-median histogram-rank election (the q132 device, never a
    * sort of the corpus). The MK S statistic rides the same pair pass,
    * so the row pairs q189's "is there a trend" with "how steep".
    *
    * Scale posture: the corpus collapses once to (type, day) cells;
    * the pair fan-out is calendar-bounded (C(|days|,2) per type, not
    * corpus-sized); the histogram collapse is map-side combinable and
    * the cumulative election windows on the |types|-partition slope
    * histogram. ≤|types| output rows. */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
    val series = cnt.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
        map_from_entries(collect_list(struct(col("day"), col("c"))))
          .as("m"))
      .select(col("event_type"),
        (datediff(col("d1"), col("d0")) + 1).cast("long").as("n"),
        col("d0"), col("m"))
      .filter(col("n") > 1)
    def cAt(j: String) = "coalesce(element_at(m, date_add(d0, " +
      s"cast(($j) as int))), cast(0 as bigint))"
    val pairs = series
      .select(col("event_type"), col("n"), col("d0"), col("m"),
        explode(expr("sequence(cast(0 as bigint), n - 2)")).as("i"))
      .select(col("event_type"), col("n"), col("d0"), col("m"), col("i"),
        explode(expr("sequence(i + 1, n - 1)")).as("j"))
      .select(col("event_type"), col("n"),
        expr(s"${cAt("j")} - ${cAt("i")}").as("diff"),
        (col("j") - col("i")).as("gap"))
      .select(col("event_type"), col("n"),
        expr("CASE WHEN diff >= 0 THEN diff * 1000 div gap " +
          "ELSE 0L - ((0L - diff) * 1000 div gap) END").as("slope"),
        signum(col("diff")).cast("long").as("sgn"))
    val stats = pairs.groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"), count(lit(1)).as("n_pairs"),
        sum(col("sgn")).as("s_stat"))
    val hist = pairs.groupBy(col("event_type"), col("slope"))
      .agg(count(lit(1)).as("cnt"))
    val wc = Window.partitionBy(col("event_type")).orderBy(col("slope"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = hist.withColumn("cum", sum(col("cnt")).over(wc))
      .join(stats.select(col("event_type"), col("n_pairs")), Seq("event_type"))
      .filter(col("cum") >= expr("(n_pairs + 1) div 2"))
      .groupBy(col("event_type"))
      .agg(min(col("slope")).as("theil_sen_milli"))
    stats.join(med, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("s_stat"), col("theil_sen_milli"),
        expr("CASE WHEN theil_sen_milli > 0 THEN 'a_up' " +
          "WHEN theil_sen_milli < 0 THEN 'c_down' " +
          "ELSE 'b_flat' END").as("direction"))
      .orderBy(col("event_type"))
  }

  def theilSenSql: String =
    """WITH cnt AS (
      |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS c
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT event_type, min(day) AS d0,
      |    (max(day) - min(day) + 1)::BIGINT AS n
      |  FROM cnt GROUP BY 1
      |  HAVING (max(day) - min(day) + 1) > 1
      |), grid0 AS (
      |  SELECT event_type, n, d0,
      |    unnest(range(0, n::INTEGER))::BIGINT AS i
      |  FROM span
      |), grid AS (
      |  SELECT g.event_type, g.n, g.i, coalesce(c.c, 0)::BIGINT AS c
      |  FROM grid0 g LEFT JOIN cnt c
      |    ON c.event_type = g.event_type AND c.day = g.d0 + g.i::INTEGER
      |), pairs AS (
      |  SELECT a.event_type, a.n,
      |    CASE WHEN b.c - a.c >= 0
      |      THEN (b.c - a.c) * 1000 // (b.i - a.i)
      |      ELSE -((a.c - b.c) * 1000 // (b.i - a.i)) END AS slope,
      |    sign(b.c - a.c)::BIGINT AS sgn
      |  FROM grid a JOIN grid b
      |    ON a.event_type = b.event_type AND b.i > a.i
      |), stats AS (
      |  SELECT event_type, max(n)::BIGINT AS n_days,
      |    count(*)::BIGINT AS n_pairs, sum(sgn)::BIGINT AS s_stat
      |  FROM pairs GROUP BY 1
      |), hist AS (
      |  SELECT event_type, slope, count(*)::BIGINT AS cnt
      |  FROM pairs GROUP BY 1, 2
      |), cum AS (
      |  SELECT event_type, slope,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY slope
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist
      |), med AS (
      |  SELECT c.event_type, min(c.slope)::BIGINT AS theil_sen_milli
      |  FROM cum c JOIN stats s ON s.event_type = c.event_type
      |  WHERE c.cum >= (s.n_pairs + 1) // 2
      |  GROUP BY 1
      |)
      |SELECT s.event_type, s.n_days, s.n_pairs, s.s_stat,
      |  m.theil_sen_milli,
      |  CASE WHEN m.theil_sen_milli > 0 THEN 'a_up'
      |    WHEN m.theil_sen_milli < 0 THEN 'c_down'
      |    ELSE 'b_flat' END AS direction
      |FROM stats s JOIN med m ON m.event_type = s.event_type
      |ORDER BY s.event_type""".stripMargin

  /** Minimum inter-event gaps a user needs before [[botRegularity]]
    * scores them (regularity over fewer samples is noise). */
  val MinGaps: Long = 9L

  /** X165 bot-regularity panel (q239): users bucketed by how MECHANICAL
    * their inter-event timing is — the modal whole-second gap's share
    * of all their gaps (metronomic ≥ 80%, regular ≥ 40%, mixed ≥ 20%,
    * else organic) — with user counts, gap mass and the mean modal
    * share per band. The anti-automation read q172's Fano panel can't
    * give: burstiness is a CORPUS-cell property, this is a PER-ACTOR
    * timing signature — a scraper on a fixed polling interval sits at
    * top_share ≈ 10000 while organic humans spread across the gap
    * spectrum, and the a/b bands are the review queue every abuse team
    * works through. Gaps round to the whole-second grid (schedulers
    * fire on seconds; sub-second jitter would hide the signature).
    *
    * Scale posture: ONE user_id window exchange mints gaps; the modal
    * election is the (user, gap) collapse followed by the per-user
    * max — both map-side combinable, keyed on the high-cardinality
    * user; the band rollup runs on one row per qualifying user. */
  def botRegularity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(col("user_id"),
        expr("(us - prev_us) div 1000000").as("gap_s"))
      .groupBy(col("user_id"), col("gap_s")).agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_gaps"), max(col("c")).as("mode_c"))
      .filter(col("n_gaps") >= MinGaps)
      .select(col("user_id"), col("n_gaps"),
        expr("mode_c * 10000 div n_gaps").as("top_share_bp"))
    val bands = perUser.groupBy(
      when(col("top_share_bp") >= 8000, "a_metronomic")
        .when(col("top_share_bp") >= 4000, "b_regular")
        .when(col("top_share_bp") >= 2000, "c_mixed")
        .otherwise("d_organic").as("regularity_band"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_gaps")).as("n_gaps"),
        sum(col("top_share_bp")).as("sum_top"))
    val tot = bands.agg(sum(col("n_users")).as("n_tot"))
    bands.crossJoin(graft.PlanAudit.Bounded
      .broadcastBounded("q239_bot_regularity.total", tot, 1L))
      .select(col("regularity_band"), col("n_users"),
        expr("n_users * 10000 div n_tot").as("share_bp"),
        col("n_gaps"),
        expr("sum_top div n_users").as("mean_top_share_bp"))
      .orderBy(col("regularity_band"))
  }

  def botRegularitySql: String =
    s"""WITH seq AS (
       |  SELECT user_id,
       |    (epoch_us(ts::TIMESTAMP) - lag(epoch_us(ts::TIMESTAMP))
       |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP),
       |        event_id)) // 1000000 AS gap_s
       |  FROM events
       |), cells AS (
       |  SELECT user_id, gap_s, count(*)::BIGINT AS c
       |  FROM seq WHERE gap_s IS NOT NULL GROUP BY 1, 2
       |), u AS (
       |  SELECT user_id, sum(c)::BIGINT AS n_gaps, max(c)::BIGINT AS mode_c
       |  FROM cells GROUP BY 1 HAVING sum(c) >= $MinGaps
       |), scored AS (
       |  SELECT user_id, n_gaps,
       |    (mode_c * 10000 // n_gaps)::BIGINT AS top_share_bp
       |  FROM u
       |), bands AS (
       |  SELECT CASE WHEN top_share_bp >= 8000 THEN 'a_metronomic'
       |      WHEN top_share_bp >= 4000 THEN 'b_regular'
       |      WHEN top_share_bp >= 2000 THEN 'c_mixed'
       |      ELSE 'd_organic' END AS regularity_band,
       |    count(*)::BIGINT AS n_users, sum(n_gaps)::BIGINT AS n_gaps,
       |    sum(top_share_bp)::BIGINT AS sum_top
       |  FROM scored GROUP BY 1
       |), tot AS (
       |  SELECT sum(n_users)::BIGINT AS n_tot FROM bands
       |)
       |SELECT regularity_band, n_users,
       |  (n_users * 10000 // n_tot)::BIGINT AS share_bp, n_gaps,
       |  (sum_top // n_users)::BIGINT AS mean_top_share_bp
       |FROM bands CROSS JOIN tot ORDER BY regularity_band""".stripMargin
}
