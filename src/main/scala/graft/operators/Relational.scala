package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational layer (SURVEY.md §2.5 A1-A3, §2.6 J1-J2, §2.8) over the
  * TPC-H-ish star schema. All queries are declarative DataFrame plans —
  * Catalyst handles predicate pushdown, column pruning, join strategy
  * (small dims broadcast automatically under the 10 MB threshold), and
  * partial+final hash aggregation.
  *
  * Oracle-parity rules (FIXTURES.md §C): every query ends in a total
  * ORDER BY on stable keys and rounds floating aggregates.
  */
object Relational {

  /** A1: pricing-summary aggregation over lineitem (TPC-H Q1 shape).
    * Partial agg on 6-value key → 1 tiny shuffle; scales linearly. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  def pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  round(avg(l_discount), 4) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1996-01-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** J1+A1: revenue per nation through the full star join
    * (lineitem⋈orders⋈customer⋈nation⋈region). nation/region are tiny →
    * broadcast; lineitem⋈orders is the one real shuffle and both sides
    * hash-partition on the join key — the plan a 1000-executor cluster
    * wants. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val n  = broadcast(Tables.nation(spark, dir))
    val r  = broadcast(Tables.region(spark, dir))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  def revenueByNationSql: String =
    """SELECT r_name, n_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** q03 with manual distributive-aggregate pushdown: lineitem revenue is
    * partially aggregated to one row PER ORDER before entering the join
    * chain (sum is distributive over the grouping, so per-nation totals
    * are identical). Catalyst does not push aggregates through joins on
    * its own; at 100 TB this cuts the join's probe side ~4× (lineitem →
    * orders cardinality) and the shuffle bytes with it. Same oracle
    * result as q03 up to rounding. */
  def revenueByNationPreAgg(spark: SparkSession, dir: String): DataFrame = {
    val liAgg = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"),
        count(lit(1)).as("items"))
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = broadcast(Tables.nation(spark, dir))
    val r = broadcast(Tables.region(spark, dir))
    liAgg.join(o, liAgg("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("rev")), 2).as("revenue"),
        sum(col("items")).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  def revenueByNationPreAggSql: String =
    """SELECT r_name, n_name,
      |  round(sum(rev), 2) AS revenue, sum(items)::BIGINT AS n_items
      |FROM (SELECT l_orderkey,
      |        sum(l_extendedprice * (1 - l_discount)) AS rev,
      |        count(*) AS items
      |      FROM lineitem GROUP BY l_orderkey) li
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** §2.8 top-k: Catalyst plans orderBy+limit as TakeOrderedAndProject —
    * per-partition heap then k-row merge on the driver; no total sort at
    * any scale. Deterministic tie-break on o_orderkey. */
  def topOrders(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("total"))
      .orderBy(col("total").desc, col("o_orderkey"))
      .limit(k)

  def topOrdersSql(k: Int = 10): String =
    s"""SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
       |FROM orders ORDER BY total DESC, o_orderkey LIMIT $k""".stripMargin

  /** J2 left-semi: customers that placed at least one order, counted per
    * nation. The semi join shuffles on the key but only ships the key
    * column of orders; nation is broadcast. */
  def activeCustomersByNation(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    val n = broadcast(Tables.nation(spark, dir))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .join(n, col("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("sum_acctbal"))
      .orderBy(col("n_name"))
  }

  def activeCustomersByNationSql: String =
    """SELECT n_name, count(*) AS n_customers,
      |  round(sum(c_acctbal), 2) AS sum_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE c_custkey IN (SELECT o_custkey FROM orders)
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** J2 left-anti: customers with no order above $400k, per market segment
    * (plain no-orders is empty in this data — every customer ordered). */
  def idleCustomersBySegment(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000).select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        round(avg(col("c_acctbal")), 4).as("avg_acctbal"))
      .orderBy(col("c_mktsegment"))
  }

  def idleCustomersBySegmentSql: String =
    """SELECT c_mktsegment, count(*) AS n_customers,
      |  round(avg(c_acctbal), 4) AS avg_acctbal
      |FROM customer
      |WHERE c_custkey NOT IN
      |  (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** A3 rollup: subtotal hierarchy over (returnflag, linestatus). Grouped-out
    * levels surface as '(all)' instead of NULL so parity sorting never
    * compares NULLs. */
  def lineitemRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
        col("n_items"), col("sum_qty"))
      .orderBy(col("returnflag"), col("linestatus"))

  def lineitemRollupSql: String =
    """SELECT coalesce(l_returnflag, '(all)') AS returnflag,
      |  coalesce(l_linestatus, '(all)') AS linestatus,
      |  count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** A3 cube over orders (status × priority). */
  def ordersCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_total"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("orderpriority"),
        col("n_orders"), col("sum_total"))
      .orderBy(col("orderstatus"), col("orderpriority"))

  def ordersCubeSql: String =
    """SELECT coalesce(o_orderstatus, '(all)') AS orderstatus,
      |  coalesce(o_orderpriority, '(all)') AS orderpriority,
      |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_total
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY orderstatus, orderpriority""".stripMargin

  /** A2 exact distinct counts per group (expand + two-phase hash agg). */
  def distinctPartsSupps(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag"))

  def distinctPartsSuppsSql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_items
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** §2.8 set ops: (AUTOMOBILE ∪ negative-balance) ∩ has-orders \
    * high-balance, on customer keys. */
  def setOpsCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val auto = c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey"))
    val neg  = c.filter(col("c_acctbal") < 0).select(col("c_custkey"))
    val rich = c.filter(col("c_acctbal") > 9000).select(col("c_custkey"))
    val withOrders = Tables.orders(spark, dir).select(col("o_custkey").as("c_custkey"))
    auto.union(neg).distinct()
      .intersect(withOrders)
      .except(rich)
      .orderBy(col("c_custkey"))
  }

  def setOpsCustomersSql: String =
    """SELECT c_custkey FROM (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      |  UNION
      |  SELECT c_custkey FROM customer WHERE c_acctbal < 0
      |) INTERSECT SELECT o_custkey FROM orders
      |EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal > 9000
      |ORDER BY c_custkey""".stripMargin

  /** TPC-H Q4 shape: late-lineitem orders per priority via left-semi. */
  def priorityWithLateItems(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-06-01").cast("timestamp"))
      .select(col("l_orderkey"))
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  def priorityWithLateItemsSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1999-01-01'
      |  AND o_orderkey IN (
      |    SELECT l_orderkey FROM lineitem
      |    WHERE l_shipdate >= TIMESTAMP '1997-06-01')
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** J4 range join: view→purchase conversions within 30 minutes, per user,
    * rolled up per day. The equi key (user_id) bounds the pair space —
    * Spark plans a sort-merge join on user_id with the range predicate as
    * a post-join filter, which is the scalable shape (a pure theta join
    * would be a nested-loop over everything). Timestamps compare at whole
    * seconds (ns-vs-µs parity, FIXTURES.md §B). */
  def viewToPurchase(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("epoch"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("epoch").as("view_epoch"), col("ts").as("view_ts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("epoch").as("buy_epoch"))
    v.join(p, Seq("user_id"))
      .filter(col("buy_epoch") > col("view_epoch") &&
        col("buy_epoch") <= col("view_epoch") + 1800)
      .select(to_date(col("view_ts")).as("day"),
        (col("buy_epoch") - col("view_epoch")).as("gap_sec"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_conversions"),
        round(avg(col("gap_sec")), 4).as("avg_gap_sec"))
      .orderBy(col("day"))
  }

  def viewToPurchaseSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, floor(epoch(ts))::BIGINT AS epoch, ts
      |  FROM events
      |)
      |SELECT v.ts::DATE AS day, count(*) AS n_conversions,
      |  round(avg(p.epoch - v.epoch), 4) AS avg_gap_sec
      |FROM e v JOIN e p ON v.user_id = p.user_id
      |  AND p.epoch > v.epoch AND p.epoch <= v.epoch + 1800
      |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
      |GROUP BY 1 ORDER BY day""".stripMargin

  /** J4+ as-of join: every view event paired with the LATEST purchase by
    * the same user at-or-before it (null when none) — the
    * nearest-preceding-match operator Spark lacks natively.
    *
    * Composed Spark-first instead of a range join: both sides are tagged
    * and unioned, then one running `last(ignoreNulls)` over
    * (user_id | epoch, side) picks each view's preceding purchase. ONE
    * shuffle on user_id + an in-partition sort — per-key state is a
    * single running value, versus the range join's candidate pairs. At
    * 100 TB this is the shape as-of engines use (sort both sides once,
    * merge); a time-bounded range join would re-scan every purchase
    * within the window per view.
    *
    * Cross-engine discipline: the as-of key is whole-second epoch
    * (ns-vs-µs parity, FIXTURES.md §B); purchases collapse to
    * max(value) per (user, second) first so ties inside one second are
    * deterministic; `side` orders purchases before views within a second
    * → the join is INCLUSIVE (v.epoch >= p.epoch), matching DuckDB's
    * native ASOF JOIN semantics the oracle runs. */
  def asofViewPurchase(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("epoch"), col("value"))
    val v = e.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("epoch"))
    val p = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("epoch"))
      .agg(max(col("value")).as("p_value"))
    val tagged = p
      .select(col("user_id"), col("epoch"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"), col("p_value"))
      .unionByName(v.select(col("user_id"), col("epoch"), lit(1).as("side"),
        col("event_id"), lit(null).cast("double").as("p_value")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("epoch"), col("side"))
      .rowsBetween(Long.MinValue, 0)
    tagged
      .withColumn("asof_value", last(col("p_value"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"),
        col("epoch").as("view_epoch"), col("asof_value"))
      .orderBy(col("event_id"))
  }

  def asofViewPurchaseSql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type,
      |    floor(epoch(ts))::BIGINT AS epoch, value
      |  FROM events
      |), v AS (
      |  SELECT event_id, user_id, epoch FROM e WHERE event_type = 'view'
      |), p AS (
      |  SELECT user_id, epoch, max(value) AS p_value
      |  FROM e WHERE event_type = 'purchase' GROUP BY 1, 2
      |)
      |SELECT v.event_id, v.user_id, v.epoch AS view_epoch,
      |  p.p_value AS asof_value
      |FROM v ASOF LEFT JOIN p
      |  ON v.user_id = p.user_id AND v.epoch >= p.epoch
      |ORDER BY v.event_id""".stripMargin

  /** A3 GROUPING SETS via SQL on a registered view — exercises the SQL
    * entry path (`spark.sql`) alongside the DataFrame API. */
  def docGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir).createOrReplaceTempView("graft_documents")
    spark.sql(
      """SELECT coalesce(lang, '(all)') AS lang,
        |  coalesce(source, '(all)') AS source,
        |  count(*) AS n_docs, sum(n_chars) AS sum_chars
        |FROM graft_documents
        |GROUP BY GROUPING SETS ((lang, source), (lang), ())
        |ORDER BY lang, source""".stripMargin)
  }

  def docGroupingSetsSql: String =
    """SELECT coalesce(lang, '(all)') AS lang,
      |  coalesce(source, '(all)') AS source,
      |  count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
      |FROM documents
      |GROUP BY GROUPING SETS ((lang, source), (lang), ())
      |ORDER BY lang, source""".stripMargin

  /** J1 left-outer: per segment, customers vs their high-value orders —
    * the filtered right side leaves genuinely unmatched customers, so the
    * null path is exercised (count(col) skips nulls in both engines). */
  def customerOrderCoverage(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 300000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_mktsegment"))
      .agg(
        countDistinct(col("c_custkey")).as("n_customers"),
        countDistinct(col("o_custkey")).as("n_with_big_orders"),
        count(col("o_orderkey")).as("n_big_orders"))
      .orderBy(col("c_mktsegment"))
  }

  def customerOrderCoverageSql: String =
    """SELECT c_mktsegment,
      |  count(DISTINCT c_custkey) AS n_customers,
      |  count(DISTINCT o_custkey) AS n_with_big_orders,
      |  count(o_orderkey) AS n_big_orders
      |FROM customer LEFT OUTER JOIN
      |  (SELECT * FROM orders WHERE o_totalprice > 300000) o
      |  ON c_custkey = o_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** J1 full-outer: nations × supplier presence — unmatched rows can come
    * from either side (nations with no supplier; suppliers with a nation
    * key outside the nation table would also surface). */
  def nationSupplierCoverage(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val s = Tables.supplier(spark, dir)
    n.join(s, n("n_nationkey") === s("s_nationkey"), "full_outer")
      .groupBy(coalesce(col("n_name"), lit("(unknown)")).as("nation"))
      .agg(count(col("s_suppkey")).as("n_suppliers"),
        round(coalesce(sum(col("s_acctbal")), lit(0.0)), 2).as("sum_acctbal"))
      .orderBy(col("nation"))
  }

  def nationSupplierCoverageSql: String =
    """SELECT coalesce(n_name, '(unknown)') AS nation,
      |  count(s_suppkey) AS n_suppliers,
      |  round(coalesce(sum(s_acctbal), 0.0), 2) AS sum_acctbal
      |FROM nation FULL OUTER JOIN supplier ON n_nationkey = s_nationkey
      |GROUP BY 1 ORDER BY nation""".stripMargin

  /** A1 pivot: doc counts per source × language — Spark's `pivot()`
    * relational operator; the oracle twin is the equivalent conditional
    * aggregation (identical column names by construction). */
  def docsPivotByLang(spark: SparkSession, dir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .pivot("lang", langs)
      .count()
      .na.fill(0L, langs)
      .orderBy(col("source"))
  }

  def docsPivotByLangSql: String =
    """SELECT source,
      |  count(*) FILTER (lang = 'de') AS de,
      |  count(*) FILTER (lang = 'en') AS en,
      |  count(*) FILTER (lang = 'es') AS es,
      |  count(*) FILTER (lang = 'fr') AS fr,
      |  count(*) FILTER (lang = 'zh') AS zh
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** A1 statistical aggregates: exact interpolated percentiles, sample
    * stddev/variance, correlation — per event type. Floats rounded at 4
    * (aggregation order differs between engines). */
  def eventValueStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        unix_timestamp(col("ts")).cast("double").as("epoch"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(stddev_samp(col("value")), 4).as("sd"),
        round(var_samp(col("value")), 4).as("variance"),
        round(corr(col("value"), col("epoch")), 4).as("corr_value_time"))
      .orderBy(col("event_type"))

  def eventValueStatsSql: String =
    """SELECT event_type, count(*) AS n,
      |  round(quantile_cont(value, 0.5), 4) AS p50,
      |  round(quantile_cont(value, 0.9), 4) AS p90,
      |  round(stddev_samp(value), 4) AS sd,
      |  round(var_samp(value), 4) AS variance,
      |  round(corr(value, floor(epoch(ts))), 4) AS corr_value_time
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** A2 approximate distinct (HLL++): per-type exact unique users plus an
    * integer assertion that this engine's OWN HLL sketch lands within 4·rsd
    * (20% at the default rsd=5%) of exact. The raw sketch estimate is
    * engine-specific (Spark HLL++ vs DuckDB HLL disagree by design), so it
    * stays OUT of the hashed output; what IS hashed — and what both engines
    * must agree on — is the exact counts and the 0/1 "sketch inside its
    * error budget" verdict. 4·rsd is the same budget the property suite
    * treats as "deterministic in practice" (PropertySpec), so any healthy
    * sketch yields 1 on both engines at any SF; the sketch value itself is
    * covered by the rsd-bound property test. */
  def approxDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    approxDistinctUsersFull(spark, dir)
      .select(col("event_type"), col("exact_users"), col("n_events"),
        when(abs(col("approx_users") - col("exact_users")) * 100 <=
          col("exact_users") * 20, 1L).otherwise(0L).as("approx_within_bound"))
      .orderBy(col("event_type"))

  /** The raw sketch estimate alongside exact — the spec surface (rsd-bound
    * property tests read `approx_users`; the hashed q34 output doesn't). */
  def approxDistinctUsersFull(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  def approxDistinctUsersSql: String =
    """SELECT event_type,
      |  count(DISTINCT user_id)::BIGINT AS exact_users,
      |  count(*) AS n_events,
      |  (CASE WHEN abs(approx_count_distinct(user_id)
      |                 - count(DISTINCT user_id)) * 100
      |             <= count(DISTINCT user_id) * 20
      |        THEN 1 ELSE 0 END)::BIGINT AS approx_within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Referential-integrity audit (q137): orphan counts for every foreign
    * key in the star schema — lineitem→orders, lineitem→part,
    * lineitem→supplier, orders→customer, customer→nation,
    * supplier→nation, nation→region — the dbt-style freshness/quality
    * gate a warehouse runs after every load: child rows, distinct child
    * keys, orphan rows (no parent), distinct orphan keys. All zeros on a
    * consistent load; a nonzero row names the broken relationship
    * BEFORE a join silently drops (inner) or null-pads (outer) it.
    *
    * Scale posture: every child table crosses the cluster ONCE — the
    * fact table's three FK legs fan out of a single scan via `stack`
    * into one (relationship, key) stream, dim children append theirs,
    * and the stream collapses to a (relationship, key, cnt) histogram
    * with map-side combine BEFORE the single left join against the
    * unioned-and-distinct parent-key table. Child histogram, parent
    * distinct, and join all hash on (relationship, key), so the join
    * reuses both sides' Exchanges, and the final 7-row fold is plain
    * sums over the joined histogram — no countDistinct, so no Expand
    * ever multiplies the stream. Versus the per-leg formulation this
    * replaces 7 join stages (3 of them re-shuffling the same fact
    * projection on a different FK each, each paying a 3× distinct-agg
    * Expand) with one join and two ordinary aggregates. */
  /** Relationship codes for [[integrityAudit]]'s hot path: the string
    * name never enters a shuffle or a hash-agg key — rows carry a 0..6
    * integer and the 7-row tail maps codes back to names. */
  private val FkRelationships = Seq(
    "customer->nation", "lineitem->orders", "lineitem->part",
    "lineitem->supplier", "nation->region", "orders->customer",
    "supplier->nation")

  def integrityAudit(spark: SparkSession, dir: String): DataFrame = {
    val code = FkRelationships.zipWithIndex.toMap
    def pairs(name: String, child: DataFrame, childKey: String): DataFrame =
      child.select(lit(code(name)).as("rel"),
        col(childKey).cast("long").as("k"))
    def parentKeys(name: String, parent: DataFrame, pk: String): DataFrame =
      parent.select(lit(code(name)).as("rel"), col(pk).cast("long").as("k"))
    // one fact scan emits all three FK streams (keys share the BIGINT
    // grid, so the stack is type-uniform)
    val li = Tables.lineitem(spark, dir).selectExpr(
      s"stack(3, " +
        s"${code("lineitem->orders")}, cast(l_orderkey as bigint), " +
        s"${code("lineitem->part")}, cast(l_partkey as bigint), " +
        s"${code("lineitem->supplier")}, cast(l_suppkey as bigint)) " +
        "as (rel, k)")
    val children = Seq(
      pairs("customer->nation", Tables.customer(spark, dir), "c_nationkey"),
      li,
      pairs("nation->region", Tables.nation(spark, dir), "n_regionkey"),
      pairs("orders->customer", Tables.orders(spark, dir), "o_custkey"),
      pairs("supplier->nation", Tables.supplier(spark, dir), "s_nationkey"))
      .reduce(_ unionByName _)
    // ROUND-18 SHAVE (§2.4 remove shuffles outright): child keys and
    // parent keys used to flow through SEPARATE aggregations (children:
    // partial+Exchange+final on (rel,k); parents: their own
    // distinct Exchange + BroadcastExchange) and met in a left join.
    // All of it is one clustering problem on (rel,k), so both streams
    // now ride ONE union tagged by `w` (1 = child row, 0 = parent row)
    // through ONE map-side-combinable aggregation: cnt = sum(w) counts
    // child rows, hit = max(1 - w) marks keys with at least one parent
    // row (dup parent PKs — exactly what the audit must survive —
    // collapse into the same max, mirroring the SQL twin's DISTINCT),
    // and parent-only keys (cnt = 0) drop before the per-rel fold.
    // Plan diff: 4 Exchanges + BroadcastHashJoin -> 3 Exchanges, no
    // join; the 7 parent scans shuffle once instead of aggregating
    // twice. Orphan semantics unchanged: orphan iff no parent row
    // shares (rel,k). NULL keys follow the twin's LEFT JOIN: a NULL
    // parent key matches nothing (dropped here), and a NULL child key is
    // an orphan row but not a key (count(k) and the orphan-key sum skip
    // it).
    val parents = Seq(
      parentKeys("customer->nation", Tables.nation(spark, dir), "n_nationkey"),
      parentKeys("lineitem->orders", Tables.orders(spark, dir), "o_orderkey"),
      parentKeys("lineitem->part", Tables.part(spark, dir), "p_partkey"),
      parentKeys("lineitem->supplier", Tables.supplier(spark, dir), "s_suppkey"),
      parentKeys("nation->region", Tables.region(spark, dir), "r_regionkey"),
      parentKeys("orders->customer", Tables.customer(spark, dir), "c_custkey"),
      parentKeys("supplier->nation", Tables.nation(spark, dir), "n_nationkey"))
      .reduce(_ unionByName _)
      .filter(col("k").isNotNull)
    val nameOf = FkRelationships.zipWithIndex
      .map { case (n, i) => s"WHEN $i THEN '$n'" }.mkString(" ")
    children.withColumn("w", lit(1L))
      .unionByName(parents.withColumn("w", lit(0L)))
      .groupBy(col("rel"), col("k"))
      .agg(sum(col("w")).as("cnt"), max(lit(1L) - col("w")).as("hit"))
      .filter(col("cnt") > 0)
      .groupBy(col("rel"))
      .agg(sum(col("cnt")).as("n_child_rows"),
        count(col("k")).as("n_child_keys"),
        sum(when(col("hit") === 0L, col("cnt")).otherwise(0L))
          .as("n_orphan_rows"),
        sum(when(col("hit") === 0L && col("k").isNotNull, 1L).otherwise(0L))
          .as("n_orphan_keys"))
      .select(expr(s"CASE rel $nameOf END").as("relationship"),
        col("n_child_rows"), col("n_child_keys"),
        col("n_orphan_rows"), col("n_orphan_keys"))
      .orderBy(col("relationship"))
  }

  /** RFM customer segmentation (q176): every customer scored 1..4 on
    * Recency (days since last order, lower = better), Frequency (order
    * count) and Monetary (lifetime spend), then rolled up per
    * (segment, r, f, m) cell — the standard marketing-segmentation
    * table (Hughes 1994) and the relational twin of the corpus-side
    * source elections: "which customers do we re-engage" is the same
    * shape as "which sources do we re-crawl". Quartile cutoffs are
    * EXACT histogram elections (the q132 integer-rank device), not
    * ntile: a corpus-wide ntile would single-task-sort every customer,
    * while the histogram election never windows more than the metric's
    * value grid. Score semantics: cutoff c_p = min value whose
    * cumulative customer count reaches ⌈p·n/100⌉; score = 1 + #cutoffs
    * strictly exceeded (recency mirrored so fresher = higher). Ties
    * share a score — deterministic and engine-independent, no
    * row_number tie-break needed.
    *
    * Scale posture: orders collapse ONCE to the per-customer (last
    * date, count, cents) rollup with map-side combine (PlanCache'd —
    * the histogram pass and the scoring pass both read it); the
    * reference date is a broadcast 1-row scalar; the three metric
    * histograms ride one stack() projection of the rollup and window
    * only grid-sized rows (recency = days, frequency = small ints,
    * monetary on the whole-dollar grid so the histogram is
    * price-range-bounded, not customer-bounded); the 9 cutoffs
    * broadcast back as one row. Cents ride the exact
    * round(price·100) integer grid end-to-end. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cust = graft.PlanCache.cached(spark, s"relational.rfmCust:$dir") {
      Tables.orders(spark, dir)
        .groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_date"),
          count(lit(1)).as("freq"),
          sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("cents"))
    }
    val ref = cust.agg(max(col("last_date")).as("ref_date"))
    val base = cust.crossJoin(broadcast(ref))
      .select(col("o_custkey"),
        datediff(col("ref_date"), col("last_date")).cast("long").as("r_days"),
        col("freq"), col("cents"), expr("cents div 100").as("dollars"))
    val byM = Window.partitionBy(col("metric"))
    val cumW = byM.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cuts = base
      .selectExpr("stack(3, 0, r_days, 1, freq, 2, dollars) as (metric, v)")
      .groupBy(col("metric"), col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .withColumn("n", sum(col("cnt")).over(byM))
      .select(col("metric"), col("v"),
        explode(array(Seq(25, 50, 75).map(p => lit(p.toLong)): _*)).as("pct"),
        col("cum"), col("n"))
      .filter(col("cum") >= expr("(pct * n + 99) div 100"))
      .groupBy(col("metric"), col("pct")).agg(min(col("v")).as("cv"))
    def cut(m: Int, p: Int) =
      min(when(col("metric") === m && col("pct") === p, col("cv")))
    val w = cuts.agg(
      cut(0, 25).as("r25"), cut(0, 50).as("r50"), cut(0, 75).as("r75"),
      cut(1, 25).as("f25"), cut(1, 50).as("f50"), cut(1, 75).as("f75"),
      cut(2, 25).as("m25"), cut(2, 50).as("m50"), cut(2, 75).as("m75"))
    def gt(v: String, c: String) =
      when(col(v) > col(c), 1L).otherwise(0L)
    base.crossJoin(broadcast(w))
      .select(
        (lit(4L) - gt("r_days", "r25") - gt("r_days", "r50") -
          gt("r_days", "r75")).as("r_score"),
        (lit(1L) + gt("freq", "f25") + gt("freq", "f50") +
          gt("freq", "f75")).as("f_score"),
        (lit(1L) + gt("dollars", "m25") + gt("dollars", "m50") +
          gt("dollars", "m75")).as("m_score"),
        col("freq"), col("cents"))
      .groupBy(
        expr("CASE WHEN r_score >= 3 AND f_score >= 3 THEN 'a_loyal' " +
          "WHEN r_score >= 3 THEN 'b_recent' " +
          "WHEN f_score >= 3 THEN 'c_at_risk' " +
          "ELSE 'd_hibernating' END").as("segment"),
        col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("freq")).as("n_orders"),
        sum(col("cents")).as("cents"))
      .orderBy(col("segment"), col("r_score"), col("f_score"),
        col("m_score"))
  }

  def rfmSegmentsSql: String =
    """WITH cust AS (
      |  SELECT o_custkey, max(o_orderdate::DATE) AS last_date,
      |    count(*)::BIGINT AS freq,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
      |  FROM orders GROUP BY 1
      |), ref AS (SELECT max(last_date) AS ref_date FROM cust
      |), base AS (
      |  SELECT o_custkey,
      |    date_diff('day', last_date, ref.ref_date)::BIGINT AS r_days,
      |    freq, cents, cents // 100 AS dollars
      |  FROM cust CROSS JOIN ref
      |), m AS (
      |  SELECT 0 AS metric, r_days AS v FROM base
      |  UNION ALL SELECT 1, freq FROM base
      |  UNION ALL SELECT 2, dollars FROM base
      |), h AS (
      |  SELECT metric, v, count(*)::BIGINT AS cnt FROM m GROUP BY 1, 2
      |), c AS (
      |  SELECT metric, v,
      |    sum(cnt) OVER (PARTITION BY metric ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(cnt) OVER (PARTITION BY metric) AS n
      |  FROM h
      |), x AS (
      |  SELECT c.metric, c.v, p.pct FROM c
      |  CROSS JOIN (SELECT unnest([25, 50, 75]) AS pct) p
      |  WHERE c.cum >= (p.pct * c.n + 99) // 100
      |), cut AS (
      |  SELECT metric, pct, min(v) AS cv FROM x GROUP BY 1, 2
      |), w AS (
      |  SELECT
      |    min(CASE WHEN metric = 0 AND pct = 25 THEN cv END) AS r25,
      |    min(CASE WHEN metric = 0 AND pct = 50 THEN cv END) AS r50,
      |    min(CASE WHEN metric = 0 AND pct = 75 THEN cv END) AS r75,
      |    min(CASE WHEN metric = 1 AND pct = 25 THEN cv END) AS f25,
      |    min(CASE WHEN metric = 1 AND pct = 50 THEN cv END) AS f50,
      |    min(CASE WHEN metric = 1 AND pct = 75 THEN cv END) AS f75,
      |    min(CASE WHEN metric = 2 AND pct = 25 THEN cv END) AS m25,
      |    min(CASE WHEN metric = 2 AND pct = 50 THEN cv END) AS m50,
      |    min(CASE WHEN metric = 2 AND pct = 75 THEN cv END) AS m75
      |  FROM cut
      |), scored AS (
      |  SELECT
      |    4 - (CASE WHEN r_days > w.r25 THEN 1 ELSE 0 END
      |       + CASE WHEN r_days > w.r50 THEN 1 ELSE 0 END
      |       + CASE WHEN r_days > w.r75 THEN 1 ELSE 0 END)::BIGINT AS r_score,
      |    1 + (CASE WHEN freq > w.f25 THEN 1 ELSE 0 END
      |       + CASE WHEN freq > w.f50 THEN 1 ELSE 0 END
      |       + CASE WHEN freq > w.f75 THEN 1 ELSE 0 END)::BIGINT AS f_score,
      |    1 + (CASE WHEN dollars > w.m25 THEN 1 ELSE 0 END
      |       + CASE WHEN dollars > w.m50 THEN 1 ELSE 0 END
      |       + CASE WHEN dollars > w.m75 THEN 1 ELSE 0 END)::BIGINT AS m_score,
      |    freq, cents
      |  FROM base CROSS JOIN w
      |)
      |SELECT CASE WHEN r_score >= 3 AND f_score >= 3 THEN 'a_loyal'
      |    WHEN r_score >= 3 THEN 'b_recent'
      |    WHEN f_score >= 3 THEN 'c_at_risk'
      |    ELSE 'd_hibernating' END AS segment,
      |  r_score, f_score, m_score,
      |  count(*)::BIGINT AS n_customers,
      |  sum(freq)::BIGINT AS n_orders, sum(cents)::BIGINT AS cents
      |FROM scored GROUP BY 1, 2, 3, 4
      |ORDER BY segment, r_score, f_score, m_score""".stripMargin

  /** Benford-law expected first-digit shares in basis points:
    * round(log10(1 + 1/d) · 10⁴) for d = 1..9 — constants, so no log
    * ever crosses engines. */
  private val BenfordBp: Seq[Int] =
    Seq(3010, 1761, 1249, 969, 792, 669, 580, 512, 458)

  /** Benford first-digit audit (q181): the observed leading-digit
    * distribution of the two money columns (`o_totalprice`,
    * `l_extendedprice`) against Benford's law (Benford 1938; Hill 1995)
    * — the classic books-integrity screen: organically-sized amounts
    * follow log10(1+1/d), while fabricated, capped, or unit-mangled
    * data shows up as a flat or spiked digit profile. Per (measure,
    * digit): count, observed share bp, expected bp and the signed
    * deviation. Digits are taken from the EXACT cents grid
    * (round(·100) → BIGINT → first character), which is leading-digit
    * invariant under the ×100 shift, so no float, log, or locale
    * formatting crosses engines.
    *
    * Scale posture: two narrow column scans collapse map-side to ≤9
    * rows each; the expected table is a CASE constant; totals are a
    * per-measure window over ≤9 rows. At 100 TB this is the cheapest
    * possible shape — a projection and a 9-key combine. */
  /** The (measure, leading-digit, count) cells q181 and q262 share —
    * PlanCache'd: the audit and the goodness-of-fit verdict read the
    * same two money-column scans. */
  private def benfordCells(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(spark, s"relational.benfordCells:$dir") {
      def leg(measure: String, df: DataFrame, priceCol: String): DataFrame =
        df.select(lit(measure).as("measure"),
          expr(s"substring(cast(cast(round($priceCol * 100) as bigint) " +
            "as string), 1, 1)").as("digit"))
          .filter(col("digit") =!= "0" && col("digit") =!= "-")
          .groupBy(col("measure"), col("digit"))
          .agg(count(lit(1)).as("n_values"))
      leg("l_extendedprice", Tables.lineitem(spark, dir), "l_extendedprice")
        .unionByName(leg("o_totalprice", Tables.orders(spark, dir),
          "o_totalprice"))
    }

  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = benfordCells(spark, dir)
    val expected = BenfordBp.zipWithIndex
      .map { case (bp, i) => s"WHEN '${i + 1}' THEN ${bp}L" }
      .mkString("CASE digit ", " ", " END")
    cells
      .withColumn("n_total",
        sum(col("n_values")).over(Window.partitionBy(col("measure"))))
      .select(col("measure"), col("digit"), col("n_values"),
        expr("n_values * 10000 div n_total").as("obs_bp"),
        expr(expected).as("benford_bp"))
      .withColumn("dev_bp", col("obs_bp") - col("benford_bp"))
      .orderBy(col("measure"), col("digit"))
  }

  def benfordAuditSql: String = {
    val expected = BenfordBp.zipWithIndex
      .map { case (bp, i) => s"WHEN '${i + 1}' THEN $bp" }
      .mkString("CASE digit ", " ", " END")
    s"""WITH v AS (
       |  SELECT 'l_extendedprice' AS measure,
       |    substr(CAST(round(l_extendedprice * 100) AS BIGINT)::VARCHAR, 1, 1)
       |      AS digit
       |  FROM lineitem
       |  UNION ALL
       |  SELECT 'o_totalprice',
       |    substr(CAST(round(o_totalprice * 100) AS BIGINT)::VARCHAR, 1, 1)
       |  FROM orders
       |), cells AS (
       |  SELECT measure, digit, count(*)::BIGINT AS n_values
       |  FROM v WHERE digit NOT IN ('0', '-') GROUP BY 1, 2
       |), t AS (
       |  SELECT *, sum(n_values) OVER (PARTITION BY measure) AS n_total
       |  FROM cells
       |)
       |SELECT measure, digit, n_values,
       |  (n_values * 10000 // n_total)::BIGINT AS obs_bp,
       |  ($expected)::BIGINT AS benford_bp,
       |  (n_values * 10000 // n_total)::BIGINT - ($expected)::BIGINT AS dev_bp
       |FROM t ORDER BY measure, digit""".stripMargin
  }

  /** X188 Benford goodness-of-fit verdict (q262): q181 SHOWS the
    * per-digit deviations; this one JUDGES them — per money column,
    * the Pearson χ² against the Benford expectation over the dense
    * 1-9 digit grid (absent digits count as observed 0, which is
    * itself strong evidence) plus Nigrini's mean-absolute-deviation
    * conformity bands (Nigrini 2012: MAD < 60 bp close, < 120
    * acceptable, < 150 marginal, else nonconforming — the forensic-
    * accounting standard read). χ² in exact milli fixed point: per
    * digit, dev = O·10⁴ − N·bp, contrib = 1000·dev² div (10⁴·N·bp),
    * judged against the Pearson table at df = 8; MAD = ⌊Σ|obs_bp −
    * benford_bp|/9⌋ over exactly the floored bp q181 prints, so the
    * two tables reconcile by eye.
    *
    * Domain bound: dev² ≤ 10⁸·N² rides decimal(38,0)/HUGEINT — exact
    * while a measure holds ≲ 10¹³ values.
    *
    * Scale posture: rides the PlanCache'd q181 digit cells (two
    * column scans, map-side combinable); the dense grid, χ² and MAD
    * are arithmetic on ≤18 rows; 2 output rows. */
  def benfordGof(spark: SparkSession, dir: String): DataFrame = {
    val cells = benfordCells(spark, dir)
    val tots = cells.groupBy(col("measure"))
      .agg(sum(col("n_values")).as("n_total"))
    val expected = BenfordBp.zipWithIndex
      .map { case (bp, i) => s"WHEN ${i + 1} THEN ${bp}L" }
      .mkString("CASE d ", " ", " END")
    tots
      .select(col("measure"), col("n_total"),
        explode(expr("sequence(1, 9)")).as("d"))
      .join(cells.withColumn("d", col("digit").cast("int")),
        Seq("measure", "d"), "left")
      .select(col("measure"), col("n_total"), col("d"),
        coalesce(col("n_values"), lit(0L)).as("o"),
        expr(expected).as("bp"))
      .withColumn("contrib_milli", expr(
        "cast(cast(1000 as decimal(38,0)) * " +
          "(o * 10000 - n_total * bp) * (o * 10000 - n_total * bp) div " +
          "(cast(10000 as decimal(38,0)) * n_total * bp) as bigint)"))
      .withColumn("absdev_bp", expr(
        "abs(o * 10000 div n_total - bp)"))
      .groupBy(col("measure"))
      .agg(max(col("n_total")).as("n_values"),
        sum(col("contrib_milli")).as("chi2_milli"),
        sum(col("absdev_bp")).as("sad_bp"))
      .withColumn("mad_bp", expr("sad_bp div 9"))
      .select(col("measure"), col("n_values"), col("chi2_milli"),
        lit(8L).as("df"),
        (col("chi2_milli") >= lit(Chi2Crit95(7))).as("significant_95"),
        (col("chi2_milli") >= lit(Chi2Crit99(7))).as("significant_99"),
        col("mad_bp"),
        expr("CASE WHEN mad_bp < 60 THEN 'a_close' " +
          "WHEN mad_bp < 120 THEN 'b_acceptable' " +
          "WHEN mad_bp < 150 THEN 'c_marginal' " +
          "ELSE 'd_nonconforming' END").as("conformity"))
      .orderBy(col("measure"))
  }

  def benfordGofSql: String = {
    val expected = BenfordBp.zipWithIndex
      .map { case (bp, i) => s"WHEN ${i + 1} THEN $bp" }
      .mkString("CASE g.d ", " ", " END")
    s"""WITH v AS (
       |  SELECT 'l_extendedprice' AS measure,
       |    substr(CAST(round(l_extendedprice * 100) AS BIGINT)::VARCHAR, 1, 1)
       |      AS digit
       |  FROM lineitem
       |  UNION ALL
       |  SELECT 'o_totalprice',
       |    substr(CAST(round(o_totalprice * 100) AS BIGINT)::VARCHAR, 1, 1)
       |  FROM orders
       |), cells AS (
       |  SELECT measure, digit, count(*)::BIGINT AS n_values
       |  FROM v WHERE digit NOT IN ('0', '-') GROUP BY 1, 2
       |), tots AS (
       |  SELECT measure, sum(n_values)::BIGINT AS n_total
       |  FROM cells GROUP BY 1
       |), grid AS (
       |  SELECT t.measure, t.n_total, g.d,
       |    coalesce(c.n_values, 0)::BIGINT AS o,
       |    ($expected)::BIGINT AS bp
       |  FROM tots t
       |  CROSS JOIN (SELECT unnest(range(1, 10))::BIGINT AS d) g
       |  LEFT JOIN cells c ON c.measure = t.measure AND c.digit = g.d::VARCHAR
       |), contrib AS (
       |  SELECT measure, n_total, d, o, bp,
       |    (1000::HUGEINT * (o * 10000 - n_total::HUGEINT * bp)
       |      * (o * 10000 - n_total::HUGEINT * bp)
       |      // (10000::HUGEINT * n_total * bp))::BIGINT AS contrib_milli,
       |    abs(o * 10000 // n_total - bp)::BIGINT AS absdev_bp
       |  FROM grid
       |)
       |SELECT measure, max(n_total)::BIGINT AS n_values,
       |  sum(contrib_milli)::BIGINT AS chi2_milli,
       |  8::BIGINT AS df,
       |  sum(contrib_milli) >= ${Chi2Crit95(7)} AS significant_95,
       |  sum(contrib_milli) >= ${Chi2Crit99(7)} AS significant_99,
       |  (sum(absdev_bp) // 9)::BIGINT AS mad_bp,
       |  CASE WHEN sum(absdev_bp) // 9 < 60 THEN 'a_close'
       |    WHEN sum(absdev_bp) // 9 < 120 THEN 'b_acceptable'
       |    WHEN sum(absdev_bp) // 9 < 150 THEN 'c_marginal'
       |    ELSE 'd_nonconforming' END AS conformity
       |FROM contrib GROUP BY measure ORDER BY measure""".stripMargin
  }

  /** X189 order-backlog audit (q263): the end-of-day open-lineitem
    * backlog series rolled to per-year operating stats, with the
    * Little's-law implied wait (Little 1961: L = λW, so W = L/λ —
    * average backlog over average daily arrivals). q223 prices the
    * SLA tail and q253/q257 test whether priorities differ; this is
    * the CAPACITY read: how much work sits open, when it peaked, and
    * the wait the backlog level implies — the number a fulfillment
    * planner actually staffs against. Each lineitem enters the
    * backlog on its order date and leaves on its ship date (+1/−1
    * deltas; a data-artifact ship-before-order lag, cf. q253's
    * negative lag range, dips the running sum negative — min_backlog
    * surfaces exactly that instead of hiding it). implied_wait =
    * Σbacklog·1000 div arrivals — the L/λ algebra collapses to one
    * exact division per year.
    *
    * Scale posture: ONE corpus join+collapse to ≤|days| (day, net)
    * cells (map-side combinable, sentinel zero-days from the span
    * scalar); the running backlog is the q233 TWO-LEVEL prefix sum —
    * a within-year window (≤366 rows per partition, never
    * SinglePartition) plus per-year entering offsets via the
    * broadcast ≤|years|-row triangle; ≤|years| output rows. */
  def orderBacklog(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = graft.PlanCache.cached(spark, s"relational.backlogSpans:$dir") {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"),
          expr("cast(datediff(to_date(l_shipdate), date'1970-01-01') " +
            "as bigint)").as("sday"))
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"),
            expr("cast(datediff(to_date(o_orderdate), date'1970-01-01') " +
              "as bigint)").as("aday")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("aday"), col("sday"))
    }
    val bounds = spans.agg(least(min(col("aday")), min(col("sday")))
        .as("d_lo"),
      greatest(max(col("aday")), max(col("sday"))).as("d_hi"))
    val deltas = spans.select(explode(expr(
      "array(named_struct('d', aday, 'net', 1L), " +
        "named_struct('d', sday, 'net', -1L))")).as("e"))
      .select(col("e.d").as("d"), col("e.net").as("net"))
    val sentinels = bounds
      .select(explode(expr("sequence(d_lo, d_hi)")).as("d"))
      .select(col("d"), lit(0L).as("net"))
    val cells = deltas.unionByName(sentinels)
      .groupBy(col("d")).agg(sum(col("net")).as("net"))
      .withColumn("yr", expr(
        "year(date_add(date'1970-01-01', cast(d as int)))"))
    val wd = Window.partitionBy(col("yr")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val yearNet = cells.groupBy(col("yr")).agg(sum(col("net")).as("ynet"))
    val prior = yearNet.select(col("yr").as("y2"), col("ynet").as("n2"))
    val offsets = yearNet
      .join(graft.PlanAudit.Bounded
        .broadcastBounded("q263_order_backlog.prior_years", prior, 4096L),
        col("y2") < col("yr"), "left")
      .groupBy(col("yr"))
      .agg(coalesce(sum(col("n2")), lit(0L)).as("entering"))
    val series = cells.withColumn("wcum", sum(col("net")).over(wd))
      .join(broadcast(offsets), Seq("yr"))
      .select(col("yr"), col("d"), (col("wcum") + col("entering"))
        .as("backlog"))
    val perYear = series.groupBy(col("yr"))
      .agg(count(lit(1)).as("n_days"), sum(col("backlog")).as("sum_backlog"),
        max(struct(col("backlog").as("b"), (lit(0L) - col("d")).as("negd")))
          .as("pk"),
        min(col("backlog")).as("min_backlog"))
    val arr = spans.groupBy(expr(
      "year(date_add(date'1970-01-01', cast(aday as int)))").as("yr"))
      .agg(count(lit(1)).as("arrivals"))
    val dep = spans.groupBy(expr(
      "year(date_add(date'1970-01-01', cast(sday as int)))").as("yr"))
      .agg(count(lit(1)).as("departures"))
    perYear
      .join(arr, Seq("yr"), "left")
      .join(dep, Seq("yr"), "left")
      .select(col("yr").cast("long").as("year"), col("n_days"),
        coalesce(col("arrivals"), lit(0L)).as("arrivals"),
        coalesce(col("departures"), lit(0L)).as("departures"),
        expr("CASE WHEN sum_backlog >= 0 THEN sum_backlog * 1000 div " +
          "n_days ELSE 0L - ((0L - sum_backlog) * 1000 div n_days) END")
          .as("avg_backlog_milli"),
        col("pk.b").as("peak_backlog"),
        expr("date_add(date'1970-01-01', cast(0 - pk.negd as int))")
          .as("peak_day"),
        col("min_backlog"),
        expr("CASE WHEN coalesce(arrivals, 0L) > 0 THEN " +
          "CASE WHEN sum_backlog >= 0 THEN sum_backlog * 1000 div arrivals " +
          "ELSE 0L - ((0L - sum_backlog) * 1000 div arrivals) END " +
          "ELSE 0L END").as("implied_wait_days_milli"))
      .orderBy(col("year"))
  }

  def orderBacklogSql: String =
    """WITH spans AS (
      |  SELECT (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS aday,
      |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT AS sday
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |), bounds AS (
      |  SELECT least(min(aday), min(sday)) AS d_lo,
      |    greatest(max(aday), max(sday)) AS d_hi
      |  FROM spans
      |), deltas AS (
      |  SELECT aday AS d, 1::BIGINT AS net FROM spans
      |  UNION ALL
      |  SELECT sday, -1::BIGINT FROM spans
      |  UNION ALL
      |  SELECT unnest(range(d_lo, d_hi + 1))::BIGINT, 0::BIGINT FROM bounds
      |), cells AS (
      |  SELECT d, sum(net)::BIGINT AS net,
      |    year(DATE '1970-01-01' + d::INTEGER)::BIGINT AS yr
      |  FROM deltas GROUP BY 1
      |), series AS (
      |  SELECT yr, d,
      |    sum(net) OVER (ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
      |      AS backlog
      |  FROM cells
      |), peryear AS (
      |  SELECT yr, count(*)::BIGINT AS n_days,
      |    sum(backlog)::BIGINT AS sum_backlog,
      |    max(backlog)::BIGINT AS peak_backlog,
      |    min(backlog)::BIGINT AS min_backlog
      |  FROM series GROUP BY 1
      |), pkday AS (
      |  SELECT s.yr, min(s.d) AS peak_d
      |  FROM series s JOIN peryear p
      |    ON p.yr = s.yr AND s.backlog = p.peak_backlog
      |  GROUP BY 1
      |), arr AS (
      |  SELECT year(DATE '1970-01-01' + aday::INTEGER)::BIGINT AS yr,
      |    count(*)::BIGINT AS arrivals
      |  FROM spans GROUP BY 1
      |), dep AS (
      |  SELECT year(DATE '1970-01-01' + sday::INTEGER)::BIGINT AS yr,
      |    count(*)::BIGINT AS departures
      |  FROM spans GROUP BY 1
      |)
      |SELECT p.yr AS year, p.n_days,
      |  coalesce(a.arrivals, 0)::BIGINT AS arrivals,
      |  coalesce(de.departures, 0)::BIGINT AS departures,
      |  (CASE WHEN p.sum_backlog >= 0
      |    THEN p.sum_backlog * 1000 // p.n_days
      |    ELSE -((-p.sum_backlog) * 1000 // p.n_days)
      |    END)::BIGINT AS avg_backlog_milli,
      |  p.peak_backlog,
      |  DATE '1970-01-01' + k.peak_d::INTEGER AS peak_day,
      |  p.min_backlog,
      |  (CASE WHEN coalesce(a.arrivals, 0) > 0 THEN
      |    CASE WHEN p.sum_backlog >= 0
      |      THEN p.sum_backlog * 1000 // a.arrivals
      |      ELSE -((-p.sum_backlog) * 1000 // a.arrivals) END
      |    ELSE 0 END)::BIGINT
      |    AS implied_wait_days_milli
      |FROM peryear p
      |JOIN pkday k ON k.yr = p.yr
      |LEFT JOIN arr a ON a.yr = p.yr
      |LEFT JOIN dep de ON de.yr = p.yr
      |ORDER BY year""".stripMargin

  /** The (relationship, table, determinant, dependent) legs
    * [[fdAudit]] profiles — two that must HOLD on a sane star schema
    * (key-determined attributes) and two that genuinely DON'T (an
    * order spans suppliers; a part ships from many suppliers), so the
    * audit demonstrates both verdicts on real data. */
  private val FdLegs: Seq[(String, String, String, String)] = Seq(
    ("customer: c_custkey->c_nationkey", "customer", "c_custkey", "c_nationkey"),
    ("lineitem: l_orderkey->l_suppkey", "lineitem", "l_orderkey", "l_suppkey"),
    ("lineitem: l_partkey->l_suppkey", "lineitem", "l_partkey", "l_suppkey"),
    ("orders: o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"))

  /** Functional-dependency / uniqueness profiler (q183): for each
    * candidate determinant→dependent pair, the exact violation
    * accounting — distinct determinant keys, distinct (det, dep)
    * pairs, keys mapping to MORE than one dependent value, the worst
    * fanout, and the violation share in bp. fd_holds is the derived
    * verdict (n_pairs = n_keys). This is the constraint-DISCOVERY op
    * of a data-quality layer (Deequ/profiling family): run it before
    * declaring schema contracts, and keep it running to catch a feed
    * that starts violating a dependency the pipeline relies on (e.g.
    * the q137 FK audit assumes key-determined dims).
    *
    * Scale posture: each leg shuffles ONCE, keyed on the
    * high-cardinality determinant alone: an explicit repartition(k)
    * whose HashPartitioning satisfies BOTH downstream groupings
    * (ClusteredDistribution(k,v) and (k) — the subset rule), so the
    * (k,v) distinct-pair collapse and the per-determinant fanout fold
    * run back-to-back with no second exchange. Map-side combine would
    * buy nothing here — v is one long and distinct (k,v) ≈ rows for a
    * near-key determinant — so raw-row repartition halves the wire
    * volume vs two combined exchanges. Then a 1-row summary — no
    * countDistinct Expand, no second scan. Legs union AFTER
    * aggregation (4 single-row plans), so each table crosses the
    * cluster once per leg. */
  def fdAudit(spark: SparkSession, dir: String): DataFrame = {
    def leg(name: String, df: DataFrame, a: String, b: String): DataFrame =
      df.select(col(a).cast("long").as("k"), col(b).cast("long").as("v"))
        .repartition(col("k"))
        .groupBy(col("k"), col("v")).agg(count(lit(1)).as("dup"))
        .groupBy(col("k")).agg(count(lit(1)).as("fanout"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("fanout")).as("n_pairs"),
          sum(when(col("fanout") > 1, 1L).otherwise(0L)).as("n_violating"),
          max(col("fanout")).as("max_fanout"))
        .select(lit(name).as("dependency"), col("n_keys"), col("n_pairs"),
          col("n_violating"), col("max_fanout"),
          expr("n_violating * 10000 div n_keys").as("violation_bp"),
          (col("n_pairs") === col("n_keys")).as("fd_holds"))
    val tables = Map[String, DataFrame](
      "customer" -> Tables.customer(spark, dir),
      "lineitem" -> Tables.lineitem(spark, dir),
      "orders" -> Tables.orders(spark, dir))
    FdLegs.map { case (name, t, a, b) => leg(name, tables(t), a, b) }
      .reduce(_ unionByName _)
      .orderBy(col("dependency"))
  }

  def fdAuditSql: String = {
    def leg(name: String, t: String, a: String, b: String): String =
      s"""SELECT '$name' AS dependency, n_keys, n_pairs, n_violating,
         |  max_fanout, (n_violating * 10000 // n_keys)::BIGINT AS violation_bp,
         |  n_pairs = n_keys AS fd_holds
         |FROM (
         |  SELECT count(*)::BIGINT AS n_keys, sum(fanout)::BIGINT AS n_pairs,
         |    sum(CASE WHEN fanout > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
         |    max(fanout)::BIGINT AS max_fanout
         |  FROM (
         |    SELECT k, count(*)::BIGINT AS fanout FROM (
         |      SELECT DISTINCT $a::BIGINT AS k, $b::BIGINT AS v FROM $t
         |    ) GROUP BY k
         |  )
         |)""".stripMargin
    FdLegs.map { case (name, t, a, b) => leg(name, t, a, b) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY dependency")
  }

  /** Market-basket frequent pairs (q184): the top-k part pairs
    * co-purchased in the same order, with support (orders containing
    * both) and lift in basis points (support·N div (n_a·n_b) — how
    * much more often the pair co-occurs than independence predicts;
    * 10000 = independent). The classic frequent-itemset head
    * (Agrawal & Srikant 1994, restricted to pairs — the 2-itemset
    * lattice level every apriori pass starts from) and the relational
    * twin of q169's event-type lift matrix.
    *
    * Scale posture: ONE corpus exchange — lineitem collapses to
    * per-order sorted part SETS (collect_set under partial agg; the
    * set is order-sized, ~4-7 parts), and the pair fan-out is a pure
    * EXPRESSION over each set (nested transform + flatten: ≤
    * C(|order|, 2) pairs per row, never corpus², no self-join, no
    * second shuffle of the fact table). Part counts and the basket
    * total read the same cached sets. The top-k rides orderBy+limit,
    * which Spark plans as TakeOrderedAndProject (a bounded
    * per-partition heap — the k-row answer, no full sort ever
    * materializes); per-part counts join back only onto the k
    * winners. lift products ride decimal(38,0)/HUGEINT. */
  def basketPairs(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val sets = graft.PlanCache.cached(spark, s"relational.basketSets:$dir") {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .groupBy(col("okey"))
        .agg(sort_array(collect_set(col("part"))).as("ps"))
    }
    // all (a, b) with a < b: the set is sorted and distinct, so pairing
    // each element with its strict suffix enumerates exactly the
    // unordered pairs, already in canonical order
    val top = sets
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x, y))))"))
        .as("p"))
      .groupBy(col("p.x").as("part_a"), col("p.y").as("part_b"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(k)
    // PlanCache'd: referenced twice here (part_a and part_b legs) and
    // three more times by q212 — each bare reference recomputed the
    // full explode+collapse (~0.3 s each at sf0.1; §2.4 share-one-
    // exchange). Part-dimension-bounded (|parts| rows).
    val partOrders = graft.PlanCache.cached(spark,
      s"relational.partOrders:$dir") {
      sets.select(explode(col("ps")).as("part"))
        .groupBy(col("part")).agg(count(lit(1)).as("n_ord"))
    }
    val n = sets.agg(count(lit(1)).as("n_baskets"))
    top
      .join(partOrders.select(col("part").as("part_a"),
        col("n_ord").as("n_a")), Seq("part_a"))
      .join(partOrders.select(col("part").as("part_b"),
        col("n_ord").as("n_b")), Seq("part_b"))
      .crossJoin(broadcast(n))
      .select(col("part_a"), col("part_b"), col("support"),
        col("n_a"), col("n_b"), col("n_baskets"),
        expr("cast(cast(support as decimal(38,0)) * n_baskets * 10000 " +
          "div (cast(n_a as decimal(38,0)) * n_b) as bigint)").as("lift_bp"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
  }

  def basketPairsSql(k: Int = 20): String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
       |), pairs AS (
       |  SELECT a.part AS part_a, b.part AS part_b, count(*)::BIGINT AS support
       |  FROM items a JOIN items b
       |    ON a.okey = b.okey AND a.part < b.part
       |  GROUP BY 1, 2
       |), top AS (
       |  SELECT * FROM pairs
       |  ORDER BY support DESC, part_a, part_b LIMIT $k
       |), po AS (
       |  SELECT part, count(*)::BIGINT AS n_ord FROM items GROUP BY 1
       |), n AS (
       |  SELECT count(DISTINCT okey)::BIGINT AS n_baskets FROM items
       |)
       |SELECT part_a, part_b, support, pa.n_ord AS n_a, pb.n_ord AS n_b,
       |  n.n_baskets,
       |  (support::HUGEINT * n.n_baskets * 10000
       |    // (pa.n_ord::HUGEINT * pb.n_ord))::BIGINT AS lift_bp
       |FROM top
       |JOIN po pa ON pa.part = top.part_a
       |JOIN po pb ON pb.part = top.part_b
       |CROSS JOIN n
       |ORDER BY support DESC, part_a, part_b""".stripMargin

  /** X138 market-basket frequent triples (q212): the 3-itemset lattice level
    * above q184 — top-k part triples co-purchased in one order, with
    * support and lift vs full independence (support·N²·10⁴ div
    * (n_a·n_b·n_c); 10000 = independent). This is the depth the apriori
    * candidate walk (Agrawal & Srikant 1994) reaches next, and where
    * naive enumeration starts to hurt — which is exactly what the
    * bounded-fanout device below avoids pricing per corpus size.
    *
    * Scale posture: REUSES q184's PlanCache'd per-order sorted part
    * sets (the one corpus exchange is shared, not re-paid); the triple
    * fan-out is a pure nested-transform expression over each set —
    * ≤ C(|order|, 3) structs per row (≤35 for TPC-H's 7-line orders),
    * never corpus³, no self-join; the top-k rides
    * TakeOrderedAndProject; per-part counts join back only onto the k
    * winners; lift products ride decimal(38,0)/HUGEINT. */
  def basketTriples(spark: SparkSession, dir: String,
                    k: Int = 15): DataFrame = {
    val sets = graft.PlanCache.cached(spark, s"relational.basketSets:$dir") {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .groupBy(col("okey"))
        .agg(sort_array(collect_set(col("part"))).as("ps"))
    }
    // x before y before z in the sorted distinct set: pair each element
    // with its strict suffix, then each suffix element with ITS strict
    // suffix — exactly the ordered triples, already canonical
    val top = sets
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "flatten(transform(slice(ps, i + 2, size(ps)), (y, j) -> " +
          "transform(slice(ps, i + j + 3, size(ps)), " +
          "z -> struct(x, y, z))))))")).as("t"))
      .groupBy(col("t.x").as("part_a"), col("t.y").as("part_b"),
        col("t.z").as("part_c"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"),
        col("part_c"))
      .limit(k)
    // shared with q184 (see basketPairs): one explode+collapse for all
    // five winner-leg joins across the two queries
    val partOrders = graft.PlanCache.cached(spark,
      s"relational.partOrders:$dir") {
      sets.select(explode(col("ps")).as("part"))
        .groupBy(col("part")).agg(count(lit(1)).as("n_ord"))
    }
    val n = sets.agg(count(lit(1)).as("n_baskets"))
    top
      .join(partOrders.select(col("part").as("part_a"),
        col("n_ord").as("n_a")), Seq("part_a"))
      .join(partOrders.select(col("part").as("part_b"),
        col("n_ord").as("n_b")), Seq("part_b"))
      .join(partOrders.select(col("part").as("part_c"),
        col("n_ord").as("n_c")), Seq("part_c"))
      .crossJoin(broadcast(n))
      .select(col("part_a"), col("part_b"), col("part_c"), col("support"),
        col("n_a"), col("n_b"), col("n_c"), col("n_baskets"),
        expr("cast(cast(support as decimal(38,0)) * n_baskets * n_baskets " +
          "* 10000 div (cast(n_a as decimal(38,0)) * n_b * n_c) as bigint)")
          .as("lift_bp"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"),
        col("part_c"))
  }

  def basketTriplesSql(k: Int = 15): String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
       |), triples AS (
       |  SELECT a.part AS part_a, b.part AS part_b, c.part AS part_c,
       |    count(*)::BIGINT AS support
       |  FROM items a
       |  JOIN items b ON a.okey = b.okey AND a.part < b.part
       |  JOIN items c ON b.okey = c.okey AND b.part < c.part
       |  GROUP BY 1, 2, 3
       |), top AS (
       |  SELECT * FROM triples
       |  ORDER BY support DESC, part_a, part_b, part_c LIMIT $k
       |), po AS (
       |  SELECT part, count(*)::BIGINT AS n_ord FROM items GROUP BY 1
       |), n AS (
       |  SELECT count(DISTINCT okey)::BIGINT AS n_baskets FROM items
       |)
       |SELECT part_a, part_b, part_c, support, pa.n_ord AS n_a,
       |  pb.n_ord AS n_b, pc.n_ord AS n_c, n.n_baskets,
       |  (support::HUGEINT * n.n_baskets * n.n_baskets * 10000
       |    // (pa.n_ord::HUGEINT * pb.n_ord * pc.n_ord))::BIGINT AS lift_bp
       |FROM top
       |JOIN po pa ON pa.part = top.part_a
       |JOIN po pb ON pb.part = top.part_b
       |JOIN po pc ON pc.part = top.part_c
       |CROSS JOIN n
       |ORDER BY support DESC, part_a, part_b, part_c""".stripMargin

  /** The directed column pairs [[dependenceAudit]] scores, as
    * (name, a-expr, b-expr) — shared verbatim by both engines (pure
    * cast/month algebra). */
  private val DependencePairs: Seq[(String, String, String)] = Seq(
    ("a_returnflag_to_linestatus", "l_returnflag", "l_linestatus"),
    ("b_linestatus_to_returnflag", "l_linestatus", "l_returnflag"),
    ("c_quantity_to_returnflag",
      "cast(cast(round(l_quantity) as bigint) as string)", "l_returnflag"),
    ("d_shipmonth_to_linestatus",
      "cast(month(l_shipdate) as string)", "l_linestatus"))

  /** X140 conditional-entropy dependence audit (q214): for directed
    * column pairs a → b, the exact-milli-bit H(b) and H(b|a) and the
    * captured-information share (H(b) − H(b|a)) ∕ H(b) in bp — the SOFT
    * version of q183's exact functional dependencies. An FD profiler
    * answers "does a determine b EXACTLY"; this answers "how much of b
    * does knowing a buy" (10000 bp = exact FD, 0 = independent), which
    * is what drives denormalization, sort-key and dictionary-sharing
    * decisions when the dependency is real but dirty. A constant b
    * column (H(b) = 0) reports 10000 — trivially determined.
    *
    * All integer: the q140/q163 milli-bit log2 device; every entropy
    * term is c·(log2m(group total) − log2m(c)) ≥ 0 (the LUT is
    * monotone), summed in decimal(38,0)/HUGEINT and divided once by
    * the corpus total; milli-bit rounding can land H(b|a) a hair above
    * H(b) on near-independent pairs, so the bp clamps at 0 —
    * identically in both engines.
    *
    * Scale posture: all four pairs ride ONE stack() projection (the
    * q137/q210 rule) into a (dep, a, b) cell collapse — map-side
    * combinable, the only corpus shuffle; marginals, conditionals and
    * both entropy folds are cell-table rollups (audit-sized at any
    * corpus scale); per-(dep, a) totals broadcast back onto cells. */
  def dependenceAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{TextAnalysis => TA}
    val stackArgs = DependencePairs
      .map { case (n, a, b) => s"'$n', cast($a as string), $b" }
      .mkString(", ")
    // persisted: four downstream legs (totals, conditionals, both
    // marginal entropies) read this cell table — uncached, each would
    // re-scan and re-collapse the corpus
    val cells = graft.PlanCache.cached(spark, s"relational.depCells:$dir") {
      Tables.lineitem(spark, dir)
        .selectExpr(s"stack(${DependencePairs.size}, $stackArgs) " +
          "AS (dep, a, b)")
        .groupBy(col("dep"), col("a"), col("b"))
        .agg(count(lit(1)).as("n"))
    }
    val tot = cells.groupBy(col("dep"))
      .agg(sum(col("n")).as("t"), count(lit(1)).as("n_cells"))
    val ta = cells.groupBy(col("dep"), col("a")).agg(sum(col("n")).as("t_a"))
    val hb = cells.groupBy(col("dep"), col("b")).agg(sum(col("n")).as("c_b"))
      .join(broadcast(tot), Seq("dep"))
      .select(col("dep"), col("t"),
        expr(s"cast(c_b as decimal(38,0)) * ((${TA.log2MilliSpark("t")}) - " +
          s"(${TA.log2MilliSpark("c_b")}))").as("term"))
      .groupBy(col("dep"))
      .agg(expr("cast(sum(term) div max(t) as bigint)").as("h_b_mb"))
    val hba = cells.join(broadcast(ta), Seq("dep", "a"))
      .select(col("dep"),
        expr(s"cast(n as decimal(38,0)) * ((${TA.log2MilliSpark("t_a")}) - " +
          s"(${TA.log2MilliSpark("n")}))").as("term"))
      .groupBy(col("dep"))
      .agg(sum(col("term")).as("terms"))
      .join(broadcast(tot), Seq("dep"))
      .select(col("dep"), col("t").as("n_rows"), col("n_cells"),
        expr("cast(terms div t as bigint)").as("h_b_given_a_mb"))
    hba.join(broadcast(hb), Seq("dep"))
      .select(col("dep").as("dependency"), col("n_rows"), col("n_cells"),
        col("h_b_mb"), col("h_b_given_a_mb"),
        expr("CASE WHEN h_b_mb = 0 THEN 10000 ELSE " +
          "greatest(0L, (h_b_mb - h_b_given_a_mb) * 10000 div h_b_mb) END")
          .as("dependence_bp"))
      .orderBy(col("dependency"))
  }

  def dependenceAuditSql: String = {
    import graft.operators.{TextAnalysis => TA}
    val legs = DependencePairs.map { case (n, a, b) =>
      s"SELECT '$n' AS dep, ($a)::VARCHAR AS a, $b AS b FROM lineitem"
    }.mkString("\n  UNION ALL ")
    s"""WITH pairs AS (
       |  $legs
       |), cells AS (
       |  SELECT dep, a, b, count(*)::BIGINT AS n FROM pairs GROUP BY 1, 2, 3
       |), tot AS (
       |  SELECT dep, sum(n)::BIGINT AS t, count(*)::BIGINT AS n_cells
       |  FROM cells GROUP BY 1
       |), ta AS (
       |  SELECT dep, a, sum(n)::BIGINT AS t_a FROM cells GROUP BY 1, 2
       |), hb AS (
       |  SELECT m.dep,
       |    (sum(c_b::HUGEINT * ((${TA.log2MilliDuck("t")}) -
       |      (${TA.log2MilliDuck("c_b")}))) // max(t))::BIGINT AS h_b_mb
       |  FROM (SELECT dep, b, sum(n)::BIGINT AS c_b FROM cells
       |        GROUP BY 1, 2) m
       |  JOIN tot ON m.dep = tot.dep GROUP BY 1
       |), hba AS (
       |  SELECT c.dep, max(tot.t)::BIGINT AS n_rows,
       |    max(tot.n_cells)::BIGINT AS n_cells,
       |    (sum(n::HUGEINT * ((${TA.log2MilliDuck("t_a")}) -
       |      (${TA.log2MilliDuck("n")}))) // max(tot.t))::BIGINT
       |      AS h_b_given_a_mb
       |  FROM cells c
       |  JOIN ta ON c.dep = ta.dep AND c.a = ta.a
       |  JOIN tot ON c.dep = tot.dep
       |  GROUP BY 1
       |)
       |SELECT hba.dep AS dependency, n_rows, n_cells, h_b_mb,
       |  h_b_given_a_mb,
       |  CASE WHEN h_b_mb = 0 THEN 10000::BIGINT ELSE
       |    greatest(0, (h_b_mb - h_b_given_a_mb) * 10000 // h_b_mb)::BIGINT
       |    END AS dependence_bp
       |FROM hba JOIN hb ON hba.dep = hb.dep
       |ORDER BY dependency""".stripMargin
  }

  /** X149 ship-lag SLA table (q223): per order priority — line items,
    * the EXACT median order-to-ship lag in days, the shares shipped
    * within 7 and 30 days (bp), and the worst lag. The service-level
    * attainment read an operations dashboard carries: priorities exist
    * to change shipping behavior, and this table is the proof (or
    * refutation) that they do — the relational twin of q132's SLO
    * percentiles, on the order→lineitem grain.
    *
    * The median is the q132 exact-rank election over the
    * (priority, lag_days) histogram; the lag grid is bounded by the
    * CALENDAR span in days (the q200 value-range rule), so histogram
    * rows — the only thing ever windowed — are corpus-independent.
    * Negative lags (synthetic data has uncorrelated dates) order and
    * count fine: no division touches the lag value.
    *
    * Scale posture: ONE corpus join (lineitem ⋈ orders on the
    * high-cardinality order key) collapses straight to the
    * (priority, day) histogram with map-side combine; windows and SLA
    * folds run over grid rows only. */
  /** X179 Mann–Whitney rank test (q253): does urgent fulfillment
    * actually ship FASTER — the exact two-sample rank-sum test (Mann &
    * Whitney 1947) on the q223 ship-lag distribution, urgent
    * (1-URGENT/2-HIGH) vs routine orders, in pure integers: midranks
    * of tie groups ride DOUBLED (a span over ranks [a,b] has doubled
    * midrank a+b — never a .5), U₁ follows from the doubled rank sum,
    * the null deviation |U₁ − n₁n₂/2| stays doubled, and
    * z = deviation / sqrt(n₁n₂(N+1)/12) lands in milli via the q245
    * isqrt (untied variance, documented; ties here are massive but
    * the untied z is the CONSERVATIVE-direction classic). Completes
    * the inference shelf: q250 tests proportions, this tests whole
    * DISTRIBUTIONS without any normality assumption — the referee for
    * every "priority classes don't differ" claim q223's medians alone
    * can't settle.
    *
    * Scale posture: rides the PlanCache'd q223 (priority, lag, count)
    * histogram — lag values are calendar-bounded, so the rank walk is
    * a one-row fold over the lag range (the q228 device, never a
    * corpus sort); output is one row. The variance product rides a
    * decimal(38,0) guard (n₁n₂(N+1) overflows BIGINT near 2e9 items).
    *
    * Domain bound: u1_doubled, devd and the r1d fold itself are plain
    * BIGINT in both engines — exact while the pooled count N = n₁+n₂
    * stays below ~3.0e9 rows (r1d ≤ N(N+1) and 2n₁n₂+n₁(n₁+1) ≤
    * N(N+1) must fit 2⁶³); past that, shard the test (per month /
    * per region) before pooling — lifting just the SELECT to decimal
    * would not help because the fold accumulator saturates at the
    * same domain. */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val cells = graft.PlanCache.cached(spark, s"relational.shipLag:$dir") {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship_day"))
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("ord_day"),
            col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"),
          datediff(col("ship_day"), col("ord_day")).cast("long")
            .as("lag_days"))
        .agg(count(lit(1)).as("cnt"))
    }
    val byLag = cells
      .groupBy(col("lag_days"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
          col("cnt")).otherwise(0L)).as("c1"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(col("cnt"))).as("c2"))
    // fold over the SORTED (lag, c1, c2) struct array, not over
    // sequence(lo, hi) with per-step element_at(m, ·): Catalyst map
    // element_at is a LINEAR scan, so the map walk was O(range × cells)
    // — ~24M interpreted comparisons on the sf0.1 lag grid (~0.9 s of
    // the measured 1.2 s; guide §1.1 empirical loop). Absent lags were
    // no-ops in the walk (c1 = c2 = 0 adds nothing to n1/n2/r1d), so
    // folding only the present lags in lag order is value-identical;
    // the size guard keeps the empty-input NULL the sequence walk
    // produced. Same device as the q255 fold fix (PLANS.md:313).
    val walk = byLag
      .agg(sort_array(collect_list(struct(col("lag_days"),
        col("c1"), col("c2")))).as("arr"))
      .select(expr(
        """IF(size(arr) = 0, null, aggregate(
          |  arr,
          |  named_struct('n1', 0L, 'n2', 0L, 'r1d', 0L),
          |  (acc, e) -> named_struct(
          |    'n1', acc.n1 + e.c1,
          |    'n2', acc.n2 + e.c2,
          |    'r1d', acc.r1d + e.c1 *
          |      (2 * (acc.n1 + acc.n2) + e.c1 + e.c2 + 1))))""".stripMargin)
        .as("st"))
      .select(col("st.n1").as("n1"), col("st.n2").as("n2"),
        col("st.r1d").as("r1d"))
    walk
      .select(col("n1").as("n_urgent"), col("n2").as("n_routine"),
        expr("2 * n1 * n2 + n1 * (n1 + 1) - r1d").as("u1_doubled"),
        expr("abs(2 * n1 * n2 + n1 * (n1 + 1) - r1d - n1 * n2)").as("devd"),
        expr("CASE WHEN n1 > 0 AND n2 > 0 THEN " +
          "cast(cast(n1 as decimal(38,0)) * n2 * (n1 + n2 + 1) div 12 " +
          "as bigint) ELSE 0L END").as("var12"),
        expr("CASE WHEN 2 * n1 * n2 + n1 * (n1 + 1) - r1d > n1 * n2 " +
          "THEN 'a_urgent_faster' " +
          "WHEN 2 * n1 * n2 + n1 * (n1 + 1) - r1d < n1 * n2 " +
          "THEN 'c_urgent_slower' ELSE 'b_even' END").as("direction"))
      .select(col("n_urgent"), col("n_routine"), col("u1_doubled"),
        col("direction"),
        expr("CASE WHEN var12 > 0 THEN cast(cast(devd as decimal(38,0)) " +
          s"* 1000 div (2 * (${graft.operators.Curation.isqrtSpark("var12")})) " +
          "as bigint) ELSE 0L END").as("z_abs_milli"))
      .withColumn("significant_95", col("z_abs_milli") >= 1960L)
      .withColumn("significant_99", col("z_abs_milli") >= 2576L)
  }

  def mannWhitneySql: String =
    s"""WITH RECURSIVE cells AS (
       |  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |      THEN 1 ELSE 0 END AS grp,
       |    (l_shipdate::DATE - o_orderdate::DATE)::BIGINT AS lag_days,
       |    count(*)::BIGINT AS cnt
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2
       |), bylag AS (
       |  SELECT lag_days,
       |    sum(CASE WHEN grp = 1 THEN cnt ELSE 0 END)::BIGINT AS c1,
       |    sum(CASE WHEN grp = 0 THEN cnt ELSE 0 END)::BIGINT AS c2
       |  FROM cells GROUP BY 1
       |), ranked AS (
       |  SELECT c1, c2,
       |    coalesce(sum(c1 + c2) OVER (ORDER BY lag_days
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS cbefore
       |  FROM bylag
       |), s AS (
       |  SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2,
       |    sum(c1 * (2 * cbefore + c1 + c2 + 1))::BIGINT AS r1d
       |  FROM ranked
       |), d AS (
       |  SELECT n1, n2,
       |    (2 * n1 * n2 + n1 * (n1 + 1) - r1d)::BIGINT AS u1d,
       |    abs(2 * n1 * n2 + n1 * (n1 + 1) - r1d - n1 * n2)::BIGINT
       |      AS devd,
       |    CASE WHEN n1 > 0 AND n2 > 0 THEN
       |      (n1::HUGEINT * n2 * (n1 + n2 + 1) // 12)::BIGINT
       |      ELSE 0 END AS var12
       |  FROM s
       |), f AS (
       |  SELECT d.*, var12 AS num, 0::BIGINT AS res, 0 AS i FROM d
       |  UNION ALL
       |  SELECT n1, n2, u1d, devd, var12,
       |    CASE WHEN num >= res + (1::BIGINT << (62 - 2 * i))
       |      THEN num - res - (1::BIGINT << (62 - 2 * i)) ELSE num END,
       |    CASE WHEN num >= res + (1::BIGINT << (62 - 2 * i))
       |      THEN res // 2 + (1::BIGINT << (62 - 2 * i)) ELSE res // 2 END,
       |    i + 1
       |  FROM f WHERE i < 32
       |)
       |SELECT n1 AS n_urgent, n2 AS n_routine, u1d AS u1_doubled,
       |  CASE WHEN u1d > n1 * n2 THEN 'a_urgent_faster'
       |    WHEN u1d < n1 * n2 THEN 'c_urgent_slower'
       |    ELSE 'b_even' END AS direction,
       |  (CASE WHEN var12 > 0 THEN
       |    (devd::HUGEINT * 1000 // (2 * res))::BIGINT
       |    ELSE 0 END)::BIGINT AS z_abs_milli,
       |  (CASE WHEN var12 > 0 THEN
       |    (devd::HUGEINT * 1000 // (2 * res))::BIGINT ELSE 0 END) >= 1960
       |    AS significant_95,
       |  (CASE WHEN var12 > 0 THEN
       |    (devd::HUGEINT * 1000 // (2 * res))::BIGINT ELSE 0 END) >= 2576
       |    AS significant_99
       |FROM f WHERE i = 32""".stripMargin

  /** X183 two-sample Kolmogorov–Smirnov test (q257): do urgent and
    * routine ship lags differ in distribution SHAPE? (Kolmogorov 1933;
    * Smirnov 1939). The companion to q253 on the same seam: Mann–
    * Whitney reads a LOCATION shift (it can miss two distributions
    * with equal medians but different spread); KS reads the maximum
    * CDF gap, so variance/tail changes fire too. D = max over the lag
    * grid of |F₁ − F₂|, exactly: M = max |cum₁·n₂ − cum₂·n₁| (and the
    * smallest lag attaining it), d_bp = M·10⁴ div n₁n₂. Significance
    * avoids the classical c(α)·√((n₁+n₂)/n₁n₂) root entirely by
    * SQUARING the inequality: significant iff M² > ⌊c²·10⁶·(n₁+n₂)·
    * n₁n₂⌋ div 10⁶ with c²·10⁶ the exact integer literals 1844164
    * (α=.05, c=1.358) and 2650384 (α=.01, c=1.628) — all decimal(38,0)
    * /HUGEINT, no libm in either engine.
    *
    * Domain bound: the q253 one — cum·n products and M fit BIGINT
    * while the pooled count N stays below ~2.1e9 ((N/2)² ≤ 2⁶³); M²
    * rides decimal(38,0) to the same domain.
    *
    * Scale posture: rides the PlanCache'd q223/q253/q255 histogram —
    * no new corpus scan; one-row fold over the calendar-bounded lag
    * range; one output row. */
  def ksTwoSample(spark: SparkSession, dir: String): DataFrame = {
    val cells = graft.PlanCache.cached(spark, s"relational.shipLag:$dir") {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship_day"))
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("ord_day"),
            col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"),
          datediff(col("ship_day"), col("ord_day")).cast("long")
            .as("lag_days"))
        .agg(count(lit(1)).as("cnt"))
    }
    val byLag = cells
      .groupBy(col("lag_days"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
          col("cnt")).otherwise(0L)).as("c1"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(col("cnt"))).as("c2"))
    // sorted-struct-array fold, not a sequence(lo, hi) walk with
    // per-step element_at(m, ·) — the map lookup is a linear scan, so
    // the walk was O(range × cells) ≈ 24M interpreted comparisons on
    // the sf0.1 lag grid (the q253 finding; same fix). Absent lags
    // repeat the previous cumulative deviation exactly, so they can
    // never strictly raise mx nor capture mlag (strict > against an
    // acc.mx that already covers the repeat): folding present lags in
    // order is value-identical, with the first array element standing
    // in for the old `lo` init and the size guard keeping the
    // empty-input NULL.
    byLag
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sort_array(collect_list(struct(col("lag_days"),
          col("c1"), col("c2")))).as("arr"))
      .select(col("n1"), col("n2"), expr(
        """IF(size(arr) = 0, null, aggregate(
          |  arr,
          |  named_struct('cum1', 0L, 'cum2', 0L, 'mx', 0L,
          |    'mlag', element_at(arr, 1).lag_days),
          |  (acc, e) -> named_struct(
          |    'cum1', acc.cum1 + e.c1,
          |    'cum2', acc.cum2 + e.c2,
          |    'mx', greatest(acc.mx, abs(
          |      (acc.cum1 + e.c1) * n2 - (acc.cum2 + e.c2) * n1)),
          |    'mlag', IF(abs(
          |      (acc.cum1 + e.c1) * n2 - (acc.cum2 + e.c2) * n1)
          |      > acc.mx, e.lag_days, acc.mlag))))""".stripMargin).as("w"))
      .select(col("n1").as("n_urgent"), col("n2").as("n_routine"),
        col("w.mx").as("mx"), col("w.mlag").as("d_lag"))
      .withColumn("rhs95", expr(
        "cast(1844164 as decimal(38,0)) * (n_urgent + n_routine) " +
          "* n_urgent * n_routine"))
      .withColumn("rhs99", expr(
        "cast(2650384 as decimal(38,0)) * (n_urgent + n_routine) " +
          "* n_urgent * n_routine"))
      .select(col("n_urgent"), col("n_routine"),
        expr("CASE WHEN n_urgent > 0 AND n_routine > 0 THEN " +
          "cast(cast(mx as decimal(38,0)) * 10000 div " +
          "(n_urgent * n_routine) as bigint) ELSE 0L END").as("d_bp"),
        col("d_lag"),
        expr("cast(mx as decimal(38,0)) * mx > cast((rhs95 - " +
          "rhs95 % 1000000) / 1000000 as decimal(38,0))")
          .as("significant_95"),
        expr("cast(mx as decimal(38,0)) * mx > cast((rhs99 - " +
          "rhs99 % 1000000) / 1000000 as decimal(38,0))")
          .as("significant_99"))
  }

  def ksTwoSampleSql: String =
    """WITH cells AS (
      |  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 1 ELSE 0 END AS grp,
      |    (l_shipdate::DATE - o_orderdate::DATE)::BIGINT AS lag_days,
      |    count(*)::BIGINT AS cnt
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2
      |), bylag AS (
      |  SELECT lag_days,
      |    sum(CASE WHEN grp = 1 THEN cnt ELSE 0 END)::BIGINT AS c1,
      |    sum(CASE WHEN grp = 0 THEN cnt ELSE 0 END)::BIGINT AS c2
      |  FROM cells GROUP BY 1
      |), tot AS (
      |  SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2 FROM bylag
      |), walk AS (
      |  SELECT lag_days,
      |    sum(c1) OVER (ORDER BY lag_days)::BIGINT AS cum1,
      |    sum(c2) OVER (ORDER BY lag_days)::BIGINT AS cum2
      |  FROM bylag
      |), dev AS (
      |  SELECT w.lag_days, abs(w.cum1 * t.n2 - w.cum2 * t.n1)::BIGINT AS d
      |  FROM walk w CROSS JOIN tot t
      |), mx AS (
      |  SELECT max(d)::BIGINT AS mx FROM dev
      |), at AS (
      |  SELECT min(lag_days)::BIGINT AS d_lag FROM dev, mx
      |  WHERE dev.d = mx.mx
      |)
      |SELECT t.n1 AS n_urgent, t.n2 AS n_routine,
      |  (CASE WHEN t.n1 > 0 AND t.n2 > 0 THEN
      |    (mx.mx::HUGEINT * 10000 // (t.n1 * t.n2))::BIGINT
      |    ELSE 0 END) AS d_bp,
      |  at.d_lag,
      |  mx.mx::HUGEINT * mx.mx >
      |    1844164::HUGEINT * (t.n1 + t.n2) * t.n1 * t.n2 // 1000000
      |    AS significant_95,
      |  mx.mx::HUGEINT * mx.mx >
      |    2650384::HUGEINT * (t.n1 + t.n2) * t.n1 * t.n2 // 1000000
      |    AS significant_99
      |FROM tot t, mx, at""".stripMargin

  /** χ² critical values in milli, df 1..8 — Pearson 1900 table, the
    * shared literal both engines judge q258 against. */
  private val Chi2Crit95: Seq[Long] =
    Seq(3841L, 5991L, 7815L, 9488L, 11070L, 12592L, 14067L, 15507L)
  private val Chi2Crit99: Seq[Long] =
    Seq(6635L, 9210L, 11345L, 13277L, 15086L, 16812L, 18475L, 20090L)

  /** X184 χ² test of independence (q258): is the return-flag mix
    * independent of order priority? (Pearson 1900). The inference
    * shelf's CATEGORICAL member: q250 compares two proportions, q253/
    * q255/q257 compare numeric distributions — this is the r×c
    * contingency read (does the priority knob change OUTCOMES), with
    * q154's mutual information replaced by a calibrated test: per
    * cell, observed count, expected count and the χ² contribution in
    * exact milli fixed point ((O·N − r·c)² scaled BEFORE one integral
    * division — no float ever forms), the global χ² = Σ of the
    * displayed cell contributions (so the table self-audits), df from
    * the live category counts, the 95/99% verdicts against the
    * Pearson table, and Cramér's V in milli via the q245 exact isqrt
    * (effect SIZE, so a huge-N hairline dependence can't masquerade
    * as a big one).
    *
    * Domain bound: dev² = (O·N − rc)² ≤ N⁴ rides decimal(38,0)/
    * HUGEINT — exact while N stays below ~5.6e8 (1000·N⁴ < 10³⁸);
    * past that, shard the table (per region / per year) first.
    *
    * Scale posture: ONE corpus join+collapse to the ≤(5×3)-cell
    * contingency table (map-side combinable); margins, the dense
    * grid, χ² and the isqrt are arithmetic on ≤15 rows with two
    * bounded-enforced broadcast scalars; ≤15 output rows. */
  def chiSquareIndependence(spark: SparkSession, dir: String): DataFrame = {
    val bb = graft.PlanAudit.Bounded
    val cells = graft.PlanCache.cached(spark,
      s"relational.prioFlagCells:$dir") {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_returnflag"))
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"), col("l_returnflag"))
        .agg(count(lit(1)).as("o"))
    }
    val pr = cells.groupBy(col("o_orderpriority"))
      .agg(sum(col("o")).as("r_tot"))
    val fl = cells.groupBy(col("l_returnflag")).agg(sum(col("o")).as("c_tot"))
    val glob = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("o_orderpriority")).as("nr"),
      countDistinct(col("l_returnflag")).as("nc"))
    val dense = pr
      .crossJoin(bb.broadcastBounded("q258_chi2_independence.flags", fl, 64L))
      .join(cells, Seq("o_orderpriority", "l_returnflag"), "left")
      .select(col("o_orderpriority"), col("l_returnflag"),
        col("r_tot"), col("c_tot"),
        coalesce(col("o"), lit(0L)).as("observed"))
      .crossJoin(bb.broadcastBounded("q258_chi2_independence.glob", glob, 1L))
      .withColumn("expected_milli", expr(
        "cast(cast(1000 as decimal(38,0)) * r_tot * c_tot div n as bigint)"))
      .withColumn("contrib_milli", expr(
        "cast(cast(1000 as decimal(38,0)) * " +
          "(cast(observed as decimal(38,0)) * n " +
          "- cast(r_tot as decimal(38,0)) * c_tot) * " +
          "(cast(observed as decimal(38,0)) * n " +
          "- cast(r_tot as decimal(38,0)) * c_tot) div " +
          "(cast(n as decimal(38,0)) * r_tot * c_tot) as bigint)"))
    def critCase(tab: Seq[Long]) = "CASE df " + tab.zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 1}L THEN ${v}L" }
      .mkString(" ") + " ELSE 0L END"
    val st = dense
      .agg(sum(col("contrib_milli")).as("chi2_milli"),
        max(col("n")).as("n"), max(col("nr")).as("nr"),
        max(col("nc")).as("nc"))
      .withColumn("df", expr("(nr - 1) * (nc - 1)"))
      .withColumn("cramers_v_milli", expr(
        "CASE WHEN least(nr - 1, nc - 1) >= 1 AND n > 0 THEN " +
          graft.operators.Curation.isqrtSpark(
            "chi2_milli * 1000 div (least(nr - 1, nc - 1) * n)") +
          " ELSE 0L END"))
      .select(col("chi2_milli"), col("df"), col("cramers_v_milli"),
        expr(s"df >= 1L AND df <= 8L AND chi2_milli >= " +
          s"(${critCase(Chi2Crit95)})").as("significant_95"),
        expr(s"df >= 1L AND df <= 8L AND chi2_milli >= " +
          s"(${critCase(Chi2Crit99)})").as("significant_99"))
    dense
      .select(col("o_orderpriority"), col("l_returnflag"), col("observed"),
        col("expected_milli"), col("contrib_milli"))
      .crossJoin(bb.broadcastBounded("q258_chi2_independence.stat", st, 1L))
      .orderBy(col("o_orderpriority"), col("l_returnflag"))
  }

  def chiSquareIndependenceSql: String = {
    def critCase(tab: Seq[Long]) = "CASE df " + tab.zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }
      .mkString(" ") + " ELSE 0 END"
    s"""WITH RECURSIVE cells AS (
       |  SELECT o_orderpriority AS p, l_returnflag AS fg,
       |    count(*)::BIGINT AS o
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2
       |), pr AS (
       |  SELECT p, sum(o)::BIGINT AS r_tot FROM cells GROUP BY 1
       |), fl AS (
       |  SELECT fg, sum(o)::BIGINT AS c_tot FROM cells GROUP BY 1
       |), g AS (
       |  SELECT sum(o)::BIGINT AS n,
       |    count(DISTINCT p)::BIGINT AS nr,
       |    count(DISTINCT fg)::BIGINT AS nc
       |  FROM cells
       |), dense AS (
       |  SELECT pr.p, fl.fg, pr.r_tot, fl.c_tot,
       |    coalesce(c.o, 0)::BIGINT AS observed
       |  FROM pr CROSS JOIN fl
       |  LEFT JOIN cells c ON c.p = pr.p AND c.fg = fl.fg
       |), cont AS (
       |  SELECT d.p, d.fg, d.observed,
       |    (1000::HUGEINT * d.r_tot * d.c_tot // g.n)::BIGINT
       |      AS expected_milli,
       |    (1000::HUGEINT
       |      * (d.observed::HUGEINT * g.n - d.r_tot::HUGEINT * d.c_tot)
       |      * (d.observed::HUGEINT * g.n - d.r_tot::HUGEINT * d.c_tot)
       |      // (g.n::HUGEINT * d.r_tot * d.c_tot))::BIGINT
       |      AS contrib_milli
       |  FROM dense d CROSS JOIN g
       |), s AS (
       |  SELECT sum(c.contrib_milli)::BIGINT AS chi2_milli,
       |    ((g.nr - 1) * (g.nc - 1))::BIGINT AS df,
       |    CASE WHEN least(g.nr - 1, g.nc - 1) >= 1 AND g.n > 0
       |      THEN (sum(c.contrib_milli)::BIGINT * 1000)
       |        // (least(g.nr - 1, g.nc - 1) * g.n)
       |      ELSE 0 END AS varg
       |  FROM cont c CROSS JOIN g
       |  GROUP BY g.nr, g.nc, g.n
       |), f AS (
       |  SELECT s.*, varg AS num, 0::BIGINT AS res, 0 AS i FROM s
       |  UNION ALL
       |  SELECT chi2_milli, df, varg,
       |    CASE WHEN num >= res + (1::BIGINT << (62 - 2 * i))
       |      THEN num - res - (1::BIGINT << (62 - 2 * i)) ELSE num END,
       |    CASE WHEN num >= res + (1::BIGINT << (62 - 2 * i))
       |      THEN res // 2 + (1::BIGINT << (62 - 2 * i)) ELSE res // 2 END,
       |    i + 1
       |  FROM f WHERE i < 32
       |)
       |SELECT c.p AS o_orderpriority, c.fg AS l_returnflag, c.observed,
       |  c.expected_milli, c.contrib_milli,
       |  f.chi2_milli, f.df, f.res AS cramers_v_milli,
       |  f.df >= 1 AND f.df <= 8 AND f.chi2_milli >=
       |    (${critCase(Chi2Crit95)}) AS significant_95,
       |  f.df >= 1 AND f.df <= 8 AND f.chi2_milli >=
       |    (${critCase(Chi2Crit99)}) AS significant_99
       |FROM cont c CROSS JOIN (SELECT * FROM f WHERE i = 32) f
       |ORDER BY o_orderpriority, l_returnflag""".stripMargin
  }

  /** Order priorities in their literal TPC-H-ish spelling, in output
    * order — the k groups of the Kruskal–Wallis test. */
  private val Priorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** X181 Kruskal–Wallis k-sample rank test (q255): do ANY of the five
    * order priorities ship on a different lag distribution? (Kruskal &
    * Wallis 1952). The k-sample completion of the inference shelf:
    * q250 compares two proportions, q253 two distributions — this is
    * the omnibus read that says whether the priority knob does
    * anything at all before pairwise q253 runs chase which pair moved.
    * Exactly the q253 device generalized: per-priority DOUBLED-midrank
    * sums (never a .5 — FIXTURES §C) in ONE fold over the same
    * PlanCache'd q223/q253 (priority, lag, count) histogram, then
    * H = 12/(N(N+1))·ΣR²ᵍ/nᵍ − 3(N+1) in exact milli fixed point with
    * the tie correction H' = H/(1 − Σ(t³−t)/(N³−N)), judged against
    * the χ²(df) 95/99% critical values (df = live groups − 1).
    *
    * Cross-engine exactness: each group's ⌊R²ᵍ/nᵍ⌋ rides the quotient
    * identity R² div n = q²n + 2qs + ⌊s²/n⌋ (R = qn+s) so no decimal
    * division is ever trusted for rounding; the tie mass Σ(t³−t) is
    * decimal(38,0)/HUGEINT INSIDE the fold (a single hot lag bucket
    * overflows BIGINT t³ past ~2.1e6 items); H is clamped at 0 (the
    * per-group floors can dip an exactly-null H a hair negative).
    *
    * Domain bound: the rank-sum fold is the q253 one — exact while the
    * pooled count N stays below ~2.1e9 (R2ᵍ ≤ 2nᵍN and s² ≤ N² must
    * fit BIGINT); the tie-corrected product h·(N³−N) is decimal-safe
    * while h_milli·N³ < 1e38 (any realistic H at any N in domain).
    *
    * Scale posture: rides the PlanCache'd q223 histogram — one
    * corpus-scale join+collapse shared with q223/q253, then a one-row
    * fold over the calendar-bounded lag range; ≤5 output rows. */
  def kruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    val cells = graft.PlanCache.cached(spark, s"relational.shipLag:$dir") {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship_day"))
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("ord_day"),
            col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"),
          datediff(col("ship_day"), col("ord_day")).cast("long")
            .as("lag_days"))
        .agg(count(lit(1)).as("cnt"))
    }
    val gCols = Priorities.zipWithIndex.map { case (p, i) =>
      sum(when(col("o_orderpriority") === p, col("cnt")).otherwise(0L))
        .as(s"g${i + 1}")
    }
    val byLag = cells.groupBy(col("lag_days")).agg(gCols.head, gCols.tail: _*)
    val ks = 1 to Priorities.size
    // the fold walks a pre-sorted ARRAY of per-lag structs (counts and
    // their tie total t computed ONCE, codegen'd, in the array build) —
    // a map-keyed walk re-evaluates ~45 element_at lookups per step and
    // measured 14 s over the ~4.9k-lag range; struct-field access off
    // the sorted array is ~10x cheaper. Absent lags carry t = 0 and are
    // rank-neutral, so skipping them is identical to the dense walk.
    val cbSum = ks.map(i => s"acc.n$i").mkString(" + ")
    val initFields = (ks.map(i => s"'n$i', 0L") ++
      ks.map(i => s"'r$i', 0L") :+
      "'st', cast(0 as decimal(38,0))").mkString(", ")
    val stepFields = (ks.map(i => s"'n$i', acc.n$i + e.s.g$i") ++
      ks.map(i =>
        s"'r$i', acc.r$i + e.s.g$i * (2 * ($cbSum) + e.s.t + 1)") :+
      ("'st', cast(acc.st + (cast(e.s.t as decimal(38,0)) * e.s.t " +
        "* e.s.t - e.s.t) as decimal(38,0))")).mkString(",\n    ")
    val walk = byLag
      .withColumn("t", ks.map(i => col(s"g$i")).reduce(_ + _))
      .agg(sort_array(collect_list(struct(col("lag_days"),
        struct(ks.map(i => col(s"g$i")) :+ col("t"): _*).as("s"))))
        .as("arr"))
      .select(expr(
        s"""aggregate(
           |  arr,
           |  named_struct($initFields),
           |  (acc, e) -> named_struct(
           |    $stepFields))""".stripMargin).as("w"))
      .select(ks.map(i => col(s"w.n$i").as(s"n$i")) ++
        ks.map(i => col(s"w.r$i").as(s"r$i")) :+ col("w.st").as("st"): _*)
    // floor(3000*r^2 / n) exactly, with no decimal Divide and no
    // decimal mod in the path: r = q*n + s gives
    // floor(r^2/n) = q^2*n + 2*q*s + floor(s^2/n), and the residue
    // r^2 mod n = s^2 mod n (s^2 <= N^2 fits BIGINT), so
    // floor(3000*r^2/n) = 3000*floor(r^2/n) + floor(3000*(s^2 mod n)/n)
    // — scaling BEFORE the division keeps the fixed-point loss below
    // 3000*k/(N(N+1)) milli instead of 3000/(N(N+1)) per dropped unit
    def qOf(i: Int) =
      s"""CASE WHEN n$i > 0 THEN
         |  cast(3000 as decimal(38,0)) * (
         |    cast(r$i div n$i as decimal(38,0)) * (r$i div n$i) * n$i
         |      + cast(2 as decimal(38,0)) * (r$i div n$i) * (r$i % n$i)
         |      + ((r$i % n$i) * (r$i % n$i) div n$i))
         |    + (3000 * ((r$i % n$i) * (r$i % n$i) % n$i) div n$i)
         |  ELSE cast(0 as decimal(38,0)) END""".stripMargin
    val dfExpr = ks.map(i => s"(CASE WHEN n$i > 0 THEN 1L ELSE 0L END)")
      .mkString(" + ") + " - 1L"
    val stackArgs = Priorities.zipWithIndex.map { case (p, i) =>
      val k = i + 1
      s"'$p', n$k, r$k, CASE WHEN n$k > 0 THEN " +
        s"cast(cast(r$k as decimal(38,0)) * 500 div n$k as bigint) " +
        s"ELSE 0L END"
    }.mkString(",\n      ")
    walk
      .withColumn("n", expr(ks.map(i => s"n$i").mkString(" + ")))
      .withColumn("qsum", expr(ks.map(qOf).mkString(" + ")))
      .withColumn("h_milli", expr(
        "greatest(qsum div (n * (n + 1)) - 3000 * (n + 1), 0L)"))
      .withColumn("nn3", expr(
        "cast(n as decimal(38,0)) * n * n - n"))
      .withColumn("h_tie_milli", expr(
        "CASE WHEN nn3 - st > 0 THEN " +
          "cast(cast(h_milli as decimal(38,0)) * nn3 div (nn3 - st) " +
          "as bigint) ELSE 0L END"))
      .withColumn("df", expr(dfExpr))
      .withColumn("crit95_milli", expr(
        "CASE df WHEN 1L THEN 3841L WHEN 2L THEN 5991L " +
          "WHEN 3L THEN 7815L WHEN 4L THEN 9488L ELSE 0L END"))
      .withColumn("crit99_milli", expr(
        "CASE df WHEN 1L THEN 6635L WHEN 2L THEN 9210L " +
          "WHEN 3L THEN 11345L WHEN 4L THEN 13277L ELSE 0L END"))
      .selectExpr(
        s"stack(${Priorities.size},\n      $stackArgs) " +
          "as (o_orderpriority, n_items, rank_sum_doubled, mean_rank_milli)",
        "h_milli", "h_tie_milli", "df",
        "df >= 1L AND h_tie_milli >= crit95_milli as significant_95",
        "df >= 1L AND h_tie_milli >= crit99_milli as significant_99")
      .filter(col("n_items") > 0L)
      .orderBy(col("o_orderpriority"))
  }

  def kruskalWallisSql: String = {
    val ks = 1 to Priorities.size
    val gDefs = Priorities.zipWithIndex.map { case (p, i) =>
      s"sum(CASE WHEN o_orderpriority = '$p' THEN cnt ELSE 0 END)::BIGINT " +
        s"AS g${i + 1}"
    }.mkString(",\n       |    ")
    val tSum = ks.map(i => s"g$i").mkString(" + ")
    val rDefs = ks.map(i =>
      s"sum(g$i * (2 * cb + t + 1))::BIGINT AS r$i").mkString(",\n       |    ")
    val nDefs = ks.map(i => s"sum(g$i)::BIGINT AS n$i").mkString(", ")
    val qSum = ks.map(i =>
      s"CASE WHEN n$i > 0 THEN 3000::HUGEINT * (r$i::HUGEINT * r$i // n$i)"
        + s" + 3000 * ((r$i % n$i) * (r$i % n$i) % n$i) // n$i ELSE 0 END")
      .mkString("\n       |      + ")
    val dfExpr = ks.map(i => s"(CASE WHEN n$i > 0 THEN 1 ELSE 0 END)")
      .mkString(" + ") + " - 1"
    val rows = Priorities.zipWithIndex.map { case (p, i) =>
      val k = i + 1
      s"""SELECT '$p' AS o_orderpriority, n$k AS n_items,
         |    r$k AS rank_sum_doubled,
         |    CASE WHEN n$k > 0 THEN (r$k::HUGEINT * 500 // n$k)::BIGINT
         |      ELSE 0 END AS mean_rank_milli,
         |    h_milli, h_tie_milli, df, significant_95, significant_99
         |  FROM f""".stripMargin
    }.mkString("\n       |  UNION ALL\n       |  ")
    s"""WITH cells AS (
       |  SELECT o_orderpriority,
       |    (l_shipdate::DATE - o_orderdate::DATE)::BIGINT AS lag_days,
       |    count(*)::BIGINT AS cnt
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2
       |), bylag AS (
       |  SELECT lag_days,
       |    $gDefs
       |  FROM cells GROUP BY 1
       |), ranked AS (
       |  SELECT *, ($tSum)::BIGINT AS t,
       |    coalesce(sum($tSum) OVER (ORDER BY lag_days
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |      AS cb
       |  FROM bylag
       |), s AS (
       |  SELECT $nDefs,
       |    $rDefs,
       |    sum(t::HUGEINT * t * t - t) AS stt,
       |    sum(t)::BIGINT AS n
       |  FROM ranked
       |), g AS (
       |  SELECT *,
       |    greatest(($qSum)
       |      // (n::HUGEINT * (n + 1)) - 3000 * (n + 1), 0)::BIGINT
       |      AS h_milli,
       |    (n::HUGEINT * n * n - n) AS nn3,
       |    ($dfExpr)::BIGINT AS df
       |  FROM s
       |), h AS (
       |  SELECT *,
       |    (CASE WHEN nn3 - stt > 0
       |      THEN (h_milli::HUGEINT * nn3 // (nn3 - stt))::BIGINT
       |      ELSE 0 END) AS h_tie_milli
       |  FROM g
       |), f AS (
       |  SELECT *,
       |    df >= 1 AND h_tie_milli >= (CASE df WHEN 1 THEN 3841
       |      WHEN 2 THEN 5991 WHEN 3 THEN 7815 WHEN 4 THEN 9488
       |      ELSE 0 END) AS significant_95,
       |    df >= 1 AND h_tie_milli >= (CASE df WHEN 1 THEN 6635
       |      WHEN 2 THEN 9210 WHEN 3 THEN 11345 WHEN 4 THEN 13277
       |      ELSE 0 END) AS significant_99
       |  FROM h
       |)
       |SELECT * FROM (
       |  $rows
       |) u
       |WHERE n_items > 0 ORDER BY o_orderpriority""".stripMargin
  }

  def shipLagSla(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = graft.PlanCache.cached(spark, s"relational.shipLag:$dir") {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship_day"))
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("ord_day"),
            col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"),
          datediff(col("ship_day"), col("ord_day")).cast("long")
            .as("lag_days"))
        .agg(count(lit(1)).as("cnt"))
    }
    val byP = Window.partitionBy(col("o_orderpriority"))
    val cumW = byP.orderBy(col("lag_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = cells
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .withColumn("n", sum(col("cnt")).over(byP))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col("o_orderpriority"))
      .agg(min(col("lag_days")).as("p50_lag_days"))
    val sla = cells.groupBy(col("o_orderpriority"))
      .agg(sum(col("cnt")).as("n_items"),
        sum(when(col("lag_days") <= 7, col("cnt")).otherwise(0L)).as("w7"),
        sum(when(col("lag_days") <= 30, col("cnt")).otherwise(0L)).as("w30"),
        max(col("lag_days")).as("max_lag_days"))
    sla.join(broadcast(med), Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n_items"), col("p50_lag_days"),
        expr("w7 * 10000 div n_items").as("sla_7d_bp"),
        expr("w30 * 10000 div n_items").as("sla_30d_bp"),
        col("max_lag_days"))
      .orderBy(col("o_orderpriority"))
  }

  def shipLagSlaSql: String =
    """WITH cells AS (
      |  SELECT o_orderpriority,
      |    (l_shipdate::DATE - o_orderdate::DATE)::BIGINT AS lag_days,
      |    count(*)::BIGINT AS cnt
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2
      |), c AS (
      |  SELECT o_orderpriority, lag_days, cnt,
      |    sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY lag_days
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM cells
      |), med AS (
      |  SELECT o_orderpriority, min(lag_days)::BIGINT AS p50_lag_days
      |  FROM c WHERE cum >= (n + 1) // 2 GROUP BY 1
      |), sla AS (
      |  SELECT o_orderpriority, sum(cnt)::BIGINT AS n_items,
      |    sum(CASE WHEN lag_days <= 7 THEN cnt ELSE 0 END)::BIGINT AS w7,
      |    sum(CASE WHEN lag_days <= 30 THEN cnt ELSE 0 END)::BIGINT AS w30,
      |    max(lag_days)::BIGINT AS max_lag_days
      |  FROM cells GROUP BY 1
      |)
      |SELECT sla.o_orderpriority, n_items, p50_lag_days,
      |  (w7 * 10000 // n_items)::BIGINT AS sla_7d_bp,
      |  (w30 * 10000 // n_items)::BIGINT AS sla_30d_bp,
      |  max_lag_days
      |FROM sla JOIN med ON sla.o_orderpriority = med.o_orderpriority
      |ORDER BY sla.o_orderpriority""".stripMargin

  /** Supplier-concentration audit (q187): per supplier nation — the
    * Herfindahl–Hirschman index of supplier revenue shares on the
    * standard 0..10000 scale (Σ share², the antitrust concentration
    * measure; ≥ 2500 is "highly concentrated" under the DOJ guideline),
    * the top supplier's share in bp, and the effective supplier count
    * (inverse-Simpson, milli) — how many EQUAL-sized suppliers the
    * nation behaves as. The supply-chain risk lens beside X106's
    * revenue stats: a nation can have many suppliers and still be
    * one-supplier fragile.
    *
    * All integer-exact: per-row revenue lifts to the cents grid
    * (round((price·(1−disc))·100) — both engines round the identical
    * binary double to integer); HHI = 10⁴·Σs² div T² and the
    * effective count T²·1000 div Σs² are single divisions in
    * decimal(38,0)/HUGEINT.
    *
    * Scale posture: lineitem collapses to (supplier, cents) with
    * map-side combine, joins the broadcast supplier dim for the
    * nation, then folds to |nations| rows carrying Σs/Σs²/max — the
    * fact table crosses the cluster once. */
  /** X180 supplier Lorenz concentration (q254): per nation, the exact
    * Gini coefficient of supplier revenue plus two Lorenz-curve reads —
    * the bottom-half revenue share and the top-decile share. The
    * DISTRIBUTIONAL concentration companion to q187 (HHI weights the
    * head quadratically; Gini prices the whole curve) and q226 (ABC
    * uses fixed 80/95 cuts; the Lorenz points report where THIS data
    * actually sits). Gini = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) on the
    * deterministic (cents asc, suppkey asc) rank — Σ rank·x is
    * invariant across tie orders, so the tie-break only pins engine
    * agreement. All integer; wide products on decimal(38,0)/HUGEINT.
    *
    * Scale posture: suppliers are a DIMENSION (content-bounded
    * against fact growth); the one corpus-scale pass is the suppkey
    * revenue collapse (map-side combinable); ranks window on the
    * nation partition of the supplier-grain table — ≤|suppliers| rows
    * total, never fact-scale, and never SinglePartition; output is
    * one row per nation. */
  def supplierLorenz(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sup = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"),
        expr("cast(round((l_extendedprice * (1 - l_discount)) * 100) " +
          "as bigint)").as("cents"))
      .groupBy(col("l_suppkey")).agg(sum(col("cents")).as("s"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").cast("long").as("nationkey"),
        col("l_suppkey"), col("s"))
    val byN = Window.partitionBy(col("nationkey"))
    val rw = byN.orderBy(col("s"), col("l_suppkey"))
    sup
      .withColumn("rnk", row_number().over(rw).cast("long"))
      .withColumn("n", count(lit(1)).over(byN))
      .groupBy(col("nationkey"))
      .agg(max(col("n")).as("n_suppliers"),
        sum(col("s")).as("revenue_cents"),
        sum(expr("cast(rnk as decimal(38,0)) * s")).as("rs"),
        sum(when(col("rnk") <= expr("n div 2"), col("s"))
          .otherwise(lit(0L))).as("bottom_half_cents"),
        sum(when(col("rnk") > expr("n - (n + 9) div 10"), col("s"))
          .otherwise(lit(0L))).as("top_decile_cents"))
      .select(col("nationkey"), col("n_suppliers"), col("revenue_cents"),
        expr("cast((2 * rs - cast(n_suppliers + 1 as decimal(38,0)) " +
          "* revenue_cents) * 10000 div " +
          "(cast(n_suppliers as decimal(38,0)) * revenue_cents) " +
          "as bigint)").as("gini_bp"),
        expr("cast(cast(bottom_half_cents as decimal(38,0)) * 10000 " +
          "div revenue_cents as bigint)").as("bottom_half_share_bp"),
        expr("cast(cast(top_decile_cents as decimal(38,0)) * 10000 " +
          "div revenue_cents as bigint)").as("top_decile_share_bp"))
      .orderBy(col("nationkey"))
  }

  def supplierLorenzSql: String =
    """WITH s AS (
      |  SELECT l_suppkey,
      |    sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100)
      |        AS BIGINT))::BIGINT AS s
      |  FROM lineitem GROUP BY 1
      |), sup AS (
      |  SELECT sn.s_nationkey::BIGINT AS nationkey, s.l_suppkey, s.s
      |  FROM s JOIN supplier sn ON sn.s_suppkey = s.l_suppkey
      |), ranked AS (
      |  SELECT nationkey, s,
      |    row_number() OVER (PARTITION BY nationkey
      |      ORDER BY s, l_suppkey)::BIGINT AS rnk,
      |    count(*) OVER (PARTITION BY nationkey)::BIGINT AS n
      |  FROM sup
      |), agg AS (
      |  SELECT nationkey, max(n)::BIGINT AS n_suppliers,
      |    sum(s)::BIGINT AS revenue_cents,
      |    sum(rnk::HUGEINT * s) AS rs,
      |    sum(CASE WHEN rnk <= n // 2 THEN s ELSE 0 END)::BIGINT
      |      AS bottom_half_cents,
      |    sum(CASE WHEN rnk > n - (n + 9) // 10 THEN s ELSE 0 END)::BIGINT
      |      AS top_decile_cents
      |  FROM ranked GROUP BY 1
      |)
      |SELECT nationkey, n_suppliers, revenue_cents,
      |  ((2 * rs - (n_suppliers + 1)::HUGEINT * revenue_cents) * 10000
      |    // (n_suppliers::HUGEINT * revenue_cents))::BIGINT AS gini_bp,
      |  (bottom_half_cents::HUGEINT * 10000 // revenue_cents)::BIGINT
      |    AS bottom_half_share_bp,
      |  (top_decile_cents::HUGEINT * 10000 // revenue_cents)::BIGINT
      |    AS top_decile_share_bp
      |FROM agg ORDER BY nationkey""".stripMargin

  def supplierHhi(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"),
        expr("cast(round((l_extendedprice * (1 - l_discount)) * 100) " +
          "as bigint)").as("cents"))
      .groupBy(col("l_suppkey")).agg(sum(col("cents")).as("s"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
    sup.groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("s")).as("revenue_cents"),
        sum(expr("cast(s as decimal(38,0)) * s")).as("sum_sq"),
        max(col("s")).as("top_cents"))
      .select(col("s_nationkey").cast("long").as("nationkey"),
        col("n_suppliers"), col("revenue_cents"),
        expr("cast(10000 * sum_sq div (cast(revenue_cents as decimal(38,0)) " +
          "* revenue_cents) as bigint)").as("hhi"),
        expr("top_cents * 10000 div revenue_cents").as("top_share_bp"),
        expr("cast(cast(revenue_cents as decimal(38,0)) * revenue_cents " +
          "* 1000 div sum_sq as bigint)").as("effective_suppliers_milli"))
      .orderBy(col("nationkey"))
  }

  def supplierHhiSql: String =
    """WITH s AS (
      |  SELECT l_suppkey,
      |    sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100)
      |        AS BIGINT))::BIGINT AS s
      |  FROM lineitem GROUP BY 1
      |), n AS (
      |  SELECT s_nationkey, s FROM s JOIN supplier ON l_suppkey = s_suppkey
      |)
      |SELECT s_nationkey::BIGINT AS nationkey,
      |  count(*)::BIGINT AS n_suppliers,
      |  sum(s)::BIGINT AS revenue_cents,
      |  ((10000::HUGEINT * sum(s::HUGEINT * s))
      |    // (sum(s)::HUGEINT * sum(s)))::BIGINT AS hhi,
      |  (max(s) * 10000 // sum(s))::BIGINT AS top_share_bp,
      |  ((sum(s)::HUGEINT * sum(s) * 1000) // sum(s::HUGEINT * s))::BIGINT
      |    AS effective_suppliers_milli
      |FROM n GROUP BY 1 ORDER BY nationkey""".stripMargin

  /** Repeat-purchase interval profile (q190): consecutive same-customer
    * order gaps in fixed day bands — purchase-cadence accounting, the
    * relational twin of q127's event-gap histogram and the lens that
    * calibrates q176's recency cutoffs ("how long is TOO long between
    * orders" is read off where the band share collapses; churn
    * definitions start here). Per band: gaps, distinct customers, and
    * share of all gaps in bp. Gap order is (o_orderdate, o_orderkey) —
    * the q122 tie rule on the order grain; day arithmetic is exact
    * integer datediff.
    *
    * Scale posture: ONE o_custkey window exchange (the q127 shape) —
    * orders project to three narrow columns first; the band rollup is
    * ≤4 rows with map-side combine + a broadcast 1-row total. */
  def repeatPurchaseGaps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day"), col("o_orderkey"))
    val gaps = graft.PlanCache.cached(spark, s"relational.orderGaps:$dir") {
      Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("day"))
        .withColumn("prev_day", lag(col("day"), 1).over(w))
        .filter(col("prev_day").isNotNull)
        .withColumn("gap_days", datediff(col("day"), col("prev_day"))
          .cast("long"))
        .groupBy(
          when(col("gap_days") <= 7, "a_le_7d")
            .when(col("gap_days") <= 30, "b_8_30d")
            .when(col("gap_days") <= 90, "c_31_90d")
            .otherwise("d_gt_90d").as("gap_band"))
        .agg(count(lit(1)).as("n_gaps"),
          countDistinct(col("o_custkey")).as("n_customers"))
    }
    val tot = gaps.agg(sum(col("n_gaps")).as("n_tot"))
    gaps.crossJoin(broadcast(tot))
      .select(col("gap_band"), col("n_gaps"), col("n_customers"),
        expr("n_gaps * 10000 div n_tot").as("share_bp"))
      .orderBy(col("gap_band"))
  }

  def repeatPurchaseGapsSql: String =
    """WITH seq AS (
      |  SELECT o_custkey,
      |    date_diff('day',
      |      lag(o_orderdate::DATE) OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate::DATE, o_orderkey),
      |      o_orderdate::DATE)::BIGINT AS gap_days
      |  FROM orders
      |), g AS (
      |  SELECT o_custkey,
      |    CASE WHEN gap_days <= 7 THEN 'a_le_7d'
      |      WHEN gap_days <= 30 THEN 'b_8_30d'
      |      WHEN gap_days <= 90 THEN 'c_31_90d'
      |      ELSE 'd_gt_90d' END AS gap_band
      |  FROM seq WHERE gap_days IS NOT NULL
      |), cells AS (
      |  SELECT gap_band, count(*)::BIGINT AS n_gaps,
      |    count(DISTINCT o_custkey)::BIGINT AS n_customers
      |  FROM g GROUP BY 1
      |), tot AS (SELECT sum(n_gaps)::BIGINT AS n_tot FROM cells)
      |SELECT gap_band, n_gaps, n_customers,
      |  (n_gaps * 10000 // tot.n_tot)::BIGINT AS share_bp
      |FROM cells CROSS JOIN tot ORDER BY gap_band""".stripMargin

  def integrityAuditSql: String = {
    def leg(name: String, child: String, ck: String,
            parent: String, pk: String): String =
      s"""SELECT '$name' AS relationship,
         |  count(*)::BIGINT AS n_child_rows,
         |  count(DISTINCT $ck)::BIGINT AS n_child_keys,
         |  sum(CASE WHEN $pk IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_orphan_rows,
         |  count(DISTINCT CASE WHEN $pk IS NULL THEN $ck END)::BIGINT
         |    AS n_orphan_keys
         |FROM $child
         |LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p ON $ck = p.$pk"""
        .stripMargin
    Seq(
      leg("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      leg("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      leg("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      leg("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      leg("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
      leg("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      leg("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY relationship")
  }

  // ---- X130: incremental-maintenance audit (q204) --------------------------

  /** X130 incremental aggregate-maintenance audit (q204): split the
    * event log at a deterministic cutoff (the last 7 calendar days are
    * the DELTA, everything before is the BASE materialization), merge
    * the delta's partial aggregate into the base aggregate, and prove
    * the merge equals a full recompute — then bill the efficiency: how
    * many groups the refresh touched vs the full table, and how many
    * rows it read. This is incremental view maintenance (Gupta &
    * Mumick 1995) as an oracle-gated audit — the refresh pattern every
    * materialized daily-revenue table runs at 100 TB, where "recompute
    * the world" is not an option. Sums and counts are self-mergeable
    * partial states, which is exactly why the engine's aggregates
    * stay in that family.
    *
    * Output (one row per event type): full groups, delta groups
    * touched, touch share bp, full rows, delta rows, delta row share
    * bp, and n_mismatch — the count of (type, day) cells where the
    * merged refresh disagrees with the full recompute (0 by
    * construction).
    *
    * NOTE on the audit column (ADVICE r17): since the round-17 shape
    * below, the "full recompute" side reads the SAME PlanCache'd cell
    * collapse the base/delta sides derive from, so the in-engine
    * n_mismatch no longer exercises an independent aggregation path —
    * merge-equals-recompute is validated by the DuckDB oracle twin,
    * which recomputes both sides from the raw event rows; the Spark
    * column remains as the merge-algebra check (partial-state sums
    * re-aggregated vs the cells themselves).
    *
    * Scale posture (round-17 shape): base/delta/full all derive from
    * the ONE cell collapse (filtering the cells at the cutoff IS
    * filtering the rows, because `day` is a grouping key); the merge
    * is a |cells|-row groupBy over cell slices; the comparison is a
    * full-outer join on the audit-sized cell table, never on rows. */
  def incrementalRefreshAudit(spark: SparkSession, dir: String,
                              deltaDays: Int = 7): DataFrame = {
    require(deltaDays > 0, s"incrementalRefreshAudit: bad window $deltaDays")
    // ROUND-17 SHAPE (§2.4 share one exchange): base, delta and full
    // are all derived from the ONE PlanCache'd (event_type, day) cell
    // collapse the calendar family (q189/q203/q206) already pays —
    // the grouping key contains `day`, so filtering the CELLS at the
    // cutoff is exactly filtering the ROWS before aggregating (the
    // old shape paid three separate corpus passes for provably the
    // same cells). The cutoff scalar likewise folds over cells.
    val cells = EventAnalytics.dayTypeCells(spark, dir)
      .select(col("event_type"), col("day"), col("c").as("n"), col("cents"))
    val cut = cells.agg(date_sub(max(col("day")), deltaDays - 1).as("cut"))
    val tagged = cells.crossJoin(broadcast(cut))
    val base = tagged.filter(col("day") < col("cut"))
      .select(col("event_type"), col("day"), col("n"), col("cents"))
    val delta = tagged.filter(col("day") >= col("cut"))
      .select(col("event_type"), col("day"), col("n"), col("cents"))
    // the refresh: merge partial states (sum of sums, sum of counts)
    val merged = base.unionByName(delta)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
    val full = cells
    val cmp = full
      .join(merged.select(col("event_type"), col("day"),
        col("n").as("n_m"), col("cents").as("cents_m")),
        Seq("event_type", "day"), "full")
      .select(col("event_type"), col("day"),
        when(col("n").isNull || col("n_m").isNull ||
          col("n") =!= col("n_m") || col("cents") =!= col("cents_m"), 1L)
          .otherwise(0L).as("mismatch"))
    val perType = cmp.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_groups_full"),
        sum(col("mismatch")).as("n_mismatch"))
    val deltaStats = delta.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_groups_delta"), sum(col("n")).as("rows_delta"))
    val fullStats = full.groupBy(col("event_type"))
      .agg(sum(col("n")).as("rows_full"))
    perType
      .join(deltaStats, Seq("event_type"), "left")
      .join(fullStats, Seq("event_type"))
      .select(col("event_type"), col("n_groups_full"),
        coalesce(col("n_groups_delta"), lit(0L)).as("n_groups_delta"),
        expr("coalesce(n_groups_delta, 0) * 10000 div n_groups_full")
          .as("touch_bp"),
        col("rows_full"),
        coalesce(col("rows_delta"), lit(0L)).as("rows_delta"),
        expr("coalesce(rows_delta, 0) * 10000 div rows_full")
          .as("delta_rows_bp"),
        col("n_mismatch"))
      .orderBy(col("event_type"))
  }

  def incrementalRefreshAuditSql(deltaDays: Int = 7): String =
    s"""WITH ev AS (
       |  SELECT event_type, ts::DATE AS day,
       |    CASE WHEN event_type = 'purchase'
       |      THEN round(value * 100)::BIGINT ELSE 0 END AS cents
       |  FROM events
       |), cut AS (
       |  SELECT max(day) - ${deltaDays - 1} AS cut FROM ev
       |), base AS (
       |  SELECT event_type, day, count(*)::BIGINT AS n,
       |    sum(cents)::BIGINT AS cents
       |  FROM ev CROSS JOIN cut WHERE day < cut GROUP BY 1, 2
       |), delta AS (
       |  SELECT event_type, day, count(*)::BIGINT AS n,
       |    sum(cents)::BIGINT AS cents
       |  FROM ev CROSS JOIN cut WHERE day >= cut GROUP BY 1, 2
       |), merged AS (
       |  SELECT event_type, day, sum(n)::BIGINT AS n,
       |    sum(cents)::BIGINT AS cents
       |  FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
       |  GROUP BY 1, 2
       |), f AS (
       |  SELECT event_type, day, count(*)::BIGINT AS n,
       |    sum(cents)::BIGINT AS cents
       |  FROM ev GROUP BY 1, 2
       |), cmp AS (
       |  SELECT coalesce(f.event_type, m.event_type) AS event_type,
       |    CASE WHEN f.n IS NULL OR m.n IS NULL OR f.n <> m.n
       |      OR f.cents <> m.cents THEN 1 ELSE 0 END AS mismatch
       |  FROM f FULL JOIN merged m USING (event_type, day)
       |), pt AS (
       |  SELECT event_type, count(*)::BIGINT AS n_groups_full,
       |    sum(mismatch)::BIGINT AS n_mismatch
       |  FROM cmp GROUP BY 1
       |), ds AS (
       |  SELECT event_type, count(*)::BIGINT AS n_groups_delta,
       |    sum(n)::BIGINT AS rows_delta
       |  FROM delta GROUP BY 1
       |), fs AS (
       |  SELECT event_type, sum(n)::BIGINT AS rows_full FROM f GROUP BY 1
       |)
       |SELECT pt.event_type, pt.n_groups_full,
       |  coalesce(ds.n_groups_delta, 0)::BIGINT AS n_groups_delta,
       |  (coalesce(ds.n_groups_delta, 0) * 10000 // pt.n_groups_full)::BIGINT
       |    AS touch_bp,
       |  fs.rows_full, coalesce(ds.rows_delta, 0)::BIGINT AS rows_delta,
       |  (coalesce(ds.rows_delta, 0) * 10000 // fs.rows_full)::BIGINT
       |    AS delta_rows_bp,
       |  pt.n_mismatch
       |FROM pt LEFT JOIN ds USING (event_type) JOIN fs USING (event_type)
       |ORDER BY pt.event_type""".stripMargin

  // ---- X134: Pareto-skyline supplier election (q208) -----------------------

  /** X134 Pareto-skyline supplier election (q208): per region, the
    * suppliers NOT dominated on (unit price ↓, account balance ↑) — a
    * supplier is dominated when another in its region is no worse on
    * both objectives and strictly better on at least one (Börzsönyi,
    * Kossmann & Stocker 2001, "The Skyline Operator"). This is the
    * multi-objective shortlist a sourcing decision actually wants:
    * q187's HHI reads concentration, this elects the efficient
    * frontier to concentrate ON. Unit price is the supplier's billed
    * tenth-cents per unit (cents·10 div qty — exact integer); balances
    * ride the exact cent grid. Suppliers with no lineitems are out of
    * scope (no price signal).
    *
    * Dominance device — NEVER the quadratic self-join: within a region
    * order by unit price; a supplier is dominated iff the max balance
    * among STRICTLY CHEAPER suppliers reaches its balance (RANGE frame
    * to 1 PRECEDING), or a SAME-PRICED supplier strictly exceeds it
    * (per-(region, price) max). Two window passes, O(n log n), exact
    * for the strict-in-one tie rule: equal (price, balance) points
    * dominate neither and both stay on the frontier.
    *
    * Scale posture: the corpus pass is ONE map-side-combinable
    * l_suppkey aggregate (PlanCache-shared); the skyline runs over the
    * supplier-sized bill joined to broadcast dims, so the windows'
    * region partitions are dim-bounded at any corpus scale. */
  def supplierSkyline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bill = graft.PlanCache.cached(spark, s"relational.supplierBill:$dir") {
      Tables.lineitem(spark, dir)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(expr("cast(round(l_quantity) as bigint)")).as("qty"),
          sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
            .as("cents"))
    }
    val dims = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("r_name"),
        expr("cast(round(s_acctbal * 100) as bigint)").as("bal_cents"))
    val scored = bill.join(dims, col("l_suppkey") === col("s_suppkey"))
      .select(col("r_name"), col("s_suppkey"), col("n_items"),
        expr("cents * 10 div qty").as("unit_tenth_cents"), col("bal_cents"))
    val cheaper = Window.partitionBy(col("r_name"))
      .orderBy(col("unit_tenth_cents"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val samePrice = Window.partitionBy(col("r_name"), col("unit_tenth_cents"))
    scored
      .withColumn("best_cheaper_bal", max(col("bal_cents")).over(cheaper))
      .withColumn("best_same_bal", max(col("bal_cents")).over(samePrice))
      .filter(!(coalesce(col("best_cheaper_bal") >= col("bal_cents"),
        lit(false)) || col("best_same_bal") > col("bal_cents")))
      .select(col("r_name"), col("s_suppkey"), col("n_items"),
        col("unit_tenth_cents"), col("bal_cents"))
      .orderBy(col("r_name"), col("unit_tenth_cents"), col("s_suppkey"))
  }

  def supplierSkylineSql: String =
    """WITH bill AS (
      |  SELECT l_suppkey, count(*)::BIGINT AS n_items,
      |    sum(round(l_quantity)::BIGINT)::BIGINT AS qty,
      |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS cents
      |  FROM lineitem GROUP BY 1
      |), dims AS (
      |  SELECT s_suppkey, r_name,
      |    CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents
      |  FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |), scored AS (
      |  SELECT r_name, s_suppkey, n_items,
      |    (cents * 10 // qty) AS unit_tenth_cents, bal_cents
      |  FROM bill JOIN dims ON l_suppkey = s_suppkey
      |), flagged AS (
      |  SELECT r_name, s_suppkey, n_items, unit_tenth_cents, bal_cents,
      |    max(bal_cents) OVER (PARTITION BY r_name ORDER BY unit_tenth_cents
      |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS best_cheaper_bal,
      |    max(bal_cents) OVER (PARTITION BY r_name, unit_tenth_cents)
      |      AS best_same_bal
      |  FROM scored
      |)
      |SELECT r_name, s_suppkey, n_items, unit_tenth_cents, bal_cents
      |FROM flagged
      |WHERE NOT (coalesce(best_cheaper_bal >= bal_cents, false)
      |  OR best_same_bal > bal_cents)
      |ORDER BY r_name, unit_tenth_cents, s_suppkey""".stripMargin

  /** X152 ABC/Pareto revenue classification (q226): parts split into the
    * classic inventory classes — A carries the first ~80% of revenue
    * mass, B the next ~15%, C the tail — with exact part counts, revenue
    * and share per class. The 80/20 working read behind stocking policy,
    * cache admission and shard-tiering decisions: q213 prices engagement
    * deciles per USER, this prices revenue concentration per SKU, and
    * q187's HHI is its one-number summary.
    *
    * Class boundaries are elected on a permille-of-max revenue grid
    * (cell = rev·1000 div max_rev, ≤1001 cells at ANY corpus scale), so
    * whole tie-cells land in one class (the q213 tie-stable rule) and
    * the corpus never sorts: a per-part cumulative would need a global
    * order; the cell histogram needs only the bounded triangle fold.
    * Revenue rides the exact cents grid; the cum·100 / total·95
    * products stay under 2^63 for any corpus a BIGINT revenue sum fits.
    *
    * Scale posture: lineitem collapses once to the part-revenue table
    * (map-side combine, the only corpus shuffle — PlanCache'd for the
    * max/cells branches); the permille histogram is ≤1001 rows, its
    * cumulative the q167 broadcast triangle; classes fold to 3 rows. */
  def abcClasses(spark: SparkSession, dir: String): DataFrame = {
    val pr = graft.PlanCache.cached(spark, s"relational.partRevenue:$dir") {
      Tables.lineitem(spark, dir)
        .select(col("l_partkey"),
          expr("cast(round((l_extendedprice * (1 - l_discount)) * 100) " +
            "as bigint)").as("cents"))
        .groupBy(col("l_partkey")).agg(sum(col("cents")).as("rev"))
    }
    val mx = pr.agg(max(col("rev")).as("maxr"))
    // cells is read three times (triangle left side, `hi`, `tot`) —
    // a seam materializes the ≤1000-row grid once instead of re-running
    // the crossJoin+collapse per reference (§2.4)
    val cells = graft.PlanCache.cached(spark, s"relational.abcCells:$dir") {
      pr.crossJoin(broadcast(mx))
        .select(expr("rev * 1000 div maxr").as("cell"), col("rev"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("cell_parts"), sum(col("rev")).as("mass"))
    }
    val tot = cells.agg(sum(col("mass")).as("total"))
    val hi = cells.select(col("cell").as("c2"), col("mass").as("m2"))
    cells.join(broadcast(hi), col("c2") > col("cell"), "left")
      .groupBy(col("cell"), col("cell_parts"), col("mass"))
      .agg(coalesce(sum(col("m2")), lit(0L)).as("cum_above"))
      .crossJoin(broadcast(tot))
      .select(
        when(col("cum_above") * 100 < col("total") * 80, "A")
          .when(col("cum_above") * 100 < col("total") * 95, "B")
          .otherwise("C").as("abc_class"),
        col("cell_parts"), col("mass"), col("total"))
      .groupBy(col("abc_class"), col("total"))
      .agg(sum(col("cell_parts")).as("n_parts"),
        sum(col("mass")).as("revenue_cents"))
      .select(col("abc_class"), col("n_parts"), col("revenue_cents"),
        expr("cast(cast(revenue_cents as decimal(38,0)) * 10000 div total " +
          "as bigint)").as("share_bp"))
      .orderBy(col("abc_class"))
  }

  def abcClassesSql: String =
    """WITH pr AS (
      |  SELECT l_partkey,
      |    sum(CAST(round((l_extendedprice * (1 - l_discount)) * 100)
      |        AS BIGINT))::BIGINT AS rev
      |  FROM lineitem GROUP BY 1
      |), mx AS (
      |  SELECT max(rev)::BIGINT AS maxr FROM pr
      |), cells AS (
      |  SELECT (rev * 1000 // maxr)::BIGINT AS cell,
      |    count(*)::BIGINT AS cell_parts, sum(rev)::BIGINT AS mass
      |  FROM pr CROSS JOIN mx GROUP BY 1
      |), tot AS (
      |  SELECT sum(mass)::BIGINT AS total FROM cells
      |), cum AS (
      |  SELECT a.cell, a.cell_parts, a.mass,
      |    coalesce(sum(b.mass), 0)::BIGINT AS cum_above
      |  FROM cells a LEFT JOIN cells b ON b.cell > a.cell
      |  GROUP BY 1, 2, 3
      |), cls AS (
      |  SELECT CASE WHEN cum_above * 100 < total * 80 THEN 'A'
      |    WHEN cum_above * 100 < total * 95 THEN 'B'
      |    ELSE 'C' END AS abc_class, cell_parts, mass, total
      |  FROM cum CROSS JOIN tot
      |)
      |SELECT abc_class, sum(cell_parts)::BIGINT AS n_parts,
      |  sum(mass)::BIGINT AS revenue_cents,
      |  (sum(mass)::HUGEINT * 10000 // total)::BIGINT AS share_bp
      |FROM cls GROUP BY abc_class, total ORDER BY abc_class""".stripMargin
}
