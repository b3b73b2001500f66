package graft

import java.sql.Timestamp
import java.time.LocalDateTime

import graft.operators.Relational

/** Relational segmentation devices — exact-quartile semantics on planted
  * order histories. */
class RelationalOpsSpec extends SparkSpec {
  import spark.implicits._

  private def day(d: Int): Timestamp =
    Timestamp.valueOf(LocalDateTime.of(2024, 1, 1, 0, 0).plusDays(d.toLong))

  test("rfmSegments (q176): histogram-elected quartile cutoffs, exact scores") {
    val dir = tempDir("graft_rfm").toString
    // 8 customers on a fully controlled metric grid:
    //   recency days   0,1,2,3,4,5,6,7  → cutoffs 1/3/5 → scores 4,4,3,3,2,2,1,1
    //   frequency      1,1,2,2,3,3,4,4  → cutoffs 1/2/3 → scores 1,1,2,2,3,3,4,4
    //   dollars        10..80 step 10   → cutoffs 20/40/60 → scores 1,1,2,2,3,3,4,4
    val rDays = Seq(0, 1, 2, 3, 4, 5, 6, 7)
    val freq = Seq(1, 1, 2, 2, 3, 3, 4, 4)
    val dollars = Seq(10, 20, 30, 40, 50, 60, 70, 80)
    val refDay = 100
    var ok = 0L
    val rows = (0 until 8).flatMap { i =>
      val cust = (i + 1).toLong
      val last = refDay - rDays(i)
      // last order carries the remainder so cents sum to dollars(i)·100
      (0 until freq(i)).map { j =>
        ok += 1
        val price = if (j == freq(i) - 1) (dollars(i) - (freq(i) - 1)).toDouble
                    else 1.0
        (ok, cust, "O", price, day(last - (freq(i) - 1 - j)), "1-URGENT")
      }
    }
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    val out = Relational.rfmSegments(spark, dir).collect()
    assert(out.length == 4, s"expected 4 cells, got ${out.length}")
    def cell(seg: String, r: Long, f: Long, m: Long): (Long, Long, Long) = {
      val row = out.find(x => x.getAs[String]("segment") == seg &&
        x.getAs[Long]("r_score") == r && x.getAs[Long]("f_score") == f &&
        x.getAs[Long]("m_score") == m)
        .getOrElse(fail(s"missing cell ($seg,$r,$f,$m): ${out.mkString(";")}"))
      (row.getAs[Long]("n_customers"), row.getAs[Long]("n_orders"),
        row.getAs[Long]("cents"))
    }
    assert(cell("b_recent", 4L, 1L, 1L) == ((2L, 2L, 3000L)))
    assert(cell("b_recent", 3L, 2L, 2L) == ((2L, 4L, 7000L)))
    assert(cell("c_at_risk", 2L, 3L, 3L) == ((2L, 6L, 11000L)))
    assert(cell("c_at_risk", 1L, 4L, 4L) == ((2L, 8L, 15000L)))
  }

  test("rfmSegments: single-customer corpus lands every metric in the top cell") {
    val dir = tempDir("graft_rfm1").toString
    Seq((1L, 1L, "O", 42.0, day(5), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    val out = Relational.rfmSegments(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    // one customer: every cutoff equals its own value, nothing exceeds →
    // r_score 4 (fresh), f/m score 1 (nothing to beat)
    assert(r.getAs[String]("segment") == "b_recent")
    assert(r.getAs[Long]("r_score") == 4L && r.getAs[Long]("f_score") == 1L &&
      r.getAs[Long]("m_score") == 1L)
    assert(r.getAs[Long]("n_customers") == 1L &&
      r.getAs[Long]("cents") == 4200L)
  }

  test("benfordAudit (q181): exact digit extraction on the cents grid") {
    val dir = tempDir("graft_benford").toString
    // prices chosen so cents leading digits are controlled:
    // 1.00→100(1), 12.34→1234(1), 0.25→25(2), 2.00→200(2), 9.99→999(9)
    Seq((1L, 1L, "O", 1.00, day(1), "1-URGENT"),
      (2L, 1L, "O", 12.34, day(2), "1-URGENT"),
      (3L, 2L, "O", 0.25, day(3), "1-URGENT"),
      (4L, 2L, "O", 2.00, day(4), "1-URGENT"),
      (5L, 3L, "O", 9.99, day(5), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    // empty lineitem leg with the right schema
    Seq.empty[(Long, Long, Long, Long, Double, Double, Double, Double,
        String, String, java.sql.Timestamp)]
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .repartition(1) // force a schema-bearing (empty) footer on disk
      .write.parquet(s"$dir/lineitem.parquet")
    val out = Relational.benfordAudit(spark, dir).collect()
    assert(out.forall(_.getAs[String]("measure") == "o_totalprice"))
    val byDigit = out.map(r => r.getAs[String]("digit") -> r).toMap
    assert(byDigit.keySet == Set("1", "2", "9"))
    assert(byDigit("1").getAs[Long]("n_values") == 2L)
    assert(byDigit("1").getAs[Long]("obs_bp") == 4000L)
    assert(byDigit("1").getAs[Long]("benford_bp") == 3010L)
    assert(byDigit("1").getAs[Long]("dev_bp") == 990L)
    assert(byDigit("2").getAs[Long]("obs_bp") == 4000L)
    assert(byDigit("9").getAs[Long]("benford_bp") == 458L)
    assert(byDigit("9").getAs[Long]("dev_bp") == 2000L - 458L)
  }

  test("fdAudit (q183): holding and violated dependencies, exact fanout algebra") {
    val dir = tempDir("graft_fd").toString
    // customer: c_custkey -> c_nationkey HOLDS (keys 1,2,3 each one nation)
    Seq((1L, "a", 10, 1.0, "m"), (2L, "b", 10, 1.0, "m"),
      (3L, "c", 20, 1.0, "m"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    // orders: o_orderkey -> o_custkey HOLDS (pk)
    Seq((1L, 1L, "O", 1.0, day(1), "p"), (2L, 2L, "O", 1.0, day(2), "p"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    // lineitem: order 1 spans suppliers 7 and 8 (violates l_orderkey->l_suppkey
    // with fanout 2); part 5 ships from suppliers 7 and 8 (violates
    // l_partkey->l_suppkey); part 6 from supplier 7 only. A duplicate
    // (order 1, supplier 7) row must NOT inflate the distinct pair count.
    Seq((1L, 5L, 7L, 1L, 1.0, 1.0, 0.0, 0.0, "N", "O", day(1)),
      (1L, 5L, 7L, 2L, 1.0, 1.0, 0.0, 0.0, "N", "O", day(1)),
      (1L, 5L, 8L, 3L, 1.0, 1.0, 0.0, 0.0, "N", "O", day(1)),
      (2L, 6L, 7L, 1L, 1.0, 1.0, 0.0, 0.0, "N", "O", day(2)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = Relational.fdAudit(spark, dir).collect()
      .map(r => r.getAs[String]("dependency") -> r).toMap
    assert(out.size == 4)
    val cust = out("customer: c_custkey->c_nationkey")
    assert(cust.getAs[Boolean]("fd_holds") && cust.getAs[Long]("n_keys") == 3L)
    assert(cust.getAs[Long]("violation_bp") == 0L)
    val ord = out("orders: o_orderkey->o_custkey")
    assert(ord.getAs[Boolean]("fd_holds") && ord.getAs[Long]("max_fanout") == 1L)
    val los = out("lineitem: l_orderkey->l_suppkey")
    assert(!los.getAs[Boolean]("fd_holds"))
    assert(los.getAs[Long]("n_keys") == 2L && los.getAs[Long]("n_pairs") == 3L)
    assert(los.getAs[Long]("n_violating") == 1L &&
      los.getAs[Long]("max_fanout") == 2L)
    assert(los.getAs[Long]("violation_bp") == 5000L)
    val lps = out("lineitem: l_partkey->l_suppkey")
    assert(!lps.getAs[Boolean]("fd_holds") &&
      lps.getAs[Long]("violation_bp") == 5000L)
  }

  test("basketPairs (q184): distinct baskets, pair supports, exact lift") {
    val dir = tempDir("graft_basket").toString
    def li(ok: Long, pk: Long, ln: Long) =
      (ok, pk, 1L, ln, 1.0, 1.0, 0.0, 0.0, "N", "O", day(1))
    // order 1: {5,6,7}; order 2: {5,6}; order 3: {5,5,6} (dup line must
    // not double-count); order 4: {9} (no pairs, still a basket)
    Seq(li(1, 5, 1), li(1, 6, 2), li(1, 7, 3),
      li(2, 5, 1), li(2, 6, 2),
      li(3, 5, 1), li(3, 5, 2), li(3, 6, 3),
      li(4, 9, 1))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = Relational.basketPairs(spark, dir).collect()
    assert(out.length == 3)
    val first = out.head
    assert(first.getAs[Long]("part_a") == 5L && first.getAs[Long]("part_b") == 6L)
    assert(first.getAs[Long]("support") == 3L)
    assert(first.getAs[Long]("n_a") == 3L && first.getAs[Long]("n_b") == 3L)
    assert(first.getAs[Long]("n_baskets") == 4L)
    // 3·4·10⁴ div 9 = 13333
    assert(first.getAs[Long]("lift_bp") == 13333L)
    // remaining pairs tie at support 1 → ordered (5,7) then (6,7)
    assert(out(1).getAs[Long]("part_a") == 5L && out(1).getAs[Long]("part_b") == 7L)
    assert(out(2).getAs[Long]("part_a") == 6L && out(2).getAs[Long]("part_b") == 7L)
    // 1·4·10⁴ div (3·1) = 13333
    assert(out(1).getAs[Long]("lift_bp") == 13333L)
  }

  test("supplierHhi (q187): exact cents grid, HHI, top share, effective count") {
    val dir = tempDir("graft_hhi").toString
    def li(ok: Long, sk: Long, price: Double, disc: Double, ln: Long) =
      (ok, 1L, sk, ln, 1.0, price, disc, 0.0, "N", "O", day(1))
    // nation 10: supplier 1 → 100+200 = 300 cents; supplier 2 → 2·(1−.5) = 100
    // nation 20: supplier 3 alone → 500
    Seq(li(1, 1, 1.0, 0.0, 1), li(1, 1, 2.0, 0.0, 2),
      li(2, 2, 2.0, 0.5, 1), li(3, 3, 5.0, 0.0, 1))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, "s1", 10, 0.0), (2L, "s2", 10, 0.0), (3L, "s3", 20, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$dir/supplier.parquet")
    val out = Relational.supplierHhi(spark, dir).collect()
      .map(r => r.getAs[Long]("nationkey") -> r).toMap
    val n10 = out(10L)
    assert(n10.getAs[Long]("n_suppliers") == 2L &&
      n10.getAs[Long]("revenue_cents") == 400L)
    // 10⁴·(300² + 100²) div 400² = 10⁴·100000 div 160000 = 6250
    assert(n10.getAs[Long]("hhi") == 6250L)
    assert(n10.getAs[Long]("top_share_bp") == 7500L)
    // 400²·1000 div 100000 = 1600 — "1.6 effective suppliers"
    assert(n10.getAs[Long]("effective_suppliers_milli") == 1600L)
    val n20 = out(20L)
    assert(n20.getAs[Long]("hhi") == 10000L &&
      n20.getAs[Long]("top_share_bp") == 10000L &&
      n20.getAs[Long]("effective_suppliers_milli") == 1000L)
  }

  test("repeatPurchaseGaps (q190): consecutive-order day gaps, band shares") {
    val dir = tempDir("graft_gaps").toString
    def o(ok: Long, ck: Long, d: Int) =
      (ok, ck, "O", 1.0, day(d), "1-URGENT")
    // cust 1: days 1, 5, 40 → gaps 4 (a band), 35 (c); cust 2: 1, 200 → 199 (d)
    Seq(o(1, 1, 1), o(2, 1, 5), o(3, 1, 40), o(4, 2, 1), o(5, 2, 200))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    val out = Relational.repeatPurchaseGaps(spark, dir).collect()
      .map(r => r.getAs[String]("gap_band") ->
        (r.getAs[Long]("n_gaps"), r.getAs[Long]("n_customers"),
          r.getAs[Long]("share_bp"))).toMap
    assert(out.size == 3)
    assert(out("a_le_7d") == ((1L, 1L, 3333L)))
    assert(out("c_31_90d") == ((1L, 1L, 3333L)))
    assert(out("d_gt_90d") == ((1L, 1L, 3333L)))
  }

  test("supplierSkyline (q208): exact dominance with the strict-in-one tie rule") {
    val dir = tempDir("graft_skyline").toString
    Seq((0L, "R1"), (1L, "R2")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    Seq((10L, "N1", 0L), (11L, "N2", 1L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    // R1: S1 (unit 10000, bal 10000), S2 (5000, 5000), S3 (10000, 9000 —
    // same-price-dominated by S1), S4 (12000, 10000 — dominated by S1),
    // S5 (5000, 5000 — equal point to S2: BOTH stay). R2: S6 alone.
    Seq((1L, "S1", 10L, 100.0), (2L, "S2", 10L, 50.0), (3L, "S3", 10L, 90.0),
      (4L, "S4", 10L, 100.0), (5L, "S5", 10L, 50.0), (6L, "S6", 11L, -5.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$dir/supplier.parquet")
    // (suppkey, qty, price): unit_tenth_cents = round(price·100)·10 div qty
    Seq((1L, 2.0, 20.0), (2L, 2.0, 10.0), (3L, 1.0, 10.0), (4L, 1.0, 12.0),
      (5L, 4.0, 20.0), (6L, 1.0, 99.0))
      .toDF("l_suppkey", "l_quantity", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = Relational.supplierSkyline(spark, dir).collect()
      .map(r => (r.getAs[String]("r_name"), r.getAs[Long]("s_suppkey"),
        r.getAs[Long]("unit_tenth_cents"), r.getAs[Long]("bal_cents")))
    assert(out.toSeq == Seq(("R1", 2L, 5000L, 5000L),
      ("R1", 5L, 5000L, 5000L), ("R1", 1L, 10000L, 10000L),
      ("R2", 6L, 99000L, -500L)),
      s"skyline mismatch: ${out.mkString(", ")}")
  }

  test("basketTriples (q212): canonical triple fan-out, support and lift exact") {
    val dir = tempDir("graft_triples").toString
    // order 1: {1,2,3} (with a duplicate part 1 line — sets dedup);
    // order 2: {1,2,3,4}; order 3: {1,2} (too small for a triple)
    Seq((1L, 1L), (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L), (2L, 3L), (2L, 4L),
      (3L, 1L), (3L, 2L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = Relational.basketTriples(spark, dir).collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"),
        r.getAs[Long]("part_c"), r.getAs[Long]("support"),
        r.getAs[Long]("lift_bp")))
    // N = 3 baskets; part orders: p1 3, p2 3, p3 2, p4 1
    // (1,2,3): 2·9·10⁴ div (3·3·2) = 10000; (1,2,4): 1·9·10⁴ div 9 =
    // 10000; (1,3,4) and (2,3,4): 1·9·10⁴ div 6 = 15000
    assert(out.toSeq == Seq((1L, 2L, 3L, 2L, 10000L),
      (1L, 2L, 4L, 1L, 10000L), (1L, 3L, 4L, 1L, 15000L),
      (2L, 3L, 4L, 1L, 15000L)), s"got ${out.mkString(", ")}")
  }

  test("dependenceAudit (q214): exact FD scores 10000, independence 0") {
    val dir = tempDir("graft_dep").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // returnflag ↔ linestatus is a perfect two-way FD; quantity is
    // independent of returnflag (uniform 2×2); shipmonth is CONSTANT so
    // conditioning on it buys nothing. Uniform powers of two make every
    // milli-bit entropy exact: H = 1000 mb, H(·|indep) = 1000 mb.
    Seq(("A", "X", 1.0, ts("1970-01-10 00:00:00")),
      ("A", "X", 2.0, ts("1970-01-11 00:00:00")),
      ("B", "Y", 1.0, ts("1970-01-12 00:00:00")),
      ("B", "Y", 2.0, ts("1970-01-13 00:00:00")))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = Relational.dependenceAudit(spark, dir).collect()
      .map(r => r.getAs[String]("dependency") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_cells"),
          r.getAs[Long]("h_b_mb"), r.getAs[Long]("h_b_given_a_mb"),
          r.getAs[Long]("dependence_bp"))).toMap
    assert(out.size == 4)
    assert(out("a_returnflag_to_linestatus") == ((4L, 2L, 1000L, 0L, 10000L)))
    assert(out("b_linestatus_to_returnflag") == ((4L, 2L, 1000L, 0L, 10000L)))
    assert(out("c_quantity_to_returnflag") == ((4L, 4L, 1000L, 1000L, 0L)))
    assert(out("d_shipmonth_to_linestatus") == ((4L, 2L, 1000L, 1000L, 0L)))
  }

  test("shipLagSla (q223): exact medians and SLA shares per priority") {
    val dir = tempDir("graft_sla").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, "P1", ts("1970-01-01 00:00:00")),
      (2L, "P1", ts("1970-01-01 00:00:00")),
      (3L, "P2", ts("1970-01-01 00:00:00")))
      .toDF("o_orderkey", "o_orderpriority", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    // P1 lags: 2, 10, 40 → median 10, w7 1, w30 2, max 40
    // P2 lags: 5 → all within 7d
    Seq((1L, ts("1970-01-03 00:00:00")), (1L, ts("1970-01-11 00:00:00")),
      (2L, ts("1970-02-10 00:00:00")), (3L, ts("1970-01-06 00:00:00")))
      .toDF("l_orderkey", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = Relational.shipLagSla(spark, dir).collect()
      .map(r => r.getAs[String]("o_orderpriority") ->
        (r.getAs[Long]("n_items"), r.getAs[Long]("p50_lag_days"),
          r.getAs[Long]("sla_7d_bp"), r.getAs[Long]("sla_30d_bp"),
          r.getAs[Long]("max_lag_days"))).toMap
    assert(out("P1") == ((3L, 10L, 3333L, 6666L, 40L)))
    assert(out("P2") == ((1L, 5L, 10000L, 10000L, 5L)))
  }

  test("mannWhitney (q253): doubled midranks and z on a hand-ranked tie fixture") {
    val dir = tempDir("graft_mw").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, "1-URGENT", ts("1970-01-01 00:00:00")),
      (2L, "3-MEDIUM", ts("1970-01-01 00:00:00")))
      .toDF("o_orderkey", "o_orderpriority", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    // urgent lags {1, 1, 2}, routine {2, 3}: ranks with doubled
    // midranks — the 1s span ranks 1-2 (doubled 3 each), the 2s span
    // 3-4 (doubled 7 each) -> r1d = 2*3 + 7 = 13, U1 doubled =
    // 2*6 + 12 - 13 = 11 > n1*n2 = 6 -> urgent faster;
    // var = 3*2*6 div 12 ... = 3*2*(5+1) div 12 = 3 -> isqrt 1;
    // z = |11-6|*1000 div 2 = 2500
    Seq((1L, ts("1970-01-02 00:00:00")), (1L, ts("1970-01-02 00:00:00")),
      (1L, ts("1970-01-03 00:00:00")),
      (2L, ts("1970-01-03 00:00:00")), (2L, ts("1970-01-04 00:00:00")))
      .toDF("l_orderkey", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val r = Relational.mannWhitney(spark, dir).collect().head
    assert(r.getAs[Long]("n_urgent") == 3L && r.getAs[Long]("n_routine") == 2L)
    assert(r.getAs[Long]("u1_doubled") == 11L,
      s"u1d ${r.getAs[Long]("u1_doubled")}")
    assert(r.getAs[String]("direction") == "a_urgent_faster")
    assert(r.getAs[Long]("z_abs_milli") == 2500L,
      s"z ${r.getAs[Long]("z_abs_milli")}")
    assert(r.getAs[Boolean]("significant_95") &&
      !r.getAs[Boolean]("significant_99"))
  }

  test("orderBacklog (q263): hand-walked end-of-day series and Little's-law wait") {
    val dir = tempDir("graft_blog").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, ts("1970-01-01 00:00:00")), (2L, ts("1970-01-03 00:00:00")))
      .toDF("o_orderkey", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    // o1 ships day 3, o2 ships same-day (day 2): deltas +1@0 +1@2 -1@2
    // -1@3 -> end-of-day backlog 1,1,1,0 -> sum 3, avg 750 milli,
    // peak 1 first at day 0, wait = 3*1000 div 2 = 1500 milli-days
    Seq((1L, ts("1970-01-04 00:00:00")), (2L, ts("1970-01-03 00:00:00")))
      .toDF("l_orderkey", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val r = Relational.orderBacklog(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("year") == 1970L)
    assert(row.getAs[Long]("n_days") == 4L)
    assert(row.getAs[Long]("arrivals") == 2L &&
      row.getAs[Long]("departures") == 2L)
    assert(row.getAs[Long]("avg_backlog_milli") == 750L,
      s"avg ${row.getAs[Long]("avg_backlog_milli")}")
    assert(row.getAs[Long]("peak_backlog") == 1L)
    assert(row.getAs[java.sql.Date]("peak_day").toString == "1970-01-01")
    assert(row.getAs[Long]("min_backlog") == 0L)
    assert(row.getAs[Long]("implied_wait_days_milli") == 1500L,
      s"wait ${row.getAs[Long]("implied_wait_days_milli")}")
  }

  test("benfordGof (q262): hand-walked chi2 over the dense digit grid; Nigrini MAD bands") {
    val dir = tempDir("graft_bgof").toString
    // lineitem digits: one of each 1..9 plus an extra 1 (N=10);
    // per-digit contribs (milli) hand-floored: 338+328+49+0+54+163+
    // 304+465+641 = 2342; SAD of floored bp devs = 4040 -> MAD 448
    val prices = (1 to 9).map(_.toDouble) :+ 1.0
    prices.map(p => (1L, p)).toDF("l_orderkey", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    // orders: a single 1.00 row -> chi2 = 1623 + sum(bp div 10 for
    // d=2..9) = 2318; MAD = (6990+6990) div 9 = 1553
    Seq((1L, 1.0)).toDF("o_orderkey", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val out = Relational.benfordGof(spark, dir).collect()
      .map(r => r.getAs[String]("measure") ->
        ((r.getAs[Long]("n_values"), r.getAs[Long]("chi2_milli"),
          r.getAs[Long]("df"), r.getAs[Boolean]("significant_95"),
          r.getAs[Long]("mad_bp"), r.getAs[String]("conformity")))).toMap
    assert(out("l_extendedprice") ==
      ((10L, 2342L, 8L, false, 448L, "d_nonconforming")),
      s"got ${out("l_extendedprice")}")
    assert(out("o_totalprice") ==
      ((1L, 2318L, 8L, false, 1553L, "d_nonconforming")),
      s"got ${out("o_totalprice")}")
  }

  test("chiSquareIndependence (q258): hand-walked 2x2 table, exact V, both verdicts fire") {
    val dir = tempDir("graft_chi").toString
    Seq((1L, "1-URGENT"), (2L, "5-LOW"))
      .toDF("o_orderkey", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    // URGENT: 8A/2N, LOW: 2A/8N -> N=20, all margins 10, E=5 per cell,
    // contrib = 1000*(O*20-100)^2/(20*100) = 1800 each, chi2 = 7200,
    // df=1 (both crits pass), V = sqrt(7.2/20) = 0.600 exactly
    val items =
      (1 to 8).map(_ => (1L, "A")) ++ (1 to 2).map(_ => (1L, "N")) ++
        (1 to 2).map(_ => (2L, "A")) ++ (1 to 8).map(_ => (2L, "N"))
    items.toDF("l_orderkey", "l_returnflag")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = Relational.chiSquareIndependence(spark, dir).collect()
    assert(out.length == 4)
    out.foreach { r =>
      assert(r.getAs[Long]("expected_milli") == 5000L)
      assert(r.getAs[Long]("contrib_milli") == 1800L,
        s"contrib ${r.getAs[Long]("contrib_milli")}")
      assert(r.getAs[Long]("chi2_milli") == 7200L)
      assert(r.getAs[Long]("df") == 1L)
      assert(r.getAs[Long]("cramers_v_milli") == 600L,
        s"V ${r.getAs[Long]("cramers_v_milli")}")
      assert(r.getAs[Boolean]("significant_95") &&
        r.getAs[Boolean]("significant_99"))
    }
    val o = out.map(r => (r.getAs[String]("o_orderpriority"),
      r.getAs[String]("l_returnflag")) -> r.getAs[Long]("observed")).toMap
    assert(o == Map(("1-URGENT", "A") -> 8L, ("1-URGENT", "N") -> 2L,
      ("5-LOW", "A") -> 2L, ("5-LOW", "N") -> 8L), s"got $o")
  }

  test("ksTwoSample (q257): hand-walked CDF gap, argmax lag, squared threshold") {
    val dir = tempDir("graft_ks").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, "1-URGENT", ts("1970-01-01 00:00:00")),
      (2L, "3-MEDIUM", ts("1970-01-01 00:00:00")))
      .toDF("o_orderkey", "o_orderpriority", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    // urgent lags {1,1,2}, routine {2,3}: scaled devs |cum1*n2-cum2*n1|
    // = 4 (lag 1), 3 (lag 2), 0 (lag 3) -> M=4 at lag 1,
    // d_bp = 4*10000 div 6 = 6666; threshold floor(1844164*5*6/1e6)=55,
    // 16 < 55 -> not significant
    Seq((1L, ts("1970-01-02 00:00:00")), (1L, ts("1970-01-02 00:00:00")),
      (1L, ts("1970-01-03 00:00:00")),
      (2L, ts("1970-01-03 00:00:00")), (2L, ts("1970-01-04 00:00:00")))
      .toDF("l_orderkey", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val r = Relational.ksTwoSample(spark, dir).collect().head
    assert(r.getAs[Long]("n_urgent") == 3L && r.getAs[Long]("n_routine") == 2L)
    assert(r.getAs[Long]("d_bp") == 6666L, s"d ${r.getAs[Long]("d_bp")}")
    assert(r.getAs[Long]("d_lag") == 1L, s"lag ${r.getAs[Long]("d_lag")}")
    assert(!r.getAs[Boolean]("significant_95") &&
      !r.getAs[Boolean]("significant_99"))
  }

  test("kruskalWallis (q255): hand-ranked 3-group fixture; tie correction and df election") {
    val dir = tempDir("graft_kw").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, "1-URGENT", ts("1970-01-01 00:00:00")),
      (2L, "3-MEDIUM", ts("1970-01-01 00:00:00")),
      (3L, "5-LOW", ts("1970-01-01 00:00:00")))
      .toDF("o_orderkey", "o_orderpriority", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    // lags: URGENT {1,2}, MEDIUM {2,3}, LOW {4,5}; pooled N=6 with one
    // tie pair at lag 2 (doubled midrank 5). Doubled rank sums:
    // U: 2+5=7, M: 5+8=13, L: 10+12=22 (sum 42 = 2*21 check).
    // Sum floor(3000*R2^2/n) = 73500+253500+726000 = 1053000;
    // h = 1053000 div 42 - 3000*7 = 25071-21000 = 4071 milli
    // (exact H = 4.0714...). Ties: one t=2 -> stt=6, nn3=210;
    // h_tie = 4071*210 div 204 = 4190. df=2 -> crit95=5991 -> not sig.
    Seq((1L, ts("1970-01-02 00:00:00")), (1L, ts("1970-01-03 00:00:00")),
      (2L, ts("1970-01-03 00:00:00")), (2L, ts("1970-01-04 00:00:00")),
      (3L, ts("1970-01-05 00:00:00")), (3L, ts("1970-01-06 00:00:00")))
      .toDF("l_orderkey", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = Relational.kruskalWallis(spark, dir).collect()
    assert(out.length == 3, s"got ${out.length} rows")
    val byP = out.map(r => r.getAs[String]("o_orderpriority") ->
      ((r.getAs[Long]("n_items"), r.getAs[Long]("rank_sum_doubled"),
        r.getAs[Long]("mean_rank_milli")))).toMap
    assert(byP("1-URGENT") == ((2L, 7L, 1750L)), s"got ${byP("1-URGENT")}")
    assert(byP("3-MEDIUM") == ((2L, 13L, 3250L)), s"got ${byP("3-MEDIUM")}")
    assert(byP("5-LOW") == ((2L, 22L, 5500L)), s"got ${byP("5-LOW")}")
    out.foreach { r =>
      assert(r.getAs[Long]("h_milli") == 4071L,
        s"h ${r.getAs[Long]("h_milli")}")
      assert(r.getAs[Long]("h_tie_milli") == 4190L,
        s"h_tie ${r.getAs[Long]("h_tie_milli")}")
      assert(r.getAs[Long]("df") == 2L)
      assert(!r.getAs[Boolean]("significant_95"))
      assert(!r.getAs[Boolean]("significant_99"))
    }
  }

  test("supplierLorenz (q254): hand-walked Gini and Lorenz points; equal split reads zero") {
    val dir = tempDir("graft_lorenz").toString
    // nation 0 revenues (cents): 100, 100, 200, 600 ->
    // S = 1*100 + 2*100 + 3*200 + 4*600 = 3300,
    // gini = (6600 - 5*1000)*1e4 / (4*1000) = 4000 bp;
    // bottom half (2 of 4) = 200 -> 2000 bp; top decile (1) = 600 -> 6000
    // nation 1: 500/500 -> gini 0, both shares 5000
    Seq((1L, 1.0, 0.0), (2L, 1.0, 0.0), (3L, 2.0, 0.0), (4L, 6.0, 0.0),
      (5L, 5.0, 0.0), (6L, 5.0, 0.0))
      .toDF("l_suppkey", "l_extendedprice", "l_discount")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 1L), (6L, 1L))
      .toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$dir/supplier.parquet")
    val out = Relational.supplierLorenz(spark, dir).collect()
      .map(r => r.getAs[Long]("nationkey") ->
        ((r.getAs[Long]("n_suppliers"), r.getAs[Long]("revenue_cents"),
          r.getAs[Long]("gini_bp"), r.getAs[Long]("bottom_half_share_bp"),
          r.getAs[Long]("top_decile_share_bp")))).toMap
    assert(out(0L) == ((4L, 1000L, 4000L, 2000L, 6000L)), s"got ${out(0L)}")
    assert(out(1L) == ((2L, 1000L, 0L, 5000L, 5000L)), s"got ${out(1L)}")
  }

  test("abcClasses (q226): permille-cell election, hand-walked 80/95 cut") {
    val dir = tempDir("graft_abc").toString
    // part revenues (cents): 8000, 1500, 400, 100 → total 10000, max 8000
    // cells (rev·1000 div 8000): 1000, 187, 50, 12
    // cum_above: 0 → A; 8000 (=80% exactly, NOT <) → B; 9500, 9900 → C
    Seq((1L, 80.0, 0.0), (2L, 15.0, 0.0), (3L, 4.0, 0.0), (4L, 1.0, 0.0))
      .toDF("l_partkey", "l_extendedprice", "l_discount")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = Relational.abcClasses(spark, dir).collect()
      .map(r => r.getAs[String]("abc_class") ->
        ((r.getAs[Long]("n_parts"), r.getAs[Long]("revenue_cents"),
          r.getAs[Long]("share_bp")))).toMap
    assert(out == Map(
      "A" -> ((1L, 8000L, 8000L)),
      "B" -> ((1L, 1500L, 1500L)),
      "C" -> ((2L, 500L, 500L))), s"got $out")
  }
}
