package graft

import org.apache.spark.sql.functions._

import graft.operators.EventAnalytics

/** Funnel + retention semantics (first-touch ordering, cohort algebra). */
class EventAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def nanos(sec: Long): Long = sec * 1000000000L
  private val day = 86400L

  test("funnel: first-touch ordering, inclusive ties, monotone step counts") {
    val dir = tempDir("graft_funnel").toString
    Seq(
      // user 1: full ordered funnel
      (1L, nanos(10), 1L, "signup", 0.0, "{}"),
      (2L, nanos(20), 1L, "view", 0.0, "{}"),
      (3L, nanos(30), 1L, "purchase", 0.0, "{}"),
      // user 2: view BEFORE signup → stops at step 1 (first-touch order)
      (4L, nanos(15), 2L, "view", 0.0, "{}"),
      (5L, nanos(25), 2L, "signup", 0.0, "{}"),
      (6L, nanos(35), 2L, "purchase", 0.0, "{}"),
      // user 3: signup+view same second (inclusive tie), no purchase
      (7L, nanos(40), 3L, "signup", 0.0, "{}"),
      (8L, nanos(40), 3L, "view", 0.0, "{}"),
      // user 4: never signs up → reaches nothing
      (9L, nanos(50), 4L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val steps = EventAnalytics.funnel(spark, dir).collect()
      .map(r => r.getAs[Long]("step") -> r.getAs[Long]("n_users")).toMap
    assert(steps == Map(1L -> 3L, 2L -> 2L, 3L -> 1L), s"got $steps")
  }

  test("acfPanel (q271): hand-walked alternating series, exact ACF and Ljung-Box Q") {
    val dir = tempDir("graft_acf").toString
    // one type, odd days of 1..11 active (the span anchors at the last
    // EVENT day, so N = 11), counts 4,0,4,...,4 — a period-2 series
    // whose exact sample ACF alternates sign and whose Q is far past χ²₇
    val rows = for {
      d <- 1 to 11 if d % 2 == 1
      i <- 1 to 4
    } yield ((d * 10 + i).toLong, nanos((d - 1) * day + 3600), i.toLong,
      "t", 0.0, "{}")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.acfPanel(spark, dir).collect()
      .map(r => r.getAs[Long]("lag_k") ->
        ((r.getAs[Long]("acf_milli"), r.getAs[Long]("n_days"),
          r.getAs[Long]("lb_q_milli"), r.getAs[Long]("serial_dependent"))))
      .toMap
    // hand algebra: N=11, S=24, SS=96, den = N²·SS − N·S² = 5280; per
    // lag k, num = N²·sxy − N·S·(head+tail) + (N−k)·S², milli-floored
    // sign-split (e.g. lag 1: −4800/5280 → −909; lag 2: 4304/5280 → 815)
    val expected = Map(1L -> -909L, 2L -> 815L, 3L -> -727L, 4L -> 630L,
      5L -> -545L, 6L -> 445L, 7L -> -363L)
    expected.foreach { case (k, acf) =>
      assert(out(k)._1 == acf, s"lag $k: got ${out(k)._1}, want $acf")
      assert(out(k)._2 == 11L)
    }
    // Q = Σ ⌊143·acf²/((11−k)·1000)⌋
    //   = 11815+10553+9447+8108+7079+5663+4710 = 57375
    assert(out(1L)._3 == 57375L, s"Q got ${out(1L)._3}")
    assert(out.values.forall(_._4 == 1L), "period-2 series is serially dependent")
  }

  test("ewmaChart (q273): hand-walked phase I/II level shift, exact walk and alarms") {
    val dir = tempDir("graft_ewma").toString
    // type "t": 16 days — Phase I (days 1-8) alternates 6,8 (μ=7000,
    // σ²_milli²=10⁶ → alarm beyond |dev| 1133), Phase II (days 9-16)
    // holds 14 — a sustained level shift EWMA must flag every day
    val rows = (for {
      d <- 1 to 16
      c = if (d <= 8) { if (d % 2 == 1) 6 else 8 } else 14
      j <- 1 to c
    } yield ((d * 100 + j).toLong, nanos((d - 1) * day + 3600), j.toLong,
      "t", 0.0, "{}")) ++
      // degenerate single-day type: empty Phase II, zero variance
      Seq((9901L, nanos(3600), 1L, "solo", 0.0, "{}"),
        (9902L, nanos(3700), 2L, "solo", 0.0, "{}"),
        (9903L, nanos(3800), 3L, "solo", 0.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.ewmaChart(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_days"), r.getAs[Long]("n_phase1"),
          r.getAs[Long]("mu_milli"), r.getAs[Long]("var_milli2"),
          r.getAs[Long]("ewma_last_milli"), r.getAs[Long]("n_alarm_up"),
          r.getAs[Long]("n_alarm_dn"),
          Option(r.getAs[java.sql.Date]("first_alarm_day")).map(_.toString),
          r.getAs[Long]("max_abs_dev_milli")))).toMap
    // hand walk: z = (1000c + 3z) div 4 from z=7000 →
    // 6750,7062,6796,7097,6822,7116,6837,7127 | 8845,10133,11099,11824,
    // 12368,12776,13082,13311 — every Phase-II day alarms (dev ≥ 1845)
    assert(out("t") == ((16L, 8L, 7000L, 1000000L, 13311L, 8L, 0L,
      Some("1970-01-09"), 6311L)), s"got ${out("t")}")
    // single-day type: Phase II empty, constant series holds z = μ
    assert(out("solo") == ((1L, 1L, 3000L, 0L, 3000L, 0L, 0L, None, 0L)),
      s"got ${out("solo")}")
  }

  test("kaplanMeier (q272): hand-walked censoring ladder, exact product-limit") {
    val dir = tempDir("graft_km").toString
    Seq(
      // u1, u2: signup day 0 → purchase day 2 (event t=2 ×2)
      (1L, nanos(3600), 1L, "signup", 0.0, "{}"),
      (2L, nanos(2 * day + 3600), 1L, "purchase", 0.0, "{}"),
      (3L, nanos(3600), 2L, "signup", 0.0, "{}"),
      (4L, nanos(2 * day + 3600), 2L, "purchase", 0.0, "{}"),
      // u3: signup day 0, never purchases → censored at corpus end (t=10)
      (5L, nanos(3600), 3L, "signup", 0.0, "{}"),
      // u4: signup day 4 → purchase day 9 (event t=5)
      (6L, nanos(4 * day + 3600), 4L, "signup", 0.0, "{}"),
      (7L, nanos(9 * day + 3600), 4L, "purchase", 0.0, "{}"),
      // u5: signup day 6, never purchases → censored at t=4
      (8L, nanos(6 * day + 3600), 5L, "signup", 0.0, "{}"),
      // corpus end anchor: a view on day 10
      (9L, nanos(10 * day + 3600), 3L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.kaplanMeier(spark, dir).collect()
      .map(r => (r.getAs[Long]("lag_day"), r.getAs[Long]("n_risk"),
        r.getAs[Long]("n_conv"), r.getAs[Long]("n_cens_at"),
        r.getAs[Long]("km_survival_micro"))).toSeq
    // walk: t=2 (n=5,d=2) → S=600000; t=4 censor-only shrinks the risk
    // set to 2 WITHOUT moving S; t=5 (n=2,d=1) → S=300000 — the KM read
    // (naive 2/5 = 400000 would ignore that u5's follow-up ran out)
    assert(out == Seq((2L, 5L, 2L, 0L, 600000L), (5L, 2L, 1L, 0L, 300000L)),
      s"got $out")
  }

  test("calibrationAudit + brierDecomposition (q269/q270): hand-walked miscalibrated score") {
    val dir = tempDir("graft_calib").toString
    Seq(
      // u1: score 4 (max) + purchase → bin 9, predicted 10000, observed pos
      (1L, nanos(1), 1L, "click", 0.0, "{}"),
      (2L, nanos(2), 1L, "click", 0.0, "{}"),
      (3L, nanos(3), 1L, "click", 0.0, "{}"),
      (4L, nanos(4), 1L, "click", 0.0, "{}"),
      (5L, nanos(5), 1L, "purchase", 0.0, "{}"),
      // u2: score 2, no purchase → bin 5, not pos
      (6L, nanos(6), 2L, "click", 0.0, "{}"),
      (7L, nanos(7), 2L, "click", 0.0, "{}"),
      // u3: score 2 + purchase → bin 5, pos
      (8L, nanos(8), 3L, "click", 0.0, "{}"),
      (9L, nanos(9), 3L, "click", 0.0, "{}"),
      (10L, nanos(10), 3L, "purchase", 0.0, "{}"),
      // u4: purchase only → score 0, bin 0, pos — maximal miscalibration
      (11L, nanos(11), 4L, "purchase", 0.0, "{}"),
      // u5: score 2 via views, no purchase → bin 5, not pos
      (12L, nanos(12), 5L, "view", 0.0, "{}"),
      (13L, nanos(13), 5L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    // every purchaser is "above average" (1·5 > 3): u1, u3, u4 positive
    val cal = EventAnalytics.calibrationAudit(spark, dir).collect()
      .map(r => r.getAs[Long]("bin") ->
        ((r.getAs[Long]("n_users"), r.getAs[Long]("n_pos"),
          r.getAs[Long]("mean_pred_bp"), r.getAs[Long]("obs_bp"),
          r.getAs[Long]("gap_bp"), r.getAs[Long]("ece_bp")))).toMap
    assert(cal(9L) == ((1L, 1L, 10000L, 10000L, 0L, 3000L)))
    assert(cal(5L) == ((3L, 1L, 5000L, 3333L, -1667L, 3000L)))
    assert(cal(0L) == ((1L, 1L, 0L, 10000L, 10000L, 3000L)),
      "score-0 purchaser is the maximal calibration gap")
    assert(cal.size == 3, s"empty bins produce no rows: $cal")
    // ECE = (1·0 + 3·1667 + 1·10000) div 5 = 3000 (checked above)
    val b = EventAnalytics.brierDecomposition(spark, dir).head()
    assert(b.getAs[Long]("n_users") == 5L)
    assert(b.getAs[Long]("obar_bp") == 6000L)
    // rel = (1·0² + 3·1667² + 1·10000²) div 5 = 108336667 div 5
    assert(b.getAs[Long]("rel_bp2") == 21667333L)
    // res = (1·4000² + 3·2667² + 1·4000²) div 5 = 53338667 div 5
    assert(b.getAs[Long]("res_bp2") == 10667733L)
    assert(b.getAs[Long]("unc_bp2") == 24000000L, "6000·4000")
    assert(b.getAs[Long]("brier_bp2") == 34999600L)
  }

  test("isotonicCalibration (q274): PAV pools the violating bins, fit is monotone") {
    val dir = tempDir("graft_iso").toString
    // the q269 fixture: bins 0/5/9 read observed 10000/3333/10000 —
    // bin 0 (score-0 purchaser) violates monotonicity against bin 5
    Seq(
      (1L, nanos(1), 1L, "click", 0.0, "{}"),
      (2L, nanos(2), 1L, "click", 0.0, "{}"),
      (3L, nanos(3), 1L, "click", 0.0, "{}"),
      (4L, nanos(4), 1L, "click", 0.0, "{}"),
      (5L, nanos(5), 1L, "purchase", 0.0, "{}"),
      (6L, nanos(6), 2L, "click", 0.0, "{}"),
      (7L, nanos(7), 2L, "click", 0.0, "{}"),
      (8L, nanos(8), 3L, "click", 0.0, "{}"),
      (9L, nanos(9), 3L, "click", 0.0, "{}"),
      (10L, nanos(10), 3L, "purchase", 0.0, "{}"),
      (11L, nanos(11), 4L, "purchase", 0.0, "{}"),
      (12L, nanos(12), 5L, "view", 0.0, "{}"),
      (13L, nanos(13), 5L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.isotonicCalibration(spark, dir).collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("obs_bp"),
        r.getAs[Long]("iso_bp"))).sortBy(_._1)
    // PAV pools bins 0+5 ((1+1) of (1+3) → 5000), leaves bin 9 at 10000
    assert(out.toSeq == Seq((0L, 10000L, 5000L), (5L, 3333L, 5000L),
      (9L, 10000L, 10000L)), s"got ${out.toSeq}")
    assert(out.map(_._3).toSeq == out.map(_._3).sorted.toSeq,
      "the isotonic fit must be monotone non-decreasing in the bin order")
  }

  test("cmhStratifiedAb (q275): hand-built Simpson reversal, exact pooled statistics") {
    val dir = tempDir("graft_cmh").toString
    def h1(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val control = Iterator.from(1).map(_.toLong)
      .filter(u => h1(u.toString) % 2 == 0).take(50).toSeq
    val treatment = Iterator.from(1).map(_.toLong)
      .filter(u => h1(u.toString) % 2 == 1).take(50).toSeq
    // stratum day 0 (1970-01-01, isodow 4): 10 treat (9 convert) vs
    // 40 control (30 convert) — treatment 90% vs control 75%
    // stratum day 1 (isodow 5): 40 treat (20) vs 10 control (3) —
    // treatment 50% vs control 30%
    // marginal: treat 29/50 = 58% < control 33/50 = 66% — the reversal
    val aT = treatment.take(10); val aC = control.take(40)
    val bT = treatment.slice(10, 50); val bC = control.slice(40, 50)
    var eid = 0L
    def ev(u: Long, d: Long, t: String) = {
      eid += 1; (eid, nanos(d * day + eid), u, t, 0.0, "{}")
    }
    val rows =
      (aT ++ aC).map(ev(_, 0L, "view")) ++ (bT ++ bC).map(ev(_, 1L, "view")) ++
        (aT.take(9) ++ aC.take(30) ++ bT.take(20) ++ bC.take(3))
          .map(ev(_, 20L, "purchase"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.cmhStratifiedAb(spark, dir).collect()
      .map(r => r.getAs[Long]("dow") ->
        ((r.getAs[Long]("n_treat"), r.getAs[Long]("n_ctrl"),
          r.getAs[Long]("conv_treat"), r.getAs[Long]("conv_ctrl"),
          r.getAs[Long]("cmh_milli"), r.getAs[Long]("or_mh_milli"),
          r.getAs[Long]("significant")))).toMap
    assert(out.keySet == Set(4L, 5L), s"two strata expected: $out")
    assert(out(4L)._1 == 10L && out(4L)._2 == 40L &&
      out(4L)._3 == 9L && out(4L)._4 == 30L, s"got ${out(4L)}")
    assert(out(5L)._1 == 40L && out(5L)._2 == 10L &&
      out(5L)._3 == 20L && out(5L)._4 == 3L, s"got ${out(5L)}")
    // hand CMH: E = 7800+18400, V = 1400816+2027755, num = 2800 →
    // cmh = ⌊1000·2800²/3428571⌋ = 2286; OR_MH = ⌊1000·4600/1800⌋ = 2555
    assert(out(4L)._5 == 2286L, s"cmh got ${out(4L)._5}")
    assert(out(4L)._6 == 2555L, s"or got ${out(4L)._6}")
    assert(out(4L)._7 == 0L, "2.29 < 3.841 — not significant")
    // the stratified OR says treatment HELPS (>1000) while the marginal
    // conversion says it hurts — exactly the Simpson read CMH exists for
    assert(out(4L)._6 > 1000L)
  }

  test("transition matrix (q122): cells equal a driver-side sequence walk, shares exact") {
    val rows = EventAnalytics.transitionMatrix(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // driver-side recomputation on the same (µs ts, event_id) order
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val trans = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val ordered = es.sortBy(e => (e._2, e._3)).map(_._4)
      ordered.zip(ordered.tail)
    }
    val users = ev.groupBy(_._1).view.mapValues { es =>
      val o = es.sortBy(e => (e._2, e._3)).map(_._4)
      o.zip(o.tail).toSet
    }.toMap
    val expect = trans.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val tot = trans.length.toLong
    assert(rows.map(_.getAs[Long]("n_transitions")).sum == tot)
    // total transitions = events minus one per active user
    assert(tot == ev.length - ev.map(_._1).distinct.length)
    rows.foreach { r =>
      val cell = (r.getAs[String]("from_type"), r.getAs[String]("to_type"))
      assert(r.getAs[Long]("n_transitions") == expect(cell), s"cell $cell")
      assert(r.getAs[Long]("n_users") ==
        users.values.count(_.contains(cell)).toLong, s"users $cell")
      assert(r.getAs[Long]("share_bp") ==
        r.getAs[Long]("n_transitions") * 10000 / tot)
    }
  }

  test("session gaps (q127): buckets cover every consecutive gap, recomputed exactly") {
    val rows = EventAnalytics.sessionGaps(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // gap universe = events minus one per active user (the q122 identity)
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expectedGaps = ev.length - ev.map(_._1).distinct.length
    assert(rows.map(_.getAs[Long]("n_gaps")).sum == expectedGaps.toLong)
    // driver-side bucket recomputation
    def bucket(g: Long): String =
      if (g < 10000000L) "a_lt_10s" else if (g < 60000000L) "b_lt_60s"
      else if (g < 600000000L) "c_lt_10m" else if (g < 3600000000L) "d_lt_1h"
      else "e_ge_1h"
    val gaps = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val o = es.sortBy(e => (e._2, e._3)).map(_._2)
      o.zip(o.tail).map { case (a, b) => (u, bucket(b - a)) }
    }
    val byBucket = gaps.groupBy(_._2)
    val tot = gaps.length.toLong
    rows.foreach { r =>
      val b = r.getAs[String]("gap_bucket")
      assert(r.getAs[Long]("n_gaps") == byBucket(b).length.toLong)
      assert(r.getAs[Long]("n_users") == byBucket(b).map(_._1).distinct.length.toLong)
      assert(r.getAs[Long]("share_bp") == r.getAs[Long]("n_gaps") * 10000 / tot)
    }
  }

  test("conversion latency (q130): converting users equal the funnel's last step, buckets exact") {
    val rows = EventAnalytics.conversionLatency(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // driver-side recomputation of first-touch latencies
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val lats = ev.groupBy(_._1).values.flatMap { es =>
      val s = es.filter(_._3 == "signup").map(_._2).minOption
      val p = es.filter(_._3 == "purchase").map(_._2).minOption
      (s, p) match {
        case (Some(a), Some(b)) if b >= a => Some(b - a)
        case _ => None
      }
    }.toSeq
    def bucket(l: Long): String =
      if (l < 86400000000L) "a_lt_1d" else if (l < 259200000000L) "b_1_3d"
      else if (l < 604800000000L) "c_3_7d" else if (l < 1209600000000L) "d_7_14d"
      else "e_ge_14d"
    assert(rows.map(_.getAs[Long]("n_users")).sum == lats.length.toLong)
    val byBucket = lats.groupBy(bucket).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_users") ==
        byBucket(r.getAs[String]("latency_bucket")))
    }
  }

  test("value percentiles (q132): exact rank election, sketch cross-check within tolerance") {
    val rows = EventAnalytics.valuePercentiles(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // driver-side exact quantile of the cent-grid values
    val vals = Tables.events(spark, sf0001)
      .select(col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("v")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byType = vals.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    rows.foreach { r =>
      val vs = byType(r.getAs[String]("event_type"))
      val p = r.getAs[Long]("pct")
      val need = ((p * vs.length + 99) / 100).toInt
      assert(r.getAs[Long]("n_events") == vs.length.toLong)
      assert(r.getAs[Long]("cutoff_cents") == vs(need - 1),
        s"${r.getAs[String]("event_type")} p$p")
    }
    // Spark's approx_percentile sketch lands near the exact election
    // (the sketch can never BE the oracle — engine-specific — but it
    // must corroborate it)
    val approx = Tables.events(spark, sf0001)
      .groupBy(col("event_type"))
      .agg(expr("approx_percentile(value, array(0.5, 0.9, 0.99), 1000)")
        .as("ap")).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    rows.foreach { r =>
      val i = r.getAs[Long]("pct") match {
        case 50L => 0; case 90L => 1; case _ => 2
      }
      val a = approx(r.getAs[String]("event_type"))(i)
      val c = r.getAs[Long]("cutoff_cents") / 100.0
      assert(math.abs(a - c) <= math.max(1.0, c * 0.05),
        s"sketch $a far from exact $c")
    }
  }

  test("quantile sketch (q159): merged shard sketches = full-data sketch; error bounded by bin width") {
    // driver reimplementation of the log-bin device: bin = 4e + s over
    // v4 = 4·cents, e = floor(log2 v4), s = floor(4·v4/2^e) - 4
    def bin(cents: Long): Long = {
      val v4 = cents * 4
      val e = 63 - java.lang.Long.numberOfLeadingZeros(v4)
      e.toLong * 4 + (v4 * 4 >> e) - 4
    }
    def ub(b: Long): Long = (((1L << (b / 4 - 2)) * (b % 4 + 5)) - 1) / 4
    val raw = Tables.events(spark, sf0001)
      .select(col("event_id"), col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("v")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // two "shards" by event_id parity, each reduced to its (type, bin)
    // histogram — the state a federation ships — then merged by addition
    def hist(rows: Seq[(Long, String, Long)]): Map[(String, Long), Long] =
      rows.groupBy(r => (r._2, bin(r._3))).view.mapValues(_.size.toLong).toMap
    val shards = raw.partition(_._1 % 2 == 0)
    val merged = (hist(shards._1.toSeq).toSeq ++ hist(shards._2.toSeq).toSeq)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(merged == hist(raw.toSeq), "merge must equal the full-data sketch")
    // quantiles read off the merged sketch match the operator exactly
    def estOf(tpe: String, pct: Long): Long = {
      val bins = merged.collect { case ((t, b), c) if t == tpe => (b, c) }
        .toSeq.sortBy(_._1)
      val n = bins.map(_._2).sum
      val need = (pct * n + 99) / 100
      var cum = 0L
      val qbin = bins.collectFirst {
        case (b, c) if { cum += c; cum >= need } => b
      }.get
      ub(qbin)
    }
    val rows = EventAnalytics.quantileSketchAudit(spark, sf0001).collect()
    assert(rows.length == merged.keys.map(_._1).toSet.size * 3)
    rows.foreach { r =>
      val (t, p) = (r.getAs[String]("event_type"), r.getAs[Long]("pct"))
      assert(r.getAs[Long]("est_cents") == estOf(t, p), s"$t p$p")
      // upper-edge rule: never under-reads, and the 25%-width guarantee
      assert(r.getAs[Long]("est_cents") >= r.getAs[Long]("exact_cents"))
      assert(r.getAs[Long]("err_bp") < 2500L, s"$t p$p err ${r.getAs[Long]("err_bp")}")
    }
    // the sketch is radically smaller than the exact value histogram
    val distinctCents = raw.map(r => (r._2, r._3)).distinct.groupBy(_._1)
      .view.mapValues(_.size).toMap
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("n_bins") < distinctCents(t) / 2,
        s"$t sketch not compressive: ${r.getAs[Long]("n_bins")} bins")
    }
  }

  test("volume anomaly (q164): planted spike and drop flagged, steady days quiet, day-1 excluded") {
    val dir = tempDir("graft_anomaly").toString
    // type "steady": 10/day for 9 days; day 9 spikes to 30 (+200% dev)
    // type "fade": 10/day for 4 days, then 1 on day 5 (-90% dev)
    var eid = 0L
    val rows = (
      (for { d <- 1 to 9; i <- 1 to (if (d == 9) 30 else 10) } yield {
        eid += 1; (eid, nanos(d.toLong * day + i), eid % 5, "steady", 1.0, "{}")
      }) ++
      (for { d <- 1 to 5; i <- 1 to (if (d == 5) 1 else 10) } yield {
        eid += 1; (eid, nanos(d.toLong * day + i), eid % 5, "fade", 1.0, "{}")
      })).toSeq
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.volumeAnomaly(spark, dir).collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("day").getTime / 1000 / day) -> r).toMap
    // day 1 of each type has no baseline: 9-1 + 5-1 = 12 rows
    assert(out.size == 12, s"got ${out.size} rows")
    // steady days 2-8: base 10, dev 0, quiet
    (2L to 8L).foreach { d =>
      val r = out(("steady", d))
      assert(r.getAs[Long]("base") == 10L && r.getAs[Long]("dev_bp") == 0L &&
        r.getAs[Long]("anomaly") == 0L, s"steady day $d")
    }
    // the spike: 30 vs base 10 = +20000 bp, flagged
    val spike = out(("steady", 9L))
    assert(spike.getAs[Long]("dev_bp") == 20000L)
    assert(spike.getAs[Long]("anomaly") == 1L)
    // the drop: 1 vs base 10 = -9000 bp, flagged
    val drop = out(("fade", 5L))
    assert(drop.getAs[Long]("base") == 10L)
    assert(drop.getAs[Long]("dev_bp") == -9000L)
    assert(drop.getAs[Long]("anomaly") == 1L)
  }

  test("cooccurrence lift (q169): cells match a driver set recomputation; planted bundle and split pin the poles") {
    // driver recomputation on the live corpus
    val ut = Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byType = ut.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val nUsers = ut.map(_._1).distinct.length.toLong
    val rows = EventAnalytics.cooccurrenceLift(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("type_a"), r.getAs[String]("type_b"))
      val both = (byType(a) intersect byType(b)).size.toLong
      assert(r.getAs[Long]("n_both") == both, s"($a,$b)")
      assert(r.getAs[Long]("n_a") == byType(a).size.toLong)
      assert(r.getAs[Long]("n_b") == byType(b).size.toLong)
      assert(r.getAs[Long]("lift_bp") ==
        (BigInt(both) * nUsers * 10000 /
          (BigInt(byType(a).size) * byType(b).size)).toLong)
    }
    // poles on a planted fixture: a perfect bundle (every 'buy' user
    // also 'pays') and a perfect split (no user does both)
    val dir = tempDir("graft_cooc").toString
    var eid = 0L
    def ev(u: Long, t: String) = { eid += 1; (eid, nanos(eid), u, t, 1.0, "{}") }
    (Seq(1L, 2L).flatMap(u => Seq(ev(u, "buy"), ev(u, "pay"))) ++
      Seq(ev(3L, "lurk"), ev(4L, "lurk")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val fix = EventAnalytics.cooccurrenceLift(spark, dir).collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        r.getAs[Long]("lift_bp")).toMap
    // bundle: both=2, na=nb=2, n=4 -> lift 2*4*10000/4 = 20000
    assert(fix(("buy", "pay")) == 20000L)
    // split pairs never co-occur -> absent from the matrix entirely
    assert(!fix.contains(("buy", "lurk")) && !fix.contains(("lurk", "pay")))
  }

  test("stickiness (q145): dau <= wau, ratio exact, wau identical to q76") {
    val rows = EventAnalytics.stickiness(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val wau76 = EventAnalytics.rollingActiveUsers(spark, sf0001).collect()
      .map(r => r.getAs[java.sql.Date]("day") -> r.getAs[Long]("active_users"))
      .toMap
    val dauTruth = Tables.events(spark, sf0001)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .groupBy(col("day")).count().collect()
      .map(r => r.getAs[java.sql.Date]("day") -> r.getAs[Long]("count")).toMap
    rows.foreach { r =>
      val day = r.getAs[java.sql.Date]("day")
      val (dau, wau) = (r.getAs[Long]("dau"), r.getAs[Long]("wau"))
      assert(dau == dauTruth(day), s"$day dau")
      assert(wau == wau76(day), s"$day wau must be exactly the q76 value")
      assert(dau >= 1L && dau <= wau, s"$day: dau $dau wau $wau")
      assert(r.getAs[Long]("stickiness_bp") == dau * 10000 / wau)
      assert(r.getAs[Long]("stickiness_bp") <= 10000L)
    }
    assert(rows.length == wau76.size, "every q76 day appears")
  }

  test("retention: day-0 count equals cohort size; counts never exceed it") {
    val r = EventAnalytics.retention(spark, sf0001).collect()
    assert(r.nonEmpty)
    val byCohort = r.groupBy(_.getAs[java.sql.Date]("cohort_day"))
    byCohort.foreach { case (c, rows) =>
      val day0 = rows.find(_.getAs[java.sql.Date]("activity_day") == c)
      assert(day0.isDefined, s"cohort $c missing its day-0 row")
      val size = day0.get.getAs[Long]("n_users")
      rows.foreach(x => assert(x.getAs[Long]("n_users") <= size, x))
      // no activity before the cohort day (min-day definition)
      rows.foreach(x => assert(
        !x.getAs[java.sql.Date]("activity_day").before(c), x))
    }
    // every user appears in exactly one cohort: day-0 totals = user count
    val totalDay0 = byCohort.map { case (c, rows) =>
      rows.find(_.getAs[java.sql.Date]("activity_day") == c).get.getAs[Long]("n_users")
    }.sum
    assert(totalDay0 == Tables.events(spark, sf0001)
      .select("user_id").distinct().count())
  }

  test("rolling active users and stickiness reject a non-positive windowDays") {
    // a window of 0 or -1 days would explode `sequence(day, day - 1)`
    // backwards and count users into past days
    for (w <- Seq(0, -1)) {
      intercept[IllegalArgumentException](
        EventAnalytics.rollingActiveUsers(spark, sf0001, windowDays = w))
      intercept[IllegalArgumentException](
        EventAnalytics.stickiness(spark, sf0001, windowDays = w))
    }
  }

  test("rolling active users: window-1 equals DAU, window-7 dominates it, bounded by total") {
    import org.apache.spark.sql.functions._
    val dau = EventAnalytics.rollingActiveUsers(spark, sf0001, windowDays = 1)
      .collect().map(r => r.getDate(0) -> r.getLong(1)).toMap
    // independent DAU: distinct users per day straight off the table
    val direct = Tables.events(spark, sf0001)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("day").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getDate(0) -> r.getLong(1)).toMap
    assert(dau == direct, "window=1 must be exactly daily distinct users")
    val wau = EventAnalytics.rollingActiveUsers(spark, sf0001, windowDays = 7)
      .collect().map(r => r.getDate(0) -> r.getLong(1)).toMap
    val totalUsers = Tables.events(spark, sf0001)
      .select("user_id").distinct().count()
    assert(wau.keySet == dau.keySet, "same day axis")
    wau.foreach { case (d, n) =>
      assert(n >= dau(d), s"$d: 7-day window must dominate the single day")
      assert(n <= totalUsers)
    }
    // a 7-day window can never exceed the sum of its member days' DAU
    wau.foreach { case (d, n) =>
      val member = dau.filter { case (d2, _) =>
        val diff = (d.getTime - d2.getTime) / 86400000L
        diff >= 0 && diff < 7
      }.values.sum
      assert(n <= member, s"$d: window count $n > member-day sum $member")
    }
  }

  test("burstiness (q172): metronome at 0, planted burst exact, one-day type degenerate-0") {
    val dir = tempDir("graft_burst").toString
    var eid = 0L
    val rows = (
      // "metronome": exactly 10/day for 4 days → var 0 → fano_bp 0
      (for { d <- 1 to 4; i <- 1 to 10 } yield {
        eid += 1; (eid, nanos(d.toLong * day + i), eid % 5, "metronome", 1.0, "{}")
      }) ++
      // "bursty": 1,1,1,17 over 4 days → n=4, Σc=20, Σc²=292
      //   F_bp = (4·292 − 400)·10000 div (4·20) = 96000
      (for { d <- 1 to 4; i <- 1 to (if (d == 4) 17 else 1) } yield {
        eid += 1; (eid, nanos(d.toLong * day + i), eid % 5, "bursty", 1.0, "{}")
      }) ++
      // "once": a single observed day → numerator 1·c²−c² = 0
      (for { i <- 1 to 7 } yield {
        eid += 1; (eid, nanos(day + i), eid % 5, "once", 1.0, "{}")
      })).toSeq
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.burstiness(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out.size == 3)
    val m = out("metronome")
    assert(m.getAs[Long]("n_days") == 4L && m.getAs[Long]("n_events") == 40L)
    assert(m.getAs[Long]("fano_bp") == 0L, "metronome must sit at var 0")
    val b = out("bursty")
    assert(b.getAs[Long]("n_days") == 4L && b.getAs[Long]("n_events") == 20L)
    assert(b.getAs[Long]("fano_bp") == 96000L,
      s"planted burst: got ${b.getAs[Long]("fano_bp")}")
    assert(out("once").getAs[Long]("fano_bp") == 0L, "single-day type")
  }

  test("attribution (q175): first vs last touch exact, direct fallback, purchase-skip rule") {
    val dir = tempDir("graft_attr").toString
    Seq(
      // user 1: view → click → purchase $10 (first=view, last=click)
      (1L, nanos(10), 1L, "view", 0.0, "{}"),
      (2L, nanos(20), 1L, "click", 0.0, "{}"),
      (3L, nanos(30), 1L, "purchase", 10.0, "{}"),
      // user 2: lone purchase $5 (first=purchase itself, last=(direct))
      (4L, nanos(40), 2L, "purchase", 5.0, "{}"),
      // user 3: signup → purchase $2 → purchase $3: BOTH purchases credit
      // signup under last-touch (the intervening purchase is skipped)
      (5L, nanos(50), 3L, "signup", 0.0, "{}"),
      (6L, nanos(60), 3L, "purchase", 2.0, "{}"),
      (7L, nanos(70), 3L, "purchase", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.attribution(spark, dir).collect()
      .map(r => (r.getAs[String]("model"), r.getAs[String]("channel")) -> r)
      .toMap
    // total 2000 cents
    def check(model: String, ch: String, n: Long, cents: Long, bp: Long): Unit = {
      val r = out((model, ch))
      assert(r.getAs[Long]("n_purchases") == n, s"$model/$ch n")
      assert(r.getAs[Long]("cents") == cents, s"$model/$ch cents")
      assert(r.getAs[Long]("share_bp") == bp, s"$model/$ch bp")
    }
    assert(out.size == 6)
    check("first_touch", "view", 1L, 1000L, 5000L)
    check("first_touch", "purchase", 1L, 500L, 2500L)
    check("first_touch", "signup", 2L, 500L, 2500L)
    check("last_touch", "click", 1L, 1000L, 5000L)
    check("last_touch", "(direct)", 1L, 500L, 2500L)
    check("last_touch", "signup", 2L, 500L, 2500L)
  }

  test("sessionization (q179): 30-min split, inclusive boundary, size bands") {
    val dir = tempDir("graft_sess").toString
    Seq(
      // user 1: two 2-event sessions (gap 1990 s > 1800 splits)
      (1L, nanos(0), 1L, "view", 0.0, "{}"),
      (2L, nanos(10), 1L, "click", 0.0, "{}"),
      (3L, nanos(2000), 1L, "view", 0.0, "{}"),
      (4L, nanos(2010), 1L, "click", 0.0, "{}"),
      // user 2: a bounce
      (5L, nanos(100), 2L, "view", 0.0, "{}"),
      // user 3: gap of EXACTLY 1800 s stays one session (> , not >=),
      // then 1801 s opens a new one
      (6L, nanos(0), 3L, "view", 0.0, "{}"),
      (7L, nanos(1800), 3L, "click", 0.0, "{}"),
      (8L, nanos(3601), 3L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.sessionization(spark, dir).collect()
      .map(r => r.getAs[String]("size_band") -> r).toMap
    assert(out.size == 2)
    val a = out("a_1")
    assert(a.getAs[Long]("n_sessions") == 2L &&
      a.getAs[Long]("n_events") == 2L && a.getAs[Long]("sum_dur_sec") == 0L)
    assert(a.getAs[Long]("share_bp") == 4000L, "bounce share = 2 of 5")
    val b = out("b_2")
    assert(b.getAs[Long]("n_sessions") == 3L && b.getAs[Long]("n_events") == 6L)
    assert(b.getAs[Long]("sum_dur_sec") == 1820L, "10 + 10 + 1800")
    assert(b.getAs[Long]("dur_per_session_milli") == 606666L)
    assert(b.getAs[Long]("share_bp") == 6000L)
  }

  test("robustValueStats (q180): exact trim slice, winsor clamp, rank cutoffs") {
    val dir = tempDir("graft_robust").toString
    var eid = 0L
    val rows =
      // type t: 1 low outlier, 18 at $1, 1 high outlier → n=20, lo=1, hi=19
      ((Seq(0.01) ++ Seq.fill(18)(1.0) ++ Seq(100.0)).map { v =>
        eid += 1; (eid, nanos(eid), eid % 7, "t", v, "{}")
      }) ++
      // type u: n=3 → lo=0, trimming keeps everything
      (Seq(2.0, 4.0, 6.0).map { v =>
        eid += 1; (eid, nanos(eid), eid % 7, "u", v, "{}")
      })
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.robustValueStats(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val t = out("t")
    assert(t.getAs[Long]("n_events") == 20L)
    assert(t.getAs[Long]("mean_millicents") == 590050L)   // 11801·1000/20
    // both outliers fall outside ranks (1, 19] → pure $1 core
    assert(t.getAs[Long]("trimmed_mean_millicents") == 100000L)
    assert(t.getAs[Long]("p5_cents") == 100L && t.getAs[Long]("p95_cents") == 100L)
    assert(t.getAs[Long]("winsorized_mean_millicents") == 100000L)
    val u = out("u")
    assert(u.getAs[Long]("n_events") == 3L)
    assert(u.getAs[Long]("mean_millicents") == 400000L)
    assert(u.getAs[Long]("trimmed_mean_millicents") == 400000L,
      "n < 20 → lo = 0, trim keeps all")
    assert(u.getAs[Long]("p5_cents") == 200L && u.getAs[Long]("p95_cents") == 600L)
    assert(u.getAs[Long]("winsorized_mean_millicents") == 400000L)
  }

  test("weeklySeasonality (q185): ISO weekday cells, exact independence baseline") {
    val dir = tempDir("graft_season").toString
    // epoch day 4 = Monday 1970-01-05 (isodow 1), day 5 = Tuesday
    def at(d: Long, h: Long, i: Long) = nanos(d * day + h * 3600 + i)
    var eid = 0L
    val rows = (Seq.fill(3)((4L, 9L)) ++ Seq((4L, 10L)) ++
      Seq.fill(2)((5L, 9L))).map { case (d, h) =>
      eid += 1; (eid, at(d, h, eid), eid % 3, "view", 1.0, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.weeklySeasonality(spark, dir).collect()
      .map(r => (r.getAs[Long]("dow"), r.getAs[Long]("hour")) -> r).toMap
    assert(out.size == 3)
    val mon9 = out((1L, 9L))
    assert(mon9.getAs[Long]("n_events") == 3L)
    assert(mon9.getAs[Long]("obs_bp") == 5000L)          // 3/6
    assert(mon9.getAs[Long]("exp_bp") == 5555L)          // 4·5·10⁴ div 36
    assert(mon9.getAs[Long]("dev_bp") == -555L)
    val mon10 = out((1L, 10L))
    assert(mon10.getAs[Long]("obs_bp") == 1666L &&
      mon10.getAs[Long]("exp_bp") == 1111L && mon10.getAs[Long]("dev_bp") == 555L)
    val tue9 = out((2L, 9L))
    assert(tue9.getAs[Long]("obs_bp") == 3333L &&
      tue9.getAs[Long]("exp_bp") == 2777L && tue9.getAs[Long]("dev_bp") == 556L)
  }

  test("newVsReturning (q186): first-day election, exact daily ledger") {
    val dir = tempDir("graft_newret").toString
    def at(d: Long, i: Long) = nanos(d * day + i)
    Seq(
      (1L, at(1, 10), 1L, "view", 0.0, "{}"),   // A day 1 (new)
      (2L, at(2, 10), 1L, "view", 0.0, "{}"),   // A day 2 (returning)
      (3L, at(2, 11), 1L, "click", 0.0, "{}"),  // same user+day, no double count
      (4L, at(2, 20), 2L, "view", 0.0, "{}"),   // B day 2 (new)
      (5L, at(2, 30), 3L, "view", 0.0, "{}"),   // C day 2 (new)
      (6L, at(3, 10), 3L, "view", 0.0, "{}"))   // C day 3 (returning)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.newVsReturning(spark, dir).collect()
    assert(out.length == 3)
    def row(i: Int) = (out(i).getAs[Long]("n_active_users"),
      out(i).getAs[Long]("n_new_users"), out(i).getAs[Long]("n_returning"),
      out(i).getAs[Long]("new_share_bp"))
    assert(row(0) == ((1L, 1L, 0L, 10000L)))
    assert(row(1) == ((3L, 2L, 1L, 6666L)))
    assert(row(2) == ((1L, 0L, 1L, 0L)))
  }

  test("conversionSurvival (q188): life-table hazard and survival, exact ranks") {
    val dir = tempDir("graft_surv").toString
    def at(d: Long, i: Long) = nanos(d * day + i)
    Seq(
      (1L, at(0, 10), 1L, "signup", 0.0, "{}"),
      (2L, at(0, 20), 1L, "purchase", 1.0, "{}"),   // lat 0d
      (3L, at(0, 10), 2L, "signup", 0.0, "{}"),
      (4L, at(2, 10), 2L, "purchase", 1.0, "{}"),   // lat 2d
      (5L, at(0, 10), 3L, "signup", 0.0, "{}"),
      (6L, at(10, 10), 3L, "purchase", 1.0, "{}"),  // lat 10d
      (7L, at(0, 10), 4L, "signup", 0.0, "{}"))     // never converts
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.conversionSurvival(spark, dir).collect()
      .map(r => r.getAs[String]("interval") ->
        (r.getAs[Long]("at_risk"), r.getAs[Long]("converted_in"),
          r.getAs[Long]("hazard_bp"), r.getAs[Long]("cum_converted"),
          r.getAs[Long]("survival_bp"))).toMap
    assert(out.size == 5)
    assert(out("a_d0") == ((4L, 1L, 2500L, 1L, 7500L)))
    assert(out("b_d1") == ((3L, 0L, 0L, 1L, 7500L)))
    assert(out("c_d2_3") == ((3L, 1L, 3333L, 2L, 5000L)))
    assert(out("d_d4_7") == ((2L, 0L, 0L, 2L, 5000L)))
    assert(out("e_d8_14") == ((2L, 1L, 5000L, 3L, 2500L)))
  }

  test("mannKendallTrend (q189): sign algebra, negative-tau division parity") {
    val dir = tempDir("graft_mk").toString
    var eid = 0L
    def burst(ty: String, d: Long, n: Int) = (1 to n).map { i =>
      eid += 1; (eid, nanos(d * day + i), eid % 5, ty, 1.0, "{}")
    }
    val rows = burst("up", 1, 1) ++ burst("up", 2, 2) ++
      burst("up", 3, 3) ++ burst("up", 4, 4) ++
      burst("neg", 1, 3) ++ burst("neg", 2, 1) ++ burst("neg", 3, 2) ++
      burst("once", 2, 5) // single active day: no pairs, must still appear
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.mannKendallTrend(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val up = out("up")
    assert(up.getAs[Long]("n_days") == 4L && up.getAs[Long]("n_pairs") == 6L)
    assert(up.getAs[Long]("s_stat") == 6L && up.getAs[Long]("tau_bp") == 10000L)
    assert(up.getAs[String]("trend") == "increasing")
    // counts 3,1,2: pairs (3,1)−1 (3,2)−1 (1,2)+1 → S=−1, tau=−3333
    val neg = out("neg")
    assert(neg.getAs[Long]("s_stat") == -1L)
    assert(neg.getAs[Long]("tau_bp") == -3333L,
      "sign-split division must truncate toward zero in BOTH engines")
    assert(neg.getAs[String]("trend") == "decreasing")
    // the single-day type produces zero pairs yet must not vanish
    val once = out("once")
    assert(once.getAs[Long]("n_days") == 1L &&
      once.getAs[Long]("n_pairs") == 0L &&
      once.getAs[Long]("s_stat") == 0L &&
      once.getAs[Long]("tau_bp") == 0L &&
      once.getAs[String]("trend") == "flat",
      "a one-day series is a defined 'flat' row, not an absent one")
  }

  test("conversionSurvival: zero at-risk interval has hazard 0, not NULL") {
    val dir = tempDir("graft_surv0").toString
    // one user, converts on day 0 → every later interval has at_risk 0
    Seq(
      (1L, nanos(10), 1L, "signup", 0.0, "{}"),
      (2L, nanos(20), 1L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.conversionSurvival(spark, dir).collect()
      .map(r => r.getAs[String]("interval") -> r).toMap
    assert(out("a_d0").getAs[Long]("hazard_bp") == 10000L)
    Seq("b_d1", "c_d2_3", "d_d4_7", "e_d8_14").foreach { iv =>
      val r = out(iv)
      assert(r.getAs[Long]("at_risk") == 0L)
      assert(!r.isNullAt(r.fieldIndex("hazard_bp")) &&
        r.getAs[Long]("hazard_bp") == 0L,
        s"$iv: empty risk set must read 0, never NULL")
    }
  }

  test("abReadout (q191): hash assignment partitions users; exact arm arithmetic") {
    val dir = tempDir("graft_ab").toString
    // 40 users, every odd user purchases $1
    val rows = (1L to 40L).flatMap { u =>
      Seq((u * 10, nanos(u), u, "view", 0.0, "{}")) ++
        (if (u % 2 == 1) Seq((u * 10 + 1, nanos(u + 1), u, "purchase", 1.0, "{}"))
         else Seq.empty)
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.abReadout(spark, dir).collect()
    assert(out.map(_.getAs[String]("arm")).toSet == Set("control", "treatment"))
    assert(out.map(_.getAs[Long]("n_users")).sum == 40L,
      "arms must partition the user set")
    out.foreach { r =>
      val (n, conv, cents) = (r.getAs[Long]("n_users"),
        r.getAs[Long]("n_converters"), r.getAs[Long]("purchase_cents"))
      assert(r.getAs[Long]("conv_bp") == conv * 10000 / n)
      assert(r.getAs[Long]("assign_share_bp") == n * 10000 / 40)
      assert(cents == conv * 100L, "every converter spent exactly $1")
      assert(r.getAs[Long]("cents_per_user_milli") == cents * 1000 / n)
    }
    // determinism: a pure function of the id — rerun must agree exactly
    val again = EventAnalytics.abReadout(spark, dir).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("stateDwell (q192): gaps attribute to the opening state, exact shares") {
    val dir = tempDir("graft_dwell").toString
    Seq(
      (1L, nanos(0), 1L, "view", 0.0, "{}"),
      (2L, nanos(10), 1L, "click", 0.0, "{}"),
      (3L, nanos(30), 1L, "purchase", 1.0, "{}"),  // terminal: no dwell
      (4L, nanos(0), 2L, "view", 0.0, "{}"),
      (5L, nanos(100), 2L, "view", 0.0, "{}"))     // terminal
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.stateDwell(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out.keySet == Set("view", "click"), "terminal events carry no dwell")
    val v = out("view")
    assert(v.getAs[Long]("n_dwells") == 2L && v.getAs[Long]("dwell_sec") == 110L)
    assert(v.getAs[Long]("mean_dwell_ms") == 55000L)
    assert(v.getAs[Long]("dwell_share_bp") == 8461L)   // 110/130
    val c = out("click")
    assert(c.getAs[Long]("n_dwells") == 1L && c.getAs[Long]("dwell_sec") == 20L)
    assert(c.getAs[Long]("dwell_share_bp") == 1538L)
  }

  test("runsTest (q267): regime blocks vs alternation vs flat; zero deltas dropped") {
    import spark.implicits._
    val dir = tempDir("graft_runs").toString
    var eid = 0L
    def evs(t: String, d: Long, n: Int) = (1 to n).map { j =>
      eid += 1; (eid, nanos(d * day + j), eid % 5, t, 1.0, "{}")
    }
    val shapes = Map(
      // tent: 5 ups then 5 downs -> 2 runs of 10 -> z = -2683 (trending)
      "tr" -> Seq(1, 2, 3, 4, 5, 6, 5, 4, 3, 2, 1),
      // sawtooth: 10 alternating deltas -> 10 runs -> z = +2683
      // (the tent's mirror image: same counts, opposite sign)
      "os" -> Seq(5, 6, 5, 6, 5, 6, 5, 6, 5, 6, 5),
      // two zero deltas dropped; all-up remainder is degenerate (B=0)
      "zz" -> Seq(5, 5, 6, 6, 7, 7, 7, 7, 7, 7, 7))
    val rows = shapes.toSeq.flatMap { case (t, cs) =>
      cs.zipWithIndex.flatMap { case (c, d) => evs(t, d.toLong, c) }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.runsTest(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_up"), r.getAs[Long]("n_down"),
          r.getAs[Long]("n_runs"), r.getAs[Long]("z_milli"),
          r.getAs[String]("regime")))).toMap
    assert(out("tr") == ((5L, 5L, 2L, -2683L, "a_trending")),
      s"got ${out("tr")}")
    assert(out("os") == ((5L, 5L, 10L, 2683L, "c_oscillating")),
      s"got ${out("os")}")
    assert(out("zz") == ((2L, 0L, 1L, 0L, "b_random")), s"got ${out("zz")}")
  }

  test("aucAudit (q266): hand-walked rank AUC with a score tie across classes") {
    import spark.implicits._
    val dir = tempDir("graft_auc").toString
    var eid = 0L
    def user(u: Long, clicks: Int, purch: Int) =
      (1 to clicks).map { j =>
        eid += 1; (eid, nanos(eid), u, "click", 1.0, "{}")
      } ++ (1 to purch).map { j =>
        eid += 1; (eid, nanos(eid), u, "purchase", 1.0, "{}")
      }
    // positives (>=2 purchases vs mean 6/5): u1 score 10, u2 score 8;
    // negatives: u5 score 8 (TIE with u2), u3 score 2, u4 score 1.
    // U = 3 + 0.5 + 2 = 5.5 -> auc = 5.5/6 -> 9166 bp
    val rows = user(1L, 10, 3) ++ user(2L, 8, 3) ++ user(3L, 2, 0) ++
      user(4L, 1, 0) ++ user(5L, 8, 0)
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = EventAnalytics.aucAudit(spark, dir).collect().head
    assert(r.getAs[Long]("n_positive") == 2L &&
      r.getAs[Long]("n_negative") == 3L)
    assert(r.getAs[Long]("auc_bp") == 9166L,
      s"auc ${r.getAs[Long]("auc_bp")}")
    assert(r.getAs[Long]("gini_bp") == 8332L)
    assert(r.getAs[Boolean]("better_than_coin"))
  }

  test("weeklyEtaSquared (q265): pure weekly shape reads 10000; flat series reads 0") {
    import spark.implicits._
    val dir = tempDir("graft_eta").toString
    var eid = 0L
    def evs(t: String, d: Long, n: Int) = (1 to n).map { j =>
      eid += 1; (eid, nanos(d * day + j), eid % 5, t, 1.0, "{}")
    }
    // 14 days from 1970-01-01 (a Thursday; d=4 and d=11 are Mondays).
    // wk: Mondays 20, others 6 -> zero within-dow variance -> eta2
    // exactly 10000; fl: constant 5 -> zero total variance -> 0
    val rows = (0L to 13L).flatMap { d =>
      evs("wk", d, if (d % 7L == 4L) 20 else 6) ++ evs("fl", d, 5)
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.weeklyEtaSquared(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_days"), r.getAs[Long]("eta2_bp"),
          r.getAs[Long]("peak_dow"), r.getAs[Long]("peak_mean_milli"),
          r.getAs[Long]("trough_dow"),
          r.getAs[Long]("trough_mean_milli")))).toMap
    assert(out("wk") == ((14L, 10000L, 1L, 20000L, 2L, 6000L)),
      s"got ${out("wk")}")
    assert(out("fl") == ((14L, 0L, 1L, 5000L, 1L, 5000L)),
      s"got ${out("fl")}")
  }

  test("pearsonMatrix (q264): perfect line, anti-line, nearest-rounded roots, clamp") {
    import spark.implicits._
    val dir = tempDir("graft_pear").toString
    var eid = 0L
    def evs(t: String, d: Long, n: Int) = (1 to n).map { j =>
      eid += 1; (eid, nanos(d * day + j), eid % 5, t, 1.0, "{}")
    }
    // aa: 10,20,30,40; bb = 2*aa; cc = reversed aa
    val counts = Map("aa" -> Seq(10, 20, 30, 40), "bb" -> Seq(20, 40, 60, 80),
      "cc" -> Seq(40, 30, 20, 10))
    counts.toSeq.flatMap { case (t, cs) =>
      cs.zipWithIndex.flatMap { case (c, d) => evs(t, d.toLong, c) }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.pearsonMatrix(spark, dir).collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        ((r.getAs[Long]("n_days"), r.getAs[Long]("pearson_r_milli")))).toMap
    // hand walk: vx(aa)=2000 -> root 45 (44^2=1936, nearest up),
    // vy(bb)=8000 -> root 89 (89^2=7921, nearest down); cov(aa,bb)=4000
    // -> 1000*4000 div 4005 = 998; (aa,cc): cov -2000, roots 45*45 ->
    // -987; (bb,cc): cov -4000, 89*45 -> -998
    assert(out == Map(
      ("aa", "bb") -> ((4L, 998L)),
      ("aa", "cc") -> ((4L, -987L)),
      ("bb", "cc") -> ((4L, -998L))), s"got $out")
  }

  test("markovStationary (q261): biased 2-state chain converges to 1/3-2/3; exact replay") {
    import spark.implicits._
    val dir = tempDir("graft_mkst").toString
    // one user walking A B B A B B A B B A: transitions A->B x3,
    // B->B x3, B->A x3 -> P = [[0,1],[1/2,1/2]], stationary (1/3, 2/3)
    val seqTypes = Seq("alpha", "beta", "beta", "alpha", "beta", "beta",
      "alpha", "beta", "beta", "alpha")
    var eid = 0L
    val rows = seqTypes.map { t =>
      eid += 1; (eid, nanos(eid), 1L, t, 1.0, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    // operational replay: p_micro floored once, per-term mass*p div 1e6
    val p = Map(("alpha", "beta") -> 1000000L,
      ("beta", "beta") -> 500000L, ("beta", "alpha") -> 500000L)
    var mass = Map("alpha" -> 1000L, "beta" -> 1000L)
    for (_ <- 1 to EventAnalytics.MarkovSteps) {
      val next = scala.collection.mutable.Map("alpha" -> 0L, "beta" -> 0L)
      p.foreach { case ((f, t), pm) =>
        next(t) += Math.floorDiv(mass(f) * pm, 1000000L)
      }
      mass = next.toMap
    }
    val tot = mass.values.sum
    val out = EventAnalytics.markovStationary(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_out"), r.getAs[Long]("obs_share_bp"),
          r.getAs[Long]("stationary_share_bp"),
          r.getAs[Long]("delta_bp")))).toMap
    assert(out("alpha")._1 == 3L && out("beta")._1 == 6L)
    assert(out("alpha")._2 == 3333L && out("beta")._2 == 6666L)
    assert(out("alpha")._3 == mass("alpha") * 10000L / tot,
      s"alpha ${out("alpha")} vs replay ${mass("alpha") * 10000L / tot}")
    assert(out("beta")._3 == mass("beta") * 10000L / tot)
    // 8 steps from uniform must already sit within 2bp of 1/3-2/3
    assert(math.abs(out("alpha")._3 - 3333L) <= 2,
      s"alpha stationary ${out("alpha")._3}")
    out.foreach { case (_, (_, obs, st, d)) => assert(d == st - obs) }
  }

  test("retentionTriangle (q259): staggered cohorts, dropout, exact bp") {
    import spark.implicits._
    val dir = tempDir("graft_ret").toString
    var eid = 0L
    def ev(u: Long, d: Long) = { eid += 1; (eid, nanos(d * day), u, "click", 1.0, "{}") }
    // weeks are epoch-day div 7; fixture days 0/7/14 hit weeks 0/1/2.
    // cohort w0 = {u1,u2,u3}: offsets 0 -> 3, 1 -> 1 (u1), 2 -> 2
    // (u1,u2); cohort w1 = {u4}: offsets 0, 1 -> 1 each
    val rows = Seq(ev(1L, 0L), ev(1L, 7L), ev(1L, 14L),
      ev(2L, 0L), ev(2L, 14L), ev(3L, 0L),
      ev(4L, 7L), ev(4L, 14L))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.retentionTriangle(spark, dir).collect()
      .map(r => (r.getAs[Long]("cohort_week"), r.getAs[Long]("week_offset")) ->
        ((r.getAs[Long]("n_cohort_users"), r.getAs[Long]("n_active_users"),
          r.getAs[Long]("retention_bp")))).toMap
    assert(out == Map(
      (0L, 0L) -> ((3L, 3L, 10000L)),
      (0L, 1L) -> ((3L, 1L, 3333L)),
      (0L, 2L) -> ((3L, 2L, 6666L)),
      (1L, 0L) -> ((1L, 1L, 10000L)),
      (1L, 1L) -> ((1L, 1L, 10000L))), s"got $out")
  }

  test("cohortLtv (q195): month cohorts, exact per-cohort-user cents") {
    val dir = tempDir("graft_ltv").toString
    def at(d: Long, i: Long) = nanos(d * day + i)
    Seq(
      (1L, at(4, 1), 1L, "view", 0.0, "{}"),        // u1 joins 1970-01
      (2L, at(4, 2), 1L, "purchase", 1.0, "{}"),
      (3L, at(35, 1), 1L, "purchase", 2.0, "{}"),   // u1 spends in 1970-02
      (4L, at(5, 1), 2L, "view", 0.0, "{}"),        // u2 joins 1970-01, never buys
      (5L, at(35, 2), 3L, "purchase", 5.0, "{}"))   // u3 joins 1970-02
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.cohortLtv(spark, dir).collect()
      .map(r => (r.getAs[String]("cohort_month"),
        r.getAs[String]("activity_month")) ->
        (r.getAs[Long]("n_cohort_users"), r.getAs[Long]("n_active_users"),
          r.getAs[Long]("purchase_cents"),
          r.getAs[Long]("cents_per_cohort_user_milli"))).toMap
    assert(out.size == 3)
    assert(out(("1970-01", "1970-01")) == ((2L, 2L, 100L, 50000L)))
    assert(out(("1970-01", "1970-02")) == ((2L, 1L, 200L, 100000L)),
      "later-month spend divides by the COHORT size, not actives")
    assert(out(("1970-02", "1970-02")) == ((1L, 1L, 500L, 500000L)))
  }

  test("activeStreaks (q196): gaps-and-islands runs, band shares") {
    val dir = tempDir("graft_streak").toString
    var eid = 0L
    def on(u: Long, d: Long) = { eid += 1; (eid, nanos(d * day + u), u, "view", 0.0, "{}") }
    val rows = Seq(1L, 2L, 3L, 5L).map(on(1L, _)) ++      // best 3
      Seq(1L).map(on(2L, _)) ++                           // best 1
      Seq(10L, 11L, 20L, 21L).map(on(3L, _)) ++           // best 2
      (1L to 8L).map(on(4L, _))                           // best 8
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.activeStreaks(spark, dir).collect()
      .map(r => r.getAs[String]("streak_band") ->
        (r.getAs[Long]("n_users"), r.getAs[Long]("share_bp"),
          r.getAs[Long]("max_streak"))).toMap
    assert(out.size == 4)
    assert(out("a_1") == ((1L, 2500L, 1L)))
    assert(out("b_2") == ((1L, 2500L, 2L)))
    assert(out("c_3_4") == ((1L, 2500L, 3L)),
      "a gap must break the run: 1,2,3,5 is a 3-streak")
    assert(out("e_gt_7") == ((1L, 2500L, 8L)))
  }

  test("decayedBurstPanel (q203): dyadic baseline, burst/quiet verdicts, silence sentinel") {
    val dir = tempDir("graft_burst").toString
    var eid = 0L
    def ev(ty: String, d: Long, n: Int) = (1 to n).map { i =>
      eid += 1; (eid, nanos(d * day + i), eid % 5, ty, 1.0, "{}")
    }
    // span = days 1..10. Type a: steady 1/day for days 1..8, a 10x
    // burst on day 9, silence on day 10. Type b: one event on day 1
    // only. Type c: one event on day 10 only (burst from silence).
    val rows = (1L to 8L).flatMap(d => ev("a", d, 1)) ++ ev("a", 9, 10) ++
      ev("b", 1, 1) ++ ev("c", 10, 1)
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.decayedBurstPanel(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_days_scored"), r.getAs[Long]("n_burst"),
          r.getAs[Long]("n_quiet"), r.getAs[Long]("max_ratio_bp"))).toMap
    // a day 8: b127 = 127 (7x1), c=1 → ratio 10000, normal
    // a day 9: b127 = 127, c=10 → ratio 100000, burst
    // a day10: b127 = 640 + 63 = 703, c=0 → quiet
    assert(out("a") == ((3L, 1L, 1L, 100000L)))
    // b day 8: b127 = 1 (day-1 event at weight 1), c=0 → quiet;
    // days 9-10: all-zero baseline and volume → ratio 10000, normal
    assert(out("b") == ((3L, 0L, 1L, 10000L)))
    // c day 10: burst from silence — counted, sentinel -1 never wins max
    assert(out("c") == ((3L, 1L, 0L, 10000L)))
  }

  test("incrementalRefreshAudit (q204): merge == full recompute, exact touch bill") {
    val dir = tempDir("graft_ivm").toString
    // span days 1..10 → cutoff = day 4 (last 7 days are the delta)
    Seq(
      (1L, nanos(1 * day + 1), 1L, "purchase", 1.0, "{}"),
      (2L, nanos(1 * day + 2), 2L, "purchase", 1.0, "{}"),
      (3L, nanos(5 * day + 1), 1L, "purchase", 2.0, "{}"),
      (4L, nanos(2 * day + 1), 1L, "view", 0.0, "{}"),
      (5L, nanos(4 * day + 1), 2L, "view", 0.0, "{}"),
      (6L, nanos(4 * day + 2), 3L, "view", 0.0, "{}"),
      (7L, nanos(4 * day + 3), 4L, "view", 0.0, "{}"),
      (8L, nanos(10 * day + 1), 1L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = graft.operators.Relational.incrementalRefreshAudit(spark, dir)
    val m = out.collect().map(r => r.getAs[String]("event_type") ->
      (r.getAs[Long]("n_groups_full"), r.getAs[Long]("n_groups_delta"),
        r.getAs[Long]("touch_bp"), r.getAs[Long]("rows_full"),
        r.getAs[Long]("rows_delta"), r.getAs[Long]("delta_rows_bp"),
        r.getAs[Long]("n_mismatch"))).toMap
    // purchase: cells {d1(2 rows), d5(1)}; only d5 is in the delta
    assert(m("purchase") == ((2L, 1L, 5000L, 3L, 1L, 3333L, 0L)))
    // view: cells {d2, d4(3), d10}; d4 and d10 are delta
    assert(m("view") == ((3L, 2L, 6666L, 5L, 4L, 8000L, 0L)))
  }

  test("comovementMatrix (q206): exact Spearman milli on ramps, ties, and gap days") {
    val dir = tempDir("graft_rho").toString
    var eid = 0L
    def ev(ty: String, d: Long, n: Int) = (1 to n).map { i =>
      eid += 1; (eid, nanos(d * day + i), eid % 5, ty, 1.0, "{}")
    }
    // span days 1..4: 'up' ramps 1,2,3,4; 'dn' ramps 4,3,2,1; 'eq' is
    // flat 1,1,1,1 (pure tie-break ranking); 'gap' fires day 1 only
    val rows = (1 to 4).flatMap(d => ev("up", d.toLong, d)) ++
      (1 to 4).flatMap(d => ev("dn", d.toLong, 5 - d)) ++
      (1 to 4).flatMap(d => ev("eq", d.toLong, 1)) ++ ev("gap", 1, 1)
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.comovementMatrix(spark, dir).collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        (r.getAs[Long]("n_days"), r.getAs[Long]("d2_sum"),
          r.getAs[Long]("rho_milli"))).toMap
    assert(out.size == 6, "C(4,2) type pairs")
    // perfect anti-correlation and (via the day tie-break on the flat
    // series) perfect correlation
    assert(out(("dn", "up")) == ((4L, 20L, -1000L)))
    assert(out(("eq", "up")) == ((4L, 0L, 1000L)))
    // gap days are genuine zeros: gap ranks (d1..d4) = 4,1,2,3 vs
    // up 1,2,3,4 → d² = 9+1+1+1 = 12 → 1000 − 72000/60 = −200
    assert(out(("gap", "up")) == ((4L, 12L, -200L)))
  }

  test("valueMigration (q207): exact quartile elections per period, new/churned edges") {
    val dir = tempDir("graft_migr").toString
    // span days 1..10 → cut = day 5 (period 1 is day <= 5)
    def p(id: Long, d: Long, u: Long, dollars: Double) =
      (id, nanos(d * day + id), u, "purchase", dollars, "{}")
    Seq(
      p(1, 1, 1L, 1.0), p(2, 6, 1L, 10.0),  // riser: q1 -> q4
      p(3, 2, 2L, 2.0), p(4, 7, 2L, 2.0),   // holder: q2 -> q2
      p(5, 3, 3L, 3.0), p(6, 8, 3L, 1.0),   // faller: q3 -> q1
      p(7, 4, 4L, 4.0),                      // churned: q4 -> 0
      p(8, 9, 5L, 5.0),                      // new: 0 -> q3
      (9L, nanos(10 * day), 9L, "view", 0.0, "{}")) // non-purchase ignored
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.valueMigration(spark, dir).collect()
      .map(r => (r.getAs[Long]("q_from"), r.getAs[Long]("q_to")) ->
        r.getAs[Long]("n_users")).toMap
    assert(out == Map((1L, 4L) -> 1L, (2L, 2L) -> 1L, (3L, 1L) -> 1L,
      (4L, 0L) -> 1L, (0L, 3L) -> 1L), s"got $out")
  }

  test("decileGains (q213): tie-stable decile election, exact lift/capture") {
    val dir = tempDir("graft_gains2").toString
    var eid = 0L
    def ev(u: Long, t: String, n: Int) = (1 to n).map { _ =>
      eid += 1; (eid, nanos(eid), u, t, 1.0, "{}") }
    // scores (click+view): u1=4, u2=3, u3=2, u4=1, u5=0; purchases:
    // u1=3, u2=1, u5=1 → total 5 over 5 users; positive iff n_purch·5 > 5
    // (strictly above the mean) → u1 only
    (ev(1, "click", 4) ++ ev(1, "purchase", 3) ++
      ev(2, "view", 3) ++ ev(2, "purchase", 1) ++
      ev(3, "click", 2) ++ ev(4, "view", 1) ++
      ev(5, "error", 1) ++ ev(5, "purchase", 1))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.decileGains(spark, dir).collect()
      .map(r => r.getAs[Long]("decile") ->
        (r.getAs[Long]("n_users"), r.getAs[Long]("n_pos"),
          r.getAs[Long]("cum_users"), r.getAs[Long]("cum_pos"),
          r.getAs[Long]("rate_bp"), r.getAs[Long]("lift_bp"),
          r.getAs[Long]("capture_bp"))).toMap
    // cum ranks 1..5 from the top score land in deciles 1,3,5,7,9
    assert(out.keySet == Set(1L, 3L, 5L, 7L, 9L), s"got ${out.keySet}")
    assert(out(1L) == ((1L, 1L, 1L, 1L, 10000L, 50000L, 10000L)))
    assert(out(3L) == ((1L, 0L, 2L, 1L, 0L, 0L, 10000L)))
    assert(out(9L) == ((1L, 0L, 5L, 1L, 0L, 0L, 10000L)))
  }

  test("sessionPaths (q216): opening trigrams, late conversion still counts") {
    val dir = tempDir("graft_paths").toString
    var eid = 0L
    def ev(u: Long, t: String, sec: Long) = { eid += 1
      (eid, nanos(sec), u, t, 1.0, "{}") }
    // u1 session 1: view>click>purchase + a 4th event (purchase INSIDE
    // the opening); u1 session 2 (a day later): view>click, converts 0;
    // u2: click>view>view>purchase — converts via an event PAST the
    // opening trigram
    (Seq(ev(1, "view", 1), ev(1, "click", 2), ev(1, "purchase", 3),
      ev(1, "click", 4),
      ev(1, "view", day + 100), ev(1, "click", day + 101),
      ev(2, "click", 10), ev(2, "view", 11), ev(2, "view", 12),
      ev(2, "purchase", 13)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.sessionPaths(spark, dir).collect()
      .map(r => r.getAs[String]("path") ->
        (r.getAs[Long]("n_sessions"), r.getAs[Long]("share_bp"),
          r.getAs[Long]("n_convert"), r.getAs[Long]("convert_bp")))
    assert(out.toMap == Map(
      "view>click>purchase" -> ((1L, 3333L, 1L, 10000L)),
      "view>click" -> ((1L, 3333L, 0L, 0L)),
      "click>view>view" -> ((1L, 3333L, 1L, 10000L))),
      s"got ${out.mkString(", ")}")
  }

  test("funnelStageDwell (q221): per-stage pass rates and exact median dwell") {
    val dir = tempDir("graft_dwell").toString
    var eid = 0L
    def ev(u: Long, t: String, sec: Long) = { eid += 1
      (eid, nanos(sec), u, t, 1.0, "{}") }
    // u1: signup@0 → view@10 → purchase@40 (dwells 10, 30)
    // u2: signup@0 → view@20, no purchase      (dwell 20)
    // u3: signup@0, view BEFORE signup → drops at stage 1
    // u4: view only → never enters (no signup)
    (Seq(ev(1, "signup", 100), ev(1, "view", 110), ev(1, "purchase", 140),
      ev(2, "signup", 200), ev(2, "view", 220),
      ev(3, "view", 300), ev(3, "signup", 310),
      ev(4, "view", 400)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.funnelStageDwell(spark, dir).collect()
      .map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("n_entering"), r.getAs[Long]("n_passing"),
          r.getAs[Long]("pass_bp"), r.getAs[Long]("mean_dwell_sec"),
          r.getAs[Long]("p50_dwell_sec"))).toMap
    // stage 1: 3 signups enter, u1+u2 pass; dwells {10, 20} → mean 15,
    // median = rank ⌈2/2⌉ = 1 → 10
    assert(out("a_signup_to_view") == ((3L, 2L, 6666L, 15L, 10L)))
    // stage 2: the 2 passers enter, only u1 converts; dwell {30}
    assert(out("b_view_to_purchase") == ((2L, 1L, 5000L, 30L, 30L)))
  }

  test("churnLabels (q227): pair grain, bands, horizon labeling, exclusions") {
    import spark.implicits._
    val dir = tempDir("graft_churn").toString
    var eid = 0L
    def ev(u: Long, d: Long, t: String = "click") = {
      eid += 1; (eid, nanos(d * day + 1), u, t, 1.0, "{}")
    }
    val rows =
      // (u1, click): obs days 1,2 (b_2_3), silent horizon → churned
      Seq(ev(1L, 1L), ev(1L, 2L)) ++
        // (u1, view): one obs day (a_1), no horizon → churned — the
        // feature grain labels this pair independently of u1's clicks
        Seq(ev(1L, 1L, "view")) ++
        // (u2, click): one obs day (a_1), day 16 (horizon) → retained
        Seq(ev(2L, 1L), ev(2L, 16L)) ++
        // (u3, click): obs days 1..8 (d_ge_8), horizon day 15 → retained
        (1L to 8L).map(d => ev(3L, d)) :+ ev(3L, 15L) :+
        // (u4, click): horizon-only → no observation activity → excluded
        ev(4L, 16L)
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.churnLabels(spark, dir).collect()
      .map(r => r.getAs[String]("activity_band") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_churned"),
          r.getAs[Long]("churn_bp"), r.getAs[Long]("sum_obs_days")))).toMap
    assert(out == Map(
      "a_1" -> ((2L, 1L, 5000L, 2L)),
      "b_2_3" -> ((1L, 1L, 10000L, 2L)),
      "d_ge_8" -> ((1L, 0L, 0L, 8L))), s"got $out")
  }

  test("cusumShift (q228): hand-walked two-sided walk, zero-fill, flat type") {
    import spark.implicits._
    val dir = tempDir("graft_cusum").toString
    var eid = 0L
    def evs(t: String, d: Long, n: Int) = (1 to n).map { i =>
      eid += 1; (eid, nanos(d * day + i), eid % 5, t, 1.0, "{}")
    }
    // "shift": 1,1,3,3 → dev·4 = −4,−4,4,4; S⁺ peaks 8 at i=3, S⁻ 8 at i=1
    // "flat": 2,2 → all-zero devs → both peaks 0, argmax −1 → NULL days
    // "gap": 2,_,2 (day 2 empty) → zero-fill: dev·3 = 2,−4,2;
    //   S⁺ peak 2 at i=0, S⁻ peak 4 at i=1 (the missing day)
    val rows = evs("shift", 1, 1) ++ evs("shift", 2, 1) ++
      evs("shift", 3, 3) ++ evs("shift", 4, 3) ++
      evs("flat", 1, 2) ++ evs("flat", 2, 2) ++
      evs("gap", 1, 2) ++ evs("gap", 3, 2)
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.cusumShift(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val s = out("shift")
    assert(s.getAs[Long]("n_days") == 4L && s.getAs[Long]("total_events") == 8L)
    assert(s.getAs[Long]("up_peak_bp") == 2500L, // 8·10⁴ div (4·8)
      s"up ${s.getAs[Long]("up_peak_bp")}")
    assert(s.getAs[java.sql.Date]("up_peak_day").toString == "1970-01-05")
    assert(s.getAs[Long]("down_peak_bp") == 2500L)
    assert(s.getAs[java.sql.Date]("down_peak_day").toString == "1970-01-03")
    val f = out("flat")
    assert(f.getAs[Long]("up_peak_bp") == 0L && f.getAs[Long]("down_peak_bp") == 0L)
    assert(f.isNullAt(f.fieldIndex("up_peak_day")) &&
      f.isNullAt(f.fieldIndex("down_peak_day")))
    val g = out("gap")
    assert(g.getAs[Long]("n_days") == 3L && g.getAs[Long]("total_events") == 4L)
    assert(g.getAs[Long]("up_peak_bp") == 1666L) // 2·10⁴ div 12
    assert(g.getAs[Long]("down_peak_bp") == 3333L) // 4·10⁴ div 12
    assert(g.getAs[java.sql.Date]("down_peak_day").toString == "1970-01-03",
      "the S⁻ peak lands on the zero-filled missing day")
  }

  test("coverageGaps (q230): runs, head gaps, and the shared global grid") {
    import spark.implicits._
    val dir = tempDir("graft_cover").toString
    var eid = 0L
    def ev(t: String, h: Long) = { eid += 1; (eid, nanos(h * 3600L + 1), eid % 5, t, 1.0, "{}") }
    val rows =
      (0L to 5L).map(h => ev("full", h)) ++ // all 6 grid hours
        Seq(ev("gappy", 0L), ev("gappy", 3L), ev("gappy", 5L)) ++ // 2 runs
        Seq(ev("late", 4L), ev("late", 5L)) // head gap of 4
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.coverageGaps(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_expected"), r.getAs[Long]("n_present"),
          r.getAs[Long]("coverage_bp"), r.getAs[Long]("n_gap_runs"),
          r.getAs[Long]("max_gap_hours")))).toMap
    assert(out == Map(
      "full" -> ((6L, 6L, 10000L, 0L, 0L)),
      "gappy" -> ((6L, 3L, 5000L, 2L, 2L)),
      "late" -> ((6L, 2L, 3333L, 1L, 4L))), s"got $out")
  }

  test("peakConcurrency (q233): overlap peak, sentinel carry across midnight") {
    import spark.implicits._
    val dir = tempDir("graft_peak").toString
    var eid = 0L
    def ev(u: Long, sec: Long) = { eid += 1; (eid, nanos(sec), u, "click", 1.0, "{}") }
    val rows = Seq(
      // day 0: u1 session [m10, m20], u2 [m15], u3 [m5] + [m90]
      // (75-min silence splits u3) → peak 2 at minute 15, 4 starts
      ev(1L, 600L), ev(1L, 1200L), ev(2L, 900L),
      ev(3L, 300L), ev(3L, 5400L),
      // day 1: one session at minute 30
      ev(4L, 86400L + 1800L),
      // u5 spans midnight day2→day3 (23:50 → 00:10, 20-min gap, one
      // session): day 3 has NO start but carries concurrency 1 in via
      // the sentinel at minute 0
      ev(5L, 2L * 86400L + 85800L), ev(5L, 3L * 86400L + 600L))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.peakConcurrency(spark, dir).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        ((r.getAs[Long]("n_sessions_started"),
          r.getAs[Long]("peak_concurrent"),
          r.getAs[Long]("peak_minute_of_day")))).toMap
    assert(out == Map(
      "1970-01-01" -> ((4L, 2L, 15L)),
      "1970-01-02" -> ((1L, 1L, 30L)),
      "1970-01-03" -> ((1L, 1L, 1430L)),
      "1970-01-04" -> ((0L, 1L, 0L))), s"got $out")
  }

  test("errorRecovery (q236): four outcomes, cutoffs, cascade beats quick") {
    import spark.implicits._
    val dir = tempDir("graft_errrec").toString
    var eid = 0L
    def ev(u: Long, sec: Long, t: String) = { eid += 1; (eid, nanos(sec), u, t, 1.0, "{}") }
    val rows = Seq(
      ev(1L, 0L, "error"), ev(1L, 60L, "click"), // quick (60 s)
      ev(2L, 0L, "error"), ev(2L, 600L, "view"), // slow (10 min)
      // an error 100 s after an error is a CASCADE, not a quick recovery
      ev(3L, 0L, "error"), ev(3L, 100L, "error"), // cascade; 2nd abandoned
      ev(4L, 0L, "error"), ev(4L, 3600L, "click")) // > 30 min → abandoned
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.errorRecovery(spark, dir).collect()
      .map(r => r.getAs[String]("outcome") ->
        ((r.getAs[Long]("n_errors"), r.getAs[Long]("share_bp"),
          r.getAs[Long]("mean_gap_ms")))).toMap
    assert(out == Map(
      "a_quick_recovery" -> ((1L, 2000L, 60000L)),
      "b_slow_recovery" -> ((1L, 2000L, 600000L)),
      "c_cascade" -> ((1L, 2000L, 100000L)),
      "d_abandoned" -> ((2L, 4000L, 0L))), s"got $out")
  }

  test("uShapedAttribution (q237): 40/20/40 split, cents-exact, direct and single-touch") {
    import spark.implicits._
    val dir = tempDir("graft_ushape").toString
    var eid = 0L
    def ev(u: Long, sec: Long, t: String, v: Double = 0.0) = {
      eid += 1; (eid, nanos(sec), u, t, v, "{}")
    }
    val rows = Seq(
      // u1: click, view, click → $10 purchase: ft=click 400(+rem 0),
      // lt=click 400, middle view gets the exact 200 pool
      ev(1L, 10L, "click"), ev(1L, 20L, "view"), ev(1L, 30L, "click"),
      ev(1L, 40L, "purchase", 10.0),
      // u2: touchless $5 purchase → all 500 cents to (direct)
      ev(2L, 10L, "purchase", 5.0),
      // u3: one signup touch, $7: ft=lt=signup; m_mid=0 → the 140-cent
      // middle pool rides the remainder back to the first touch
      ev(3L, 10L, "signup"), ev(3L, 20L, "purchase", 7.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.uShapedAttribution(spark, dir).collect()
      .map(r => r.getAs[String]("channel") ->
        ((r.getAs[Long]("n_credits"), r.getAs[Long]("cents"),
          r.getAs[Long]("share_bp")))).toMap
    assert(out == Map(
      "(direct)" -> ((2L, 500L, 2272L)),
      "click" -> ((2L, 800L, 3636L)),
      "signup" -> ((2L, 700L, 3181L)),
      "view" -> ((1L, 200L, 909L))), s"got $out")
    // allocation conserves revenue exactly: 1000 + 500 + 700
    assert(out.values.map(_._2).sum == 2200L)
  }

  test("forecastBacktest (q241): weekly pattern wins, trend loses, short span drops") {
    import spark.implicits._
    val dir = tempDir("graft_fcast").toString
    var eid = 0L
    def evs(t: String, d: Long, n: Int) = (1 to n).map { j =>
      eid += 1; (eid, nanos(d * day + j), eid % 5, t, 1.0, "{}")
    }
    val weekly = Seq(5, 1, 1, 1, 1, 1, 1)
    val rows =
      // "flat7": two identical weeks → seasonal errors 0, naive pays the
      // Monday spike twice (|1−5| at t=7... wait, |5−1|=4 entering and
      // |1−5|=4 leaving): sad_naive 8, sad_seasonal 0
      (0 until 14).flatMap(d => evs("flat7", d.toLong, weekly(d % 7))) ++
        // "trend": counts 1..14 → naive pays 1/day (7), seasonal 7/day (49)
        (0 until 14).flatMap(d => evs("trend", d.toLong, d + 1)) ++
        // "const": both bills 0 → mase pinned at 10000, helps = false
        (0 until 14).flatMap(d => evs("const", d.toLong, 2)) ++
        // "short": 5-day span < one season → dropped from the panel
        (0 until 5).flatMap(d => evs("short", d.toLong, 3))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.forecastBacktest(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("sad_naive"), r.getAs[Long]("sad_seasonal"),
          r.getAs[Long]("mase_bp"), r.getAs[Boolean]("seasonal_helps")))).toMap
    assert(out == Map(
      "flat7" -> ((8L, 0L, 0L, true)),
      "trend" -> ((7L, 49L, 70000L, false)),
      "const" -> ((0L, 0L, 10000L, false))), s"got $out")
  }

  test("holtBacktest (q243): walk matches an independent floorDiv replay; SADs agree with q241") {
    import spark.implicits._
    val dir = tempDir("graft_holt").toString
    var eid = 0L
    def evs(t: String, d: Long, n: Int) = (1 to n).map { j =>
      eid += 1; (eid, nanos(d * day + j), eid % 5, t, 1.0, "{}")
    }
    // up: linear uptrend (Holt's home turf); down: downtrend driving the
    // trend accumulator NEGATIVE (the floor-vs-truncate division trap);
    // weekly: a seasonal shape level+trend cannot carry
    val shapes = Map(
      "up" -> (4 to 22 by 2).map(_.toLong),
      "down" -> (22 to 4 by -2).map(_.toLong),
      "weekly" -> Seq(10L, 1L, 1L, 1L, 1L, 1L, 1L, 10L, 1L, 1L))
    val rows = shapes.toSeq.flatMap { case (t, cs) =>
      cs.zipWithIndex.flatMap { case (c, d) => evs(t, d.toLong, c.toInt) }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    // independent reference: Math.floorDiv instead of the shifted div
    def replay(cs: Seq[Long]): (Long, Long, Long) = {
      var l = cs.head * 1000; var b = 0L
      var sh = 0L; var sn = 0L; var ss = 0L
      for (i <- 1 until cs.size) {
        val y = cs(i) * 1000
        if (i >= 7) {
          sh += math.abs(y - (l + b))
          sn += math.abs(cs(i) - cs(i - 1))
          ss += math.abs(cs(i) - cs(i - 7))
        }
        val lNew = Math.floorDiv(y + l + b, 2L)
        b = Math.floorDiv(lNew - l + 3L * b, 4L)
        l = lNew
      }
      (sh, sn, ss)
    }
    val out = EventAnalytics.holtBacktest(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("sad_naive"), r.getAs[Long]("sad_seasonal"),
          r.getAs[Long]("sad_holt_milli"), r.getAs[Long]("mase_vs_naive_bp"),
          r.getAs[Long]("mase_vs_seasonal_bp"),
          r.getAs[Boolean]("holt_best")))).toMap
    assert(out.keySet == shapes.keySet)
    shapes.foreach { case (t, cs) =>
      val (sh, sn, ss) = replay(cs)
      val got = out(t)
      assert(got._1 == sn && got._2 == ss && got._3 == sh,
        s"$t: got $got, replay ${(sh, sn, ss)}")
      assert(got._4 == (if (sn > 0) sh * 10 / sn else 10000L), s"$t naive bp")
      assert(got._5 == (if (ss > 0) sh * 10 / ss else 10000L), s"$t seasonal bp")
      assert(got._6 == (sh < sn * 1000 && sh < ss * 1000), s"$t election")
    }
    // the elections land where the ladder says they should
    assert(out("up")._6 && out("down")._6,
      "Holt must beat both baselines on pure trends")
    assert(!out("weekly")._6 && out("weekly")._2 == 0L,
      "a pure weekly shape belongs to the seasonal forecaster")
    // the q241 columns recomputed inside the fold agree with q241 itself
    val q241 = EventAnalytics.forecastBacktest(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("sad_naive"), r.getAs[Long]("sad_seasonal")))).toMap
    shapes.keys.foreach { t =>
      assert((out(t)._1, out(t)._2) == q241(t), s"$t SADs diverge from q241")
    }
  }

  test("abSignificance (q250): exact pooled z on a designed 10%-vs-30% split; floors match float z") {
    import spark.implicits._
    val dir = tempDir("graft_absig").toString
    def h1(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    // pick 100 users per arm by replaying the q191 hash assignment
    val ids = Iterator.from(1).map(_.toLong)
    val control = ids.filter(u => h1(u.toString) % 2 == 0).take(100).toSeq
    val treatment = Iterator.from(1).map(_.toLong)
      .filter(u => h1(u.toString) % 2 == 1).take(100).toSeq
    var eid = 0L
    def ev(u: Long, t: String) = { eid += 1; (eid, eid * 1000000000L, u, t, 1.0, "{}") }
    // control converts 10/100, treatment 30/100
    val rows = (control ++ treatment).map(ev(_, "view")) ++
      control.take(10).map(ev(_, "purchase")) ++
      treatment.take(30).map(ev(_, "purchase"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val r = EventAnalytics.abSignificance(spark, dir).collect().head
    assert(r.getAs[Long]("n_control") == 100L &&
      r.getAs[Long]("conv_control") == 10L)
    assert(r.getAs[Long]("n_treatment") == 100L &&
      r.getAs[Long]("conv_treatment") == 30L)
    assert(r.getAs[Long]("conv_control_bp") == 1000L &&
      r.getAs[Long]("conv_treatment_bp") == 3000L)
    assert(r.getAs[Long]("diff_abs_bp") == 2000L)
    assert(r.getAs[String]("direction") == "treatment_up")
    // dvar = 40*160*100*100 div 200 = 320000; isqrt = 565;
    // z = 2000*1000 div 565 = 3539 — the float z is 3.536, so the
    // integer floors sit within one milli-step of it
    assert(r.getAs[Long]("z_abs_milli") == 3539L,
      s"z ${r.getAs[Long]("z_abs_milli")}")
    assert(r.getAs[Boolean]("significant_95") &&
      r.getAs[Boolean]("significant_99"))
  }

  test("errorBudget (q248): burn arithmetic on a hand grid — alert conjunction, silent-day zero fill") {
    import spark.implicits._
    val dir = tempDir("graft_ebudget").toString
    var eid = 0L
    def evs(d: Long, errs: Int, oks: Int) =
      (1 to errs).map { j => eid += 1; (eid, nanos(d * day + j), eid % 3, "error", 1.0, "{}") } ++
        (1 to oks).map { j => eid += 1; (eid, nanos(d * day + 100 + j), eid % 3, "click", 1.0, "{}") }
    // day0: 1/4 errors (burn exactly 1x); day1: 2/2 (4x day burn + 2x
    // week burn -> the fast alert); day2: silent; day3: 0/5 clean
    val rows = evs(0L, 1, 3) ++ evs(1L, 2, 0) ++ evs(3L, 0, 5)
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.errorBudget(spark, dir).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("n_errors"),
          r.getAs[Long]("rate_bp"), r.getAs[Long]("burn_1d_centi"),
          r.getAs[Long]("rate_7d_bp"), r.getAs[Long]("burn_7d_centi"),
          r.getAs[Long]("cum_burn_centi"),
          r.getAs[Boolean]("alert_fast")))).toMap
    assert(out == Map(
      "1970-01-01" -> ((4L, 1L, 2500L, 100L, 2500L, 100L, 100L, false)),
      "1970-01-02" -> ((2L, 2L, 10000L, 400L, 5000L, 200L, 200L, true)),
      "1970-01-03" -> ((0L, 0L, 0L, 0L, 5000L, 200L, 200L, false)),
      "1970-01-04" -> ((5L, 0L, 0L, 0L, 2727L, 109L, 109L, false))),
      s"got $out")
  }

  test("markovBacktest (q247): modal predictions, marginal baseline, strict helps election") {
    import spark.implicits._
    val dir = tempDir("graft_markov").toString
    var eid = 0L
    def chain(u: Long, types: Seq[String]) = types.zipWithIndex.map {
      case (t, j) => eid += 1; (eid, nanos(u * 10000L + j * 10L), u, t, 1.0, "{}")
    }
    // transitions: A->B x3, A->C x1, B->A x1, B->C x2, C->C x2
    // to-marginal: B 3, A 1, C 5 -> baseline predicts C everywhere
    val rows = chain(1L, Seq("A", "B", "A", "C", "C", "C")) ++
      chain(2L, Seq("A", "B")) ++ chain(3L, Seq("A", "B", "C")) ++
      chain(4L, Seq("B", "C"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.markovBacktest(spark, dir).collect()
      .map(r => r.getAs[String]("from_type") ->
        ((r.getAs[Long]("n_out"), r.getAs[String]("modal_next"),
          r.getAs[Long]("hits"), r.getAs[Long]("accuracy_bp"),
          r.getAs[String]("baseline_next"), r.getAs[Long]("baseline_hits"),
          r.getAs[Long]("lift_bp"), r.getAs[Boolean]("markov_helps")))).toMap
    assert(out == Map(
      "A" -> ((4L, "B", 3L, 7500L, "C", 1L, 5000L, true)),
      "B" -> ((3L, "C", 2L, 6666L, "C", 2L, 0L, false)),
      "C" -> ((2L, "C", 2L, 10000L, "C", 2L, 0L, false))), s"got $out")
  }

  test("hwBacktest (q251): walk matches an independent floorDiv replay; weekly shape elects the seasonal rungs") {
    import spark.implicits._
    val dir = tempDir("graft_hw").toString
    var eid = 0L
    def evs(t: String, d: Long, n: Int) = (1 to n).map { j =>
      eid += 1; (eid, nanos(d * day + j), eid % 5, t, 1.0, "{}")
    }
    val shapes = Map(
      "up" -> (4 to 30 by 2).map(_.toLong),
      "weekly" -> (0 until 21).map(i => if (i % 7 == 0) 20L else 2L))
    val rows = shapes.toSeq.flatMap { case (t, cs) =>
      cs.zipWithIndex.flatMap { case (c, d) => evs(t, d.toLong, c.toInt) }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    def replay(cs: Seq[Long]): (Long, Long, Long, Long) = {
      var l = cs.head * 1000; var b = 0L
      val s = Array.fill(7)(0L)
      var hl = l; var hb = 0L
      var shw = 0L; var sho = 0L; var sn = 0L; var ss = 0L
      for (i <- 1 until cs.size) {
        val y = cs(i) * 1000; val j = i % 7
        if (i >= 7) {
          shw += math.abs(y - (l + b + s(j)))
          sho += math.abs(y - (hl + hb))
          sn += math.abs(cs(i) - cs(i - 1))
          ss += math.abs(cs(i) - cs(i - 7))
        }
        val lN = Math.floorDiv(y - s(j) + l + b, 2L)
        b = Math.floorDiv(lN - l + 3L * b, 4L)
        s(j) = Math.floorDiv(y - lN + s(j), 2L)
        l = lN
        val hlN = Math.floorDiv(y + hl + hb, 2L)
        hb = Math.floorDiv(hlN - hl + 3L * hb, 4L)
        hl = hlN
      }
      (shw, sho, sn, ss)
    }
    val out = EventAnalytics.hwBacktest(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("sad_naive"), r.getAs[Long]("sad_seasonal"),
          r.getAs[Long]("sad_holt_milli"), r.getAs[Long]("sad_hw_milli"),
          r.getAs[String]("best_model")))).toMap
    val mase = EventAnalytics.hwBacktest(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("mase_hw_vs_naive_bp"),
          r.getAs[Long]("mase_hw_vs_seasonal_bp"),
          r.getAs[Long]("mase_hw_vs_holt_bp")))).toMap
    assert(out.keySet == shapes.keySet)
    shapes.foreach { case (t, cs) =>
      val (shw, sho, sn, ss) = replay(cs)
      val got = out(t)
      assert((got._1, got._2, got._3, got._4) == ((sn, ss, sho, shw)),
        s"$t: got $got, replay ${(sn, ss, sho, shw)}")
      // all three MASE ratios in true basis points: shw is milli-units
      // so vs the raw-unit sn/ss the factor is 10, vs milli-unit sho
      // it is 10000 (equal SADs must read 10000 on every column)
      val expectMase = (
        if (sn > 0) Math.floorDiv(shw * 10, sn) else 10000L,
        if (ss > 0) Math.floorDiv(shw * 10, ss) else 10000L,
        if (sho > 0) Math.floorDiv(shw * 10000, sho) else 10000L)
      assert(mase(t) == expectMase, s"$t mase: got ${mase(t)}, " +
        s"expect $expectMase")
      val expectBest =
        if (sn * 1000 <= ss * 1000 && sn * 1000 <= sho && sn * 1000 <= shw)
          "a_naive"
        else if (ss * 1000 <= sho && ss * 1000 <= shw) "b_seasonal"
        else if (sho <= shw) "c_holt" else "d_hw"
      assert(got._5 == expectBest, s"$t election")
    }
    // the spiky-weekly shape must belong to a seasonal rung, and HW
    // must beat plain Holt there (the whole point of the season ring)
    assert(Set("b_seasonal", "d_hw").contains(out("weekly")._5),
      s"weekly elected ${out("weekly")._5}")
    assert(out("weekly")._4 < out("weekly")._3,
      "HW must out-forecast plain Holt on a weekly shape")
  }

  test("theilSen (q252): exact pair-median slopes; an outage day cannot drag the long-series slope") {
    import spark.implicits._
    val dir = tempDir("graft_tsen").toString
    var eid = 0L
    def evs(t: String, d: Long, n: Int) = (1 to n).map { j =>
      eid += 1; (eid, nanos(d * day + j), eid % 5, t, 1.0, "{}")
    }
    val shapes = Map(
      // pure line 2,4,6,8: every pair slope exactly 2000 milli/day
      "lin" -> Seq(2L, 4L, 6L, 8L),
      // interior outage on a flat series: slopes
      // {-10000,-5000,0,0,0,10000} -> lower median 0, S = -1
      "out" -> Seq(10L, 10L, 0L, 10L),
      // 9-day line with day 4 an outage: 28 of 36 pairs still read
      // exactly 1000 — the median ignores the outage entirely
      "rob" -> Seq(1L, 2L, 3L, 4L, 0L, 6L, 7L, 8L, 9L))
    val rows = shapes.toSeq.flatMap { case (t, cs) =>
      cs.zipWithIndex.flatMap { case (c, d) =>
        if (c == 0L) Seq.empty else evs(t, d.toLong, c.toInt)
      }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.theilSen(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_days"), r.getAs[Long]("n_pairs"),
          r.getAs[Long]("s_stat"), r.getAs[Long]("theil_sen_milli"),
          r.getAs[String]("direction")))).toMap
    assert(out("lin") == ((4L, 6L, 6L, 2000L, "a_up")), s"got ${out("lin")}")
    assert(out("out") == ((4L, 6L, -1L, 0L, "b_flat")),
      s"got ${out("out")}")
    assert(out("rob") == ((9L, 36L, 28L, 1000L, "a_up")),
      s"got ${out("rob")}")
  }

  test("botRegularity (q239): modal-gap bands, minimum-gap exclusion") {
    import spark.implicits._
    val dir = tempDir("graft_bot").toString
    var eid = 0L
    def user(u: Long, secs: Seq[Long]) = secs.map { s =>
      eid += 1; (eid, nanos(s), u, "click", 1.0, "{}")
    }
    def cum(gaps: Seq[Long]): Seq[Long] = gaps.scanLeft(0L)(_ + _)
    val rows =
      // u1: ten exact 10 s gaps → top share 10000 → a_metronomic
      user(1L, cum(Seq.fill(10)(10L))) ++
        // u2: gaps 1..10, all distinct → 1000 → d_organic
        user(2L, cum((1L to 10L))) ++
        // u3: five 10 s + five distinct → 5000 → b_regular
        user(3L, cum(Seq.fill(5)(10L) ++ (1L to 5L))) ++
        // u5: three 10 s + seven distinct → 3000 → c_mixed
        user(5L, cum(Seq.fill(3)(10L) ++ (1L to 7L))) ++
        // u4: only five gaps → below MinGaps, excluded
        user(4L, cum((1L to 5L)))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = EventAnalytics.botRegularity(spark, dir).collect()
      .map(r => r.getAs[String]("regularity_band") ->
        ((r.getAs[Long]("n_users"), r.getAs[Long]("share_bp"),
          r.getAs[Long]("n_gaps"), r.getAs[Long]("mean_top_share_bp")))).toMap
    assert(out == Map(
      "a_metronomic" -> ((1L, 2500L, 10L, 10000L)),
      "b_regular" -> ((1L, 2500L, 10L, 5000L)),
      "c_mixed" -> ((1L, 2500L, 10L, 3000L)),
      "d_organic" -> ((1L, 2500L, 10L, 1000L))), s"got $out")
  }
}
