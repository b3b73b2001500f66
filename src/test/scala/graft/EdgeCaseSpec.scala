package graft

import org.apache.spark.sql.functions._

import graft.functions.{HashExpressions, TextHash}
import graft.operators.{Curation, Dedup, TextAnalysis, TextPipeline}
import graft.streaming.Pipeline

/** Regression coverage for the review-found edge cases. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  test("SPARK_GRAFT_CPUS: a malformed or non-positive core count fails loudly") {
    assert(Sessions.parseCpus(None).isEmpty)
    assert(Sessions.parseCpus(Some(" ")).isEmpty)
    assert(Sessions.parseCpus(Some(" 4 ")).contains(4))
    Seq("four", "0", "-2", "4.5").foreach { v =>
      val e = intercept[IllegalArgumentException](Sessions.parseCpus(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(v))
    }
  }

  test("sentiment oracle SQL lowercases and escapes the track literal") {
    val sql = TextPipeline.sentimentByLabelSql("en", "O'Spark")
    assert(sql.contains("contains(lower(text), 'o''spark')"),
      s"track literal must be lowercased + escaped:\n$sql")
    assert(!sql.contains("O'Spark"))
  }

  test("native minhash on sub-n-token docs matches the all-P fold init") {
    val sig = Seq("a b").toDF("text")
      .select(HashExpressions.minhashSig(col("text"))).head.getSeq[Long](0)
    assert(sig == Seq.fill(16)(TextHash.P))
  }

  test("minhash oracle SQL coalesces empty-shingle min to P") {
    assert(TextHash.minhashSignatureSql("sh").contains(s"coalesce(") &&
      TextHash.minhashSignatureSql("sh").contains(s"${TextHash.P})"))
  }

  test("dot_product is NULL on length mismatch and null elements") {
    GraftExtensions.register(spark)
    val rows = spark.sql(
      """SELECT dot_product(array(1.0d, 2.0d), array(3.0d)) AS short,
        |  dot_product(array(1.0d, cast(null as double)), array(1.0d, 1.0d)) AS withnull,
        |  dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS ok""".stripMargin)
    val r = rows.head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.getDouble(2) == 11.0)
  }

  test("VectorMean skips empty vectors without counting them") {
    val m = udaf(graft.functions.VectorMean)
    val df = Seq((0, Seq(2.0, 4.0)), (0, Seq.empty[Double]), (0, Seq(4.0, 8.0)))
      .toDF("g", "v")
    val c = df.groupBy("g").agg(m(col("v"))).head.getSeq[Double](1)
    assert(c == Seq(3.0, 6.0), s"empty vector must not affect the mean: $c")
  }

  test("streaming dedup drops same-key records even with re-stamped times") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[EventFixture]
    val e = EventFixture(1, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"),
      1L, "click", 1.0)
    // redelivery with a re-stamped ts (+2s): same key, must still dedup
    mem.addData(e, e.copy(ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:03")))
    val q = Pipeline.dedupByKey(mem.toDF(), "ts", Seq("event_id"))
      .writeStream.format("memory").queryName("restamp_dedup")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("restamp_dedup").count() == 1)
  }

  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    val dir = tempDir("graft_edge").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("temperature allocation on a single-language corpus is the identity") {
    val dir = writeDocs(Seq((1L, "only one language here", "en", "src0"),
      (2L, "more of the same language", "en", "src1")))
    val r = graft.operators.Curation.temperatureAllocation(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("natural_bp") == 10000L)
    assert(r.head.getAs[Long]("temp_bp") == 10000L)
    assert(r.head.getAs[Long]("boost_bp") == 10000L)
    assert(r.head.getAs[Long]("alloc_tokens") == r.head.getAs[Long]("n_tokens"))
  }

  test("snapshot near-dup intake with an all-odd corpus: empty index, everything fresh") {
    val dir = writeDocs(Seq((1L, "aa bb cc dd", "en", "src0"),
      (3L, "aa bb cc dd", "en", "src0"), (5L, "ee ff gg hh", "en", "src0")))
    val r = graft.operators.Dedup.snapshotNearDupIntake(spark, dir).collect()
    assert(r.map(_.getAs[Long]("n_delta")).sum == 3L)
    assert(r.forall(_.getAs[Long]("n_flagged") == 0L),
      "no snapshot half -> nothing can be flagged")
    assert(r.forall(row => row.getAs[Long]("n_fresh") == row.getAs[Long]("n_delta")))
  }

  test("threshold curve on an all-distinct corpus is empty, no error") {
    // disjoint vocabularies -> no band collisions -> no candidate pairs
    val dir = writeDocs(Seq((1L, "a1 a2 a3 a4 a5", "en", "src0"),
      (2L, "b1 b2 b3 b4 b5", "en", "src0")))
    assert(graft.operators.Dedup.thresholdSensitivity(spark, dir).collect().isEmpty)
    // and the flow matrix over the same empty merge set is empty too
    assert(graft.operators.Dedup.dupFlowMatrix(spark, dir).collect().isEmpty)
  }

  test("conversion latency with no converting users is empty, no error") {
    val dir = tempDir("graft_edge_ev").toString
    Seq((1L, 1000000000L, 1L, "view", 0.0, "{}"),
      (2L, 2000000000L, 2L, "signup", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(graft.operators.EventAnalytics.conversionLatency(spark, dir)
      .collect().isEmpty)
  }

  test("integrity audit (q137): clean star is all zeros; a planted orphan is named") {
    // the driver testdata is referentially consistent — every audit row
    // must report zero orphans
    val clean = graft.operators.Relational.integrityAudit(spark, sf0001).collect()
    assert(clean.length == 7)
    clean.foreach { r =>
      assert(r.getAs[Long]("n_orphan_rows") == 0L &&
        r.getAs[Long]("n_orphan_keys") == 0L,
        s"${r.getAs[String]("relationship")} must be consistent on driver data")
      assert(r.getAs[Long]("n_child_keys") <= r.getAs[Long]("n_child_rows"))
    }
    // a broken load: two orders pointing at a missing customer; then the
    // same load plus an order with a NULL customer key and a customer with
    // a NULL key — the twin's LEFT JOIN matches NULL to nothing, so the
    // NULL order is an orphan row but not a key
    def audit(extraOrder: Boolean, nullCustomer: Boolean) = {
      val dir = tempDir("graft_fk").toString
      def w(name: String, df: org.apache.spark.sql.DataFrame): Unit =
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      w("region", Seq((0, "r")).toDF("r_regionkey", "r_name"))
      w("nation", Seq((0, "n", 0)).toDF("n_nationkey", "n_name", "n_regionkey"))
      w("customer", (Seq[(Option[Long], String, Int, Double, String)](
          (Some(1L), "c", 0, 0.0, "m")) ++
          (if (nullCustomer) Seq((None, "c0", 0, 0.0, "m")) else Nil))
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
      w("supplier", Seq((1L, "s", 0, 0.0))
        .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
      w("part", Seq((1L, "p", "b", "t", 1, 1.0))
        .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))
      val day = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      w("orders", (Seq[(Long, Option[Long])]((10L, Some(1L)), (11L, Some(99L)),
          (12L, Some(99L))) ++ (if (extraOrder) Seq((13L, None)) else Nil))
        .map { case (o, c) => (o, c, "O", 1.0, day, "1") }
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))
      w("lineitem", Seq((10L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
          java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
        .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate"))
      graft.operators.Relational.integrityAudit(spark, dir).collect()
        .map(r => r.getAs[String]("relationship") ->
          (r.getAs[Long]("n_child_rows"), r.getAs[Long]("n_child_keys"),
            r.getAs[Long]("n_orphan_rows"), r.getAs[Long]("n_orphan_keys"))).toMap
    }
    val broken = audit(extraOrder = false, nullCustomer = false)
    assert(broken("orders->customer") == ((3L, 2L, 2L, 1L)),
      "two orphan orders sharing one missing customer key")
    assert(broken.filter(_._1 != "orders->customer").values
      .forall(v => v._3 == 0L && v._4 == 0L), "no other relationship may fire")
    // DuckDB's twin on the same load: (rows 4, keys 2, orphan rows 3,
    // orphan keys 1)
    val nulls = audit(extraOrder = true, nullCustomer = true)
    assert(nulls("orders->customer") == ((4L, 2L, 3L, 1L)),
      "a NULL child key is an orphan row, never a key, never matched")
    assert(nulls("customer->nation") == ((2L, 1L, 0L, 0L)))
    assert(nulls.filter(_._1 != "orders->customer").values
      .forall(v => v._3 == 0L && v._4 == 0L), "no other relationship may fire")
  }

  test("bm25 on a corpus with zero query-term hits returns zero rows, no error") {
    val dir = writeDocs(Seq((1L, "nothing matches here", "en", "src0")))
    assert(graft.operators.TextAnalysis.bm25TopK(spark, dir).collect().isEmpty)
  }

  test("mixture gate drops rows from sources absent in the rate snapshot") {
    // batch rates table only knows snapshot sources; a stream row from a
    // NEW source must not bypass the mixture policy (inner join drops it)
    val snap = writeDocs(Seq((1L, "a", "en", "src0"), (2L, "b", "en", "src1")))
    val rates = graft.operators.Curation.mixtureRates(spark, snap)
    val incoming = Seq((10L, "x", "en", "src0"), (11L, "y", "en", "srcNEW"))
      .toDF("doc_id", "text", "lang", "source")
    val admitted = Pipeline.mixtureGate(incoming, rates)
      .select("source").collect().map(_.getString(0))
    assert(!admitted.contains("srcNEW"))
  }

  test("context frontier: docs shorter than every bucket need exactly one sequence each") {
    val dir = writeDocs(Seq((1L, "a b", "en", "src0"), (2L, "c", "en", "src0")))
    val rows = graft.operators.Packing.contextFrontier(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_seqs") == 2L)
      assert(r.getAs[Long]("n_chunked") == 0L)
    }
  }

  test("label purity with a single label reports no misalignment and null-free margins") {
    // best_other is NULL when only one label exists: the margin must not
    // NPE or mis-count — maxes over an empty other-set stay null and the
    // misaligned comparison is false
    val dir = tempDir("graft_edge_lp").toString
    val v = Array.tabulate(64)(_.toFloat)
    (0L until 4L).map(i => (i, v, 7)).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = graft.operators.Similarity.labelPurity(spark, dir).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("n_misaligned") == 0L)
  }

  test("round-12 operators reject invalid knobs loudly, not with bad plans") {
    import spark.implicits._
    val dummy = Seq((1L, "a b")).toDF("doc_id", "text")
    // unsorted / non-positive bucket and size lists must fail fast
    intercept[IllegalArgumentException] {
      graft.operators.Packing.batchingSummaryOf(dummy, buckets = Seq(32, 16))
    }
    intercept[IllegalArgumentException] {
      graft.operators.Packing.batchingSummaryOf(dummy, docsPerBatch = 0)
    }
    intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.vocabCoverageFrontier(spark, sf0001,
        sizes = Seq(256, 64))
    }
    intercept[IllegalArgumentException] {
      graft.operators.Curation.curriculumSchedule(spark, sf0001, phases = 1)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Curation.epochSchedule(spark, sf0001, budget = 0L)
    }
    // empty snapshots must be rejected before a stream ever starts
    intercept[IllegalArgumentException] {
      Pipeline.calibrationGate(dummy, Map.empty)
    }
  }

  test("perplexity filter/chain with NO reference slice return zero rows, no error") {
    // every doc is pool (no src0): the LM is empty, so nothing can be
    // scored — the operators must degrade to empty audits, not crash
    val dir = writeDocs(Seq((1L, "some pool text here", "en", "srcX"),
      (2L, "more pool text here", "en", "srcY")))
    assert(graft.operators.TextAnalysis.perplexityFilter(spark, dir)
      .collect().isEmpty)
    assert(graft.operators.CurationPipeline.crawlFilterChain(spark, dir)
      .collect().isEmpty)
  }

  test("vocab overlap on a single-language corpus returns zero rows") {
    val dir = writeDocs(Seq((1L, "one language only", "en", "src0"),
      (2L, "still the same language", "en", "src0")))
    assert(graft.operators.TextAnalysis.vocabOverlap(spark, dir)
      .collect().isEmpty)
  }

  test("targeted salting with hot keys absent from the data stays row-identical") {
    val li = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sf0001).select("o_orderkey", "o_totalprice")
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
    // keys far outside the data: every row takes the salt-0 path and the
    // build side replicates nothing
    val ghost = graft.operators.Scale.saltedJoinTargeted(
      li, o, "l_orderkey", "o_orderkey", 8, Seq(-1L, Long.MaxValue))
    assert(plain.count() == ghost.count())
    assert(plain.exceptAll(ghost).isEmpty && ghost.exceptAll(plain).isEmpty)
  }

  test("round-13 batch-B operators survive degenerate corpora without errors") {
    // one short doc: no trigrams (q157 empty), no 8-token head (q161
    // empty), one source (q158 zero pairs), one lang with k > n (q162
    // samples all), single type (q163 entropy floor)
    val tiny = writeDocs(Seq((1L, "ab cd", "en", "solo")))
    assert(TextAnalysis.repetitionProfile(spark, tiny).collect().isEmpty)
    assert(Dedup.truncationFamilies(spark, tiny).collect().isEmpty)
    assert(TextAnalysis.sketchOverlap(spark, tiny).collect().isEmpty)
    val ws = Curation.weightedSample(spark, tiny, k = 8).collect()
    assert(ws.length == 1 && ws.head.getAs[Long]("doc_id") == 1L)
    val ve = TextAnalysis.vocabEntropy(spark, tiny).collect()
    assert(ve.length == 1 && ve.head.getAs[Long]("n_types") == 2L)
    // containment on a no-candidate corpus (disjoint vocabularies)
    val disjoint = writeDocs(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "en", "a"),
      (2L, "one two three four five six seven eight nine", "en", "b")))
    assert(Dedup.containmentNearDup(spark, disjoint).collect().isEmpty)
    // blocklist on a clean corpus: zero hits everywhere, no div error
    val clean = TextAnalysis.blocklistDensity(spark, disjoint).collect()
    assert(clean.forall(_.getAs[Long]("n_hits") == 0L))
  }

  test("round-13 batch-B event operators survive single-bucket fixtures") {
    // one day of events: every (type, day) row is day-1 → q164 empty;
    // q159 still elects exact quantiles on a single value
    val dir = tempDir("graft_edge_ev").toString
    Seq((1L, 1000000000L, 1L, "click", 2.5, "{}"),
      (2L, 2000000000L, 2L, "click", 2.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    assert(graft.operators.EventAnalytics.volumeAnomaly(spark, dir)
      .collect().isEmpty)
    val qs = graft.operators.EventAnalytics.quantileSketchAudit(spark, dir)
      .collect()
    assert(qs.length == 3)
    qs.foreach { r =>
      assert(r.getAs[Long]("exact_cents") == 250L)
      assert(r.getAs[Long]("n_bins") == 1L)
      assert(r.getAs[Long]("err_bp") < 2500L)
    }
  }

  test("round-13 batch-B operators reject invalid knobs loudly") {
    intercept[IllegalArgumentException] {
      Dedup.truncationFamilies(spark, sf0001, headN = 0)
    }
    intercept[IllegalArgumentException] {
      graft.operators.EventAnalytics.volumeAnomaly(spark, sf0001, trail = 0)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.Pipeline.repetitionGate(
        Tables.documents(spark, sf0001), maxDup3Bp = -1L)
    }
  }

  test("round-14 operators: degenerate single-entity inputs stay defined") {
    import spark.implicits._
    // q226: one part → cell 1000, cum_above 0 → the whole corpus is A
    val d1 = tempDir("graft_e_abc").toString
    Seq((1L, 10.0, 0.0)).toDF("l_partkey", "l_extendedprice", "l_discount")
      .write.parquet(s"$d1/lineitem.parquet")
    val abc = graft.operators.Relational.abcClasses(spark, d1).collect()
    assert(abc.length == 1 && abc.head.getAs[String]("abc_class") == "A"
      && abc.head.getAs[Long]("share_bp") == 10000L)
    // q229: one source takes every seat at zero deviation
    val d2 = tempDir("graft_e_dh").toString
    Seq((1L, "only")).toDF("doc_id", "source")
      .write.parquet(s"$d2/documents.parquet")
    val dh = Curation.dhondtAllocation(spark, d2).collect()
    assert(dh.length == 1 && dh.head.getAs[Long]("seats") == 100L
      && dh.head.getAs[Long]("dev_bp") == 0L)
    // q231: one source loads one worker; the other three sit at zero
    val d3 = tempDir("graft_e_lpt").toString
    Seq(("s", 7L)).toDF("source", "n_chars")
      .write.parquet(s"$d3/documents.parquet")
    val lpt = graft.operators.Scale.lptSchedule(spark, d3).collect()
      .map(r => r.getAs[Long]("worker") -> r.getAs[Long]("load_chars")).toMap
    assert(lpt == Map(1L -> 7L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    // q233: a single one-event session is a 1-session peak at its own
    // minute; the sweep's sentinel day equals the session day
    val d4 = tempDir("graft_e_peak").toString
    Seq((1L, 90L * 1000000000L, 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d4/events.parquet")
    val pk = graft.operators.EventAnalytics.peakConcurrency(spark, d4).collect()
    assert(pk.length == 1 && pk.head.getAs[Long]("peak_concurrent") == 1L
      && pk.head.getAs[Long]("peak_minute_of_day") == 1L)
    // q236: an error-free corpus yields an EMPTY outcome table, not a
    // divide-by-zero
    val d5 = tempDir("graft_e_err").toString
    Seq((1L, 1000000000L, 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d5/events.parquet")
    assert(graft.operators.EventAnalytics.errorRecovery(spark, d5).count() == 0L)
    // q237: a purchase-free corpus yields an empty credit table
    assert(graft.operators.EventAnalytics.uShapedAttribution(spark, d5)
      .count() == 0L)
    // q239: nobody reaches MinGaps → empty panel, no division
    assert(graft.operators.EventAnalytics.botRegularity(spark, d5)
      .count() == 0L)
  }

  test("round-14 knob validation rejects nonsense") {
    intercept[IllegalArgumentException] {
      Curation.dhondtAllocation(spark, sf0001, seats = 7) // 7 ∤ 10000
    }
    intercept[IllegalArgumentException] {
      graft.streaming.Pipeline.cusumMonitor(
        spark.emptyDataset[graft.streaming.DayCount](
          org.apache.spark.sql.Encoders.product[graft.streaming.DayCount]),
        target = Map.empty)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.Pipeline.cusumMonitor(
        spark.emptyDataset[graft.streaming.DayCount](
          org.apache.spark.sql.Encoders.product[graft.streaming.DayCount]),
        target = Map("t" -> 1L), hFactor = 0L)
    }
  }
}
