package graft

import org.apache.spark.sql.functions._

import graft.operators.Scale

/** Scale utilities: salted join equivalence + bucketed co-located join
  * (shuffle-free at read time). */
class ScaleSpec extends SparkSpec {

  import spark.implicits._

  test("skew keys (q135): heap election equals the full ranking, skew algebra exact") {
    val rows = Scale.skewKeys(spark, sf0001).collect()
    assert(rows.length == 10)
    val counts = Tables.lineitem(spark, sf0001)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val nKeys = counts.length.toLong
    val total = counts.map(_._2).sum
    // heap top-k equals the (cnt desc, key asc) full ranking
    val full = counts.sortBy { case (k, c) => (-c, k) }.take(10)
    assert(rows.map(r => (r.getAs[Long]("l_partkey"), r.getAs[Long]("cnt"))).toSeq
      == full.toSeq)
    rows.foreach { r =>
      assert(r.getAs[Long]("skew_bp") ==
        (BigInt(r.getAs[Long]("cnt")) * nKeys * 10000 / total).toLong)
      // a hot key is by definition above the even share
      assert(r.getAs[Long]("skew_bp") >= 10000L,
        "top keys must sit at or above the even share")
    }
  }

  test("salted join returns exactly the rows of the plain join") {
    val li = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sf0001).select("o_orderkey", "o_totalprice")
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("l_orderkey").count()
    val salted = Scale.saltedJoin(li, o, "l_orderkey", "o_orderkey", salt = 8)
      .groupBy("l_orderkey").count()
    assert(plain.count() == salted.count())
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("targeted salting: non-hot rows carry salt 0, hot keys spread, result row-identical") {
    // a celebrity key (0) holding most rows, a modest tail — the shape
    // the q135 election exists to catch
    val fact = spark.range(0, 4000).select(
        when(col("id") < 3000, 0L).otherwise(col("id") % 50 + 1).as("k"),
        col("id").as("payload"))
    val dim = spark.range(0, 51).select(col("id").as("dk"),
      concat(lit("d"), col("id")).as("name"))
    val hot = Seq(0L)
    // fact side: every non-hot row must sit at salt 0 (no spread, so the
    // non-hot partitioning is untouched)...
    val salted = Scale.targetedFactSalt(fact, "k", 8, hot)
    assert(salted.filter(col("k") =!= 0L && col("_salt") =!= 0L).count() == 0)
    // ...while the hot key's rows use the whole salt range
    assert(salted.filter(col("k") === 0L)
      .select("_salt").distinct().count() == 8)
    // build side: only the hot key replicates, exactly salt times
    val rs = Scale.targetedRightSalts(dim, "dk", 8, hot)
    assert(rs.filter(col("dk") === 0L).count() == 8)
    assert(rs.filter(col("dk") =!= 0L).groupBy(col("dk")).count()
      .filter(col("count") =!= 1L).count() == 0)
    // and the join is row-identical to the plain join
    val plain = fact.join(dim, fact("k") === dim("dk"))
    val targeted = Scale.saltedJoinTargeted(fact, dim, "k", "dk", 8, hot)
    assert(plain.count() == targeted.count())
    assert(plain.exceptAll(targeted).isEmpty && targeted.exceptAll(plain).isEmpty)
    // empty election = exactly the plain join (degenerate case)
    val none = Scale.saltedJoinTargeted(fact, dim, "k", "dk", 8, Seq.empty)
    assert(plain.exceptAll(none).isEmpty && none.exceptAll(plain).isEmpty)
  }

  test("q139 consumes the q135 election: summary equals the plain-join summary") {
    val got = Scale.targetedSaltSummary(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val want = Tables.lineitem(spark, sf0001)
      .join(Tables.part(spark, sf0001),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("p_brand")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("q150 forecast: priced pair total equals the ACTUAL self-join cardinality") {
    val rows = Scale.joinCardinalityForecast(spark, sf0001).collect()
    assert(rows.length == 10)
    val total = rows.head.getAs[Long]("total_pairs")
    // the whole point: the histogram-priced total IS the join's real
    // output size, without having run the join — prove it by running it
    val li = Tables.lineitem(spark, sf0001).select("l_partkey")
    val actual = li.join(li.withColumnRenamed("l_partkey", "k2"),
      col("l_partkey") === col("k2")).count()
    assert(total == actual, s"forecast $total vs actual $actual")
    // per-key pricing is cnt^2 and shares reconcile
    val counts = li.groupBy(col("l_partkey")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val c = counts(r.getAs[Long]("l_partkey"))
      assert(r.getAs[Long]("n_pairs") == c * c)
      assert(r.getAs[Long]("share_bp") ==
        BigInt(c) * c * 10000 / total)
      assert(r.getAs[Long]("n_keys") == counts.size.toLong)
    }
    // the ranking is by pair contribution (non-increasing)
    val np = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("n_pairs"))
    assert(np.zip(np.tail).forall { case (a, b) => a >= b })
  }

  test("salt column spreads rows across the full salt range") {
    val li = Tables.lineitem(spark, sf0001)
    val salts = li.withColumn("_salt",
        pmod(xxhash64(li.columns.map(col).toIndexedSeq: _*), lit(8L)))
      .select("_salt").distinct().count()
    assert(salts == 8, s"expected all 8 salt values used, got $salts")
  }

  test("partitioned fact ⋈ filtered dim triggers dynamic partition pruning") {
    // the 100 TB star-join scan-reducer: the fact side is laid out with
    // writePartitioned, the dim side carries the selective filter, and
    // Spark prunes fact partitions at RUNTIME from the dim's join keys
    // (a literal lang filter would be static pruning; DPP covers the
    // case where the pruning values are only known after the dim scan)
    val dir = tempDir("graft_dpp").toString + "/docs"
    graft.sources.Formats.writePartitioned(
      Tables.documents(spark, sf0001), dir, "parquet", Seq("lang"))
    val fact = graft.sources.Formats.read(spark, dir, "parquet")
    // the dim must be a real (file-backed) table: a literal Seq becomes a
    // LocalRelation whose filter Catalyst folds away eagerly, leaving no
    // selective predicate for the PartitionPruning rule to key on
    val dimDir = tempDir("graft_dpp_dim").toString
    Seq(("en", "English", true), ("de", "German", false),
      ("fr", "French", false), ("es", "Spanish", false), ("ja", "Japanese", false))
      .toDF("lang", "lang_name", "keep")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    // the dim predicate must be one Spark's isLikelySelective recognizes
    // (EqualTo/In/Like…) — a bare boolean column is not considered
    // selective and would veto the pruning rule
    val joined = fact.join(dim.filter(col("lang_name") === "English"), Seq("lang"))
      .groupBy("lang").count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"expected runtime partition pruning on the fact scan:\n$plan")
    val expected = Tables.documents(spark, sf0001)
      .filter(col("lang") === "en").count()
    val got = joined.collect()
    assert(got.length == 1 && got.head.getAs[Long]("count") == expected)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    // the runtime complement of static salting: one celebrity key holds
    // most of the rows; with the skew thresholds scaled down to test-data
    // size, AQE must mark the sort-merge join skew-handled. The data is
    // written to parquet first — AQE sizes shuffle blocks from actual
    // map output, and a LocalRelation would be collapsed before the join
    val dir = tempDir("graft_skew").toString
    val hot = spark.range(0, 40000).select(
      lit(0L).as("k"), col("id").as("payload"),
      concat(lit("x"), col("id")).as("pad"))
    val rest = spark.range(0, 4000).select(
      (col("id") % 200 + 1).as("k"), col("id").as("payload"),
      concat(lit("y"), col("id")).as("pad"))
    hot.unionAll(rest).write.parquet(s"$dir/fact")
    spark.range(0, 201).select(col("id").as("k"),
      concat(lit("dim"), col("id")).as("name"))
      .write.parquet(s"$dir/dim")
    val prev = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      val joined = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim"), Seq("k"))
      // execute THIS dataset's plan (count() would spawn a fresh
      // QueryExecution and leave this one un-finalized)
      assert(joined.collect().length == 44000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"), finalPlan.take(500))
      assert(finalPlan.contains("skew=true"),
        s"expected AQE to mark the skewed join:\n${finalPlan.take(2000)}")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("bucketed tables join without an Exchange (co-located layout)") {
    // external tables in a temp dir (not the cwd warehouse), dropped below
    val dir = tempDir("graft_bkt").toString
    Scale.writeBucketed(
      Tables.orders(spark, sf0001).select("o_orderkey", "o_totalprice"),
      "orders_bkt", "o_orderkey", 8, s"$dir/orders")
    Scale.writeBucketed(
      Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity"),
      "lineitem_bkt", "l_orderkey", 8, s"$dir/lineitem")
    // at sf0.001 the planner prefers broadcast; disable it so the test
    // demonstrates the sort-merge path a 100 TB fact-fact join would take
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("lineitem_bkt")
        .join(spark.table("orders_bkt"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(plan.contains("Bucketed: true"), s"expected bucketed scans:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, sf0001).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("bloomSizing (q205): distinct keys per column, closed-form bills at both targets") {
    import spark.implicits._
    val dir = tempDir("graft_bloom").toString
    Seq((1L, 7L), (1L, 7L), (2L, 7L), (3L, 8L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq(5L, 5L, 6L).toDF("o_custkey").write.parquet(s"$dir/orders.parquet")
    val out = graft.operators.Scale.bloomSizing(spark, dir).collect()
      .map(r => (r.getAs[String]("key_col"), r.getAs[Long]("fpp_bp")) ->
        (r.getAs[Long]("n_keys"), r.getAs[Long]("filter_bits"),
          r.getAs[Long]("filter_bytes"), r.getAs[Long]("k_hashes"))).toMap
    assert(out.size == 6, "3 key columns x 2 targets")
    // l_orderkey: 3 distinct; 1% → 3·9585‰ = 28 bits, 0.1% → 43 bits
    assert(out(("lineitem.l_orderkey", 100L)) == ((3L, 28L, 4L, 7L)))
    assert(out(("lineitem.l_orderkey", 10L)) == ((3L, 43L, 6L, 10L)))
    // l_partkey and o_custkey: 2 distinct each
    assert(out(("lineitem.l_partkey", 100L)) == ((2L, 19L, 3L, 7L)))
    assert(out(("lineitem.l_partkey", 10L)) == ((2L, 28L, 4L, 10L)))
    assert(out(("orders.o_custkey", 100L)) == ((2L, 19L, 3L, 7L)))
    assert(out(("orders.o_custkey", 10L)) == ((2L, 28L, 4L, 10L)))
  }

  test("mortonExpr: exact bit interleave (x even bits, y odd bits)") {
    import spark.implicits._
    // x=3 (bits 0,1 -> z bits 0,2 = 5), y=5 (bits 0,2 -> z bits 1,5 = 34)
    val z = Seq((3L, 5L)).toDF("bx", "by")
      .selectExpr(graft.operators.Scale.mortonExpr("bx", "by", 6) + " AS z")
      .first().getLong(0)
    assert(z == 39L, s"interleave(3, 5) must be 39, got $z")
  }

  test("zorderElection (q200): exact skip bill on an independent 64x64 grid") {
    import spark.implicits._
    // 4096 rows, every (x, y) combo once: bx = x, by = y (span 0..63),
    // chunk(zorder) = interleave(x div 8, y div 8) — the 8x8 super-grid.
    // Hand bill: point preds pk = 63(2j+1) div 16 hit one x-column;
    // week windows [lo, lo+6] on y hit 2 y-supercells except the last
    val dir = tempDir("graft_zorder").toString
    val rows = for { x <- 0 to 63; y <- 0 to 63 } yield
      (x.toLong, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(y.toLong)))
    rows.toDF("l_orderkey", "l_shipdate")
      .repartition(4).write.parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Scale.zorderElection(spark, dir).collect()
      .map(r => (r.getAs[String]("layout"), r.getAs[String]("pred_class")) ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("pairs_total"),
          r.getAs[Long]("pairs_scanned"), r.getAs[Long]("skip_bp"))).toMap
    assert(out.size == 6)
    // orderkey layout: perfect on points, blind on date ranges
    assert(out(("a_orderkey", "point_orderkey")) == ((64L, 512L, 8L, 9843L)))
    assert(out(("a_orderkey", "range_shipdate")) == ((64L, 512L, 512L, 0L)))
    // shipdate layout: the mirror image
    assert(out(("b_shipdate", "point_orderkey")) == ((64L, 512L, 512L, 0L)))
    assert(out(("b_shipdate", "range_shipdate")) == ((64L, 512L, 54L, 8945L)))
    // the Z-curve skips well on BOTH — the whole point of the layout
    assert(out(("c_zorder", "point_orderkey")) == ((64L, 512L, 64L, 8750L)))
    assert(out(("c_zorder", "range_shipdate")) == ((64L, 512L, 120L, 7656L)))
  }

  test("encodingElection (q210): exact bit bills and winners on a hand fixture") {
    import spark.implicits._
    val dir = tempDir("graft_enc").toString
    // (orderkey, linenumber, linestatus, partkey, quantity, tax, returnflag)
    Seq((1L, 1, "O", 1L, 1.0, 0.04, "A"), (1L, 2, "O", 2L, 1.0, 0.04, "A"),
      (1L, 3, "O", 3L, 2.0, 0.04, "B"), (1L, 4, "O", 4L, 2.0, 0.04, "B"),
      (2L, 1, "O", 5L, 3.0, 0.04, "A"), (2L, 2, "O", 6L, 3.0, 0.04, "B"))
      .toDF("l_orderkey", "l_linenumber", "l_linestatus", "l_partkey",
        "l_quantity", "l_tax", "l_returnflag")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Scale.encodingElection(spark, dir).collect()
      .map(r => r.getAs[String]("col_name") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_distinct"),
          r.getAs[Long]("n_runs"), r.getAs[Long]("code_bits"),
          r.getAs[Long]("plain_bits"), r.getAs[Long]("dict_bits_est"),
          r.getAs[Long]("rle_bits_est"), r.getAs[String]("best_encoding"),
          r.getAs[Long]("savings_bp"))).toMap
    assert(out.size == 5)
    // returnflag A A B B | A B: 2 distinct, 2+2 runs, 1 code bit;
    // plain 48, dict 6+16 = 22, rle 4·33+16 = 148 → dict saves 5416 bp
    assert(out("l_returnflag") ==
      ((6L, 2L, 4L, 1L, 48L, 22L, 148L, "b_dict", 5416L)))
    // linestatus all O: 1 distinct (bin(0) = '0' → 1 bit), 1+1 runs;
    // dict 6+8 = 14, rle 2·33+8 = 74
    assert(out("l_linestatus") ==
      ((6L, 1L, 2L, 1L, 48L, 14L, 74L, "b_dict", 7083L)))
    // quantity 1 1 2 2 | 3 3: 3 distinct → 2 code bits, 2+1 runs;
    // dict 12+24 = 36, rle 3·34+24 = 126
    assert(out("l_quantity") ==
      ((6L, 3L, 3L, 2L, 48L, 36L, 126L, "b_dict", 2500L)))
    // tax all 4 cents: same bill as linestatus
    assert(out("l_tax") == ((6L, 1L, 2L, 1L, 48L, 14L, 74L, "b_dict", 7083L)))
    // partkey all distinct: 6 distinct → 3 code bits, 4+2 runs;
    // dict 18+48 = 66, rle 6·35+48 = 258 → plain wins, saves nothing
    assert(out("l_partkey") ==
      ((6L, 6L, 6L, 3L, 48L, 66L, 258L, "a_plain", 0L)))
  }

  test("broadcastSizing (q215): exact per-table byte bills, threshold fan-out") {
    import spark.implicits._
    val dir = tempDir("graft_bsize").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((0L, "R")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    Seq((0L, "N", 0L)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    Seq((1L, "SS", 0L, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$dir/supplier.parquet")
    Seq((1L, "ccc", 0L, 0.0, "MKT"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, "pn", "br", "ty", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.parquet(s"$dir/part.parquet")
    Seq((1L, 1L, "O", 1.0, ts("1970-01-02 00:00:00"), "PRIO"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    Seq((1L, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "A", "F",
      ts("1970-01-03 00:00:00")),
      (1L, 2L, 1L, 2, 1.0, 1.0, 0.0, 0.0, "R", "O",
        ts("1970-01-04 00:00:00")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Scale.broadcastSizing(spark, dir).collect()
      .map(r => (r.getAs[String]("tbl"), r.getAs[String]("threshold")) ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("est_bytes"),
          r.getAs[Boolean]("fits"))).toMap
    assert(out.size == 14, "7 tables x 2 thresholds")
    // widths: 8/byte per numeric/date col + exact string lengths
    assert(out(("region", "a_10mb")) == ((1L, 9L, true)))
    assert(out(("nation", "a_10mb")) == ((1L, 17L, true)))
    assert(out(("supplier", "a_10mb")) == ((1L, 26L, true)))
    assert(out(("customer", "a_10mb")) == ((1L, 30L, true)))
    assert(out(("part", "a_10mb")) == ((1L, 30L, true)))
    assert(out(("orders", "a_10mb")) == ((1L, 37L, true)))
    assert(out(("lineitem", "b_100mb")) == ((2L, 148L, true)))
  }

  test("joinOrderElection (q217): exact intermediate bills from count histograms") {
    import spark.implicits._
    val dir = tempDir("graft_jorder").toString
    Seq((1L, "c1", 0L, 0.0), (2L, "c2", 0L, 0.0))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, 1L), (2L, 1L), (3L, 2L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    // o1 x3 lines, o2 x1, o3 x2 → |li⋈o| = 6; |o⋈c| = 3; final = 6
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 4L), (3L, 5L), (3L, 6L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Scale.joinOrderElection(spark, dir).collect()
      .map(r => r.getAs[String]("join_order") ->
        (r.getAs[Long]("step1_rows"), r.getAs[Long]("final_rows"),
          r.getAs[Long]("total_rows"), r.getAs[Boolean]("elected"))).toMap
    assert(out("a_lineitem_orders_first") == ((6L, 6L, 12L, false)))
    assert(out("b_orders_customer_first") == ((3L, 6L, 9L, true)),
      "joining the dims first defers the fact fan-in — the cheaper walk")
    // join commutativity: both orders land on the same final cardinality
    assert(out.values.map(_._2).toSet.size == 1)
  }

  test("compactionPlan (q218): exact partition byte bills and ceil file math") {
    import spark.implicits._
    val dir = tempDir("graft_compact").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // Jan 1970: 3 rows x 74 bytes (72 + 1 + 1); Feb: 1 row
    Seq(ts("1970-01-05 00:00:00"), ts("1970-01-15 00:00:00"),
      ts("1970-01-25 00:00:00"), ts("1970-02-01 00:00:00"))
      .map(t => (t, "A", "F")).toDF("l_shipdate", "l_returnflag", "l_linestatus")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Scale.compactionPlan(spark, dir).collect()
      .map(r => (r.getAs[Long]("ship_month"), r.getAs[String]("target")) ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("bytes"),
          r.getAs[Long]("n_files"), r.getAs[Long]("fill_bp"))).toMap
    assert(out.size == 4, "2 months x 2 targets")
    // 222·10⁴ div 2²⁰ = 2117 bp? no — 2220000 div 1048576 = 2
    assert(out((197001L, "a_1mb")) == ((3L, 222L, 1L, 2L)))
    assert(out((197001L, "b_128mb")) == ((3L, 222L, 1L, 0L)))
    assert(out((197002L, "a_1mb")) == ((1L, 74L, 1L, 0L)))
    // the ceil identity holds for every row against the declared targets
    val targets = graft.operators.Scale.CompactionTargets.toMap
    out.foreach { case ((_, t), (_, bytes, files, fill)) =>
      val tb = targets(t)
      assert(files == (bytes + tb - 1) / tb)
      assert(fill == bytes * 10000 / (files * tb))
    }
  }

  test("shufflePartitionAdvisor (q219): smallest balanced candidate elected") {
    import spark.implicits._
    val dir = tempDir("graft_shadv").toString
    (1L to 12L).map(k => Tuple1(k)).toDF("l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Scale.shufflePartitionAdvisor(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("n_partitions") ->
        (r.getAs[Long]("n_buckets_hit"), r.getAs[Long]("max_rows"),
          r.getAs[Long]("skew_bp"), r.getAs[Boolean]("elected"))).toMap
    // keys 1..12: mod 8 → max bucket 2 (13333 bp, balanced); mod 32/128
    // → 12 singleton buckets whose max is 32/128x the mean (sparse
    // over-partitioning reads as skew) — the SMALLEST balanced wins
    assert(out(8L) == ((8L, 2L, 13333L, true)))
    assert(out(32L) == ((12L, 1L, 26666L, false)))
    assert(out(128L) == ((12L, 1L, 106666L, false)))
  }

  test("lptSchedule (q231): hand-walked greedy fold, loads and counts exact") {
    import spark.implicits._
    val dir = tempDir("graft_lpt").toString
    // masses desc 10,9,8,7,6,5 on 4 workers:
    // 10→w1, 9→w2, 8→w3, 7→w4, 6→w4 (least=7), 5→w3 (least=8)
    // → w1=10(1), w2=9(1), w3=13(2), w4=13(2); total 45
    Seq(("s1", 10L), ("s2", 9L), ("s3", 8L), ("s4", 7L), ("s5", 6L),
      ("s6", 5L)).toDF("source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.operators.Scale.lptSchedule(spark, dir).collect()
      .map(r => r.getAs[Long]("worker") ->
        ((r.getAs[Long]("n_shards"), r.getAs[Long]("load_chars"),
          r.getAs[Long]("share_bp"), r.getAs[Long]("over_ideal_bp")))).toMap
    assert(out == Map(
      1L -> ((1L, 10L, 2222L, -1112L)),
      2L -> ((1L, 9L, 2000L, -2000L)),
      3L -> ((2L, 13L, 2888L, 1555L)),
      4L -> ((2L, 13L, 2888L, 1555L))), s"got $out")
    assert(out.values.map(_._2).sum == 45L, "loads must conserve total mass")
  }

  test("cuboidElection (q238): hand-solved lattice — {s, rs, sm} is the unique optimum") {
    import spark.implicits._
    import java.sql.Timestamp
    val dir = tempDir("graft_cuboid").toString
    // cells (A,O,1), (A,O,2), (B,O,1) → cards: apex 1, r 2, s 1, rs 2,
    // m 2, rm 3, sm 2, rsm 3. Lower bound per query shape forces
    // 2, 3, 6 into the winner: cost 16 of the finest-only 24 → 3333 bp
    Seq(("A", "O", "2024-01-05"), ("A", "O", "2024-02-05"),
      ("B", "O", "2024-01-09"))
      .map { case (r, s, d) => (r, s, Timestamp.valueOf(d + " 00:00:00")) }
      .toDF("l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Scale.cuboidElection(spark, dir).collect()
      .map(r => r.getAs[Long]("mask") ->
        ((r.getAs[String]("cuboid"), r.getAs[Long]("card"),
          r.getAs[Boolean]("materialized"), r.getAs[Long]("saving_bp")))).toMap
    assert(out == Map(
      0L -> (("(apex)", 1L, false, 3333L)),
      1L -> (("r", 2L, false, 3333L)),
      2L -> (("s", 1L, true, 3333L)),
      3L -> (("rs", 2L, true, 3333L)),
      4L -> (("m", 2L, false, 3333L)),
      5L -> (("rm", 3L, false, 3333L)),
      6L -> (("sm", 2L, true, 3333L)),
      7L -> (("rsm", 3L, true, 3333L))), s"got $out")
  }
}
