package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Canary for driver-side testdata regeneration: every `Tables.*` loader is
  * read against the live `/root/testdata` parquet and its LOGICAL schema
  * asserted. When the driver rotates a physical encoding under us (as it did
  * for `events.ts`: TIMESTAMP(NANOS) → timestamp[us] between rounds 9/10,
  * silently erroring 15 oracle queries), this suite turns the rotation into
  * a named failure pointing at the exact table/column instead of absent
  * correctness rows. Mirrors the reference's schema-on-read contract
  * (`streamer.py:26` — no declared schema): the loaders must ADAPT, and this
  * spec pins what they must adapt TO. */
class TablesSpec extends SparkSpec {

  private def logical(df: DataFrame): Map[String, DataType] =
    df.schema.fields.map(f => f.name -> f.dataType).toMap

  private def assertCols(df: DataFrame, want: (String, DataType)*): Unit = {
    val got = logical(df)
    want.foreach { case (name, dt) =>
      assert(got.contains(name), s"missing column $name (have ${got.keys.toSeq.sorted})")
      assert(got(name) == dt, s"column $name reads as ${got(name)}, expected $dt")
    }
  }

  test("events.ts loads as a session-zoned timestamp whatever the parquet encoding") {
    for (dir <- Seq(sf0001, sf001)) {
      val ev = Tables.events(spark, dir)
      assertCols(ev,
        "event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType)
      // the loader must yield real instants, not a failed analysis: force one row
      assert(ev.selectExpr("max(ts)").first().get(0) != null, "events.ts all-null after load")
    }
  }

  test("events.ts reads the same instants under a non-UTC session zone") {
    // the NTZ branch must be zone-independent like the nanos branch: a
    // user-supplied session in another zone reads identical instants
    val utc = Tables.events(spark, sf0001)
      .selectExpr("unix_micros(min(ts))", "unix_micros(max(ts))").first()
    val ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    val shifted = Tables.events(ny, sf0001)
      .selectExpr("unix_micros(min(ts))", "unix_micros(max(ts))").first()
    assert(shifted == utc, s"session zone shifted events instants: $shifted vs $utc")
  }

  test("legacy nanos-as-long events encoding still converts (the old driver layout)") {
    import java.nio.file.Files
    val dir = tempDir("graft_ns_events").toString
    // simulate the pre-rotation layout: ts physically int64 nanoseconds
    Tables.events(spark, sf0001)
      .selectExpr("event_id", "unix_micros(ts) * 1000L AS ts", "user_id",
                  "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val back = Tables.events(spark, dir)
    assert(logical(back)("ts") == TimestampType, s"legacy path reads ${logical(back)("ts")}")
    val a = Tables.events(spark, sf0001).selectExpr("min(ts)", "max(ts)").first()
    val b = back.selectExpr("min(ts)", "max(ts)").first()
    assert(a == b, s"legacy ns path drifts: $a vs $b")
  }

  test("events loader leaves caller-session conf untouched for µs encodings") {
    import java.nio.file.Files
    val dir = tempDir("graft_us_events").toString
    // a µs TIMESTAMP events layout (what Spark itself writes)
    Tables.events(spark, sf0001)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val fresh = spark.newSession()
    fresh.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    // getOption reports the registered default ("false") once unset — that
    // default, not "true", must survive the load
    val before = fresh.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    val ev = Tables.events(fresh, dir)
    assert(logical(ev)("ts") == TimestampType)
    assert(ev.selectExpr("count(*)").first().getLong(0) > 0)
    val after = fresh.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    assert(after == before && !after.contains("true"),
      s"loading µs-encoded events rewrote caller conf: nanosAsLong=$after")
  }

  test("fact tables keep their logical schemas") {
    assertCols(Tables.lineitem(spark, sf0001),
      "l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
      "l_tax" -> DoubleType, "l_returnflag" -> StringType, "l_linestatus" -> StringType)
    assert(Set[DataType](TimestampType, TimestampNTZType, DateType)
             .contains(logical(Tables.lineitem(spark, sf0001))("l_shipdate")),
      "l_shipdate must stay a date/time type")
    assertCols(Tables.orders(spark, sf0001),
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderpriority" -> StringType)
  }

  test("dimension + corpus tables keep their logical schemas") {
    assertCols(Tables.region(spark, sf0001), "r_regionkey" -> IntegerType, "r_name" -> StringType)
    assertCols(Tables.nation(spark, sf0001),
      "n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType)
    assertCols(Tables.customer(spark, sf0001),
      "c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType)
    assertCols(Tables.supplier(spark, sf0001),
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType)
    assertCols(Tables.part(spark, sf0001),
      "p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType)
    assertCols(Tables.documents(spark, sf0001),
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType)
    assertCols(Tables.embeddings(spark, sf0001),
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType)
  }

  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings", "events")

  /** Pinned and inferred schemas of the parquet table at `path` agree,
    * and the relation `Tables.table` builds carries the same schema. */
  private def assertParity(s: SparkSession, dir: String, name: String): Unit = {
    val path = s"$dir/$name.parquet"
    val inferred = s.read.parquet(path).schema
    assert(Tables.pinnedSchema(s, path).contains(inferred), s"$path: pinned schema differs")
    assert(Tables.table(s, dir, name).schema == inferred, s"$path: resolved schema differs")
  }

  test("pinned schemas equal Spark's inferred schemas for every table and scale") {
    for (dir <- Seq(sf0001, sf001, sf01); name <- tables) {
      val s = spark.newSession()
      try assertParity(s, dir, name) finally PlanCache.clear(s)
    }
  }

  test("a Spark-written multi-file directory pins the schema Spark infers") {
    val dir = tempDir("graft_pin_multi").toString
    spark.range(0, 400, 1, 4)
      .selectExpr("id", "cast(id AS int) AS i", "cast(id AS decimal(12, 2)) AS d",
        "cast(id AS string) AS s", "id % 2 = 0 AS b", "cast(cast(id AS string) AS binary) AS bin",
        "date_add(date'2024-01-01', cast(id AS int)) AS day",
        "timestamp_micros(id * 1000000) AS ts", "cast(timestamp_micros(id) AS timestamp_ntz) AS ntz",
        "array(cast(id AS float), 1.5f) AS arr", "map('k', id) AS m",
        "named_struct('x', id, 'y', cast(id AS string)) AS st")
      .write.parquet(s"$dir/multi.parquet")
    assert(Files.list(Paths.get(s"$dir/multi.parquet")).filter(
      _.getFileName.toString.endsWith(".parquet")).count() == 4)
    assertParity(spark, dir, "multi")
    assert(Tables.table(spark, dir, "multi").count() == 400)
  }

  test("the legacy nanos events layout pins Spark's schema under both nanosAsLong values") {
    val dir = tempDir("graft_pin_ns").toString
    Tables.events(spark, sf0001)
      .selectExpr("event_id", "unix_micros(ts) * 1000L AS ts", "user_id",
                  "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    for (flag <- Seq("true", "false")) {
      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", flag)
      try {
        assertParity(s, dir, "events")
        assert(logical(Tables.events(s, dir))("ts") == TimestampType)
      } finally PlanCache.clear(s)
    }
  }

  test("a TIMESTAMP(NANOS) events file fails on the driver, then reads with the flag set") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tempDir("graft_pin_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val hadoop = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, hadoop)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withConf(hadoop).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1L -> 1700000000123456789L, 2L -> 1700000001999999999L).foreach { case (id, ns) =>
      w.write(rows.newGroup().append("event_id", id).append("ts", ns))
    } finally w.close()

    val path = s"$dir/events.parquet"
    val s = spark.newSession()
    try {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      val pinErr = intercept[Exception](Tables.pinnedSchema(s, path))
      val readErr = intercept[Exception](s.read.parquet(path))
      Seq(pinErr, readErr).foreach(e =>
        assert(String.valueOf(e.getMessage).contains("Illegal Parquet type"), e.getMessage))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      assertParity(s, dir, "events")
      assert(logical(s.read.parquet(path))("ts") == LongType)
    } finally PlanCache.clear(s)

    // the loader retries with the flag set and truncates to microseconds
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try {
      val ev = Tables.events(fresh, dir)
      assert(logical(ev)("ts") == TimestampType)
      assert(ev.selectExpr("unix_micros(ts)").collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(1700000000123456L, 1700000001999999L))
      assert(fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    } finally PlanCache.clear(fresh)
  }

  test("rewriting a table with another schema shows the new schema to the next session") {
    val dir = tempDir("graft_pin_rewrite").toString
    def resolved(): StructType = {
      val s = spark.newSession()
      try Tables.table(s, dir, "t").schema finally PlanCache.clear(s)
    }
    spark.range(5).selectExpr("id AS a").write.parquet(s"$dir/t.parquet")
    assert(resolved().fieldNames.toSeq == Seq("a"))
    spark.range(5).selectExpr("cast(id AS string) AS b", "id AS c")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(resolved() == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(resolved().fieldNames.toSeq == Seq("b", "c"))
  }

  test("twenty rewrites of one path leave one pinned entry for it") {
    val dir = tempDir("graft_pin_twenty").toString
    val path = s"$dir/t.parquet"
    for (i <- 0 until 20) {
      spark.range(3).selectExpr(s"id AS c$i").write.mode("overwrite").parquet(path)
      val s = spark.newSession()
      try assert(Tables.table(s, dir, "t").schema.fieldNames.toSeq == Seq(s"c$i"))
      finally PlanCache.clear(s)
    }
    assert(Tables.pinCount(spark, path) == 1)
  }

  test("resolving every table in a fresh session launches no Spark job") {
    // a fresh copy, so its footers are read here (a pin miss), then the
    // shared test data again (pinned by earlier tests or by this one)
    val copy = tempDir("graft_pin_jobs")
    tables.foreach(t => Files.copy(Paths.get(sf0001, s"$t.parquet"), copy.resolve(s"$t.parquet")))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case "graft-resolve" => jobs.incrementAndGet()
          case "graft-flush" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      for (dir <- Seq(copy.toString, sf0001, copy.toString)) {
        val s = spark.newSession()
        try {
          sc.setJobGroup("graft-resolve", "resolve every table")
          tables.filter(_ != "events").foreach(Tables.table(s, dir, _))
          Tables.events(s, dir)
        } finally {
          sc.clearJobGroup()
          PlanCache.clear(s)
        }
      }
      // listener events arrive in order: once the flush job is seen, any
      // job started while resolving has been counted
      sc.setJobGroup("graft-flush", "flush marker")
      spark.range(1).count()
      sc.clearJobGroup()
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS), "flush job never seen")
      assert(jobs.get == 0, s"resolving the tables ran ${jobs.get} Spark jobs")
    } finally sc.removeSparkListener(listener)
  }
}
