package graft

import org.apache.spark.sql.DataFrame
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
}
