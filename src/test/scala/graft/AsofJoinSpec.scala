package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational

/** As-of join semantics (J4+): nearest-preceding purchase per view,
  * inclusive at equal timestamps, null when no purchase precedes. */
class AsofJoinSpec extends SparkSpec {
  import spark.implicits._

  private def nanos(sec: Long): Long = sec * 1000000000L

  test("as-of join: hand-computed matches, inclusive ties, null when none precedes") {
    val dir = tempDir("graft_asof").toString
    // (event_id, ts_nanos, user_id, event_type, value, props)
    Seq(
      (10L, nanos(100), 1L, "purchase", 5.0, "{}"),
      (11L, nanos(100), 1L, "purchase", 3.0, "{}"), // same-second dup → max = 5.0
      (12L, nanos(200), 1L, "purchase", 7.0, "{}"),
      (20L, nanos(50), 1L, "view", 0.0, "{}"),      // before any purchase → null
      (21L, nanos(100), 1L, "view", 0.0, "{}"),     // tie second → inclusive, 5.0
      (22L, nanos(150), 1L, "view", 0.0, "{}"),     // between → 5.0
      (23L, nanos(250), 1L, "view", 0.0, "{}"),     // after both → 7.0
      (30L, nanos(300), 2L, "view", 0.0, "{}"))     // user without purchases → null
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val rows = Relational.asofViewPurchase(spark, dir).collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Double]("asof_value")).map(_.doubleValue))
      .toMap
    assert(rows == Map(
      20L -> None, 21L -> Some(5.0), 22L -> Some(5.0),
      23L -> Some(7.0), 30L -> None), s"got $rows")
  }

  test("as-of join emits exactly one row per view on the real corpus") {
    val out = Relational.asofViewPurchase(spark, sf0001)
    val nViews = Tables.events(spark, sf0001)
      .filter(col("event_type") === "view").count()
    assert(out.count() == nViews)
    // every non-null match must come from a user with at least one purchase
    val usersWithP = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .select("user_id").distinct().as[Long].collect().toSet
    out.filter(col("asof_value").isNotNull)
      .select("user_id").distinct().as[Long].collect()
      .foreach(u => assert(usersWithP.contains(u), s"user $u has no purchases"))
  }
}
