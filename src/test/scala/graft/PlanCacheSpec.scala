package graft

/** PlanCache eviction semantics under concurrent sessions (service mode:
  * one `spark.newSession()` per request scope, shared SparkContext). */
class PlanCacheSpec extends SparkSpec {

  test("entries are session-scoped: two sessions never share or clobber") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val a = s1.range(10).toDF("n")
    val b = s2.range(20).toDF("n")
    try {
      val got1 = PlanCache.cached(s1, "sig")(a)
      val got2 = PlanCache.cached(s2, "sig")(b)
      assert(got1 eq a, "first build returns the built frame")
      assert(got2 eq b, "same key in another session is a separate entry")

      // same (session, key) → same reference, builder NOT re-invoked
      var rebuilt = false
      val again = PlanCache.cached(s1, "sig") {
        rebuilt = true; s1.range(1).toDF("n")
      }
      assert((again eq a) && !rebuilt)

      // clearing one session must not evict the other's entry
      PlanCache.clear(s1)
      var rebuilt2 = false
      val kept = PlanCache.cached(s2, "sig") {
        rebuilt2 = true; s2.range(1).toDF("n")
      }
      assert((kept eq b) && !rebuilt2,
        "clear(s1) evicted s2's entry — session scoping broken")

      // the cleared session rebuilds fresh on next use
      val fresh = PlanCache.cached(s1, "sig")(s1.range(2).toDF("n"))
      assert(!(fresh eq a), "clear(s1) must actually drop s1's entry")
    } finally {
      PlanCache.clear(s1)
      PlanCache.clear(s2)
    }
  }

  test("clear releases a session's PlanCache seams and Tables relations together") {
    // cycle sessions the way a server (or the cold benchmark) does: each
    // fills the registry with relations and a seam, then clear must
    // shrink it back to nothing
    for (_ <- 0 until 3) {
      val s = spark.newSession()
      Tables.table(s, sf0001, "region")
      Tables.events(s, sf0001)
      PlanCache.cached(s, "sig")(s.range(5).toDF("n"))
      assert(PlanCache.size(s) == 3)
      PlanCache.clear(s)
      assert(PlanCache.size(s) == 0, "PlanCache.clear must release every entry")
    }

    // derived layouts (q63's day-partitioned events, q69's bucketed
    // tables) are per session: own directories, own catalog names, and
    // clear deletes both
    def q63(s: org.apache.spark.sql.SparkSession) =
      SparkEntry.queries("q63_partitioned_daily")(s, sf0001).collect().toSeq
    def q69(s: org.apache.spark.sql.SparkSession) =
      SparkEntry.queries("q69_bucketed_join")(s, sf0001).collect().toSeq
    def bucketTables: Set[String] =
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_")).toSet
    def location(t: String): java.nio.file.Path =
      java.nio.file.Paths.get(new java.net.URI(
        spark.sql(s"DESCRIBE TABLE EXTENDED $t").collect()
          .find(_.getString(0) == "Location").get.getString(1)))
    val sessions = Seq(spark.newSession(), spark.newSession())
    try {
      val before = bucketTables
      val rows = sessions.map(s => (q63(s), q69(s)))
      assert(rows.forall(_ == rows.head) && rows.head._2.nonEmpty)
      val dayDirs = sessions.map(s => java.nio.file.Paths.get(
        graft.sources.Formats.eventsByDayPath(s, sf0001)))
      val tables = bucketTables -- before
      assert(tables.size == 4, s"two bucketed tables per session: $tables")
      val tableDirs = tables.map(location)
      assert(dayDirs.distinct.size == 2 && tableDirs.map(_.getParent).size == 2,
        s"each session writes its own layouts: $dayDirs $tableDirs")
      sessions.foreach(PlanCache.clear)
      assert(bucketTables == before, "clear must drop the bucketed tables")
      (dayDirs ++ tableDirs).foreach(d =>
        assert(!java.nio.file.Files.exists(d.getParent), s"clear must delete $d"))
      // a cleared session rebuilds its layouts and returns the same rows
      assert(sessions.map(s => (q63(s), q69(s))) == rows)
    } finally sessions.foreach(PlanCache.clear)
  }
}
