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
    // fills both caches, then clear must shrink both back to nothing
    for (_ <- 0 until 3) {
      val s = spark.newSession()
      Tables.table(s, sf0001, "region")
      Tables.events(s, sf0001)
      PlanCache.cached(s, "sig")(s.range(5).toDF("n"))
      assert(Tables.size(s) == 2 && PlanCache.size(s) == 1)
      PlanCache.clear(s)
      assert(Tables.size(s) == 0, "PlanCache.clear must release Tables.resolved")
      assert(PlanCache.size(s) == 0)
    }
  }
}
