package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.{CacheSlots, bridge}

import graft.operators.{Dedup, EventAnalytics, TextAnalysis}

/** PlanCache eviction semantics under concurrent sessions (service mode:
  * one `spark.newSession()` per request scope, shared SparkContext). */
class PlanCacheSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  test("entries are session-scoped: two sessions never share or clobber") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val a = s1.range(10).toDF("n")
    val b = s2.range(20).toDF("n")
    try {
      val got1 = PlanCache.cached(s1, "sig")(a)
      val got2 = PlanCache.cached(s2, "sig")(b)
      assert(bridge.isCachedLeaf(got1) && rows(got1) == rows(a),
        "first build returns a seam over the built frame")
      assert(!(got2 eq got1) && rows(got2) == rows(b),
        "same key in another session is a separate entry")

      // same (session, key) → same reference, builder NOT re-invoked
      var rebuilt = false
      val again = PlanCache.cached(s1, "sig") {
        rebuilt = true; s1.range(1).toDF("n")
      }
      assert((again eq got1) && !rebuilt)

      // clearing one session must not evict the other's entry
      PlanCache.clear(s1)
      var rebuilt2 = false
      val kept = PlanCache.cached(s2, "sig") {
        rebuilt2 = true; s2.range(1).toDF("n")
      }
      assert((kept eq got2) && !rebuilt2,
        "clear(s1) evicted s2's entry — session scoping broken")

      // the cleared session rebuilds fresh on next use
      val fresh = PlanCache.cached(s1, "sig")(s1.range(2).toDF("n"))
      assert(!(fresh eq got1) && rows(fresh) == rows(s1.range(2).toDF("n")),
        "clear(s1) must actually drop s1's entry")
    } finally {
      PlanCache.clear(s1)
      PlanCache.clear(s2)
    }
  }

  test("equal seams of two sessions share one CacheManager slot until the last holder goes") {
    // q20's signature seam is an equal plan in every session over the
    // same data (the seams above it read it as a per-session RDD scan), so
    // both sessions' entries read one CacheManager slot; clearing one
    // session must leave the other's slot (and its cached rows) in place.
    // The data is a private copy, so no other session holds these slots.
    val dir = tempDir("graft_slot").toString
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf0001, "documents.parquet"),
      java.nio.file.Paths.get(dir, "documents.parquet"))
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val sc = spark.sparkContext
    def q20(s: SparkSession) = rows(SparkEntry.queries("q20_minhash_neardup")(s, dir)).sorted
    try {
      val want = q20(s1)
      assert(q20(s2) == want && want.nonEmpty)
      val seam = Dedup.signatures(s2, dir)
      assert(Dedup.signatures(s1, dir) ne seam, "each session holds its own entry")
      assert(CacheSlots.registered(seam) && PlanCache.holdersOf(seam) == 2)
      val seamRows = rows(seam).sorted
      val rdd = CacheSlots.rddId(seam)
      assert(sc.getPersistentRDDs.contains(rdd))

      PlanCache.clear(s1)
      assert(CacheSlots.registered(seam), "clear(s1) dropped the slot s2 still reads")
      assert(PlanCache.holdersOf(seam) == 1)
      assert(rows(seam).sorted == seamRows && q20(s2) == want)
      assert(CacheSlots.rddId(seam) == rdd && sc.getPersistentRDDs.contains(rdd),
        "s2's seam refilled its rows outside the CacheManager")

      PlanCache.clear(s2)
      assert(!CacheSlots.registered(seam), "the last holder's clear must drop the slot")
      assert(!sc.getPersistentRDDs.contains(rdd), "the slot's persisted RDD must go with it")
      assert(PlanCache.holdersOf(seam) == 0)
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
      // loop entries: q268's ladder keeps one seam per rung (the
      // documents relation, the step-0 types, k winners, k - 1 merged
      // types); a longer ladder reuses the rungs and adds its own
      val n = PlanCache.size(s)
      TextAnalysis.bpeMergeLadder(s, sf0001, 2).collect()
      assert(PlanCache.size(s) == n + 1 + 1 + 2 + 1)
      TextAnalysis.bpeMergeLadder(s, sf0001, 4).collect()
      assert(PlanCache.size(s) == n + 5 + 2 + 2)
      // per-call entries: each call over a caller's pairs adds its own
      // round seams, never sharing another call's
      val pairs = s.createDataFrame(Seq((1L, 2L), (2L, 3L))).toDF("doc_a", "doc_b")
      val m = PlanCache.size(s)
      Dedup.propagateLabels(pairs, 3).collect()
      Dedup.propagateLabels(pairs, 3).collect()
      assert(PlanCache.size(s) == m + 6)
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

  test("a seam survives the loss of its cached blocks (q155, propagateLabels)") {
    // a lost lineage-free checkpoint block fails the next read
    // ("Checkpoint block ... not found"); a seam's lost block is
    // recomputed from its cached plan
    val s = spark.newSession()
    try {
      import s.implicits._
      val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
      val built: Seq[(String, DataFrame)] = Seq(
        "q155" -> SparkEntry.queries("q155_novelty_election")(s, sf0001),
        "propagateLabels" -> Dedup.propagateLabels(pairs, 3))
      val first = built.map { case (n, df) => n -> rows(df).sorted }
      assert(org.apache.spark.graft.Blocks.loseAll(s.sparkContext) > 0)
      built.zip(first).foreach { case ((n, df), (_, want)) =>
        assert(rows(df).sorted == want, s"$n changed after losing its blocks")
      }
    } finally PlanCache.clear(s)
  }

  test("seam keys name every input: one session agrees with fresh sessions") {
    // each call twice with different parameters (or a different caller
    // frame) in ONE session; a key that missed an input would hand the
    // second call the first call's seam
    def pairs(s: SparkSession, ps: Seq[(Long, Long)]) =
      s.createDataFrame(ps).toDF("doc_a", "doc_b")
    val calls: Seq[(String, SparkSession => DataFrame)] = Seq(
      "q22 threshold 0.5" -> (s => Dedup.ngramJaccardNearDup(s, sf0001, 0.5)),
      "q22 threshold 0.9" -> (s => Dedup.ngramJaccardNearDup(s, sf0001, 0.9)),
      "q56 maxDist 20" -> (s => Dedup.editDistanceNearDup(s, sf0001, 20)),
      "q56 maxDist 2" -> (s => Dedup.editDistanceNearDup(s, sf0001, 2)),
      "q216 k 20" -> (s => EventAnalytics.sessionPaths(s, sf0001, 20)),
      "q216 k 3" -> (s => EventAnalytics.sessionPaths(s, sf0001, 3)),
      "q268 k 6" -> (s => TextAnalysis.bpeMergeLadder(s, sf0001, 6)),
      "q268 k 2" -> (s => TextAnalysis.bpeMergeLadder(s, sf0001, 2)),
      "propagateLabels chain" ->
        (s => Dedup.propagateLabels(pairs(s, Seq((1L, 2L), (2L, 3L))), 3)),
      "propagateLabels split" ->
        (s => Dedup.propagateLabels(pairs(s, Seq((1L, 2L), (4L, 5L))), 3)))
    val shared = spark.newSession()
    try {
      val inOne = calls.map { case (_, f) => rows(f(shared)).sorted }
      calls.map(_._1).zip(inOne).grouped(2).foreach { case Seq((a, ra), (b, rb)) =>
        assert(ra != rb, s"$a and $b must differ for the check to mean anything")
      }
      calls.zip(inOne).foreach { case ((name, f), got) =>
        val fresh = spark.newSession()
        try assert(rows(f(fresh)).sorted == got, s"$name: one session != fresh session")
        finally PlanCache.clear(fresh)
      }
    } finally PlanCache.clear(shared)
  }
}
