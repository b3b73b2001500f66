package graft

import scala.jdk.CollectionConverters._

/** Driver-contract smoke: entry() returns rows; every declared query runs
  * at sf0.001 and every query has an oracle (or a documented exemption). */
class EntrySpec extends SparkSpec {

  test("entry returns >0 rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all declared queries run and return >0 rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf0001).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("every query key has an oracleSql key (hash-match gate coverage)") {
    // No exemptions: since round 6 even q34 has a portable hashed oracle
    // (exact counts + each-engine-validates-its-own-sketch verdict).
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries missing oracle SQL: $missing")
  }

  test("committed plan snapshot covers the full declared query set") {
    // PLANS_r13 silently stopped at 152/196 — the round-over-round plan
    // diff was blind to the 44 newest queries. Make a stale snapshot a
    // named failure: the highest-numbered committed PLANS_r*.json must
    // list exactly SparkEntry.queries (regenerate with
    // `runMain graft.App --plans <sf0.001 dir> PLANS_r<N>.json`
    // whenever the query set changes).
    val repo = java.nio.file.Paths.get("/root/repo")
    val latest = java.nio.file.Files.list(repo).iterator().asScala
      .map(_.getFileName.toString)
      .flatMap { n =>
        "^PLANS_r(\\d+)\\.json$".r.findFirstMatchIn(n)
          .map(m => (m.group(1).toInt, n))
      }
      .toSeq.sortBy(_._1).lastOption
    assert(latest.nonEmpty, "no committed PLANS_r*.json snapshot found")
    val text = java.nio.file.Files.readString(repo.resolve(latest.get._2))
    val snap = "\"(q\\d+[a-z0-9_]*)\":\\{\"red_flags\"".r
      .findAllMatchIn(text).map(_.group(1)).toSet
    val declared = SparkEntry.queries.keySet
    assert(snap == declared,
      s"${latest.get._2} is stale: missing=${(declared -- snap).toSeq.sorted}" +
        s" extra=${(snap -- declared).toSeq.sorted}")
  }
}
