package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextHash
import graft.streaming.Pipeline

/** Property-based invariants (SURVEY.md §5.3) over generated inputs,
  * evaluated through the real Spark expression paths. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("property: exact dedup is idempotent (dedup∘dedup = dedup)") {
    val vocab = Gen.oneOf("x", "y", "z", "w")
    val textGen = Gen.listOfN(6, vocab).map(_.mkString(" "))
    val texts = samples(textGen, 120)
    val df = texts.toDF("text")
    val once = df.dropDuplicates("text")
    val twice = once.dropDuplicates("text")
    assert(once.count() == twice.count())
    assert(once.collect().map(_.getString(0)).sorted.toSeq ==
      twice.collect().map(_.getString(0)).sorted.toSeq)
  }

  test("property: manifest xor algebra — certificates compose and deltas invert on arbitrary corpora") {
    // signatures are arbitrary longs; the manifest devices (q115/q133)
    // rest on xor being commutative, associative, and self-inverse
    val sigGen = Gen.listOfN(40, Gen.long)
    samples(sigGen, 60).foreach { sigs =>
      val (a, b) = sigs.splitAt(sigs.length / 2)
      def x(s: Seq[Long]) = s.foldLeft(0L)(_ ^ _)
      // composition: manifest of a union = xor of part manifests,
      // regardless of the split or ordering
      assert((x(a) ^ x(b)) == x(scala.util.Random.shuffle(sigs)))
      // delta inversion: full ⊕ kept = dropped (the q133 certificate)
      val kept = a
      assert((x(sigs) ^ x(kept)) == x(b))
    }
  }

  test("property: sqrt temperature smoothing always flattens and preserves order") {
    // the q114 claim on ARBITRARY language-size distributions: α=1/2
    // shares are closer to uniform than natural shares (TVD decreases)
    // and the size ordering is preserved
    val sizesGen = Gen.nonEmptyListOf(Gen.chooseNum(1L, 1000000L))
      .map(_.take(8)).suchThat(_.size >= 2)
    samples(sizesGen, 80).foreach { sizes =>
      val n = sizes.map(_.toDouble).sum
      val w = sizes.map(s => math.sqrt(s.toDouble))
      val ws = w.sum
      val nat = sizes.map(_ / n)
      val tmp = w.map(_ / ws)
      val u = 1.0 / sizes.length
      def tvd(p: Seq[Double]) = p.map(x => math.abs(x - u)).sum
      assert(tvd(tmp) <= tvd(nat) + 1e-12, s"sizes $sizes")
      // monotone: bigger language never gets a smaller temperature share
      sizes.zip(tmp).sortBy(_._1).map(_._2)
        .sliding(2).filter(_.size == 2)
        .foreach(p => assert(p(0) <= p(1) + 1e-12))
    }
  }

  test("property: RRF both-legs dominance holds for every rank combination") {
    // the q117 invariant the spec asserts on data, proven over the whole
    // rank space: any doc in BOTH legs outscores any doc in ONE leg
    val pool = graft.operators.TextAnalysis.RrfPool
    def rrf(r: Int) = if (r > 0) 1000000000L / (60 + r) else 0L
    val both = for (a <- 1 to pool; b <- 1 to pool) yield rrf(a) + rrf(b)
    val one = (1 to pool).map(rrf)
    assert(both.min > one.max,
      s"two-leg min ${both.min} must beat one-leg max ${one.max}")
  }

  test("property: base64 encode∘decode is identity on arbitrary unicode") {
    val gen = Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.const("日本語"),
      Gen.const("emoji🚀"), Gen.const("tab\tnewline\n"))).map(_.mkString(" "))
    val texts = samples(gen, 100).filter(_.nonEmpty)
    val df = texts.toDF("text").select(col("text"),
      decode(unbase64(base64(col("text").cast("binary"))), "UTF-8").as("back"))
    assert(df.filter(col("text") =!= col("back")).count() == 0)
  }

  test("property: minhash signature values always in [0, P)") {
    val vocab = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val textGen = Gen.listOfN(10, vocab).map(_.mkString(" "))
    val df = samples(textGen, 80).toDF("text")
      .select(TextHash.minhashSignature(TextHash.shingles(col("text"))).as("mh"))
    df.collect().foreach { r =>
      val sig = r.getSeq[Long](0)
      assert(sig.length == 16)
      assert(sig.forall(v => v >= 0 && v <= TextHash.P))
    }
  }

  test("property: union count additivity (|A|+|B| = |A∪B| with dups kept)") {
    val g = Gen.chooseNum(0L, 50L)
    val a = samples(g, 60).toDF("v")
    val b = samples(g, 40).toDF("v")
    assert(a.union(b).count() == a.count() + b.count())
  }

  test("property: HLL approx distinct stays inside its rsd bound (q34 sketch half)") {
    // q34's hashed output carries exact counts + a 0/1 error-bound verdict
    // (the raw HLL estimate is engine-specific, so it stays out of the
    // oracle compare); this property test covers the sketch value itself:
    // |approx − exact| / exact ≤ 4·rsd on real data at two SFs.
    // approx_count_distinct's default rsd is 0.05; 4σ makes the test
    // deterministic-in-practice (HLL++ bias correction keeps observed
    // error well under 1σ at these cardinalities).
    val rsd = 0.05
    Seq(sf0001, sf001).foreach { dir =>
      val rows = graft.operators.Relational.approxDistinctUsersFull(spark, dir).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val approx = r.getAs[Long]("approx_users").toDouble
        val exact = r.getAs[Long]("exact_users").toDouble
        assert(exact > 0)
        val relErr = math.abs(approx - exact) / exact
        assert(relErr <= 4 * rsd,
          s"$dir/${r.getAs[String]("event_type")}: approx=$approx exact=$exact relErr=$relErr")
      }
    }
  }

  test("property: approx_percentile honors its rank-error bound (quantile sketch family)") {
    // completes the sketch coverage (HLL: q34 + bound above; bloom: q50;
    // quantile: here). The GK-style sketch guarantees the returned value's
    // RANK is within ε·n of q·n, ε = 1/accuracy — checked against the
    // exact sorted order.
    val acc = 100
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    val vals = Tables.events(spark, sf001).select("value")
      .collect().map(_.getDouble(0)).sorted
    val n = vals.length
    val approx = Tables.events(spark, sf001)
      .agg(percentile_approx(col("value"), typedlit(qs), lit(acc)).as("p"))
      .head.getSeq[Double](0)
    assert(approx.length == qs.length && n > 100)
    qs.zip(approx).foreach { case (q, a) =>
      val rank = vals.count(_ <= a)
      val tol = n.toDouble / acc + 1
      assert(math.abs(rank - q * n) <= tol,
        s"q=$q: value $a has rank $rank, expected ${q * n} ± $tol of $n")
    }
  }

  test("property: sequence packing matches an independent fold on random corpora") {
    // random corpora: doc ids dense, random langs and token counts; the
    // oracle is a hand-rolled Scala fold — same semantics, zero Spark
    val langGen = Gen.oneOf("aa", "bb", "cc")
    val lenGen = Gen.choose(1, 40)
    val ctx = 16
    val nShards = 3
    val rows = samples(Gen.zip(langGen, lenGen), 300).zipWithIndex.map {
      case ((lang, len), i) =>
        (i.toLong, lang, Seq.fill(len)("tok").mkString(" "))
    }
    val got = graft.operators.Packing
      .packContextsOf(rows.toDF("doc_id", "lang", "text"), ctx, nShards)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cum_tokens"), r.getAs[Long]("context_id"),
          r.getAs[Long]("end_context"))).toMap
    // independent fold, grouped by (lang, shard) in doc_id order
    val expected = rows.groupBy(r => (r._2, r._1 % nShards)).flatMap {
      case (_, docs) =>
        var cum = 0L
        docs.sortBy(_._1).map { case (id, _, text) =>
          val n = text.split(" ", -1).length.toLong
          val start = cum; cum += n
          id -> (cum, start / ctx, (cum - 1) / ctx)
        }
    }
    assert(got == expected)
  }

  test("property: upsertLatest equals a max-by-(version, tiebreak) fold on random tables") {
    // random (key, version, src_id) rows with heavy key collisions
    val rowGen = Gen.zip(Gen.choose(0L, 20L), Gen.choose(0L, 3L))
    val rows = samples(rowGen, 400).zipWithIndex.map {
      case ((key, ver), i) => (key, ver, i.toLong, s"p$i")
    }
    val (baseRows, updRows) = rows.splitAt(rows.length / 2)
    val base = baseRows.toDF("key", "version", "src_id", "payload")
    val upd = updRows.toDF("key", "version", "src_id", "payload")
    val got = graft.operators.Curation
      .upsertLatest(base, upd, "key", "version", "src_id")
      .collect().map(r => r.getAs[Long]("key") -> r.getAs[String]("payload"))
      .toMap
    // independent oracle: plain Scala max by (version, src_id) per key
    val expected = rows.groupBy(_._1).map { case (k, rs) =>
      k -> rs.maxBy(r => (r._2, r._3))._4
    }
    assert(got == expected)
  }

  test("property: bounded-heap reduce/merge equal sort-take-k on random streams") {
    // the heap algebra backs four aggregators (TopKHits/TopKTerms/
    // MinKDocs); prove fold-order invariance and the merge identity
    // directly against the sorted reference
    import graft.functions.{TermHit, TopKTerms}
    val k = 5
    val agg = new TopKTerms(k)
    val hitGen = Gen.zip(Gen.choose(0L, 20L), Gen.oneOf("a", "b", "c", "d", "e"))
      .map { case (c, t) => TermHit(c, t) }
    val ord = Ordering.by[TermHit, (Long, String)](h => (-h.cnt, h.term))
    (0 until 30).foreach { i =>
      val hits = samples(hitGen, 40 + i)
      val expected = hits.sorted(ord).take(k)
      // single fold
      val folded = hits.foldLeft(agg.zero)(agg.reduce)
      assert(folded == expected, s"fold $i: $folded vs $expected")
      // arbitrary split + merge (the partial-aggregation path)
      val (l, r) = hits.splitAt(i % math.max(hits.length, 1))
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      assert(merged == expected, s"merge $i: $merged vs $expected")
    }
  }

  test("property: corrupt-record channel partitions any input totally") {
    val valid = samples(Gen.alphaNumStr, 40)
      .map(t => s"""{"text":"$t","lang":"en"}""")
    val garbage = Seq("{not json", "[]", "", "42", """{"text": unquoted}""")
    val parsed = Pipeline.parseTweets((valid ++ garbage).toDF("value"))
    val ok = Pipeline.validTweets(parsed).count()
    val bad = Pipeline.corruptRecords(parsed).count()
    assert(ok + bad == valid.size + garbage.size,
      s"every record must be exactly one of valid/corrupt ($ok + $bad)")
    assert(ok >= valid.size - 1 && bad >= garbage.size - 1)
  }

  test("property: LPT schedule conserves mass and honors the Graham bound on arbitrary shards") {
    // greedy list scheduling: C_max ≤ total/m + (1 − 1/m)·p_max; with
    // m = 4 that is 4·C_max ≤ total + 3·p_max — on ANY mass vector
    val massGen = Gen.chooseNum(1L, 1000L)
    val caseGen = Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, massGen))
    samples(caseGen, 5).zipWithIndex.foreach { case (masses, i) =>
      val dir = tempDir(s"graft_p_lpt_$i").toString
      masses.zipWithIndex.map { case (m, j) => (f"s$j%02d", m) }
        .toDF("source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      val loads = graft.operators.Scale.lptSchedule(spark, dir).collect()
        .map(_.getAs[Long]("load_chars"))
      assert(loads.sum == masses.sum, s"case $i: mass not conserved")
      assert(4L * loads.max <= masses.sum + 3L * masses.max,
        s"case $i: Graham bound violated (${loads.max} of $masses)")
    }
  }

  test("property: D'Hondt seats always sum to the budget and follow vote order") {
    val votesGen = Gen.chooseNum(1L, 1000L)
    val caseGen = Gen.chooseNum(2, 8).flatMap(n => Gen.listOfN(n, votesGen))
    samples(caseGen, 5).zipWithIndex.foreach { case (votes, i) =>
      val dir = tempDir(s"graft_p_dh_$i").toString
      votes.zipWithIndex.flatMap { case (v, j) =>
        (0L until v).map(k => (j * 1000000L + k, f"s$j%02d"))
      }.toDF("doc_id", "source").repartition(2)
        .write.parquet(s"$dir/documents.parquet")
      val out = graft.operators.Curation.dhondtAllocation(spark, dir).collect()
        .map(r => r.getAs[String]("source") ->
          (r.getAs[Long]("votes"), r.getAs[Long]("seats"))).toMap
      assert(out.values.map(_._2).sum == 100L, s"case $i: seats ≠ budget")
      for (a <- out.values; b <- out.values if a._1 > b._1)
        assert(a._2 >= b._2,
          s"case $i: more votes must never mean fewer seats ($out)")
    }
  }

  test("property: U-shaped attribution conserves cents on arbitrary journeys") {
    val chanGen = Gen.oneOf("click", "view", "signup", "error", "purchase")
    val caseGen = Gen.listOfN(18, Gen.zip(Gen.chooseNum(1L, 3L), chanGen,
      Gen.chooseNum(1, 50)))
    samples(caseGen, 5).zipWithIndex.foreach { case (evs, i) =>
      val dir = tempDir(s"graft_p_ush_$i").toString
      val rows = evs.zipWithIndex.map { case ((u, t, v), j) =>
        (j.toLong + 1, (j.toLong + 1) * 1000000000L, u, t, v.toDouble, "{}")
      }
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val credited = graft.operators.EventAnalytics
        .uShapedAttribution(spark, dir).collect()
        .map(_.getAs[Long]("cents")).sum
      val purchased = evs.collect {
        case (_, "purchase", v) => v.toLong * 100L
      }.sum
      assert(credited == purchased,
        s"case $i: credited $credited ≠ purchased $purchased")
    }
  }

  test("property: the q245 integer square root is exact floor(sqrt) across the BIGINT domain") {
    // boundary-heavy generator: perfect squares, squares±1, and raw
    // uniform draws up to 2^62
    val raw = Gen.chooseNum(0L, (1L << 62) - 1)
    val root = Gen.chooseNum(0L, (1L << 31) - 1)
    val g = Gen.oneOf(raw, root.map(r => r * r),
      root.map(r => math.max(0L, r * r - 1)), root.map(r => r * r + 1))
    val xs = (samples(g, 300) ++ Seq(0L, 1L, 2L, 3L, 4L,
      (1L << 62) - 1, 1L << 62)).distinct
    val got = xs.toDF("x")
      .select(col("x"), expr(graft.operators.Curation.isqrtSpark("x")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    xs.foreach { x =>
      val want = java.math.BigInteger.valueOf(x).sqrt().longValueExact()
      assert(got(x) == want, s"isqrt($x): got ${got(x)}, want $want")
    }
  }
}
