package graft

import org.apache.spark.sql.functions._

import graft.operators.Curation

/** Training-data curation: deterministic splits, normalization,
  * contamination detection. */
class CurationSpec extends SparkSpec {

  test("train split is deterministic, total, and roughly 80/10/10") {
    val s = Curation.trainSplit(spark, sf0001)
    val total = s.agg(sum("n_docs")).head.getLong(0)
    assert(total == Tables.documents(spark, sf0001).count())
    val bySplit = s.groupBy("split").agg(sum("n_docs").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
    // deterministic: second evaluation identical
    val again = Curation.trainSplit(spark, sf0001)
    assert(s.exceptAll(again).isEmpty)
  }

  test("normalization never grows text and keeps doc counts") {
    Curation.normalizeSummary(spark, sf0001).collect().foreach { r =>
      assert(r.getAs[Long]("sum_norm_chars") <= r.getAs[Long]("sum_raw_chars"))
      assert(r.getAs[Long]("n_distinct_normalized") <= r.getAs[Long]("n_docs"))
    }
  }

  test("contamination flags a subset of the corpus, non-empty on fixtures") {
    val c = Curation.contamination(spark, sf0001).collect()
    val flagged = c.map(_.getAs[Long]("n_contaminated")).sum
    val corpus = c.map(_.getAs[Long]("n_corpus_docs")).sum
    assert(corpus == Tables.documents(spark, sf0001).count() - 10)
    assert(flagged > 0 && flagged < corpus,
      s"expected some but not all contaminated ($flagged/$corpus)")
  }

  test("bloom-prefiltered contamination equals the exact broadcast variant") {
    val exact = Curation.contamination(spark, sf0001)
    val bloom = Curation.contaminationBloom(spark, sf0001)
    assert(exact.collect().toSeq == bloom.collect().toSeq,
      "the bloom stage must be invisible in the result")
    // a tighter fpp must not change the answer either (only the
    // candidate volume reaching the verify join)
    val tight = Curation.contaminationBloom(spark, sf0001, fpp = 0.001)
    assert(exact.collect().toSeq == tight.collect().toSeq)
  }

  test("contaminationBloom construction adds zero Spark jobs over the exact variant (in-plan bloom)") {
    val sc = spark.sparkContext
    // Baseline: the exact variant's construction cost (parquet footer/
    // schema-inference jobs from the table read — paid by EVERY query).
    sc.setJobGroup("exact-construct", "baseline construction")
    Curation.contamination(spark, sf0001) // construct only, never execute
    sc.clearJobGroup()
    sc.setJobGroup("bloom-construct", "must add no jobs over baseline")
    Curation.contaminationBloom(spark, sf0001)
    sc.clearJobGroup()
    // The status store fills from an async listener bus, but events are
    // ordered: once the probe job below is visible, any job fired during
    // construction would be visible too.
    sc.setJobGroup("bloom-probe", "flush marker")
    spark.range(1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup("bloom-probe").isEmpty &&
           System.nanoTime() < deadline) Thread.sleep(50)
    assert(sc.statusTracker.getJobIdsForGroup("bloom-probe").nonEmpty,
      "probe job never surfaced — cannot trust the lazy check")
    val exactJobs = sc.statusTracker.getJobIdsForGroup("exact-construct").length
    val bloomJobs = sc.statusTracker.getJobIdsForGroup("bloom-construct").length
    assert(bloomJobs <= exactJobs,
      s"bloom construction ran $bloomJobs jobs vs the exact variant's " +
        s"$exactJobs — the old eager count()/stat.bloomFilter shape is back")
  }

  test("scrub replaces URLs/emails/digit-runs with sentinels, leaves clean text alone") {
    import spark.implicits._
    val rows = Seq(
      ("visit https://example.com/x?q=1 now", "en"),
      ("mail Bob.Smith+x@sub.example.org today", "en"),
      ("call 12345678901 soon", "en"),
      ("clean text stays clean", "en"),
      ("short 123456 digits survive", "de"))
      .toDF("text", "lang")
    val scrubbed = rows.select(Curation.scrub(col("text")).as("s"))
      .collect().map(_.getString(0))
    assert(scrubbed(0) == "visit [URL] now")
    assert(scrubbed(1) == "mail [EMAIL] today")
    assert(scrubbed(2) == "call [DIGITS] soon")
    assert(scrubbed(3) == "clean text stays clean")
    assert(scrubbed(4) == "short 123456 digits survive", "7+ digit floor")
    val audit = Curation.scrubSummary(rows).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    assert(audit("en").getAs[Long]("n_docs_with_url") == 1L)
    assert(audit("en").getAs[Long]("n_docs_with_email") == 1L)
    assert(audit("en").getAs[Long]("n_docs_with_digits") == 1L)
    assert(audit("en").getAs[Long]("chars_delta") > 0L)
    assert(audit("de").getAs[Long]("chars_delta") == 0L)
  }

  test("mix resampler: downsampled langs shrink, upsampled grow, default passes through") {
    val m = Curation.mixResample(spark, sf0001).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    val en = m("en") // rate 50: deterministic half
    assert(en.getAs[Long]("n_after") < en.getAs[Long]("n_docs"))
    assert(en.getAs[Long]("n_after") > 0)
    val de = m("de") // rate 150: everyone kept, ~half duplicated
    assert(de.getAs[Long]("n_after") > de.getAs[Long]("n_docs"))
    assert(de.getAs[Long]("n_after") < 2 * de.getAs[Long]("n_docs"))
    // default rate 100: copy count exactly 1
    (m.keySet -- Set("en", "de")).foreach { l =>
      assert(m(l).getAs[Long]("n_after") == m(l).getAs[Long]("n_docs"), l)
    }
    // deterministic: re-evaluation is identical
    val again = Curation.mixResample(spark, sf0001)
    assert(Curation.mixResample(spark, sf0001).exceptAll(again).isEmpty)
  }

  test("k-fold split is total and every fold is in [0, k)") {
    val s = Curation.kfoldSplit(spark, sf0001, k = 5)
    val total = s.agg(sum("n_docs")).head.getLong(0)
    assert(total == Tables.documents(spark, sf0001).count())
    val folds = s.select("fold").distinct().collect().map(_.getLong(0))
    assert(folds.forall(f => f >= 0 && f < 5))
    assert(folds.length > 1, "hash-mod must spread docs over multiple folds")
  }

  test("exact duplicates land in the same split (content-hash property)") {
    import spark.implicits._
    val dupes = Seq("alpha beta gamma", "alpha beta gamma", "delta eps zeta")
      .toDF("text").withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")).cast("long"))
    val h = graft.functions.TextHash.h1(col("text")) % 100
    val splits = dupes.select(
      when(h < 80, "train").when(h < 90, "val").otherwise("test").as("s"))
      .collect().map(_.getString(0))
    assert(splits(0) == splits(1), "identical content must share a split")
  }

  test("upsertLatest: one row per key, highest version wins, ties break on tiebreak") {
    import spark.implicits._
    val base = Seq((1L, "a", 0L, 10L), (2L, "b", 0L, 11L), (3L, "c", 0L, 12L))
      .toDF("key", "payload", "version", "src_id")
    // key 1 updated twice (same version — src_id 21 must win), key 2
    // untouched, key 9 inserted
    val upd = Seq((1L, "a2", 1L, 20L), (1L, "a3", 1L, 21L), (9L, "z", 1L, 22L))
      .toDF("key", "payload", "version", "src_id")
    val out = Curation.upsertLatest(base, upd, "key", "version", "src_id")
      .collect().map(r => r.getAs[Long]("key") ->
        (r.getAs[String]("payload"), r.getAs[Long]("src_id"))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 9L), "merge must be key-total")
    assert(out(1L) == ("a3", 21L), "highest version, then highest tiebreak")
    assert(out(2L) == ("b", 11L), "untouched key keeps the base row")
    assert(out(9L) == ("z", 22L), "new key inserted")
    // reserved working column must be rejected, not silently replaced
    val withRn = base.withColumn("_rn", lit(1))
    intercept[IllegalArgumentException] {
      Curation.upsertLatest(withRn, upd.withColumn("_rn", lit(1)),
        "key", "version", "src_id")
    }
  }

  test("snapshot upsert audit: merged key space is base + new-key half of updates") {
    val hist = 200
    val docs = Tables.documents(spark, sf0001)
    val nBase = docs.filter(col("doc_id") < hist).count()
    val newKeys = docs.filter(col("doc_id") >= hist)
      .select(pmod(col("doc_id"), lit(2L * hist)).as("k"))
      .filter(col("k") >= hist).select("k").distinct().count()
    val s = Curation.snapshotUpsertSummary(spark, sf0001, hist)
    val totalRows = s.agg(sum("n_rows")).head.getLong(0)
    assert(totalRows == nBase + newKeys,
      s"rows=$totalRows base=$nBase newKeys=$newKeys")
    // update rows can never exceed total rows per language
    s.collect().foreach { r =>
      assert(r.getAs[Long]("n_from_updates") <= r.getAs[Long]("n_rows"))
    }
  }

  test("stratified sample: bounded-heap exact-k equals the window-rank answer, deterministic") {
    import org.apache.spark.sql.expressions.Window
    val k = 7
    val viaHeap = Curation.stratifiedSample(spark, sf0001, k)
    // reference formulation: per-stratum window rank (the single-task-
    // sort shape the heap replaces at scale)
    val docs = Tables.documents(spark, sf0001)
    val viaWindow = docs
      .withColumn("rn", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(graft.functions.TextHash.h1(col("text")).asc, col("doc_id").asc)))
      .filter(col("rn") <= k)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id")).as("sum_doc_ids"))
    assert(viaHeap.exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(viaHeap).isEmpty)
    // exact-k: every stratum with >= k docs samples exactly k
    val langSizes = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    viaHeap.collect().foreach { r =>
      val want = math.min(k.toLong, langSizes(r.getString(0)))
      assert(r.getAs[Long]("n_sampled") == want)
    }
    // deterministic: re-evaluation picks the identical docs
    assert(viaHeap.exceptAll(Curation.stratifiedSample(spark, sf0001, k)).isEmpty)
  }

  test("weighted sample (q162): race keys match a driver E-S reimplementation; mass drives the odds") {
    // driver twins of the repo's integer devices
    def h1(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val lut = Seq(0L, 87L, 170L, 248L, 322L, 392L, 459L, 524L,
      585L, 644L, 700L, 755L, 807L, 858L, 907L, 954L)
    def log2m(x: Long): Long = {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
      e.toLong * 1000 + lut(((x * 16) >> e).toInt - 16)
    }
    def raceKey(docId: Long, w: Long, seed: Long): Long = {
      val u = h1(s"ws:$seed:$docId") % (1L << 20) + 1
      (20000L - log2m(u)) * 1000000000L / w
    }
    val k = 8
    val rows = Curation.weightedSample(spark, sf0001, k).collect()
    val docs = Tables.documents(spark, sf0001).select(col("lang"), col("doc_id"),
        size(graft.functions.TextHash.tokens(col("text"))).cast("long").as("w"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // the operator's winners ARE the k smallest driver-computed keys
    val byLang = docs.groupBy(_._1)
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, picked) =>
      val expected = byLang(lang)
        .map(d => (raceKey(d._2, d._3, 42L), d._2)).sorted.take(k)
      val got = picked.sortBy(_.getAs[Long]("rn"))
        .map(r => (r.getAs[Long]("race_key"), r.getAs[Long]("doc_id"))).toSeq
      assert(got == expected.toSeq, s"$lang sample diverges")
    }
    rows.foreach { r =>
      val w = docs.find(d => d._2 == r.getAs[Long]("doc_id")).get._3
      assert(r.getAs[Long]("w") == w)
    }
    // the WEIGHTED property: in a two-doc race with a 50:1 token-mass
    // ratio, the heavy doc must win the k=1 draw for most seeds (each
    // seed is deterministic; expectation ≈ 98%)
    val wins = (1 to 60).count { s =>
      raceKey(1L, 100L, s.toLong) < raceKey(2L, 2L, s.toLong)
    }
    assert(wins >= 50, s"heavy doc won only $wins/60 seeded races")
  }

  test("contamination overlap: fraction rule is stricter than any-hit q45 rule") {
    val anyHit = Curation.contamination(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_contaminated")).toMap
    val frac = Curation.contaminationOverlap(spark, sf0001)
      .collect()
    frac.foreach { r =>
      val lang = r.getString(0)
      val flagged = r.getAs[Long]("n_flagged")
      // >=50% overlap implies >=1 shared shingle, so flagged ⊆ any-hit
      assert(flagged <= anyHit.getOrElse(lang, 0L),
        s"$lang: fraction rule flagged $flagged > any-hit ${anyHit.get(lang)}")
      val ratio = r.getAs[Double]("overlap_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    // the planted bench docs overlap themselves' near-dups: some doc
    // must clear the 50% bar somewhere, or the rule is vacuous here
    assert(frac.map(_.getAs[Long]("n_flagged")).sum > 0)
  }

  test("corpus shuffle: total, uniform-ish, and the layout order is reproducible") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf0001)
    val total = docs.count()
    val audit = Curation.corpusShuffle(spark, sf0001).collect()
    assert(audit.map(_.getAs[Long]("n_docs")).sum == total, "shuffle is total")
    // uniformity: 60-bit hash mod 32 — no shard should hold a gross
    // multiple of its fair share (loose 3x bound, deterministic data)
    val fair = total.toDouble / audit.length
    audit.foreach { r =>
      assert(r.getAs[Long]("n_docs") < 3 * fair,
        s"shard ${r.getAs[Long]("shard")} holds ${r.getAs[Long]("n_docs")} of ~$fair")
    }
    // the layout twin is deterministic: two materializations agree on the
    // exact (shard, position) of every doc — the property a resumable
    // training run depends on
    def order(): Seq[(Long, Long)] =
      Curation.corpusShuffleLayout(docs).select(col("shard"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val o1 = order(); val o2 = order()
    assert(o1 == o2, "training order must be bit-identical across runs")
    // audit's first_doc really is the first row of its shard in the layout
    val firstInLayout = o1.groupBy(_._1).map { case (s, rows) => s -> rows.head._2 }
    audit.foreach { r =>
      assert(firstInLayout(r.getAs[Long]("shard")) == r.getAs[Long]("first_doc"))
    }
  }

  test("token-budget selection equals an independent driver-side greedy") {
    import graft.operators.TextAnalysis
    import graft.functions.TextHash
    val budget = Curation.BudgetTokens
    // independent reimplementation: collect (lang, qd, ntok, doc_id),
    // greedy take-while per lang in (quality desc, doc_id) order
    val perDoc = Tables.documents(spark, sf0001)
      .select(col("lang"), col("doc_id"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("qd"),
        size(TextHash.tokens(col("text"))).cast("long").as("ntok"))
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Double]("qd"),
        r.getAs[Long]("ntok"), r.getAs[Long]("doc_id")))
    val expected = perDoc.groupBy(_._1).map { case (lang, rows) =>
      val ordered = rows.sortBy { case (_, qd, _, id) => (-qd, id) }
      var cum = 0L
      val sel = ordered.takeWhile { case (_, _, ntok, _) =>
        cum += ntok; cum <= budget
      }
      lang -> ((sel.length.toLong, sel.map(_._3).sum, sel.map(_._2).min))
    }
    val got = Curation.tokenBudgetSelect(spark, sf0001).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (n, tok, minQ) = expected(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_selected") == n)
      assert(r.getAs[Long]("tok_selected") == tok)
      assert(r.getAs[Double]("min_sel_quality") == minQ)
      // the budget binds: selected mass within budget, strictly below total
      assert(tok <= budget && tok < r.getAs[Long]("tok_total"))
    }
  }

  test("mixture resample: feasible-max rates, binding source kept whole, deterministic") {
    import spark.implicits._
    val audit = Curation.mixtureResample(spark, sf0001).collect()
    assert(audit.length == 20)
    audit.foreach { r =>
      val rate = r.getAs[Double]("rate")
      assert(rate > 0.0 && rate <= 1.0)
      assert(r.getAs[Long]("n_sampled") <= r.getAs[Long]("n_docs"))
    }
    // C = min(n_s/w_s) makes at least one source binding (rate exactly 1)
    assert(audit.exists(_.getAs[Double]("rate") == 1.0))
    // achieved shares partition the sample
    assert(math.abs(audit.map(_.getAs[Double]("achieved_share")).sum - 1.0) < 1e-4)
    // md5 coin: a re-evaluation is row-identical
    val again = Curation.mixtureResample(spark, sf0001).collect()
    assert(audit.map(_.toString).sameElements(again.map(_.toString)))
    // skewed fixture: src19 (10 docs, weight .02) binds -> kept whole;
    // src0 (90 docs, weight .08) downsamples at rate C*w/n = 500*.08/90
    val dir = tempDir("graft_mix").toString
    val rows = (0L until 90L).map(i => (i, s"doc $i body", "en", "src0")) ++
      (100L until 110L).map(i => (i, s"doc $i body", "en", "src19"))
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val f = Curation.mixtureResample(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(f("src19").getAs[Double]("rate") == 1.0)
    assert(f("src19").getAs[Long]("n_sampled") == 10L)
    assert(math.abs(f("src0").getAs[Double]("rate") - 500.0 * 0.08 / 90.0) < 1e-6)
    assert(f("src0").getAs[Long]("n_sampled") < 90L)
  }

  test("importance selection: quota exact, pool excludes target, affinity ranks target-like docs first") {
    import spark.implicits._
    // fixture: target docs speak vocab A; pool doc 10 speaks A (target-like),
    // pool docs 11/12 speak disjoint vocab B — the affinity scorer must
    // rank 10 above 11/12, and a 50% quota must admit exactly 10 + one of B
    val rows = Seq(
      (0L, "alpha beta gamma delta alpha beta", "en", "tgt"),
      (1L, "beta gamma alpha delta delta beta", "en", "tgt"),
      (10L, "alpha beta gamma delta gamma alpha", "en", "poolA"),
      (11L, "omega sigma kappa lambda omega sigma", "en", "poolB"),
      (12L, "sigma kappa omega lambda kappa omega", "en", "poolB"),
      (13L, "zeta eta theta iota zeta eta", "en", "poolB"))
    val dir = tempDir("graft_dsir").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Curation.importanceSelection(spark, dir,
      targetSource = "tgt", quotaBp = 5000L).collect()
    assert(out.length == 1)
    val r = out(0)
    // pool is the 4 non-target docs; 50% quota admits 2
    assert(r.getAs[Long]("n_pool") == 4L)
    assert(r.getAs[Long]("n_selected") == 2L)
    // scores live in micro-units of [0, 1e6]
    assert(r.getAs[Long]("threshold_score") >= 0L &&
      r.getAs[Long]("avg_sel_score") <= 1000000L)
    assert(r.getAs[Long]("threshold_score") <= r.getAs[Long]("avg_sel_score"))
    // direction: the target-vocabulary pool doc must be the top pick —
    // its buckets are target-heavy while vocab-B buckets carry no target
    // tokens at all, so the threshold (2nd score) sits strictly below the
    // average of (top, 2nd) only when doc 10 leads
    assert(r.getAs[Long]("avg_sel_score") > r.getAs[Long]("threshold_score"),
      "target-like pool doc did not outrank the disjoint-vocab docs")
    // quota floor: a 1-doc pool still selects one doc
    val tiny = Curation.importanceSelection(spark, dir,
      targetSource = "tgt", quotaBp = 1L).collect()(0)
    assert(tiny.getAs[Long]("n_selected") == 1L)
  }

  test("importance selection: two-phase histogram equals the per-doc ranking formulation") {
    import org.apache.spark.sql.expressions.Window
    // independent reference: the oracle-defining top-quota ranking with
    // doc_id ties, computed directly — the production two-phase histogram
    // plan must reproduce it exactly (q82's equivalence pattern)
    val scored = graft.operators.Curation.importanceScores(spark, sf0001)
    val pool = scored.groupBy(col("lang")).agg(count(lit(1)).as("n_pool"))
    val w = Window.partitionBy(col("lang")).orderBy(col("score").desc, col("doc_id"))
    val ranked = scored.withColumn("rn", row_number().over(w).cast("long"))
      .join(pool, Seq("lang"))
      .filter(col("rn") <= greatest(expr("(n_pool * 4000) DIV 10000"), lit(1L)))
      .groupBy(col("lang"), col("n_pool"))
      .agg(count(lit(1)).as("n_selected"),
        min(col("score")).as("threshold_score"),
        expr("sum(score) DIV count(1)").as("avg_sel_score"))
      .select("lang", "n_pool", "n_selected", "threshold_score", "avg_sel_score")
      .orderBy("lang").collect().toSeq
    val twoPhase = graft.operators.Curation.importanceSelection(spark, sf0001)
      .collect().toSeq
    assert(twoPhase == ranked,
      s"two-phase audit diverges from ranking reference:\n$twoPhase\nvs\n$ranked")
  }

  test("component split: corpus conserved, movers exist and only near-dup members move") {
    import graft.operators.Dedup
    val out = Curation.componentSplit(spark, sf0001).collect()
    // a total split: every document lands in exactly one (lang, split) cell
    assert(out.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sf0001).count())
    // q94 proves this corpus HAS leaky components under the content-hash
    // split, so the component-anchored fix must relocate someone
    val moved = out.map(_.getAs[Long]("n_moved")).sum
    assert(moved > 0, "no docs moved — fixture lost its leaky components")
    // only members of multi-member components can move (a singleton
    // anchors itself, so its inherited split IS its own split)
    val multiMembers = Dedup.dedupClusterAssignments(spark, sf0001)
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).agg(sum(col("n"))).first().getLong(0)
    assert(moved <= multiMembers, s"$moved movers > $multiMembers component members")
    // the point of the fix: re-running the q94 leakage audit against the
    // inherited splits finds ZERO leaky components
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), Curation.splitAssign(col("text")).as("own_split"))
    val anchors = Tables.documents(spark, sf0001)
      .select(col("doc_id").as("label"), Curation.splitAssign(col("text")).as("split"))
    val leaky = docs
      .join(Dedup.dedupClusterAssignments(spark, sf0001), Seq("doc_id"), "left")
      .withColumn("label", coalesce(col("label"), col("doc_id")))
      .join(anchors, Seq("label"))
      .groupBy(col("label")).agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1).count()
    assert(leaky == 0L, s"component split still leaks: $leaky components")
  }

  test("split leakage: near-dup components can straddle splits, exact dups never do") {
    import spark.implicits._
    val rows = Curation.splitLeakage(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nc = r.getAs[Long]("n_components"); val nl = r.getAs[Long]("n_leaky")
      assert(nl <= nc)
      // a leaky component has at least one member on each side of a cut
      assert(r.getAs[Long]("n_docs_leaky") >= 2 * nl)
      assert(math.abs(r.getAs[Double]("leak_rate") - nl.toDouble / nc) < 1e-6)
    }
    // the hash split DOES leak near-dup siblings on the real corpus —
    // the finding that motivates component-anchored split assignment
    assert(rows.map(_.getAs[Long]("n_leaky")).sum > 0)
    // exact duplicates share text, hash, and therefore split: a twin-only
    // corpus has components but can never leak
    val dir = tempDir("graft_leak").toString
    val t = "w1 w2 w3 w4 w5 w6 w7 w8"
    Seq((1L, t, "en", "src0"), (2L, t, "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val f = Curation.splitLeakage(spark, dir).collect()
    assert(f.length == 1)
    assert(f.head.getAs[Long]("n_components") == 1L)
    assert(f.head.getAs[Long]("n_leaky") == 0L)
  }

  test("epoch schedule (q100): integer identities hold row by row") {
    val budget = Curation.ScheduleBudget
    val cap = Curation.MaxEpochsMicro
    val rows = Curation.epochSchedule(spark, sf001).collect()
    assert(rows.nonEmpty)
    var sawCapped = false; var sawFractional = false
    rows.foreach { r =>
      val toks = r.getAs[Long]("n_tokens")
      val wbp = r.getAs[Long]("weight_bp")
      val alloc = r.getAs[Long]("alloc_tokens")
      val em = r.getAs[Long]("epochs_micro")
      val eff = r.getAs[Long]("effective_tokens")
      val defi = r.getAs[Long]("deficit_tokens")
      assert(alloc == budget * wbp / 10000L)
      assert(em == math.min(cap, alloc * 1000000L / toks))
      assert(eff == toks * em / 1000000L)
      assert(defi == alloc - eff && defi >= 0L)
      if (em == cap) { sawCapped = true; assert(defi >= 0L) }
      else {
        sawFractional = true
        // uncapped: the only shortfall is micro-epoch truncation dust
        assert(defi <= toks / 1000000L + 1L)
      }
    }
    // the default budget exercises BOTH regimes at oracle scale
    assert(sawCapped && sawFractional)
    // weights follow the q86 mixture tiers
    assert(rows.map(_.getAs[Long]("weight_bp")).toSet == Set(800L, 600L, 400L, 200L))
  }

  test("corpus diff (q113): sides reconcile with the datasheet, turnover exact on fixture") {
    val rows = Curation.corpusDiff(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // side masses reconcile with the q103 datasheet totals per lang
    val ds = Curation.corpusDatasheet(spark, sf0001).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))).toMap
    rows.foreach { r =>
      val (nd, nt) = ds(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_docs_old") + r.getAs[Long]("n_docs_new") == nd)
      assert(r.getAs[Long]("n_tokens_old") + r.getAs[Long]("n_tokens_new") == nt)
      assert(r.getAs[Long]("n_shared_texts") >= 0L)
    }
    // fixture: doc 2 (old) and doc 3 (new) share text; doc 4 (old) is
    // retired; doc 5 (new) is minted. New side is higher quality.
    import spark.implicits._
    val dir = tempDir("graft_cdiff").toString
    Seq((2L, "alpha beta gamma delta", "en", "src0"),
        (3L, "alpha beta gamma delta", "en", "src0"),
        (4L, "the the the the", "en", "src0"),
        (5L, "epsilon zeta eta theta iota kappa", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val f = Curation.corpusDiff(spark, dir).collect()
    assert(f.length == 1)
    val row = f.head
    assert(row.getAs[Long]("n_docs_old") == 2L && row.getAs[Long]("n_docs_new") == 2L)
    assert(row.getAs[Long]("n_shared_texts") == 1L)
    assert(row.getAs[Long]("n_new_texts") == 1L)
    assert(row.getAs[Long]("n_retired_texts") == 1L)
    // dropping the stopword-run doc and minting a diverse one raises quality
    assert(row.getAs[Long]("mean_q_delta_micro") > 0L)
  }

  test("eval-set builder (q111): exclusions partition the pool, membership exact on fixture") {
    val rows = Curation.evalSetBuild(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // the pool partitions exactly into contaminated + dup-excluded + kept
      assert(r.getAs[Long]("n_pool") == r.getAs[Long]("n_contaminated") +
        r.getAs[Long]("n_dup_excluded") + r.getAs[Long]("n_dedup"))
      assert(r.getAs[Long]("n_sampled") ==
        math.min(25L, r.getAs[Long]("n_dedup")))
      assert(r.getAs[Long]("sum_doc_ids") > 0L)
    }
    // hand fixture: doc 0 is the benchmark; doc 10 leaks a bench 5-gram,
    // docs 11/12 are exact dups, doc 13 is clean and unique
    import spark.implicits._
    val dir = tempDir("graft_evalset").toString
    Seq((0L, "b1 b2 b3 b4 b5 b6", "en", "src0"),
        (10L, "x b1 b2 b3 b4 b5 y", "en", "src0"),
        (11L, "c1 c2 c3 c4 c5 c6", "en", "src0"),
        (12L, "c1 c2 c3 c4 c5 c6", "en", "src0"),
        (13L, "u1 u2 u3 u4 u5 u6", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val f = Curation.evalSetBuild(spark, dir, benchSize = 1, k = 2).collect()
    assert(f.length == 1)
    val row = f.head
    assert(row.getAs[Long]("n_pool") == 4L)
    assert(row.getAs[Long]("n_contaminated") == 1L)
    assert(row.getAs[Long]("n_dup_excluded") == 1L)
    assert(row.getAs[Long]("n_dedup") == 2L)
    assert(row.getAs[Long]("n_sampled") == 2L)
    // membership gate: dup winner 11 + unique 13 — exactly these two
    assert(row.getAs[Long]("sum_doc_ids") == 11L + 13L)
  }

  test("unimax allocation (q108): sequential water-filling recomputation, prefix-capped") {
    val rows = Curation.unimaxAllocation(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // recompute by the SEQUENTIAL water-filling definition (the closed
    // form in the operator must agree with the loop it replaces)
    val per = rows.map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_tokens")))
    val budget = per.map(_._2).sum * Curation.UnimaxBudgetX
    val caps = per.map { case (l, n) => (l, n * Curation.UnimaxEpochCap) }
      .sortBy { case (l, c) => (c, l) }
    var remaining = budget
    var left = caps.length
    val seq = scala.collection.mutable.Map.empty[String, Long]
    caps.foreach { case (l, c) =>
      val even = remaining / left
      val a = math.min(c, even)
      seq(l) = a; remaining -= a; left -= 1
    }
    rows.foreach { r =>
      val l = r.getAs[String]("lang")
      // the closed form floors the even split ONCE; the sequential loop
      // re-floors after every grant, so later languages can pick up one
      // token of division dust — identical up to that dust
      assert(math.abs(r.getAs[Long]("alloc_tokens") - seq(l)) <= 1L,
        s"$l: closed form ${r.getAs[Long]("alloc_tokens")} != sequential ${seq(l)}")
      assert(r.getAs[Long]("alloc_tokens") <= r.getAs[Long]("cap_tokens"))
      assert(r.getAs[Long]("epochs_micro") <=
        Curation.UnimaxEpochCap * 1000000L)
    }
    // the capped set is a rank prefix, and both regimes appear at sf0.001
    val byRank = rows.sortBy(_.getAs[Long]("alloc_rank"))
    val flags = byRank.map(_.getAs[Boolean]("capped"))
    assert(!flags.dropWhile(identity).contains(true),
      s"capped set must be a rank prefix: ${flags.mkString(",")}")
    assert(flags.contains(true) && flags.contains(false),
      "fixture scale must exercise both regimes")
    // uncapped languages all receive the same even split
    assert(rows.filterNot(_.getAs[Boolean]("capped"))
      .map(_.getAs[Long]("alloc_tokens")).distinct.length == 1)
    // the budget is spent up to integer-division dust
    val spent = rows.map(_.getAs[Long]("alloc_tokens")).sum
    assert(spent <= budget && budget - spent < rows.length.toLong * 2L)
  }

  test("temperature sampling (q114): exact sqrt micro-weights, flattened but order-preserving shares") {
    val rows = Curation.temperatureAllocation(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val totTokens = rows.map(_.getAs[Long]("n_tokens")).sum
    rows.foreach { r =>
      // w_micro is the exact integer lift of the α=1/2 power
      val n = r.getAs[Long]("n_tokens")
      assert(r.getAs[Long]("w_micro") ==
        math.floor(math.sqrt(n.toDouble) * 1e6).toLong)
    }
    // the boost factor is antitone in language size: the smallest
    // language is up-sampled the most (bp flooring can shave a unit, so
    // compare orderings, not the 10000 boundary)
    val boostByTok = rows.sortBy(_.getAs[Long]("n_tokens"))
      .map(_.getAs[Long]("boost_bp"))
    assert(boostByTok.sameElements(boostByTok.sorted.reverse),
      s"boost must fall as size grows: ${boostByTok.mkString(",")}")
    // α<1 flattens: the temperature-share spread is strictly narrower
    val natSpread = rows.map(_.getAs[Long]("natural_bp"))
    val tmpSpread = rows.map(_.getAs[Long]("temp_bp"))
    assert(tmpSpread.max - tmpSpread.min < natSpread.max - natSpread.min,
      s"temperature must compress shares (${tmpSpread.mkString(",")} vs ${natSpread.mkString(",")})")
    // …but preserves the size ordering (x → √x is monotone)
    val byTok = rows.sortBy(_.getAs[Long]("n_tokens")).map(_.getAs[Long]("temp_bp"))
    assert(byTok.sameElements(byTok.sorted), "√ must preserve ordering")
    // one-corpus-equivalent budget is spent up to integer-division dust
    val spent = rows.map(_.getAs[Long]("alloc_tokens")).sum
    assert(spent <= totTokens && totTokens - spent < rows.length.toLong,
      s"alloc $spent vs budget $totTokens")
  }

  test("shard manifest (q115): layout-invariant checksum, single-doc sensitivity") {
    val m1 = Curation.shardManifest(spark, sf0001).collect()
    assert(m1.length == 16)
    assert(m1.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sf0001).count())
    // driver-side recomputation: xor over rows in an UNRELATED order
    // must reproduce every shard's checksum (order invariance is the
    // certificate's whole point)
    val rows = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        graft.functions.TextHash.h1(concat(col("doc_id").cast("string"),
          lit(":"), sha2(col("text").cast("binary"), 256))).as("sig"),
        graft.functions.TextHash.h1(concat(lit("shuf:42:"),
          col("doc_id").cast("string"))).as("skey"))
      .collect()
      .map(r => (r.getAs[Long]("skey") % 16, r.getAs[Long]("sig")))
      .sortBy(_._2) // any order
    val byShard = rows.groupBy(_._1).view.mapValues(_.map(_._2)
      .foldLeft(0L)(_ ^ _)).toMap
    m1.foreach { r =>
      assert(r.getAs[Long]("content_xor") == byShard(r.getAs[Long]("shard")))
      assert(r.getAs[Long]("min_sig") <= r.getAs[Long]("max_sig"))
    }
    // sensitivity: dropping one document flips exactly its shard's xor
    // and leaves every other shard's certificate untouched
    val victim = rows.head
    val docs2 = Tables.documents(spark, sf0001)
    val dropped = docs2.filter(
      graft.functions.TextHash.h1(concat(col("doc_id").cast("string"),
        lit(":"), sha2(col("text").cast("binary"), 256))) =!= victim._2)
    withClue("recompute on dropped corpus") {
      val sig = graft.functions.TextHash.h1(concat(col("doc_id").cast("string"),
        lit(":"), sha2(col("text").cast("binary"), 256)))
      val skey = graft.functions.TextHash.h1(concat(lit("shuf:42:"),
        col("doc_id").cast("string")))
      val man2 = dropped
        .select(pmod(skey, lit(16L)).as("shard"), sig.as("sig"))
        .groupBy(col("shard")).agg(expr("bit_xor(sig)").as("content_xor"))
        .collect().map(r => r.getAs[Long]("shard") -> r.getAs[Long]("content_xor"))
        .toMap
      m1.foreach { r =>
        val sh = r.getAs[Long]("shard")
        if (sh == victim._1)
          assert(man2(sh) == (r.getAs[Long]("content_xor") ^ victim._2),
            "dropped doc must xor out of its shard")
        else assert(man2(sh) == r.getAs[Long]("content_xor"),
          s"unrelated shard $sh must keep its certificate")
      }
    }
  }

  test("scaling ladder (q119): rungs nest by construction and match a driver-side election") {
    val rows = Curation.scalingLadder(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // the 100% rung IS the corpus, per lang
    val full = Tables.documents(spark, sf0001).groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("ids")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.filter(_.getAs[Long]("rung_permil") == 1000L).foreach { r =>
      val (n, ids) = full(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_docs") == n && r.getAs[Long]("sum_doc_ids") == ids)
      assert(r.getAs[Long]("share_bp") == 10000L)
    }
    // nesting: per lang, docs/tokens/shares are monotone in the rung —
    // and the membership is a SUBSET, verified via the hash election
    val elected = Tables.documents(spark, sf0001)
      .select(col("lang"), col("doc_id"),
        (graft.functions.TextHash.h1(concat(lit("ladder:42:"),
          col("doc_id").cast("string"))) % 1000).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for (lang <- full.keys) {
      val members = Curation.LadderPermil.map(p =>
        p -> elected.filter(e => e._1 == lang && e._3 < p).map(_._2).toSet).toMap
      // subsets nest
      assert(members(10).subsetOf(members(100)) &&
        members(100).subsetOf(members(1000)))
      // operator rows agree with the driver-side election exactly
      rows.filter(_.getAs[String]("lang") == lang).foreach { r =>
        val m = members(r.getAs[Long]("rung_permil").toInt)
        assert(r.getAs[Long]("n_docs") == m.size.toLong)
        assert(r.getAs[Long]("sum_doc_ids") == m.toSeq.sum)
      }
    }
    // monotone shares per lang across present rungs
    for (lang <- full.keys) {
      val byRung = rows.filter(_.getAs[String]("lang") == lang)
        .sortBy(_.getAs[Long]("rung_permil")).map(_.getAs[Long]("share_bp"))
      assert(byRung.sameElements(byRung.sorted))
    }
  }

  test("split divergence (q120): exact TVD recomputation over the V+1 bucket grid") {
    val rows = Curation.splitDivergence(spark, sf0001).collect()
    assert(rows.map(_.getAs[String]("split")).toSet == Set("train", "val", "test"))
    // token totals reconcile with the corpus
    val corpusTokens = Tables.documents(spark, sf0001)
      .select(size(split(lower(col("text")), " ")).cast("long")).collect()
      .map(_.getLong(0)).sum
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == corpusTokens)
    // driver-side recomputation from raw tokens
    val vocab = graft.operators.TextAnalysis.vocabulary(spark, sf0001)
      .collect().map(_.getString(0)).toSet
    val toks = Tables.documents(spark, sf0001)
      .select(Curation.splitAssign(col("text")).as("split"),
        explode(split(lower(col("text")), " ")).as("w")).collect()
      .map(r => (r.getString(0),
        if (vocab(r.getString(1))) r.getString(1) else "<oov>"))
    val corpusCnt = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val ctot = toks.length.toLong
    rows.foreach { r =>
      val s = r.getAs[String]("split")
      val mine = toks.filter(_._1 == s)
      val tot = mine.length.toLong
      assert(r.getAs[Long]("n_tokens") == tot)
      val devs = corpusCnt.map { case (b, cc) =>
        val c = mine.count(_._2 == b).toLong
        math.abs(c * 10000 / tot - cc * 10000 / ctot)
      }
      assert(r.getAs[Long]("sum_abs_dev_bp") == devs.sum,
        s"$s: TVD ${r.getAs[Long]("sum_abs_dev_bp")} != ${devs.sum}")
      assert(r.getAs[Long]("max_abs_dev_bp") == devs.max)
      // a content-hash split of one corpus should not diverge wildly
      assert(r.getAs[Long]("sum_abs_dev_bp") <= 20000L)
    }
  }

  test("wilsonQualityRank (q260): hand-walked bounds; 95/100 outranks 3/3") {
    import spark.implicits._
    val dir = tempDir("graft_wilson").toString
    // pass text: 50 distinct >=6-char non-stopword tokens -> q = 1.0;
    // fail text: stopword soup -> q ~ 0.22
    val passText = (1 to 50).map(i => f"token$i%02dxx").mkString(" ")
    val failText = "the the the"
    var id = 0L
    def docs(src: String, pass: Int, fail: Int) =
      (1 to pass).map { _ => id += 1; (id, passText, "en", src, 1L) } ++
        (1 to fail).map { _ => id += 1; (id, failText, "en", src, 1L) }
    (docs("srcA", 3, 0) ++ docs("srcB", 95, 5))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Curation.wilsonQualityRank(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_pass"),
          r.getAs[Long]("pass_rate_milli"), r.getAs[Long]("wilson_lb_milli"),
          r.getAs[Long]("shrink_milli")))).toMap
    // hand walk: (3,3): s = ceil-isqrt(960400) = 980 exactly ->
    // lb = 1000*3e6 div 6841600 = 438; (100,95): t = 4750000,
    // arg = 5710400, isqrt 2389 (2389^2 = 5707321 < arg) -> ceil 2390,
    // num = 95e6 + 1920800 - 1960*2390 = 92236400,
    // lb = 1000*92236400 div 103841600 = 888
    assert(out("srcA") == ((3L, 3L, 1000L, 438L, 562L)),
      s"got ${out("srcA")}")
    assert(out("srcB") == ((100L, 95L, 950L, 888L, 62L)),
      s"got ${out("srcB")}")
    // the rule's whole point: the evidence-rich 95% source outranks the
    // 3-doc perfect source
    assert(out("srcB")._4 > out("srcA")._4)
  }

  test("gate ablation (q121): cells partition the corpus and reconcile with the q86 sample") {
    val rows = Curation.gateAblation(spark, sf0001).collect()
    val corpus = Tables.documents(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == corpus,
      "the 2x2 cells must partition the corpus")
    assert(rows.length == 4, "fixture scale must populate all four cells")
    // the mixture margin reconciles with the independently computed q86
    // resample (same coin, same rates)
    val accepted = rows.filter(_.getAs[Boolean]("mixture_accept"))
      .map(_.getAs[Long]("n_docs")).sum
    val q86 = Curation.mixtureResample(spark, sf0001).collect()
      .map(_.getAs[Long]("n_sampled")).sum
    assert(accepted == q86, s"ablation accepted $accepted != q86 sampled $q86")
    // share arithmetic is exact from the cell counts
    val tot = rows.map(_.getAs[Long]("n_docs")).sum
    val strata = rows.groupBy(_.getAs[Boolean]("quality_pass")).view
      .mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      assert(r.getAs[Long]("share_bp") == n * 10000 / tot)
      assert(r.getAs[Long]("stratum_share_bp") ==
        n * 10000 / strata(r.getAs[Boolean]("quality_pass")))
    }
    // the coin is content-blind: acceptance inside each quality stratum
    // stays in the same ballpark as the overall rate (a md5-of-doc_id
    // coin cannot systematically prefer a quality band)
    val overallBp = accepted * 10000 / tot
    strata.keys.foreach { qp =>
      val acc = rows.filter(r => r.getAs[Boolean]("quality_pass") == qp &&
        r.getAs[Boolean]("mixture_accept")).map(_.getAs[Long]("n_docs")).sum
      val bp = acc * 10000 / strata(qp)
      assert(math.abs(bp - overallBp) < 2500,
        s"stratum $qp acceptance $bp far from overall $overallBp")
    }
  }

  test("quality trend (q138): quarters partition the corpus, drift anchored to quarter zero") {
    val rows = Curation.sourceQualityTrend(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sf0001).count())
    // driver-side quarter recomputation on the id ranges
    val mx = Tables.documents(spark, sf0001)
      .agg(max(col("doc_id"))).head.getLong(0)
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val q0 = rs.find(_.getAs[Long]("quarter") == 0L)
      assert(q0.isDefined, s"$src missing quarter 0")
      assert(q0.get.getAs[Long]("drift_micro") == 0L,
        "quarter 0 drifts from itself")
      rs.foreach { r =>
        assert(r.getAs[Long]("avg_q_micro") ==
          r.getAs[Long]("sum_q_micro") / r.getAs[Long]("n_docs"))
        assert(r.getAs[Long]("drift_micro") ==
          r.getAs[Long]("avg_q_micro") - q0.get.getAs[Long]("avg_q_micro"))
        assert(r.getAs[Long]("quarter") >= 0L && r.getAs[Long]("quarter") <= 3L)
      }
    }
    // quarter boundaries follow the global id ranges exactly
    val counted = Tables.documents(spark, sf0001)
      .select(col("source"), least(lit(3L),
        expr(s"doc_id * 4 div (${mx} + 1)")).as("qt"))
      .groupBy(col("source"), col("qt")).count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") ==
        counted((r.getAs[String]("source"), r.getAs[Long]("quarter"))))
    }
  }

  test("doremi reweight (q106): exact driver-side recomputation + update direction") {
    import spark.implicits._
    // exact integer recomputation from the same per-source stats
    val per = Tables.documents(spark, sf0001)
      .select(col("source"),
        size(split(lower(col("text")), " ")).cast("long").as("t"),
        round(graft.operators.TextAnalysis.qualityScore(col("text")), 6).as("q"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"),
        sum(expr("cast(round(q * 1000000) as bigint)")).as("mq"))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("mq")))
    val totDocs = per.map(_._2).sum
    val totToks = per.map(_._3).sum
    val totQ = per.map(_._4).sum
    val nDom = per.length.toLong
    val corpusMean = totQ / totDocs
    val expect = per.map { case (src, nd, nt, mq) =>
      val base = nt * 10000L / totToks
      val mean = mq / nd
      val excess = math.max(0L, corpusMean - mean)
      val w = base * (1000000L + Curation.DoremiEta * excess)
      (src, base, mean, excess, w)
    }
    val wTot = expect.map(_._5).sum
    val expectRows = expect.map { case (src, base, mean, excess, w) =>
      val newBp = w * 10000L / wTot
      val finalBp = ((10000L - Curation.DoremiSmoothBp) * newBp +
        Curation.DoremiSmoothBp * (10000L / nDom)) / 10000L
      src -> ((base, mean, excess, newBp, finalBp))
    }.toMap
    val rows = Curation.doremiReweight(spark, sf0001).collect()
    assert(rows.length == expectRows.size)
    rows.foreach { r =>
      val (base, mean, excess, newBp, finalBp) = expectRows(r.getAs[String]("source"))
      assert(r.getAs[Long]("base_share_bp") == base)
      assert(r.getAs[Long]("mean_q_micro") == mean)
      assert(r.getAs[Long]("excess_micro") == excess)
      assert(r.getAs[Long]("new_share_bp") == newBp)
      assert(r.getAs[Long]("final_share_bp") == finalBp)
    }
    // direction fixture: the low-quality (high-deficit) domain gains share
    val dir = tempDir("graft_doremi").toString
    Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel", "en", "good"),
      (2L, "india juliet kilo lima mike november oscar papa", "en", "good"),
      (3L, "the the the the the the the the", "en", "bad"),
      (4L, "a a a a a a a a", "en", "bad"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val f = Curation.doremiReweight(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(f("good").getAs[Long]("excess_micro") == 0L)
    assert(f("bad").getAs[Long]("excess_micro") > 0L)
    // equal token mass, so the update strictly moves share toward "bad"
    assert(f("bad").getAs[Long]("new_share_bp") >
      f("bad").getAs[Long]("base_share_bp"))
    assert(f("good").getAs[Long]("new_share_bp") <
      f("good").getAs[Long]("base_share_bp"))
    // shares stay a (truncation-dust) partition of the whole
    val sumFinal = f.values.map(_.getAs[Long]("final_share_bp")).sum
    assert(sumFinal > 10000L - 2L * 2L && sumFinal <= 10000L)
  }

  test("corpus datasheet (q103): hand-computed fixture + corpus reconciliation") {
    import spark.implicits._
    val dir = tempDir("graft_datasheet").toString
    Seq(
      (1L, "alpha beta gamma", "x", "srcA"),
      (2L, "alpha beta gamma", "x", "srcA"), // exact dup of doc 1
      (3L, "delta epsilon", "x", "srcA"),
      (4L, "zeta eta theta iota", "x", "srcB"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Curation.corpusDatasheet(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_docs") == 4L)
    assert(row.getAs[Long]("n_tokens") == 3L + 3L + 2L + 4L)
    assert(row.getAs[Long]("n_distinct_texts") == 3L)
    assert(row.getAs[Long]("dup_rate_bp") == 2500L) // 1 of 4 redundant
    assert(row.getAs[Long]("n_sources") == 2L)
    assert(row.getAs[String]("top_source") == "srcA")
    assert(row.getAs[Long]("top_source_share_bp") == 7500L)
    // quality mass reconciles with the per-doc kernel exactly
    val expectQ = Tables.documents(spark, dir)
      .select(round(graft.operators.TextAnalysis.qualityScore(col("text")), 6).as("q"))
      .collect().map(x => math.round(x.getDouble(0) * 1000000)).sum
    assert(row.getAs[Long]("sum_q_micro") == expectQ)
    // and on the real corpus the datasheet totals reconcile with q15
    val ds = Curation.corpusDatasheet(spark, sf0001).collect()
    val stats = graft.operators.TextAnalysis.tokenStats(spark, sf0001).collect()
      .map(s => s.getAs[String]("lang") ->
        (s.getAs[Long]("n_docs"), s.getAs[Long]("sum_ws_tokens"))).toMap
    ds.foreach { d =>
      val (nd, nt) = stats(d.getAs[String]("lang"))
      assert(d.getAs[Long]("n_docs") == nd && d.getAs[Long]("n_tokens") == nt)
      assert(d.getAs[Long]("n_distinct_texts") <= nd)
      assert(d.getAs[Long]("top_source_share_bp") >=
        10000L / d.getAs[Long]("n_sources"))
    }
  }

  test("curriculum schedule (q102) matches a driver-side quartile banding") {
    val phases = Curation.CurriculumPhases
    val docs = Tables.documents(spark, sf0001)
      .select(col("lang"),
        round(graft.operators.TextAnalysis.qualityScore(col("text")), 6).as("q"),
        org.apache.spark.sql.functions.size(
          graft.functions.TextHash.tokens(col("text"))).cast("long").as("t"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    // reference banding: interior cutoffs are the exact discrete
    // quantiles; a doc joins the first band whose cutoff holds its score
    val expect = docs.groupBy(_._1).toSeq.flatMap { case (lang, rs) =>
      val sorted = rs.map(_._2).sorted
      val n = sorted.length
      val cuts = (1 until phases).map(p => sorted(((p * n + phases - 1) / phases) - 1))
      rs.map { case (_, q, t) => ((lang, 1L + cuts.count(_ < q)), (q, t)) }
    }.groupBy(_._1).view.mapValues { vs =>
      val qs = vs.map(_._2._1); val ts = vs.map(_._2._2)
      (vs.size.toLong, ts.sum, qs.map(q => math.round(q * 1000000)).sum,
        qs.map(q => math.round(q * 1000000)).min, qs.map(q => math.round(q * 1000000)).max)
    }.toMap
    val got = Curation.curriculumSchedule(spark, sf0001).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("phase")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"),
          r.getAs[Long]("sum_q_micro"), r.getAs[Long]("min_q_micro"),
          r.getAs[Long]("max_q_micro")))).toMap
    assert(got == expect, s"banding drift: got ${got.size} bands, want ${expect.size}")
    // bands are total (every doc lands in one) and ordered by quality:
    // phase p's max never exceeds phase p+1's min within a language
    assert(got.values.map(_._1).sum == docs.length.toLong)
    got.keys.map(_._1).toSet.foreach { (lang: String) =>
      val bands = got.filter(_._1._1 == lang).toSeq.sortBy(_._1._2)
      bands.zip(bands.tail).foreach { case ((_, a), (_, b)) =>
        assert(a._5 <= b._4, s"$lang: band overlap ${a._5} > ${b._4}")
      }
    }
  }

  test("encodingHygiene (q182): injection rule, length algebra, NBSP removes nothing") {
    import spark.implicits._
    val dir = tempDir("graft_hyg").toString
    // doc_id drives injection: 0→FFFD, 1→BEL, 2→NBSP, 3→FFFD+ZWSP, 4→clean
    (0L to 4L).map(i => (i, "abc", "en", "t", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Curation.encodingHygiene(spark, dir).collect()
    assert(r.length == 1)
    val en = r.head
    assert(en.getAs[Long]("n_docs") == 5L)
    assert(en.getAs[Long]("docs_repl") == 2L, "doc 0 and doc 3 (3%3=0)")
    assert(en.getAs[Long]("docs_ctrl") == 1L)
    assert(en.getAs[Long]("docs_nbsp") == 1L)
    assert(en.getAs[Long]("docs_zwsp") == 1L)
    assert(en.getAs[Long]("n_bad_chars") == 5L)
    assert(en.getAs[Long]("n_chars_removed") == 4L,
      "NBSP maps to a space — flagged but not removed")
  }

  test("piiAudit (q197): injection rule, regex counts, base-text hits add in") {
    import spark.implicits._
    val dir = tempDir("graft_pii").toString
    // doc_id drives injection: 0→two emails (0%3=0, 0%9=0), 1→phone
    // (1%4=1), 2→ip (2%5=2), 8→clean, 9→two injected emails + one in
    // the base text + a phone (9%4=1)
    Seq((0L, "z z z", "en"), (1L, "w w", "en"), (2L, "v", "de"),
        (8L, "t", "en"), (9L, "contact a@b.io now", "de"))
      .map { case (i, t, l) => (i, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = graft.operators.Curation.piiAudit(spark, dir).collect()
      .map(x => (x.getAs[String]("lang"), x.getAs[String]("pii_class")) ->
        (x.getAs[Long]("n_docs"), x.getAs[Long]("docs_hit"),
          x.getAs[Long]("n_hits"), x.getAs[Long]("density_bp"))).toMap
    assert(r.size == 6, s"2 langs x 3 classes, got ${r.keySet}")
    // en pool: docs 0 (2 emails), 1 (phone), 8 (clean)
    assert(r(("en", "email")) == ((3L, 1L, 2L, 3333L)))
    assert(r(("en", "phone")) == ((3L, 1L, 1L, 3333L)))
    assert(r(("en", "ip")) == ((3L, 0L, 0L, 0L)))
    // de pool: doc 2 (ip), doc 9 (2 injected + 1 base-text email, phone)
    assert(r(("de", "email")) == ((2L, 1L, 3L, 5000L)),
      "base-text a@b.io must add to the injected pair")
    assert(r(("de", "phone")) == ((2L, 1L, 1L, 5000L)))
    assert(r(("de", "ip")) == ((2L, 1L, 1L, 5000L)))
  }

  test("kAnonymity (q199): class sizing, threshold sweep, negative-balance band parity") {
    import spark.implicits._
    val dir = tempDir("graft_kanon").toString
    // four QI classes: A = 3 rows, B = 1 (singleton), C = 2, D = 12;
    // B sits on a NEGATIVE balance to pin the +100000-shift band rule
    val rows =
      (1 to 3).map(i => (i.toLong, s"a$i", 1, 150.00, "BUILDING")) ++
      Seq((10L, "b", 2, -999.99, "MACHINERY")) ++
      (20 to 21).map(i => (i.toLong, s"c$i", 3, 42.00, "AUTOMOBILE")) ++
      (30 to 41).map(i => (i.toLong, s"d$i", 1, 150.00, "MACHINERY"))
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    val out = graft.operators.Curation.kAnonymity(spark, dir).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[Long]("n_classes"), r.getAs[Long]("classes_below"),
          r.getAs[Long]("n_rows"), r.getAs[Long]("rows_at_risk"),
          r.getAs[Long]("risk_bp"))).toMap
    assert(out.keySet == Set(2L, 5L, 10L, 20L))
    assert(out(2L) == ((4L, 1L, 18L, 1L, 555L)),
      "only the singleton is below k=2")
    assert(out(5L) == ((4L, 3L, 18L, 6L, 3333L)))
    assert(out(10L) == ((4L, 3L, 18L, 6L, 3333L)))
    assert(out(20L) == ((4L, 4L, 18L, 18L, 10000L)),
      "every class is below k=20")
    // the negative balance lands in band (−99999 + 100000) div 10000 = 0:
    // non-negative before division, so both engines agree (sign rule)
    val bands = Tables.customer(spark, dir)
      .where(col("c_acctbal") < 0)
      .select(expr("(cast(round(c_acctbal * 100) as bigint) + 100000) div 10000")
        .as("b"))
    assert(bands.collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("erasureSweep (q193): cascade reaches orders and lineitem exactly") {
    import spark.implicits._
    import java.sql.Timestamp
    val dir = tempDir("graft_erase").toString
    val t = Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((97L, "a", 1, 0.0, "m"), (1L, "b", 1, 0.0, "m"), (2L, "c", 2, 0.0, "m"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, 97L, "O", 1.0, t, "p"), (2L, 1L, "O", 1.0, t, "p"),
      (3L, 97L, "O", 1.0, t, "p"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    def li(ok: Long, ln: Long) =
      (ok, 1L, 1L, ln, 1.0, 1.0, 0.0, 0.0, "N", "O", t)
    Seq(li(1, 1), li(1, 2), li(2, 1), li(3, 1))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Curation.erasureSweep(spark, dir).collect()
      .map(r => r.getAs[String]("table_name") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_erased"),
          r.getAs[Long]("n_after"), r.getAs[Long]("erased_bp"))).toMap
    assert(out("customer") == ((3L, 1L, 2L, 3333L)))
    assert(out("orders") == ((3L, 2L, 1L, 6666L)))
    assert(out("lineitem") == ((4L, 3L, 1L, 7500L)),
      "the cascade must erase every line of every deleted order")
  }

  test("lDiversity (q211): homogeneous class flagged below its row-diverse twin") {
    import spark.implicits._
    val dir = tempDir("graft_ldiv").toString
    // class A = (nation 1, S, band): c1 + c2, every order priority P1
    // (ldiv 1 — the homogeneity attack); class B = (nation 2, S, band):
    // c3 with priorities P1/P2/P3 (ldiv 3). 3 released rows each.
    Seq((1L, "c1", 1L, 0.0, "S"), (2L, "c2", 1L, 0.0, "S"),
      (3L, "c3", 2L, 0.0, "S"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, 1L, "P1"), (2L, 1L, "P1"), (3L, 2L, "P1"),
      (4L, 3L, "P1"), (5L, 3L, "P2"), (6L, 3L, "P3"))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    val out = Curation.lDiversity(spark, dir).collect()
      .map(r => r.getAs[Long]("l") ->
        (r.getAs[Long]("n_classes"), r.getAs[Long]("classes_below"),
          r.getAs[Long]("n_rows"), r.getAs[Long]("rows_at_risk"),
          r.getAs[Long]("risk_bp"))).toMap
    assert(out.size == 3)
    assert(out(2L) == ((2L, 1L, 6L, 3L, 5000L)))
    assert(out(3L) == ((2L, 1L, 6L, 3L, 5000L)),
      "ldiv 3 is NOT below l = 3 (strict threshold)")
    assert(out(5L) == ((2L, 2L, 6L, 6L, 10000L)))
  }

  test("hamiltonAllocation (q222): largest remainders get the leftover, sum exact") {
    import spark.implicits._
    val dir = tempDir("graft_hamilton").toString
    // counts 5 / 3 / 1 over target 7: quotas 35/9, 21/9, 7/9 → bases
    // 3, 2, 0 (sum 5); remainders 8, 3, 7 → the 2 leftover seats go to
    // s_a (rem 8) and s_c (rem 7)
    (1 to 9).map { i =>
      val src = if (i <= 5) "s_a" else if (i <= 8) "s_b" else "s_c"
      (i.toLong, s"t $i", "en", src, 3L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Curation.hamiltonAllocation(spark, dir, target = 7L).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("base_alloc"), r.getAs[Long]("remainder"),
          r.getAs[Boolean]("plus_one"), r.getAs[Long]("alloc"))).toMap
    assert(out("s_a") == ((3L, 8L, true, 4L)))
    assert(out("s_b") == ((2L, 3L, false, 2L)))
    assert(out("s_c") == ((0L, 7L, true, 1L)),
      "the smallest source still gets a seat via its large remainder")
    assert(out.values.map(_._4).sum == 7L, "allocations must sum to target")
  }

  test("neymanAllocation (q245): hand-walked weights, zero-variance stratum starves, prop leg equals q222") {
    import spark.implicits._
    val dir = tempDir("graft_neyman").toString
    // A: four constant-length docs (variance 0 -> weight 0); B: lengths
    // 10/20 -> S2 = 2*500 - 900 = 100 -> weight isqrt(100) = 10
    (Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L)).map {
      case (i, nc) => (i, s"t $i", "en", "A", nc)
    } ++ Seq((5L, 10L), (6L, 20L)).map {
      case (i, nc) => (i, s"t $i", "en", "B", nc)
    }).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Curation.neymanAllocation(spark, dir, target = 1000L).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("s2_num"), r.getAs[Long]("neyman_weight"),
          r.getAs[Long]("weight_share_bp"), r.getAs[Long]("alloc_neyman"),
          r.getAs[Long]("alloc_prop"), r.getAs[Long]("delta")))).toMap
    // prop: A 4000 div 6 = 666 rem 4, B 333 rem 2 -> leftover seat to A
    assert(out("A") == ((0L, 0L, 0L, 0L, 667L, -667L)), s"got ${out("A")}")
    assert(out("B") == ((100L, 10L, 10000L, 1000L, 333L, 667L)),
      s"got ${out("B")}")
    // at corpus scale: both allocations exhaust the budget exactly and
    // the proportional leg is bit-identical to q222's election
    val sf = Curation.neymanAllocation(spark, sf0001).collect()
    assert(sf.map(_.getAs[Long]("alloc_neyman")).sum == 1000L)
    assert(sf.map(_.getAs[Long]("alloc_prop")).sum == 1000L)
    val q222 = Curation.hamiltonAllocation(spark, sf0001).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("alloc")).toMap
    sf.foreach { r =>
      assert(r.getAs[Long]("alloc_prop") == q222(r.getAs[String]("source")),
        s"${r.getAs[String]("source")}: prop leg diverged from q222")
    }
  }

  test("dhondtAllocation (q229): exact-proportional case seats cleanly, sums to budget") {
    import spark.implicits._
    val dir = tempDir("graft_dhondt").toString
    // votes 6/3/1 on 100 seats: threshold 0.1 seats exactly 60/30/10 —
    // the boundary quotient 100000 milli is a 3-way tie at ranks 97-99
    val docs = (1L to 6L).map(i => (i, "s_a")) ++
      (7L to 9L).map(i => (i, "s_b")) :+ ((10L, "s_c"))
    docs.toDF("doc_id", "source")
      .write.parquet(s"$dir/documents.parquet")
    val out = Curation.dhondtAllocation(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("votes"), r.getAs[Long]("share_bp"),
          r.getAs[Long]("seats"), r.getAs[Long]("seat_bp"),
          r.getAs[Long]("dev_bp")))).toMap
    assert(out == Map(
      "s_a" -> ((6L, 6000L, 60L, 6000L, 0L)),
      "s_b" -> ((3L, 3000L, 30L, 3000L, 0L)),
      "s_c" -> ((1L, 1000L, 10L, 1000L, 0L))), s"got $out")
    assert(out.values.map(_._3).sum == 100L, "seats must sum to the budget")
  }

  test("modalityCoverage (q240): per-lang coverage, orphan vectors counted once") {
    import spark.implicits._
    val dir = tempDir("graft_modcov").toString
    Seq((1L, "en"), (2L, "en"), (3L, "fr")).toDF("doc_id", "lang")
      .write.parquet(s"$dir/documents.parquet")
    // vec 1 and 3 match docs; 99 is a stale index orphan
    Seq(Tuple1(1L), Tuple1(3L), Tuple1(99L)).toDF("vec_id")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = Curation.modalityCoverage(spark, dir).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_with_embedding"),
          r.getAs[Long]("coverage_bp"), r.getAs[Long]("n_orphan_vecs")))).toMap
    assert(out == Map(
      "en" -> ((2L, 1L, 5000L, 1L)),
      "fr" -> ((1L, 1L, 10000L, 1L))), s"got $out")
  }
}
