package graft

import org.apache.spark.sql.functions._

import graft.functions.TextHash
import graft.operators.TextAnalysis

/** Unit coverage for text analysis (SURVEY.md §2.12 X4). */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("quality score stays in [0,1] on the real corpus") {
    val qs = Tables.documents(spark, sf0001)
      .select(TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(_.getDouble(0))
    assert(qs.forall(q => q >= 0.0 && q <= 1.0))
  }

  test("bigram fluency: every bigram counts itself, so the average frequency >= 1") {
    val rows = graft.operators.TextAnalysis.bigramFluency(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("total_hits") >= r.getAs[Long]("total_bigrams"))
      assert(r.getAs[Double]("avg_bigram_freq") >= 1.0)
      assert(r.getAs[Long]("n_docs") > 0)
    }
  }

  test("quality filter keeps exactly the upper half per language") {
    val rows = graft.operators.TextAnalysis.qualityFilter(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs"); val kept = r.getAs[Long]("n_kept")
      // rank cutoff 2·rn > n keeps ⌈n/2⌉ rows (median element included
      // when n is odd)
      assert(kept == n - n / 2, s"lang ${r.getString(0)}: kept $kept of $n")
      assert(r.getAs[Double]("min_kept_quality") >= 0.0 &&
        r.getAs[Double]("min_kept_quality") <= 1.0)
    }
    // the filter is selective, not a pass-through
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val keptTotal = rows.map(_.getAs[Long]("n_kept")).sum
    assert(keptTotal < total)
  }

  test("language-ID is deterministic and total (every doc gets a prediction)") {
    val conf = TextAnalysis.langIdConfusion(spark, sf0001)
    val total = conf.agg(sum("n_docs")).head.getLong(0)
    assert(total == Tables.documents(spark, sf0001).count())
    val preds = conf.select("predicted").distinct().collect().map(_.getString(0))
    assert(preds.toSet.subsetOf(TextAnalysis.Markers.map(_._1).toSet))
  }

  test("lang-ID tie-break: marker-free text falls through to priority order") {
    val p = Seq("qqq www eee").toDF("text")
      .select(TextAnalysis.langIdPredict(col("text"))).head.getString(0)
    assert(p == "en", "all-zero scores resolve to first-listed language")
  }

  test("rolling fingerprint is order-sensitive; md5 set-hash twin is not") {
    val df = Seq("alpha beta gamma", "gamma beta alpha").toDF("text")
      .select(TextHash.rollingFingerprint(col("text")).as("fp"))
    val fps = df.collect().map(_.getLong(0))
    assert(fps(0) != fps(1), "permuted docs must fingerprint differently")
    assert(fps.forall(f => f >= 0 && f < TextHash.FpP))
  }

  test("repetition scorer: hand-computed fractions and Gopher flags") {
    val dir = tempDir("graft_rep").toString
    Seq(
      (1L, "spam spam spam spam", "en", "t", 19L),           // all one token
      (2L, "alpha beta gamma delta", "en", "t", 22L),        // short → bigram-flagged
      (3L, "one two three four five six seven eight", "en", "t", 39L), // clean
      (4L, "solo", "de", "t", 4L))                           // 1 token, no bigrams
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = operators.TextAnalysis.repetitionSummary(spark, dir)
      .collect().map(r => r.getAs[String]("lang") -> r).toMap
    val de = rows("de")
    // single-token doc: top_tok = 1/1 (flagged), bigram side is the
    // left-join-null path → 0/greatest(0,1) = 0
    assert(de.getAs[Long]("n_docs") == 1 && de.getAs[Long]("n_flagged") == 1)
    assert(de.getAs[Double]("avg_top_big_frac") == 0.0)
    assert(de.getAs[Double]("max_top_tok_frac") == 1.0)
    val en = rows("en")
    // top_tok: (4/4 + 1/4 + 1/8)/3 = 0.4583; top_big: (3/3 + 1/3 + 1/7)/3
    // = 31/63 = 0.4921; flagged: doc1 (both), doc2 (1/3 > 0.18)
    assert(en.getAs[Long]("n_docs") == 3 && en.getAs[Long]("n_flagged") == 2)
    assert(en.getAs[Double]("avg_top_tok_frac") == 0.4583, en)
    assert(en.getAs[Double]("avg_top_big_frac") == 0.4921, en)
  }

  test("repetition fractions are valid ratios over the real corpus") {
    val s = operators.TextAnalysis.repetitionSummary(spark, sf0001).collect()
    val total = s.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables.documents(spark, sf0001).count())
    s.foreach { r =>
      val avgTok = r.getAs[Double]("avg_top_tok_frac")
      assert(avgTok > 0.0 && avgTok <= 1.0, r)
      assert(r.getAs[Double]("max_top_tok_frac") <= 1.0, r)
      assert(r.getAs[Long]("n_flagged") <= r.getAs[Long]("n_docs"), r)
    }
  }

  test("tfidf top terms: bounded-heap rank equals window-rank formulation") {
    val viaAgg = operators.TextAnalysis.tfidfTopTerms(spark, sf0001, k = 5)
    // reference formulation: the window rank the aggregate replaces
    val tok = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"),
        explode(TextHash.tokens(col("text"))).as("w"))
    val tf = tok.groupBy("lang", "w").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("c").desc, col("w"))
    val viaWindow = tf.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("rank").cast("long"), col("w").as("term"),
        col("c").as("term_count"))
    val got = viaAgg.select("lang", "rank", "term", "term_count")
    assert(got.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(got).isEmpty)
    // tfidf sanity: rarer term (smaller df) with equal count scores higher
    viaAgg.collect().foreach { r =>
      assert(r.getAs[Double]("tfidf") > 0.0)
      assert(r.getAs[Long]("df") > 0L)
    }
  }

  test("token stats: regex tokens >= whitespace tokens on alpha text") {
    TextAnalysis.tokenStats(spark, sf0001).collect().foreach { r =>
      assert(r.getAs[Long]("sum_re_tokens") >= r.getAs[Long]("sum_ws_tokens"))
    }
  }

  test("duplicated n-grams: bounded-heap top-k equals the window-rank answer") {
    import org.apache.spark.sql.expressions.Window
    val k = 20
    val viaAgg = TextAnalysis.duplicatedNgrams(spark, sf0001, n = 5, k = k)
    // reference formulation: full df table + window rank (the shape the
    // bounded heap replaces because the gram vocabulary is unbounded)
    val df = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        explode(graft.functions.TextHash.shingles(col("text"), 5)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
    val viaWindow = df.withColumn("rank",
        row_number().over(Window.orderBy(col("df").desc, col("g"))))
      .filter(col("rank") <= k)
      .select(col("rank").cast("long").as("rank"), col("g").as("ngram"),
        col("df").as("n_docs_containing"))
    assert(viaAgg.exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(viaAgg).isEmpty)
    // the planted near-dups share 5-grams: the top gram must be shared
    val top = viaAgg.orderBy(col("rank")).head
    assert(top.getAs[Long]("n_docs_containing") >= 2,
      "top duplicated gram should appear in multiple docs")
  }

  /** Tiny documents-table fixture on disk, matching the driver schema. */
  private def docsFixture(rows: Seq[(Long, String, String, String)]): String = {
    val dir = tempDir("graft_textspec").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("span scrub (q105): coverage matches hand-computed removal accounting") {
    // cross-doc repeat: docs 1+2 share the 5-gram "a b c d e" (pos 1),
    // so positions 1-5 of each are covered; doc 3 is untouched
    val dir = docsFixture(Seq(
      (1L, "a b c d e f", "en", "src0"),
      (2L, "a b c d e z", "en", "src0"),
      (3L, "p q r s t u v", "en", "src0")))
    val r = TextAnalysis.spanScrub(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_docs") == 3L)
    assert(r.head.getAs[Long]("sum_tokens") == 19L)
    assert(r.head.getAs[Long]("sum_removed") == 10L)
    assert(r.head.getAs[Long]("removed_bp") == 10L * 10000L / 19L)
    assert(r.head.getAs[Long]("n_docs_hit") == 2L)
  }

  test("span scrub counts WITHIN-doc repeats (the rule q87's distinct grams can't see)") {
    // one doc, period-2 repetition: every positional 5-gram occurs twice
    // within the SAME doc -> the whole doc is coverable
    val dir = docsFixture(Seq((1L, "x y x y x y x y", "en", "src0")))
    val r = TextAnalysis.spanScrub(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("sum_tokens") == 8L)
    assert(r.head.getAs[Long]("sum_removed") == 8L)
    assert(r.head.getAs[Long]("removed_bp") == 10000L)
    assert(r.head.getAs[Long]("n_docs_hit") == 1L)
  }

  test("span scrub: real-corpus invariants (coverage bounded, short docs safe)") {
    val rows = TextAnalysis.spanScrub(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("sum_removed") <= r.getAs[Long]("sum_tokens"))
      val bp = r.getAs[Long]("removed_bp")
      assert(bp >= 0L && bp <= 10000L)
      assert(r.getAs[Long]("n_docs_hit") <= r.getAs[Long]("n_docs"))
    }
    // sub-n docs produce no grams but still count toward the token mass
    val dir = docsFixture(Seq((1L, "a b", "en", "src0")))
    val f = TextAnalysis.spanScrub(spark, dir).collect()
    assert(f.head.getAs[Long]("sum_tokens") == 2L)
    assert(f.head.getAs[Long]("sum_removed") == 0L)
  }

  test("cms heavy hitters (q109): never undercounts, exact on a collision-free fixture") {
    val rows = TextAnalysis.cmsHeavyHitters(spark, sf0001).collect()
    assert(rows.length == 15)
    // the count-min guarantee: estimate >= exact for EVERY token
    rows.foreach { r =>
      assert(r.getAs[Long]("overest") >= 0L,
        s"count-min undercounted ${r.getAs[String]("token")}")
      assert(r.getAs[Long]("cms_estimate") ==
        r.getAs[Long]("exact_cnt") + r.getAs[Long]("overest"))
    }
    // ranks are dense and exact counts non-increasing
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to 15L))
    val cnts = rows.map(_.getAs[Long]("exact_cnt"))
    assert(cnts.zip(cnts.tail).forall { case (x, y) => x >= y })
    // tiny-vocabulary fixture: 3 tokens into 4x1024 cells — the md5
    // buckets are deterministic and collision-free here, so the sketch
    // is EXACT (the estimate-equals-truth regime)
    val dir = docsFixture(Seq(
      (1L, "aa aa aa bb bb cc", "en", "src0"),
      (2L, "aa bb cc cc cc cc", "en", "src0")))
    val f = TextAnalysis.cmsHeavyHitters(spark, dir, k = 3).collect()
    assert(f.map(r => r.getAs[String]("token") -> r.getAs[Long]("exact_cnt")).toMap ==
      Map("aa" -> 4L, "bb" -> 3L, "cc" -> 5L))
    f.foreach(r => assert(r.getAs[Long]("overest") == 0L,
      s"3 tokens in 4096 cells must not collide: ${r.getAs[String]("token")}"))
  }

  test("bm25: ranking is total (score desc, doc_id asc) and tf-monotone at equal length") {
    val rows = TextAnalysis.bm25TopK(spark, sf0001).collect()
    assert(rows.length == 15)
    val keys = rows.map(r => (-r.getAs[Double]("score"), r.getAs[Long]("doc_id")))
    assert(keys.sameElements(keys.sorted), "rank order must be (score desc, doc_id asc)")
    assert(rows.forall(_.getAs[Double]("score") > 0.0))
    // same doc length, more query-term hits => strictly higher score; a
    // doc with no query terms never appears
    val dir = docsFixture(Seq(
      (1L, "vector vector vector pad1 pad2", "en", "src0"),
      (2L, "vector pad1 pad2 pad3 pad4", "en", "src0"),
      (3L, "pad1 pad2 pad3 pad4 pad5", "en", "src0")))
    val f = TextAnalysis.bm25TopK(spark, dir, k = 10).collect()
    assert(f.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L),
      "tf-heavy doc first, term-free doc absent")
    assert(f(0).getAs[Double]("score") > f(1).getAs[Double]("score"))
  }

  test("hybrid RRF (q117): fusion matches a driver-side recomputation from the leg rankings") {
    val rows = TextAnalysis.hybridRetrieval(spark, sf0001).collect()
    assert(rows.length == 10)
    // rank order total on (rrf desc, doc_id asc), scores positive
    val keys = rows.map(r => (-r.getAs[Long]("rrf_micro"), r.getAs[Long]("doc_id")))
    assert(keys.sameElements(keys.sorted))
    rows.foreach { r =>
      // recompute the fused score from the attributed leg ranks
      val bm = r.getAs[Long]("bm25_rank"); val tf = r.getAs[Long]("tf_rank")
      val expected = (if (bm > 0) 1000000000L / (60 + bm) else 0L) +
        (if (tf > 0) 1000000000L / (60 + tf) else 0L)
      assert(r.getAs[Long]("rrf_micro") == expected)
      assert(bm >= 0 && bm <= TextAnalysis.RrfPool)
      assert(tf >= 0 && tf <= TextAnalysis.RrfPool)
      assert(bm > 0 || tf > 0, "a fused doc must appear in at least one leg")
    }
    // a doc at the top of BOTH legs must outrank a doc present in one:
    // rrf(two legs, any ranks) >= 2*(1e9/80) > 1e9/61 >= rrf(one leg)
    val both = rows.filter(r => r.getAs[Long]("bm25_rank") > 0 && r.getAs[Long]("tf_rank") > 0)
    val one = rows.filter(r => r.getAs[Long]("bm25_rank") == 0 || r.getAs[Long]("tf_rank") == 0)
    if (both.nonEmpty && one.nonEmpty)
      assert(both.map(_.getAs[Long]("rrf_micro")).min >
        one.map(_.getAs[Long]("rrf_micro")).max)
    // fixture: the legs genuinely disagree (idf/length-norm vs raw tf)
    // and RRF still ranks a both-legs doc first
    val dir = docsFixture(Seq(
      (1L, "vector hash stream filter join pad", "en", "src0"),
      (2L, "vector vector vector vector vector vector vector vector", "en", "src0"),
      (3L, "pad1 pad2 pad3 pad4 pad5", "en", "src0")))
    val f = TextAnalysis.hybridRetrieval(spark, dir, k = 5).collect()
    assert(f.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L),
      "term-free doc must be absent from the fusion")
  }

  test("quality attribution (q128): components average to the composite within rounding dust") {
    val rows = TextAnalysis.qualityComponents(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val parts = Seq("avg_len_micro", "avg_ttr_micro", "avg_stop_micro",
        "avg_wordlen_micro").map(r.getAs[Long])
      // every component lives on [0, 1] in micro-units
      parts.foreach(p => assert(p >= 0L && p <= 1000000L, s"component $p out of range"))
      // q = 0.25·Σ components: the averaged composite must sit within
      // per-doc rounding dust of the averaged component mean
      val fromParts = parts.sum / 4
      val q = r.getAs[Long]("avg_q_micro")
      assert(math.abs(q - fromParts) <= 2L,
        s"${r.getAs[String]("lang")}: composite $q vs components $fromParts")
    }
    // attribution must reconcile with the q17 per-lang averages
    val q17 = TextAnalysis.qualityByLang(spark, sf0001).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Double]("avg_quality")).toMap
    rows.foreach { r =>
      val avg = r.getAs[Long]("avg_q_micro") / 1000000.0
      assert(math.abs(avg - q17(r.getAs[String]("lang"))) < 0.001)
    }
  }

  test("collocations (q134): lift recomputed exactly, floor respected, ranking total") {
    val rows = TextAnalysis.collocations(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // driver-side recomputation of unigram/bigram counts and lift
    val texts = Tables.documents(spark, sf0001)
      .select(lower(col("text"))).collect().map(_.getString(0).split(" ", -1))
    val uni = texts.flatten.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nTok = texts.map(_.length.toLong).sum
    val bi = texts.flatMap(t => t.zip(t.tail).map { case (a, b) => s"$a $b" })
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      val bg = r.getAs[String]("bigram")
      val Array(w1, w2) = bg.split(" ")
      val cb = bi(bg)
      assert(cb >= TextAnalysis.CollocMinCount.toLong)
      assert(r.getAs[Long]("n_pair") == cb)
      val lift = (BigInt(cb) * nTok * 10000 / (BigInt(uni(w1)) * uni(w2))).toLong
      assert(r.getAs[Long]("lift_bp") == lift, s"bigram $bg")
    }
    // ranking is total on (lift desc, bigram asc)
    val keys = rows.map(r => (-r.getAs[Long]("lift_bp"), r.getAs[String]("bigram")))
    assert(keys.sameElements(keys.sorted))
    // the heap's top-k equals the full ranking's top-k, recomputed
    val full = bi.filter(_._2 >= TextAnalysis.CollocMinCount)
      .map { case (bg, cb) =>
        val Array(a, b) = bg.split(" ")
        (bg, (BigInt(cb) * nTok * 10000 / (BigInt(uni(a)) * uni(b))).toLong)
      }.toSeq.sortBy { case (bg, l) => (-l, bg) }.take(rows.length)
    assert(rows.map(_.getAs[String]("bigram")).toSeq == full.map(_._1))
  }

  test("diversity profile (q136): counts recomputed exactly, diversity falls with n on templated text") {
    val rows = TextAnalysis.diversityProfile(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // driver-side recomputation (string grams; the operator hashes them,
    // which can only merge — assert within the birthday-bound slack of 0)
    val texts = Tables.documents(spark, sf0001)
      .select(col("lang"), lower(col("text"))).collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1)))
    for (n <- Seq(1, 2, 3); lang <- texts.map(_._1).distinct) {
      val grams = texts.filter(_._1 == lang).flatMap { case (_, t) =>
        (0 to t.length - n).map(i => t.slice(i, i + n).mkString(" "))
      }
      val row = rows.find(r => r.getAs[String]("lang") == lang &&
        r.getAs[Long]("n") == n.toLong).get
      assert(row.getAs[Long]("n_grams") == grams.length.toLong, s"$lang n=$n total")
      assert(row.getAs[Long]("n_distinct") == grams.distinct.length.toLong,
        s"$lang n=$n distinct")
      assert(row.getAs[Long]("diversity_bp") ==
        grams.distinct.length.toLong * 10000 / grams.length)
    }
    // the synthetic corpus is word-repetitive: unigram diversity is LOW
    // while trigram diversity is much higher (few repeated phrases)
    for (lang <- texts.map(_._1).distinct) {
      def bp(n: Long) = rows.find(r => r.getAs[String]("lang") == lang &&
        r.getAs[Long]("n") == n).get.getAs[Long]("diversity_bp")
      assert(bp(1) < bp(3), s"$lang: unigram diversity must trail trigram")
    }
  }

  test("vocab election: OOV decomposes exactly and per-lang in-vocab distinct <= V") {
    val rows = TextAnalysis.vocabOov(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nTok = r.getAs[Long]("n_tokens"); val nOov = r.getAs[Long]("n_oov")
      assert(nOov >= 0 && nOov < nTok, "vocab terms are corpus-frequent: some tokens stay in-vocab")
      assert(math.abs(r.getAs[Double]("oov_rate") - nOov.toDouble / nTok) < 1e-6)
      assert(r.getAs[Long]("n_distinct") - r.getAs[Long]("n_distinct_oov") <=
        TextAnalysis.VocabSize.toLong)
    }
    // skewed fixture, V=2: the two frequent tokens win, the rest are OOV
    val dir = docsFixture(Seq(
      (1L, "aa aa aa bb bb cc", "en", "src0"),
      (2L, "aa bb dd", "en", "src0")))
    val f = TextAnalysis.vocabOov(spark, dir, v = 2).collect()
    assert(f.length == 1)
    assert(f.head.getAs[Long]("n_tokens") == 9L)
    // vocab = {aa: 4, bb: 3}; OOV = one cc + one dd
    assert(f.head.getAs[Long]("n_oov") == 2L)
    assert(f.head.getAs[Long]("n_distinct_oov") == 2L)
  }

  test("boilerplate share: identical docs are fully shared, unique docs fully unshared") {
    val real = TextAnalysis.boilerplateShare(spark, sf0001).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      assert(r.getAs[Long]("sum_shared") <= r.getAs[Long]("sum_grams"))
      val rate = r.getAs[Double]("shared_rate")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(r.getAs[Long]("n_heavy") <= r.getAs[Long]("n_docs"))
    }
    // two byte-identical docs + one disjoint doc: the twins' grams all
    // have df=2 (fully shared), the loner's grams df=1 (unshared)
    val dir = docsFixture(Seq(
      (1L, "w1 w2 w3 w4 w5 w6", "en", "src0"),
      (2L, "w1 w2 w3 w4 w5 w6", "en", "src0"),
      (3L, "x1 x2 x3 x4 x5 x6", "en", "src0")))
    val f = TextAnalysis.boilerplateShare(spark, dir).collect()
    assert(f.length == 1)
    // 6 tokens -> 2 distinct 5-grams per doc; twins share both, loner none
    assert(f.head.getAs[Long]("n_docs") == 3L)
    assert(f.head.getAs[Long]("sum_grams") == 6L)
    assert(f.head.getAs[Long]("sum_shared") == 4L)
    assert(f.head.getAs[Long]("n_heavy") == 2L)
  }

  test("tokenizer fairness: rates consistent, token-weighted mean at corpus parity") {
    val rows = TextAnalysis.tokenizerFairness(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cpt = r.getAs[Double]("chars_per_token")
      assert(math.abs(cpt - r.getAs[Long]("sum_chars").toDouble /
        r.getAs[Long]("sum_tokens")) < 1e-5)
      assert(r.getAs[Long]("rel_rate_bp") > 0L)
    }
    // token-weighted mean of the relative rates recovers corpus parity
    // (integral divide truncates each lang down by < 1 bp)
    val toks = rows.map(_.getAs[Long]("sum_tokens"))
    val wavg = rows.zip(toks).map { case (r, t) =>
      r.getAs[Long]("rel_rate_bp").toDouble * t }.sum / toks.sum
    assert(math.abs(wavg - 10000.0) < 2.0, s"weighted mean $wavg")
    // exact cross-ratio fixture: 4.5 vs 1.5 chars/token -> 15000/5000 bp
    val dir = docsFixture(Seq(
      (1L, "aaaa bbbb", "x", "src0"),
      (2L, "a b", "y", "src0")))
    val f = TextAnalysis.tokenizerFairness(spark, dir).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("rel_rate_bp")).toMap
    assert(f == Map("x" -> 15000L, "y" -> 5000L))
  }

  test("vocab coverage frontier (q104) matches a driver-side ranking exactly") {
    val counts = Tables.documents(spark, sf0001)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val ranked = counts.sortBy { case (w, c) => (-c, w) }
    val total = counts.map(_._2).sum
    val rows = TextAnalysis.vocabCoverageFrontier(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("vocab_k")).toSeq ==
      TextAnalysis.CoverageSizes.map(_.toLong))
    rows.foreach { r =>
      val k = r.getAs[Long]("vocab_k").toInt
      val top = ranked.take(k)
      assert(r.getAs[Long]("n_terms_used") == top.length.toLong)
      assert(r.getAs[Long]("covered_tokens") == top.map(_._2).sum)
      assert(r.getAs[Long]("total_tokens") == total)
      assert(r.getAs[Long]("n_distinct_terms") == counts.length.toLong)
      assert(r.getAs[Long]("coverage_bp") == top.map(_._2).sum * 10000L / total)
    }
    // the curve is monotone and saturates once K covers the vocabulary
    val cov = rows.map(_.getAs[Long]("coverage_bp"))
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b })
    assert(cov.last == 10000L)
  }

  test("quality calibration (q99) = exact discrete deciles of the score list") {
    // reference quantile: d-th decile cutoff is the ceil(d*n/10)-th
    // smallest rounded score — recomputed driver-side from raw scores
    val byLang = Tables.documents(spark, sf0001)
      .select(col("lang"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("q"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val rows = TextAnalysis.qualityCalibration(spark, sf0001).collect()
    assert(rows.length == byLang.size * 9)
    rows.foreach { r =>
      val scores = byLang(r.getAs[String]("lang"))
      val d = r.getAs[Long]("decile")
      val need = (d * scores.length + 9) / 10
      assert(r.getAs[Long]("n_docs") == scores.length.toLong)
      assert(r.getAs[Double]("cutoff") == scores(need.toInt - 1))
    }
    // cutoffs are monotone non-decreasing across deciles within a lang
    rows.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      val cuts = rs.sortBy(_.getAs[Long]("decile")).map(_.getAs[Double]("cutoff"))
      assert(cuts.zip(cuts.tail).forall { case (a, b) => a <= b })
    }
  }

  // driver-side reimplementation of the q140 milli-bit integer log2
  private val Log2Lut = Seq(0, 87, 170, 248, 322, 392, 459, 524,
    585, 644, 700, 755, 807, 858, 907, 954)
  private def log2m(x: Long): Long = {
    require(x >= 1)
    val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
    e.toLong * 1000 + Log2Lut(((x * 16) >> e).toInt - 16)
  }

  test("vocab growth (q147): quarters reconcile with corpus totals, curve flattens correctly") {
    val rows = TextAnalysis.vocabGrowthCurve(spark, sf0001).collect()
      .sortBy(_.getAs[Long]("quarter"))
    assert(rows.length == 4)
    // driver-side truth over the same quartering and hash
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase.split(" ", -1)))
    val mx = docs.map(_._1).max
    def quarter(id: Long): Long = math.min(3L, id * 4 / (mx + 1))
    val totalTokens = docs.map(_._2.length.toLong).sum
    val last = rows.last
    assert(last.getAs[Long]("cum_tokens") == totalTokens)
    // cumulative distinct at quarter 3 = corpus distinct vocabulary
    val vocab = docs.flatMap(_._2).distinct.length.toLong
    assert(last.getAs[Long]("cum_distinct") == vocab,
      "h1 collisions would undercount; none expected at this vocab size")
    // new_distinct sums to the vocabulary; cum columns are monotone
    assert(rows.map(_.getAs[Long]("new_distinct")).sum == vocab)
    val cums = rows.map(r => (r.getAs[Long]("cum_tokens"),
      r.getAs[Long]("cum_distinct"), r.getAs[Long]("ttr_bp")))
    cums.zip(cums.tail).foreach { case ((t1, d1, _), (t2, d2, _)) =>
      assert(t1 < t2 && d1 <= d2)
    }
    // exact per-quarter minting against a driver recomputation
    val firstQuarter = scala.collection.mutable.Map.empty[String, Long]
    docs.sortBy(_._1).foreach { case (id, ts) =>
      ts.foreach(t => if (!firstQuarter.contains(t))
        firstQuarter(t) = quarter(id))
    }
    val mintTruth = firstQuarter.values.groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("new_distinct") ==
        mintTruth.getOrElse(r.getAs[Long]("quarter"), 0L),
        s"quarter ${r.getAs[Long]("quarter")}")
      assert(r.getAs[Long]("ttr_bp") ==
        r.getAs[Long]("cum_distinct") * 10000 / r.getAs[Long]("cum_tokens"))
    }
  }

  test("perplexity by source (q152): partitions the pool, tail mass reconciles with tertiles") {
    val rows = TextAnalysis.perplexityBySource(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getAs[String]("source") == "src0"),
      "the reference slice is not a pool source")
    val scored = TextAnalysis.perplexityScored(spark, sf0001, "src0").collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == scored.length.toLong)
    // total tail mass across sources equals the tertile table's c_tail
    assert(rows.map(_.getAs[Long]("n_tail")).sum ==
      scored.count(_.getAs[String]("ppx_bucket") == "c_tail").toLong)
    rows.foreach { r =>
      assert(r.getAs[Long]("tail_share_bp") ==
        r.getAs[Long]("n_tail") * 10000 / r.getAs[Long]("n_docs"))
    }
  }

  test("repetition profile (q157): planted spam lands in the high band; shares match a driver recompute") {
    val dir = tempDir("graft_rep157").toString
    val spam = Seq.fill(10)("buy cheap pills now").mkString(" ")
    val clean = "every word in this sentence appears exactly once keeping all trigram shares minimal"
    val docs = Seq(
      (1L, spam, "spamfarm"), // one 4-token phrase ×10 → mostly duplicate trigrams
      (2L, clean, "curated"),
      (3L, clean + " " + clean.split(" ").take(5).mkString(" "), "curated"),
      (4L, "too short", "curated")) // <3 tokens: excluded by construction
    docs.toDF("doc_id", "text", "source")
      .select(col("doc_id"), col("text"), lit("en").as("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.repetitionProfile(spark, dir).collect()
    // driver-side recomputation of the full per-doc → band pipeline
    def stats(t: String, n: Int): (Long, Long, Long) = {
      val grams = t.toLowerCase.split(" ", -1).toSeq.sliding(n)
        .filter(_.length == n).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).view.mapValues(_.size.toLong).toMap
      (grams.size.toLong, counts.size.toLong,
        if (counts.isEmpty) 0L else counts.values.max)
    }
    case class Doc(source: String, top2: Long, dup3: Long, band: String)
    val perDoc = docs.filter(d => stats(d._2, 3)._1 > 0).map { d =>
      val (n2, _, t2) = stats(d._2, 2)
      val (n3, nd3, _) = stats(d._2, 3)
      val top2 = t2 * 10000 / n2
      val dup3 = (n3 - nd3) * 10000 / n3
      val band = if (dup3 == 0) "none" else if (dup3 < 1000) "low"
        else if (dup3 < 2500) "mid" else "high"
      Doc(d._3, top2, dup3, band)
    }
    val expected = perDoc.groupBy(d => (d.source, d.band)).map { case (k, ds) =>
      k -> (ds.size.toLong, ds.map(_.top2).sum / ds.size, ds.map(_.dup3).sum / ds.size)
    }
    val got = rows.map(r => (r.getAs[String]("source"), r.getAs[String]("rep_band")) ->
      (r.getAs[Long]("n_docs"), r.getAs[Long]("avg_top2_bp"), r.getAs[Long]("avg_dup3_bp"))).toMap
    assert(got == expected, s"got $got, expected $expected")
    // the planted signal: the spam farm is in the high band, and the
    // short doc contributed nowhere
    assert(got.contains(("spamfarm", "high")))
    assert(got.keys.filter(_._1 == "curated").forall(k => k._2 != "high"))
  }

  test("blocklist density (q160): hand-counted hits; inert terms contribute nothing; clean source at zero") {
    val dir = tempDir("graft_block").toString
    Seq(
      // 2 hits ('slow' ×1, 'dup' ×1) in 6 tokens; flagged
      (1L, "the slow join caused dup rows", "dirty"),
      // 1 hit in 5 tokens; flagged
      (2L, "another slow scan finished eventually", "dirty"),
      // no blocklist terms at all
      (3L, "clean fast query with perfect results", "clean"),
      // 'leak' is on the blocklist but absent from this corpus's text;
      // 'leaky' must NOT match (token membership, not substring)
      (4L, "leaky abstraction nearly mentioned here", "clean"))
      .toDF("doc_id", "text", "source")
      .select(col("doc_id"), col("text"), lit("en").as("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.blocklistDensity(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(rows.keySet == Set("clean", "dirty"))
    val dirty = rows("dirty")
    assert(dirty.getAs[Long]("n_docs") == 2L)
    assert(dirty.getAs[Long]("n_tokens") == 11L)
    assert(dirty.getAs[Long]("n_hits") == 3L)
    assert(dirty.getAs[Long]("hits_per_10k") == 3L * 10000 / 11)
    assert(dirty.getAs[Long]("n_flagged") == 2L)
    assert(dirty.getAs[Long]("flagged_bp") == 10000L)
    val clean = rows("clean")
    assert(clean.getAs[Long]("n_hits") == 0L)
    assert(clean.getAs[Long]("n_flagged") == 0L)
    assert(clean.getAs[Long]("flagged_bp") == 0L)
  }

  test("sketch overlap (q158): full output matches a driver reimplementation of the KMV merge algebra") {
    val k = 64
    def h1(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    // per-source distinct bigram hash sets, straight from the raw table
    val docs = Tables.documents(spark, sf0001)
      .select(col("source"), col("text")).collect()
    val sets = docs.groupBy(_.getString(0)).map { case (src, rows) =>
      src -> rows.flatMap { r =>
        val t = r.getString(1).toLowerCase.split(" ", -1)
        t.sliding(2).filter(_.length == 2).map(_.mkString(" "))
      }.map(h1).toSet
    }
    def est(set: Set[Long]): Long =
      if (set.size < k) set.size.toLong
      else {
        val kth = set.toSeq.sorted.apply(k - 1)
        (BigInt(k - 1) * BigInt(1L << 60) / BigInt(kth max 1L)).toLong
      }
    def sketch(set: Set[Long]): Seq[Long] = set.toSeq.sorted.take(k)
    val rows = TextAnalysis.sketchOverlap(spark, sf0001).collect()
    assert(rows.length == sets.size * (sets.size - 1) / 2)
    rows.foreach { r =>
      val (sa, sb) = (r.getAs[String]("source_a"), r.getAs[String]("source_b"))
      val (a, b) = (sets(sa), sets(sb))
      val exactInter = (a intersect b).size.toLong
      val exactUnion = a.size.toLong + b.size.toLong - exactInter
      // the merge theorem: est of the union from the two SKETCHES only
      val merged = (sketch(a) ++ sketch(b)).distinct.sorted
      val estUnion =
        if (a.size < k && b.size < k) merged.size.toLong
        else (BigInt(k - 1) * BigInt(1L << 60) /
          BigInt(merged(math.min(k, merged.size) - 1) max 1L)).toLong
      val estInter = est(a) + est(b) - estUnion
      assert(r.getAs[Long]("exact_union") == exactUnion, s"($sa,$sb) union")
      assert(r.getAs[Long]("exact_inter") == exactInter, s"($sa,$sb) inter")
      assert(r.getAs[Long]("est_union") == estUnion, s"($sa,$sb) est_union")
      assert(r.getAs[Long]("est_inter") == estInter, s"($sa,$sb) est_inter")
      assert(r.getAs[Long]("exact_j_bp") == exactInter * 10000 / exactUnion)
      assert(r.getAs[Long]("est_j_bp") == (estInter max 0L) * 10000 / estUnion)
      assert(r.getAs[Long]("j_err_bp") ==
        math.abs(r.getAs[Long]("est_j_bp") - r.getAs[Long]("exact_j_bp")))
    }
  }

  test("sketch overlap (q158): sub-k universes degenerate to exact; disjoint sources clamp at zero") {
    val dir = tempDir("graft_skov").toString
    Seq(
      (1L, "alpha beta gamma delta", "tiny_a"),
      (2L, "alpha beta gamma epsilon", "tiny_b"),
      (3L, "zeta eta theta iota kappa", "tiny_c"))
      .toDF("doc_id", "text", "source")
      .select(col("doc_id"), col("text"), lit("en").as("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.sketchOverlap(spark, dir).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) -> r)
      .toMap
    assert(rows.size == 3)
    // every universe here is far below k=64: estimates are EXACT
    rows.values.foreach { r =>
      assert(r.getAs[Long]("est_union") == r.getAs[Long]("exact_union"))
      assert(r.getAs[Long]("est_inter") == r.getAs[Long]("exact_inter"))
      assert(r.getAs[Long]("j_err_bp") == 0L)
    }
    // tiny_a and tiny_b share the 'alpha beta'/'beta gamma' bigrams;
    // tiny_c is disjoint from both
    assert(rows(("tiny_a", "tiny_b")).getAs[Long]("exact_inter") == 2L)
    assert(rows(("tiny_a", "tiny_c")).getAs[Long]("exact_inter") == 0L)
    assert(rows(("tiny_a", "tiny_c")).getAs[Long]("est_j_bp") == 0L)
  }

  test("rank agreement (q166): tau and census recomputed exactly from the shared fused pool") {
    val fused = TextAnalysis.rrfFusedTable(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bm25_rank"),
        r.getAs[Long]("tf_rank")))
    val both = fused.filter(f => f._2 > 0 && f._3 > 0)
    val pairs = for {
      i <- both.indices; j <- both.indices
      if both(i)._1 < both(j)._1
    } yield (both(i)._2 < both(j)._2) == (both(i)._3 < both(j)._3)
    val r = TextAnalysis.rankAgreement(spark, sf0001).collect().head
    assert(r.getAs[Long]("n_both") == both.length.toLong)
    assert(r.getAs[Long]("n_bm25_only") ==
      fused.count(f => f._2 > 0 && f._3 == 0).toLong)
    assert(r.getAs[Long]("n_tf_only") ==
      fused.count(f => f._3 > 0 && f._2 == 0).toLong)
    assert(r.getAs[Long]("n_pairs") == pairs.length.toLong)
    assert(r.getAs[Long]("concordant") == pairs.count(identity).toLong)
    assert(r.getAs[Long]("discordant") == pairs.count(!_).toLong)
    val p = pairs.length.toLong
    val expectedTau =
      if (p == 0) 0L else (2 * pairs.count(identity).toLong - p) * 10000 / p
    assert(r.getAs[Long]("tau_bp") == expectedTau)
    assert(r.getAs[Long]("tau_bp") >= -10000L && r.getAs[Long]("tau_bp") <= 10000L)
    // the audit only makes sense if the legs rank overlapping docs here
    assert(r.getAs[Long]("n_both") > 1L, "fixture pools do not overlap")
  }

  test("length drift (q167): KS gaps match a driver recomputation; a planted short-doc source peaks") {
    // exact driver recomputation of the integer KS over the live corpus
    val lens = Tables.documents(spark, sf0001)
      .select(col("source"), size(graft.functions.TextHash.tokens(col("text")))
        .cast("long").as("len"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val grid = lens.map(_._2).distinct.sorted
    val nTotal = lens.length.toLong
    def ks(src: String): (Long, Long) = {
      val mine = lens.filter(_._1 == src).map(_._2)
      val nS = mine.length.toLong
      val gaps = grid.map { g =>
        val cumS = mine.count(_ <= g).toLong
        val cumC = lens.count(_._2 <= g).toLong
        (math.abs(cumS * 10000 / nS - cumC * 10000 / nTotal), g)
      }
      gaps.maxBy(x => (x._1, -x._2))
    }
    val rows = TextAnalysis.lengthDrift(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (d, at) = ks(r.getAs[String]("source"))
      assert(r.getAs[Long]("ks_bp") == d, s"${r.getAs[String]("source")} ks")
      assert(r.getAs[Long]("ks_len") == at, s"${r.getAs[String]("source")} len")
    }
    // planted drift: a snippet farm of 5-token docs against 50-token
    // bodies must carry a near-maximal KS at the short length
    val dir = tempDir("graft_ks").toString
    val short = (1L to 4L).map(i => (i, Seq.fill(5)(s"s$i").mkString(" "), "snippets"))
    val long = (10L to 21L).map(i => (i, (0 until 50).map(j => s"w${i}x$j").mkString(" "), "bodies"))
    (short ++ long).toDF("doc_id", "text", "source")
      .select(col("doc_id"), col("text"), lit("en").as("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fix = TextAnalysis.lengthDrift(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // snippets: CDF_s(5) = 10000 vs corpus 4/16 = 2500 → D = 7500 at len 5
    assert(fix("snippets").getAs[Long]("ks_bp") == 7500L)
    assert(fix("snippets").getAs[Long]("ks_len") == 5L)
    // bodies mirror the complement: same D from the other side
    assert(fix("bodies").getAs[Long]("ks_bp") == 2500L)
  }

  test("token gini (q168): rank-sum identity matches a driver pairwise recomputation; bounds hold") {
    def giniBp(xs: Seq[Long]): Long = {
      // reference form: mean absolute pairwise difference / (2·mean)
      val n = xs.length.toLong
      val t = xs.sum
      val s = xs.sorted.zipWithIndex
        .map { case (x, i) => BigInt(i + 1) * x }.sum
      ((2 * s - BigInt(n + 1) * t) * 10000 / (BigInt(n) * t)).toLong
    }
    val lens = Tables.documents(spark, sf0001)
      .select(col("lang"), size(graft.functions.TextHash.tokens(col("text")))
        .cast("long").as("len"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val rows = TextAnalysis.tokenGini(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val mine = lens.filter(_._1 == r.getAs[String]("lang")).map(_._2)
      assert(r.getAs[Long]("n_docs") == mine.length.toLong)
      assert(r.getAs[Long]("total_tokens") == mine.sum)
      assert(r.getAs[Long]("gini_bp") == giniBp(mine.toSeq),
        s"${r.getAs[String]("lang")} gini")
      assert(r.getAs[Long]("gini_bp") >= 0L && r.getAs[Long]("gini_bp") < 10000L)
    }
    // analytic anchors: equal masses → 0; one giant among dust → near max
    val dir = tempDir("graft_gini").toString
    val eq = (1L to 5L).map(i => (i, "a b c d", "en"))
    val skew = (10L to 18L).map(i => (i, "x", "xx")) :+
      (19L, Seq.fill(991)("y").mkString(" "), "xx")
    (eq ++ skew).toDF("doc_id", "text", "lang")
      .select(col("doc_id"), col("text"), col("lang"), lit("s").as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fix = TextAnalysis.tokenGini(spark, dir).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("gini_bp")).toMap
    assert(fix("en") == 0L)
    // 9 docs of 1 token + 1 of 991: G = (2·S − 11·1000)/(10·1000) with
    // S = 45 + 10·991 = 9955 → 8910 bp
    assert(fix("xx") == 8910L)
  }

  test("mattr (q170): window fixes TTR's length bias; short docs excluded; values exact") {
    val dir = tempDir("graft_mattr").toString
    // base: 30 distinct tokens; doubled: the same text twice — identical
    // local diversity, half the plain TTR
    val base = (0 until 30).map(i => s"v$i").mkString(" ")
    Seq(
      (1L, base, "once"),
      (2L, base + " " + base, "twice"),
      (3L, "too short for any window", "once"))
      .toDF("doc_id", "text", "source")
      .select(col("doc_id"), col("text"), lit("en").as("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.mattrDiversity(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // the short doc is excluded: 'once' counts a single doc
    assert(rows("once").getAs[Long]("n_docs") == 1L)
    // plain TTR: 10000 for base, 5000 for the doubled doc — length bias
    assert(rows("once").getAs[Long]("avg_ttr_bp") == 10000L)
    assert(rows("twice").getAs[Long]("avg_ttr_bp") == 5000L)
    // MATTR at w=25: base windows all-distinct (10000); the doubled doc
    // only loses diversity in the windows straddling the seam — driver
    // recompute, and far above its plain TTR
    def mattr(text: String, w: Int = TextAnalysis.MattrW): Long = {
      val toks = text.split(" ", -1).toSeq
      val wins = toks.sliding(w).filter(_.length == w).toSeq
      wins.map(_.distinct.length.toLong).sum * 10000 / (wins.length.toLong * w)
    }
    assert(rows("once").getAs[Long]("avg_mattr_bp") == 10000L)
    assert(rows("twice").getAs[Long]("avg_mattr_bp") == mattr(base + " " + base))
    assert(rows("twice").getAs[Long]("avg_mattr_bp") > 8000L,
      "MATTR failed to discount the length bias")
  }

  test("vocab diff (q171): churn classes partition the vocabulary; planted mint and retire are exact") {
    val dir = tempDir("graft_vdiff").toString
    // old (even ids): shared + retiring terms; new (odd ids): shared +
    // minted terms — hand-computable churn
    Seq(
      (2L, "stable words here plus legacy jargon", "en"),
      (4L, "stable words here again", "en"),
      (1L, "stable words here plus fresh coinage", "en"),
      (3L, "stable words here once more", "en"))
      .toDF("doc_id", "text", "lang")
      .select(col("doc_id"), col("text"), col("lang"), lit("s").as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.vocabDiff(spark, dir).collect().head
    // old vocab: stable words here plus legacy jargon again (7 types)
    // new vocab: stable words here plus fresh coinage once more (8)
    // both: stable, words, here, plus, = 4; minted: fresh coinage once
    // more = 4; retired: legacy jargon again = 3
    assert(r.getAs[Long]("n_both") == 4L)
    assert(r.getAs[Long]("n_minted") == 4L)
    assert(r.getAs[Long]("n_retired") == 3L)
    // new side mass: 6 + 5 = 11 tokens, minted occurrences = 4
    assert(r.getAs[Long]("minted_share_bp") == 4L * 10000 / 11)
    // old side mass: 6 + 4 = 10 tokens, retired occurrences = 3
    assert(r.getAs[Long]("retired_share_bp") == 3L * 10000 / 10)
    // live-corpus sanity: classes partition each side's vocabulary
    val live = TextAnalysis.vocabDiff(spark, sf0001).collect()
    assert(live.nonEmpty)
    live.foreach { row =>
      assert(row.getAs[Long]("n_both") >= 0L)
      assert(row.getAs[Long]("minted_share_bp") <= 10000L)
      assert(row.getAs[Long]("retired_share_bp") <= 10000L)
    }
  }

  test("vocab entropy (q163): milli-bit H matches a driver recomputation; skew collapses it; 1-type floor") {
    val dir = tempDir("graft_entropy").toString
    Seq(
      // flat: 6 types, each once → H = log2(6) exactly
      (1L, "alpha beta gamma delta epsilon zeta", "en", "flat"),
      // skewed: same 6 types, 15 of 20 tokens on one → H well below
      (2L, "spam spam spam spam spam spam spam spam spam spam spam spam " +
        "spam spam spam beta gamma delta epsilon zeta", "en", "skewed"),
      // degenerate: one type → H = 0, norm undefined → 0
      (3L, "mono mono mono mono", "en", "mono"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.vocabEntropy(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // driver recomputation over the same integer log algebra
    def entropy(counts: Seq[Long]): Long = {
      val t = counts.sum
      counts.map(c => BigInt(c) * (log2m(t) - log2m(c))).sum.toLong / t
    }
    val flat = rows("flat")
    assert(flat.getAs[Long]("n_types") == 6L)
    assert(flat.getAs[Long]("entropy_mb") == entropy(Seq.fill(6)(1L)))
    // uniform over 6 types: H = log2(6) to LUT precision, norm ≈ 10000
    assert(flat.getAs[Long]("entropy_mb") == log2m(6L))
    assert(flat.getAs[Long]("norm_bp") == 10000L)
    val skewed = rows("skewed")
    assert(skewed.getAs[Long]("n_types") == 6L)
    assert(skewed.getAs[Long]("entropy_mb") ==
      entropy(Seq(15L, 1L, 1L, 1L, 1L, 1L)))
    assert(skewed.getAs[Long]("entropy_mb") < flat.getAs[Long]("entropy_mb"))
    assert(skewed.getAs[Long]("norm_bp") < 10000L)
    val mono = rows("mono")
    assert(mono.getAs[Long]("entropy_mb") == 0L)
    assert(mono.getAs[Long]("norm_bp") == 0L)
  }

  test("domain KL (q151): milli-bit divergences match a driver recomputation; disjoint domains diverge most") {
    val dir = tempDir("graft_kl").toString
    // A and B share a vocabulary at slightly different rates; C is a
    // disjoint domain — KL(A||C) must dwarf KL(A||B)
    Seq(
      (1L, "alpha beta gamma alpha beta alpha", "en", "srcA"),
      (2L, "alpha beta gamma gamma beta beta", "en", "srcB"),
      (3L, "delta epsilon zeta delta epsilon zeta", "en", "srcC"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.domainShiftKl(spark, dir).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        (r.getAs[Long]("n_terms"), r.getAs[Long]("kl_mb"))).toMap
    assert(rows.size == 6)
    // driver-side recomputation over the same integer log algebra
    val docs = Map(
      "srcA" -> "alpha beta gamma alpha beta alpha",
      "srcB" -> "alpha beta gamma gamma beta beta",
      "srcC" -> "delta epsilon zeta delta epsilon zeta")
    val hist = docs.map { case (s, t) =>
      s -> t.split(" ").groupBy(identity).view.mapValues(_.length.toLong).toMap
    }
    val totals = hist.view.mapValues(_.values.sum).toMap
    val v = hist.values.flatMap(_.keys).toSet.size.toLong
    for (a <- docs.keys; b <- docs.keys if a != b) {
      val (ta, tb) = (totals(a), totals(b))
      val sum = hist(a).map { case (tok, ca) =>
        BigInt(ca) * (log2m(ca) + log2m(tb + v) -
          log2m(hist(b).getOrElse(tok, 0L) + 1) - log2m(ta))
      }.sum
      val want = (sum / ta).toLong
      assert(rows((a, b)) == ((hist(a).size.toLong, want)), s"$a||$b")
    }
    // divergence ordering: the disjoint domain is much farther away
    assert(rows(("srcA", "srcC"))._2 > rows(("srcA", "srcB"))._2 * 2,
      s"${rows(("srcA", "srcC"))._2} vs ${rows(("srcA", "srcB"))._2}")
    assert(rows(("srcA", "srcC"))._2 > 0L)
  }

  test("zipf audit (q148): head, milli-bit freqs and local slopes match a driver recomputation") {
    val rows = TextAnalysis.zipfAudit(spark, sf0001).collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(rows.length == 15, "k=16 head pairs into 15 slope rows")
    val counts = Tables.documents(spark, sf0001)
      .select(col("text")).collect()
      .flatMap(_.getString(0).toLowerCase.split(" ", -1))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val head = counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(16)
    rows.foreach { r =>
      val i = r.getAs[Long]("rank").toInt - 1
      assert(r.getAs[String]("term") == head(i)._1, s"rank ${i + 1}")
      assert(r.getAs[Long]("cnt") == head(i)._2)
      assert(r.getAs[Long]("log2f_milli") == log2m(head(i)._2))
      val slope = (log2m(head(i)._2) - log2m(head(i + 1)._2)) * 1000 /
        (log2m(i + 2L) - log2m(i + 1L))
      assert(r.getAs[Long]("slope_milli") == slope, s"rank ${i + 1} slope")
      assert(slope >= 0L, "frequencies are non-increasing down the head")
    }
  }

  test("vocab overlap (q149): shared counts symmetric, shares exact vs driver recomputation") {
    val rows = TextAnalysis.vocabOverlap(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val vocab = Tables.documents(spark, sf0001)
      .select(col("lang"), col("text")).collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.flatMap(_.getString(1).toLowerCase.split(" ", -1)).toSet)
      .toMap
    val byPair = rows.map(r => (r.getAs[String]("lang_a"),
      r.getAs[String]("lang_b")) -> r).toMap
    assert(byPair.size == vocab.size * (vocab.size - 1),
      "every ordered pair present")
    byPair.foreach { case ((a, b), r) =>
      val shared = (vocab(a) intersect vocab(b)).size.toLong
      assert(r.getAs[Long]("n_shared") == shared, s"$a->$b")
      assert(r.getAs[Long]("v_a") == vocab(a).size.toLong)
      assert(r.getAs[Long]("share_bp") == shared * 10000 / vocab(a).size)
      // the raw intersection is symmetric; the share need not be
      assert(byPair((b, a)).getAs[Long]("n_shared") == shared)
    }
  }

  test("rule filter audit (q142): each published rule fires on its fixture doc and only it") {
    val dir = tempDir("graft_rules").toString
    // each fixture doc trips exactly ONE rule (the others carry >= 2
    // stopwords, 5+ tokens, mean word length in [3,10], terminal
    // punctuation, no braces) so every counter is pinned independently
    Seq(
      (1L, "the quality of the corpus is good and the tokens flow nicely.", "en", "src0"), // clean
      (2L, "the end is near.", "en", "src0"),                        // f_short (4 toks)
      (3L, "is a of to it be at on we do go the.", "en", "src0"),    // f_word_short (mean < 3)
      (4L, "the extraordinarily incomprehensible multidimensional parallelization architectures of the materialized informational infrastructures.", "en", "src0"), // f_word_long
      (5L, "the quality of the corpus is good and the tokens flow nicely", "en", "src0"), // f_punct
      (6L, "the config block { x } is of the standard shape and it parses.", "en", "src0"), // f_boiler
      (7L, "every corpus needs careful curation under strict quality rules today.", "en", "src0")) // f_stopword (0 hits)
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.ruleFilterAudit(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_docs") == 7L)
    assert(row.getAs[Long]("n_short") == 1L, "doc 2")
    assert(row.getAs[Long]("n_long") == 0L)
    assert(row.getAs[Long]("n_word_short") == 1L, "doc 3")
    assert(row.getAs[Long]("n_word_long") == 1L, "doc 4")
    assert(row.getAs[Long]("n_no_terminal") == 1L, "doc 5")
    assert(row.getAs[Long]("n_boiler") == 1L, "doc 6")
    assert(row.getAs[Long]("n_low_stopword") == 1L, "doc 7")
    assert(row.getAs[Long]("n_clean") == 1L, "only the clean doc survives")
    assert(row.getAs[Long]("clean_share_bp") == 10000L / 7L)
    // and on the real corpus the audit partitions: clean + any-flag = docs
    TextAnalysis.ruleFilterAudit(spark, sf0001).collect().foreach { x =>
      assert(x.getAs[Long]("n_clean") <= x.getAs[Long]("n_docs"))
      assert(x.getAs[Long]("clean_share_bp") ==
        x.getAs[Long]("n_clean") * 10000 / x.getAs[Long]("n_docs"))
    }
  }

  test("perplexity filter (q140): milli-bit LM costs match a driver-side reimplementation") {
    // reference slice: LM(en) = {a: 2, b: 1}, T=3, V=2 -> T+V = 5
    val dir = tempDir("graft_ppx").toString
    Seq((1L, "a a b", "en", "src0"),
        (2L, "a a a a", "en", "srcX"), // most reference-like
        (3L, "a b", "en", "srcX"),
        (4L, "z z z", "en", "srcX"))   // fully out-of-model
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def cost(cnt: Long): Long = log2m(5) - log2m(cnt + 1)
    val ppx = Map( // integer mean token cost per doc
      2L -> (4 * cost(2)) / 4,           // four 'a'
      3L -> (cost(2) + cost(1)) / 2,     // 'a' + 'b'
      4L -> (3 * cost(0)) / 3)           // three unseen 'z'
    // three pool docs in one lang: one per tertile, ranked by (ppx, id)
    val rows = TextAnalysis.perplexityFilter(spark, dir).collect()
    assert(rows.length == 3)
    val byBucket = rows.map(r => r.getAs[String]("ppx_bucket") ->
      (r.getAs[Long]("n_docs"), r.getAs[Long]("avg_ppx_mb"),
        r.getAs[Long]("max_ppx_mb"), r.getAs[Long]("sum_tokens"))).toMap
    assert(byBucket("a_head") == ((1L, ppx(2L), ppx(2L), 4L)))
    assert(byBucket("b_middle") == ((1L, ppx(3L), ppx(3L), 2L)))
    assert(byBucket("c_tail") == ((1L, ppx(4L), ppx(4L), 3L)))
    // the ordering is the CCNet story: familiar < mixed < out-of-model
    assert(ppx(2L) < ppx(3L) && ppx(3L) < ppx(4L))
  }

  test("perplexity tertiles (q140/q141): partition the pool, sizes within 1, ppx monotone") {
    val pool = Tables.documents(spark, sf0001)
      .filter(col("source") =!= "src0")
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val f = TextAnalysis.perplexityFilter(spark, sf0001).collect()
    f.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val sizes = rs.map(_.getAs[Long]("n_docs"))
      assert(sizes.sum == pool(lang), s"$lang tertiles must partition the pool")
      assert(sizes.max - sizes.min <= 1, s"$lang tertile sizes $sizes")
      // mean perplexity is monotone across head -> middle -> tail
      val byB = rs.sortBy(_.getAs[String]("ppx_bucket"))
        .map(_.getAs[Long]("avg_ppx_mb"))
      assert(byB.zip(byB.tail).forall { case (a, b) => a <= b })
    }
    val c = TextAnalysis.perplexityCalibration(spark, sf0001).collect()
    c.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      assert(rs.map(_.getAs[Long]("n_docs")).sum == pool(lang))
      // exactly ceil(n/2) pool docs sit in the upper quality half
      // (2·rn > n keeps the median element — the q65 rule)
      assert(rs.map(_.getAs[Long]("n_upper_half")).sum == (pool(lang) + 1) / 2,
        s"$lang upper-half mass")
      rs.foreach { r =>
        val share = r.getAs[Long]("n_upper_half") * 10000 / r.getAs[Long]("n_docs")
        assert(r.getAs[Long]("upper_share_bp") == share)
      }
    }
  }

  test("KMV sketch (q153): union row IS the merge of per-source sketches; n<k degenerates to exact") {
    val k = 64
    val out = TextAnalysis.kmvSketch(spark, sf0001, k).collect()
    val union = out.find(_.getAs[String]("scope") == "union").get
    // rebuild the distinct (source, hash) phrase table the query sketches
    val hs = Tables.documents(spark, sf0001)
      .select(col("source"),
        explode(graft.functions.HashExpressions.taggedGrams(col("text")))
          .as("g"))
      .filter(col("g").startsWith("b:"))
      .select(col("source"),
        TextHash.h1(col("g").substr(lit(3), length(col("g")))).as("h"))
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
    val perSrc = hs.groupBy(_._1).view
      .mapValues(_.map(_._2).toSeq.distinct.sorted.take(k)).toMap
    // the KMV merge theorem: the k smallest of the UNION OF SKETCHES are
    // exactly the k smallest of the full union — no rescan needed
    val merged = perSrc.values.flatten.toSeq.distinct.sorted.take(k)
    val direct = hs.map(_._2).toSeq.distinct.sorted.take(k)
    assert(merged == direct, "sketch merge must equal a full-data pass")
    assert(union.getAs[Long]("kth_h") == merged.last)
    assert(union.getAs[Long]("est_distinct") ==
      (BigInt(k - 1) * (BigInt(1) << 60) / BigInt(merged.last)).toLong)
    // per-source rows carry each source's own sketch fill and k-th minimum
    out.filter(_.getAs[String]("scope") != "union").foreach { r =>
      val sk = perSrc(r.getAs[String]("scope"))
      assert(r.getAs[Long]("n_sketch") == sk.size.toLong)
      assert(r.getAs[Long]("kth_h") == sk.last)
    }
    // a scope holding its whole universe (k > n) estimates EXACTLY
    val big = TextAnalysis.kmvSketch(spark, sf0001, k = 4096).collect()
    assert(big.nonEmpty)
    big.foreach { r =>
      assert(r.getAs[Long]("n_sketch") == r.getAs[Long]("n_exact"))
      assert(r.getAs[Long]("est_distinct") == r.getAs[Long]("n_exact"))
      assert(r.getAs[Long]("err_bp") == 0L)
    }
  }

  test("HLL sketch (q242): registers match an independent walk; union merge equals a full-data pass") {
    // independent reference: java trailing-zero count, not the engines'
    // bin() bit-length trick
    def rho(w: Long): Long =
      if (w == 0L) 55L else java.lang.Long.numberOfTrailingZeros(w) + 1L
    val hs = Tables.documents(spark, sf0001)
      .select(col("source"),
        explode(graft.functions.HashExpressions.taggedGrams(col("text")))
          .as("g"))
      .filter(col("g").startsWith("b:"))
      .select(col("source"),
        TextHash.h1(col("g").substr(lit(3), length(col("g")))).as("h"))
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
    val refRegs = hs.groupBy(p => (p._1, p._2 % 64)).view
      .mapValues(_.map(p => rho(p._2 / 64)).max).toMap
    val got = TextAnalysis.hllRegisters(spark, sf0001).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("j")) ->
        r.getAs[Long]("m")).toMap
    assert(got == refRegs, "register table must match the reference walk")
    // the HLL union law: register-wise max of per-source tables IS the
    // sketch of the pooled data — no rescan
    val merged = refRegs.groupBy(_._1._2).view
      .mapValues(_.values.max).toMap
    val direct = hs.map(_._2).distinct.groupBy(_ % 64).view
      .mapValues(_.map(h => rho(h / 64)).max).toMap
    assert(merged == direct, "sketch merge must equal a full-data pass")
    // the union row's estimate replays from the merged registers alone
    val out = TextAnalysis.hllSketch(spark, sf0001).collect()
    val union = out.find(_.getAs[String]("scope") == "union").get
    val sFp = (0 until 64)
      .map(j => BigInt(1) << (55 - merged.getOrElse(j.toLong, 0L).toInt)).sum
    val vZero = 64L - merged.size
    val raw = (BigInt(709341L) * 4096 * (BigInt(1) << 55) / sFp / 1000000).toLong
    assert(union.getAs[Long]("v_zero") == vZero)
    if (!(vZero > 0 && raw <= 160))
      assert(union.getAs[Long]("est_distinct") == raw)
    // m = 64 gives sigma ~ 1.04/8 = 13%; 4 sigma is the sanity band
    out.foreach { r =>
      assert(r.getAs[Long]("err_bp") < 5200L,
        s"${r.getAs[String]("scope")} err ${r.getAs[Long]("err_bp")}bp")
    }
  }

  test("HLL sketch (q242): tiny scopes take the linear-counting branch") {
    val dir = tempDir("graft_hll").toString
    Seq((1L, "x y z", "en", "a", 5L), (2L, "p q", "en", "b", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.hllSketch(spark, dir).collect()
      .map(r => r.getAs[String]("scope") ->
        (r.getAs[Long]("n_exact"), r.getAs[Long]("v_zero"),
          r.getAs[Long]("est_distinct"))).toMap
    assert(out.keySet == Set("a", "b", "union"))
    assert(out("a")._1 == 2L && out("b")._1 == 1L && out("union")._1 == 3L)
    out.foreach { case (scope, (_, vZero, est)) =>
      assert(vZero > 60L, s"$scope must leave most registers empty")
      // linear counting m*ln(m/V): the integer milli-bit device must sit
      // within 1 of the float value
      val expect = 64.0 * math.log(64.0 / vZero.toDouble)
      assert(math.abs(est - expect) <= 1.0,
        s"$scope linear estimate $est vs ${expect}")
    }
  }

  test("MG summary (q244): hand-walked merge at k=2; undercount never exceeds n/(k+1)") {
    val dir = tempDir("graft_mg").toString
    // source A counts: a5 b3 c2 d1 -> t_A = 2 (3rd largest), summary a3 b1
    // source B counts: a4 e4 c3   -> t_B = 3, summary a1 e1
    // merged pre: a4 b1 e1 -> t_m = 1 (3rd of a4, b1, e1), summary a3
    Seq(
      (1L, "a a a a a b b b c c d", "en", "A", 21L),
      (2L, "a a a a e e e e c c c", "en", "B", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.mgMergeability(spark, dir, k = 2).collect()
    assert(out.length == 1, s"got ${out.toSeq}")
    val r = out.head
    // exact a = 9, n_tot = 22, bound = 22 div 3 = 7
    assert(r.getAs[Long]("rank") == 1L)
    assert(r.getAs[String]("term") == "a")
    assert(r.getAs[Long]("est_count") == 3L)
    assert(r.getAs[Long]("exact_count") == 9L)
    assert(r.getAs[Long]("undercount") == 6L)
    assert(r.getAs[Long]("undercount_bp") == 6666L)
    assert(r.getAs[Long]("bound") == 7L)
    assert(r.getAs[Boolean]("within_bound"))
  }

  test("MG summary (q244): guarantees hold at corpus scale — undercount-only, bound kept, heavy hitters survive") {
    val out = TextAnalysis.mgMergeability(spark, sf0001).collect()
    assert(out.nonEmpty && out.length <= TextAnalysis.MgK)
    out.foreach { r =>
      assert(r.getAs[Long]("est_count") <= r.getAs[Long]("exact_count"),
        s"${r.getAs[String]("term")}: MG must never overcount")
      assert(r.getAs[Boolean]("within_bound"),
        s"${r.getAs[String]("term")}: undercount exceeds n/(k+1)")
    }
    // the heavy-hitter guarantee: every term whose true count beats
    // n/(k+1) must survive the merged summary
    val counts = Tables.documents(spark, sf0001)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val n = counts.map(_._2).sum
    val mustSurvive = counts.filter(_._2 > n / (TextAnalysis.MgK + 1))
      .map(_._1).toSet
    val surviving = out.map(_.getAs[String]("term")).toSet
    assert(mustSurvive.subsetOf(surviving),
      s"dropped heavy hitters: ${mustSurvive -- surviving}")
  }

  test("RAKE keyphrases (q249): hand-walked degree/frequency scores, stopword segmentation, tie order") {
    val dir = tempDir("graft_rake").toString
    // doc1 segments: "fast hash join" | "hash join order"
    // doc2 segments: "hash join" | "data table"
    // word scores (deg*1000 div freq): fast 3000, order 3000,
    // hash = join = 8000 div 3 = 2666, data = table = 2000
    Seq(
      (1L, "the fast hash join and hash join order", "en", "s", 38L),
      (2L, "hash join of the data table", "en", "s", 27L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.rakeKeyphrases(spark, dir).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("phrase"),
        r.getAs[Long]("n_words"), r.getAs[Long]("n_occurrences"),
        r.getAs[Long]("score_milli"))).toSeq.sortBy(_._1)
    assert(out == Seq(
      (1L, "fast hash join", 3L, 1L, 8332L),
      (2L, "hash join order", 3L, 1L, 8332L),
      (3L, "hash join", 2L, 1L, 5332L),
      (4L, "data table", 2L, 1L, 4000L)), s"got $out")
  }

  test("source-lang MI (q154): lift is the exact independence ratio; PMI tracks log2(lift); MI >= 0") {
    val rows = TextAnalysis.sourceLangMi(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val n = rows.map(_.getAs[Long]("n_docs")).sum
    val bySrc = rows.groupBy(_.getAs[String]("source")).view
      .mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    val byLang = rows.groupBy(_.getAs[String]("lang")).view
      .mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    rows.foreach { r =>
      val s = r.getAs[String]("source"); val l = r.getAs[String]("lang")
      val c = r.getAs[Long]("n_docs")
      assert(r.getAs[Long]("lift_bp") ==
        (BigInt(c) * n * 10000 / (BigInt(bySrc(s)) * byLang(l))).toLong)
      // the integer PMI stays within LUT truncation of the float log2 of
      // the same ratio: each log2m term floors to a 1/16 mantissa cell
      // (≤ ~87 mb), and pmi sums 4 signed terms
      val pmiF = 1000.0 *
        math.log(c.toDouble * n / (bySrc(s).toDouble * byLang(l))) /
        math.log(2)
      assert(math.abs(r.getAs[Long]("pmi_mb") - pmiF) <= 180.0, s"$s/$l pmi")
      assert(r.getAs[Long]("mi_term_mb") == c * r.getAs[Long]("pmi_mb"))
    }
    // corpus MI = Σ summands div N — tracks the float MI within the
    // same truncation envelope (and so can't go meaningfully negative)
    val miF = rows.map { r =>
      val p = r.getAs[Long]("n_docs").toDouble / n
      p * 1000.0 * math.log(r.getAs[Long]("n_docs").toDouble * n /
        (bySrc(r.getAs[String]("source")).toDouble *
          byLang(r.getAs[String]("lang")))) / math.log(2)
    }.sum
    assert(math.abs(rows.map(_.getAs[Long]("mi_term_mb")).sum.toDouble / n
      - miF) <= 180.0)
  }

  test("novelty election (q155): greedy credit follows token-mass rank; a redundant source mints zero") {
    val dir = tempDir("graft_novelty").toString
    // srcBig (10 tokens, vocab a b c d) outranks srcDup (5 tokens,
    // vocab ⊂ srcBig) outranks srcNiche (3 tokens, 2 novel types x y)
    Seq(
      (1L, "a b c d a b c d a b", "en", "srcBig"),
      (2L, "x y a", "en", "srcNiche"),
      (3L, "a b a b a", "en", "srcDup"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.vocabNoveltyElection(spark, dir).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("source"),
        r.getAs[Long]("n_tok"), r.getAs[Long]("vocab"),
        r.getAs[Long]("novel"), r.getAs[Long]("cum_vocab"),
        r.getAs[Long]("novelty_bp")))
    assert(rows.toSeq == Seq(
      (1L, "srcBig", 10L, 4L, 4L, 4L, 10000L),
      (2L, "srcDup", 5L, 2L, 0L, 4L, 0L),
      (3L, "srcNiche", 3L, 3L, 2L, 6L, 6666L)))
  }

  test("vocab richness (q173): Chao1 and Good-Turing exact on hand counts, F2=0 guard") {
    val dir = tempDir("graft_rich").toString
    Seq(
      // lang aa: tokens p q r s s → N=5, V=4, F1=3 (p,q,r), F2=1 (s)
      //   chao1 = 4 + 3·2 div (2·2) = 5; unseen_bp = 3·10000 div 5 = 6000
      (1L, "p q r", "aa", "t", 5L),
      (2L, "s s", "aa", "t", 3L),
      // lang bb: all distinct → F2=0 exercises the +1 guard:
      //   N=4, V=4, F1=4, F2=0 → chao1 = 4 + 4·3 div 2 = 10; unseen 10000
      (3L, "w x y z", "bb", "t", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = operators.TextAnalysis.vocabRichness(spark, dir).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    assert(out.size == 2)
    val aa = out("aa")
    assert(aa.getAs[Long]("n_tokens") == 5L && aa.getAs[Long]("n_types") == 4L)
    assert(aa.getAs[Long]("f1") == 3L && aa.getAs[Long]("f2") == 1L)
    assert(aa.getAs[Long]("chao1") == 5L, s"chao1 ${aa.getAs[Long]("chao1")}")
    assert(aa.getAs[Long]("unseen_bp") == 6000L)
    val bb = out("bb")
    assert(bb.getAs[Long]("f2") == 0L && bb.getAs[Long]("chao1") == 10L,
      "F2=0 must ride the bias-corrected denominator, not divide by zero")
    assert(bb.getAs[Long]("unseen_bp") == 10000L, "all-singleton corpus")
  }

  test("winnowing (q174): coverage guarantee, rightmost-min determinism, dup docs share fingerprints") {
    val dir = tempDir("graft_winnow").toString
    val long = (1 to 30).map(i => s"tok${i % 11}").mkString(" ") // repeats → hash ties
    Seq(
      (1L, long, "en", "srcA", 120L),
      (2L, long, "en", "srcB", 120L),                // exact dup of doc 1
      (3L, "a b c d e f g h i j k l", "en", "srcA", 23L),
      (4L, "one two three four five", "en", "srcA", 22L), // exactly n=3 grams < w
      (5L, "xx yy", "en", "srcA", 5L))               // < n tokens: no grams
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val n = 3; val w = 4
    val sel = operators.TextAnalysis.winnowedPositions(spark, dir, n, w)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (d, ps) => d -> ps.map(_._2).toSet }
    // winnowing guarantee: every full w-window of gram positions holds a selection
    def grams(text: String): Int = text.split(" ").length - n + 1
    for ((d, text) <- Seq(1L -> long, 2L -> long, 3L -> "a b c d e f g h i j k l")) {
      val g = grams(text)
      val ps = sel(d)
      (1 to g - w + 1).foreach { j =>
        assert(ps.exists(p => p >= j && p < j + w),
          s"doc $d window [$j, ${j + w - 1}) has no fingerprint; sel=$ps")
      }
      assert(ps.forall(p => p >= 1 && p <= g), s"doc $d decoded out of range")
    }
    // identical docs select identical positions (the dup-detection property)
    assert(sel(1L) == sel(2L), "exact duplicate docs must share fingerprints")
    // doc 4: 3 grams < w=4 → no full window; doc 5: no grams at all
    assert(!sel.contains(4L) && !sel.contains(5L))
    val out = operators.TextAnalysis.winnowing(spark, dir, n, w).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val a = out("srcA"); val b = out("srcB")
    // srcA docs with grams: 1, 3, 4 (doc 5 gramless); srcB: doc 2
    assert(a.getAs[Long]("n_docs") == 3L && b.getAs[Long]("n_docs") == 1L)
    assert(b.getAs[Long]("n_grams") == grams(long).toLong)
    assert(b.getAs[Long]("n_selected") == sel(2L).size.toLong)
    // density ≤ 10000 and the dup doc's hash set is shared with srcA's copy
    assert(a.getAs[Long]("density_bp") <= 10000L)
    assert(b.getAs[Long]("n_hashes") <= b.getAs[Long]("n_selected"))
  }

  test("readability (q177): vowel-group syllables, complex share, exact FRE/Fog") {
    val dir = tempDir("graft_read").toString
    Seq(
      // s1: identified = i|e|i|ie → 4 syl (complex), banana = 3 (complex)
      (1L, "the cat identified a banana", "en", "s1", 27L),
      // s2: all mono-syllable; zz has no vowels → floor at 1
      (2L, "go to bed", "en", "s2", 9L),
      (3L, "we zz", "en", "s2", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = operators.TextAnalysis.readabilityProfile(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val s1 = out("s1")
    assert(s1.getAs[Long]("n_docs") == 1L && s1.getAs[Long]("n_words") == 5L)
    assert(s1.getAs[Long]("words_per_doc_milli") == 5000L)
    assert(s1.getAs[Long]("chars_per_word_milli") == 4600L)   // 23 chars / 5
    assert(s1.getAs[Long]("syll_per_word_milli") == 2000L)    // 10 syl / 5
    assert(s1.getAs[Long]("complex_bp") == 4000L)             // 2 of 5
    // 206835 − 1015·5 − 84600·10 div 5 = 32560
    assert(s1.getAs[Long]("fre_milli") == 32560L)
    // 400·5 + 40000·2 div 5 = 18000
    assert(s1.getAs[Long]("fog_milli") == 18000L)
    val s2 = out("s2")
    assert(s2.getAs[Long]("n_docs") == 2L && s2.getAs[Long]("n_words") == 5L)
    assert(s2.getAs[Long]("words_per_doc_milli") == 2500L)
    assert(s2.getAs[Long]("syll_per_word_milli") == 1000L)    // zz floors at 1
    assert(s2.getAs[Long]("complex_bp") == 0L)
    // 206835 − 1015·5 div 2 − 84600·5 div 5 = 206835 − 2537 − 84600
    assert(s2.getAs[Long]("fre_milli") == 119698L)
    assert(s2.getAs[Long]("fog_milli") == 1000L)
  }

  test("bpeFirstMerges (q202): adjacent char pairs, per-lang ranks, pair tie-break") {
    import spark.implicits._
    val dir = tempDir("graft_bpe").toString
    Seq(
      (1L, "abab cd", "en", "t", 7L),  // abab → ab,ba,ab; cd → cd
      (2L, "ab x", "en", "t", 4L),     // ab → ab; 'x' has no pair
      (3L, "zz zz", "de", "t", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = operators.TextAnalysis.bpeFirstMerges(spark, dir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("rank")) ->
        (r.getAs[String]("pair"), r.getAs[Long]("cnt"))).toMap
    // en: ab×3, then the ba/cd tie breaks on the pair string
    assert(out(("en", 1L)) == (("ab", 3L)))
    assert(out(("en", 2L)) == (("ba", 1L)), "tie must break 'ba' < 'cd'")
    assert(out(("en", 3L)) == (("cd", 1L)))
    assert(out(("de", 1L)) == (("zz", 2L)))
    assert(out.size == 4, s"single-char tokens contribute nothing: $out")
  }

  test("bpeMergeLadder (q268): hand-walked greedy merges, non-overlap, ties") {
    import spark.implicits._
    val dir = tempDir("graft_bpeladder").toString
    // en corpus (word types × freq): "aaaa"×1, "abab"×2, "ab"×1.
    // step 1 pairs: aa×3 (aaaa), ab×5 (abab×2 ×2, ab×1), ba×2 → merge (a,b).
    //   aaaa → a a a a (untouched); abab → ab ab; ab → ab
    // step 2 pairs: aa×3, (ab,ab)×2 → merge (a,a) GREEDY NON-OVERLAP:
    //   aaaa → aa aa (two merges, not three)
    // step 3 pairs: (aa,aa)×1, (ab,ab)×2 → merge (ab,ab) → abab
    // step 4 pairs: (aa,aa)×1 → merge → aaaa
    // step 5: no pairs anywhere → no en row
    Seq((1L, "aaaa abab ab", "en", "t", 12L),
        (2L, "abab", "en", "t", 4L),
        (3L, "zz", "de", "t", 2L)) // de: step 1 merges (z,z), then dry
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = operators.TextAnalysis.bpeMergeLadder(spark, dir, k = 5)
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("step")) ->
        ((r.getAs[String]("left_sym"), r.getAs[String]("right_sym"),
          r.getAs[String]("merged"), r.getAs[Long]("cnt")))).toMap
    assert(out(("en", 1L)) == (("a", "b", "ab", 5L)))
    assert(out(("en", 2L)) == (("a", "a", "aa", 3L)),
      "aa counted 3x in a-a-a-a before any merge")
    assert(out(("en", 3L)) == (("ab", "ab", "abab", 2L)),
      "greedy non-overlap left exactly one aa,aa pair, losing the tie to abab x2")
    assert(out(("en", 4L)) == (("aa", "aa", "aaaa", 1L)))
    assert(out(("de", 1L)) == (("z", "z", "zz", 1L)))
    assert(!out.contains(("en", 5L)) && !out.contains(("de", 2L)),
      s"fully merged languages stop producing rows: $out")
  }

  test("kappaAgreement (q276): hand-built 2x2, negative kappa, exact cells") {
    import spark.implicits._
    val dir = tempDir("graft_kappa").toString
    // four rater archetypes, far from every verdict boundary:
    val w50 = (1 to 50).map(i => f"w$i%02daaa").mkString(" ")
    val tA = s"$w50 the and good."       // clean + quality ≥ .75 → a
    val tB = ("the " * 9).trim + " the." // clean, low-quality       → b
    val tC = s"$w50 good."               // stopword rule fires, hi-q → c
    val tD = "short"                     // short rule fires, low-q   → d
    val rows = Seq.fill(4)(tA) ++ Seq.fill(2)(tB) ++
      Seq.fill(3)(tC) ++ Seq.fill(1)(tD)
    rows.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "src0", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = operators.TextAnalysis.kappaAgreement(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert((row.getAs[Long]("both_pass"), row.getAs[Long]("clean_only"),
      row.getAs[Long]("quality_only"), row.getAs[Long]("both_fail")) ==
      ((4L, 2L, 3L, 1L)), s"got $row")
    assert(row.getAs[Long]("agree_bp") == 5000L)
    // κ = (10·5 − 6·7 − 4·3)/(100 − 42 − 12) = −4/46 → −86 milli
    assert(row.getAs[Long]("kappa_milli") == -86L, s"got $row")
    assert(row.getAs[String]("band") == "a_poor",
      "below-chance agreement must read poor")
  }

  test("termPositionBias (q220): exact relative positions and front shares") {
    import spark.implicits._
    val dir = tempDir("graft_posbias").toString
    // doc1 "a b a": rels 0, 333, 666; doc2 "b a": rels 0, 500
    Seq((1L, "a b a", "en", "t", 5L), (2L, "b a", "en", "t", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = operators.TextAnalysis.termPositionBias(spark, dir).collect()
      .map(r => r.getAs[String]("term") ->
        (r.getAs[Long]("n_occ"), r.getAs[Long]("mean_pos_milli"),
          r.getAs[Long]("front_share_bp"))).toMap
    assert(out.size == 2)
    // a: rels {0, 666, 500} → mean 388, 1 of 3 in the leading third
    assert(out("a") == ((3L, 388L, 3333L)))
    // b: rels {333, 0} → mean 166; rel 333 is NOT < 333 (strict)
    assert(out("b") == ((2L, 166L, 5000L)))
  }

  test("termDispersion (q235): source-local terms score TVD/2, shared terms 0") {
    import spark.implicits._
    val dir = tempDir("graft_disp").toString
    // srcA: "x x x x z" (5 tokens), srcB: "y y y y z" (5) — masses 50/50.
    // x lives only in A: |10000−5000| + |0−5000| = 10000 → dp 5000;
    // z is 1+1: shares 5000/5000 → dp 0
    Seq((1L, "x x x x z", "srcA"), (2L, "y y y y z", "srcB"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextAnalysis.termDispersion(spark, dir).collect()
      .map(r => r.getAs[String]("term") ->
        ((r.getAs[Long]("n_occurrences"), r.getAs[Long]("n_sources"),
          r.getAs[Long]("top_source_bp"), r.getAs[Long]("dp_bp")))).toMap
    assert(out == Map(
      "x" -> ((4L, 1L, 10000L, 5000L)),
      "y" -> ((4L, 1L, 10000L, 5000L)),
      "z" -> ((2L, 2L, 5000L, 0L))), s"got $out")
  }
}
