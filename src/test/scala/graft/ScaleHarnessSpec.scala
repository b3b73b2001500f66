package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, EventAnalytics, Similarity, TextAnalysis}

/** 100× deterministic scale harness: seeded duplicate-heavy / skew-heavy
  * corpora inflated two orders of magnitude, with the candidate-pair /
  * join-input cardinality of the dedup family (q20 minhash banding, q64
  * clusters, q92 hard negatives, q83 semantic dedup) asserted to grow
  * LINEARLY in content — converting the scaladoc "scale posture" claims
  * into checked invariants. The generators are pure functions of
  * (id, scale): same rows every run, no RNG, no clock.
  *
  * The scale claims under test:
  *  - q20/q64/q92: the LSH band self-join sees one row per signature
  *    GROUP per band, so inflating the corpus 100× by DUPLICATION leaves
  *    the join input unchanged, and 100× more DISTINCT content grows it
  *    100×, never quadratically (`Dedup.sigGroups` collapse).
  *  - q83: the SemMaxCluster sub-shard guard bounds within-cell candidate
  *    pairs to O(n·maxCluster) even when k-means degenerates into one
  *    giant cell, where the unguarded join is O(n²). */
class ScaleHarnessSpec extends SparkSpec {
  import spark.implicits._

  /** Sub-bands per signature, derived from the signature width the same
    * way DedupSpec does (kMinhash is private to the operator). */
  private def hnBands(dir: String): Int =
    Dedup.sigGroups(spark, dir).select(size(col("mh"))).first().getInt(0) /
      Dedup.HnSubRows

  /** Deterministic duplicate-heavy corpus: `nDistinct` templates with
    * disjoint vocabularies, inflated to `total` docs with a Zipf-ish
    * skew — template 0 holds ~half the corpus, template 1 a quarter,
    * the tail gets one copy each. */
  private def corpusDir(nDistinct: Int, total: Int): String = {
    require(total >= nDistinct)
    def text(i: Int): String = (0 until 12).map(j => s"t${i}w$j").mkString(" ")
    // skewed copy allocation: halving series head, then 1 each; leftover
    // rides on template 0 so the totals always reconcile
    val base = Array.fill(nDistinct)(1)
    var remaining = total - nDistinct
    var i = 0
    while (remaining > 0 && i < nDistinct) {
      val take = math.min(remaining, math.max(1, total >> (i + 1)))
      base(i) += take; remaining -= take; i += 1
    }
    if (remaining > 0) base(0) += remaining
    val rows = for {
      t <- (0 until nDistinct)
      c <- 0 until base(t)
    } yield (t.toLong * 1000000L + c, text(t))
    val dir = tempDir(s"graft_scale_${nDistinct}_$total").toString
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("gen").as("source"), length(col("text")).cast("long").as("n_chars"))
      .repartition(4).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Deterministic skew-heavy embeddings: 90% of vectors are IDENTICAL
    * (the degenerate mass collapsing into one k-means cell — exactly the
    * scenario the q83 guard documents), the rest spread over the other
    * axes. 64-dim. */
  private def embDir(total: Int): String = {
    val rows = (0 until total).map { id =>
      val v = Array.fill(64)(0.0f)
      if (id % 10 != 0) {
        v(0) = 1.0f                            // the degenerate mass
      } else {
        v(8 + id % 56) = 1.0f                  // spread tail
        v((3 * id) % 8) = 0.1f
      }
      (id.toLong, v.toSeq, id % 4)
    }
    val dir = tempDir(s"graft_scale_emb_$total").toString
    rows.toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label").cast("int"))
      .repartition(4).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def nReps(dir: String): Long =
    Dedup.sigGroups(spark, dir).filter(col("doc_id") === col("rep")).count()

  test("q20/q64/q92: 100x duplicate inflation leaves the band join input unchanged") {
    val d1x = corpusDir(30, 60)
    val d100x = corpusDir(30, 6000)
    val (r1, r100) = (nReps(d1x), nReps(d100x))
    assert(r1 == 30, s"1x corpus produced $r1 signature groups, want 30")
    assert(r100 == 30, s"100x duplicate-heavy corpus produced $r100 groups, want 30")
    // q92's sub-band join input: one row per rep per sub-band — identical
    // at both scales even though the corpus grew 100×
    val bands = hnBands(d1x)
    assert(Dedup.hnBandedReps(spark, d1x).count() == r1 * bands)
    assert(Dedup.hnBandedReps(spark, d100x).count() == r100 * bands)
    // q64 correctness rides the same candidate edges: at a mid scale the
    // cluster histogram must reconstruct the copy allocation exactly
    val dMid = corpusDir(8, 240)
    val hist = Dedup.dedupClusters(spark, dMid).collect()
      .map(r => r.getAs[Long]("cluster_size") -> r.getAs[Long]("n_clusters")).toMap
    assert(hist.map { case (s, n) => s * n }.sum == 240,
      s"cluster histogram loses docs: $hist")
    assert(hist.filter(_._1 > 1L).values.sum <= 8,
      s"more multi-doc clusters than templates: $hist")
  }

  test("q20/q92: 100x more DISTINCT content grows the join input 100x, not quadratically") {
    val dSmall = corpusDir(30, 30)
    val dBig = corpusDir(3000, 3000)
    val (rs, rb) = (nReps(dSmall), nReps(dBig))
    assert(rs == 30)
    // disjoint vocabularies make signature collisions essentially
    // impossible, but the assertion tolerates a handful
    assert(rb >= 2990 && rb <= 3000, s"3000 distinct docs -> $rb groups")
    val bands = hnBands(dSmall)
    val (j1, j2) = (Dedup.hnBandedReps(spark, dSmall).count(),
      Dedup.hnBandedReps(spark, dBig).count())
    assert(j1 == rs * bands && j2 == rb * bands,
      s"join input ($j1, $j2) must be exactly reps x sub-bands")
    assert(j2 <= 100L * j1, s"join input grew superlinearly: $j1 -> $j2")
  }

  test("q95: the affinity snapshot stays <= DsirBuckets rows at any corpus scale") {
    // the q95 feature space is hashed into a FIXED bucket table — the
    // artifact the streaming gate broadcasts is bounded regardless of
    // corpus size (100x more content cannot grow it past DsirBuckets)
    val small = corpusDir(30, 60)
    val big = corpusDir(3000, 3000)
    for (dir <- Seq(small, big)) {
      val n = operators.Curation.importanceAffinity(spark, dir, targetSource = "gen").count()
      assert(n <= operators.Curation.DsirBuckets,
        s"affinity table has $n rows for $dir")
    }
  }

  test("q73/q74/q87: gram tables are linear in distinct grams and duplication-invariant") {
    // corpusDir texts are 12 disjoint-vocabulary words -> exactly 8
    // distinct 5-gram shingles per doc, no sharing across templates
    val gramsPerDoc = 8L
    val d1x = corpusDir(30, 60)
    val d100x = corpusDir(30, 6000)
    val (rows1, vocab1) = TextAnalysis.gramJoinInputs(spark, d1x)
    val (rows100, vocab100) = TextAnalysis.gramJoinInputs(spark, d100x)
    // the df-agg/join key side (q73's groupBy(g), q87's dfreq) is the
    // gram VOCABULARY: 100x duplicate inflation leaves it unchanged
    assert(vocab1 == 30 * gramsPerDoc, s"1x vocab $vocab1, want ${30 * gramsPerDoc}")
    assert(vocab100 == vocab1, s"duplication grew the gram vocabulary: $vocab1 -> $vocab100")
    // the corpus side streams through linearly in docs, never more
    assert(rows1 == 60L * gramsPerDoc && rows100 == 6000L * gramsPerDoc,
      s"corpus-side gram rows ($rows1, $rows100) must be docs x grams/doc")
    // 100x more DISTINCT content grows the vocabulary 100x, not quadratically
    // (tolerate a handful of 60-bit h1 collisions at the big scale)
    val (_, vocabSmall) = TextAnalysis.gramJoinInputs(spark, corpusDir(30, 30))
    val (_, vocabBig) = TextAnalysis.gramJoinInputs(spark, corpusDir(3000, 3000))
    assert(vocabSmall == 30 * gramsPerDoc)
    assert(vocabBig <= 100L * vocabSmall && vocabBig >= 100L * vocabSmall - 50,
      s"distinct content must scale the vocabulary ~100x: $vocabSmall -> $vocabBig")
    // q74's broadcast side is the BENCHMARK vocabulary (doc_id < 10 =
    // template-0 copies): identical at both corpus scales
    assert(Curation.contaminationBenchGrams(spark, d1x) == gramsPerDoc)
    assert(Curation.contaminationBenchGrams(spark, d100x) == gramsPerDoc)
    // and q73's ranking on the skewed 100x corpus reads the skew correctly:
    // every top gram is a template-0 gram carried by > half the corpus
    val top = TextAnalysis.duplicatedNgrams(spark, d100x, 5, 3).collect()
    assert(top.length == 3)
    assert(top.forall(_.getAs[Long]("n_docs_containing") > 3000),
      s"top grams must carry template 0's >half-corpus df: ${top.mkString(", ")}")
  }

  test("q105: positional gram stream is linear; duplicated-gram key side is content-bounded") {
    // corpusDir texts are 12 disjoint-vocabulary words -> exactly 8
    // positional 5-grams per doc (== distinct: no within-doc repeats)
    val d1x = corpusDir(30, 60)
    val d100x = corpusDir(30, 6000)
    val (rows1, dup1) = TextAnalysis.spanJoinInputs(spark, d1x)
    val (rows100, dup100) = TextAnalysis.spanJoinInputs(spark, d100x)
    // the corpus side is one row per token window — linear, never more
    assert(rows1 == 60L * 8 && rows100 == 6000L * 8,
      s"positional gram stream ($rows1, $rows100) must be docs x 8")
    // the join key side (occ >= 2 grams) is bounded by the CONTENT
    // vocabulary even under 100x duplicate inflation
    val (_, vocab1) = TextAnalysis.gramJoinInputs(spark, d1x)
    assert(dup1 <= vocab1 && dup100 <= vocab1,
      s"duplicated-gram vocab ($dup1, $dup100) must stay within content vocab $vocab1")
    // coverage exactness at scale: every doc of a >=2-copy template is
    // FULLY covered (all its grams repeat), single-copy docs untouched
    val dupDocs = Tables.documents(spark, d100x).groupBy(col("text"))
      .count().filter(col("count") >= 2)
      .agg(sum(col("count"))).head.getLong(0)
    val r = TextAnalysis.spanScrub(spark, d100x).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("sum_removed") == dupDocs * 12L,
      s"duplicated-template docs must be fully covered")
    assert(r.head.getAs[Long]("n_docs_hit") == dupDocs)
  }

  test("q109/q110: sketch stays cell-bounded and probe recall stays exact under 100x duplication") {
    val d1x = corpusDir(30, 60)
    val d100x = corpusDir(30, 6000)
    // q109: the sketch is bounded by depth x width cells at BOTH scales,
    // and duplication adds NO new cells (same token set, same buckets)
    val cellCap = TextAnalysis.CmsDepth.toLong * TextAnalysis.CmsWidth
    val cells1 = TextAnalysis.cmsSketch(spark, d1x)
      .select(col("j"), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cells100 = TextAnalysis.cmsSketch(spark, d100x)
      .select(col("j"), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cells1.size.toLong <= cellCap && cells100.size.toLong <= cellCap)
    assert(cells100 == cells1,
      "duplicate inflation must not mint new sketch cells")
    // q110: the exact leg is |probes| x corpus (probes fixed at any
    // scale), and on a pure-duplication corpus every true pair is an
    // exact dup -> recall is 1.0 BY CONSTRUCTION at 100x too
    val copies = Tables.documents(spark, d100x)
      .filter(col("doc_id") < 1000000L).count() // template-0 members
    val cEff = math.min(copies, Dedup.LshProbeMax)
    val expectTrue = cEff * (cEff - 1) / 2 + cEff * (copies - cEff)
    val r = Dedup.lshRecallAudit(spark, d100x).collect()
    assert(r.length == 1 && r.head.getAs[String]("bucket") == "[0.9,1.0]")
    assert(r.head.getAs[Long]("n_true") == expectTrue,
      s"true-pair count ${r.head.getAs[Long]("n_true")} != expected $expectTrue")
    assert(r.head.getAs[Double]("recall") == 1.0,
      "exact-dup probes must be fully retrieved at 100x")
  }

  test("q116: snapshot index is duplicate-invariant; probe side linear in the delta") {
    // the persisted index is distinct (band, sig) over the snapshot half:
    // inflating the corpus 100x by DUPLICATION leaves it unchanged (every
    // template contributes one bucket set regardless of copy count)
    val d1x = corpusDir(30, 60)
    val d100x = corpusDir(30, 6000)
    val (i1, i100) = (Dedup.snapshotIndex(spark, d1x).count(),
      Dedup.snapshotIndex(spark, d100x).count())
    assert(i1 == i100,
      s"duplicate inflation grew the snapshot index: $i1 -> $i100")
    // corpusDir ids are t*1e6+c, so every template has an even (snapshot)
    // member and the index covers all 30 templates' bucket sets
    assert(i1 >= 30, s"index must cover every template's buckets, got $i1")
    // intake flags on the duplicate-heavy corpus: every odd doc of a
    // multi-copy template collides with its even twin -> flagged; the
    // report partitions the delta at both scales
    for (dir <- Seq(d1x, d100x)) {
      val r = Dedup.snapshotNearDupIntake(spark, dir).collect()
      val delta = Tables.documents(spark, dir)
        .filter(col("doc_id") % 2 === 1).count()
      assert(r.map(_.getAs[Long]("n_delta")).sum == delta)
      r.foreach(row => assert(row.getAs[Long]("n_flagged") +
        row.getAs[Long]("n_fresh") == row.getAs[Long]("n_delta")))
    }
    // at 100x every odd doc is a copy of a template whose even twin is
    // indexed -> flag rate is exactly 100%
    val r100 = Dedup.snapshotNearDupIntake(spark, d100x).collect()
    assert(r100.forall(_.getAs[Long]("n_fresh") == 0L),
      "every delta doc duplicates an indexed template at 100x")
  }

  test("q124: occupancy audit prices the naive join's quadratic pair mass exactly") {
    // disjoint template vocabularies -> every copy of template t shares
    // ALL its band buckets and collides with nothing else, so the naive
    // within-bucket pair mass is EXACTLY bands x Σ_t c_t(c_t-1)/2 — the
    // quadratic cost the sigGroups representative collapse avoids, and
    // precisely what the audit must report
    val d100x = corpusDir(30, 6000)
    val rows = Dedup.bucketOccupancy(spark, d100x).collect()
    val copies = Tables.documents(spark, d100x).groupBy(col("text")).count()
      .collect().map(_.getLong(1))
    val docs = copies.sum
    val bands = rows.map(_.getAs[Long]("n_rows")).sum / docs
    assert(bands > 0 && rows.map(_.getAs[Long]("n_rows")).sum == bands * docs)
    val naivePairs = bands * copies.map(c => c * (c - 1) / 2).sum
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == naivePairs,
      s"audit must price the naive join exactly: got ${rows.map(_.getAs[Long]("n_pairs")).sum}, want $naivePairs")
    // the pair mass is quadratic in copy count (~4.5M here) while the
    // rep-collapsed join input stays at reps x bands (~120 rows) — the
    // audit is the evidence for the q20 guard
    assert(naivePairs > 1000000L)
    assert(Dedup.hnBandedReps(spark, d100x).count() < 1000L)
  }

  test("q134/q136: collocation and diversity tables are content-bounded under 100x duplication") {
    val d1x = corpusDir(30, 60)
    val d100x = corpusDir(30, 6000)
    // q134: the support-floored candidate table is bounded by the
    // DISTINCT bigram vocabulary — duplication inflates counts, never
    // the table; with disjoint 12-word templates that bound is 30×11
    val c1 = TextAnalysis.collocations(spark, d1x, minCount = 1, k = 1000)
    val c100 = TextAnalysis.collocations(spark, d100x, minCount = 1, k = 1000)
    val (n1, n100) = (c1.count(), c100.count())
    assert(n100 == n1, s"duplication grew the collocation table: $n1 -> $n100")
    assert(n1 <= 30L * 11L)
    // and lift is invariant under uniform duplication (c_xy, c_x, c_y, N
    // all scale by the same factor only if copies are uniform — here they
    // are skewed, so just assert the table stays rank-stable on the
    // template-0 bigrams, which dominate both corpora)
    // q136: per-(lang, n) diversity output is ≤ |langs|×3 rows at any
    // scale, and distinct grams are duplication-invariant
    val div1 = TextAnalysis.diversityProfile(spark, d1x).collect()
    val div100 = TextAnalysis.diversityProfile(spark, d100x).collect()
    assert(div1.length <= 3 && div100.length <= 3)
    for (n <- Seq(1L, 2L, 3L)) {
      val a = div1.find(_.getAs[Long]("n") == n).get.getAs[Long]("n_distinct")
      val b = div100.find(_.getAs[Long]("n") == n).get.getAs[Long]("n_distinct")
      assert(a == b, s"n=$n distinct grams grew under duplication: $a -> $b")
    }
    // total gram occurrences scale exactly with the corpus (linear scan)
    val t1 = div1.map(_.getAs[Long]("n_grams")).sum
    val t100 = div100.map(_.getAs[Long]("n_grams")).sum
    assert(t100 == t1 * 100, s"gram stream must be linear: $t1 -> $t100")
  }

  test("q99: only the score histogram orders — invariant under duplication, bounded output") {
    // the windowed/ordered input of the calibration is the (lang,
    // rounded-score) HISTOGRAM, never the corpus: inflating the corpus
    // 100× by duplication adds counts to existing histogram rows, so the
    // sorted table is IDENTICAL at both scales
    val d1x = corpusDir(30, 60)
    val d100x = corpusDir(30, 6000)
    val (h1, h100) = (TextAnalysis.qualityHistRows(spark, d1x),
      TextAnalysis.qualityHistRows(spark, d100x))
    assert(h1 <= 30, s"more histogram rows than distinct texts: $h1")
    assert(h100 == h1, s"duplication grew the sorted histogram: $h1 -> $h100")
    // and the OUTPUT is bounded at 9 deciles per language at any scale
    val c1 = TextAnalysis.qualityCalibration(spark, d1x).collect()
    val c100 = TextAnalysis.qualityCalibration(spark, d100x).collect()
    assert(c1.length == 9 && c100.length == 9)
  }

  test("q101: pair output is per-component — copy inflation cannot grow it; exact dups yield none") {
    // exact-duplicate corpus: components exist (up to 3000-copy groups)
    // but every member is byte-identical, so quality spread is zero and
    // the election must produce NO pairs — and must survive the
    // degenerate component sizes while doing so
    val dup = corpusDir(30, 6000)
    assert(Dedup.preferencePairElection(spark, dup).count() == 0L,
      "exact duplicates produced preference pairs (no quality signal)")
    // variant corpus: (base, stopword-degraded variant) near-dup groups;
    // the BASE side duplicated `copies`× with exact copies. The scale
    // invariant: the elected pair SET is a function of DISTINCT content —
    // inflating membership 20× changes nothing (per-component election,
    // never per-member)
    def base(t: Int) = (0 until 12).map(j => s"v${t}w$j").mkString(" ")
    def variantDir(copies: Int): String = {
      val rows = (0 until 10).flatMap { t =>
        (0 until copies).map(c => (t * 1000L + c, base(t))) :+
          (t * 1000L + 999L, base(t) + " the")
      }
      val dir = tempDir(s"graft_scale_pref_$copies").toString
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          lit("gen").as("source"), length(col("text")).cast("long").as("n_chars"))
        .repartition(4).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    def election(dir: String) = Dedup.preferencePairElection(spark, dir)
      .collect().map(p => (p.getAs[Long]("label"), p.getAs[Long]("chosen_id"),
        p.getAs[Long]("rejected_id"), p.getAs[Long]("margin_micro"))).toSet
    val (small, big) = (election(variantDir(5)), election(variantDir(100)))
    assert(small.nonEmpty, "variant fixture banded no (base, variant) components")
    assert(small == big,
      s"copy inflation changed the elected pair set: ${small.size} -> ${big.size}")
    small.foreach { case (_, c, r, m) =>
      // chosen = a clean base copy (smallest id), rejected = the filler
      // variant, margin strictly positive
      assert(c % 1000L == 0L && r % 1000L == 999L && m > 0L)
    }
  }

  test("q83: sub-shard guard keeps candidate pairs O(n*maxCluster) on a degenerate cell") {
    val n1 = 100
    val n100 = 10000
    val e1 = embDir(n1)
    val e100 = embDir(n100)
    val p1 = Similarity.semDedupCandidatePairs(spark, e1)
    val p100 = Similarity.semDedupCandidatePairs(spark, e100)
    // guarded: linear bound in corpus size at BOTH scales
    assert(p1 <= n1.toLong * Similarity.SemMaxCluster,
      s"guarded pairs $p1 exceed n*maxCluster at 1x")
    assert(p100 <= n100.toLong * Similarity.SemMaxCluster,
      s"guarded pairs $p100 exceed n*maxCluster at 100x")
    // the unguarded formulation (shard width = corpus size) IS quadratic
    // on the same data — proves the guard, not the data, provides the bound
    val unguarded = Similarity.semDedupCandidatePairs(spark, e100, maxCluster = Int.MaxValue)
    assert(unguarded > 5L * p100,
      s"degenerate cell too small to exercise the guard: unguarded=$unguarded guarded=$p100")
    // and the guarded operator still RUNS to a consistent audit at 100x
    val audit = Similarity.semanticDedup(spark, e100).collect()
    assert(audit.map(_.getAs[Long]("n_members")).sum == n100)
    audit.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dups") == r.getAs[Long]("n_members"))
    }
  }

  test("q147/q149: vocabulary tables are content-bounded, invariant under 100x duplication") {
    // the corpusDir templates carry disjoint 12-token vocabularies, so
    // 30 distinct docs = 360 distinct tokens regardless of copy count
    val d1 = corpusDir(30, 60)
    val d100 = corpusDir(30, 6000)
    for (dir <- Seq(d1, d100)) {
      // q149's self-join input: the distinct (lang, hash) vocab table
      val lv = Tables.documents(spark, dir)
        .select(col("lang"),
          explode(graft.functions.TextHash.tokens(col("text"))).as("tok"))
        .select(col("lang"), graft.functions.TextHash.h1(col("tok")).as("h"))
        .distinct().count()
      assert(lv == 360L, s"$dir vocab table has $lv rows")
      // q147's shuffled histogram: bounded by vocab x 4 quarters, never
      // by the corpus
      val curve = TextAnalysis.vocabGrowthCurve(spark, dir).collect()
      assert(curve.map(_.getAs[Long]("new_distinct")).sum == 360L)
      assert(curve.last.getAs[Long]("cum_distinct") == 360L)
    }
    // 100x duplication grows token MASS 100x but mints nothing new
    val t1 = TextAnalysis.vocabGrowthCurve(spark, d1).collect()
      .last.getAs[Long]("cum_tokens")
    val t100 = TextAnalysis.vocabGrowthCurve(spark, d100).collect()
      .last.getAs[Long]("cum_tokens")
    assert(t100 == t1 * 100, s"token mass $t1 -> $t100")
  }

  test("q140: the LM artifact is bounded by the reference slice, invariant under 100x pool inflation") {
    // the broadcast side of the perplexity filter is the reference-slice
    // vocabulary — the CROWD (pool) can grow 100x without adding a row
    // to the model, exactly the CCNet artifact posture
    def mk(poolCopies: Int): String = {
      val ref = (0 until 10).map(i =>
        (i.toLong, (0 until 12).map(j => s"r${i}w$j").mkString(" "), "en", "ref"))
      val pool = for {
        t <- 0 until 20
        c <- 0 until poolCopies
      } yield (1000L + t * 10000L + c,
        (0 until 12).map(j => s"p${t}w$j").mkString(" "), "en", "gen")
      val dir = tempDir(s"graft_ppx_scale_$poolCopies").toString
      (ref ++ pool).toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(4).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      dir
    }
    val d1 = mk(1)
    val d100 = mk(100)
    val lm1 = TextAnalysis.perplexityLmSnapshot(spark, d1, "ref")._1
    val lm100 = TextAnalysis.perplexityLmSnapshot(spark, d100, "ref")._1
    // 120 distinct reference tokens -> 120 LM rows at BOTH pool scales
    assert(lm1.size == 120, s"LM vocab ${lm1.size}")
    assert(lm100 == lm1, "100x pool inflation must not touch the LM artifact")
    // the per-doc score table is linear in the pool (one row per doc)
    assert(TextAnalysis.perplexityScored(spark, d1, "ref").count() == 20L)
    assert(TextAnalysis.perplexityScored(spark, d100, "ref").count() == 2000L)
  }

  test("q157: repetition profile pays no corpus shuffle — no Generate, exchanges only at the rollup") {
    val d1x = corpusDir(30, 60)
    val df = TextAnalysis.repetitionProfile(spark, d1x)
    val plan = df.queryExecution.executedPlan.toString
    // the zero-shuffle claim: the gram_stats kernel replaces the explode
    // — no Generate node anywhere, and the only exchanges are the
    // |sources|·4-row rollup hash + the final presentation sort
    assert(!plan.contains("Generate"), s"q157 plan explodes grams:\n$plan")
    assert("Exchange".r.findAllMatchIn(plan).length <= 2,
      s"q157 plan shuffles the corpus:\n$plan")
    // duplication-invariance of the per-doc signal: every template has
    // the same multiset shape, so the band row is identical at 100× and
    // only n_docs scales
    val r1 = df.collect()
    val r100 = TextAnalysis.repetitionProfile(spark, corpusDir(30, 6000)).collect()
    assert(r1.length == 1 && r100.length == 1)
    assert(r1.head.getAs[Long]("n_docs") == 60L)
    assert(r100.head.getAs[Long]("n_docs") == 6000L)
    Seq("rep_band", "avg_top2_bp", "avg_dup3_bp").foreach { c =>
      assert(r1.head.getAs[Any](c) == r100.head.getAs[Any](c), c)
    }
  }

  test("q158: sketch overlap is a pure function of CONTENT — invariant under 100x duplicate inflation") {
    // two sources with overlapping template vocabularies; inflate copies
    // 100× — the distinct (source, hash) table and hence every sketch,
    // estimate and exact count must not move
    def mk(copies: Int): String = {
      val rows = for {
        t <- 0 until 20
        c <- 0 until copies
        src <- Seq("sa", "sb") if src == "sa" || t >= 10
      } yield (t.toLong * 100000L + c * 2L + (if (src == "sa") 0L else 1L),
        (0 until 12).map(j => s"t${t}w$j").mkString(" "), "en", src)
      val dir = tempDir(s"graft_skov_scale_$copies").toString
      rows.toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(4).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      dir
    }
    val out1 = TextAnalysis.sketchOverlap(spark, mk(1)).collect().map(_.toSeq)
    val out100 = TextAnalysis.sketchOverlap(spark, mk(100)).collect().map(_.toSeq)
    assert(out1.length == 1)
    assert(out1.toSeq == out100.toSeq,
      "duplicate inflation must not move sketch-overlap output")
  }

  test("q159: the quantile sketch is bounded and its estimates are duplication-invariant") {
    def mkEvents(copies: Int): String = {
      val rows = for {
        v <- 1 to 200
        c <- 0 until copies
      } yield (v.toLong * 10000L + c, v.toLong * 1000000000L,
        v.toLong % 7, if (v % 2 == 0) "click" else "view", v * 0.37, "{}")
      val dir = tempDir(s"graft_qsk_scale_$copies").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(4).write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val r1 = EventAnalytics.quantileSketchAudit(spark, mkEvents(1)).collect()
    val r100 = EventAnalytics.quantileSketchAudit(spark, mkEvents(100)).collect()
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[String]("event_type"), r.getAs[Long]("pct"))
    val m100 = r100.map(r => key(r) -> r).toMap
    r1.foreach { r =>
      val t = m100(key(r))
      // duplicating every event uniformly moves NO quantile and adds NO bin
      Seq("n_bins", "exact_cents", "est_cents", "err_bp").foreach { c =>
        assert(r.getAs[Long](c) == t.getAs[Long](c), s"${key(r)} $c")
      }
      assert(t.getAs[Long]("n_events") == r.getAs[Long]("n_events") * 100)
      // the bin-width guarantee holds at both scales
      assert(r.getAs[Long]("err_bp") < 2500L)
    }
  }

  test("q163/q167/q168: distribution functionals are invariant under 100x uniform duplication") {
    // entropy, KS drift and Gini are all functions of the SHAPE of a
    // distribution — duplicating every doc uniformly scales every
    // histogram cell by the same factor and must move none of them
    val d1x = corpusDir(30, 60)
    val d100x = corpusDir(30, 6000)
    // same histogram SHAPE requires the same copy mix — corpusDir's skew
    // allocation differs between scales, so build uniform-copy corpora
    def uniform(copies: Int): String = {
      val rows = for { t <- 0 until 25; c <- 0 until copies } yield
        (t.toLong * 1000000L + c,
          (0 until (6 + t % 7)).map(j => s"u${t}w$j").mkString(" "))
      val dir = tempDir(s"graft_statinv_$copies").toString
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"),
          concat(lit("s"), (col("doc_id") / 1000000L).cast("long") % 5)
            .as("source"),
          length(col("text")).cast("long").as("n_chars"))
        .repartition(4).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      dir
    }
    val (u1, u100) = (uniform(1), uniform(100))
    def strip(df: org.apache.spark.sql.DataFrame, drop: String*): Seq[Seq[Any]] =
      df.drop(drop: _*).collect().map(_.toSeq).toSeq
    // entropy: probabilities unchanged -> H invariant up to the LUT's
    // quantization: the 16-entry mantissa table floors within a bucket
    // (≤ ~87 mb per log2mb call), and scaling every argument by 100
    // re-buckets them all — so the functional moves by at most about
    // one bucket width, never more
    val e1 = TextAnalysis.vocabEntropy(spark, u1).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("entropy_mb"), r.getAs[Long]("norm_bp"))).toMap
    val e100 = TextAnalysis.vocabEntropy(spark, u100).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("entropy_mb"), r.getAs[Long]("norm_bp"))).toMap
    assert(e1.keySet == e100.keySet)
    e1.foreach { case (s, (h1v, n1v)) =>
      val (h100, n100) = e100(s)
      assert(math.abs(h1v - h100) <= 100L, s"$s H drifted ${h1v - h100} mb")
      assert(math.abs(n1v - n100) <= 300L, s"$s norm drifted ${n1v - n100} bp")
    }
    // KS: every CDF share identical -> same D at the same length
    assert(strip(TextAnalysis.lengthDrift(spark, u1), "n_docs") ==
      strip(TextAnalysis.lengthDrift(spark, u100), "n_docs"))
    // Gini: scale-free by construction
    assert(strip(TextAnalysis.tokenGini(spark, u1), "n_docs", "total_tokens") ==
      strip(TextAnalysis.tokenGini(spark, u100), "n_docs", "total_tokens"))
    // and the SKEWED inflation (d1x vs d100x) must keep outputs well-formed
    TextAnalysis.tokenGini(spark, d100x).collect().foreach { r =>
      assert(r.getAs[Long]("gini_bp") >= 0L && r.getAs[Long]("gini_bp") < 10000L)
    }
    assert(TextAnalysis.vocabEntropy(spark, d1x).count() == 1L)
  }

  test("q161: head-group table is content-bounded — 100x duplication adds no head and no family") {
    val d1x = corpusDir(30, 60)
    val d100x = corpusDir(30, 6000)
    val r1 = Dedup.truncationFamilies(spark, d1x).collect().head
    val r100 = Dedup.truncationFamilies(spark, d100x).collect().head
    // 30 templates -> 30 heads at BOTH scales; exact copies share the
    // full text hash, so no duplication can mint a family
    assert(r1.getAs[Long]("n_heads") == 30L)
    assert(r100.getAs[Long]("n_heads") == 30L)
    assert(r1.getAs[Long]("n_families") == 0L)
    assert(r100.getAs[Long]("n_families") == 0L)
    assert(r100.getAs[Long]("total_tokens") == 6000L * 12)
  }

  /** Events corpus of `copies` clones of a 3-user template: every clone
    * replays the same relative timeline and values under fresh user/event
    * ids, so all share/rank functionals must be copy-count-invariant. */
  private def eventClonesDir(copies: Int): String = {
    val day = 86400L
    // (relSec, type, value) per template user
    val template: Seq[(Long, Seq[(Long, String, Double)])] = Seq(
      1L -> Seq((4 * day + 9 * 3600L, "view", 0.01), (4 * day + 9 * 3600 + 10L, "click", 1.0),
        (4 * day + 9 * 3600 + 2000L, "view", 1.0), (4 * day + 9 * 3600 + 2010L, "click", 100.0)),
      2L -> Seq((4 * day + 10 * 3600L, "view", 1.0)),
      3L -> Seq((5 * day + 9 * 3600L, "view", 2.0), (5 * day + 9 * 3600 + 1800L, "click", 4.0),
        (5 * day + 9 * 3600 + 3601L, "view", 6.0)))
    var eid = 0L
    val rows = for {
      c <- 0 until copies
      (u, evs) <- template
      (sec, ty, v) <- evs
    } yield {
      eid += 1
      (eid, sec * 1000000000L, u * 100000L + c, ty, v, "{}")
    }
    val dir = tempDir(s"graft_evclone_$copies").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q227/q228/q230/q233: round-14 event functionals are invariant under 100x user cloning") {
    val (d1, d100) = (eventClonesDir(1), eventClonesDir(100))
    // q227: clones mint identical (user, type) pairs — bands' bp columns
    // invariant, pair counts scale exactly 100x
    val c1 = EventAnalytics.churnLabels(spark, d1).collect()
      .map(r => r.getAs[String]("activity_band") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("churn_bp"))).toMap
    val c100 = EventAnalytics.churnLabels(spark, d100).collect()
      .map(r => r.getAs[String]("activity_band") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("churn_bp"))).toMap
    assert(c1.keySet == c100.keySet)
    c1.foreach { case (b, (n1, bp1)) =>
      assert(c100(b) == ((100L * n1, bp1)), s"$b drifted: ${c100(b)}")
    }
    // q228: daily counts scale 100x together — the normalized CUSUM walk
    // (peak bp, change-point days) cannot move; totals scale exactly
    val k1 = EventAnalytics.cusumShift(spark, d1).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val k100 = EventAnalytics.cusumShift(spark, d100).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(k1.keySet == k100.keySet)
    k1.foreach { case (t, r1) =>
      val r100 = k100(t)
      assert(r100.getAs[Long]("total_events") ==
        100L * r1.getAs[Long]("total_events"))
      Seq("n_days", "up_peak_bp", "down_peak_bp").foreach(c =>
        assert(r100.getAs[Long](c) == r1.getAs[Long](c), s"$t.$c drifted"))
      Seq("up_peak_day", "down_peak_day").foreach(c =>
        assert(r100.getAs[java.sql.Date](c) == r1.getAs[java.sql.Date](c),
          s"$t.$c drifted"))
    }
    // q230: presence cells are a pure function of CONTENT hours — the
    // whole audit is bit-identical under duplication
    def cover(dir: String) = EventAnalytics.coverageGaps(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(cover(d1) == cover(d100))
    // q233: clones stack concurrency at the SAME minutes — the sweep's
    // grid (and so the peak minute) is invariant, peaks scale 100x
    val p1 = EventAnalytics.peakConcurrency(spark, d1).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString -> r).toMap
    val p100 = EventAnalytics.peakConcurrency(spark, d100).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString -> r).toMap
    assert(p1.keySet == p100.keySet)
    p1.foreach { case (d, r1) =>
      val r100 = p100(d)
      assert(r100.getAs[Long]("peak_concurrent") ==
        100L * r1.getAs[Long]("peak_concurrent"), s"$d peak must scale")
      assert(r100.getAs[Long]("n_sessions_started") ==
        100L * r1.getAs[Long]("n_sessions_started"))
      assert(r100.getAs[Long]("peak_minute_of_day") ==
        r1.getAs[Long]("peak_minute_of_day"), s"$d peak minute drifted")
    }
  }

  test("q226/q234/q235: value-histogram, occupancy and dispersion frontiers are share-invariant under 100x cloning") {
    // q226: clone every part 100x at the same revenue — the permille
    // cell table is a pure function of the revenue DISTRIBUTION, so
    // class shares hold and part counts scale exactly
    def liDir(copies: Int): String = {
      val rows = for {
        c <- 0 until copies
        (p, price) <- Seq((1L, 80.0), (2L, 15.0), (3L, 4.0), (4L, 1.0))
      } yield (p * 1000000L + c, price, 0.0)
      val dir = tempDir(s"graft_abcclone_$copies").toString
      rows.toDF("l_partkey", "l_extendedprice", "l_discount")
        .repartition(4).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      dir
    }
    val a1 = graft.operators.Relational.abcClasses(spark, liDir(1)).collect()
      .map(r => r.getAs[String]("abc_class") ->
        (r.getAs[Long]("n_parts"), r.getAs[Long]("share_bp"))).toMap
    val a100 = graft.operators.Relational.abcClasses(spark, liDir(100)).collect()
      .map(r => r.getAs[String]("abc_class") ->
        (r.getAs[Long]("n_parts"), r.getAs[Long]("share_bp"))).toMap
    assert(a1.keySet == a100.keySet)
    a1.foreach { case (cls, (n1, bp1)) =>
      assert(a100(cls) == ((100L * n1, bp1)), s"$cls drifted: ${a100(cls)}")
    }
    // q234: duplicating vectors densifies buckets but cannot move the
    // partition structure: bucket counts and hot shares invariant, the
    // hottest bucket scales exactly — the ≤2^Planes bound in action
    def vecDir(copies: Int): String = {
      val a = Array.tabulate(64)(i => if (i == 0) 1.0f else if (i == 1) 0.5f else 0.0f)
      val na = a.map(-_)
      val rows = for {
        c <- 0 until copies
        (v, vec, l) <- Seq((1L, a, 0), (2L, a, 0), (3L, na, 1))
      } yield (v * 1000000L + c, vec, l)
      val dir = tempDir(s"graft_pdfclone_$copies").toString
      rows.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    val f1 = Similarity.probeDepthFrontier(spark, vecDir(1)).collect()
      .map(r => r.getAs[Long]("p") ->
        (r.getAs[Long]("n_buckets"), r.getAs[Long]("hottest"),
          r.getAs[Long]("hot_share_bp"))).toMap
    val f100 = Similarity.probeDepthFrontier(spark, vecDir(100)).collect()
      .map(r => r.getAs[Long]("p") ->
        (r.getAs[Long]("n_buckets"), r.getAs[Long]("hottest"),
          r.getAs[Long]("hot_share_bp"))).toMap
    f1.foreach { case (p, (nb1, h1, hs1)) =>
      val (nb100, h100, hs100) = f100(p)
      assert(nb100 == nb1 && h100 == 100L * h1 && hs100 == hs1,
        s"depth $p drifted: ${f100(p)}")
    }
    // q235: the (term, source) cell table is content-bounded — doc
    // duplication scales occurrences, never the shares or the ranking
    val (t1, t100) = (corpusWithSources(1), corpusWithSources(100))
    val dp1 = TextAnalysis.termDispersion(spark, t1).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("n_sources"),
        r.getAs[Long]("top_source_bp"), r.getAs[Long]("dp_bp")))
    val dp100 = TextAnalysis.termDispersion(spark, t100).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("n_sources"),
        r.getAs[Long]("top_source_bp"), r.getAs[Long]("dp_bp")))
    assert(dp1.toSeq == dp100.toSeq,
      "dispersion must be a pure function of content")
  }

  /** Two-source corpus for the q235 invariance leg: per copy, the same
    * source-local + shared vocabulary. */
  private def corpusWithSources(copies: Int): String = {
    val rows = for {
      c <- 0 until copies
      (d, text, src) <- Seq((1L, "x x x x z", "srcA"), (2L, "y y y y z", "srcB"))
    } yield (d * 1000000L + c, text, src)
    val dir = tempDir(s"graft_dispclone_$copies").toString
    rows.toDF("doc_id", "text", "source")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q179/q180/q185: session bands, robust means and seasonality are invariant under 100x user cloning") {
    val (d1, d100) = (eventClonesDir(1), eventClonesDir(100))
    // q179: per-clone sessions identical -> shares and durations invariant,
    // counts scale exactly 100x
    val s1 = EventAnalytics.sessionization(spark, d1).collect()
      .map(r => r.getAs[String]("size_band") ->
        (r.getAs[Long]("n_sessions"), r.getAs[Long]("share_bp"),
          r.getAs[Long]("dur_per_session_milli"))).toMap
    val s100 = EventAnalytics.sessionization(spark, d100).collect()
      .map(r => r.getAs[String]("size_band") ->
        (r.getAs[Long]("n_sessions"), r.getAs[Long]("share_bp"),
          r.getAs[Long]("dur_per_session_milli"))).toMap
    assert(s1.keySet == s100.keySet)
    s1.foreach { case (band, (n1, bp1, dur1)) =>
      val (n100, bp100, dur100) = s100(band)
      assert(n100 == 100L * n1, s"$band sessions must scale 100x")
      assert(bp100 == bp1 && dur100 == dur1, s"$band functionals drifted")
    }
    // q180: exact invariance needs lo = 5n div 100 to scale with n, i.e.
    // per-type counts divisible by 20 at base scale — build that corpus
    // (the general template above trims a DIFFERENT 5% once n crosses a
    // div-100 boundary, which is correct rank semantics, not drift)
    def valuesDir(copies: Int): String = {
      val vals = Seq(0.01) ++ Seq.fill(18)(1.0) ++ Seq(100.0)
      var eid = 0L
      val rows = for { c <- 0 until copies; v <- vals } yield {
        eid += 1; (eid, eid * 1000000000L, eid % 7, "t", v, "{}")
      }
      val dir = tempDir(s"graft_valclone_$copies").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(4).write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    def stats(dir: String) = EventAnalytics.robustValueStats(spark, dir)
      .drop("n_events").collect().map(_.toSeq).toSeq
    assert(stats(valuesDir(1)) == stats(valuesDir(100)),
      "trim/winsor means must be invariant under exact-proportion cloning")
    // q185: cell/marginal shares all scale together
    def season(dir: String) = EventAnalytics.weeklySeasonality(spark, dir)
      .drop("n_events").collect().map(_.toSeq).toSeq
    assert(season(d1) == season(d100))
  }

  test("q176/q184: RFM cutoffs and basket lift are invariant under 100x entity cloning") {
    import java.sql.Timestamp
    import java.time.LocalDateTime
    def day(d: Int): Timestamp =
      Timestamp.valueOf(LocalDateTime.of(2024, 1, 1, 0, 0).plusDays(d.toLong))
    def ordersDir(copies: Int): String = {
      val rDays = Seq(0, 1, 2, 3, 4, 5, 6, 7)
      val freq = Seq(1, 1, 2, 2, 3, 3, 4, 4)
      val dollars = Seq(10, 20, 30, 40, 50, 60, 70, 80)
      var ok = 0L
      val rows = for {
        c <- 0 until copies
        i <- 0 until 8
        j <- 0 until freq(i)
      } yield {
        ok += 1
        val price = if (j == freq(i) - 1) (dollars(i) - (freq(i) - 1)).toDouble
                    else 1.0
        (ok, (i + 1).toLong * 100000L + c, "O", price,
          day(100 - rDays(i) - (freq(i) - 1 - j)), "1-URGENT")
      }
      val dir = tempDir(s"graft_rfmclone_$copies").toString
      rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .repartition(4).write.mode("overwrite").parquet(s"$dir/orders.parquet")
      dir
    }
    val (r1, r100) = (ordersDir(1), ordersDir(100))
    val a = graft.operators.Relational.rfmSegments(spark, r1).collect()
      .map(r => (r.getAs[String]("segment"), r.getAs[Long]("r_score"),
        r.getAs[Long]("f_score"), r.getAs[Long]("m_score")) ->
        r.getAs[Long]("n_customers")).toMap
    val b = graft.operators.Relational.rfmSegments(spark, r100).collect()
      .map(r => (r.getAs[String]("segment"), r.getAs[Long]("r_score"),
        r.getAs[Long]("f_score"), r.getAs[Long]("m_score")) ->
        r.getAs[Long]("n_customers")).toMap
    assert(a.keySet == b.keySet, "cutoffs must not move under cloning")
    a.foreach { case (k, n) => assert(b(k) == 100L * n, s"$k must scale 100x") }
    // q184: cloned baskets scale support and basket counts together
    def basketsDir(copies: Int): String = {
      def li(ok: Long, pk: Long, ln: Long) =
        (ok, pk, 1L, ln, 1.0, 1.0, 0.0, 0.0, "N", "O", day(1))
      val template = Seq((1L, Seq(5L, 6L, 7L)), (2L, Seq(5L, 6L)),
        (3L, Seq(5L, 6L)), (4L, Seq(9L)))
      val rows = for {
        c <- 0 until copies
        (ok, parts) <- template
        (pk, ln) <- parts.zipWithIndex.map { case (p, l) => (p, (l + 1).toLong) }
      } yield li(ok * 100000L + c, pk, ln)
      val dir = tempDir(s"graft_bktclone_$copies").toString
      rows.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate")
        .repartition(4).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      dir
    }
    val (k1, k100) = (basketsDir(1), basketsDir(100))
    def pairs(dir: String) = graft.operators.Relational.basketPairs(spark, dir)
      .collect().map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b")) ->
        (r.getAs[Long]("support"), r.getAs[Long]("lift_bp"))).toMap
    val (p1, p100) = (pairs(k1), pairs(k100))
    assert(p1.keySet == p100.keySet)
    p1.foreach { case (k, (sup, lift)) =>
      assert(p100(k)._1 == 100L * sup, s"$k support must scale 100x")
      assert(p100(k)._2 == lift, s"$k lift must be clone-invariant")
    }
  }

  test("q224/q225: co-purchase graph is content-bounded — edges, degrees and ranks invariant under 100x order cloning") {
    // The graph seam (operators/Graph.scala) derives edges from q184's
    // per-order sorted part sets via a bounded pair EXPRESSION, then
    // collapses to DISTINCT (u, v). Cloned orders carry the same part
    // sets, so the edge table — and with it every PageRank iteration's
    // join input (each step joins ONLY the cached edge table) — is a
    // function of CONTENT, never of corpus size. Pin: the full degree
    // profile and the final rank table are bit-identical at 1x and 100x.
    import java.sql.Timestamp
    import java.time.LocalDateTime
    def day(d: Int): Timestamp =
      Timestamp.valueOf(LocalDateTime.of(2024, 1, 1, 0, 0).plusDays(d.toLong))
    def graphDir(copies: Int): String = {
      def li(ok: Long, pk: Long, ln: Long) =
        (ok, pk, 1L, ln, 1.0, 1.0, 0.0, 0.0, "N", "O", day(1))
      // undirected edges: (5,6) (5,7) (6,7) (5,8); 9 is isolated —
      // degrees 5→3, 6→2, 7→2, 8→1, 9→0; |directed edges| = 8
      val template = Seq((1L, Seq(5L, 6L, 7L)), (2L, Seq(5L, 6L)),
        (3L, Seq(5L, 8L)), (4L, Seq(9L)))
      val rows = for {
        c <- 0 until copies
        (ok, parts) <- template
        (pk, ln) <- parts.zipWithIndex.map { case (p, l) => (p, (l + 1).toLong) }
      } yield li(ok * 100000L + c, pk, ln)
      val dir = tempDir(s"graft_graphclone_$copies").toString
      rows.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate")
        .repartition(4).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      dir
    }
    val (g1, g100) = (graphDir(1), graphDir(100))
    def profile(dir: String) = graft.operators.Graph
      .copurchaseDegrees(spark, dir).collect()
      .map(r => r.getAs[String]("degree_band") ->
        (r.getAs[Long]("n_parts"), r.getAs[Long]("share_bp"),
          r.getAs[Long]("sum_degree"))).toMap
    val (p1, p100) = (profile(g1), profile(g100))
    assert(p1 == p100, s"degree profile moved under cloning: $p1 vs $p100")
    // the edge table itself: Σ sum_degree = |directed edges| = 8,
    // the template's content bound — NOT 100x it
    assert(p1.values.map(_._3).sum == 8L)
    assert(p1("a_0") == ((1L, 2000L, 0L)), s"isolated band: ${p1("a_0")}")
    def ranks(dir: String) = graft.operators.Graph.pagerank(spark, dir)
      .collect().map(r => (r.getAs[Long]("part"), r.getAs[Long]("pr_milli"),
        r.getAs[Long]("degree"))).toSeq
    val (r1, r100) = (ranks(g1), ranks(g100))
    assert(r1 == r100, s"pagerank moved under cloning: $r1 vs $r100")
    // q246 rides the same content-bounded seam: the triangle census —
    // including the broadcast fwd-adjacency table — is clone-invariant
    def tris(dir: String) = graft.operators.Graph.triangleProfile(spark, dir)
      .collect().map(r => r.getAs[String]("degree_band") ->
        (r.getAs[Long]("n_parts"), r.getAs[Long]("wedges"),
          r.getAs[Long]("triangles"), r.getAs[Long]("cc_bp"))).toMap
    val (t1, t100) = (tris(g1), tris(g100))
    assert(t1 == t100, s"triangle census moved under cloning: $t1 vs $t100")
    // hub 5 outranks everything; the isolated part rides the 500 floor
    assert(r1.head._1 == 5L, s"expected part 5 at the top: ${r1.head}")
    assert(r1.find(_._1 == 9L).exists(_._2 == 500L),
      "isolated part must settle at the 500-milli damping floor")
    // q256 rides the same seam: label propagation joins ONLY the
    // content-bounded edge table, so the component profile — count,
    // node mass, edge mass per band — is clone-invariant too
    def comps(dir: String) = graft.operators.Graph
      .componentProfile(spark, dir).collect()
      .map(r => r.getAs[String]("size_band") ->
        (r.getAs[Long]("n_components"), r.getAs[Long]("n_nodes"),
          r.getAs[Long]("node_share_bp"), r.getAs[Long]("n_edges"))).toMap
    val (c1, c100) = (comps(g1), comps(g100))
    assert(c1 == c100, s"component profile moved under cloning: $c1 vs $c100")
    // template content: {5,6,7,8} one 4-node component with 4 edges,
    // {9} isolated
    assert(c1 == Map(
      "a_1" -> ((1L, 1L, 2000L, 0L)),
      "c_3_4" -> ((1L, 4L, 8000L, 4L))), s"got $c1")
  }

  test("q242: HLL register tables are content-bounded — the whole sketch panel invariant under 100x duplication") {
    // registers derive from the DISTINCT (source, bigram-hash) seam, so
    // duplicate inflation cannot touch a single register NOR the exact
    // counts the estimates are judged against: the full output table is
    // bit-identical at 1x and 100x, and sketch state is <= 64 longs per
    // source at ANY corpus scale.
    def hllDir(copies: Int): String = {
      def text(s: String, i: Int): String =
        (0 until 10).map(j => s"${s}t${i}w$j").mkString(" ")
      val rows = for {
        c <- 0 until copies
        s <- Seq("alpha", "beta")
        i <- 0 until 6
      } yield (s.hashCode.toLong * 1000L + i * 100L + c, text(s, i), "en", s)
      val dir = tempDir(s"graft_hllclone_$copies").toString
      rows.toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(4).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    def panel(dir: String) = graft.operators.TextAnalysis
      .hllSketch(spark, dir).collect()
      .map(r => r.getAs[String]("scope") ->
        (r.getAs[Long]("n_exact"), r.getAs[Long]("v_zero"),
          r.getAs[Long]("est_distinct"), r.getAs[Long]("err_bp"))).toMap
    val (p1, p100) = (panel(hllDir(1)), panel(hllDir(100)))
    assert(p1 == p100, s"sketch panel moved under duplication: $p1 vs $p100")
    assert(p1.keySet == Set("alpha", "beta", "union"))
    // and the register tables themselves stay within the m = 64 budget
    val regs = graft.operators.TextAnalysis.hllRegisters(spark, hllDir(100))
      .groupBy(col("source")).agg(count(lit(1)).as("n")).collect()
    regs.foreach(r => assert(r.getAs[Long]("n") <= 64L))
  }

  test("q244: MG summaries scale exactly with duplication — terms, shares and the bound verdict invariant") {
    // duplicating every doc 100x multiplies every per-source count, every
    // (k+1)-th threshold, and the corpus total by exactly 100 — so the
    // summary TERM SET, ranks, undercount shares and the bound verdict
    // are invariant while the counters scale linearly. Summary state is
    // <= k counters per source at any corpus scale.
    def mgDir(copies: Int): String = {
      val rows = for {
        c <- 0 until copies
        (t, src) <- Seq(("a a a a a b b b c c d", "A"),
          ("a a a a e e e e c c c", "B"))
      } yield ((src.hashCode.toLong * 10000L + c, t, "en", src, 21L))
      val dir = tempDir(s"graft_mgclone_$copies").toString
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(4).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    def panel(dir: String) = graft.operators.TextAnalysis
      .mgMergeability(spark, dir, k = 2).collect()
      .map(r => r.getAs[String]("term") ->
        (r.getAs[Long]("rank"), r.getAs[Long]("est_count"),
          r.getAs[Long]("exact_count"), r.getAs[Long]("undercount_bp"),
          r.getAs[Boolean]("within_bound"))).toMap
    val (p1, p100) = (panel(mgDir(1)), panel(mgDir(100)))
    assert(p1.keySet == p100.keySet, "summary term set moved under cloning")
    p1.foreach { case (t, (rank, est, exact, bp, ok)) =>
      val c = p100(t)
      assert(c._1 == rank && c._4 == bp && c._5 == ok, s"$t shares moved")
      assert(c._2 == 100L * est && c._3 == 100L * exact,
        s"$t counters must scale linearly")
    }
  }

  test("q245: Neyman weights scale with the exact floor-sqrt window under 100x cloning; budgets stay exact") {
    // cloning docs 100x scales S2 by exactly 100^2, so the TRUE weight
    // scales by 100 and the integer weight lands in
    // [100*w, 100*w + 99] (floor(100*sqrt(k)) vs 100*floor(sqrt(k)));
    // both allocations must still exhaust the budget to the seat.
    def nDir(copies: Int): String = {
      val rows = for {
        c <- 0 until copies
        (src, ncs) <- Seq("A" -> Seq(10L, 30L, 50L), "B" -> Seq(20L, 20L, 26L))
        (nc, i) <- ncs.zipWithIndex
      } yield (src.hashCode.toLong * 100000L + c * 10L + i, s"t", "en", src, nc)
      val dir = tempDir(s"graft_neyclone_$copies").toString
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(4).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    def panel(dir: String) = graft.operators.Curation
      .neymanAllocation(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("neyman_weight"), r.getAs[Long]("alloc_neyman"),
          r.getAs[Long]("alloc_prop"))).toMap
    val (p1, p100) = (panel(nDir(1)), panel(nDir(100)))
    assert(p1.keySet == p100.keySet)
    p1.foreach { case (s, (w, _, _)) =>
      val w100 = p100(s)._1
      assert(w100 >= 100L * w && w100 <= 100L * w + 99L,
        s"$s: weight $w -> $w100 outside the floor-sqrt window")
    }
    Seq(p1, p100).foreach { p =>
      assert(p.values.map(_._2).sum == 1000L, "neyman budget must be exact")
      assert(p.values.map(_._3).sum == 1000L, "prop budget must be exact")
    }
  }

  test("q156: containment verify leg is candidate-bounded — duplicate mass, never corpus^2") {
    // The exact shingle-intersection leg joins the per-doc shingle table
    // onto the PERSISTED banded-LSH candidate list (the q20/q22 seam).
    // Under duplicate inflation the candidate list is exactly the true
    // duplicate-pair mass (sum of C(copies, 2) per content group, plus
    // any cross-group banding collisions — none here, the templates use
    // disjoint vocabularies), strictly below the corpus^2 mass an
    // all-pairs verifier would pay.
    val d = corpusDir(12, 1200)
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val n = docs.count()
    val dupMass = docs.groupBy(col("text"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) div 2"))).first().getLong(0)
    // thresholdBp = 0 admits every evaluated candidate, so the output
    // count IS the verify leg's input cardinality
    val evaluated = Dedup.containmentNearDup(spark, d, 0L).count()
    assert(evaluated == dupMass,
      s"verify leg touched $evaluated pairs, candidate mass is $dupMass")
    assert(evaluated < n * (n - 1) / 4,
      s"verify leg approaches corpus^2 ($evaluated of ${n * (n - 1) / 2})")
    // and every duplicate pair reads as exact mutual containment
    val rels = Dedup.containmentNearDup(spark, d, 8000L)
      .select(col("relation"), col("cont_a_bp"), col("cont_b_bp"))
      .distinct().collect()
    assert(rels.map(_.getAs[String]("relation")).toSet == Set("mutual"))
    assert(rels.forall(r => r.getAs[Long]("cont_a_bp") == 10000L &&
      r.getAs[Long]("cont_b_bp") == 10000L))
  }
}
