package graft

import org.apache.spark.sql.functions._

import graft.functions.TextHash
import graft.operators.Dedup
import graft.Tables

/** Unit coverage for the dedup family (SURVEY.md §2.12 X1-X2). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("dedup clusters: label propagation reaches a fixpoint and partitions the corpus") {
    val atK = Dedup.dedupClusters(spark, sf0001).collect().toSeq
    // one more round changes nothing — the unrolled round count suffices
    // on this graph (components' min-label eccentricity < rounds)
    val atK1 = Dedup.dedupClusters(spark, sf0001, rounds = 7).collect().toSeq
    assert(atK == atK1, "rounds+1 changed the clustering — not yet a fixpoint")
    // clusters partition the corpus: sizes sum to the doc count
    val totalDocs = Tables.documents(spark, sf0001).count()
    assert(atK.map(_.getAs[Long]("n_docs")).sum == totalDocs)
    // the planted near-dups produce at least one multi-doc cluster, and
    // transitivity can only merge: clusters >= pairs-connected docs shape
    assert(atK.exists(r => r.getAs[Long]("cluster_size") > 1))
    // every doc in exactly one cluster: n_docs = size × n_clusters per row
    atK.foreach { r =>
      assert(r.getAs[Long]("n_docs") ==
        r.getAs[Long]("cluster_size") * r.getAs[Long]("n_clusters"))
    }
  }

  test("dedupKept keeps exactly one representative per cluster plus singletons") {
    val kept = Dedup.dedupKept(spark, sf0001)
    // total kept == total clusters from the q64 histogram
    val nClusters = Dedup.dedupClusters(spark, sf0001).collect()
      .map(_.getAs[Long]("n_clusters")).sum
    assert(kept.count() == nClusters)
    // schema unchanged: the materializer returns original columns
    assert(kept.columns.toSeq == Tables.documents(spark, sf0001).columns.toSeq)
    // every kept member doc is its own label; no two kept docs share one
    val labels = Dedup.dedupClusterAssignments(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    keptIds.foreach { id =>
      labels.get(id).foreach(l => assert(l == id, s"kept $id has label $l"))
    }
    // dropped docs' labels are all kept (each cluster is represented)
    labels.values.toSet.foreach { l: Long => assert(keptIds.contains(l)) }
  }

  test("cluster assignments: every candidate pair's endpoints share a label") {
    val labels = Dedup.dedupClusterAssignments(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.minhashNearDup(spark, sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b),
        s"pair ($a,$b) split across clusters ${labels(a)}/${labels(b)}")
    }
    // the representative is a member of its own cluster (label = min id)
    labels.values.toSet.foreach { l: Long => assert(labels(l) == l) }
    labels.foreach { case (d, l) => assert(l <= d) }
  }

  test("edit-distance verify: pairs are a candidate subset with dist <= bound") {
    val ed = operators.Dedup.editDistanceNearDup(spark, sf0001, maxDist = 20)
      .collect()
    assert(ed.nonEmpty, "planted near-dups should survive the edit bound")
    ed.foreach(r => assert(r.getAs[Long]("edit_dist") <= 20L))
    // subset of the LSH candidate universe: every verified pair must also
    // be a minhash candidate at threshold 0 (no new pairs invented)
    val cands = operators.Dedup.minhashNearDup(spark, sf0001, threshold = 0.0)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    ed.foreach { r =>
      val p = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert(cands.contains(p), s"$p not in candidate set")
    }
  }

  test("incremental dedup: counts are consistent and drops match cross-boundary signature hits") {
    val out = operators.Dedup.incrementalDedup(spark, sf0001).collect()
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") ==
        r.getAs[Long]("n_new"), r)
    }
    val totalNew = out.map(_.getAs[Long]("n_new")).sum
    assert(totalNew == Tables.documents(spark, sf0001)
      .filter(col("doc_id") >= 200).count())
    // independent cross-check: dropped == new docs whose full signature
    // appears in the historical batch (semi-join formulation)
    val sigs = Tables.documents(spark, sf0001).withColumn("sig",
      array_join(graft.functions.HashExpressions.minhashSig(col("text"), 3, 16), "_"))
    val hist = sigs.filter(col("doc_id") < 200).select("sig").distinct()
    val expectDropped = sigs.filter(col("doc_id") >= 200)
      .join(hist, Seq("sig"), "left_semi").count()
    assert(out.map(_.getAs[Long]("n_dropped")).sum == expectDropped)
  }

  test("shingles: distinct word 3-grams; short docs yield empty array") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(TextHash.shingles(col("text")).as("sh"))
    val rows = df.collect()
    assert(rows(0).getSeq[String](0) == Seq("a b c", "b c d"))
    assert(rows(1).getSeq[String](0).isEmpty)
  }

  test("minhash signature: identical texts agree, disjoint texts differ") {
    val df = Seq("x y z w v u t s r q", "x y z w v u t s r q", "aa bb cc dd ee ff gg hh ii jj")
      .toDF("text")
      .select(TextHash.minhashSignature(TextHash.shingles(col("text"))).as("mh"))
    val sigs = df.collect().map(_.getSeq[Long](0))
    assert(sigs(0) == sigs(1), "same text must give same signature")
    assert(sigs(0) != sigs(2), "disjoint shingle sets should differ")
    assert(sigs.forall(_.forall(v => v >= 0 && v < TextHash.P)))
  }

  test("simhash: identical texts collide; one-token change stays close") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = "the quick brown fox jumps over the lazy cat again and again"
    val far = "zz yy xx ww vv uu tt ss rr qq pp oo"
    val df = Seq(base, base, near, far).toDF("text")
      .select(TextHash.simhash("text").as("s"))
    val s = df.collect().map(_.getLong(0))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(s(0) == s(1))
    assert(ham(s(0), s(2)) < ham(s(0), s(3)),
      s"near doc (${ham(s(0), s(2))}) should be closer than far (${ham(s(0), s(3))})")
  }

  test("exact dedup counts: n_docs = n_unique + n_dup_copies") {
    Dedup.exactDedup(spark, sf0001).collect().foreach { r =>
      assert(r.getAs[Long]("n_docs") ==
        r.getAs[Long]("n_unique") + r.getAs[Long]("n_dup_copies"))
    }
  }

  test("minhash near-dup finds the planted near-duplicates (est_jaccard ~1)") {
    val pairs = Dedup.minhashNearDup(spark, sf0001).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Double]("est_jaccard") >= 0.5))
    assert(pairs.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
  }

  test("simhash near-dup pairs are within declared hamming bound") {
    val pairs = Dedup.simhashNearDup(spark, sf0001).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Long]("hamming") <= 3))
  }

  test("ngram jaccard verified pairs all meet threshold, subset of candidates") {
    val exact = Dedup.ngramJaccardNearDup(spark, sf0001).collect()
    assert(exact.nonEmpty)
    assert(exact.forall(_.getAs[Double]("jaccard") >= 0.5))
  }

  /** Fixture dir with a documents.parquet in the test-table schema. */
  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = tempDir("graft_dedup_fix").toString
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("fixture").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("containment (q156): doc-in-doc pair sub-threshold on Jaccard is caught; verdicts and bp exact") {
    // A is contained verbatim in B (aggregator-page shape); C is an exact
    // copy of A; D is unrelated. The tail makes (A,B)'s Jaccard fall below
    // the 0.8 threshold that its containment clears — the pair a
    // Jaccard-keyed dedup misses.
    val base = "the quick brown fox jumps over the lazy dog while seven " +
      "sleepy badgers watch from a mossy log beside the silver river bend " +
      "under pale morning light today"
    // tail chosen (offline md5 search) so the banding recalls the pair:
    // jaccard = 26/33 ≈ 0.788 < 0.8 yet one of the 4 minhash bands agrees
    val tail = "here discussing bonus editorial commentary adjunct paragraph"
    val rows = Seq(1L -> base, 2L -> (base + " " + tail), 3L -> base,
      4L -> "completely unrelated prose about volcanic basalt columns forming hexagonal patterns near coastal cliffs")
    val dir = docsDir(rows)
    val out = Dedup.containmentNearDup(spark, dir).collect()
    val byPair = out.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r).toMap
    assert(byPair.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"got pairs ${byPair.keySet}")
    assert(byPair((1L, 2L)).getAs[String]("relation") == "a_in_b")
    assert(byPair((1L, 3L)).getAs[String]("relation") == "mutual")
    assert(byPair((2L, 3L)).getAs[String]("relation") == "b_in_a")
    // the catch that motivates the operator: (1,2) is sub-threshold on
    // symmetric Jaccard but fully contained one-way
    assert(byPair((1L, 2L)).getAs[Long]("jaccard_bp") < 8000L)
    assert(byPair((1L, 2L)).getAs[Long]("cont_a_bp") == 10000L)
    // every emitted number matches a driver-side shingle-set recomputation
    def shingleSet(t: String): Set[String] = {
      val toks = t.toLowerCase.split(" ", -1)
      toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val sets = rows.toMap.map { case (id, t) => id -> shingleSet(t) }
    out.foreach { r =>
      val (sa, sb) = (sets(r.getAs[Long]("doc_a")), sets(r.getAs[Long]("doc_b")))
      val inter = (sa intersect sb).size.toLong
      assert(r.getAs[Long]("n_inter") == inter)
      assert(r.getAs[Long]("n_a") == sa.size.toLong)
      assert(r.getAs[Long]("n_b") == sb.size.toLong)
      assert(r.getAs[Long]("jaccard_bp") == inter * 10000 / (sa.size + sb.size - inter))
      assert(r.getAs[Long]("cont_a_bp") == inter * 10000 / sa.size)
      assert(r.getAs[Long]("cont_b_bp") == inter * 10000 / sb.size)
    }
  }

  test("truncation families (q161): head-sharing length variants counted, exact-dup-only groups excluded") {
    val head = "alpha bravo charlie delta echo foxtrot golf hotel"
    val rows = Seq(
      // a 3-member truncation family: same 8-token head, three lengths,
      // PLUS an exact copy of the middle member (4 docs, keep-longest
      // discards 3 of them)
      1L -> head,                                      // 8 tokens
      2L -> (head + " india juliet"),                  // 10 tokens
      3L -> (head + " india juliet kilo lima"),        // 12 tokens
      4L -> (head + " india juliet"),                  // exact copy of 2
      // exact-dup-only group: same head, ONE distinct text — not a family
      5L -> "mike november oscar papa quebec romeo sierra tango uniform",
      6L -> "mike november oscar papa quebec romeo sierra tango uniform",
      // too short for a head fingerprint: excluded entirely
      7L -> "whiskey xray yankee",
      // lone doc: a head group of one
      8L -> "zulu alpha bravo charlie delta echo foxtrot golf hotel india")
    val dir = docsDir(rows)
    val out = Dedup.truncationFamilies(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("lang") == "en")
    // head groups: family head, dup-only head, lone head = 3
    assert(r.getAs[Long]("n_heads") == 3L)
    assert(r.getAs[Long]("n_families") == 1L)
    assert(r.getAs[Long]("n_docs_affected") == 4L)
    // keep-longest keeps doc 3 (12 tokens); discards 8 + 10 + 10
    assert(r.getAs[Long]("wasted_tokens") == 28L)
    // eligible tokens: family 8+10+12+10 = 40, dup pair 9+9 = 18, lone 10
    assert(r.getAs[Long]("total_tokens") == 68L)
    assert(r.getAs[Long]("wasted_bp") == 28L * 10000 / 68)
  }

  test("boilerplate guard: 100-copy doc collapses to one banding rep; pair output stays complete") {
    val boiler = "spam spam lovely spam wonderful spam spam spam lovely spam again ok"
    val other = "a completely different document about quantum chromodynamics lattices here"
    val third = "yet another unrelated text on medieval trade routes across the alps now"
    val rows = (0L until 100L).map(i => i -> boiler) ++
      Seq(100L -> other, 101L -> other, 200L -> third)
    val dir = docsDir(rows)
    // the degenerate-bucket guard: the band self-join's input is ONE row
    // per signature GROUP per band, so a d-copy boilerplate doc costs the
    // join O(groups), not O(d²·bands) — reps here is 3 no matter whether
    // d is 100 or 100 000
    val g = Dedup.sigGroups(spark, dir)
    assert(g.filter(col("doc_id") === col("rep")).count() == 3)
    assert(g.filter(col("gsize") === 100).count() == 100)
    // ...while the OUTPUT pair list keeps exact all-pairs semantics:
    // C(100,2) within-boilerplate pairs at est 1.0, the planted 2-copy
    // pair, and no cross-group pairs (disjoint vocabularies)
    val pairs = Dedup.minhashNearDup(spark, dir).collect()
    assert(pairs.length == 4950 + 1, s"got ${pairs.length} pairs")
    assert(pairs.count(_.getAs[Double]("est_jaccard") == 1.0) == 4951)
    val ids = pairs.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(ids.contains((100L, 101L)))
    assert(ids.forall { case (a, b) => a < b && !(a < 100 ^ b < 100) })
  }

  test("auto label propagation fully merges a diameter-8 chain that fixed-6 under-merges") {
    // chain 0-1-2-…-8: consecutive docs are near-dups, ends are not —
    // min-label propagation needs DIAMETER rounds, so rounds=6 provably
    // under-merges while rounds=auto converges and stops by itself
    val chain = (0L until 8L).map(i => i -> (i + 1))
      .toDF("doc_a", "doc_b")
    val fixed6 = Dedup.propagateLabels(chain, rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixed6.values.toSet.size > 1,
      "fixed-6 unexpectedly merged a diameter-8 chain — fixture too easy")
    val (autoDf, roundsRun) = Dedup.propagateLabelsAuto(chain)
    val auto = autoDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(auto.keySet == (0L to 8L).toSet)
    assert(auto.values.forall(_ == 0L),
      s"auto propagation left unmerged labels: $auto")
    // converges in diameter + 1 rounds (the +1 detects the fixpoint)
    assert(roundsRun >= 7 && roundsRun <= 10, s"roundsRun=$roundsRun")
  }

  test("snapshot near-dup intake (q116): flags agree with the pairwise candidate ground truth") {
    val rows = Dedup.snapshotNearDupIntake(spark, sf0001).collect()
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // totals: delta side is exactly the odd half, flags partition it
    assert(rows.map(_.getAs[Long]("n_delta")).sum == docs.keys.count(_ % 2 == 1))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_flagged") + r.getAs[Long]("n_fresh") ==
        r.getAs[Long]("n_delta"))
    }
    // ground truth: an odd doc is flagged iff SOME candidate pair links
    // it to an even doc (threshold 0.0 returns every banded candidate)
    val pairs = Dedup.minhashNearDup(spark, sf0001, threshold = 0.0).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val flaggedTruth = pairs.flatMap { case (a, b) =>
      Seq(a, b).filter(d => d % 2 == 1 &&
        (if (d == a) b % 2 == 0 else a % 2 == 0))
    }.distinct
    val truthByLang = flaggedTruth.groupBy(docs).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      assert(r.getAs[Long]("n_flagged") == truthByLang.getOrElse(lang, 0L),
        s"$lang: operator ${r.getAs[Long]("n_flagged")} vs truth ${truthByLang.getOrElse(lang, 0L)}")
    }
  }

  test("auto cluster assignments agree with fixed-round on the test corpus") {
    val fixed = Dedup.dedupClusterAssignments(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val auto = Dedup.dedupClusterAssignmentsAuto(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the sf0.001 graph converges well inside 6 rounds (asserted by the
    // fixpoint test above), so auto must land on the identical labeling
    assert(auto == fixed)
  }

  test("redundancy-quality audit (q118): bands partition the corpus, reconcile with the cluster histogram") {
    val rows = Dedup.redundancyQualityAudit(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs,
      "bands must partition the corpus")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_clusters") <= r.getAs[Long]("n_docs"))
      // band mean is the exact integer quotient of the band's sums
      assert(r.getAs[Long]("avg_q_micro") ==
        r.getAs[Long]("sum_q_micro") / r.getAs[Long]("n_docs"))
    }
    // reconcile against q64's independent cluster histogram: per band,
    // cluster and doc counts must agree with the size-bucketed rollup
    val hist = Dedup.dedupClusters(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("cluster_size"), r.getAs[Long]("n_clusters"),
        r.getAs[Long]("n_docs")))
    def band(cs: Long): String =
      if (cs == 1) "1" else if (cs == 2) "2"
      else if (cs <= 4) "3-4" else if (cs <= 8) "5-8" else "9+"
    val expect = hist.groupBy(h => band(h._1)).view
      .mapValues(hs => (hs.map(_._2).sum, hs.map(_._3).sum)).toMap
    rows.foreach { r =>
      val b = r.getAs[String]("size_band")
      assert((r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs")) == expect(b),
        s"band $b disagrees with the q64 histogram")
    }
    // fixture corpus plants duplicates: a multi-doc band must exist
    assert(rows.exists(_.getAs[String]("size_band") != "1"))
  }

  test("effective size (q123): kept side is one representative per cluster, ratios exact") {
    val rows = Dedup.effectiveSize(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs)
    // kept total equals the q64 cluster count (one rep per cluster,
    // singletons included)
    val clusters = Dedup.dedupClusters(spark, sf0001).collect()
      .map(_.getAs[Long]("n_clusters")).sum
    assert(rows.map(_.getAs[Long]("n_kept")).sum == clusters,
      "representatives must be exactly one per cluster")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("kept_tokens") <= r.getAs[Long]("sum_tokens"))
      assert(r.getAs[Long]("redundancy_bp") >= 10000L)
      assert(r.getAs[Long]("savings_bp") >= 0L &&
        r.getAs[Long]("savings_bp") < 10000L)
      assert(r.getAs[Long]("redundancy_bp") ==
        BigInt(r.getAs[Long]("sum_tokens")) * 10000 /
          r.getAs[Long]("kept_tokens"))
    }
    // the duplicate-planted fixture must show real savings somewhere
    assert(rows.exists(_.getAs[Long]("savings_bp") > 0L))
  }

  test("bucket occupancy (q124): band algebra exact, histogram covers every banded row") {
    val rows = Dedup.bucketOccupancy(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val valid = Set("1", "2", "3-4", "5-8", "9+")
    rows.foreach { r =>
      assert(valid(r.getAs[String]("occ_band")))
      assert(r.getAs[Long]("n_rows") >= r.getAs[Long]("n_buckets"))
      r.getAs[String]("occ_band") match {
        case "1" =>
          assert(r.getAs[Long]("n_pairs") == 0L)
          assert(r.getAs[Long]("n_rows") == r.getAs[Long]("n_buckets"))
        case "2" =>
          assert(r.getAs[Long]("n_pairs") == r.getAs[Long]("n_buckets"))
          assert(r.getAs[Long]("n_rows") == 2 * r.getAs[Long]("n_buckets"))
        case _ =>
          assert(r.getAs[Long]("n_pairs") > r.getAs[Long]("n_buckets"))
      }
    }
    // every doc lands in every band exactly once: total rows = docs × bands
    val docs = Tables.documents(spark, sf0001).count()
    val totalRows = rows.map(_.getAs[Long]("n_rows")).sum
    assert(totalRows % docs == 0L,
      s"banded rows $totalRows must be a whole multiple of $docs docs")
    // the fixture's planted duplicates must concentrate somewhere
    assert(rows.exists(_.getAs[String]("occ_band") != "1"))
  }

  test("threshold curve (q126): cumulative counts reconcile with the thresholded operators") {
    val rows = Dedup.thresholdSensitivity(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // levels are exact i/k grid points, strictly increasing
    val ests = rows.map(_.getAs[Double]("est_jaccard"))
    assert(ests.sameElements(ests.sorted.distinct))
    ests.foreach(e => assert((e * 16).isWhole, s"est $e must sit on the i/16 grid"))
    // cumulative is the suffix sum of the level counts, and its head
    // (the lowest level's cumulative) is the total candidate count
    val levels = rows.map(r => (r.getAs[Double]("est_jaccard"), r.getAs[Long]("n_pairs")))
    rows.foreach { r =>
      val e = r.getAs[Double]("est_jaccard")
      assert(r.getAs[Long]("n_at_or_above") ==
        levels.filter(_._1 >= e).map(_._2).sum)
    }
    // the curve must price the q20 default threshold exactly
    val q20 = Dedup.minhashNearDup(spark, sf0001, threshold = 0.5).count()
    val atHalf = rows.filter(_.getAs[Double]("est_jaccard") >= 0.5)
      .map(_.getAs[Long]("n_pairs")).sum
    assert(atHalf == q20, s"curve says $atHalf pairs at t=0.5, q20 merges $q20")
  }

  test("dup flow matrix (q129): cells cover every merge pair, sources recomputed exactly") {
    val rows = Dedup.dupFlowMatrix(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // totals reconcile with the q20 merge set
    val pairs = Dedup.minhashNearDup(spark, sf0001, threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == pairs.length.toLong)
    // driver-side source attribution
    val src = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = pairs.map { case (a, b) =>
      val (sa, sb) = (src(a), src(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      val cell = (r.getAs[String]("source_a"), r.getAs[String]("source_b"))
      assert(r.getAs[Long]("n_pairs") == expect(cell), s"cell $cell")
      assert(r.getAs[Boolean]("cross_source") == (cell._1 != cell._2))
    }
  }

  test("manifest delta (q133): the xor delta is exactly the dropped set's certificate") {
    val rows = Dedup.dedupManifestDelta(spark, sf0001).collect()
    assert(rows.length == 16)
    // totals reconcile with the q123 effective-size decision
    val eff = Dedup.effectiveSize(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_full")).sum ==
      eff.map(_.getAs[Long]("n_docs")).sum)
    assert(rows.map(_.getAs[Long]("n_kept")).sum ==
      eff.map(_.getAs[Long]("n_kept")).sum)
    // the certificate property: per shard, xor over the DROPPED docs'
    // signatures (recomputed independently) equals the published delta
    val kept = Dedup.dedupClusterAssignments(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("label")))
    val keptSet = {
      val members = kept.map(_._1).toSet
      val reps = kept.filter(t => t._1 == t._2).map(_._1).toSet
      (id: Long) => !members.contains(id) || reps.contains(id)
    }
    val dropped = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        graft.functions.TextHash.h1(concat(lit("shuf:42:"),
          col("doc_id").cast("string"))).as("skey"),
        graft.functions.TextHash.h1(concat(col("doc_id").cast("string"),
          lit(":"), sha2(col("text").cast("binary"), 256))).as("sig"))
      .collect()
      .filter(r => !keptSet(r.getAs[Long]("doc_id")))
      .map(r => (r.getAs[Long]("skey") % 16, r.getAs[Long]("sig")))
    val deltaByShard = dropped.groupBy(_._1).view
      .mapValues(_.map(_._2).foldLeft(0L)(_ ^ _)).toMap
    rows.foreach { r =>
      val sh = r.getAs[Long]("shard")
      assert(r.getAs[Long]("xor_delta") == deltaByShard.getOrElse(sh, 0L),
        s"shard $sh delta must certify exactly the dropped docs")
      assert(r.getAs[Long]("n_dropped") ==
        dropped.count(_._1 == sh).toLong)
    }
  }

  test("priority dedup: trusted source wins its group, scrape never survives") {
    import org.apache.spark.sql.functions._
    val kept = Dedup.priorityKept(spark, sf0001).collect()
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    // exactly one keeper per distinct (lang, text): the injected copies
    // never add groups, only members
    assert(kept.length == docs.map(_._2).distinct.length)
    val keptBySource = kept.groupBy(_.getAs[String]("source"))
    // the mirror (priority 0) must win every group it appears in — one
    // per doc_id % 7 == 0 original
    assert(keptBySource.getOrElse("mirror", Array.empty).length ==
      docs.count(_._1 % 7 == 0))
    // the scrape (priority 9) always coexists with its original and must
    // never be kept
    assert(!keptBySource.contains("scrape"))
    // group sizes account for every injected copy
    val copies = kept.map(_.getAs[Long]("copies")).sum
    assert(copies == docs.length + docs.count(_._1 % 7 == 0) +
      docs.count(_._1 % 5 == 0))
    // winners carry the WINNING copy's doc_id: mirror winners live in the
    // injected id range
    kept.filter(_.getAs[String]("source") == "mirror").foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(id >= 1000000L && id < 2000000L && (id - 1000000L) % 7 == 0)
    }
  }

  test("contrastive pairs: star pair count equals the cluster histogram's members-minus-anchors") {
    val pairs = graft.operators.Dedup.contrastivePairs(spark, sf0001).collect()
    assert(pairs.nonEmpty)
    val nPairs = pairs.map(_.getAs[Long]("n_pairs")).sum
    // every multi-member component of size s contributes exactly s-1
    // star pairs, so the totals must reconcile with the q64 histogram
    val hist = graft.operators.Dedup.dedupClusters(spark, sf0001).collect()
    val expected = hist.filter(_.getAs[Long]("cluster_size") > 1L)
      .map(r => r.getAs[Long]("n_clusters") * (r.getAs[Long]("cluster_size") - 1)).sum
    assert(nPairs == expected, s"star pairs $nPairs vs histogram $expected")
    pairs.foreach { r =>
      assert(r.getAs[Long]("n_anchors") <= r.getAs[Long]("n_pairs"))
      assert(r.getAs[Long]("max_pairs_per_anchor") >= 1L)
    }
  }

  test("hard negatives: mined pairs all estimate strictly below the dedup threshold") {
    val rows = graft.operators.Dedup.hardNegatives(spark, sf0001).collect()
    assert(rows.nonEmpty, "the 2-row mining probe must surface sub-threshold pairs")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pairs") > 0L)
      assert(r.getAs[Double]("max_est") < 0.5)
      assert(r.getAs[Double]("avg_est") <= r.getAs[Double]("max_est"))
      assert(r.getAs[Double]("avg_est") >= 0.0)
    }
  }

  test("hard-negative guard: d-copy group enters the sub-band join once; output matches the naive member-level mining") {
    val boiler = "spam spam lovely spam wonderful spam spam spam lovely spam again ok"
    val other = "a completely different document about quantum chromodynamics lattices here"
    // partial-overlap docs: share a long prefix with boiler (so some 2-row
    // sub-band collides) but diverge enough to estimate below 0.5 — the
    // hard-negative shape the probe exists to mine
    val mixed = (0 until 6).map(i =>
      s"spam spam lovely spam wonderful spam topic$i diverges entirely here " +
        s"with extra$i trailing material$i now")
    val rows = (0L until 100L).map(i => i -> boiler) ++
      Seq(100L -> other, 101L -> other) ++
      mixed.zipWithIndex.map { case (t, i) => (300L + i) -> t }
    val dir = docsDir(rows)
    val g = Dedup.sigGroups(spark, dir)
    val nReps = g.filter(col("doc_id") === col("rep")).count()
    // 100-copy boiler collapses to one rep; other's 2 copies to one
    assert(nReps == 2 + mixed.length,
      s"reps=$nReps — fixture groups changed")
    val bandsPerDoc = g.select(size(col("mh"))).first().getInt(0) / Dedup.HnSubRows
    // the join INPUT is one row per rep per sub-band — independent of the
    // boiler group's 100 members (the quadratic exposure this guards)
    assert(Dedup.hnBandedReps(spark, dir).count() == nReps * bandsPerDoc)
    // losslessness: the guarded output must equal the naive member-level
    // formulation (every doc banded, no collapse) aggregated identically
    val sig = g.select(col("doc_id"), col("mh"))
    val b = sig.select(col("doc_id"), col("mh"),
        explode(sequence(lit(0), lit(bandsPerDoc - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        array_join(slice(col("mh"), col("band") * Dedup.HnSubRows + 1,
          lit(Dedup.HnSubRows)), "_").as("sig"), col("mh"))
    val k = bandsPerDoc * Dedup.HnSubRows
    val est = aggregate(
      zip_with(col("x.mh"), col("y.mh"),
        (u, v) => when(u === v, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v) / lit(k.toDouble)
    val naive = b.as("x").join(b.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        round(est, 4).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") < 0.5)
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("est_jaccard")) / count(lit(1)), 6).as("avg_est"),
        max(col("est_jaccard")).as("max_est"))
      .first()
    assert(naive.getAs[Long]("n_pairs") > 0L,
      "fixture produced no sub-threshold collisions — overlap too weak to exercise the guard")
    val guarded = Dedup.hardNegatives(spark, dir).collect()
    assert(guarded.length == 1) // fixture is all-"en"
    assert(guarded(0).getAs[Long]("n_pairs") == naive.getAs[Long]("n_pairs"))
    assert(guarded(0).getAs[Double]("avg_est") == naive.getAs[Double]("avg_est"))
    assert(guarded(0).getAs[Double]("max_est") == naive.getAs[Double]("max_est"))
  }

  test("preference pairs (q101): election matches a driver-side recomputation") {
    val q = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        round(graft.operators.TextAnalysis.qualityScore(col("text")), 6).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val members = Dedup.dedupClusterAssignments(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("label")))
    val expect = members.groupBy(_._2).toSeq.flatMap { case (label, rs) =>
      val ids = rs.map(_._1)
      val qs = ids.map(id => id -> q(id))
      val (qmax, qmin) = (qs.map(_._2).max, qs.map(_._2).min)
      if (ids.length >= 2 && qmax > qmin)
        Some((label, qs.filter(_._2 == qmax).map(_._1).min,
          qs.filter(_._2 == qmin).map(_._1).max,
          math.round((qmax - qmin) * 1000000)))
      else None
    }.toSet
    val got = Dedup.preferencePairElection(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("label"), r.getAs[Long]("chosen_id"),
        r.getAs[Long]("rejected_id"), r.getAs[Long]("margin_micro"))).toSet
    assert(got == expect, s"election drift: got ${got.size}, want ${expect.size}")
    assert(got.nonEmpty, "fixture corpus produced no preference pairs")
    // a pair always has distinct ends and a strictly positive margin
    got.foreach { case (_, c, r, m) => assert(c != r && m > 0L) }
    // the audit's pair count reconciles with the election rows
    val audited = Dedup.preferencePairs(spark, sf0001).collect()
      .map(_.getAs[Long]("n_pairs")).sum
    assert(audited == got.size.toLong)
  }

  test("fuzzy contamination (q112): triage flags consistent, fixture separates the regimes") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.fuzzyContamination(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_exact_flagged") <= r.getAs[Long]("n_corpus_docs"))
      assert(r.getAs[Long]("n_fuzzy_flagged") <= r.getAs[Long]("n_corpus_docs"))
      assert(r.getAs[Long]("n_both") <=
        math.min(r.getAs[Long]("n_exact_flagged"), r.getAs[Long]("n_fuzzy_flagged")))
    }
    // fixture: doc 0 is the benchmark. doc 10 is its exact duplicate
    // (both flags); doc 11 shares ONE 5-gram embedded in otherwise
    // different text (exact-only — the incidental-overlap regime);
    // doc 12 is clean
    import spark.implicits._
    val dir = tempDir("graft_fuzzcont").toString
    Seq((0L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10", "en", "src0"),
        (10L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10", "en", "src0"),
        (11L, "x1 x2 x3 b1 b2 b3 b4 b5 y1 y2 y3 y4 y5 y6 y7 y8 y9", "en", "src0"),
        (12L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val f = Dedup.fuzzyContamination(spark, dir).collect()
    assert(f.length == 1)
    assert(f.head.getAs[Long]("n_corpus_docs") == 3L)
    assert(f.head.getAs[Long]("n_exact_flagged") == 2L) // docs 10 and 11
    assert(f.head.getAs[Long]("n_fuzzy_flagged") == 1L) // only the true dup
    assert(f.head.getAs[Long]("n_both") == 1L)
  }

  test("lsh recall audit (q110): ratios valid, identical probes always retrieved") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.lshRecallAudit(spark, sf0001).collect()
    assert(rows.nonEmpty, "probe set found no true near-dup pairs at sf0.001")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_retrieved") <= r.getAs[Long]("n_true"))
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // exact-duplicate probes (J = 1.0) are ALWAYS retrieved: identical
    // signatures collapse to one sig-group, whose within-group pairs are
    // reconstructed deterministically — recall 1.0 by construction
    import spark.implicits._
    val dir = tempDir("graft_lshrec").toString
    val shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    Seq((1L, shared, "en", "src0"),
        (2L, shared, "en", "src0"),
        (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val f = Dedup.lshRecallAudit(spark, dir).collect()
    assert(f.length == 1)
    assert(f.head.getAs[String]("bucket") == "[0.9,1.0]")
    assert(f.head.getAs[Long]("n_true") == 1L)
    assert(f.head.getAs[Double]("recall") == 1.0)
  }
}
