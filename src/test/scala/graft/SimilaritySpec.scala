package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Unit coverage for similarity search (SURVEY.md §2.12 X3). */
class SimilaritySpec extends SparkSpec {

  test("mutualNn (q232): reciprocal pairs, tie-break, bucket-isolated vector") {
    import spark.implicits._
    val dir = tempDir("graft_mnn").toString
    // a = (1, 0.5, 0…): plane dots ∈ {±1.5, ±0.5}, never 0 — so −a lands
    // in the exact complementary bucket, guaranteed apart from a.
    val a = Array.tabulate(64)(i => if (i == 0) 1.0f else if (i == 1) 0.5f else 0.0f)
    val na = a.map(-_)
    // v0=v1=v2=a (labels 0,0,1) share a bucket; cosine ties resolve by
    // vec_id: nn(0)=1, nn(1)=0 (mutual), nn(2)=0 (one-directional).
    // v3=−a (label 2) is alone in its bucket → no candidates at all.
    Seq((0L, a, 0), (1L, a, 0), (2L, a, 1), (3L, na, 2))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.mutualNn(spark, dir).collect()
      .map(r => r.getAs[Int]("label") ->
        ((r.getAs[Long]("n_vecs"), r.getAs[Long]("n_nn"),
          r.getAs[Long]("n_mutual"), r.getAs[Long]("mutual_bp"),
          r.getAs[Long]("n_intra"), r.getAs[Long]("intra_bp")))).toMap
    assert(out == Map(
      0 -> ((2L, 2L, 2L, 10000L, 2L, 10000L)),
      1 -> ((1L, 1L, 0L, 0L, 0L, 0L)),
      2 -> ((1L, 0L, 0L, 0L, 0L, 0L))), s"got $out")
  }

  test("probeDepthFrontier (q234): antipodal buckets keep every depth's profile; nesting algebra exact") {
    import spark.implicits._
    val dir = tempDir("graft_pdf").toString
    // a and −a land in complementary 4-bit buckets (every plane sign
    // flips), so their prefixes differ at EVERY depth: all four depths
    // must show the identical 2-bucket profile — the prefix-nesting
    // algebra in its closed form. occ {6, 2}, n = 8:
    // pairs = 6·5 + 2·1 = 32 → exp = 32·1000 div 8 = 4000 milli
    val a = Array.tabulate(64)(i => if (i == 0) 1.0f else if (i == 1) 0.5f else 0.0f)
    val na = a.map(-_)
    val rows = (0L until 6L).map(i => (i, a, 0)) ++ Seq((6L, na, 1), (7L, na, 1))
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.probeDepthFrontier(spark, dir).collect()
      .map(r => r.getAs[Long]("p") ->
        ((r.getAs[Long]("n_buckets"), r.getAs[Long]("hottest"),
          r.getAs[Long]("hot_share_bp"), r.getAs[Long]("exp_candidates_milli"),
          r.getAs[Boolean]("elected")))).toMap
    assert(out == Map(
      1L -> ((2L, 6L, 7500L, 4000L, true)), // shallowest under budget wins
      2L -> ((2L, 6L, 7500L, 4000L, false)),
      3L -> ((2L, 6L, 7500L, 4000L, false)),
      4L -> ((2L, 6L, 7500L, 4000L, false))), s"got $out")
  }

  test("probeDepthFrontier: refinement monotonicity and election rule on the sf fixture") {
    val rows = Similarity.probeDepthFrontier(spark, sf0001).collect()
      .sortBy(_.getAs[Long]("p"))
    assert(rows.map(_.getAs[Long]("p")).toSeq == Seq(1L, 2L, 3L, 4L))
    // refining a partition can only split cells: buckets grow, the
    // hottest bucket and the quadratic pair mass never increase
    val nb = rows.map(_.getAs[Long]("n_buckets")).toSeq
    val hot = rows.map(_.getAs[Long]("hottest")).toSeq
    val exp = rows.map(_.getAs[Long]("exp_candidates_milli")).toSeq
    assert(nb == nb.sorted, s"bucket counts must be non-decreasing: $nb")
    assert(hot == hot.sorted.reverse, s"hottest must be non-increasing: $hot")
    assert(exp == exp.sorted.reverse, s"expected candidates must be non-increasing: $exp")
    // exactly one elected row, and it follows the budget rule
    val elected = rows.filter(_.getAs[Boolean]("elected")).map(_.getAs[Long]("p"))
    assert(elected.length == 1, s"exactly one elected depth: $elected")
    val meeting = rows.filter(_.getAs[Long]("exp_candidates_milli")
      <= Similarity.ProbeBudgetMilli).map(_.getAs[Long]("p"))
    assert(elected.head == (if (meeting.nonEmpty) meeting.min else Similarity.Planes.toLong))
  }

  test("hyperplanes are deterministic ±1 and fixed across calls") {
    assert(Similarity.Hyperplanes.size == Similarity.Bands * Similarity.BandPlanes)
    assert(Similarity.Hyperplanes.forall(_.size == Similarity.Dim))
    assert(Similarity.Hyperplanes.flatten.forall(w => w == 1.0 || w == -1.0))
    assert(Similarity.Hyperplanes == Similarity.Hyperplanes)
  }

  test("PQ-ADC: ranks dense, distance non-decreasing, every vector encoded") {
    val top = Similarity.pqAdcTopK(spark, sf0001, k = 5).collect()
    assert(top.nonEmpty)
    top.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq == (1L to byRank.length))
      val dists = byRank.map(_.getAs[Long]("adc_micro")).toSeq
      assert(dists == dists.sorted, "ADC distance must not decrease with rank")
      assert(dists.forall(_ >= 0L), "squared-L2 micro-distances are non-negative")
    }
    // the query is its own nearest vector in true distance; ADC must not
    // return it (excluded), and results must be distinct per query
    top.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val ids = rows.map(_.getAs[Long]("vec_id"))
      assert(!ids.contains(q) && ids.distinct.length == ids.length)
    }
  }

  test("int8 quantization: absmax element saturates, error bounded by half-step") {
    val rows = Similarity.quantizationAudit(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val nVecs = rows.map(_.getAs[Long]("n_vecs")).sum
    // the max-|x| component always quantizes to exactly ±127
    assert(rows.map(_.getAs[Long]("n_saturated")).sum >= nVecs)
    // per-component error ≤ scale/2, scale ≤ amax/127 ≤ ~1/127 for unit-ish
    // vectors → generous per-vector SSE sanity cap in micro-units
    rows.foreach { r =>
      val avgSse = r.getAs[Long]("sum_sse_micro").toDouble / r.getAs[Long]("n_vecs")
      assert(avgSse >= 0.0 && avgSse < 1e6, s"label ${r.get(0)}: avg SSE $avgSse µ")
    }
  }

  test("brute-force top-k: cosine in [-1,1], ranks dense from 1, ordered desc") {
    val rows = Similarity.cosineTopK(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => math.abs(r.getAs[Double]("cosine")) <= 1.0))
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, g) =>
      val ranked = g.sortBy(_.getAs[Long]("rank"))
      assert(ranked.map(_.getAs[Long]("rank")).toSeq == (1L to g.length).toSeq)
      val cos = ranked.map(_.getAs[Double]("cosine")).toSeq
      assert(cos == cos.sorted.reverse, "cosine must be non-increasing in rank")
    }
  }

  test("ANN top-k is a subset-ranking of brute-force candidates (bucket recall)") {
    val ann = Similarity.annTopK(spark, sf0001).collect()
    assert(ann.nonEmpty)
    // every ANN hit must appear in the full brute-force ranking with the
    // same rounded cosine (bucketing can only drop candidates, not alter
    // scores)
    val brute = Similarity.cosineTopK(spark, sf0001, k = 1000).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("cosine")).toMap
    ann.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      assert(brute.get(key).contains(r.getAs[Double]("cosine")))
    }
  }

  test("bounded-heap top-k is row-identical to the window-rank formulation") {
    import org.apache.spark.sql.expressions.Window
    // reference: the single-task window formulation the aggregator replaced
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id").isin(Similarity.QueryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      graft.functions.HashExpressions.dotProduct(a, b)
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot(col("qv"), col("v")) /
          (sqrt(dot(col("qv"), col("qv"))) * sqrt(dot(col("v"), col("v")))), 6)
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val ref = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank")).collect().toSeq
    val got = Similarity.cosineTopK(spark, sf0001, k = 10)
      .collect().toSeq
    assert(got == ref)
  }

  test("top-k plan has no corpus-wide single-partition sort (partial agg shape)") {
    val plan = Similarity.cosineTopK(spark, sf0001)
      .queryExecution.executedPlan.toString
    // ranking runs as a partial+final aggregate, not a window over an
    // exchange that funnels every candidate into one partition per query
    assert(plan.contains("Aggregate"), s"expected aggregate-based ranking:\n$plan")
    assert(!plan.contains("Window"), s"expected no window rank in plan:\n$plan")
  }

  test("TopKHits reduce/merge keep a sorted k-bounded buffer") {
    val agg = new graft.functions.TopKHits(3)
    import graft.functions.ScoredHit
    val hits = Seq(
      ScoredHit(0.5, 7L), ScoredHit(0.9, 3L), ScoredHit(0.9, 1L),
      ScoredHit(0.1, 9L), ScoredHit(0.7, 2L), ScoredHit(0.9, 5L))
    val folded = hits.foldLeft(agg.zero)(agg.reduce)
    assert(folded == Seq(ScoredHit(0.9, 1L), ScoredHit(0.9, 3L), ScoredHit(0.9, 5L)))
    // merge of disjoint partials == fold of the union
    val (l, r) = hits.splitAt(3)
    val merged = agg.merge(
      l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(merged == folded)
    // merge with empty is identity
    assert(agg.merge(folded, agg.zero) == folded)
    assert(agg.merge(agg.zero, folded) == folded)
  }

  test("multi-probe IVF: nprobe=1 matches single-probe; exhaustive nprobe = brute force") {
    val single = Similarity.ivfTopK(spark, sf0001, k = 5).collect().toSeq
    val mp1 = Similarity.ivfMultiProbeTopK(spark, sf0001, k = 5, nprobe = 1)
      .collect().toSeq
    assert(mp1 == single, "nprobe=1 must reduce to the single-probe plan")
    // probing every inverted list IS exhaustive search
    val all = Similarity.ivfMultiProbeTopK(spark, sf0001, k = 5,
      nprobe = Similarity.KmClusters).collect().toSeq
    val brute = Similarity.cosineTopK(spark, sf0001, k = 5).collect().toSeq
    assert(all == brute, s"nprobe=${Similarity.KmClusters} must equal brute force")
    // recall grows monotonically with nprobe: nprobe=2's hit set contains
    // every nprobe=1 hit that survives the deeper candidate pool's top-5
    val mp2 = Similarity.ivfMultiProbeTopK(spark, sf0001, k = 5, nprobe = 2)
      .collect().toSeq
    assert(mp2.nonEmpty && mp2.size == single.size)
  }

  test("embedding near-dup: symmetric-free pairs above threshold") {
    val nd = Similarity.embeddingNearDup(spark, sf0001).collect()
    assert(nd.nonEmpty)
    assert(nd.forall(_.getAs[Double]("cosine") >= 0.2))
    assert(nd.forall(r => r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b")))
  }

  test("semantic dedup: partitioned audit, dups non-trivial, tau monotone") {
    val audit = Similarity.semanticDedup(spark, sf0001).collect()
    val corpus = Tables.embeddings(spark, sf0001).count()
    // every vector is audited exactly once across clusters
    assert(audit.map(_.getAs[Long]("n_members")).sum == corpus)
    audit.foreach { r =>
      val (m, d, k) = (r.getAs[Long]("n_members"),
        r.getAs[Long]("n_dups"), r.getAs[Long]("n_kept"))
      assert(d + k == m && d >= 0)
      // the min-id member of a cluster has no smaller-id neighbor, so a
      // non-empty cluster always keeps at least one representative
      assert(k >= 1)
    }
    val dupTotal = audit.map(_.getAs[Long]("n_dups")).sum
    assert(dupTotal > 0, "fixture tau should flag some semantic dups")
    // an unreachable threshold keeps everything...
    val none = Similarity.semanticDedup(spark, sf0001, tau = 1.1).collect()
    assert(none.map(_.getAs[Long]("n_dups")).sum == 0)
    // ...and loosening tau can only grow the dup set
    val loose = Similarity.semanticDedup(spark, sf0001, tau = 0.25).collect()
    assert(loose.map(_.getAs[Long]("n_dups")).sum >= dupTotal)
    // at test SF no cluster exceeds the default guard: semantics identical
    // to the unguarded plan, n_shards all 1
    assert(audit.forall(_.getAs[Long]("n_shards") == 1L))
  }

  test("semantic dedup guard: one giant degenerate cluster is sub-sharded, join bounded") {
    // 64 identical unit-ish vectors: every centroid collapses to the same
    // point, the cid tie-break funnels ALL vectors into cluster 0 — the
    // exact degenerate distribution the guard exists for
    val n = 64
    val dir = tempDir("graft_semdedup").toString
    val vec = Array.tabulate(64)(i => (0.1f + 0.01f * (i % 7)))
    import spark.implicits._
    (0L until n.toLong).map(i => (i, vec, 0))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val guarded = Similarity.semanticDedup(spark, dir, maxCluster = 8).collect()
    // one cluster holds the whole corpus, split into ceil(64/8)=8 shards
    assert(guarded.map(_.getAs[Long]("n_members")).sum == n.toLong)
    val giant = guarded.filter(_.getAs[Long]("n_members") == n.toLong)
    assert(giant.length == 1, "all-identical vectors must land in one cluster")
    assert(giant.head.getAs[Long]("n_shards") == 8L)
    // identical vectors: within each shard everything above tau, so the
    // guarded plan keeps EXACTLY one representative per shard — direct
    // evidence the self-join ran per-shard (8·C(8,2)=224 candidate pairs,
    // not C(64,2)=2016) while the audit discloses the split
    assert(giant.head.getAs[Long]("n_kept") == 8L)
    assert(giant.head.getAs[Long]("n_dups") == (n - 8).toLong)
    // the unguarded semantics on the same corpus keep a single rep
    val unguarded = Similarity.semanticDedup(spark, dir, maxCluster = 1 << 20)
      .collect().filter(_.getAs[Long]("n_members") == n.toLong)
    assert(unguarded.head.getAs[Long]("n_kept") == 1L)
    assert(unguarded.head.getAs[Long]("n_shards") == 1L)
  }

  test("ann recall audit: valid ratios, non-decreasing in nprobe, exhaustive probe is exact") {
    val rows = Similarity.annRecall(spark, sf0001).collect()
    val byKind = rows.groupBy(_.getAs[String]("index_kind"))
    assert(byKind.keySet == Set("ivf_nprobe1", "ivf_nprobe2"))
    rows.foreach { r =>
      val k = r.getAs[Long]("k"); val hit = r.getAs[Long]("n_hit")
      assert(k == 10L && hit >= 0L && hit <= k)
      assert(math.abs(r.getAs[Double]("recall") - hit.toDouble / k) < 1e-6)
    }
    // multi-probe candidate lists are supersets: recall never drops
    val r1 = byKind("ivf_nprobe1").map(r =>
      r.getAs[Long]("query_id") -> r.getAs[Double]("recall")).toMap
    byKind("ivf_nprobe2").foreach { r =>
      assert(r.getAs[Double]("recall") >= r1(r.getAs[Long]("query_id")))
    }
    // probing every centroid IS brute force: recall must be exactly 1
    val full = Similarity.annRecall(spark, sf0001,
        nprobe = Similarity.KmClusters).collect()
      .filter(_.getAs[String]("index_kind") != "ivf_nprobe1")
    assert(full.nonEmpty && full.forall(_.getAs[Double]("recall") == 1.0))
  }

  test("list occupancy (q125): lists partition the corpus, balance algebra exact") {
    val rows = graft.operators.Similarity.listOccupancy(spark, sf0001).collect()
    assert(rows.nonEmpty &&
      rows.length <= graft.operators.Similarity.KmClusters)
    val total = Tables.embeddings(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == total,
      "every vector lives in exactly one inverted list")
    rows.foreach { r =>
      val n = r.getAs[Long]("n_vecs")
      assert(r.getAs[Long]("share_bp") == n * 10000 / total)
      assert(r.getAs[Long]("balance_bp") ==
        n * graft.operators.Similarity.KmClusters * 10000 / total)
    }
    // probe cost at nprobe=1 is the list size: the hottest list bounds it
    assert(rows.map(_.getAs[Long]("n_vecs")).max < total,
      "fixture k-means must not collapse to one list")
  }

  test("norm audit (q131): exact integer norms, recomputed driver-side") {
    val rows = graft.operators.Similarity.normAudit(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // driver-side exact recomputation on the lifted 1e-4 integers
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("label").cast("long"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)
        .map(x => BigDecimal(x * 10000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
        .map(i => i * i).sum))
    val byLabel = vecs.groupBy(_._1)
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == vecs.length.toLong)
    rows.foreach { r =>
      val l = r.getAs[Long]("label")
      val n2s = byLabel(l).map(_._2)
      assert(r.getAs[Long]("min_norm2_e8") == n2s.min)
      assert(r.getAs[Long]("max_norm2_e8") == n2s.max)
      assert(r.getAs[Long]("avg_norm2_e8") == n2s.sum / n2s.length)
      assert(r.getAs[Long]("min_norm2_e8") > 0L,
        "fixture vectors must have nonzero norm")
    }
  }

  test("label purity: partitions the corpus, margins consistent with misalignment") {
    val rows = Similarity.labelPurity(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum ==
      Tables.embeddings(spark, sf0001).count())
    rows.foreach { r =>
      val n = r.getAs[Long]("n_vecs"); val mis = r.getAs[Long]("n_misaligned")
      assert(mis >= 0 && mis <= n)
      val avg = r.getAs[Double]("avg_margin")
      assert(math.abs(avg - r.getAs[Long]("sum_margin_micro").toDouble / n / 1e6) < 1e-6)
      // a label where EVERY vector is misaligned must have negative
      // average margin, and a fully-aligned label a non-negative one
      if (mis == n) assert(avg < 0.0)
      if (mis == 0L) assert(avg >= 0.0)
    }
    // perfectly separable fixture: two orthogonal label groups -> zero
    // misalignment, strictly positive margins
    val dir = tempDir("graft_purity").toString
    val a = Array.tabulate(64)(i => if (i < 32) 1.0f else 0.0f)
    val b = Array.tabulate(64)(i => if (i < 32) 0.0f else 1.0f)
    import spark.implicits._
    ((0L until 8L).map(i => (i, a, 0)) ++ (8L until 16L).map(i => (i, b, 1)))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val f = Similarity.labelPurity(spark, dir).collect()
    assert(f.length == 2)
    f.foreach { r =>
      assert(r.getAs[Long]("n_misaligned") == 0L)
      assert(r.getAs[Double]("avg_margin") > 0.9,
        "orthogonal groups: own cosine 1, best other 0")
    }
  }

  test("snapshot drift (q107): stable labels cos 1, rotated labels cos 0, bounds hold") {
    val rows = Similarity.snapshotDrift(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cos = r.getAs[Double]("cos_shift")
      assert(cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9, s"cos out of range: $cos")
      assert(r.getAs[Long]("l2_sq_e8") >= 0L)
      assert(r.getAs[Long]("n_old") > 0L && r.getAs[Long]("n_new") > 0L)
      // exact-integer identity: |a-b|^2 = |a|^2 + |b|^2 - 2<a,b> holds on
      // the e8 units by construction only if all four sums are exact —
      // recompute the l2 from the published dot via the operator's own
      // inputs being hidden, so just pin the sign relation
      if (r.getAs[Long]("l2_sq_e8") == 0L)
        assert(math.abs(cos - 1.0) < 1e-6, "zero shift must mean cosine 1")
    }
    // fixture: label 0 identical across snapshots (cos 1, l2 0); label 1
    // rotated to an orthogonal direction (cos 0)
    val dir = tempDir("graft_drift").toString
    val ex = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val ey = Array.tabulate(64)(i => if (i == 1) 1.0f else 0.0f)
    import spark.implicits._
    // even vec_id = old snapshot, odd = new
    (Seq((0L, ex, 0), (1L, ex, 0), (2L, ex, 0), (3L, ex, 0)) ++
      Seq((10L, ex, 1), (12L, ex, 1), (11L, ey, 1), (13L, ey, 1)))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val f = Similarity.snapshotDrift(spark, dir).collect()
      .map(r => r.getAs[Long]("label") -> r).toMap
    assert(f(0L).getAs[Double]("cos_shift") == 1.0)
    assert(f(0L).getAs[Long]("l2_sq_e8") == 0L)
    assert(f(0L).getAs[Long]("n_old") == 2L && f(0L).getAs[Long]("n_new") == 2L)
    assert(f(1L).getAs[Double]("cos_shift") == 0.0)
    // e_x -> e_y at unit length: l2^2 = 2 in e-8 units
    assert(f(1L).getAs[Long]("l2_sq_e8") == 2L * 10000L * 10000L)
  }

  test("dimension variance (q144): exact integer mean/var match a driver-side recomputation") {
    val rows = Similarity.dimensionVariance(spark, sf0001).collect()
    assert(rows.length == Similarity.Dim)
    // driver-side recomputation over the same 1e-4 integer lift
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(x =>
        BigDecimal(x.toDouble * 10000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    rows.foreach { r =>
      val d = r.getAs[Long]("dim").toInt
      val xs = vecs.map(_(d))
      val n = xs.length.toLong
      val s1 = xs.sum
      val s2 = xs.map(x => x * x).sum
      assert(r.getAs[Long]("n_vecs") == n)
      assert(r.getAs[Long]("mean_e4") == s1 / n, s"dim $d mean")
      val varE8 = ((BigInt(n) * s2 - BigInt(s1) * s1) / (BigInt(n) * n)).toLong
      assert(r.getAs[Long]("var_e8") == varE8, s"dim $d var")
      assert(varE8 >= 0L)
    }
    // the spectrum is informative: not every dimension identical
    assert(rows.map(_.getAs[Long]("var_e8")).distinct.length > 1)
  }

  test("labelConfusability (q178): exact cosines, integer confusable rule") {
    val dir = tempDir("graft_confus").toString
    import spark.implicits._
    def v(xs: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      xs.foreach { case (i, x) => a(i) = x }
      a
    }
    Seq(
      (0L, v(0 -> 1.0f), 0),              // centroid +x
      (1L, v(0 -> 0.8f, 1 -> 0.6f), 1),   // cos vs l0 = 0.8
      (2L, v(1 -> 1.0f), 2),              // orthogonal to l0
      (3L, v(0 -> 1.0f, 1 -> 0.1f), 3))   // cos vs l0 ≈ 0.995 → confusable
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.labelConfusability(spark, dir).collect()
      .map(r => (r.getAs[Long]("label_a"), r.getAs[Long]("label_b")) -> r)
      .toMap
    assert(out.size == 6, "upper triangle of 4 labels")
    assert(out((0L, 1L)).getAs[Double]("cosine") == 0.8)
    assert(!out((0L, 1L)).getAs[Boolean]("confusable"), "0.8 < 0.9")
    assert(out((0L, 2L)).getAs[Double]("cosine") == 0.0)
    assert(!out((0L, 2L)).getAs[Boolean]("confusable"))
    // 1e8 / (1e4 · √1.01e8) = 0.995037…
    assert(out((0L, 3L)).getAs[Double]("cosine") == 0.995037)
    assert(out((0L, 3L)).getAs[Boolean]("confusable"),
      "100·dot² = 1e18 ≥ 81·na·nb = 8.181e17")
    assert(!out((1L, 2L)).getAs[Boolean]("confusable"))
    assert(out.values.forall(_.getAs[Long]("n_a") == 1L))
  }

  test("tripletMargin (q194): partner election, micro-grid margins, sign-split mean") {
    val dir = tempDir("graft_triplet").toString
    import spark.implicits._
    def v(xs: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      xs.foreach { case (i, x) => a(i) = x }
      a
    }
    // labels: 0,0,1,2,3,3; singleton labels (1, 2) drop as anchors;
    // v0's negative candidate (id 1) shares its label and drops too
    Seq(
      (0L, v(0 -> 1.0f), 0),             // x
      (1L, v(0 -> 0.8f, 1 -> 0.6f), 0),  // cos to v0 = 0.8, to v2 = 0.6
      (2L, v(1 -> 1.0f), 1),             // y
      (3L, v(0 -> 0.6f, 1 -> 0.8f), 2),
      (4L, v(1 -> 1.0f), 3),             // y
      (5L, v(0 -> 1.0f), 3))             // x: pos orthogonal, neg identical
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.tripletMargin(spark, dir).collect()
      .map(r => r.getAs[Long]("label") -> r).toMap
    assert(out.keySet == Set(0L, 3L))
    val l0 = out(0L)
    // anchor v1: c_ap = 0.8e6, c_an = 0.6e6 → no violation at margin 0.05
    assert(l0.getAs[Long]("n_anchors") == 1L &&
      l0.getAs[Long]("n_violations") == 0L)
    assert(l0.getAs[Long]("margin_mean_micro") == 200000L)
    val l3 = out(3L)
    // anchor v5: c_ap = 0 (orthogonal pos), c_an = 1e6 (identical neg)
    assert(l3.getAs[Long]("n_anchors") == 1L &&
      l3.getAs[Long]("n_violations") == 1L &&
      l3.getAs[Long]("violation_bp") == 10000L)
    assert(l3.getAs[Long]("margin_mean_micro") == -1000000L,
      "negative mean must divide sign-split")
  }

  test("tripletMargin precondition: fixture vec_ids are dense 0-based") {
    // q194's negative partner is pmod(vec_id + 1, n_vecs): a gapped or
    // 1-based id space silently drops anchors IDENTICALLY in both
    // engines, so the parity oracle cannot catch the drift — pin the
    // documented precondition on the real fixture here instead.
    import org.apache.spark.sql.functions._
    val s = Tables.embeddings(spark, sf0001)
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("lo"),
        max(col("vec_id")).as("hi"),
        countDistinct(col("vec_id")).as("nd"))
      .collect()(0)
    assert(s.getAs[Long]("lo") == 0L, "vec_id must start at 0")
    assert(s.getAs[Long]("hi") == s.getAs[Long]("n") - 1L &&
      s.getAs[Long]("nd") == s.getAs[Long]("n"),
      "vec_id must be dense 0..n-1")
  }

  test("DcgDiscMicro LUT pins round(1e6 / log2(i + 1))") {
    graft.operators.Similarity.DcgDiscMicro.zipWithIndex.foreach {
      case (d, i) =>
        val expect = math.round(1e6 / (math.log(i + 2) / math.log(2)))
        assert(d == expect, s"disc(${i + 1}) must be $expect, got $d")
    }
  }

  test("gradedRetrievalEval (q209): NDCG/MRR match an independent recompute") {
    val k = 10
    val disc = graft.operators.Similarity.DcgDiscMicro
    val idcg = (1 to k).map(i => (k + 1 - i).toLong * disc(i - 1)).sum
    // independent Scala recompute from the component rankings (each
    // fixture-tested on its own)
    val truth = graft.operators.Similarity.cosineTopK(spark, sf0001, k)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Long]("rank")).toMap
    def expect(sys: Array[(Long, Long, Long)]): Map[(Long, Long, Long), Long] =
      // (query, sys_rank, vec) → per-query (dcg, first_hit 0-sentinel) fold
      sys.groupBy(_._1).flatMap { case (q, rows) =>
        val rels = rows.map { case (_, sr, v) =>
          (sr, truth.get((q, v)).map(tr => k + 1 - tr).getOrElse(0L)) }
        val dcg = rels.map { case (sr, rel) => rel * disc(sr.toInt - 1) }.sum
        val hits = rels.filter(_._2 > 0).map(_._1)
        val rr = if (hits.isEmpty) 0L else 1000000L / hits.min
        Seq((q, 0L, 0L) -> dcg, (q, 1L, 0L) -> rr)
      }
    val out = graft.operators.Similarity.gradedRetrievalEval(spark, sf0001)
      .collect()
    assert(out.nonEmpty && out.length % 2 == 0)
    val byKind = out.groupBy(_.getAs[String]("index_kind"))
    assert(byKind.keySet == Set("ivf_nprobe1", "ivf_nprobe2"))
    Seq("ivf_nprobe1" -> graft.operators.Similarity.ivfTopK(spark, sf0001, k),
      "ivf_nprobe2" ->
        graft.operators.Similarity.ivfMultiProbeTopK(spark, sf0001, k, 2))
      .foreach { case (kind, sysDf) =>
        val sys = sysDf.collect().map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("rank"), r.getAs[Long]("vec_id")))
        val exp = expect(sys)
        byKind(kind).foreach { r =>
          val q = r.getAs[Long]("query_id")
          val dcg = r.getAs[Long]("dcg_micro")
          assert(dcg == exp((q, 0L, 0L)), s"$kind q$q dcg")
          assert(r.getAs[Long]("rr_micro") == exp((q, 1L, 0L)), s"$kind q$q rr")
          assert(r.getAs[Long]("ndcg_bp") == dcg * 10000L / idcg)
          assert(r.getAs[Long]("ndcg_bp") <= 10000L)
          assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_sys"))
        }
      }
  }
}
