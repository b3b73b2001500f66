package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over `embeddings.embedding: array<float>[64]`
  * (SURVEY.md §2.12 X3; north-star "similarity search").
  *
  * Three operators:
  *  - brute-force cosine top-k for a fixed query set (the correctness
  *    baseline: broadcast the k query vectors, one narrow pass over the
  *    corpus, TakeOrdered per query — linear at any scale);
  *  - sign-LSH (random-hyperplane) bucketed ANN top-k (the 100 TB path:
  *    candidates come from an equi-join on a 4-bit bucket, ~1/16th of the
  *    corpus per query instead of all of it);
  *  - LSH-blocked embedding near-dup pairs (cosine ≥ τ within buckets —
  *    the standard recall/cost trade, no O(n²) pass).
  *
  * Cross-engine float discipline: dot products and norms are folded
  * SEQUENTIALLY over the 64 dims in both engines (Spark `aggregate`,
  * DuckDB `list_reduce`), elements cast float→double before multiply, so
  * the doubles are bit-identical and bucket-sign decisions can't diverge.
  * Cosines are round(6)ed BEFORE ranking/thresholding, with vec_id
  * tie-breaks, so ordering is engine-independent.
  *
  * Hyperplanes: 4 planes × 64 dims of ±1 weights from scala.util.Random
  * (seed 42), generated once here and inlined as literals into BOTH the
  * Catalyst expression tree and the oracle SQL — one source of truth,
  * nothing random at query time.
  */
object Similarity {

  val Planes = 4
  val Dim = 64
  val QueryIds: Seq[Long] = Seq(0L, 1L, 2L)

  /** Banded sign-LSH geometry for near-dup pairing: 8 bands × 16 planes.
    * Each band key has 2^16 buckets, so same-bucket candidate pairs are
    * ~n²/65536 per band (vs n²/16 with one 4-bit bucket — the round-1
    * scale-killer); OR-ing the 8 bands buys back recall the standard way. */
  val Bands = 8
  val BandPlanes = 16

  /** Bucket-size guard: buckets denser than this are skipped outright — a
    * degenerate bucket (hub region, all-zero vectors) would otherwise
    * reintroduce the quadratic pair blow-up banding exists to avoid. */
  val MaxBucket = 64

  /** (Bands × BandPlanes) planes × dims of ±1.0, deterministic (seed 42).
    * Read from [[graft.functions.HashKernels.planesFor]] — the ONE
    * generator shared with the fused SignBandKeys kernel, so the Column
    * tree, the kernel, and the inlined oracle literals cannot drift. The
    * first `Planes` rows are bit-identical to the round-1 4-plane set, so
    * the coarse ANN probe bucket ([[bucket]]) and its oracle are
    * unchanged. */
  val Hyperplanes: Seq[Seq[Double]] =
    graft.functions.HashKernels.planesFor(Bands * BandPlanes, Dim)
      .map(_.toSeq).toSeq

  /** Sequential-fold dot product in double — the native codegen kernel
    * ([[graft.functions.DotProduct]]); identical fold order to the HOF
    * aggregate(zip_with(...)) formulation (HashKernelsSpec). */
  private def dot(a: Column, b: Column): Column =
    graft.functions.HashExpressions.dotProduct(
      a.cast("array<double>"), b.cast("array<double>"))

  private def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Cosine from precomputed norms: sqrt(dot(v,v)) evaluated once per
    * VECTOR (as a projection below the join) instead of once per PAIR —
    * identical doubles (same ops, same order), far fewer kernel calls in
    * the pair-heavy queries. */
  private def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** (original columns…, v: array<double>, nrm: ||v||). */
  private def withNorm(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.withColumn("v", v).withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  /** Coarse sign-LSH bucket id in [0, 2^Planes) from the FIRST `Planes`
    * hyperplanes: bit p = (v · hyperplane_p) > 0. ±1 weights make the dot
    * an exact-order sum of ±v_i. This is the ANN probe's resolution knob
    * (few, recall-heavy buckets); near-dup pairing uses [[bandKeys]]. */
  private def bucket(v: Column): Column =
    Hyperplanes.take(Planes).zipWithIndex.map { case (w, p) =>
      val d = dot(v, array(w.map(lit): _*))
      when(d > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** The `Bands` 16-bit band keys of `v` as one array column: element b =
    * Σ_{i<BandPlanes} sign(v · plane_{b·BandPlanes+i}) << i, via the
    * fused native kernel (ONE call per row instead of 128 dot kernels +
    * ArrayData round-trips; [[bandKeysHof]] keeps the expression-tree
    * formulation as the spec'd reference). Band fan-out happens AFTER
    * via posexplode (the Generate blocks ProjectCollapse). */
  private def bandKeys(v: Column): Column =
    graft.functions.HashExpressions.signBandKeys(
      v.cast("array<double>"), Bands, BandPlanes)

  /** Reference formulation of [[bandKeys]] — the per-plane when(dot > 0)
    * tree the SignBandKeys kernel is spec'd bit-equivalent to
    * (HashKernelsSpec). */
  def bandKeysHof(v: Column): Column =
    array((0 until Bands).map { b =>
      (0 until BandPlanes).map { i =>
        val w = Hyperplanes(b * BandPlanes + i)
        when(dot(v, array(w.map(lit): _*)) > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)

  /** Two-phase top-k per query_id via the bounded-heap
    * [[graft.functions.TopKHits]] Aggregator (the 100 TB ranking shape):
    * partial aggregation folds each task's candidates into a k-row buffer
    * map-side, the shuffle carries ~numPartitions × k rows per query, and
    * the final merge is a k+k merge — no corpus-sized single-task sort,
    * which is what `row_number() OVER (PARTITION BY query_id)` with a
    * handful of query ids degenerates to. Row-identical to the window
    * formulation (same strict total order: cosine DESC, vec_id ASC), so
    * the DuckDB oracle keeps the window form.
    *
    * Input must have columns (query_id, vec_id, cosine) with cosine
    * already rounded. */
  private def topKRank(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKHits(k))
    scored.groupBy(col("query_id"))
      .agg(topk(col("cosine"), col("vec_id")).as("hits"))
      .select(col("query_id"), posexplode(col("hits")).as(Seq("pos", "h")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("h.vec_id").as("vec_id"), col("h.cosine").as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** X3 brute-force cosine top-k: the query rows are broadcast (k rows),
    * the corpus is scanned once — no shuffle of the corpus at all; the
    * ranking is the bounded-heap two-phase aggregate ([[topKRank]]). */
  def cosineTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = withNorm(Tables.embeddings(spark, dir), "embedding")
      .select(col("vec_id"), col("v"), col("nrm"))
    val q = e.filter(col("vec_id").isin(QueryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosinePre(col("qv"), col("v"), col("qnrm"), col("nrm")), 6).as("cosine"))
    topKRank(scored, k)
  }

  // ---- DuckDB SQL twins -------------------------------------------------

  private def qidList: String = QueryIds.mkString(", ")

  /** DuckDB sequential-fold dot of two DOUBLE-list exprs. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_concat([0.0], [($a)[i+1]::DOUBLE * ($b)[i+1]::DOUBLE " +
      s"for i in range(0, $Dim)]), (x, y) -> x + y)"

  private def norm2Sql(a: String): String =
    s"list_reduce(list_concat([0.0], [($a)[i+1]::DOUBLE * ($a)[i+1]::DOUBLE " +
      s"for i in range(0, $Dim)]), (x, y) -> x + y)"

  private def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${norm2Sql(a)}) * sqrt(${norm2Sql(b)})))"

  /** DuckDB twin of [[bucket]] — the FIRST `Planes` hyperplanes only
    * (the coarse ANN probe key, not the 128-plane band set). */
  private def bucketSql(v: String): String =
    Hyperplanes.take(Planes).zipWithIndex.map { case (w, p) =>
      val wl = w.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"(CASE WHEN list_reduce(list_concat([0.0], [($v)[i+1]::DOUBLE * ($wl)[i+1] " +
        s"for i in range(0, $Dim)]), (x, y) -> x + y) > 0 " +
        s"THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  def cosineTopKSql(k: Int = 10): String =
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |  WHERE vec_id IN ($qidList)
       |), scored AS (
       |  SELECT q.query_id, e.vec_id,
       |    round(${cosineSql("q.qv", "e.embedding")}, 6) AS cosine
       |  FROM embeddings e CROSS JOIN q
       |  WHERE e.vec_id <> q.query_id
       |), ranked AS (
       |  SELECT query_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, vec_id, cosine FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** X3 ANN: same top-k but candidates restricted to the query's LSH
    * bucket — the plan that survives 100 TB (equi-join on bucket, then
    * per-bucket ranking; each query scans ~corpus/2^Planes). */
  def annTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = withNorm(Tables.embeddings(spark, dir), "embedding")
      .select(col("vec_id"), col("v"), col("nrm"), bucket(col("v")).as("bkt"))
    val q = e.filter(col("vec_id").isin(QueryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("bkt"))
    val scored = e.join(broadcast(q), Seq("bkt"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosinePre(col("qv"), col("v"), col("qnrm"), col("nrm")), 6).as("cosine"))
    topKRank(scored, k)
  }

  def annTopKSql(k: Int = 5): String =
    s"""WITH b AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bkt
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id AS query_id, embedding AS qv, bkt FROM b
       |  WHERE vec_id IN ($qidList)
       |), scored AS (
       |  SELECT q.query_id, e.vec_id,
       |    round(${cosineSql("q.qv", "e.embedding")}, 6) AS cosine
       |  FROM b e JOIN q ON e.bkt = q.bkt
       |  WHERE e.vec_id <> q.query_id
       |), ranked AS (
       |  SELECT query_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, vec_id, cosine FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** X2/X3 embedding near-dup, banded sign-LSH: candidate pairs are
    * vectors sharing ANY of the `Bands` 16-bit band keys (bucket-size
    * guard applied), verified by exact cosine ≥ τ. The round-1 version
    * hashed into ONE 4-bit bucket — candidate pairs ~n²/16, quadratic at
    * scale; here each band contributes ~n²/65536 with the guard capping
    * degenerate buckets, and a pair colliding in several bands is
    * de-duplicated after the (cheap) verify. */
  def embeddingNearDup(spark: SparkSession, dir: String,
                       threshold: Double = 0.2,
                       maxBucket: Int = MaxBucket): DataFrame = {
    val e = graft.PlanCache.cached(spark, s"sim.bandkeys:$dir") {
      withNorm(Tables.embeddings(spark, dir), "embedding")
        .select(col("vec_id"), col("v"), col("nrm"), bandKeys(col("v")).as("keys"))
    }
    val b = e.select(col("vec_id"), col("v"), col("nrm"),
      posexplode(col("keys")).as(Seq("band", "key")))
    // Bucket-size guard, split by cost: the lower bound (≥2) is free —
    // a singleton bucket contributes no pair to a self-join — and the
    // upper bound only concerns the rare degenerate buckets (hub regions,
    // zero vectors), so it runs as a heavy-hitter anti-join: partial-agg
    // count (no row buffering, one tiny row per bucket crosses the
    // shuffle), keep keys with cnt > maxBucket (few by construction —
    // random hyperplanes spread mass over 2^16 buckets/band), anti-join.
    // AQE broadcasts the tiny side, so the banded corpus is NOT shuffled
    // for the guard — unlike a count-over-window formulation, which
    // exchanges AND sorts all bands×n rows once per join side.
    val over = b.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > maxBucket)
      .select(col("band"), col("key"))
    val g = b.join(over, Seq("band", "key"), "left_anti")
    val l = g.select(col("band"), col("key"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val r = g.select(col("band"), col("key"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    l.join(r, Seq("band", "key"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(cosinePre(col("va"), col("vb"), col("na"), col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** A4: per-label centroids via the typed [[graft.functions.VectorMean]]
    * Aggregator (udaf), exploded to (label, dim, value) rows so the oracle
    * compares scalars, not array-render formats. */
  /** X3+ int8 scalar-quantization audit (q66): the standard 4× vector
    * storage shrink (absmax scaling to [-127,127]) with its
    * reconstruction-error accounting — the op a 100 TB embedding store
    * runs before deciding a quantization level. Per-vector SSE is a
    * SEQUENTIAL fold (cross-engine bit-identical), then converted to
    * exact integer micro-units before the per-label sum so no
    * order-dependent double accumulation ever happens.
    *
    * Scale posture: one narrow map over the vectors + one partial-agg
    * groupBy on label; nothing shuffles but (label, 3 longs) rows. */
  def quantizationAudit(spark: SparkSession, dir: String): DataFrame = {
    // fused native kernel: one pass per vector ([sse_micro, n_sat]);
    // the HOF chain it is spec'd bit-equivalent to is quantizationAuditHof
    val audit = graft.functions.HashExpressions.int8Audit(
      col("embedding").cast("array<double>"))
    Tables.embeddings(spark, dir)
      .select(col("label"), audit.as("a"))
      .select(col("label"),
        element_at(col("a"), 1).as("sse_micro"),
        element_at(col("a"), 2).as("n_sat"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("sse_micro")).as("sum_sse_micro"),
        sum(col("n_sat")).as("n_saturated"))
      .orderBy(col("label"))
  }

  /** Reference HOF formulation of the int8 audit — the semantics the
    * native Int8Audit kernel is spec'd bit-equivalent to
    * (HashKernelsSpec): `[round(sse·1e6)::long, n_saturated]`. */
  def quantizationAuditHof(v: Column): Column = {
    val vd = v.cast("array<double>")
    val amax = array_max(transform(vd, x => abs(x)))
    val scale = when(amax === 0.0, lit(1.0)).otherwise(amax / lit(127.0))
    // null elements must stay null through the clamp: Spark's
    // least/greatest SKIP nulls (greatest(null, -127) = -127), which
    // would silently turn a null component into a saturated -127 — the
    // explicit isNull guard keeps the null-propagation contract the
    // native Int8Audit kernel is spec'd bit-equivalent to (null poisons
    // sse, never counts as saturated)
    val qv = transform(vd, x => when(x.isNull, lit(null))
      .otherwise(least(greatest(round(x / scale), lit(-127.0)), lit(127.0))))
    val err = zip_with(vd, qv, (x, q) => (x - q * scale) * (x - q * scale))
    val sse = aggregate(err, lit(0.0), (acc, e) => acc + e)
    array(round(sse * lit(1000000.0)).cast("long"),
      size(filter(qv, q => abs(q) === 127.0)).cast("long"))
  }

  def quantizationAuditSql: String =
    """WITH b AS (
      |  SELECT label, embedding::DOUBLE[] AS v,
      |    list_max([abs(x) for x in embedding::DOUBLE[]]) AS amax
      |  FROM embeddings
      |), s AS (
      |  SELECT label, v,
      |    CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END AS scale
      |  FROM b
      |), q AS (
      |  SELECT label, v, scale,
      |    [least(greatest(round(x / scale), -127.0), 127.0) for x in v] AS qv
      |  FROM s
      |), e AS (
      |  SELECT label,
      |    round(list_reduce(list_prepend(0.0,
      |      [(v[i] - qv[i] * scale) * (v[i] - qv[i] * scale)
      |       for i in range(1, len(v) + 1)]),
      |      (acc, x) -> acc + x) * 1000000)::BIGINT AS sse_micro,
      |    len(list_filter(qv, x -> abs(x) = 127.0))::BIGINT AS n_sat
      |  FROM q
      |)
      |SELECT label, count(*) AS n_vecs,
      |  sum(sse_micro)::BIGINT AS sum_sse_micro,
      |  sum(n_sat)::BIGINT AS n_saturated
      |FROM e GROUP BY label ORDER BY label""".stripMargin

  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val mean = udaf(graft.functions.VectorMean)
    Tables.embeddings(spark, dir)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        mean(col("embedding").cast("array<double>")).as("c"))
      .select(col("label").cast("long").as("label"), col("n_vecs"),
        posexplode(col("c")).as(Seq("dim", "v")))
      .select(col("label"), col("dim").cast("long").as("dim"), col("n_vecs"),
        // + 0.0 normalizes IEEE negative zero: a near-zero mean whose
        // SIGN depends on addition order rounds to -0.0 in one engine
        // and +0.0 in the other (seen at sf0.001)
        (round(col("v"), 4) + lit(0.0)).as("centroid"))
      .orderBy(col("label"), col("dim"))
  }

  def labelCentroidsSql: String =
    s"""SELECT label::BIGINT AS label, i::BIGINT AS dim,
       |  count(*) AS n_vecs,
       |  round(avg(embedding[i+1]::DOUBLE), 4) + 0.0 AS centroid
       |FROM embeddings CROSS JOIN (SELECT unnest(range(0, $Dim)) AS i)
       |GROUP BY label, i
       |ORDER BY label, dim""".stripMargin

  // ---- X34: embedding snapshot drift monitor (q107) -----------------------

  /** X34 centroid drift between corpus snapshots (q107): per label, the
    * cosine between the label's centroid in the OLD snapshot (even
    * vec_id — the driver's stand-in for "last ingest") and the NEW one
    * (odd vec_id), plus the exact squared L2 shift. This is the
    * embedding-space monitor a production pipeline runs after every
    * re-embed or corpus refresh: a label whose centroid cosine falls is
    * drifting (encoder change, distribution shift, label pollution).
    *
    * Cross-engine float discipline: per-dim centroids are first pinned
    * to the q36-proven rounded grid (round(mean, 4)), then lifted to
    * EXACT 1e-4 integers — dot / norms / L2 are exact 1e-8-unit longs
    * from there, and the final cosine is one correctly-rounded
    * sqrt/divide over identical integer inputs in both engines (IEEE
    * 754 sqrt is exactly rounded, so determinism survives the float).
    *
    * Scale posture: ONE corpus scan — the (label, parity) rollup rides
    * [[graft.functions.VectorMean]]'s map-side partial aggregation; all
    * later steps (dim fan-out, old/new pivot, per-label fold) run over
    * labels×[[Dim]] rows, audit-sized at any corpus scale. Labels seen
    * in only one snapshot are dropped (no drift to measure). */
  def snapshotDrift(spark: SparkSession, dir: String): DataFrame = {
    val mean = udaf(graft.functions.VectorMean)
    val per = Tables.embeddings(spark, dir)
      .groupBy(col("label").cast("long").as("label"),
        (col("vec_id") % 2 === 0).as("is_old"))
      .agg(count(lit(1)).as("n"),
        mean(col("embedding").cast("array<double>")).as("c"))
      .select(col("label"), col("is_old"), col("n"),
        posexplode(col("c")).as(Seq("dim", "v")))
      .select(col("label"), col("is_old"), col("n"),
        col("dim").cast("long").as("dim"),
        expr("cast(round(round(v, 4) * 10000) as bigint)").as("ci"))
    per.groupBy(col("label"), col("dim"))
      .agg(max(when(col("is_old"), col("n"))).as("n_old"),
        max(when(!col("is_old"), col("n"))).as("n_new"),
        max(when(col("is_old"), col("ci"))).as("a"),
        max(when(!col("is_old"), col("ci"))).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .groupBy(col("label"))
      .agg(max(col("n_old")).as("n_old"), max(col("n_new")).as("n_new"),
        sum(col("a") * col("b")).as("dot_e8"),
        sum(col("a") * col("a")).as("na_e8"),
        sum(col("b") * col("b")).as("nb_e8"),
        sum((col("a") - col("b")) * (col("a") - col("b"))).as("l2_sq_e8"))
      .select(col("label"), col("n_old"), col("n_new"), col("dot_e8"),
        col("l2_sq_e8"),
        round(col("dot_e8") /
          (sqrt(col("na_e8").cast("double")) * sqrt(col("nb_e8").cast("double"))),
          6).as("cos_shift"))
      .orderBy(col("label"))
  }

  /** The (label, centroid-array) snapshot artifact the streaming drift
    * monitor ([[graft.streaming.Pipeline.driftMonitor]]) broadcasts —
    * the q36 centroids in array form, one row per label. */
  def centroidSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val mean = udaf(graft.functions.VectorMean)
    Tables.embeddings(spark, dir)
      .groupBy(col("label").cast("long").as("label"))
      .agg(mean(col("embedding").cast("array<double>")).as("centroid"))
  }

  def snapshotDriftSql: String =
    s"""WITH per AS (
       |  SELECT label::BIGINT AS label, (vec_id % 2 = 0) AS is_old,
       |    i::BIGINT AS dim, count(*)::BIGINT AS n,
       |    CAST(round(round(avg(embedding[i+1]::DOUBLE), 4) * 10000) AS BIGINT)
       |      AS ci
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, $Dim)) AS i)
       |  GROUP BY 1, 2, 3
       |), wide AS (
       |  SELECT label, dim,
       |    max(CASE WHEN is_old THEN n END) AS n_old,
       |    max(CASE WHEN NOT is_old THEN n END) AS n_new,
       |    max(CASE WHEN is_old THEN ci END) AS a,
       |    max(CASE WHEN NOT is_old THEN ci END) AS b
       |  FROM per GROUP BY 1, 2
       |)
       |SELECT label, max(n_old)::BIGINT AS n_old, max(n_new)::BIGINT AS n_new,
       |  sum(a * b)::BIGINT AS dot_e8,
       |  sum((a - b) * (a - b))::BIGINT AS l2_sq_e8,
       |  round(sum(a * b) / (sqrt(sum(a * a)::DOUBLE) * sqrt(sum(b * b)::DOUBLE)),
       |    6) AS cos_shift
       |FROM wide WHERE a IS NOT NULL AND b IS NOT NULL
       |GROUP BY label ORDER BY label""".stripMargin

  // ---- X21: ANN index-quality audit (q93) ---------------------------------

  /** X21 ANN recall@k audit (q93): for every query, the fraction of the
    * exact cosine top-k ([[cosineTopK]]) that the IVF index returns —
    * at nprobe=1 ([[ivfTopK]]) and nprobe=`nprobe`
    * ([[ivfMultiProbeTopK]]) — the index-quality measurement a
    * production ANN deployment tracks before trading recall for probe
    * cost. Multi-probe candidate lists are supersets of single-probe
    * lists, so recall is non-decreasing in nprobe (spec-asserted).
    *
    * Scale posture: composes three already-audited plans (brute-force
    * scan-once ranking + the shared PlanCache'd IVF assignment); the
    * recall join is keyed on (query_id, vec_id) over 3·k·|queries| rows
    * — audit-sized. At 100 TB the exact side is the expensive leg; a
    * deployment runs it over a SAMPLED query set, which is exactly what
    * the fixed [[QueryIds]] probe set models. */
  def annRecall(spark: SparkSession, dir: String,
                k: Int = 10, nprobe: Int = 2): DataFrame = {
    // the brute-force truth (|queries|·k rows) is referenced by BOTH
    // recall legs — persist so the corpus-wide exact ranking runs once,
    // not once per audited index (and once across q93/q209, which share
    // this key; the exact rank rides along for q209's graded relevance)
    val exact = annTruth(spark, dir, k)
    def recallOf(approx: DataFrame, index: String): DataFrame =
      exact.join(approx.select(col("query_id"), col("vec_id"), lit(1).as("hit")),
          Seq("query_id", "vec_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .select(lit(index).as("index_kind"), col("query_id"), col("k"),
          col("n_hit"),
          round(col("n_hit") / col("k").cast("double"), 6).as("recall"))
    recallOf(ivfTopK(spark, dir, k), "ivf_nprobe1")
      .unionByName(recallOf(ivfMultiProbeTopK(spark, dir, k, nprobe),
        s"ivf_nprobe$nprobe"))
      .orderBy(col("index_kind"), col("query_id"))
  }

  def annRecallSql(k: Int = 10, nprobe: Int = 2): String = {
    def leg(approxSql: String, index: String): String =
      s"""SELECT '$index' AS index_kind, e.query_id, count(*)::BIGINT AS k,
         |  count(a.vec_id)::BIGINT AS n_hit,
         |  round(count(a.vec_id) / count(*)::DOUBLE, 6) AS recall
         |FROM (${cosineTopKSql(k)}) e LEFT JOIN ($approxSql) a
         |  ON e.query_id = a.query_id AND e.vec_id = a.vec_id
         |GROUP BY e.query_id""".stripMargin
    s"""${leg(ivfTopKSql(k), "ivf_nprobe1")}
       |UNION ALL
       |${leg(ivfMultiProbeTopKSql(k, nprobe), s"ivf_nprobe$nprobe")}
       |ORDER BY index_kind, query_id""".stripMargin
  }

  // ---- X135: graded retrieval-metrics eval (q209) --------------------------

  /** Exact-ranking ground truth shared by the q93 recall and q209 graded
    * audits: (query_id, vec_id, true_rank), PlanCache'd so the
    * corpus-wide brute-force ranking runs once per (session, dir, k). */
  private def annTruth(spark: SparkSession, dir: String, k: Int): DataFrame =
    graft.PlanCache.cached(spark, s"sim.annTruth:$k:$dir") {
      cosineTopK(spark, dir, k)
        .select(col("query_id"), col("vec_id"), col("rank").as("true_rank"))
    }

  /** Per-position DCG discounts in exact micro units —
    * round(10⁶ / log2(i + 1)) for system rank i = 1..10, fixed integer
    * constants so no runtime log ever crosses engines (the q205
    * closed-form-constant rule). Extend the list before raising k. */
  val DcgDiscMicro: Seq[Long] = Seq(1000000L, 630930L, 500000L, 430677L,
    386853L, 356207L, 333333L, 315465L, 301030L, 289065L)

  /** X135 graded retrieval-metrics eval (q209): NDCG@k and MRR for the
    * IVF index at nprobe=1 and nprobe=`nprobe` against the brute-force
    * exact ranking — the GRADED companion to q93's recall@k. Recall
    * treats every exact-top-k member alike; NDCG prices WHERE the index
    * put them (losing the top result costs more than losing the tenth),
    * and MRR prices how deep a user scrolls to the first true hit —
    * the two numbers a retrieval deployment actually tracks (Järvelin &
    * Kekäläinen 2002 for DCG; standard IR practice for MRR).
    *
    * Graded relevance of a returned vector is (k + 1 − true_rank) —
    * exact-rank-graded, 0 when outside the exact top-k — so
    * ndcg_bp = DCG·10⁴ div IDCG with IDCG the constant perfect-ordering
    * bill, and rr_micro = 10⁶ div first-hit system rank (0 = no hit).
    * All integer: discounts are the fixed [[DcgDiscMicro]] LUT, so both
    * engines land identical BIGINTs.
    *
    * Scale posture: composes the SAME three already-audited ranking
    * plans as q93 (exact truth PlanCache-shared via [[annTruth]]); the
    * metric join is keyed (query_id, vec_id) over ≤2·k·|queries| rows —
    * audit-sized at any corpus scale; per-query folds are k-row groups.
    * At 100 TB the exact leg runs over a SAMPLED query set, which the
    * fixed [[QueryIds]] probe set models. */
  def gradedRetrievalEval(spark: SparkSession, dir: String,
                          k: Int = 10, nprobe: Int = 2): DataFrame = {
    require(k <= DcgDiscMicro.size,
      s"gradedRetrievalEval: k=$k exceeds the ${DcgDiscMicro.size}-entry " +
        "DcgDiscMicro LUT — extend the constant list first")
    val idcgMicro =
      (1 to k).map(i => (k + 1 - i).toLong * DcgDiscMicro(i - 1)).sum
    val truth = annTruth(spark, dir, k)
    val disc = array(DcgDiscMicro.take(k).map(lit): _*)
    def metricsOf(approx: DataFrame, index: String): DataFrame =
      approx.select(col("query_id"), col("rank").as("sys_rank"), col("vec_id"))
        .join(truth, Seq("query_id", "vec_id"), "left")
        .select(col("query_id"), col("sys_rank"),
          coalesce(lit(k.toLong + 1) - col("true_rank"), lit(0L)).as("rel"))
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_sys"),
          sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_hit"),
          sum(col("rel") * element_at(disc, col("sys_rank").cast("int")))
            .as("dcg_micro"),
          min(when(col("rel") > 0, col("sys_rank"))).as("first_hit"))
        .select(lit(index).as("index_kind"), col("query_id"), col("n_sys"),
          col("n_hit"), col("dcg_micro"),
          expr(s"dcg_micro * 10000 div ${idcgMicro}L").as("ndcg_bp"),
          expr("coalesce(1000000 div first_hit, 0)").as("rr_micro"))
    metricsOf(ivfTopK(spark, dir, k), "ivf_nprobe1")
      .unionByName(metricsOf(ivfMultiProbeTopK(spark, dir, k, nprobe),
        s"ivf_nprobe$nprobe"))
      .orderBy(col("index_kind"), col("query_id"))
  }

  def gradedRetrievalEvalSql(k: Int = 10, nprobe: Int = 2): String = {
    val idcgMicro =
      (1 to k).map(i => (k + 1 - i).toLong * DcgDiscMicro(i - 1)).sum
    val discList = DcgDiscMicro.take(k).mkString("[", ", ", "]")
    def leg(approxSql: String, index: String): String =
      s"""SELECT '$index' AS index_kind, s.query_id,
         |  s.rank AS sys_rank,
         |  CASE WHEN t.vec_id IS NULL THEN 0
         |       ELSE ${k + 1} - t.true_rank END AS rel
         |FROM ($approxSql) s
         |LEFT JOIN truth t
         |  ON s.query_id = t.query_id AND s.vec_id = t.vec_id""".stripMargin
    s"""WITH truth AS (
       |  SELECT query_id, vec_id, rank AS true_rank
       |  FROM (${cosineTopKSql(k)})
       |), j AS (
       |  ${leg(ivfTopKSql(k), "ivf_nprobe1")}
       |  UNION ALL
       |  ${leg(ivfMultiProbeTopKSql(k, nprobe), s"ivf_nprobe$nprobe")}
       |)
       |SELECT index_kind, query_id, count(*)::BIGINT AS n_sys,
       |  sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::BIGINT AS n_hit,
       |  sum(rel::HUGEINT * ($discList)[sys_rank])::BIGINT AS dcg_micro,
       |  (sum(rel::HUGEINT * ($discList)[sys_rank]) * 10000
       |    // $idcgMicro)::BIGINT AS ndcg_bp,
       |  coalesce(1000000 // min(CASE WHEN rel > 0 THEN sys_rank END),
       |    0)::BIGINT AS rr_micro
       |FROM j GROUP BY 1, 2 ORDER BY index_kind, query_id""".stripMargin
  }

  // ---- X18: label-purity audit (q89) --------------------------------------

  /** X18 embedding label-purity audit (q89): for every vector, cosine to
    * its OWN label centroid vs the best cosine to any OTHER label
    * centroid; per label — vectors, misaligned vectors (another label's
    * centroid fits better: the label-noise signal a training pipeline
    * relabels or drops on), and the average own-minus-best-other margin.
    * A clean labeling has near-zero misalignment and positive margins;
    * the driver's synthetic labels are noisy, which is exactly what the
    * audit exists to expose.
    *
    * Cross-engine float discipline: centroids round(4)+0.0 (the IEEE
    * -0.0 rule from [[labelCentroids]]), per-pair cosines round(6)
    * before ANY comparison, and the margin is scaled to exact-integer
    * micro-units before the per-label sum, so engine addition order
    * cannot move the reported average (the q84 device).
    *
    * Scale posture: the label-cardinality-sized centroid table (with
    * precomputed norms) is broadcast; the corpus is scanned ONCE with a
    * |labels|-way fan-out and immediately reduced per vector — the same
    * audited shape as the IVF assignment (q37/q48), no corpus shuffle
    * beyond the per-vector reduce, nothing quadratic in corpus size. */
  def labelPurity(spark: SparkSession, dir: String): DataFrame = {
    val mean = udaf(graft.functions.VectorMean)
    val cents = Tables.embeddings(spark, dir)
      .groupBy(col("label").cast("long").as("clabel"))
      .agg(mean(col("embedding").cast("array<double>")).as("c0"))
      .select(col("clabel"),
        transform(col("c0"), x => round(x, 4) + lit(0.0)).as("cv"))
      .withColumn("cnrm", sqrt(graft.functions.HashExpressions.dotProduct(
        col("cv"), col("cv"))))
    val e = withNorm(Tables.embeddings(spark, dir), "embedding")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("v"), col("nrm"))
    val perVec = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        round(cosinePre(col("v"), col("cv"), col("nrm"), col("cnrm")), 6).as("cos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("clabel") === col("label"), col("cos"))).as("own"),
        max(when(col("clabel") =!= col("label"), col("cos"))).as("best_other"))
    perVec
      .select(col("label"),
        round((col("own") - col("best_other")) * lit(1000000), 0).cast("long").as("m"),
        when(col("best_other") > col("own"), 1L).otherwise(0L).as("mis"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("mis")).as("n_misaligned"),
        sum(col("m")).as("sum_margin_micro"))
      .select(col("label"), col("n_vecs"), col("n_misaligned"),
        col("sum_margin_micro"),
        round(col("sum_margin_micro") / col("n_vecs").cast("double") / lit(1000000.0), 6)
          .as("avg_margin"))
      .orderBy(col("label"))
  }

  def labelPuritySql: String =
    s"""WITH cd AS (
       |  SELECT label::BIGINT AS clabel, i::BIGINT AS dim,
       |    round(avg(embedding[i+1]::DOUBLE), 4) + 0.0 AS cv
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, $Dim)) AS i)
       |  GROUP BY label, i
       |), c AS (
       |  SELECT clabel, list(cv ORDER BY dim) AS cv FROM cd GROUP BY clabel
       |), s AS (
       |  SELECT e.vec_id, e.label::BIGINT AS label, c.clabel,
       |    round(${cosineSql("e.embedding", "c.cv")}, 6) AS cos
       |  FROM embeddings e CROSS JOIN c
       |), pv AS (
       |  SELECT vec_id, label,
       |    max(CASE WHEN clabel = label THEN cos END) AS own,
       |    max(CASE WHEN clabel <> label THEN cos END) AS best_other
       |  FROM s GROUP BY vec_id, label
       |)
       |SELECT label, count(*)::BIGINT AS n_vecs,
       |  sum(CASE WHEN best_other > own THEN 1 ELSE 0 END)::BIGINT AS n_misaligned,
       |  sum(CAST(round((own - best_other) * 1000000) AS BIGINT))::BIGINT
       |    AS sum_margin_micro,
       |  round(sum(CAST(round((own - best_other) * 1000000) AS BIGINT))
       |    / count(*)::DOUBLE / 1000000.0, 6) AS avg_margin
       |FROM pv GROUP BY label ORDER BY label""".stripMargin

  /** Learned IVF coarse quantizer: k-means, not labels. A real index
    * k-means-learns its centroids — labels won't exist on an unlabeled
    * 100 TB corpus. Fully deterministic and oracle-expressible:
    *  - seeds = the [[KmClusters]] vectors with the smallest Knuth
    *    multiplicative hash of vec_id (tie-break vec_id) — "content-hash
    *    init", no RNG, identical arithmetic in both engines;
    *  - [[KmIters]] unrolled Lloyd iterations: assign every vector to its
    *    argmax-cosine centroid (cosine round(6)ed before the argmax, cid
    *    tie-break), recompute each centroid as the per-dim mean round(4)ed
    *    (+0.0 normalizes IEEE -0.0 — the parity rule from labelCentroids);
    *    a cluster that loses all members keeps its previous centroid
    *    (coalesce — deterministic in both engines).
    *
    * Scale shape per iteration: the K-row centroid table is broadcast, the
    * corpus is scanned once (argmax window partitions by vec_id — maximal
    * cardinality, K rows per group, no skew), and the update is one
    * partial+final VectorMean agg (shuffle = K × partitions buffers).
    * Seed selection is a TakeOrdered (top-K by hash), never a full sort.
    */
  val KmClusters = 8
  val KmIters = 3
  /** 2^20-ish prime pre-modulus keeps vec_id·2654435761 inside signed-64
    * at any corpus size — DuckDB ERRORS on BIGINT overflow while Spark
    * wraps, so the arithmetic must never overflow in either engine. */
  private val SeedMod = 1048573L
  private val Knuth = 2654435761L
  private def seedHash(id: Column): Column =
    pmod((id % lit(SeedMod)) * lit(Knuth), lit(4294967296L))
  private def seedHashSql(id: String): String =
    s"((($id) % $SeedMod) * $Knuth) % 4294967296"
  private val roundHalf = lit(0.0) // +0.0 after round: normalizes -0.0

  /** The k-means seed rows with `cid` = their 0-based rank by
    * (h, vec_id), without a global window: |{seeds sorting before this
    * one}| over the broadcast K-row seed table. */
  private def seedCids(seeds: DataFrame): DataFrame =
    seeds.join(broadcast(seeds.select(col("h").as("h2"), col("vec_id").as("id2"))),
        col("h2") < col("h") || (col("h2") === col("h") && col("id2") < col("vec_id")), "left")
      .groupBy(seeds.columns.map(col).toIndexedSeq: _*)
      .agg(count(col("id2")).cast("int").as("cid"))

  /** One Lloyd assignment pass: (vec_id, v, nrm, cid) of the nearest
    * centroid. */
  private def assignStep(e: DataFrame, cents: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cid"))
    e.crossJoin(broadcast(cents))
      .withColumn("ccos",
        round(cosinePre(col("v"), col("cv"), col("nrm"), col("cnrm")), 6))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cid"))
  }

  /** Shared IVF stage: learned centroids + every vector assigned to its
    * nearest centroid. Both are cached per (session, dir) — ivfTopK and
    * ivfMultiProbeTopK reuse one copy, as a production index would
    * materialize its centroid table and inverted lists once. */
  private def ivfParts(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val mean = udaf(graft.functions.VectorMean)
    val e = withNorm(Tables.embeddings(spark, dir), "embedding")
      .select(col("vec_id"), col("v"), col("nrm"))
    val cents = graft.PlanCache.cached(spark, s"sim.kmCents:$dir") {
      var c = seedCids(e.select(col("vec_id"), col("v"), seedHash(col("vec_id")).as("h"))
          .orderBy(col("h"), col("vec_id")).limit(KmClusters))
        .select(col("cid"), col("v").as("cv"))
        .withColumn("cnrm", sqrt(dot(col("cv"), col("cv"))))
      for (i <- 1 to KmIters) {
        val upd = assignStep(e, c).groupBy(col("cid"))
          .agg(mean(col("v")).as("craw"))
          .select(col("cid"),
            transform(col("craw"), x => round(x, 4) + roundHalf).as("ucv"))
        // `c` is referenced TWICE per iteration (assignStep + the
        // coalesce-previous join), so the unrolled plan DOUBLES each
        // round — a seam per iteration keeps the first materialization
        // linear (same fix as q64's propagation)
        c = graft.PlanCache.cached(spark, s"sim.kmCents:$dir:iter$i") {
          c.select(col("cid"), col("cv").as("pcv"))
            .join(upd, Seq("cid"), "left")
            .select(col("cid"), coalesce(col("ucv"), col("pcv")).as("cv"))
            .withColumn("cnrm", sqrt(dot(col("cv"), col("cv"))))
        }
      }
      c
    }
    val assign = graft.PlanCache.cached(spark, s"sim.ivfAssign:$dir") {
      assignStep(e, cents)
    }
    (cents, assign)
  }

  /** X3 IVF top-k: a query probes only its own centroid's inverted list
    * (nprobe=1). The 100 TB shape: the centroid table is tiny and
    * broadcast, assignment is one narrow pass, and the probe join is an
    * equi-join on the centroid id. */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val (_, assign) = ivfParts(spark, dir)
    val q = assign.filter(col("vec_id").isin(QueryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cid").as("qc"))
    val scored = assign.join(broadcast(q), col("cid") === col("qc"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosinePre(col("qv"), col("v"), col("qnrm"), col("nrm")), 6).as("cosine"))
    topKRank(scored, k)
  }

  /** X3 IVF multi-probe top-k: each query probes its `nprobe` nearest
    * centroids' inverted lists, the standard recall knob (nprobe=1 ⊂
    * nprobe=2 ⊂ … ⊂ exhaustive at nprobe=|centroids|, when it equals
    * brute force — property-tested). Candidate lists are disjoint (a
    * vector lives in exactly one inverted list), so no dedup is needed.
    * Probe selection ranks |queries|×|centroids| rows — both sides tiny
    * by construction (a window there is fine; the CORPUS-side ranking
    * stays the bounded-heap aggregate). */
  def ivfMultiProbeTopK(spark: SparkSession, dir: String,
                        k: Int = 5, nprobe: Int = 2): DataFrame = {
    val (cents, assign) = ivfParts(spark, dir)
    val q = assign.filter(col("vec_id").isin(QueryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("cid"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("pcos",
        round(cosinePre(col("qv"), col("cv"), col("qnrm"), col("cnrm")), 6))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("qnrm"), col("cid"))
    val scored = assign.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosinePre(col("qv"), col("v"), col("qnrm"), col("nrm")), 6).as("cosine"))
    topKRank(scored, k)
  }

  /** DuckDB twin of [[ivfParts]]: CTEs `e` (double-cast corpus), `c0` …
    * `c$KmIters` (unrolled Lloyd), and `a` (final assignment against
    * c$KmIters). Iteration i mirrors assignStep + the coalesce-previous
    * centroid update exactly (same round points, same tie-breaks). */
  private def kmeansCtes: String = {
    val seed =
      s"""e AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings
         |), c0 AS (
         |  SELECT row_number() OVER (ORDER BY ${seedHashSql("vec_id")}, vec_id) - 1 AS cid,
         |    v AS cv
         |  FROM e
         |  ORDER BY ${seedHashSql("vec_id")}, vec_id
         |  LIMIT $KmClusters
         |)""".stripMargin
    val iters = (1 to KmIters).map { i =>
      val prev = s"c${i - 1}"
      s"""a$i AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosineSql("e.v", "c.cv")}, 6) DESC, c.cid) AS rn
         |    FROM e CROSS JOIN $prev c)
         |  WHERE rn = 1
         |), u$i AS (
         |  SELECT cid, d, round(avg(v[d+1]), 4) + 0.0 AS cvd
         |  FROM a$i CROSS JOIN (SELECT unnest(range(0, $Dim)) AS d)
         |  GROUP BY cid, d
         |), n$i AS (
         |  SELECT cid, list(cvd ORDER BY d) AS cv FROM u$i GROUP BY cid
         |), c$i AS (
         |  SELECT p.cid, coalesce(n.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN n$i n ON p.cid = n.cid
         |)""".stripMargin
    }
    val assign =
      s"""a AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT e.vec_id, e.v, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY round(${cosineSql("e.v", "c.cv")}, 6) DESC, c.cid) AS rn
         |    FROM e CROSS JOIN c$KmIters c)
         |  WHERE rn = 1
         |)""".stripMargin
    (seed +: iters :+ assign).mkString(",\n")
  }

  def ivfTopKSql(k: Int = 5): String =
    s"""WITH $kmeansCtes, q AS (
       |  SELECT vec_id AS query_id, v AS qv, cid AS qc FROM a
       |  WHERE vec_id IN ($qidList)
       |), scored AS (
       |  SELECT q.query_id, a.vec_id,
       |    round(${cosineSql("q.qv", "a.v")}, 6) AS cosine
       |  FROM a JOIN q ON a.cid = q.qc AND a.vec_id <> q.query_id
       |), ranked AS (
       |  SELECT query_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, vec_id, cosine FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** X52 IVF inverted-list occupancy (q125): the embeddings twin of the
    * q124 bucket audit — per centroid: list size, corpus share, and the
    * balance factor (size × K ÷ total, basis points; 10000 = perfectly
    * even lists). An IVF index's probe cost IS its list size, so this
    * table is the skew forecast read before choosing nprobe and the
    * evidence for the q83 sub-shard guard when k-means degenerates (one
    * hot list ⇒ its balance_bp ≈ K·10000).
    *
    * Scale posture: reuses the PlanCache'd IVF assignment (no new
    * corpus pass); the rollup is a ≤K-row aggregate with map-side
    * combine plus a broadcast 1-row total. */
  def listOccupancy(spark: SparkSession, dir: String): DataFrame = {
    val (_, assign) = ivfParts(spark, dir)
    val lists = assign.groupBy(col("cid").cast("long").as("cid"))
      .agg(count(lit(1)).as("n_vecs"))
    val tot = lists.agg(sum(col("n_vecs")).as("n_tot"))
    lists.crossJoin(broadcast(tot))
      .select(col("cid"), col("n_vecs"),
        expr("n_vecs * 10000 div n_tot").as("share_bp"),
        expr(s"n_vecs * $KmClusters * 10000 div n_tot").as("balance_bp"))
      .orderBy(col("cid"))
  }

  def listOccupancySql: String =
    s"""WITH $kmeansCtes, lists AS (
       |  SELECT cid, count(*)::BIGINT AS n_vecs FROM a GROUP BY cid
       |), tot AS (SELECT sum(n_vecs)::BIGINT AS n_tot FROM lists)
       |SELECT cid::BIGINT AS cid, n_vecs,
       |  ((n_vecs * 10000) // tot.n_tot)::BIGINT AS share_bp,
       |  ((n_vecs * $KmClusters * 10000) // tot.n_tot)::BIGINT AS balance_bp
       |FROM lists CROSS JOIN tot ORDER BY cid""".stripMargin

  /** X57 embedding norm audit (q131): per label — vector count and the
    * min/max/mean SQUARED norm in exact 1e-8 integer units. The
    * pre-index sanity check every vector pipeline runs: an ANN index
    * built on unnormalized embeddings silently ranks by magnitude, and
    * a label whose norm band diverges from the rest signals a broken
    * embedder batch. Components lift to exact 1e-4 integers per
    * dimension BEFORE squaring (the q107 device), so every sum is
    * order-free and both engines agree bit-for-bit — no float norm ever
    * crosses engines.
    *
    * Scale posture: one narrow scan, a per-row 64-term integer fold
    * (whole-stage codegen'd HOF), |labels|-row rollup with map-side
    * combine. */
  def normAudit(spark: SparkSession, dir: String): DataFrame = {
    val xi = transform(col("embedding"),
      x => round(x.cast("double") * 10000, 0).cast("long"))
    val n2 = aggregate(xi, lit(0L), (acc, v) => acc + v * v)
    Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"), n2.as("n2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("n2")).as("min_norm2_e8"),
        max(col("n2")).as("max_norm2_e8"),
        sum(col("n2")).as("s2"))
      .select(col("label"), col("n_vecs"), col("min_norm2_e8"),
        col("max_norm2_e8"), expr("s2 div n_vecs").as("avg_norm2_e8"))
      .orderBy(col("label"))
  }

  def normAuditSql: String =
    s"""WITH v AS (
       |  SELECT label::BIGINT AS label,
       |    list_sum(list_transform(embedding, x ->
       |      CAST(round(x::DOUBLE * 10000) AS BIGINT) *
       |      CAST(round(x::DOUBLE * 10000) AS BIGINT)))::BIGINT AS n2
       |  FROM embeddings
       |)
       |SELECT label, count(*)::BIGINT AS n_vecs,
       |  min(n2)::BIGINT AS min_norm2_e8,
       |  max(n2)::BIGINT AS max_norm2_e8,
       |  (sum(n2) // count(*))::BIGINT AS avg_norm2_e8
       |FROM v GROUP BY label ORDER BY label""".stripMargin

  /** X70 per-dimension variance profile (q144): for every embedding
    * dimension — vector count, mean component (exact 1e-4 units) and
    * variance (exact 1e-8 units) — the PCA/whitening prep audit read
    * before building an index or training a projection: a flat spectrum
    * means the embedder uses its capacity isotropically; collapsed
    * dimensions (variance ≈ 0) are wasted width an IVF/PQ codebook
    * should not spend cells on, and a runaway dimension dominates every
    * un-normalized distance. Components lift to exact 1e-4 integers
    * BEFORE any arithmetic (the q107/q131 device); the variance
    * numerator n·Σx² − (Σx)² runs in decimal(38,0) (HUGEINT in the
    * twin) so no intermediate overflows at any corpus size, and
    * var = numerator div n² stays an exact integer both engines share.
    *
    * Scale posture: one narrow scan, per-row dimension fan-out
    * collapsing immediately via map-side combine to a Dim-row table —
    * at 100 TB the only shuffle carries 64 partial-sum rows per
    * map task. */
  def dimensionVariance(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        expr("cast(round(cast(x as double) * 10000) as bigint)").as("xi"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("xi")).as("s1"),
        sum(expr("xi * xi")).as("s2"))
      .select(col("dim"), col("n_vecs"),
        expr("s1 div n_vecs").as("mean_e4"),
        expr("cast((cast(n_vecs as decimal(38,0)) * s2 - " +
          "cast(s1 as decimal(38,0)) * s1) div " +
          "(cast(n_vecs as decimal(38,0)) * n_vecs) as bigint)").as("var_e8"))
      .orderBy(col("dim"))

  def dimensionVarianceSql: String =
    s"""WITH c AS (
       |  SELECT i AS dim,
       |    CAST(round(embedding[i+1]::DOUBLE * 10000) AS BIGINT) AS xi
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, $Dim)) AS i)
       |), g AS (
       |  SELECT dim, count(*)::BIGINT AS n_vecs,
       |    sum(xi)::BIGINT AS s1,
       |    sum(xi * xi)::BIGINT AS s2
       |  FROM c GROUP BY dim
       |)
       |SELECT dim::BIGINT AS dim, n_vecs,
       |  (s1 // n_vecs)::BIGINT AS mean_e4,
       |  ((n_vecs::HUGEINT * s2 - s1::HUGEINT * s1) //
       |    (n_vecs::HUGEINT * n_vecs))::BIGINT AS var_e8
       |FROM g ORDER BY dim""".stripMargin

  def ivfMultiProbeTopKSql(k: Int = 5, nprobe: Int = 2): String =
    s"""WITH $kmeansCtes, q AS (
       |  SELECT vec_id AS query_id, v AS qv FROM a
       |  WHERE vec_id IN ($qidList)
       |), probes AS (
       |  SELECT query_id, qv, cid FROM (
       |    SELECT q.query_id, q.qv, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(${cosineSql("q.qv", "c.cv")}, 6) DESC, c.cid) AS pr
       |    FROM q CROSS JOIN c$KmIters c)
       |  WHERE pr <= $nprobe
       |), scored AS (
       |  SELECT p.query_id, a.vec_id,
       |    round(${cosineSql("p.qv", "a.v")}, 6) AS cosine
       |  FROM a JOIN probes p ON a.cid = p.cid AND a.vec_id <> p.query_id
       |), ranked AS (
       |  SELECT query_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, vec_id, cosine FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  // ---- X3+: semantic dedup (q83) ------------------------------------------
  //
  // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus
  // embeddings with k-means, then call a vector a SEMANTIC duplicate when
  // it sits within cosine tau of another member of its own cluster
  // (keep rule: min vec_id). Candidate pairs are confined to clusters, so
  // the quadratic blowup of all-pairs never materializes.

  /** Within-cluster cosine threshold for q83: ~3 sigma above the random-
    * pair cosine of the synthetic 64-dim embeddings, so the dup set is
    * non-empty but selective at every SF. */
  val SemDedupTau = 0.35

  /** Degenerate-cluster guard for [[semanticDedup]]: a cluster larger
    * than this is deterministically sub-sharded (`vec_id % n_shards`)
    * before the within-cluster self-join, bounding per-shard work to
    * ~maxCluster² — the q25 [[MaxBucket]] device, but lossy-split instead
    * of lossy-skip so dedup still runs inside a degenerate cluster (e.g.
    * a mass of near-zero vectors collapsing into one k-means cell).
    * Total join work is O(n·maxCluster) instead of O(n²) per cell. */
  val SemMaxCluster = 256

  /** The sub-sharded membership the q83 self-join runs over: per-cluster
    * shard counts (tiny, broadcast back) + each vector tagged with its
    * deterministic sub-shard. Split out as a seam so the 100× scale
    * harness can assert the candidate-pair cardinality this membership
    * implies without running the join itself. */
  private[graft] def semShardedMembers(spark: SparkSession, dir: String,
                                       maxCluster: Int): (DataFrame, DataFrame) = {
    val (_, assign) = ivfParts(spark, dir)
    // one tiny row per cluster; broadcast back onto the assignment
    val shards = assign.groupBy(col("cid"))
      .agg(count(lit(1)).as("cn"))
      .select(col("cid"),
        greatest(ceil(col("cn").cast("double") / lit(maxCluster)),
          lit(1L)).cast("long").as("n_shards"))
    val m = assign.join(broadcast(shards), Seq("cid"))
      .withColumn("sub", col("vec_id") % col("n_shards"))
      .select(col("cid"), col("sub"), col("vec_id"), col("v"), col("nrm"))
    (shards, m)
  }

  /** Candidate-pair cardinality of the q83 within-(cluster, shard)
    * self-join — Σ over cells of C(|cell|, 2), computed from the group
    * histogram WITHOUT materializing a single pair row. The scale
    * harness asserts this number is O(n·maxCluster) on a skew-heavy
    * corpus (one degenerate k-means cell) where the unguarded
    * formulation is O(n²). */
  private[graft] def semDedupCandidatePairs(spark: SparkSession, dir: String,
                                            maxCluster: Int = SemMaxCluster): Long =
    semShardedMembers(spark, dir, maxCluster)._2
      .groupBy(col("cid"), col("sub"))
      .agg(count(lit(1)).as("cn"))
      .agg(sum(expr("(cn * (cn - 1)) DIV 2")).as("pairs"))
      .first().getAs[Long]("pairs")

  /** Semantic-dedup audit (q83): per k-means cluster — member count,
    * semantic dups (a smaller-id member within [[SemDedupTau]] cosine
    * exists IN THE SAME SUB-SHARD), survivors, and the shard count
    * (`n_shards`, 1 = cluster untouched by the guard).
    *
    * Scale posture: reuses the PlanCache'd IVF centroids + assignment
    * (one k-means, shared with q37/q48 like a production index), so the
    * only new work is a self-equi-join on (cid, sub). Per-cluster work
    * without a guard is O(|c|²); the [[SemMaxCluster]] sub-shard bound
    * caps it at O(|c|·maxCluster) — a degenerate embedding distribution
    * (one giant cell) can no longer go quadratic. Recall inside an
    * oversized cell drops (cross-shard pairs are not compared), the same
    * trade q25's bucket skip makes, but the split keeps per-shard
    * dedup running and the audit column discloses exactly where. At
    * 100 TB the primary knob is still the SemDeDup recipe (K ~ sqrt(N)
    * keeps |c| bounded); the guard is the backstop for skew. */
  def semanticDedup(spark: SparkSession, dir: String,
                    tau: Double = SemDedupTau,
                    maxCluster: Int = SemMaxCluster): DataFrame = {
    val (_, assign) = ivfParts(spark, dir)
    val (shards, m) = semShardedMembers(spark, dir, maxCluster)
    val dups = m.as("x").join(m.as("y"),
        col("x.cid") === col("y.cid") && col("x.sub") === col("y.sub") &&
          col("x.vec_id") > col("y.vec_id"))
      .filter(round(cosinePre(col("x.v"), col("y.v"),
        col("x.nrm"), col("y.nrm")), 6) >= tau)
      .select(col("x.vec_id").as("vec_id")).distinct()
    assign.join(dups.withColumn("is_dup", lit(1L)), Seq("vec_id"), "left")
      // cid is INT from row_number arithmetic; DuckDB's row_number yields
      // BIGINT — align the audit key type with the oracle
      .groupBy(col("cid").cast("long").as("cid"))
      .agg(count(lit(1)).as("n_members"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dups"))
      .withColumn("n_kept", col("n_members") - col("n_dups"))
      .join(broadcast(shards.select(col("cid").cast("long").as("cid"),
        col("n_shards"))), Seq("cid"))
      .orderBy(col("cid"))
  }

  def semanticDedupSql(tau: Double = SemDedupTau,
                       maxCluster: Int = SemMaxCluster): String =
    s"""WITH $kmeansCtes, s AS (
       |  SELECT cid, count(*)::BIGINT AS n_members,
       |    greatest(ceil(count(*)::DOUBLE / $maxCluster), 1)::BIGINT AS n_shards
       |  FROM a GROUP BY cid
       |), m AS (
       |  SELECT a.cid, a.vec_id % s.n_shards AS sub, a.vec_id, a.v
       |  FROM a JOIN s ON a.cid = s.cid
       |), d AS (
       |  SELECT DISTINCT x.vec_id
       |  FROM m x JOIN m y ON x.cid = y.cid AND x.sub = y.sub
       |    AND x.vec_id > y.vec_id
       |  WHERE round(${cosineSql("x.v", "y.v")}, 6) >= $tau
       |)
       |SELECT s.cid, s.n_members, count(d.vec_id)::BIGINT AS n_dups,
       |  (s.n_members - count(d.vec_id))::BIGINT AS n_kept, s.n_shards
       |FROM a JOIN s ON a.cid = s.cid LEFT JOIN d ON a.vec_id = d.vec_id
       |GROUP BY s.cid, s.n_members, s.n_shards ORDER BY s.cid""".stripMargin

  /** Product quantization (X3+, q70): the vector is split into [[PqM]]
    * subspaces of [[PqSub]] dims; each subspace learns its own [[PqK]]
    * centroids (same deterministic content-hash-seeded Lloyd machinery as
    * the IVF coarse quantizer, with squared-L2 assignment — the classic
    * PQ metric) and every vector is encoded as M small codes. ADC search
    * then scores a query against the ENCODED corpus: per query, an
    * M×K distance table (tiny), approximate distance = the sum of M table
    * lookups. Distances become exact integer micro-units before the sum
    * so no order-dependent float accumulation crosses the aggregate.
    *
    * Scale posture — why PQ is the 100 TB vector-store shape: codes are
    * M bytes/vector (vs 4·Dim for floats, 16× smaller at M=4/Dim=64);
    * the corpus-side scan reads ONLY the code table, never raw vectors;
    * the distance table (|queries|·M·K rows) is broadcast; the ADC sum
    * is a partial-aggregated groupBy keyed on (query, vector); ranking
    * is the bounded-heap top-k aggregate (no corpus-wide sort). Codes
    * and codebooks are PlanCache-materialized once, like a real index. */
  val PqM = 4
  val PqSub = Dim / PqM
  val PqK = 8
  val PqIters = 2

  /** Squared L2 from precomputed squared norms + one dot: identical
    * doubles in both engines (same ops, same fold order). */
  private def l2d(a: Column, b: Column, an2: Column, bn2: Column): Column =
    an2 + bn2 - lit(2.0) * dot(a, b)

  /** One PQ assignment pass: nearest centroid by round(6) squared-L2,
    * cid tie-break (the L2 twin of [[assignStep]]). */
  private def pqAssign(es: DataFrame, c: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("d"), col("cid"))
    es.crossJoin(broadcast(c))
      .withColumn("d", round(l2d(col("sv"), col("cv"), col("sn2"), col("cn2")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("sv"), col("sn2"), col("cid"))
  }

  /** Learned per-subspace codebooks (m, cid, cv, cn2) and the encoded
    * corpus (vec_id, m, code), each materialized once per (session, dir). */
  private def pqParts(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val mean = udaf(graft.functions.VectorMean)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def subspace(m: Int): DataFrame =
      e.select(col("vec_id"), slice(col("v"), m * PqSub + 1, PqSub).as("sv"))
        .withColumn("sn2", dot(col("sv"), col("sv")))
    val cents = graft.PlanCache.cached(spark, s"sim.pqCents:$dir") {
      (0 until PqM).map { m =>
        val es = subspace(m)
        var c = seedCids(es.select(col("vec_id"), col("sv"), seedHash(col("vec_id")).as("h"))
            .orderBy(col("h"), col("vec_id")).limit(PqK))
          .select(col("cid"), col("sv").as("cv"))
          .withColumn("cn2", dot(col("cv"), col("cv")))
        for (i <- 1 to PqIters) {
          val upd = pqAssign(es, c).groupBy(col("cid"))
            .agg(mean(col("sv")).as("craw"))
            .select(col("cid"),
              transform(col("craw"), x => round(x, 4) + roundHalf).as("ucv"))
          // same double-reference-per-iteration shape as the IVF loop
          // (×PqM subspaces here) — cut per iteration or the union of 8
          // unrolled chains dominates q70's first materialization
          c = graft.PlanCache.cached(spark, s"sim.pqCents:$dir:m$m:iter$i") {
            c.select(col("cid"), col("cv").as("pcv"))
              .join(upd, Seq("cid"), "left")
              .select(col("cid"), coalesce(col("ucv"), col("pcv")).as("cv"))
              .withColumn("cn2", dot(col("cv"), col("cv")))
          }
        }
        c.select(lit(m).as("m"), col("cid"), col("cv"), col("cn2"))
      }.reduce(_ unionByName _)
    }
    val codes = graft.PlanCache.cached(spark, s"sim.pqCodes:$dir") {
      (0 until PqM).map { m =>
        val cm = cents.filter(col("m") === m)
          .select(col("cid"), col("cv"), col("cn2"))
        pqAssign(subspace(m), cm)
          .select(col("vec_id"), lit(m).as("m"), col("cid").as("code"))
      }.reduce(_ unionByName _)
    }
    (cents, codes)
  }

  /** X3 PQ-ADC top-k (q70): queries score the encoded corpus through the
    * per-query distance table; rank ascending by exact-integer ADC
    * micro-distance, vec_id tie-break (the bounded-heap aggregate ranks
    * on the negated distance — strictly monotone, same total order). */
  def pqAdcTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val (cents, codes) = pqParts(spark, dir)
    val q = Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(QueryIds: _*))
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    val qsub = slice(col("qv"), col("m") * PqSub + 1, lit(PqSub))
    val dt = q.crossJoin(cents)
      .select(col("query_id"), col("m"), col("cid"),
        round((dot(qsub, qsub) + col("cn2") - lit(2.0) * dot(qsub, col("cv")))
          * 1000000.0).cast("long").as("d_micro"))
    val scored = codes
      .join(broadcast(dt),
        codes("m") === dt("m") && codes("code") === dt("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d_micro")).as("adc_micro"))
    topKRank(scored.select(col("query_id"), col("vec_id"),
        (-col("adc_micro")).cast("double").as("cosine")), k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        (-col("cosine")).cast("long").as("adc_micro"))
  }

  private def subDotSql(a: String, b: String): String =
    s"list_reduce(list_concat([0.0], [($a)[i+1]::DOUBLE * ($b)[i+1]::DOUBLE " +
      s"for i in range(0, $PqSub)]), (x, y) -> x + y)"

  private def subL2Sql(x: String, c: String): String =
    s"(${subDotSql(x, x)} + ${subDotSql(c, c)} - 2.0 * ${subDotSql(x, c)})"

  /** DuckDB twin of [[pqParts]]: per subspace m, CTEs `s{m}e` (slice),
    * `s{m}c0` … `s{m}c$PqIters` (unrolled L2 Lloyd) and `s{m}codes`. */
  private def pqCtes: String = {
    val subs = (0 until PqM).map { m =>
      val lo = m * PqSub + 1; val hi = (m + 1) * PqSub
      val sm = s"s$m"
      val seed =
        s"""${sm}e AS (
           |  SELECT vec_id, v[$lo:$hi] AS sv FROM e
           |), ${sm}c0 AS (
           |  SELECT row_number() OVER (ORDER BY ${seedHashSql("vec_id")}, vec_id) - 1 AS cid,
           |    sv AS cv
           |  FROM ${sm}e
           |  ORDER BY ${seedHashSql("vec_id")}, vec_id
           |  LIMIT $PqK
           |)""".stripMargin
      val iters = (1 to PqIters).map { i =>
        s""", ${sm}a$i AS (
           |  SELECT vec_id, sv, cid FROM (
           |    SELECT e.vec_id, e.sv, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY round(${subL2Sql("e.sv", "c.cv")}, 6) ASC, c.cid) AS rn
           |    FROM ${sm}e e CROSS JOIN ${sm}c${i - 1} c)
           |  WHERE rn = 1
           |), ${sm}u$i AS (
           |  SELECT cid, d, round(avg(sv[d+1]), 4) + 0.0 AS cvd
           |  FROM ${sm}a$i CROSS JOIN (SELECT unnest(range(0, $PqSub)) AS d)
           |  GROUP BY cid, d
           |), ${sm}n$i AS (
           |  SELECT cid, list(cvd ORDER BY d) AS cv FROM ${sm}u$i GROUP BY cid
           |), ${sm}c$i AS (
           |  SELECT p.cid, coalesce(n.cv, p.cv) AS cv
           |  FROM ${sm}c${i - 1} p LEFT JOIN ${sm}n$i n ON p.cid = n.cid
           |)""".stripMargin
      }.mkString
      val codes =
        s""", ${sm}codes AS (
           |  SELECT vec_id, $m AS m, cid AS code FROM (
           |    SELECT e.vec_id, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY round(${subL2Sql("e.sv", "c.cv")}, 6) ASC, c.cid) AS rn
           |    FROM ${sm}e e CROSS JOIN ${sm}c$PqIters c)
           |  WHERE rn = 1
           |)""".stripMargin
      seed + iters + codes
    }
    val all = subs.mkString(",\n")
    val codesUnion = (0 until PqM).map(m => s"SELECT * FROM s${m}codes")
      .mkString(" UNION ALL ")
    val centsUnion = (0 until PqM)
      .map(m => s"SELECT $m AS m, cid, cv FROM s${m}c$PqIters")
      .mkString(" UNION ALL ")
    s"""$all,
       |codes AS ($codesUnion),
       |cents AS ($centsUnion)""".stripMargin
  }

  def pqAdcTopKSql(k: Int = 5): String = {
    val qsub = s"(q.v[c.m*$PqSub+1 : c.m*$PqSub+$PqSub])"
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings
       |),
       |$pqCtes,
       |q AS (
       |  SELECT vec_id AS query_id, v FROM e WHERE vec_id IN ($qidList)
       |), dt AS (
       |  SELECT q.query_id, c.m, c.cid,
       |    round(${subL2Sql(qsub, "c.cv")} * 1000000)::BIGINT AS d_micro
       |  FROM q CROSS JOIN cents c
       |), adc AS (
       |  SELECT dt.query_id, k.vec_id, sum(dt.d_micro)::BIGINT AS adc_micro
       |  FROM codes k JOIN dt ON k.m = dt.m AND k.code = dt.cid
       |  WHERE k.vec_id <> dt.query_id
       |  GROUP BY dt.query_id, k.vec_id
       |), ranked AS (
       |  SELECT query_id, vec_id, adc_micro,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_micro ASC, vec_id) AS rank
       |  FROM adc
       |)
       |SELECT query_id, rank, vec_id, adc_micro FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB band key of band `b` (mirror of [[bandKeys]] element b). */
  private def bandKeySql(v: String, b: Int): String =
    (0 until BandPlanes).map { i =>
      val w = Hyperplanes(b * BandPlanes + i)
        .map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"(CASE WHEN list_reduce(list_concat([0.0], [($v)[i+1]::DOUBLE * ($w)[i+1] " +
        s"for i in range(0, $Dim)]), (x, y) -> x + y) > 0 " +
        s"THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  def embeddingNearDupSql(threshold: Double = 0.2,
                          maxBucket: Int = MaxBucket): String = {
    val keyList = (0 until Bands).map(bandKeySql("embedding", _)).mkString("[", ",\n", "]")
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $keyList AS keys
       |  FROM embeddings
       |), b AS (
       |  SELECT vec_id, embedding, band, keys[band + 1] AS key
       |  FROM e CROSS JOIN (SELECT unnest(range(0, $Bands)) AS band)
       |), g AS (
       |  SELECT * FROM b
       |  QUALIFY count(*) OVER (PARTITION BY band, key) BETWEEN 2 AND $maxBucket
       |)
       |SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b,
       |  round(${cosineSql("x.embedding", "y.embedding")}, 6) AS cosine
       |FROM g x JOIN g y ON x.band = y.band AND x.key = y.key
       |  AND x.vec_id < y.vec_id
       |WHERE round(${cosineSql("x.embedding", "y.embedding")}, 6) >= $threshold
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Label-confusability matrix (q178): the upper triangle of pairwise
    * cosines between LABEL CENTROIDS — which classes sit close in
    * embedding space. The companion the q89 label-purity audit reads
    * next: purity says "this label's members scatter", confusability
    * says "scatter TOWARD WHICH rival" — the pair to merge, relabel, or
    * mine hard negatives between (the q92 selection, aimed by class).
    * The confusable verdict is an EXACT integer rule (100·dot² ≥
    * 81·‖a‖²·‖b‖² with dot > 0, i.e. cos ≥ 0.9) so the flag never
    * rides a float comparison across engines; the reported cosine
    * follows the q107 discipline — centroids pinned to the 1e-4 grid,
    * dot/norms exact 1e-8-unit longs, one correctly-rounded
    * sqrt/divide at the end.
    *
    * Scale posture: ONE corpus scan (VectorMean's map-side partial
    * agg) collapses to |labels|·Dim integer rows; the pair fan-out is
    * a self-join over that audit-sized table (the q158 triangle
    * shape); dot² products ride decimal(38,0)/HUGEINT. */
  def labelConfusability(spark: SparkSession, dir: String): DataFrame = {
    val mean = udaf(graft.functions.VectorMean)
    val ci = graft.PlanCache.cached(spark, s"similarity.labelCentroidE4:$dir") {
      Tables.embeddings(spark, dir)
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n"),
          mean(col("embedding").cast("array<double>")).as("c"))
        .select(col("label"), col("n"), posexplode(col("c")).as(Seq("dim", "v")))
        .select(col("label"), col("n"), col("dim").cast("long").as("dim"),
          expr("cast(round(round(v, 4) * 10000) as bigint)").as("ci"))
    }
    val a = ci.select(col("label").as("label_a"), col("n").as("n_a"),
      col("dim"), col("ci").as("ca"))
    val b = ci.select(col("label").as("label_b"), col("n").as("n_b"),
      col("dim"), col("ci").as("cb"))
    a.join(b, Seq("dim")).filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(col("ca") * col("cb")).as("dot_e8"),
        sum(col("ca") * col("ca")).as("na_e8"),
        sum(col("cb") * col("cb")).as("nb_e8"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        col("dot_e8"),
        round(col("dot_e8") /
          (sqrt(col("na_e8").cast("double")) * sqrt(col("nb_e8").cast("double"))),
          6).as("cosine"),
        (col("dot_e8") > 0 &&
          expr("cast(100 as decimal(38,0)) * dot_e8 * dot_e8 >= " +
            "cast(81 as decimal(38,0)) * na_e8 * nb_e8")).as("confusable"))
      .orderBy(col("label_a"), col("label_b"))
  }

  /** Triplet-margin audit (q194): for every anchor vector, a
    * deterministic positive (the label's next vector by vec_id,
    * wrapping; singleton labels drop) and a deterministic negative
    * (the corpus's next vector by id, dropped when it shares the
    * anchor's label), then per label: anchors, triplets violating
    * cos(a,p) ≥ cos(a,n) + margin, violation share bp, and the mean
    * margin in micro-units. This is the metric-learning readiness
    * number (Schroff et al. 2015, FaceNet's triplet loss read as an
    * audit): a label with high violation share cannot be separated at
    * that margin — retrain, merge (see q178), or relabel (q89).
    * Cosines are the q23 device (sequential-fold dots, identical
    * doubles in both engines) lifted to exact micro integers before
    * ANY comparison; the mean is a sign-split integer division.
    *
    * PRECONDITION: `vec_id` must be DENSE and 0-BASED (0..n−1) — the
    * negative partner is `pmod(vec_id + 1, n_vecs)`, so a gapped or
    * 1-based id space makes the neg_id join silently drop anchors
    * (identically in both engines, invisible to the parity oracle).
    * The embeddings fixture satisfies this (asserted in
    * SimilaritySpec); re-densify ids (`row_number() - 1` over vec_id)
    * before calling on any other table.
    *
    * Scale posture: partner election is a per-label window (lead +
    * first over the label partition — labels are the partition key,
    * never a global window); partner resolution is two id-keyed
    * equi-joins (each vector fetched, not scanned); folds are
    * |labels|-row rollups. No pair fan-out — exactly 3 cosine
    * evaluations per anchor at any corpus scale. */
  def tripletMargin(spark: SparkSession, dir: String,
                    marginMicro: Long = 50000L): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("embedding").cast("array<double>").as("v"))
    val wl = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val anchors = e
      .withColumn("pos_id", coalesce(lead(col("vec_id"), 1).over(wl),
        first(col("vec_id")).over(wl)))
      .filter(col("pos_id") =!= col("vec_id"))
    val n = e.agg(count(lit(1)).as("n_vecs"))
    val pos = e.select(col("vec_id").as("pos_id"), col("v").as("pv"))
    val neg = e.select(col("vec_id").as("neg_id"), col("v").as("nv"),
      col("label").as("neg_label"))
    anchors.crossJoin(broadcast(n))
      .withColumn("neg_id", pmod(col("vec_id") + 1, col("n_vecs")))
      .join(pos, Seq("pos_id"))
      .join(neg, Seq("neg_id"))
      .filter(col("neg_label") =!= col("label"))
      .select(col("label"),
        round(cosine(col("v"), col("pv")) * lit(1000000.0)).cast("long")
          .as("c_ap"),
        round(cosine(col("v"), col("nv")) * lit(1000000.0)).cast("long")
          .as("c_an"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_anchors"),
        sum(when(col("c_ap") < col("c_an") + marginMicro, 1L).otherwise(0L))
          .as("n_violations"),
        sum(col("c_ap") - col("c_an")).as("margin_sum"))
      .select(col("label"), col("n_anchors"), col("n_violations"),
        expr("n_violations * 10000 div n_anchors").as("violation_bp"),
        // sign-split: the mean margin may be negative
        expr("CASE WHEN margin_sum < 0 " +
          "THEN -((-margin_sum) div n_anchors) " +
          "ELSE margin_sum div n_anchors END").as("margin_mean_micro"))
      .orderBy(col("label"))
  }

  def tripletMarginSql(marginMicro: Long = 50000L): String =
    s"""WITH e AS (
       |  SELECT vec_id, label::BIGINT AS label, embedding AS v
       |  FROM embeddings
       |), n AS (SELECT count(*)::BIGINT AS n_vecs FROM e
       |), a AS (
       |  SELECT vec_id, label, v,
       |    coalesce(lead(vec_id) OVER w, first_value(vec_id) OVER w)
       |      AS pos_id
       |  FROM e WINDOW w AS (PARTITION BY label ORDER BY vec_id)
       |), b AS (
       |  SELECT a.*, (a.vec_id + 1) % n.n_vecs AS neg_id
       |  FROM a CROSS JOIN n WHERE a.pos_id <> a.vec_id
       |), s AS (
       |  SELECT b.label,
       |    CAST(round(${cosineSql("b.v", "p.v")} * 1000000) AS BIGINT)
       |      AS c_ap,
       |    CAST(round(${cosineSql("b.v", "ng.v")} * 1000000) AS BIGINT)
       |      AS c_an
       |  FROM b
       |  JOIN e p ON p.vec_id = b.pos_id
       |  JOIN e ng ON ng.vec_id = b.neg_id AND ng.label <> b.label
       |), g AS (
       |  SELECT label, count(*)::BIGINT AS n_anchors,
       |    sum(CASE WHEN c_ap < c_an + $marginMicro THEN 1 ELSE 0 END)::BIGINT
       |      AS n_violations,
       |    sum(c_ap - c_an)::BIGINT AS margin_sum
       |  FROM s GROUP BY 1
       |)
       |SELECT label, n_anchors, n_violations,
       |  (n_violations * 10000 // n_anchors)::BIGINT AS violation_bp,
       |  (CASE WHEN margin_sum < 0 THEN -((-margin_sum) // n_anchors)
       |    ELSE margin_sum // n_anchors END)::BIGINT AS margin_mean_micro
       |FROM g ORDER BY label""".stripMargin

  def labelConfusabilitySql: String =
    s"""WITH ci AS (
       |  SELECT label::BIGINT AS label, i::BIGINT AS dim,
       |    count(*)::BIGINT AS n,
       |    CAST(round(round(avg(embedding[i+1]::DOUBLE), 4) * 10000) AS BIGINT)
       |      AS ci
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, $Dim)) AS i)
       |  GROUP BY 1, 2
       |), p AS (
       |  SELECT a.label AS label_a, b.label AS label_b,
       |    max(a.n)::BIGINT AS n_a, max(b.n)::BIGINT AS n_b,
       |    sum(a.ci * b.ci)::BIGINT AS dot_e8,
       |    sum(a.ci * a.ci)::BIGINT AS na_e8,
       |    sum(b.ci * b.ci)::BIGINT AS nb_e8
       |  FROM ci a JOIN ci b ON a.dim = b.dim AND a.label < b.label
       |  GROUP BY 1, 2
       |)
       |SELECT label_a, label_b, n_a, n_b, dot_e8,
       |  round(dot_e8 / (sqrt(na_e8::DOUBLE) * sqrt(nb_e8::DOUBLE)), 6)
       |    AS cosine,
       |  (dot_e8 > 0 AND
       |   100::HUGEINT * dot_e8 * dot_e8 >= 81::HUGEINT * na_e8 * nb_e8)
       |    AS confusable
       |FROM p ORDER BY label_a, label_b""".stripMargin

  /** X158 mutual-nearest-neighbor audit (q232): within each coarse LSH
    * bucket, every vector's top-1 cosine neighbor, and per label the
    * share of vectors whose NN relation is RECIPROCAL (a is b's top-1
    * AND b is a's) plus how many of those mutual partners share the
    * label. Mutual-NN is the standard high-precision matching rule
    * (de-dup record linkage, bitext mining, cross-lingual alignment):
    * one-directional NN is noisy where density varies — the hub problem
    * — while reciprocity certifies both sides agree, and a LOW
    * intra-label share among mutual pairs flags label noise q89's
    * centroid margins can't see (centroids blur pairwise structure).
    *
    * Candidates come from the q24 bucket seam, not an all-pairs pass,
    * so "nearest" is bucket-scoped by construction in BOTH engines —
    * the semantics that survive 100 TB (cost/recall knob = Planes).
    *
    * Scale posture: the bucketed-norm table is PlanCache'd (both join
    * sides read one materialization — hash kernels run once per
    * vector); the self-join is the bucket equi-join (~n²/2^Planes
    * pairs); top-1 rides a row_number window on the high-cardinality
    * vec_id; the mutuality probe joins two 1-row-per-vec tables; the
    * rollup is |labels| rows. */
  def mutualNn(spark: SparkSession, dir: String): DataFrame = {
    val ec = graft.PlanCache.cached(spark, s"similarity.bucketNorm:$dir") {
      withNorm(Tables.embeddings(spark, dir), "embedding")
        .select(col("vec_id"), col("label"), col("v"), col("nrm"),
          bucket(col("v")).as("bkt"))
    }
    val a = ec.select(col("vec_id").as("vid"), col("label").as("la"),
      col("v").as("va"), col("nrm").as("na"), col("bkt"))
    val b = ec.select(col("vec_id").as("nid"), col("label").as("lb"),
      col("v").as("vb"), col("nrm").as("nb"), col("bkt"))
    val scored = a.join(b, Seq("bkt")).filter(col("vid") =!= col("nid"))
      .select(col("vid"), col("la"), col("nid"), col("lb"),
        round(cosinePre(col("va"), col("vb"), col("na"), col("nb")), 6)
          .as("c"))
    val w = Window.partitionBy(col("vid"))
      .orderBy(col("c").desc, col("nid"))
    val nn = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vid"), col("la"), col("nid"), col("lb"))
    val back = nn.select(col("vid").as("bvid"), col("nid").as("bnid"))
    val per = nn.join(back, col("bvid") === col("nid"), "left")
      .select(col("la"),
        when(col("bnid") === col("vid"), 1L).otherwise(0L).as("mutual"),
        col("lb"))
      .groupBy(col("la"))
      .agg(count(lit(1)).as("n_nn"), sum(col("mutual")).as("n_mutual"),
        sum(when(col("mutual") === 1 && col("lb") === col("la"), 1L)
          .otherwise(0L)).as("n_intra"))
    ec.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
      .join(per, col("label") === col("la"), "left")
      .select(col("label"), col("n_vecs"),
        coalesce(col("n_nn"), lit(0L)).as("n_nn"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"),
        coalesce(col("n_intra"), lit(0L)).as("n_intra"))
      .select(col("label"), col("n_vecs"), col("n_nn"), col("n_mutual"),
        expr("CASE WHEN n_nn > 0 THEN n_mutual * 10000 div n_nn " +
          "ELSE cast(0 as bigint) END").as("mutual_bp"),
        col("n_intra"),
        expr("CASE WHEN n_mutual > 0 THEN n_intra * 10000 div n_mutual " +
          "ELSE cast(0 as bigint) END").as("intra_bp"))
      .orderBy(col("label"))
  }

  def mutualNnSql: String =
    s"""WITH b AS (
       |  SELECT vec_id, label, embedding, ${bucketSql("embedding")} AS bkt
       |  FROM embeddings
       |), scored AS (
       |  SELECT a.vec_id AS vid, a.label AS la,
       |    b2.vec_id AS nid, b2.label AS lb,
       |    round(${cosineSql("a.embedding", "b2.embedding")}, 6) AS c
       |  FROM b a JOIN b b2 ON a.bkt = b2.bkt AND a.vec_id <> b2.vec_id
       |), nn AS (
       |  SELECT vid, la, nid, lb FROM (
       |    SELECT vid, la, nid, lb,
       |      row_number() OVER (PARTITION BY vid ORDER BY c DESC, nid)
       |        AS rn
       |    FROM scored
       |  ) WHERE rn = 1
       |), m AS (
       |  SELECT a.la,
       |    CASE WHEN bk.nid = a.vid THEN 1 ELSE 0 END AS mutual, a.lb
       |  FROM nn a LEFT JOIN nn bk ON bk.vid = a.nid
       |), per AS (
       |  SELECT la, count(*)::BIGINT AS n_nn,
       |    sum(mutual)::BIGINT AS n_mutual,
       |    sum(CASE WHEN mutual = 1 AND lb = la THEN 1 ELSE 0
       |      END)::BIGINT AS n_intra
       |  FROM m GROUP BY 1
       |), nv AS (
       |  SELECT label, count(*)::BIGINT AS n_vecs FROM embeddings GROUP BY 1
       |)
       |SELECT label, n_vecs,
       |  coalesce(n_nn, 0)::BIGINT AS n_nn,
       |  coalesce(n_mutual, 0)::BIGINT AS n_mutual,
       |  (CASE WHEN coalesce(n_nn, 0) > 0
       |    THEN coalesce(n_mutual, 0) * 10000 // n_nn
       |    ELSE 0 END)::BIGINT AS mutual_bp,
       |  coalesce(n_intra, 0)::BIGINT AS n_intra,
       |  (CASE WHEN coalesce(n_mutual, 0) > 0
       |    THEN coalesce(n_intra, 0) * 10000 // n_mutual
       |    ELSE 0 END)::BIGINT AS intra_bp
       |FROM nv LEFT JOIN per ON la = label
       |ORDER BY label""".stripMargin

  /** Expected-candidate budget (milli) for [[probeDepthFrontier]]'s
    * election: the deepest prefix whose expected per-query candidate
    * count is ≤ this wins; if none qualifies the full [[Planes]]-bit
    * bucket is elected (the deepest available). */
  val ProbeBudgetMilli: Long = 32000L

  /** X160 LSH probe-depth frontier (q234): for every prefix depth
    * P = 1..[[Planes]] of the coarse probe bucket, the exact cost
    * profile a P-bit probe would pay — non-empty buckets, the hottest
    * bucket and its corpus share, and the EXPECTED per-query candidate
    * count 𝔼[s−1] = Σ s(s−1)/n in milli units — plus the election of
    * the shallowest depth meeting [[ProbeBudgetMilli]]. The
    * index-tuning read behind the q24/q93 recall numbers: each extra
    * plane halves expected candidates (cost) but costs recall, and the
    * hot-share column shows when the hyperplanes stop splitting a hub
    * region (adding planes buys nothing — the q124 degenerate-bucket
    * story at probe resolution). q125 prices IVF lists the same way;
    * this prices the sign-LSH probe and ELECTS the knob.
    *
    * Every depth's occupancy derives from the SAME full-depth bucket id
    * by prefix bit-shift (buckets nest dyadically), so all four
    * profiles come from one |2^Planes|-row table — no per-depth corpus
    * pass, and shift/bit algebra is engine-exact on non-negative ids.
    *
    * Scale posture: ONE corpus pass (the PlanCache'd q232 bucketed-norm
    * seam collapsed to ≤2^Planes occupancy rows, map-side combine);
    * depth fan-out, quadratic mass (decimal(38,0)/HUGEINT) and the
    * election are folds over that bounded table; the elected-depth
    * scalar broadcasts back onto the 4-row frontier. */
  def probeDepthFrontier(spark: SparkSession, dir: String): DataFrame = {
    val ec = graft.PlanCache.cached(spark, s"similarity.bucketNorm:$dir") {
      withNorm(Tables.embeddings(spark, dir), "embedding")
        .select(col("vec_id"), col("label"), col("v"), col("nrm"),
          bucket(col("v")).as("bkt"))
    }
    val occ = ec.groupBy(col("bkt")).agg(count(lit(1)).as("s"))
    val frontier = occ
      .select(explode(expr(s"sequence(1, $Planes)")).as("p"),
        col("bkt"), col("s"))
      .groupBy(col("p"), expr(s"shiftright(bkt, $Planes - p)").as("pb"))
      .agg(sum(col("s")).as("sb"))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("n_buckets"), max(col("sb")).as("hottest"),
        sum(col("sb")).as("n"),
        sum(expr("cast(sb as decimal(38,0)) * (sb - 1)")).as("pairs"))
      .select(col("p").cast("long").as("p"), col("n_buckets"),
        col("hottest"),
        expr("hottest * 10000 div n").as("hot_share_bp"),
        expr("cast(pairs * 1000 div n as bigint)")
          .as("exp_candidates_milli"))
    val elected = frontier.agg(coalesce(
      min(when(col("exp_candidates_milli") <= ProbeBudgetMilli, col("p"))),
      lit(Planes.toLong)).as("min_p"))
    frontier.crossJoin(broadcast(elected))
      .select(col("p"), col("n_buckets"), col("hottest"),
        col("hot_share_bp"), col("exp_candidates_milli"),
        (col("p") === col("min_p")).as("elected"))
      .orderBy(col("p"))
  }

  def probeDepthFrontierSql: String =
    s"""WITH b AS (
       |  SELECT vec_id, ${bucketSql("embedding")} AS bkt FROM embeddings
       |), occ AS (
       |  SELECT bkt, count(*)::BIGINT AS s FROM b GROUP BY 1
       |), pocc AS (
       |  SELECT t.p::BIGINT AS p, bkt >> ($Planes - t.p)::INTEGER AS pb,
       |    sum(s)::BIGINT AS sb
       |  FROM occ CROSS JOIN range(1, ${Planes + 1}) t(p)
       |  GROUP BY 1, 2
       |), fr AS (
       |  SELECT p, count(*)::BIGINT AS n_buckets,
       |    max(sb)::BIGINT AS hottest, sum(sb)::BIGINT AS n,
       |    sum(sb::HUGEINT * (sb - 1)) AS pairs
       |  FROM pocc GROUP BY 1
       |), f2 AS (
       |  SELECT p, n_buckets, hottest,
       |    (hottest * 10000 // n)::BIGINT AS hot_share_bp,
       |    (pairs * 1000 // n)::BIGINT AS exp_candidates_milli
       |  FROM fr
       |), mp AS (
       |  SELECT coalesce(min(CASE WHEN exp_candidates_milli
       |      <= $ProbeBudgetMilli THEN p END), $Planes)::BIGINT AS min_p
       |  FROM f2
       |)
       |SELECT p, n_buckets, hottest, hot_share_bp, exp_candidates_milli,
       |  (p = min_p) AS elected
       |FROM f2 CROSS JOIN mp ORDER BY p""".stripMargin
}
