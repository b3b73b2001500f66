package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextHash
import graft.functions.TextHash._

/** Deduplication family (SURVEY.md §2.12 X1-X2; north-star "dedup" ops)
  * over the `documents` table.
  *
  * Four operators, from exact to approximate:
  *  - exact (sha-256 group-pick),
  *  - MinHash + banded LSH (estimated Jaccard),
  *  - exact n-gram Jaccard verification over LSH candidates,
  *  - SimHash + banded Hamming search.
  *
  * Scale posture (the reason these shapes were chosen):
  *  - No all-pairs comparison anywhere: candidate pairs always come from an
  *    equi-join on a band key, so the only shuffles are hash-partitioned on
  *    (band, signature) — the standard way a 1000-executor cluster does
  *    near-dup at 100 TB. Brute-force O(n²) variants are deliberately absent.
  *  - Signatures are computed in ONE pass per row (see TextHash scaladoc on
  *    HOF CodegenFallback + ProjectCollapse), and banding `explode`s AFTER
  *    the signature column exists, with the Generate node acting as the
  *    reuse barrier so the signature is never recomputed per band.
  *  - Banded SimHash (4 bands × 12 bits) provably recalls every pair with
  *    Hamming ≤ 3 (pigeonhole), so the banded plan equals brute force on
  *    its declared output — cheaper AND exact.
  *
  * Reference tie-in: the reference never dedups (its S3 sink happily stores
  * duplicate tweets, `ProcessStreamData.py:25-30`); these operators are the
  * LLM-data-pipeline extension the driver mandates.
  */
object Dedup {

  private val bandsN = 4 // LSH bands
  private val rowsN = 4 // minhash rows per band
  private val kMinhash = bandsN * rowsN

  /** X1 exact dedup: per-language group-pick on sha2(text). At 100 TB the
    * shuffle key is the 32-byte digest, not the document body. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), sha2(col("text"), 256).as("h"))
      .agg(count(lit(1)).as("copies"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_unique"),
        sum(col("copies")).as("n_docs"),
        sum(col("copies") - 1).as("n_dup_copies"))
      .orderBy(col("lang"))

  def exactDedupSql: String =
    """SELECT lang, count(*) AS n_unique, sum(copies)::BIGINT AS n_docs,
      |  sum(copies - 1)::BIGINT AS n_dup_copies
      |FROM (SELECT lang, sha256(text) AS h, count(*) AS copies
      |      FROM documents GROUP BY lang, sha256(text))
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---- X1+: provenance-priority dedup (q81) -------------------------------
  //
  // The multi-dump ingestion pattern: the same document arrives from
  // several sources (a curated dump, a mirror, a re-scrape) and dedup must
  // keep the copy from the MOST TRUSTED source, not an arbitrary one.
  // The corpus has no exact duplicates, so q81 injects them in-query (the
  // q60/q79 device): a 'mirror' copy (priority ABOVE the originals — it
  // must win its group) for doc_id % 7 = 0, and a 'scrape' copy (priority
  // below — it must always lose) for doc_id % 5 = 0. doc_id % 35 = 0 rows
  // get both, exercising a 3-way group.

  /** Total order for the keep rule, portable across engines: zero-padded
    * native lexicographic `(priority, doc_id)` ordering on both sides —
    * Spark as a struct key to `min_by` (structs are orderable, and the
    * agg stays map-side combinable), DuckDB as `ORDER BY prio, doc_id`
    * under a row_number window (its arg_min rejects tuple keys). No
    * string encoding, so no digit-width bound on doc_id: an earlier
    * zero-padded-VARCHAR key silently broke the total order at
    * doc_id >= 1e12 because both engines' lpad TRUNCATES long inputs. */
  private def keepKey(prio: Column, docId: Column): Column =
    struct(prio, docId)

  /** The injected multi-source corpus: originals ∪ mirror ∪ scrape copies
    * with a `prio` column (0 = mirror wins, 5 = originals, 9 = scrape
    * loses). Offsets keep injected doc_ids disjoint from the originals. */
  private def multiSource(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val mirror = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        lit("mirror").as("source"), col("text"))
    val scrape = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"),
        lit("scrape").as("source"), col("text"))
    docs.unionAll(mirror).unionAll(scrape)
      .withColumn("prio",
        when(col("source") === "mirror", 0)
          .when(col("source") === "scrape", 9).otherwise(5))
  }

  /** Kept rows after priority dedup — the user-facing materializer: one
    * row per distinct (lang, text), the copy with the smallest
    * (priority, doc_id). At 100 TB the shape is [[exactDedup]]'s: the
    * shuffle key is (lang, 32-byte digest); the winner election is a
    * map-side-combinable min_by, so the document body crosses the wire
    * once and no group is ever buffered. */
  def priorityKept(spark: SparkSession, dir: String): DataFrame =
    priorityKeptOf(multiSource(spark, dir))

  /** Winner election over ANY provenance-tagged frame (doc_id, lang,
    * source, text, prio — prio any orderable type): one row per distinct
    * (lang, text), the copy with the smallest (prio, doc_id), carrying
    * the winning text and the group's copy count. The library entry
    * point the composed pipeline (q97) chains; [[priorityKept]] binds it
    * to the injected multi-source fixture. Same 100 TB shape as
    * [[exactDedup]]: shuffle key (lang, 32-byte digest), winner election
    * via map-side-combinable min_by — the body crosses the wire once,
    * no group is buffered. */
  def priorityKeptOf(docs: DataFrame): DataFrame =
    docs
      .groupBy(col("lang"), sha2(col("text"), 256).as("h"))
      .agg(
        min_by(col("doc_id"), keepKey(col("prio"), col("doc_id"))).as("doc_id"),
        min_by(col("source"), keepKey(col("prio"), col("doc_id"))).as("source"),
        min_by(col("text"), keepKey(col("prio"), col("doc_id"))).as("text"),
        count(lit(1)).as("copies"))

  /** Priority-dedup audit (q81): per (lang, winning source) — groups won,
    * total copies in those groups, and copies discarded. Every mirror
    * group must be won by 'mirror'; 'scrape' must win nothing. */
  def priorityDedup(spark: SparkSession, dir: String): DataFrame =
    priorityKept(spark, dir)
      .groupBy(col("lang"), col("source").as("kept_source"))
      .agg(
        count(lit(1)).as("n_groups"),
        sum(col("copies")).as("n_copies"),
        sum(col("copies") - 1).as("n_discarded"))
      .orderBy(col("lang"), col("kept_source"))

  def priorityDedupSql: String = {
    s"""WITH all_docs AS (
       |  SELECT doc_id, lang, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000, lang, 'mirror', text FROM documents
       |  WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000, lang, 'scrape', text FROM documents
       |  WHERE doc_id % 5 = 0
       |), keyed AS (
       |  SELECT *, CASE WHEN source = 'mirror' THEN 0
       |                 WHEN source = 'scrape' THEN 9 ELSE 5 END AS prio
       |  FROM all_docs
       |), grp AS (
       |  SELECT lang, h, source AS kept_source, copies FROM (
       |    SELECT lang, sha256(text) AS h, source,
       |      row_number() OVER (PARTITION BY lang, sha256(text)
       |                         ORDER BY prio, doc_id) AS rn,
       |      count(*) OVER (PARTITION BY lang, sha256(text)) AS copies
       |    FROM keyed)
       |  WHERE rn = 1
       |)
       |SELECT lang, kept_source, count(*)::BIGINT AS n_groups,
       |  sum(copies)::BIGINT AS n_copies,
       |  sum(copies - 1)::BIGINT AS n_discarded
       |FROM grp GROUP BY lang, kept_source
       |ORDER BY lang, kept_source""".stripMargin
  }

  /** (doc_id, mh) minhash signatures, persisted: every consumer
    * self-joins this table, and without a materialization point Spark
    * would recompute the md5 kernels once per join side (2-4×). A dedup
    * pipeline at 100 TB does exactly this — signatures (~1% of corpus
    * bytes) are computed once and reused across the banding passes.
    * Lifecycle is explicit via [[graft.PlanCache]]: one persist per
    * (session, dir), repeated calls get the same reference (no re-cache
    * warnings), and PlanCache.clear releases it. */
  private[graft] def signatures(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(spark, s"dedup.minhashSig:$dir") {
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          graft.functions.HashExpressions.minhashSig(col("text"), 3, kMinhash).as("mh"))
    }

  /** Banded rows: (doc_id, band, sig[, carry…]). The explode sits ABOVE the
    * projection that computes `mh`, so the minhash fold runs once per doc,
    * not once per band (Generate blocks ProjectCollapse). */
  private def banded(sig: DataFrame, carry: Seq[String]): DataFrame =
    sig.select((Seq(col("doc_id"), col("mh")) ++ carry.map(col) :+
        explode(sequence(lit(0), lit(bandsN - 1))).as("band")): _*)
      .select((Seq(col("doc_id"), col("band"),
        array_join(slice(col("mh"), col("band") * rowsN + 1, lit(rowsN)), "_")
          .as("sig"), col("mh")) ++ carry.map(col)): _*)

  /** Signature-identity groups: (gkey, doc_id, mh, rep, gsize) where
    * gkey is the full joined signature string and rep = min doc_id among
    * signature-identical docs. This is the degenerate-bucket guard the
    * banding below builds on: a boilerplate doc duplicated d times lands
    * ALL d copies in the same (band, sig) bucket in EVERY band, so a
    * naive band self-join produces O(d²·bands) rows before distinct.
    * Collapsing signature-identical docs to one representative BEFORE
    * banding makes the self-join see each group once; the group's pairs
    * are reconstructed AFTER the distinct from this (tiny) membership
    * table — exact-dup-first, the standard mitigation, and lossless:
    * signature-identical docs behave identically in every band, so no
    * candidate is dropped (unlike a bucket-size cap à la
    * [[Similarity.MaxBucket]], which trades recall for the same bound). */
  private[graft] def sigGroups(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(spark, s"dedup.sigGroups:$dir") {
      val sig = signatures(spark, dir)
        .withColumn("gkey", array_join(col("mh"), "_"))
      val reps = sig.groupBy(col("gkey"))
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("gsize"))
      sig.join(reps, Seq("gkey"))
    }

  /** All banded-LSH candidate pairs with their estimated Jaccard,
    * persisted once per (session, dir): [[minhashNearDup]] thresholds it,
    * [[candidatePairs]] strips the estimate for the verifiers, and
    * [[dedupClusters]] reads it as the component-edge list. Built over
    * signature-GROUP representatives (see [[sigGroups]]) and expanded
    * back to member pairs post-distinct, so d identical docs cost d
    * output rows per partner group plus d²/2 within-group rows ONCE —
    * not O(d²·bands) join rows. Within-group pairs have est 1.0 by
    * construction (identical signatures agree in all k slots); cross
    * pairs inherit their reps' estimate, which is exactly the estimate
    * their own (identical) signatures would produce. */
  private def pairsWithEst(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(spark, s"dedup.candidatePairs:$dir") {
      val g = sigGroups(spark, dir)
      val repsOnly = g.filter(col("doc_id") === col("rep"))
        .select(col("doc_id"), col("mh"))
      val b = banded(repsOnly, Seq.empty)
      val l = b.select(col("band"), col("sig"), col("doc_id").as("ra"), col("mh").as("amh"))
      val r = b.select(col("band"), col("sig"), col("doc_id").as("rb"), col("mh").as("bmh"))
      val est = aggregate(
        zip_with(col("amh"), col("bmh"), (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v) / lit(kMinhash.toDouble)
      val repPairs = l.join(r, Seq("band", "sig"))
        .filter(col("ra") < col("rb"))
        .select(col("ra"), col("rb"), round(est, 4).as("est_jaccard"))
        .distinct()
      val members = g.select(col("rep"), col("doc_id"))
      val cross = repPairs
        .join(members.select(col("rep").as("ra"), col("doc_id").as("ida")), Seq("ra"))
        .join(members.select(col("rep").as("rb"), col("doc_id").as("idb")), Seq("rb"))
        // members of two different sig-groups interleave arbitrarily in
        // doc_id even though ra < rb, so re-orient each expanded pair
        .select(least(col("ida"), col("idb")).as("doc_a"),
          greatest(col("ida"), col("idb")).as("doc_b"), col("est_jaccard"))
      val grouped = g.filter(col("gsize") > 1).select(col("gkey"), col("doc_id"))
      val within = grouped.select(col("gkey"), col("doc_id").as("doc_a"))
        .join(grouped.select(col("gkey"), col("doc_id").as("doc_b")), Seq("gkey"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          lit(1.0).as("est_jaccard"))
      cross.unionByName(within)
    }

  /** Unsorted thresholded candidate pairs — shared by [[minhashNearDup]]
    * (which presents them ordered) and [[dedupClusters]] (which persists
    * them as the component-edge list; a global sort before that persist
    * would be a wasted shuffle). */
  private def minhashPairs(spark: SparkSession, dir: String,
                           threshold: Double): DataFrame =
    pairsWithEst(spark, dir).filter(col("est_jaccard") >= threshold)

  /** X2 MinHash near-dup: banded-LSH candidates, similarity estimated as
    * the fraction of agreeing signature slots (k=16 → est is i/16,
    * exactly representable in binary, so cross-engine float-safe). */
  def minhashNearDup(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    minhashPairs(spark, dir, threshold)
      .orderBy(col("doc_a"), col("doc_b"))

  def minhashNearDupSql(threshold: Double = 0.5): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id, ${shinglesSql("t")} AS sh FROM toks
       |), mh AS (
       |  SELECT doc_id, ${minhashSignatureSql("sh", kMinhash)} AS mh FROM sh
       |), bands AS (
       |  SELECT doc_id, b, array_to_string(mh[b*$rowsN+1 : b*$rowsN+$rowsN], '_') AS sig, mh
       |  FROM mh CROSS JOIN (SELECT unnest(range(0, $bandsN)) AS b)
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    round(list_sum([CASE WHEN x.mh[i+1] = y.mh[i+1] THEN 1 ELSE 0 END
       |                    for i in range(0, $kMinhash)]) / $kMinhash.0, 4) AS est_jaccard
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig
       |    AND x.doc_id < y.doc_id
       |)
       |SELECT doc_a, doc_b, est_jaccard FROM cand
       |WHERE est_jaccard >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Distinct banded-LSH candidate id-pairs, persisted like [[signatures]]:
    * every verifier (exact n-gram Jaccard q22, edit-distance q56 — and any
    * user-supplied metric) re-reads the SAME candidate set, so the banding
    * self-join + distinct runs once per (session, dir) instead of once per
    * verifier. That is the production dedup shape too: candidate
    * generation is one materialized pass over the signature table, then N
    * cheap verify passes over a pair list that is orders of magnitude
    * smaller than the corpus. */
  private def candidatePairs(spark: SparkSession, dir: String): DataFrame =
    pairsWithEst(spark, dir).select(col("doc_a"), col("doc_b"))

  /** X2 exact n-gram Jaccard, verified over the SAME banded-LSH candidate
    * set (candidate generation is the scalable half; this adds the exact
    * verify half — the full textbook MinHash-LSH pipeline). */
  def ngramJaccardNearDup(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    // materialize before the threshold filter and sort: CollapseProject
    // otherwise inlines the shingle-set kernel into the Filter predicate
    // and the post-sort projection, paying it 2-3× per pair (the q56
    // finding). Pair-grain, and threshold-free: every threshold reads
    // the one seam.
    val scored = graft.PlanCache.cached(spark, s"dedup.ngramJaccard:$dir") {
      val cand = candidatePairs(spark, dir)
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      cand
        .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), Seq("doc_a"))
        .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          round(graft.functions.HashExpressions.ngramJaccard(col("ta"), col("tb")), 6)
            .as("jaccard"))
    }
    scored
      .filter(col("jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def ngramJaccardNearDupSql(threshold: Double = 0.5): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id, ${shinglesSql("t")} AS sh FROM toks
       |), mh AS (
       |  SELECT doc_id, ${minhashSignatureSql("sh", kMinhash)} AS mh FROM sh
       |), bands AS (
       |  SELECT doc_id, b, array_to_string(mh[b*$rowsN+1 : b*$rowsN+$rowsN], '_') AS sig
       |  FROM mh CROSS JOIN (SELECT unnest(range(0, $bandsN)) AS b)
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig
       |    AND x.doc_id < y.doc_id
       |)
       |SELECT doc_a, doc_b,
       |  round(len(list_intersect(a.sh, b.sh))::DOUBLE /
       |    ((len(a.sh) + len(b.sh))::DOUBLE - len(list_intersect(a.sh, b.sh))::DOUBLE), 6)
       |    AS jaccard
       |FROM cand JOIN sh a ON cand.doc_a = a.doc_id
       |          JOIN sh b ON cand.doc_b = b.doc_id
       |WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
       |    ((len(a.sh) + len(b.sh))::DOUBLE - len(list_intersect(a.sh, b.sh))::DOUBLE), 6)
       |    >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- X82: containment near-dup (q156) -----------------------------------

  /** X82 containment near-dup (q156): one-sided n-gram containment over
    * the SAME banded-LSH candidate set as q20/q22/q56. Symmetric Jaccard
    * under-scores doc-contains-doc pairs — a page embedded verbatim in a
    * longer aggregator page scores |A|/|B|, arbitrarily low as the host
    * grows — so a dedup keyed on Jaccard alone keeps BOTH copies of the
    * contained text. Broder's resemblance-vs-containment distinction
    * (public: Broder 1997, "On the resemblance and containment of
    * documents"). Per candidate pair: exact shingle-set intersection,
    * both directional containments in integer basis points
    * (n_inter·10000 div |side| — BIGINT throughout, nothing floats
    * across engines), the symmetric Jaccard for comparison, and a
    * relation verdict: 'mutual' when both directions clear the
    * threshold, else which doc is contained in which. Scale: the verify
    * join touches only the persisted candidate list (orders of magnitude
    * smaller than the corpus, shared with q22/q56 — candidate generation
    * is not re-paid), and the containment math is a per-row projection.
    * Ref anchor: the reference stores duplicate tweets untouched
    * (`ProcessStreamData.py:25-30`); mandated X-family extension. */
  def containmentNearDup(spark: SparkSession, dir: String,
                         thresholdBp: Long = 8000L): DataFrame = {
    val cand = candidatePairs(spark, dir)
    val docs = Tables.documents(spark, dir).select(col("doc_id"),
      graft.functions.HashExpressions.shingles(col("text")).as("sh"))
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("n_inter"),
        size(col("sha")).cast("long").as("n_a"),
        size(col("shb")).cast("long").as("n_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"), col("n_b"),
        expr("n_inter * 10000 div (n_a + n_b - n_inter)").as("jaccard_bp"),
        expr("n_inter * 10000 div n_a").as("cont_a_bp"),
        expr("n_inter * 10000 div n_b").as("cont_b_bp"))
      .filter(greatest(col("cont_a_bp"), col("cont_b_bp")) >= thresholdBp)
      .withColumn("relation",
        when(col("cont_a_bp") >= thresholdBp && col("cont_b_bp") >= thresholdBp,
          lit("mutual"))
          .when(col("cont_a_bp") >= thresholdBp, lit("a_in_b"))
          .otherwise(lit("b_in_a")))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def containmentNearDupSql(thresholdBp: Long = 8000L): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id, ${shinglesSql("t")} AS sh FROM toks
       |), mh AS (
       |  SELECT doc_id, ${minhashSignatureSql("sh", kMinhash)} AS mh FROM sh
       |), bands AS (
       |  SELECT doc_id, b, array_to_string(mh[b*$rowsN+1 : b*$rowsN+$rowsN], '_') AS sig
       |  FROM mh CROSS JOIN (SELECT unnest(range(0, $bandsN)) AS b)
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig
       |    AND x.doc_id < y.doc_id
       |), m AS (
       |  SELECT doc_a, doc_b, len(list_intersect(a.sh, b.sh))::BIGINT AS n_inter,
       |    len(a.sh)::BIGINT AS n_a, len(b.sh)::BIGINT AS n_b
       |  FROM cand JOIN sh a ON cand.doc_a = a.doc_id
       |            JOIN sh b ON cand.doc_b = b.doc_id
       |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
       |)
       |SELECT doc_a, doc_b, n_inter, n_a, n_b,
       |  n_inter * 10000 // (n_a + n_b - n_inter) AS jaccard_bp,
       |  n_inter * 10000 // n_a AS cont_a_bp,
       |  n_inter * 10000 // n_b AS cont_b_bp,
       |  CASE WHEN n_inter * 10000 // n_a >= $thresholdBp
       |        AND n_inter * 10000 // n_b >= $thresholdBp THEN 'mutual'
       |       WHEN n_inter * 10000 // n_a >= $thresholdBp THEN 'a_in_b'
       |       ELSE 'b_in_a' END AS relation
       |FROM m
       |WHERE greatest(n_inter * 10000 // n_a, n_inter * 10000 // n_b)
       |  >= $thresholdBp
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- X87: truncation-family audit (q161) ---------------------------------

  /** X87 truncation-family audit (q161): documents grouped by the
    * 60-bit hash of their first `headN` tokens — the head fingerprint.
    * A group holding MORE than one distinct text is a truncation/
    * extension family: re-crawls cut at different byte budgets, feed
    * previews next to full articles, or expanding wiki revisions — the
    * same page at different lengths. Exact dedup (q19) keeps every
    * length variant and near-dup banding only catches them while the
    * length gap is small (Jaccard |A|/|B| decays with the extension —
    * the q156 containment story, but head-anchored and exact, no LSH
    * needed). Per language: head groups, families, affected docs, the
    * token mass a keep-longest policy would discard (exact copies
    * within a family count toward the discard — the policy keeps ONE
    * row), eligible token total and the waste in basis points. Docs
    * shorter than `headN` tokens have no head fingerprint and are
    * excluded by construction.
    *
    * Scale posture: one narrow scan emits (lang, head-hash, text-hash,
    * ntok) — 8-byte keys, text never shuffles (the q73/q87 rule); the
    * distinct-text count rides the q137 two-level histogram device
    * (groupBy (lang, hk, th) then (lang, hk)) so no Expand ever
    * doubles the stream; the per-lang rollup is map-side combined. */
  def truncationFamilies(spark: SparkSession, dir: String,
                         headN: Int = 8): DataFrame = {
    require(headN > 0, s"truncationFamilies: headN must be positive ($headN)")
    Tables.documents(spark, dir)
      .select(col("lang"), TextHash.tokens(col("text")).as("t"),
        TextHash.h1(col("text")).as("th"))
      .filter(size(col("t")) >= headN)
      .select(col("lang"),
        TextHash.h1(concat_ws(" ", slice(col("t"), 1, headN))).as("hk"),
        col("th"), size(col("t")).cast("long").as("ntok"))
      .groupBy(col("lang"), col("hk"), col("th"))
      .agg(count(lit(1)).as("cnt"), sum(col("ntok")).as("s0"),
        max(col("ntok")).as("m0"))
      .groupBy(col("lang"), col("hk"))
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("nd"),
        sum(col("s0")).as("s"), max(col("m0")).as("mx"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_heads"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_families"),
        sum(when(col("nd") > 1, col("n")).otherwise(0L)).as("n_docs_affected"),
        sum(when(col("nd") > 1, col("s") - col("mx")).otherwise(0L))
          .as("wasted_tokens"),
        sum(col("s")).as("total_tokens"))
      .withColumn("wasted_bp", expr("wasted_tokens * 10000 div total_tokens"))
      .orderBy(col("lang"))
  }

  def truncationFamiliesSql(headN: Int = 8): String =
    s"""WITH t AS (
       |  SELECT lang, text, string_split(lower(text), ' ') AS toks
       |  FROM documents
       |), e AS (
       |  SELECT lang,
       |    ${TextHash.h1Sql(s"array_to_string(toks[1:$headN], ' ')")} AS hk,
       |    ${TextHash.h1Sql("text")} AS th, len(toks)::BIGINT AS ntok
       |  FROM t WHERE len(toks) >= $headN
       |), g1 AS (
       |  SELECT lang, hk, th, count(*)::BIGINT AS cnt,
       |    sum(ntok)::BIGINT AS s0, max(ntok)::BIGINT AS m0
       |  FROM e GROUP BY 1, 2, 3
       |), g2 AS (
       |  SELECT lang, hk, sum(cnt)::BIGINT AS n, count(*)::BIGINT AS nd,
       |    sum(s0)::BIGINT AS s, max(m0)::BIGINT AS mx
       |  FROM g1 GROUP BY 1, 2
       |)
       |SELECT lang, count(*)::BIGINT AS n_heads,
       |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_families,
       |  sum(CASE WHEN nd > 1 THEN n ELSE 0 END)::BIGINT AS n_docs_affected,
       |  sum(CASE WHEN nd > 1 THEN s - mx ELSE 0 END)::BIGINT AS wasted_tokens,
       |  sum(s)::BIGINT AS total_tokens,
       |  (sum(CASE WHEN nd > 1 THEN s - mx ELSE 0 END)::BIGINT * 10000
       |    // sum(s))::BIGINT AS wasted_bp
       |FROM g2 GROUP BY lang ORDER BY lang""".stripMargin

  // ---- X37: LSH banding recall audit (q110) -------------------------------

  /** Probe-set bound for [[lshRecallAudit]] — fixed doc_id prefix, so the
    * exact leg stays a bounded-probe × corpus scan at every SF (the q93
    * sampled-query device applied to the dedup index). */
  val LshProbeMax = 32L

  /** X37 LSH banding recall audit (q110): how much of the TRUE near-dup
    * mass does the q20 banding actually retrieve, by similarity bucket —
    * the parameter-tuning measurement (bands × rows trade recall for
    * join cost) a dedup deployment runs before trusting its candidate
    * generation. Ground truth is exact n-gram Jaccard of a fixed probe
    * set against the whole corpus; retrieved = membership in the shared
    * banded candidate-pair table. Theory says recall ≈ 1−(1−J^r)^b —
    * rising steeply with J; the audit measures it on the real corpus.
    *
    * Scale posture: the exact leg is |probes| × corpus kernel
    * evaluations — LINEAR via a broadcast of the ≤[[LshProbeMax]]-row
    * probe table (never corpus × corpus); the candidate side reuses the
    * PlanCache'd pair table every verifier already shares; the recall
    * join is probe-pair-sized. */
  def lshRecallAudit(spark: SparkSession, dir: String,
                     threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val probes = docs.filter(col("doc_id") < LshProbeMax)
      .select(col("doc_id").as("pa"), col("text").as("pt"))
    // the exact leg (|probes| × corpus Jaccard kernel) is the audit's
    // dominant cost and is pure truth — persist it so repeated audit
    // reads (Bench passes, downstream consumers) pay the kernel once
    val truePairs = graft.PlanCache.cached(spark,
      s"dedup.lshTruth:$threshold:$dir") {
      // materialize before the threshold filter: the filter otherwise
      // re-inlines the |probes|×corpus Jaccard kernel (the q56
      // finding) — this halves the seam's one-time build cost
      graft.PlanCache.cached(spark, s"dedup.lshProbeJaccard:$dir") {
        docs.join(broadcast(probes), col("doc_id") =!= col("pa"))
          .select(least(col("pa"), col("doc_id")).as("doc_a"),
            greatest(col("pa"), col("doc_id")).as("doc_b"),
            round(graft.functions.HashExpressions.ngramJaccard(col("pt"), col("text")), 6)
              .as("j"))
      }
        .filter(col("j") >= threshold)
        // two probes can generate the same pair (both ends probed)
        .groupBy(col("doc_a"), col("doc_b")).agg(max(col("j")).as("j"))
    }
    val cand = candidatePairs(spark, dir).withColumn("hit", lit(1L))
    truePairs.join(cand, Seq("doc_a", "doc_b"), "left")
      .select(
        when(col("j") >= 0.9, "[0.9,1.0]")
          .when(col("j") >= 0.7, "[0.7,0.9)")
          .otherwise("[0.5,0.7)").as("bucket"),
        coalesce(col("hit"), lit(0L)).as("hit"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_true"), sum(col("hit")).as("n_retrieved"))
      .select(col("bucket"), col("n_true"), col("n_retrieved"),
        round(col("n_retrieved") / col("n_true").cast("double"), 6).as("recall"))
      .orderBy(col("bucket"))
  }

  def lshRecallAuditSql(threshold: Double = 0.5): String = {
    val jac = (a: String, b: String) =>
      s"round(len(list_intersect($a, $b))::DOUBLE / ((len($a) + len($b))::DOUBLE" +
        s" - len(list_intersect($a, $b))::DOUBLE), 6)"
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id, ${shinglesSql("t")} AS sh FROM toks
       |), mh AS (
       |  SELECT doc_id, ${minhashSignatureSql("sh", kMinhash)} AS mh FROM sh
       |), bands AS (
       |  SELECT doc_id, b, array_to_string(mh[b*$rowsN+1 : b*$rowsN+$rowsN], '_') AS sig
       |  FROM mh CROSS JOIN (SELECT unnest(range(0, $bandsN)) AS b)
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig
       |    AND x.doc_id < y.doc_id
       |), probes AS (
       |  SELECT doc_id AS pa, sh AS psh FROM sh WHERE doc_id < $LshProbeMax
       |), tp AS (
       |  SELECT least(p.pa, d.doc_id) AS doc_a,
       |    greatest(p.pa, d.doc_id) AS doc_b,
       |    max(${jac("p.psh", "d.sh")}) AS j
       |  FROM probes p JOIN sh d ON d.doc_id <> p.pa
       |  WHERE ${jac("p.psh", "d.sh")} >= $threshold
       |  GROUP BY 1, 2
       |)
       |SELECT CASE WHEN j >= 0.9 THEN '[0.9,1.0]'
       |            WHEN j >= 0.7 THEN '[0.7,0.9)'
       |            ELSE '[0.5,0.7)' END AS bucket,
       |  count(*)::BIGINT AS n_true,
       |  sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |    AS n_retrieved,
       |  round(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
       |    / count(*), 6) AS recall
       |FROM tp LEFT JOIN cand c USING (doc_a, doc_b)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- X39: fuzzy benchmark decontamination (q112) ------------------------

  /** X39 contamination severity triage (q112): cross-check q45's exact
    * shared-n-gram rule (high recall, flag-explosion-prone — ONE shared
    * phrase flags a doc) against whole-document MinHash similarity to
    * the benchmark (est Jaccard ≥ `tau` — the certainly-leaked core).
    * Reports, per language: corpus docs, exact-rule flags, near-dup
    * flags, and the overlap. The exact-only delta is the incidental
    * single-phrase overlap a reviewer can often keep; the near-dup set
    * is the must-remove whole-item leakage — the triage real
    * decontamination runs do when the n-gram rule flags too much.
    *
    * Scale posture: the fuzzy leg is a FILTER over the PlanCache'd
    * banded candidate-pair table every dedup consumer already shares
    * (bench ids sort below corpus ids, so bench×corpus pairs are exactly
    * the pairs straddling the id boundary — no new join); the exact leg
    * is the audited q45 broadcast-semi-join shape. Nothing here adds a
    * corpus-sized shuffle beyond what q20/q45 already paid. */
  def fuzzyContamination(spark: SparkSession, dir: String,
                         benchSize: Int = 10, n: Int = 5,
                         tau: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sh = docs.select(col("doc_id"),
      explode(graft.functions.HashExpressions.shingleHashes(col("text"), n)).as("h"))
    val bench = sh.filter(col("doc_id") < benchSize).select(col("h")).distinct()
    val exact = sh.filter(col("doc_id") >= benchSize)
      .join(broadcast(bench), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("ex", lit(1L))
    val fuzzy = pairsWithEst(spark, dir)
      .filter(col("doc_a") < benchSize && col("doc_b") >= benchSize &&
        col("est_jaccard") >= tau)
      .select(col("doc_b").as("doc_id")).distinct().withColumn("fz", lit(1L))
    docs.filter(col("doc_id") >= benchSize)
      .select(col("doc_id"), col("lang"))
      .join(exact, Seq("doc_id"), "left")
      .join(fuzzy, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_corpus_docs"),
        sum(coalesce(col("ex"), lit(0L))).as("n_exact_flagged"),
        sum(coalesce(col("fz"), lit(0L))).as("n_fuzzy_flagged"),
        sum(when(col("ex").isNotNull && col("fz").isNotNull, 1L)
          .otherwise(0L)).as("n_both"))
      .orderBy(col("lang"))
  }

  def fuzzyContaminationSql(benchSize: Int = 10, n: Int = 5,
                            tau: Double = 0.5): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), shd AS (
       |  SELECT doc_id, ${TextHash.h1Sql("g")} AS h
       |  FROM (SELECT doc_id, unnest(${shinglesSql("t", n)}) AS g FROM toks)
       |), bench AS (
       |  SELECT DISTINCT h FROM shd WHERE doc_id < $benchSize
       |), exact AS (
       |  SELECT DISTINCT s.doc_id FROM shd s JOIN bench USING (h)
       |  WHERE s.doc_id >= $benchSize
       |), sh3 AS (
       |  SELECT doc_id, ${shinglesSql("t")} AS sh FROM toks
       |), mh AS (
       |  SELECT doc_id, ${minhashSignatureSql("sh", kMinhash)} AS mh FROM sh3
       |), bands AS (
       |  SELECT doc_id, b, array_to_string(mh[b*$rowsN+1 : b*$rowsN+$rowsN], '_') AS sig, mh
       |  FROM mh CROSS JOIN (SELECT unnest(range(0, $bandsN)) AS b)
       |), fuzzy AS (
       |  SELECT DISTINCT y.doc_id
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig
       |    AND x.doc_id < $benchSize AND y.doc_id >= $benchSize
       |  WHERE round(list_sum([CASE WHEN x.mh[i+1] = y.mh[i+1] THEN 1 ELSE 0 END
       |                        for i in range(0, $kMinhash)]) / $kMinhash.0, 4)
       |    >= $tau
       |)
       |SELECT d.lang, count(*)::BIGINT AS n_corpus_docs,
       |  sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |    AS n_exact_flagged,
       |  sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |    AS n_fuzzy_flagged,
       |  sum(CASE WHEN e.doc_id IS NOT NULL AND f.doc_id IS NOT NULL
       |    THEN 1 ELSE 0 END)::BIGINT AS n_both
       |FROM documents d
       |LEFT JOIN exact e ON d.doc_id = e.doc_id
       |LEFT JOIN fuzzy f ON d.doc_id = f.doc_id
       |WHERE d.doc_id >= $benchSize
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** X2 SimHash near-dup: 60-bit fingerprints, 4 bands × 15 bits; banding
    * is exhaustive for Hamming ≤ 3 (pigeonhole: 3 flipped bits leave ≥1
    * clean band), so this banded plan returns exactly the brute-force
    * answer without the O(n²) pass. 60 bits is the kernel's ceiling (the
    * fingerprint draws from a 60-bit md5 half); vs the round-1 48-bit / 4
    * bands × 12 bits this is 8× more buckets per band (32768), cutting
    * the within-bucket quadratic pair count 8× at fixed corpus size. */
  def simhashNearDup(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    val sim = graft.PlanCache.cached(spark, s"dedup.simhash:$dir") {
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          graft.functions.HashExpressions.simhash(col("text"), bits = 60).as("s"))
    }
    val b = sim
      .select(col("doc_id"), col("s"), explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("doc_id"), col("s"), col("band"),
        expr("shiftright(s, cast(band * 15 as int)) % 32768").as("key"))
    val l = b.select(col("band"), col("key"), col("doc_id").as("doc_a"), col("s").as("sa"))
    val r = b.select(col("band"), col("key"), col("doc_id").as("doc_b"), col("s").as("sb"))
    l.join(r, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** X2+ edit-distance verify over LSH candidates: the third verify
    * metric (alongside est-Jaccard q20 and exact n-gram Jaccard q22) —
    * Levenshtein distance, the right verifier when near-dups differ by
    * small in-place edits rather than block moves. O(len²) per pair, so
    * it ONLY runs on the banded-LSH candidate set ([[candidatePairs]],
    * shared with q22), never all pairs; the candidate ids join text back
    * from the doc table (at scale: SMJ on doc_id — text never rides
    * through the banding shuffles). */
  def editDistanceNearDup(spark: SparkSession, dir: String,
                          maxDist: Int = 20): DataFrame = {
    // materialization point BEFORE the threshold filter and the sort:
    // CollapseProject otherwise inlines the levenshtein into the
    // Filter predicate AND the post-sort projection, paying the DP
    // 2-3× per pair (measured 1.03 → 0.41 s; the §4.4 duplicate-
    // evaluation trap, expression flavor). Pair-grain, ≤|candidates|.
    val scored = graft.PlanCache.cached(spark, s"dedup.editDist:$maxDist:$dir") {
      val cand = candidatePairs(spark, dir)
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      cand
        .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), Seq("doc_a"))
        .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), Seq("doc_b"))
        // |len(a)-len(b)| is an exact lower bound on edit distance: prune
        // before paying the per-pair DP at all
        .filter(abs(length(col("ta")) - length(col("tb"))) <= maxDist)
        // thresholded levenshtein runs the banded O(len·maxDist) algorithm
        // and early-exits past the bound (returns -1), instead of the full
        // O(len²) table — same kept pairs, same distances, since every pair
        // beyond maxDist is filtered out either way.
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("ta"), col("tb"), maxDist).cast("long").as("edit_dist"))
    }
    scored
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def editDistanceNearDupSql(maxDist: Int = 20): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id, ${shinglesSql("t")} AS sh FROM toks
       |), mh AS (
       |  SELECT doc_id, ${minhashSignatureSql("sh", kMinhash)} AS mh FROM sh
       |), bands AS (
       |  SELECT doc_id, b, array_to_string(mh[b*$rowsN+1 : b*$rowsN+$rowsN], '_') AS sig
       |  FROM mh CROSS JOIN (SELECT unnest(range(0, $bandsN)) AS b)
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig
       |    AND x.doc_id < y.doc_id
       |)
       |SELECT c.doc_a, c.doc_b,
       |  levenshtein(a.text, b.text)::BIGINT AS edit_dist
       |FROM cand c
       |JOIN documents a ON a.doc_id = c.doc_a
       |JOIN documents b ON b.doc_id = c.doc_b
       |WHERE levenshtein(a.text, b.text) <= $maxDist
       |ORDER BY doc_a, doc_b""".stripMargin

  /** X1/X2+ incremental dedup: the snapshot-ingestion shape — a NEW batch
    * (doc_id ≥ histSize) dedups against the HISTORICAL corpus's
    * signature index (doc_id < histSize) instead of against itself. The
    * key is the full k-slot MinHash signature (one string — same key the
    * streaming twin [[graft.streaming.Pipeline.dedupNearMinhash]] uses,
    * same native kernel), so a new doc is dropped iff a
    * signature-identical (est. Jaccard 1.0) historical doc exists.
    *
    * Scale posture: at 100 TB the historical side is a materialized
    * signature table (~tens of bytes/doc), re-read per batch, never
    * recomputed; the anti-join shuffles on the signature string, and only
    * the new batch's text is ever scanned. */
  def incrementalDedup(spark: SparkSession, dir: String,
                       histSize: Int = 200): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("sig", array_join(
        graft.functions.HashExpressions.minhashSig(col("text"), 3, kMinhash), "_"))
    val hist = docs.filter(col("doc_id") < histSize)
      .select(col("sig")).distinct()
    val newDocs = docs.filter(col("doc_id") >= histSize)
    val kept = newDocs.join(hist, Seq("sig"), "left_anti")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    newDocs.groupBy(col("lang")).agg(count(lit(1)).as("n_new"))
      .join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_new"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_new") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
      .orderBy(col("lang"))
  }

  def incrementalDedupSql(histSize: Int = 200): String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, string_split(lower(text), ' ') AS t
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, lang, ${shinglesSql("t")} AS sh FROM toks
       |), sigs AS (
       |  SELECT doc_id, lang,
       |    array_to_string(${minhashSignatureSql("sh", kMinhash)}, '_') AS sig
       |  FROM sh
       |), hist AS (
       |  SELECT DISTINCT sig FROM sigs WHERE doc_id < $histSize
       |), newd AS (
       |  SELECT lang, sig FROM sigs WHERE doc_id >= $histSize
       |)
       |SELECT lang, count(*) AS n_new,
       |  sum(CASE WHEN sig IN (SELECT sig FROM hist)
       |      THEN 0 ELSE 1 END)::BIGINT AS n_kept,
       |  sum(CASE WHEN sig IN (SELECT sig FROM hist)
       |      THEN 1 ELSE 0 END)::BIGINT AS n_dropped
       |FROM newd GROUP BY lang ORDER BY lang""".stripMargin

  // ---- X43: incremental NEAR-dup intake vs a snapshot LSH index (q116) ----

  /** X43 snapshot-index near-dup intake (q116): the banded generalization
    * of [[incrementalDedup]] — a delta batch (odd doc_ids, the q113
    * snapshot convention) probes the HISTORICAL corpus's banded-LSH
    * index (even doc_ids) instead of exact signature identity, so a new
    * document is flagged iff ANY of its bands collides with a snapshot
    * bucket (an estimated-Jaccard ≥ 1/bands candidate — the same recall
    * contract as q20's self-join, applied cross-corpus). Per language:
    * delta size, flagged (near-dup of the snapshot), fresh, and the flag
    * rate in basis points.
    *
    * Scale posture: the index is `distinct (band, sig)` over the
    * snapshot — bounded by DISTINCT content, invariant under duplicate
    * inflation (ScaleHarnessSpec pins this), persisted once and re-read
    * per ingest batch; the probe side is one row per delta doc per band
    * (linear in the batch). The snapshot CORPUS BODY is never read —
    * only its signature index — which is what makes per-batch ingest
    * dedup affordable at 100 TB. */
  /** The q116 snapshot index: distinct (band, sig) buckets over the
    * even-id half. Scale-harness seam (ScaleHarnessSpec): its size is
    * bounded by DISTINCT content × bands — duplicate inflation must
    * leave it unchanged. */
  private[graft] def snapshotIndex(spark: SparkSession, dir: String): DataFrame =
    banded(signatures(spark, dir).filter(col("doc_id") % 2 === 0), Seq.empty)
      .select(col("band"), col("sig")).distinct()

  def snapshotNearDupIntake(spark: SparkSession, dir: String): DataFrame = {
    val sig = signatures(spark, dir)
    val index = snapshotIndex(spark, dir)
    val delta = sig.filter(col("doc_id") % 2 === 1)
    val flagged = banded(delta, Seq.empty)
      .join(index, Seq("band", "sig"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("hit", lit(1L))
    val langs = Tables.documents(spark, dir)
      .filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"))
    langs.join(flagged, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_delta"),
        coalesce(sum(col("hit")), lit(0L)).as("n_flagged"))
      .select(col("lang"), col("n_delta"), col("n_flagged"),
        (col("n_delta") - col("n_flagged")).as("n_fresh"),
        expr("n_flagged * 10000 div n_delta").as("flag_rate_bp"))
      .orderBy(col("lang"))
  }

  def snapshotNearDupIntakeSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id, lang, ${shinglesSql("t")} AS sh FROM toks
       |), mh AS (
       |  SELECT doc_id, lang, ${minhashSignatureSql("sh", kMinhash)} AS mh FROM sh
       |), bands AS (
       |  SELECT doc_id, lang, b,
       |    array_to_string(mh[b*$rowsN+1 : b*$rowsN+$rowsN], '_') AS sig
       |  FROM mh CROSS JOIN (SELECT unnest(range(0, $bandsN)) AS b)
       |), idx AS (
       |  SELECT DISTINCT b, sig FROM bands WHERE doc_id % 2 = 0
       |), delta AS (
       |  SELECT doc_id, lang,
       |    max(CASE WHEN EXISTS (SELECT 1 FROM idx
       |      WHERE idx.b = bands.b AND idx.sig = bands.sig)
       |      THEN 1 ELSE 0 END) AS hit
       |  FROM bands WHERE doc_id % 2 = 1 GROUP BY doc_id, lang
       |)
       |SELECT lang, count(*) AS n_delta,
       |  sum(hit)::BIGINT AS n_flagged,
       |  (count(*) - sum(hit))::BIGINT AS n_fresh,
       |  ((sum(hit) * 10000) // count(*))::BIGINT AS flag_rate_bp
       |FROM delta GROUP BY lang ORDER BY lang""".stripMargin

  def simhashNearDupSql(maxHamming: Int = 3): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), hh AS (
       |  SELECT doc_id, ${tokenHashesSql("t")} AS hh FROM toks
       |), sim AS (
       |  SELECT doc_id, (${simhashSqlExpr("hh", bits = 60)})::BIGINT AS s FROM hh
       |), bands AS (
       |  SELECT doc_id, s, b, (s >> (b * 15)) % 32768 AS key
       |  FROM sim CROSS JOIN (SELECT unnest(range(0, 4)) AS b)
       |)
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  bit_count(xor(x.s, y.s))::BIGINT AS hamming
       |FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
       |  AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.s, y.s)) <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  /** X1+/X2+ duplicate-CLUSTER formation (q64): near-dup PAIRS are not
    * yet a dedup decision — "keep one representative per duplicate
    * group" needs the connected components of the pair graph (A~B, B~C
    * ⇒ {A,B,C} is one group even though A,C never collided in a band).
    * Components come from `rounds` unrolled min-label-propagation
    * iterations over the banded-LSH candidate pairs: label starts as
    * doc_id, each round takes the min over the neighborhood — after k
    * rounds every component whose min-label eccentricity ≤ k has
    * converged (LSH dup groups are near-cliques; DedupSpec asserts the
    * fixpoint on fixtures by checking rounds and rounds+1 agree).
    *
    * Scale posture: the label table is (doc_id, label) — tens of bytes a
    * row — and the edge list is only the near-dup pairs (≪ corpus), so
    * each round is two cheap hash-partitioned shuffles on doc ids, never
    * on text. The edge list is computed once ([[graft.PlanCache]]) and
    * reused by all rounds, and EVERY round is itself a PlanCache
    * materialization point — the persisted-loop shape GraphX's Pregel
    * uses per superstep. Without the per-round barrier the unrolled plan
    * nests `rounds` copies of the edge subtree: Catalyst + the
    * CacheManager's canonicalized cache-lookup walk that whole tree on
    * every execution, which measured 64 s (vs ~1 s) for q64 inside a
    * fully-loaded 70-query session. At 100 TB you'd add a driver
    * convergence check (or alternate large-star/small-star to bound
    * rounds by log n); the fixed-round form is the oracle-expressible
    * twin with identical semantics.
    *
    * Docs in no candidate pair join the label set as their own
    * representative BEFORE the size histogram, so a size-1 member
    * cluster (possible only if propagation hasn't converged) aggregates
    * identically to the oracle's GROUP BY cluster_size instead of
    * surfacing as a second cluster_size=1 row. */
  def dedupClusters(spark: SparkSession, dir: String,
                    threshold: Double = 0.5, rounds: Int = 6): DataFrame = {
    val labels = dedupClusterAssignments(spark, dir, threshold, rounds)
    val singles = Tables.documents(spark, dir).select(col("doc_id"))
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("label"))
    labels.unionByName(singles)
      .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))
      .orderBy(col("cluster_size"))
  }

  /** (doc_id, label) component assignments for every doc that appears in
    * some near-dup pair — label is the component's minimum doc_id, i.e.
    * THE deterministic representative a dedup pipeline keeps ("keep the
    * doc where doc_id == label, drop the rest"). Docs in no pair are
    * their own representative and are omitted here; [[dedupClusters]]
    * unions them back in as size-1 clusters before its histogram.
    * DedupSpec asserts every candidate pair's endpoints share a label
    * (the defining component property). */
  def dedupClusterAssignments(spark: SparkSession, dir: String,
                              threshold: Double = 0.5,
                              rounds: Int = 6): DataFrame = {
    // Symmetric candidate edges + self-loops, persisted: self-loops fold
    // "min with my own label" into the neighborhood min, so each round is
    // ONE join + ONE aggregate referencing the previous labels ONCE. (The
    // textbook two-reference formulation — neighbor-min joined back onto
    // labels — doubles the unrolled plan per round: O(2^rounds) recompute
    // without a materialization barrier. This shape is linear.)
    val edges = clusterEdges(spark, dir, threshold)
    // memoized per (session, params): repeated calls (Bench's two passes,
    // dedupClusters' union + anti-join double reference) reuse ONE chain
    graft.PlanCache.cached(spark,
      s"dedup.labels:$threshold:$rounds:$dir") {
      runPropagation(edges, rounds, s"dedup.rounds:$threshold:$dir")
    }
  }

  /** [[dedupClusterAssignments]] with `rounds = auto`: iterate until a
    * driver-side changed-label count reaches 0 (one cheap aggregate per
    * round over the member set, which is ≪ corpus), capped at
    * `maxRounds`. Min-label propagation needs as many rounds as the
    * component DIAMETER, so any fixed round count silently under-merges
    * a longer chain — DedupSpec proves a diameter-8 chain fixture merges
    * fully here while fixed-6 provably does not. The fixed-round form
    * stays the oracle twin (a convergence loop is not expressible as one
    * SQL query); the 64-round cap is a runaway backstop, not a tuning
    * knob — a real corpus chain that deep means the threshold is too
    * loose. (The log-n-round alternative is large-star/small-star
    * pointer doubling; at diameters seen in LSH dedup graphs the plain
    * loop converges in a handful of rounds and each round is one join.) */
  def dedupClusterAssignmentsAuto(spark: SparkSession, dir: String,
                                  threshold: Double = 0.5,
                                  maxRounds: Int = 64): DataFrame = {
    val edges = clusterEdges(spark, dir, threshold)
    graft.PlanCache.cached(spark,
      s"dedup.labelsAuto:$threshold:$maxRounds:$dir") {
      runPropagationAuto(edges, maxRounds, s"dedup.rounds:$threshold:$dir")._1
    }
  }

  /** Min-label propagation over an arbitrary candidate-pair list
    * (doc_a, doc_b) for `rounds` rounds — the loop [[dedupClusters]]
    * runs, exposed so tests (and users with their own similarity
    * metric) can drive it on any edge set. A caller's pair list has no
    * stable name, so its round seams are keyed per call and live until
    * `PlanCache.clear`. */
  def propagateLabels(pairs: DataFrame, rounds: Int): DataFrame =
    runPropagation(symEdges(pairs), rounds, callKey())

  /** [[propagateLabels]] with convergence detection: returns the labels
    * plus the number of rounds actually run (the converging round — the
    * one that changed nothing — included). */
  def propagateLabelsAuto(pairs: DataFrame, maxRounds: Int = 64): (DataFrame, Int) =
    runPropagationAuto(symEdges(pairs), maxRounds, callKey())

  private def callKey(): String = s"dedup.propagate:${java.util.UUID.randomUUID()}"

  /** The persisted component-edge list both propagation entry points
    * share: thresholded candidate pairs symmetrized with members-only
    * self-loops (a doc with no edges can never change label, so
    * propagation runs over |members| ≪ corpus rows). */
  private def clusterEdges(spark: SparkSession, dir: String,
                           threshold: Double): DataFrame =
    graft.PlanCache.cached(spark, s"dedup.edges:$threshold:$dir") {
      symEdges(minhashPairs(spark, dir, threshold)
        .select(col("doc_a"), col("doc_b")))
    }

  /** Symmetric edges + members-only self-loops from a pair list — the
    * edge shape [[runPropagation]] consumes (see [[dedupClusterAssignments]]
    * for why self-loops fold "min with my own label" into one join). */
  private def symEdges(pairs0: DataFrame): DataFrame = {
    val pairs = pairs0.select(col(pairs0.columns(0)).as("doc_a"),
      col(pairs0.columns(1)).as("doc_b"))
    val sym = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("a", "b")
    sym.union(sym.select(col("a"), col("a")).distinct()).toDF("a", "b")
  }

  private def initialLabels(edges: DataFrame): DataFrame =
    edges.select(col("a").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("label"))

  private def propagationRound(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.select(col("doc_id").as("b"), col("label")), Seq("b"))
      .groupBy(col("a")).agg(min(col("label")).as("label"))
      .select(col("a").as("doc_id"), col("label"))

  /** Round `i`'s labels as a seam under `key` (which names the edges). */
  private def roundSeam(edges: DataFrame, key: String, i: Int)(
      labels: => DataFrame): DataFrame =
    graft.PlanCache.cached(edges.sparkSession, s"$key:round$i")(labels)

  private def runPropagation(edges: DataFrame, rounds: Int, key: String): DataFrame = {
    var labels = initialLabels(edges)
    for (i <- 1 to rounds) {
      // a seam per round: each round's logical plan is a one-join tree
      // over the previous round's cached leaf, not an `rounds`-deep
      // nesting of every earlier round. Without this, Catalyst and the
      // CacheManager's canonicalized cache-lookup re-walk the whole
      // unrolled tree per execution — measured 64 s (vs ~1 s) for q64
      // inside a fully-loaded 70-query session. This is the
      // persisted-loop shape GraphX's Pregel uses per superstep; a lost
      // block is rebuilt from the round's cached plan.
      labels = roundSeam(edges, key, i)(propagationRound(edges, labels))
    }
    labels
  }

  private def runPropagationAuto(edges: DataFrame, maxRounds: Int,
                                 key: String): (DataFrame, Int) = {
    // each round's labels are read twice (the changed-count action and
    // the next round's join), so the count fills the round's seam once
    // and the changed-count is a join of two in-memory tables
    var labels = roundSeam(edges, key, 0)(initialLabels(edges))
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val next = roundSeam(edges, key, round + 1)(propagationRound(edges, labels))
      val changed = next
        .join(labels.withColumnRenamed("label", "prev"), Seq("doc_id"))
        .filter(col("label") =!= col("prev")).count()
      labels = next
      round += 1
      converged = changed == 0
    }
    (labels, round)
  }

  /** The deduplicated corpus itself — one representative document per
    * near-dup cluster (the doc whose doc_id equals its component label)
    * plus every singleton, with original columns intact. This is the
    * one-call "dedup my corpus" materializer built on
    * [[dedupClusterAssignments]]; the histogram (q64) and the pair
    * listings are its audit views. At 100 TB: one left join of the
    * corpus against the (tiny) member-label table on doc_id, then a
    * narrow filter — the corpus body never shuffles on anything but its
    * own key. */
  def dedupKept(spark: SparkSession, dir: String,
                threshold: Double = 0.5, rounds: Int = 6): DataFrame = {
    val labels = dedupClusterAssignments(spark, dir, threshold, rounds)
    Tables.documents(spark, dir)
      .join(labels, Seq("doc_id"), "left")
      .filter(col("label").isNull || col("label") === col("doc_id"))
      .drop("label")
  }

  /** The shared label-propagation CTE chain (`toks … l$rounds`) — the
    * WITH-body both [[dedupClustersSql]] and the composed-pipeline
    * oracle ([[CurationPipeline.summarySql]]) build on. `l$rounds` holds
    * (doc_id, label) for EVERY document (isolated docs keep their own
    * id), so "kept" is `label = doc_id`. */
  def labelPropagationCtes(threshold: Double = 0.5, rounds: Int = 6): String = {
    val iters = (1 to rounds).map { i =>
      s""", l$i AS (
         |  SELECT l.doc_id,
         |    least(l.label, coalesce(min(n.label), l.label)) AS label
         |  FROM l${i - 1} l
         |  LEFT JOIN e ON e.a = l.doc_id
         |  LEFT JOIN l${i - 1} n ON n.doc_id = e.b
         |  GROUP BY l.doc_id, l.label
         |)""".stripMargin
    }.mkString
    s"""toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id, ${shinglesSql("t")} AS sh FROM toks
       |), mh AS (
       |  SELECT doc_id, ${minhashSignatureSql("sh", kMinhash)} AS mh FROM sh
       |), bands AS (
       |  SELECT doc_id, b, array_to_string(mh[b*$rowsN+1 : b*$rowsN+$rowsN], '_') AS sig, mh
       |  FROM mh CROSS JOIN (SELECT unnest(range(0, $bandsN)) AS b)
       |), pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig
       |    AND x.doc_id < y.doc_id
       |  WHERE round(list_sum([CASE WHEN x.mh[i+1] = y.mh[i+1] THEN 1 ELSE 0 END
       |                        for i in range(0, $kMinhash)]) / $kMinhash.0, 4)
       |    >= $threshold
       |), e AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM pairs
       |), l0 AS (
       |  SELECT doc_id, doc_id AS label FROM documents
       |)$iters""".stripMargin
  }

  def dedupClustersSql(threshold: Double = 0.5, rounds: Int = 6): String =
    s"""WITH ${labelPropagationCtes(threshold, rounds)}
       |SELECT cluster_size, count(*) AS n_clusters,
       |  sum(cluster_size)::BIGINT AS n_docs
       |FROM (SELECT label, count(*) AS cluster_size
       |      FROM l$rounds GROUP BY label)
       |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  // ---- X45: redundancy-vs-quality audit (q118) ----------------------------

  /** Cluster-size band boundaries for [[redundancyQualityAudit]] —
    * power-of-two bands, the histogram resolution a datasheet needs. */
  private def sizeBand(cs: Column): Column =
    when(cs === 1, "1").when(cs === 2, "2")
      .when(cs <= 4, "3-4").when(cs <= 8, "5-8").otherwise("9+")
  private def sizeBandSql(cs: String): String =
    s"CASE WHEN $cs = 1 THEN '1' WHEN $cs = 2 THEN '2' " +
      s"WHEN $cs <= 4 THEN '3-4' WHEN $cs <= 8 THEN '5-8' ELSE '9+' END"

  /** X45 redundancy-vs-quality audit (q118): tests the curation folk
    * theorem "heavily duplicated content is lower quality" on THIS
    * corpus — every document inherits its near-dup cluster size (q64
    * components; singletons are size-1), sizes are banded into
    * power-of-two bins, and each band reports docs, clusters, token
    * mass, and quality mass in exact micro-units (band mean = one
    * integer division of two exact sums). The answer decides whether
    * dedup doubles as a quality filter or just a capacity saver — a
    * datasheet row every corpus report should carry.
    *
    * Scale posture: reuses the PlanCache'd q64/q91/q94/q101
    * label-propagation chain (no new corpus-wide work); cluster sizes
    * are a component-keyed count; the quality kernel joins by doc_id;
    * the band rollup is a 5-row aggregate with map-side combine. The
    * corpus is scanned once and never sorted. */
  def redundancyQualityAudit(spark: SparkSession, dir: String,
                             threshold: Double = 0.5,
                             rounds: Int = 6): DataFrame = {
    val members = dedupClusterAssignments(spark, dir, threshold, rounds)
      .select(col("doc_id"), col("label"))
    val all = Tables.documents(spark, dir).select(col("doc_id"))
      .join(members.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("label"))
      .unionByName(members)
    val sizes = all.groupBy(col("label")).agg(count(lit(1)).as("cs"))
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TextHash.tokens(col("text"))).cast("long").as("t"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("q"))
      .select(col("doc_id"), col("t"),
        expr("cast(round(q * 1000000) as bigint)").as("q_micro"))
    all.join(sizes, Seq("label")).join(scored, Seq("doc_id"))
      .withColumn("size_band", sizeBand(col("cs")))
      .groupBy(col("size_band"))
      .agg(countDistinct(col("label")).as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum(col("t")).as("sum_tokens"),
        sum(col("q_micro")).as("sum_q_micro"))
      .select(col("size_band"), col("n_clusters"), col("n_docs"),
        col("sum_tokens"), col("sum_q_micro"),
        expr("sum_q_micro div n_docs").as("avg_q_micro"))
      .orderBy(col("size_band"))
  }

  def redundancyQualityAuditSql(threshold: Double = 0.5,
                                rounds: Int = 6): String = {
    val stop = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH ${labelPropagationCtes(threshold, rounds)}, qv AS (
       |  SELECT doc_id, ntok::BIGINT AS t,
       |    CAST(round(round(0.25 * least(ntok / 50.0, 1.0) +
       |      0.25 * (uniq / ntok) +
       |      0.25 * (1.0 - (stops / ntok)) +
       |      0.25 * least(((chars - (ntok - 1)) / ntok) / 6.0, 1.0), 6)
       |      * 1000000) AS BIGINT) AS q_micro
       |  FROM (
       |    SELECT doc_id,
       |      len(t)::DOUBLE AS ntok,
       |      len(list_distinct(t))::DOUBLE AS uniq,
       |      len(list_filter(t, x -> x IN ($stop)))::DOUBLE AS stops,
       |      length(text)::DOUBLE AS chars
       |    FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS t
       |          FROM documents))
       |), sz AS (
       |  SELECT label, count(*)::BIGINT AS cs FROM l$rounds GROUP BY label
       |), j AS (
       |  SELECT l.doc_id, l.label, ${sizeBandSql("sz.cs")} AS size_band
       |  FROM l$rounds l JOIN sz USING (label)
       |)
       |SELECT size_band,
       |  count(DISTINCT label)::BIGINT AS n_clusters,
       |  count(*)::BIGINT AS n_docs,
       |  sum(qv.t)::BIGINT AS sum_tokens,
       |  sum(qv.q_micro)::BIGINT AS sum_q_micro,
       |  (sum(qv.q_micro) // count(*))::BIGINT AS avg_q_micro
       |FROM j JOIN qv USING (doc_id)
       |GROUP BY size_band ORDER BY size_band""".stripMargin
  }

  // ---- X50: effective dataset size (q123) ---------------------------------

  /** X50 effective-size accounting (q123): what the corpus is WORTH
    * after near-dup collapse — per language: raw docs/tokens, the kept
    * one-representative-per-cluster corpus (doc_id == label, the q64
    * dedup decision), the redundancy factor (raw/effective token mass,
    * basis points — 10000 = no redundancy) and the capacity a dedup
    * pass frees (savings bp). "Effective dataset size" is the number a
    * scaling-law budget should use instead of raw tokens: epochs over
    * duplicated data repeat content the model has already seen.
    * Language attribution follows each doc's own lang (a cluster
    * spanning languages contributes its representative to the
    * representative's language — 60-bit cross-lang shingle collisions
    * are the only way that happens, disclosed at q78's key).
    *
    * Scale posture: reuses the PlanCache'd q64/q118 label chain; the
    * kept-side rollup is a keyed join from the label set to a narrow
    * (doc_id, lang, tokens) projection; both rollups are |langs|-row
    * aggregates with map-side combine. */
  def effectiveSize(spark: SparkSession, dir: String,
                    threshold: Double = 0.5, rounds: Int = 6): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(TextHash.tokens(col("text"))).cast("long").as("t"))
    val members = dedupClusterAssignments(spark, dir, threshold, rounds)
      .select(col("doc_id"), col("label"))
    val all = docs.select(col("doc_id"))
      .join(members.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("label"))
      .unionByName(members)
    val raw = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("sum_tokens"))
    val kept = all.filter(col("doc_id") === col("label"))
      .join(docs, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("t")).as("kept_tokens"))
    raw.join(kept, Seq("lang"))
      .select(col("lang"), col("n_docs"), col("sum_tokens"),
        col("n_kept"), col("kept_tokens"),
        expr("cast(sum_tokens as decimal(38,0)) * 10000 div kept_tokens")
          .cast("long").as("redundancy_bp"),
        expr("cast(sum_tokens - kept_tokens as decimal(38,0)) * 10000 " +
          "div sum_tokens").cast("long").as("savings_bp"))
      .orderBy(col("lang"))
  }

  def effectiveSizeSql(threshold: Double = 0.5, rounds: Int = 6): String =
    s"""WITH ${labelPropagationCtes(threshold, rounds)}, d AS (
       |  SELECT doc_id, lang,
       |    len(string_split(lower(text), ' '))::BIGINT AS t
       |  FROM documents
       |), raw AS (
       |  SELECT lang, count(*)::BIGINT AS n_docs, sum(t)::BIGINT AS sum_tokens
       |  FROM d GROUP BY lang
       |), kept AS (
       |  SELECT d.lang, count(*)::BIGINT AS n_kept,
       |    sum(d.t)::BIGINT AS kept_tokens
       |  FROM l$rounds l JOIN d USING (doc_id)
       |  WHERE l.doc_id = l.label GROUP BY d.lang
       |)
       |SELECT raw.lang, raw.n_docs, raw.sum_tokens, kept.n_kept,
       |  kept.kept_tokens,
       |  ((raw.sum_tokens * 10000) // kept.kept_tokens)::BIGINT
       |    AS redundancy_bp,
       |  (((raw.sum_tokens - kept.kept_tokens) * 10000) // raw.sum_tokens)
       |    ::BIGINT AS savings_bp
       |FROM raw JOIN kept USING (lang) ORDER BY raw.lang""".stripMargin

  // ---- X51: LSH bucket-occupancy audit (q124) -----------------------------

  /** X51 bucket-occupancy audit (q124): the shuffle-skew forecast for
    * the dedup index — the (band, sig) bucket-size histogram of the
    * banded corpus, with each occupancy band's bucket count, row mass,
    * and the CANDIDATE-PAIR MASS a naive within-bucket self-join would
    * generate (Σ s·(s−1)/2). This is the measurement that justifies the
    * [[sigGroups]] representative collapse: on a duplicate-heavy corpus
    * the 9+ band's pair mass is quadratic in copy count, and an operator
    * reading this table knows which band its join cost lives in BEFORE
    * running the join. A production dedup pipeline re-reads this audit
    * after every ingest to catch boilerplate floods early.
    *
    * Scale posture: the banding streams the persisted signature table
    * (no text), the bucket-size aggregate moves 8-byte keys with
    * map-side combine, and the histogram folds buckets into ≤5 rows.
    * Exact integers end to end. */
  def bucketOccupancy(spark: SparkSession, dir: String): DataFrame = {
    val buckets = banded(signatures(spark, dir), Seq.empty)
      .groupBy(col("band"), col("sig")).agg(count(lit(1)).as("s"))
    buckets
      .withColumn("occ_band", sizeBand(col("s")))
      .groupBy(col("occ_band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("s")).as("n_rows"),
        sum(expr("s * (s - 1) div 2")).as("n_pairs"))
      .orderBy(col("occ_band"))
  }

  def bucketOccupancySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id, ${shinglesSql("t")} AS sh FROM toks
       |), mh AS (
       |  SELECT doc_id, ${minhashSignatureSql("sh", kMinhash)} AS mh FROM sh
       |), bands AS (
       |  SELECT doc_id, b,
       |    array_to_string(mh[b*$rowsN+1 : b*$rowsN+$rowsN], '_') AS sig
       |  FROM mh CROSS JOIN (SELECT unnest(range(0, $bandsN)) AS b)
       |), buckets AS (
       |  SELECT b, sig, count(*)::BIGINT AS s FROM bands GROUP BY 1, 2
       |)
       |SELECT ${sizeBandSql("s")} AS occ_band,
       |  count(*)::BIGINT AS n_buckets,
       |  sum(s)::BIGINT AS n_rows,
       |  sum((s * (s - 1)) // 2)::BIGINT AS n_pairs
       |FROM buckets GROUP BY 1 ORDER BY occ_band""".stripMargin

  // ---- X53: threshold sensitivity curve (q126) ----------------------------

  /** X53 threshold-sensitivity curve (q126): how many candidate pairs
    * survive at every possible dedup threshold — one row per observed
    * estimated-Jaccard level (est is i/k with k=[[kMinhash]] signature
    * slots, so the level set is discrete and exactly representable;
    * round(·,4) is the identity on x/16) with the pair count AT that
    * level and the cumulative count at-or-above it. The table a dedup
    * operator reads to PICK its threshold: "at t=0.5 I merge
    * n_at_or_above(0.5) pairs" — the aggressiveness/recall dial
    * quantified before committing to a merge.
    *
    * Scale posture: reuses the PlanCache'd banded candidate-pair table
    * (no new corpus work); the level rollup is ≤ k+1 rows, and the
    * cumulative fold is a ≥-triangle join over that broadcast tiny
    * table — the q108 windowless device, nothing single-partitions. */
  def thresholdSensitivity(spark: SparkSession, dir: String): DataFrame = {
    val pe = pairsWithEst(spark, dir)
      .groupBy(col("est_jaccard")).agg(count(lit(1)).as("n_pairs"))
    val other = pe.select(col("est_jaccard").as("e2"), col("n_pairs").as("c2"))
    pe.join(broadcast(other), col("e2") >= col("est_jaccard"))
      .groupBy(col("est_jaccard"), col("n_pairs"))
      .agg(sum(col("c2")).as("n_at_or_above"))
      .orderBy(col("est_jaccard"))
  }

  def thresholdSensitivitySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id, ${shinglesSql("t")} AS sh FROM toks
       |), mh AS (
       |  SELECT doc_id, ${minhashSignatureSql("sh", kMinhash)} AS mh FROM sh
       |), bands AS (
       |  SELECT doc_id, b, array_to_string(mh[b*$rowsN+1 : b*$rowsN+$rowsN], '_') AS sig, mh
       |  FROM mh CROSS JOIN (SELECT unnest(range(0, $bandsN)) AS b)
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    round(list_sum([CASE WHEN x.mh[i+1] = y.mh[i+1] THEN 1 ELSE 0 END
       |                    for i in range(0, $kMinhash)]) / $kMinhash.0, 4) AS est_jaccard
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig
       |    AND x.doc_id < y.doc_id
       |), pe AS (
       |  SELECT est_jaccard, count(*)::BIGINT AS n_pairs FROM cand GROUP BY 1
       |)
       |SELECT a.est_jaccard, a.n_pairs,
       |  sum(b.n_pairs)::BIGINT AS n_at_or_above
       |FROM pe a JOIN pe b ON b.est_jaccard >= a.est_jaccard
       |GROUP BY 1, 2 ORDER BY a.est_jaccard""".stripMargin

  // ---- X56: cross-source duplicate-flow matrix (q129) ---------------------

  /** X56 duplicate-flow matrix (q129): WHERE the redundancy comes from —
    * the thresholded near-dup pairs (the q20 merge set) rolled up by
    * unordered source pair, with the share of all pairs in basis points
    * and the within/cross flag. A mostly-diagonal matrix means sources
    * re-publish themselves (dedup within provenance); heavy off-diagonal
    * cells name the source pairs that mirror each other — the
    * provenance-forensics table behind a crawl-policy decision ("stop
    * crawling B, it's A re-hosted").
    *
    * Scale posture: reuses the PlanCache'd candidate-pair table; two
    * keyed joins pull an 8-byte source tag per endpoint (never text);
    * the rollup is ≤ |sources|² cells with map-side combine plus the
    * broadcast 1-row total. */
  def dupFlowMatrix(spark: SparkSession, dir: String,
                    threshold: Double = 0.5): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val cells = graft.PlanCache.cached(spark,
      s"dedup.dupFlow:$threshold:$dir") {
      minhashPairs(spark, dir, threshold)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
          Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
          Seq("doc_b"))
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
    }
    val tot = cells.agg(sum(col("n_pairs")).as("n_tot"))
    cells.crossJoin(broadcast(tot))
      .select(col("source_a"), col("source_b"),
        (col("source_a") =!= col("source_b")).as("cross_source"),
        col("n_pairs"),
        expr("n_pairs * 10000 div n_tot").as("share_bp"))
      .orderBy(col("source_a"), col("source_b"))
  }

  def dupFlowMatrixSql(threshold: Double = 0.5): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id, ${shinglesSql("t")} AS sh FROM toks
       |), mh AS (
       |  SELECT doc_id, ${minhashSignatureSql("sh", kMinhash)} AS mh FROM sh
       |), bands AS (
       |  SELECT doc_id, b, array_to_string(mh[b*$rowsN+1 : b*$rowsN+$rowsN], '_') AS sig, mh
       |  FROM mh CROSS JOIN (SELECT unnest(range(0, $bandsN)) AS b)
       |), cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig
       |    AND x.doc_id < y.doc_id
       |  WHERE round(list_sum([CASE WHEN x.mh[i+1] = y.mh[i+1] THEN 1 ELSE 0 END
       |                        for i in range(0, $kMinhash)]) / $kMinhash.0, 4)
       |    >= $threshold
       |), cells AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |    greatest(da.source, db.source) AS source_b,
       |    count(*)::BIGINT AS n_pairs
       |  FROM cand
       |  JOIN documents da ON da.doc_id = cand.doc_a
       |  JOIN documents db ON db.doc_id = cand.doc_b
       |  GROUP BY 1, 2
       |), tot AS (SELECT sum(n_pairs)::BIGINT AS n_tot FROM cells)
       |SELECT source_a, source_b, (source_a <> source_b) AS cross_source,
       |  n_pairs, ((n_pairs * 10000) // tot.n_tot)::BIGINT AS share_bp
       |FROM cells CROSS JOIN tot ORDER BY source_a, source_b""".stripMargin

  // ---- X60: dedup manifest delta (q133) -----------------------------------

  /** X60 dedup manifest delta (q133): the per-shard certificate of WHAT
    * a dedup pass dropped — the q115 manifest of the full corpus next to
    * the manifest of the kept one-representative-per-cluster corpus
    * (q123's decision), with the dropped count and the XOR DELTA
    * (xor_full ⊕ xor_kept). Because xor is its own inverse, the delta
    * IS the order-invariant certificate of the dropped set: a consumer
    * holding the old manifest and this table can verify the new
    * materialization without re-reading either corpus — the manifest
    * algebra that makes shipping dedup deltas auditable at 100 TB.
    *
    * Scale posture: reuses the PlanCache'd label chain; both manifests
    * are the q115 shape (narrow scan → nShards-row xor/count agg with
    * map-side combine); the diff is an nShards-row join. */
  def dedupManifestDelta(spark: SparkSession, dir: String,
                         nShards: Int = 16, seed: Long = 42,
                         threshold: Double = 0.5,
                         rounds: Int = 6): DataFrame = {
    val skey = TextHash.h1(concat(lit(s"shuf:$seed:"), col("doc_id").cast("string")))
    val sig = TextHash.h1(concat(col("doc_id").cast("string"), lit(":"),
      sha2(col("text").cast("binary"), 256)))
    def manifest(docs: DataFrame): DataFrame = docs
      .select(pmod(skey, lit(nShards.toLong)).as("shard"), sig.as("sig"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(sig)").as("x"))
    val docs = Tables.documents(spark, dir)
    val members = dedupClusterAssignments(spark, dir, threshold, rounds)
      .select(col("doc_id"), col("label"))
    val keptIds = docs.select(col("doc_id"))
      .join(members.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("label"))
      .unionByName(members)
      .filter(col("doc_id") === col("label"))
      .select(col("doc_id"))
    val full = manifest(docs)
      .select(col("shard"), col("n").as("n_full"), col("x").as("x_full"))
    val kept = manifest(docs.join(keptIds, Seq("doc_id")))
      .select(col("shard"), col("n").as("n_kept"), col("x").as("x_kept"))
    full.join(kept, Seq("shard"), "left")
      .select(col("shard"), col("n_full"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_full") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        // a shard with no kept docs has kept-xor 0 (xor identity)
        expr("x_full ^ coalesce(x_kept, 0)").as("xor_delta"))
      .orderBy(col("shard"))
  }

  def dedupManifestDeltaSql(nShards: Int = 16, seed: Long = 42,
                            threshold: Double = 0.5,
                            rounds: Int = 6): String =
    s"""WITH ${labelPropagationCtes(threshold, rounds)}, d AS (
       |  SELECT doc_id,
       |    ${TextHash.h1Sql(s"'shuf:$seed:' || doc_id::VARCHAR")}
       |      % $nShards AS shard,
       |    ${TextHash.h1Sql("doc_id::VARCHAR || ':' || sha256(text)")} AS sig
       |  FROM documents
       |), full_m AS (
       |  SELECT shard, count(*)::BIGINT AS n_full,
       |    bit_xor(sig)::BIGINT AS x_full
       |  FROM d GROUP BY shard
       |), kept_m AS (
       |  SELECT d.shard, count(*)::BIGINT AS n_kept,
       |    bit_xor(d.sig)::BIGINT AS x_kept
       |  FROM l$rounds l JOIN d USING (doc_id)
       |  WHERE l.doc_id = l.label GROUP BY d.shard
       |)
       |SELECT f.shard, f.n_full,
       |  coalesce(k.n_kept, 0)::BIGINT AS n_kept,
       |  (f.n_full - coalesce(k.n_kept, 0))::BIGINT AS n_dropped,
       |  xor(f.x_full, coalesce(k.x_kept, 0))::BIGINT AS xor_delta
       |FROM full_m f LEFT JOIN kept_m k USING (shard)
       |ORDER BY f.shard""".stripMargin

  // ---- X20: contrastive-pair extraction (q91) -----------------------------

  /** X20 contrastive positive-pair extraction (q91): every near-dup
    * component yields (anchor = component-min doc_id, positive = each
    * other member) — the star-shaped positive pairs an embedding model
    * trains on (near-dup text ≈ label-free positives). Audited per
    * anchor language: anchors, pairs, and the largest per-anchor fan-out
    * (a runaway template cluster shows up here before it skews a
    * training epoch).
    *
    * Scale posture: pairs are component members minus one per component —
    * LINEAR in corpus size (the star never materializes member×member);
    * reuses the PlanCache'd label propagation (one chain shared with
    * q64), and the only new shuffles are keyed on anchor_id/doc_id. */
  def contrastivePairs(spark: SparkSession, dir: String,
                       threshold: Double = 0.5, rounds: Int = 6): DataFrame = {
    val pa = dedupClusterAssignments(spark, dir, threshold, rounds)
      .filter(col("doc_id") =!= col("label"))
      .groupBy(col("label").as("anchor_id")).agg(count(lit(1)).as("ppa"))
    pa.join(Tables.documents(spark, dir)
        .select(col("doc_id").as("anchor_id"), col("lang")), Seq("anchor_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_anchors"),
        sum(col("ppa")).as("n_pairs"),
        max(col("ppa")).as("max_pairs_per_anchor"))
      .orderBy(col("lang"))
  }

  def contrastivePairsSql(threshold: Double = 0.5, rounds: Int = 6): String =
    s"""WITH ${labelPropagationCtes(threshold, rounds)}, pa AS (
       |  SELECT label AS anchor_id, count(*)::BIGINT AS ppa
       |  FROM l$rounds WHERE doc_id <> label GROUP BY label
       |)
       |SELECT d.lang, count(*)::BIGINT AS n_anchors,
       |  sum(pa.ppa)::BIGINT AS n_pairs,
       |  max(pa.ppa)::BIGINT AS max_pairs_per_anchor
       |FROM pa JOIN documents d ON d.doc_id = pa.anchor_id
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ---- X28: preference-pair construction (q101) ---------------------------

  /** Per-component preference-pair election for [[preferencePairs]]:
    * within each near-dup component of ≥ 2 members whose members
    * actually DIFFER in quality, `chosen` is the highest-quality member
    * (doc_id asc breaks score ties) and `rejected` the lowest (doc_id
    * desc), with the quality gap in exact integer micro-units. Exposed
    * so a DPO/RLHF prep pipeline can materialize the `(chosen_id,
    * rejected_id)` rows directly. Components with zero quality spread
    * (e.g. exact duplicates) yield NO pair — a preference label needs a
    * signal. */
  private[graft] def preferencePairElection(spark: SparkSession, dir: String,
                                            threshold: Double = 0.5,
                                            rounds: Int = 6): DataFrame = {
    // scored member table referenced by all three election passes —
    // PlanCache'd so the quality kernel runs once, not three times
    val scored = graft.PlanCache.cached(spark,
      s"dedup.prefScored:$threshold:$rounds:$dir") {
      dedupClusterAssignments(spark, dir, threshold, rounds)
        .join(Tables.documents(spark, dir).select(col("doc_id"),
          round(TextAnalysis.qualityScore(col("text")), 6).as("q")),
          Seq("doc_id"))
    }
    val ext = scored.groupBy(col("label"))
      .agg(max(col("q")).as("qmax"), min(col("q")).as("qmin"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("qmax") > col("qmin"))
    val chosen = scored.join(ext.select(col("label"), col("qmax")), Seq("label"))
      .filter(col("q") === col("qmax"))
      .groupBy(col("label")).agg(min(col("doc_id")).as("chosen_id"))
    val rejected = scored.join(ext.select(col("label"), col("qmin")), Seq("label"))
      .filter(col("q") === col("qmin"))
      .groupBy(col("label")).agg(max(col("doc_id")).as("rejected_id"))
    ext.join(chosen, Seq("label")).join(rejected, Seq("label"))
      .select(col("label"), col("chosen_id"), col("rejected_id"),
        round((col("qmax") - col("qmin")) * lit(1000000), 0).cast("long")
          .as("margin_micro"))
  }

  /** X28 preference-pair audit (q101): DPO-style pair construction over
    * near-dup components — two variants of the same underlying document
    * (that is what a near-dup component IS) whose quality scores differ
    * make a natural (chosen, rejected) preference pair: same content,
    * one rendition measurably cleaner. Per component the election keeps
    * the best-vs-worst member pair and its quality margin; the audit
    * rolls pairs up per anchor language with exact integer margin sums
    * and the elected id sums as a cross-engine election gate (any
    * diverging chosen/rejected pick flips them).
    *
    * Scale posture: reuses the PlanCache'd q64/q91/q94 label-propagation
    * chain (no new corpus-wide work); the scored member table joins
    * quality by doc_id key; the three election passes are
    * component-keyed aggregates with map-side combine — nothing is ever
    * member×member, and the margin device is the q89 micro-unit integer
    * so every sum is addition-order-free.
    *
    * Reference tie-in: the reference stores raw tweets unprepared
    * (`ProcessStreamData.py:25-30`); preference-pair prep is part of the
    * mandated LLM-data-pipeline extension (SURVEY.md §2.12). */
  def preferencePairs(spark: SparkSession, dir: String,
                      threshold: Double = 0.5, rounds: Int = 6): DataFrame =
    preferencePairElection(spark, dir, threshold, rounds)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id").as("label"), col("lang")), Seq("label"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("margin_micro")).as("sum_margin_micro"),
        max(col("margin_micro")).as("max_margin_micro"),
        sum(col("chosen_id")).as("sum_chosen_id"),
        sum(col("rejected_id")).as("sum_rejected_id"))
      .select(col("lang"), col("n_pairs"), col("sum_margin_micro"),
        col("max_margin_micro"), col("sum_chosen_id"), col("sum_rejected_id"),
        round(col("sum_margin_micro") / col("n_pairs").cast("double")
          / lit(1000000.0), 6).as("avg_margin"))
      .orderBy(col("lang"))

  def preferencePairsSql(threshold: Double = 0.5, rounds: Int = 6): String = {
    val stop = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH ${labelPropagationCtes(threshold, rounds)}, qd AS (
       |  SELECT doc_id,
       |    round(0.25 * least(ntok / 50.0, 1.0) +
       |          0.25 * (uniq / ntok) +
       |          0.25 * (1.0 - (stops / ntok)) +
       |          0.25 * least(((chars - (ntok - 1)) / ntok) / 6.0, 1.0), 6) AS q
       |  FROM (
       |    SELECT doc_id,
       |      len(t)::DOUBLE AS ntok,
       |      len(list_distinct(t))::DOUBLE AS uniq,
       |      len(list_filter(t, x -> x IN ($stop)))::DOUBLE AS stops,
       |      length(text)::DOUBLE AS chars
       |    FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS t
       |          FROM documents))
       |), m AS (
       |  SELECT l.label, l.doc_id, qd.q
       |  FROM l$rounds l JOIN qd USING (doc_id)
       |), ext AS (
       |  SELECT label, max(q) AS qmax, min(q) AS qmin, count(*) AS n
       |  FROM m GROUP BY label
       |), e2 AS (
       |  SELECT label, qmax, qmin FROM ext WHERE n >= 2 AND qmax > qmin
       |), ch AS (
       |  SELECT m.label, min(m.doc_id) AS chosen_id
       |  FROM m JOIN e2 USING (label) WHERE m.q = e2.qmax GROUP BY m.label
       |), rj AS (
       |  SELECT m.label, max(m.doc_id) AS rejected_id
       |  FROM m JOIN e2 USING (label) WHERE m.q = e2.qmin GROUP BY m.label
       |), p AS (
       |  SELECT e2.label, ch.chosen_id, rj.rejected_id,
       |    CAST(round((e2.qmax - e2.qmin) * 1000000) AS BIGINT) AS margin_micro
       |  FROM e2 JOIN ch USING (label) JOIN rj USING (label)
       |)
       |SELECT d.lang, count(*)::BIGINT AS n_pairs,
       |  sum(p.margin_micro)::BIGINT AS sum_margin_micro,
       |  max(p.margin_micro)::BIGINT AS max_margin_micro,
       |  sum(p.chosen_id)::BIGINT AS sum_chosen_id,
       |  sum(p.rejected_id)::BIGINT AS sum_rejected_id,
       |  round(sum(p.margin_micro) / count(*)::DOUBLE / 1000000.0, 6)
       |    AS avg_margin
       |FROM p JOIN documents d ON d.doc_id = p.label
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin
  }

  // ---- X20+: hard-negative mining (q92) -----------------------------------

  /** Sub-band width of the hard-negative MINING probe: 2 minhash rows
    * per key (8 sub-bands over k=16) — deliberately recall-heavier than
    * the dedup banding's 4-row precision keys, because mining wants
    * pairs that barely collide. At the dedup resolution the
    * below-threshold family is EMPTY at every test SF (colliding pairs
    * are all genuine near-dups). */
  val HnSubRows = 2

  /** Sub-band rows the q92 self-join actually sees: one row per
    * signature-GROUP representative per sub-band (see [[sigGroups]]) —
    * NOT one per document. Split out as a seam so the degenerate-bucket
    * spec can assert the join-input cardinality is O(groups·bands)
    * regardless of how many copies a boilerplate group holds. */
  private[graft] def hnBandedReps(spark: SparkSession, dir: String): DataFrame = {
    val hnBands = kMinhash / HnSubRows
    sigGroups(spark, dir)
      .filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("mh"),
        explode(sequence(lit(0), lit(hnBands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        array_join(slice(col("mh"), col("band") * HnSubRows + 1,
          lit(HnSubRows)), "_").as("sig"), col("mh"))
  }

  /** X20+ hard-negative mining (q92): pairs that collide in some 2-row
    * sub-band yet estimate BELOW the dedup threshold — lexically close
    * enough to share a mining bucket, textually distinct enough to
    * train against (the hard negatives of a contrastive recipe; random
    * negatives are too easy). Audited per doc_a language: pair count
    * and the exact mean/max estimated Jaccard (each estimate is i/16 —
    * binary-exact, so even the SUM is float-safe cross-engine).
    *
    * Scale posture: signatures come from the PlanCache'd table shared
    * with q20/q54/q64 (one minhash pass per session); the sub-band
    * explode is a bounded 8× fan-out of 8-byte-ish keys; the self-join
    * is equi on (band, sig) over signature-group REPRESENTATIVES
    * ([[hnBandedReps]]), then rep pairs expand to member pairs through
    * the tiny membership table. The looser 2-row keys make dense
    * buckets MORE likely than at the dedup resolution, which is exactly
    * why the collapse matters here: a d-copy boilerplate group would
    * otherwise collide in all 8 sub-bands and materialize 8·C(d,2) join
    * rows that the `est < below` filter then throws away. The collapse
    * is LOSSLESS at this resolution (unlike a [[Similarity.MaxBucket]]
    * cap): signature-identical pairs estimate exactly 1.0, so for any
    * below ≤ 1 they can never be hard negatives, and cross-group member
    * pairs carry their reps' (identical) signatures, hence their reps'
    * estimate. The rep-level `est < below` filter runs BEFORE member
    * expansion, so near-dup-heavy buckets never fan out at all. */
  def hardNegatives(spark: SparkSession, dir: String,
                    below: Double = 0.5): DataFrame = {
    require(below <= 1.0,
      s"hardNegatives: below=$below — sig-identical pairs (est 1.0) are " +
        "collapsed pre-join, which is only lossless for below <= 1.0")
    val b = hnBandedReps(spark, dir)
    val est = aggregate(
      zip_with(col("x.mh"), col("y.mh"),
        (u, v) => when(u === v, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v) / lit(kMinhash.toDouble)
    val repPairs = b.as("x").join(b.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ra"), col("y.doc_id").as("rb"),
        round(est, 4).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") < below)
    val members = sigGroups(spark, dir).select(col("rep"), col("doc_id"))
    val pairs = repPairs
      .join(members.select(col("rep").as("ra"), col("doc_id").as("ida")), Seq("ra"))
      .join(members.select(col("rep").as("rb"), col("doc_id").as("idb")), Seq("rb"))
      // members of two different sig-groups interleave arbitrarily in
      // doc_id even though ra < rb, so re-orient each expanded pair
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"), col("est_jaccard"))
    pairs.join(Tables.documents(spark, dir)
        .select(col("doc_id").as("doc_a"), col("lang")), Seq("doc_a"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("est_jaccard")) / count(lit(1)), 6).as("avg_est"),
        max(col("est_jaccard")).as("max_est"))
      .orderBy(col("lang"))
  }

  def hardNegativesSql(below: Double = 0.5): String = {
    val hnBands = kMinhash / HnSubRows
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id, ${shinglesSql("t")} AS sh FROM toks
       |), mh AS (
       |  SELECT doc_id, ${minhashSignatureSql("sh", kMinhash)} AS mh FROM sh
       |), bands AS (
       |  SELECT doc_id, b,
       |    array_to_string(mh[b*$HnSubRows+1 : b*$HnSubRows+$HnSubRows], '_') AS sig,
       |    mh
       |  FROM mh CROSS JOIN (SELECT unnest(range(0, $hnBands)) AS b)
       |), pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    round(list_sum([CASE WHEN x.mh[i+1] = y.mh[i+1] THEN 1 ELSE 0 END
       |                    for i in range(0, $kMinhash)]) / $kMinhash.0, 4)
       |      AS est_jaccard
       |  FROM bands x JOIN bands y ON x.b = y.b AND x.sig = y.sig
       |    AND x.doc_id < y.doc_id
       |)
       |SELECT d.lang, count(*)::BIGINT AS n_pairs,
       |  round(sum(est_jaccard) / count(*), 6) AS avg_est,
       |  max(est_jaccard) AS max_est
       |FROM pairs JOIN documents d ON d.doc_id = pairs.doc_a
       |WHERE est_jaccard < $below
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin
  }
}
