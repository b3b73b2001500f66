package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextHash

/** Text analysis (SURVEY.md §2.12 X4; north-star "text analysis") over
  * `documents`: language-ID, quality scoring, token counting, document
  * fingerprinting.
  *
  * All four are narrow per-row expression maps followed by one small hash
  * aggregation — shuffle payload is a handful of rows per language, the
  * flat-scalable shape. No UDFs: everything is a Catalyst expression tree
  * (and therefore DuckDB-expressible for the oracle).
  *
  * Cross-engine float discipline: per-row doubles are exact-integer ratios
  * or power-of-two divisions where possible; aggregated doubles are
  * round()ed at 4 decimals because Spark's partial-agg addition order
  * differs from DuckDB's sequential fold.
  */
object TextAnalysis {

  /** Per-language stopword/marker lexicons for the n-gram-free language-ID
    * heuristic. Overlapping markers (la, de, le …) are deliberate — real
    * language ID deals with shared function words; ties resolve by the
    * fixed priority order of [[langIdPredict]]. */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ein", "ist"),
    "es" -> Seq("el", "la", "de", "que", "los", "una"),
    "fr" -> Seq("le", "la", "les", "des", "une", "est"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "zhe"))

  /** English stopwords used by the quality score (subset present in the
    * driver vocabulary so the ratio is non-degenerate). */
  val Stopwords: Seq[String] = Seq("a", "the", "and", "of", "to", "is")

  /** Single tokenization contract — see [[TextHash.tokens]] (the byte
    * kernels in TokenHitCount/HashKernels mirror it and are spec'd
    * equivalent). */
  private def toks(c: Column): Column = TextHash.tokens(c)

  /** Lexicon hit counting over the raw text via the native codegen
    * expression — semantics identical to size(filter(toks(text), isin));
    * see TokenHitCount. */
  private def hitCount(text: Column, lex: Seq[String]): Column =
    graft.functions.TokenHitCount.tokenHits(text, lex)

  /** Predicted language: argmax of marker hits with first-listed-wins
    * tie-break (chained CASE, identical semantics in both engines). */
  def langIdPredict(text: Column): Column = {
    val scores = Markers.map { case (l, lex) => l -> hitCount(text, lex) }
    scores.init.zipWithIndex.foldRight(lit(scores.last._1)) {
      case (((l, s), i), els) =>
        val rest = scores.drop(i + 1).map(_._2)
        when(rest.map(s >= _).reduce(_ && _), lit(l)).otherwise(els)
    }
  }

  /** X4 language-ID confusion matrix: actual × predicted × count. */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), langIdPredict(col("text")).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted"))

  def langIdConfusionSql: String = {
    val scoreExprs = Markers.map { case (l, lex) =>
      val in = lex.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(t, x -> x IN ($in))) AS s_$l"
    }.mkString(",\n    ")
    val langs = Markers.map(_._1)
    val caseExpr = langs.init.zipWithIndex.map { case (l, i) =>
      val conds = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("CASE ", " ", s" ELSE '${langs.last}' END")
    s"""WITH scored AS (
       |  SELECT lang, $caseExpr AS predicted
       |  FROM (SELECT lang, string_split(lower(text), ' ') AS t,
       |    $scoreExprs
       |  FROM documents)
       |)
       |SELECT lang, predicted, count(*) AS n_docs
       |FROM scored GROUP BY lang, predicted
       |ORDER BY lang, predicted""".stripMargin
  }

  /** Per-doc quality score in [0,1]: length prior + type-token ratio +
    * (1 - stopword ratio) + average token length prior, equally weighted.
    * All per-row math is plain IEEE ops written in identical order in the
    * SQL twin. Evaluated by the fused native `QualityScore` kernel — ONE
    * token pass instead of four HOF evaluations (split, array_distinct,
    * lexicon filter, length); [[qualityScoreHof]] is the reference
    * formulation the kernel is spec'd bit-equivalent to
    * (HashKernelsSpec). */
  def qualityScore(text: Column): Column =
    graft.functions.HashExpressions.qualityScore(text, Stopwords)

  /** Built-in-functions reference formulation of [[qualityScore]]. */
  def qualityScoreHof(text: Column): Column = {
    val t = toks(text)
    val ntok = size(t).cast("double")
    val ttr = size(array_distinct(t)).cast("double") / ntok
    val stopRatio = hitCount(text, Stopwords).cast("double") / ntok
    val avgLen = (length(text).cast("double") - (ntok - 1)) / ntok
    lit(0.25) * least(ntok / 50.0, lit(1.0)) +
      lit(0.25) * ttr +
      lit(0.25) * (lit(1.0) - stopRatio) +
      lit(0.25) * least(avgLen / 6.0, lit(1.0))
  }

  /** X4 quality scoring, aggregated per language. */
  def qualityByLang(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), qualityScore(col("text")).as("q"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("q")), 4).as("avg_quality"),
        round(min(col("q")), 6).as("min_quality"),
        round(max(col("q")), 6).as("max_quality"))
      .orderBy(col("lang"))

  def qualityByLangSql: String = {
    val stop = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH q AS (
       |  SELECT lang,
       |    0.25 * least(ntok / 50.0, 1.0) +
       |    0.25 * (uniq / ntok) +
       |    0.25 * (1.0 - (stops / ntok)) +
       |    0.25 * least(((chars - (ntok - 1)) / ntok) / 6.0, 1.0) AS q
       |  FROM (
       |    SELECT lang,
       |      len(t)::DOUBLE AS ntok,
       |      len(list_distinct(t))::DOUBLE AS uniq,
       |      len(list_filter(t, x -> x IN ($stop)))::DOUBLE AS stops,
       |      length(text)::DOUBLE AS chars
       |    FROM (SELECT lang, text, string_split(lower(text), ' ') AS t
       |          FROM documents))
       |)
       |SELECT lang, count(*) AS n_docs,
       |  round(avg(q), 4) AS avg_quality,
       |  round(min(q), 6) AS min_quality,
       |  round(max(q), 6) AS max_quality
       |FROM q GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** X4+ quality-QUANTILE filter (q65): keep each language's upper half
    * by quality score — "drop everything below the median quality" as a
    * training-data curation gate. The cutoff is RANK-based (row_number
    * over (rounded score, doc_id), keep rows with 2·rn > n): integer
    * semantics both engines compute identically, where an interpolated
    * percentile cutoff could drift by an ulp at the boundary. Scores are
    * rounded BEFORE ranking (cross-engine float rule).
    *
    * Scale posture: the window partitions by lang, so one language's
    * rank is one shuffle partition group — fine for per-lang curation
    * sets; for a 100 TB single-language corpus the production shape is
    * an approx-quantile sketch cutoff + exact refinement pass, with this
    * exact-rank twin as its oracle at test scale. */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy(col("lang"))
    val w = byLang.orderBy(col("q"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        round(qualityScore(col("text")), 6).as("q"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(byLang))
      .filter(col("rn") * 2 > col("n"))
      .groupBy(col("lang"))
      .agg(max(col("n")).as("n_docs"),
        count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("kept_chars"),
        min(col("q")).as("min_kept_quality"))
      .orderBy(col("lang"))
  }

  def qualityFilterSql: String = {
    val stop = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH s AS (
       |  SELECT lang, doc_id, n_chars,
       |    len(t)::DOUBLE AS ntok,
       |    len(list_distinct(t))::DOUBLE AS uniq,
       |    len(list_filter(t, x -> x IN ($stop)))::DOUBLE AS stops,
       |    length(text)::DOUBLE AS chars
       |  FROM (SELECT lang, doc_id, n_chars, text,
       |        string_split(lower(text), ' ') AS t FROM documents)
       |), q AS (
       |  SELECT lang, doc_id, n_chars,
       |    round(0.25 * least(ntok / 50.0, 1.0) +
       |          0.25 * (uniq / ntok) +
       |          0.25 * (1.0 - (stops / ntok)) +
       |          0.25 * least(((chars - (ntok - 1)) / ntok) / 6.0, 1.0), 6) AS q
       |  FROM s
       |), r AS (
       |  SELECT lang, doc_id, n_chars, q,
       |    row_number() OVER (PARTITION BY lang ORDER BY q, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS n
       |  FROM q
       |)
       |SELECT lang, max(n)::BIGINT AS n_docs, count(*) AS n_kept,
       |  sum(n_chars)::BIGINT AS kept_chars, min(q) AS min_kept_quality
       |FROM r WHERE rn * 2 > n GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** X4 token counting: whitespace tokens vs BPE-ish regex word pieces
    * (`[a-z]+` runs — digits/punctuation split off), per language. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(toks(col("text"))).cast("long").as("ws"),
        regexp_count(col("text"), lit("[a-z]+")).cast("long").as("re"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("sum_ws_tokens"),
        sum(col("re")).as("sum_re_tokens"),
        round(avg(col("ws")), 4).as("avg_ws_tokens"),
        max(col("ws")).as("max_ws_tokens"))
      .orderBy(col("lang"))

  def tokenStatsSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  sum(ws)::BIGINT AS sum_ws_tokens,
      |  sum(re)::BIGINT AS sum_re_tokens,
      |  round(avg(ws), 4) AS avg_ws_tokens,
      |  max(ws) AS max_ws_tokens
      |FROM (SELECT lang,
      |    len(string_split(lower(text), ' '))::BIGINT AS ws,
      |    len(regexp_extract_all(text, '[a-z]+'))::BIGINT AS re
      |  FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** X4+ repetition scoring (Gopher-style quality rules): per document,
    * the fraction of tokens claimed by the most frequent token and the
    * fraction of adjacent pairs claimed by the most frequent bigram —
    * the two cheapest detectors of degenerate/boilerplate text. A doc is
    * flagged when either exceeds its threshold (defaults are the
    * published Gopher cut lines: 0.30 top-token, 0.18 top-2-gram).
    *
    * Distributed shape: the per-doc mode is computed by explode →
    * count(doc_id, gram) → max per doc_id — two shuffles, both keyed on
    * the high-cardinality doc_id (never on the gram alone, so a globally
    * hot token cannot skew a reducer). Per-row fractions are exact
    * integer ratios — bit-identical across engines. */
  def repetitionSummary(spark: SparkSession, dir: String,
                        topTokMax: Double = 0.30,
                        topBigramMax: Double = 0.18): DataFrame = {
    // ONE pass over the text: tokens and bigrams are tag-prefixed
    // ("t:"/"b:") into a single explode, so one (doc_id, gram) count
    // feeds both per-doc modes AND the token count (sum of t: counts) —
    // the naive form scanned the corpus three times. The gram build is
    // the native codegen kernel (the HOF concat/zip_with/filter chain is
    // CodegenFallback; [[taggedGramsHof]] keeps it as the spec'd
    // reference semantics). The lang spine is a second scan, but
    // column-pruned to (doc_id, lang): it never reads the text bytes.
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.HashExpressions.taggedGrams(col("text"))).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("g").startsWith("t:"), col("c"))).as("ntok"),
        max(when(col("g").startsWith("t:"), col("c"))).as("max_tok"),
        max(when(col("g").startsWith("b:"), col("c"))).as("max_big"))
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"))
      .withColumn("top_tok_frac", col("max_tok") / col("ntok"))
      .withColumn("top_big_frac",
        coalesce(col("max_big"), lit(0L)) / greatest(col("ntok") - 1, lit(1L)))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("top_tok_frac")), 4).as("avg_top_tok_frac"),
        round(max(col("top_tok_frac")), 6).as("max_top_tok_frac"),
        round(avg(col("top_big_frac")), 4).as("avg_top_big_frac"),
        sum(when(col("top_tok_frac") > topTokMax ||
          col("top_big_frac") > topBigramMax, 1L).otherwise(0L)).as("n_flagged"))
      .orderBy(col("lang"))
  }

  /** X4+ corpus-frequency fluency score (q67): the count-based stand-in
    * for an LM-perplexity quality filter (KenLM-style corpus filtering) —
    * each document is scored by how common its word bigrams are in the
    * whole corpus (rare-bigram text = likely noise/garble). All
    * accumulation is INTEGER (occurrence counts), with one final
    * long/long division per language — no order-dependent float sums.
    *
    * Scale posture: bigrams ride as 60-bit hashes (the string never
    * shuffles); the global count table is vocabulary-sized with map-side
    * partial aggregation; the occurrence⋈count join is keyed on the hash
    * (a hot bigram key is AQE-skew-split). Bigrams are computed ONCE via
    * the native TaggedGrams kernel and PlanCache-persisted across the
    * count build and the per-doc join. */
  def bigramFluency(spark: SparkSession, dir: String): DataFrame = {
    val bg = graft.PlanCache.cached(spark, s"textanalysis.bigrams:$dir") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          explode(graft.functions.HashExpressions.taggedGrams(col("text"))).as("g"))
        .filter(col("g").startsWith("b:"))
        .select(col("doc_id"), col("lang"),
          TextHash.h1(col("g").substr(lit(3), length(col("g")))).as("h"))
    }
    val counts = bg.groupBy(col("h")).agg(count(lit(1)).as("c"))
    bg.join(counts, Seq("h"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("hits"), count(lit(1)).as("nbg"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nbg")).as("total_bigrams"),
        sum(col("hits")).as("total_hits"),
        (sum(col("hits")) / sum(col("nbg"))).as("avg_bigram_freq"))
      .orderBy(col("lang"))
  }

  def bigramFluencySql: String =
    s"""WITH base AS (
       |  SELECT doc_id, lang, string_split(lower(text), ' ') AS t
       |  FROM documents
       |), bg AS (
       |  SELECT doc_id, lang, ${TextHash.h1Sql("g")} AS h
       |  FROM (SELECT doc_id, lang,
       |          unnest(list_transform(range(1, len(t)),
       |            i -> t[i] || ' ' || t[i+1])) AS g
       |        FROM base)
       |), gc AS (
       |  SELECT h, count(*) AS c FROM bg GROUP BY h
       |), pd AS (
       |  SELECT b.doc_id, b.lang, sum(gc.c)::BIGINT AS hits,
       |    count(*) AS nbg
       |  FROM bg b JOIN gc USING (h) GROUP BY b.doc_id, b.lang
       |)
       |SELECT lang, count(*) AS n_docs,
       |  sum(nbg)::BIGINT AS total_bigrams,
       |  sum(hits)::BIGINT AS total_hits,
       |  sum(hits)::BIGINT / sum(nbg)::BIGINT AS avg_bigram_freq
       |FROM pd GROUP BY lang ORDER BY lang""".stripMargin

  /** Reference HOF formulation of the tagged-gram array — the semantics
    * the native TaggedGrams kernel is spec'd bit-equivalent to
    * (HashKernelsSpec). */
  def taggedGramsHof(text: Column): Column = {
    val t = toks(text)
    concat(
      transform(t, x => concat(lit("t:"), x)),
      filter(zip_with(t, slice(t, lit(2), size(t)),
        (a, b) => concat(lit("b:"), a, lit(" "), b)), x => x.isNotNull))
  }

  def repetitionSummarySql(topTokMax: Double = 0.30,
                           topBigramMax: Double = 0.18): String =
    s"""WITH base AS (
       |  SELECT doc_id, lang, string_split(lower(text), ' ') AS t,
       |    len(string_split(lower(text), ' '))::BIGINT AS ntok
       |  FROM documents
       |), tokc AS (
       |  SELECT doc_id, max(c)::BIGINT AS max_tok
       |  FROM (SELECT doc_id, w, count(*) AS c
       |        FROM (SELECT doc_id, unnest(t) AS w FROM base)
       |        GROUP BY doc_id, w)
       |  GROUP BY doc_id
       |), bigc AS (
       |  SELECT doc_id, max(c)::BIGINT AS max_big
       |  FROM (SELECT doc_id, bg, count(*) AS c
       |        FROM (SELECT doc_id,
       |                unnest(list_transform(range(1, len(t)),
       |                  i -> t[i] || ' ' || t[i+1])) AS bg
       |              FROM base)
       |        GROUP BY doc_id, bg)
       |  GROUP BY doc_id
       |), perdoc AS (
       |  SELECT b.lang,
       |    tokc.max_tok / b.ntok AS top_tok_frac,
       |    coalesce(bigc.max_big, 0) / greatest(b.ntok - 1, 1) AS top_big_frac
       |  FROM base b
       |  JOIN tokc USING (doc_id)
       |  LEFT JOIN bigc USING (doc_id)
       |)
       |SELECT lang, count(*) AS n_docs,
       |  round(avg(top_tok_frac), 4) AS avg_top_tok_frac,
       |  round(max(top_tok_frac), 6) AS max_top_tok_frac,
       |  round(avg(top_big_frac), 4) AS avg_top_big_frac,
       |  sum(CASE WHEN top_tok_frac > $topTokMax
       |        OR top_big_frac > $topBigramMax THEN 1 ELSE 0 END)::BIGINT
       |    AS n_flagged
       |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin

  /** X4+ TF-IDF top terms per language. Ranking is by the exact integer
    * (term_count DESC, term ASC) order via the bounded-heap [[graft.functions.TopKTerms]]
    * aggregate — per-language vocabulary grows with the corpus, so a
    * window-rank here would sort a vocabulary-sized list in one task
    * (the exact shape round 1 flagged on the similarity queries). The
    * reported tfidf uses a smoothed ln-free inverse document frequency
    * ((N+1)/(df+1), single-rounded IEEE division) so both engines compute
    * it bit-identically — ln() is libm-dependent and could flip a rounded
    * 4th decimal. */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nTotal = docs.select(count(lit(1)).as("n_total"))
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(toks(col("text"))).as("w"))
    val tf = tok.groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("term_count"))
    val dfreq = tok.select(col("doc_id"), col("w")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val topk = udaf(new graft.functions.TopKTerms(k))
    val ranked = tf.groupBy(col("lang"))
      .agg(topk(col("term_count"), col("w")).as("hits"))
      .select(col("lang"), posexplode(col("hits")).as(Seq("pos", "h")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        col("h.term").as("term"), col("h.cnt").as("term_count"))
    ranked.join(dfreq, ranked("term") === dfreq("w"))
      .crossJoin(broadcast(nTotal))
      .select(col("lang"), col("rank"), col("term"), col("term_count"),
        col("df"),
        round(col("term_count") *
          ((col("n_total") + 1).cast("double") / (col("df") + 1)), 4).as("tfidf"))
      .orderBy(col("lang"), col("rank"))
  }

  def tfidfTopTermsSql(k: Int = 10): String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
       |  FROM documents
       |), tf AS (
       |  SELECT lang, w, count(*)::BIGINT AS term_count FROM tok GROUP BY 1, 2
       |), dfreq AS (
       |  SELECT w, count(*)::BIGINT AS df
       |  FROM (SELECT DISTINCT doc_id, w FROM tok) GROUP BY 1
       |), n AS (SELECT count(*)::BIGINT AS n_total FROM documents),
       |ranked AS (
       |  SELECT lang, w, term_count,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY term_count DESC, w) AS rank
       |  FROM tf
       |)
       |SELECT r.lang, r.rank, r.w AS term, r.term_count, d.df,
       |  round(r.term_count * ((n.n_total + 1.0) / (d.df + 1)), 4) AS tfidf
       |FROM ranked r JOIN dfreq d ON r.w = d.w CROSS JOIN n
       |WHERE r.rank <= $k
       |ORDER BY r.lang, r.rank""".stripMargin

  /** X4 document fingerprinting: order-sensitive rolling polynomial hash
    * (md5-per-token folded mod 1e9+7) + raw md5, summarized per language.
    * Distinct-fingerprint counts expose dup structure without shipping
    * text bodies — at 100 TB the shuffle carries 8-byte prints. */
  def fingerprintSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        TextHash.rollingFingerprint(col("text")).as("fp"),
        md5(col("text").cast("binary")).as("m"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_distinct_fp"),
        countDistinct(col("m")).as("n_distinct_md5"),
        min(col("fp")).as("min_fp"),
        max(col("fp")).as("max_fp"))
      .orderBy(col("lang"))

  def fingerprintSummarySql: String =
    s"""SELECT lang, count(*) AS n_docs,
       |  count(DISTINCT fp) AS n_distinct_fp,
       |  count(DISTINCT m) AS n_distinct_md5,
       |  min(fp) AS min_fp, max(fp) AS max_fp
       |FROM (SELECT lang,
       |    ${TextHash.rollingFingerprintSql("string_split(lower(text), ' ')")} AS fp,
       |    md5(text) AS m
       |  FROM documents)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** X2+/X4+ over-duplicated n-gram detector (q73): the corpus-level
    * n-gram document-frequency table, top-k — the signal an exact
    * substring-dedup pass ranks spans by (a 5-gram carried by hundreds
    * of documents is boilerplate to cut). Shingles are per-doc DISTINCT
    * (TextHash.shingles), so the count is document frequency, immune to
    * one degenerate doc repeating a gram thousands of times.
    *
    * Scale posture: explode → groupBy(gram) rides map-side partial
    * aggregation (a hot gram combines within each partition before the
    * shuffle), and the final ranking is the bounded-heap TopKTerms
    * two-phase aggregate — shuffle ~partitions×k rows — because the
    * gram vocabulary grows with the corpus and a window-rank over it
    * would be a single-task sort (same reasoning as q53). */
  def duplicatedNgrams(spark: SparkSession, dir: String,
                       n: Int = 5, k: Int = 20): DataFrame = {
    val topk = udaf(new graft.functions.TopKTerms(k))
    Tables.documents(spark, dir)
      // native one-pass gram kernel (bit-equivalent to the HOF
      // split/slice/array_join chain — HashKernelsSpec); the HOF form is
      // CodegenFallback and ~2× the cost on this full-corpus pass
      .select(col("doc_id"),
        explode(graft.functions.HashExpressions.shingles(col("text"), n)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .agg(topk(col("df"), col("g")).as("hits"))
      .select(posexplode(col("hits")).as(Seq("pos", "h")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("h.term").as("ngram"), col("h.cnt").as("n_docs_containing"))
      .orderBy(col("rank"))
  }

  def duplicatedNgramsSql(n: Int = 5, k: Int = 20): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id, unnest(${TextHash.shinglesSql("t", n)}) AS g FROM toks
       |), df AS (
       |  SELECT g, count(*) AS df FROM sh GROUP BY g
       |), r AS (
       |  SELECT g, df, row_number() OVER (ORDER BY df DESC, g) AS rank FROM df
       |)
       |SELECT rank::BIGINT AS rank, g AS ngram, df::BIGINT AS n_docs_containing
       |FROM r WHERE rank <= $k ORDER BY rank""".stripMargin

  // ---- X13: BM25 retrieval (q84) ------------------------------------------

  /** Fixed query-term set for the BM25 audit — mid-frequency corpus terms
    * so tf, df and doc-length normalization all vary. */
  val Bm25Terms: Seq[String] = Seq("vector", "hash", "stream", "filter", "join")

  /** X13 BM25 top-k retrieval (q84): classic Okapi BM25 (k1=1.2, b=0.75)
    * of every document against [[Bm25Terms]], global top-k by score.
    *
    * Cross-engine float discipline: the idf is the ln-free Robertson
    * ratio ((N-df+0.5)/(df+0.5)) so no libm call is involved; the
    * per-(doc,term) score is one deterministic IEEE expression, scaled
    * by 1e4 and rounded to an exact-integer LONG before the per-doc sum
    * — integer addition is order-free, so Spark's partial-agg order vs
    * DuckDB's sequential fold cannot flip a 4th decimal (the sum of
    * raw doubles could).
    *
    * Scale posture: the token stream is filtered to the query terms
    * BEFORE any shuffle (a 5-term isin on the explode output — at 100 TB
    * this is the inverted-index probe, ~df rows survive per term); df is
    * a 5-row broadcast; the doc-length join is a keyed equi-join; the
    * final ranking is the bounded-heap [[graft.functions.TopKHits]]
    * two-phase aggregate, not a corpus sort. */
  /** Per-(doc, query-term) occurrence counts — the inverted-index probe
    * output both retrieval legs consume (BM25 q84, hybrid RRF q117);
    * PlanCache'd so the corpus token scan runs once per (session, dir). */
  private[graft] def queryTermFreqs(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(spark, s"textanalysis.queryTf:$dir") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(toks(col("text"))).as("w"))
        .filter(col("w").isin(Bm25Terms: _*))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    }

  /** Per-doc integer BM25 score (the q84 device), shared by the q84
    * ranking and the q117 hybrid fusion. */
  private[graft] def bm25Scores(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(spark, s"textanalysis.bm25Scores:$dir") {
      val docs = Tables.documents(spark, dir)
      val dl = docs.select(col("doc_id"), size(toks(col("text"))).cast("long").as("dl"))
      val n = dl.agg(count(lit(1)).as("n_total"), sum(col("dl")).as("sum_dl"))
      val tf = queryTermFreqs(spark, dir)
      val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      // mirror the oracle's expression tree exactly (left-assoc, same
      // literal structure) — every double op must be the same IEEE op
      val si = ((col("n_total") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) *
        ((col("tf") * lit(2.2)) / (col("tf") + lit(1.2) *
          (lit(1.0) - lit(0.75) + lit(0.75) *
            (col("dl") / (col("sum_dl").cast("double") / col("n_total"))))))) * lit(10000)
      tf.join(broadcast(dfreq), Seq("w"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), round(si, 0).cast("long").as("si"))
        .groupBy(col("doc_id")).agg(sum(col("si")).as("si"))
    }

  def bm25TopK(spark: SparkSession, dir: String, k: Int = 15): DataFrame = {
    val scored = bm25Scores(spark, dir)
    val topk = udaf(new graft.functions.TopKHits(k))
    scored.agg(topk(col("si").cast("double"), col("doc_id")).as("hits"))
      .select(posexplode(col("hits")).as(Seq("pos", "h")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("h.vec_id").as("doc_id"),
        round(col("h.cosine") / lit(10000.0), 4).as("score"))
      .orderBy(col("rank"))
  }

  def bm25TopKSql(k: Int = 15): String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH dl AS (
       |  SELECT doc_id, len(string_split(lower(text), ' '))::BIGINT AS dl
       |  FROM documents
       |), n AS (
       |  SELECT count(*)::BIGINT AS n_total, sum(dl)::BIGINT AS sum_dl FROM dl
       |), tok AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, w, count(*)::BIGINT AS tf FROM tok
       |  WHERE w IN ($terms) GROUP BY 1, 2
       |), dfq AS (
       |  SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY 1
       |), s AS (
       |  SELECT tf.doc_id,
       |    CAST(round(((n.n_total - dfq.df + 0.5) / (dfq.df + 0.5)) *
       |      ((tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 *
       |        (dl.dl / (n.sum_dl::DOUBLE / n.n_total))))) * 10000) AS BIGINT) AS si
       |  FROM tf JOIN dfq USING(w) JOIN dl USING(doc_id) CROSS JOIN n
       |), sc AS (
       |  SELECT doc_id, sum(si)::BIGINT AS si FROM s GROUP BY 1
       |), r AS (
       |  SELECT doc_id, si, row_number() OVER (ORDER BY si DESC, doc_id) AS rank
       |  FROM sc
       |)
       |SELECT rank::BIGINT AS rank, doc_id, round(si / 10000.0, 4) AS score
       |FROM r WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  // ---- X44: hybrid retrieval fusion via RRF (q117) ------------------------

  /** RRF smoothing constant (Cormack/Clarke/Büttcher 2009's k=60) and the
    * per-leg candidate pool each ranking contributes to the fusion. */
  val RrfK = 60
  val RrfPool = 20

  /** X44 reciprocal-rank-fusion hybrid retrieval (q117): the standard
    * two-ranker fusion a RAG stack runs — leg A is the q84 BM25 ranking,
    * leg B is plain coordination/term-frequency ranking (total query-term
    * occurrences; no idf, no length normalization — deliberately a
    * DIFFERENT relevance signal), each truncated to its top-[[RrfPool]];
    * fused score = Σ_legs ⌊1e9 / (k + rank)⌋ in exact integers (rank
    * arithmetic only — RRF is rank-based by definition, so no float ever
    * enters the fusion), absent legs contribute 0. Output: the fused
    * top-k with both leg ranks for attribution.
    *
    * Scale posture: both legs reuse the PlanCache'd inverted-index probe
    * ([[queryTermFreqs]] — the corpus token stream is filtered to the
    * query terms before any shuffle) and the PlanCache'd integer BM25
    * score table; each leg reduces through the bounded-heap
    * [[graft.functions.TopKHits]] two-phase aggregate, so the fusion
    * join, rrf arithmetic, and final rank all run over ≤ 2·pool rows —
    * audit-sized, never the corpus. */
  /** The fused (doc_id, bm25_rank, tf_rank, rrf_micro) pool table —
    * ≤ 2·[[RrfPool]] rows; persisted because the q117 final heap, its
    * attribution join AND the q166 agreement audit all read it. */
  private[graft] def rrfFusedTable(spark: SparkSession, dir: String): DataFrame = {
    val pool = udaf(new graft.functions.TopKHits(RrfPool))
    def ranked(scored: DataFrame, scoreCol: String, rankName: String): DataFrame =
      scored.agg(pool(col(scoreCol).cast("double"), col("doc_id")).as("hits"))
        .select(posexplode(col("hits")).as(Seq("pos", "h")))
        .select(col("h.vec_id").as("doc_id"),
          (col("pos") + 1).cast("long").as(rankName))
    val bmRank = ranked(bm25Scores(spark, dir), "si", "bm25_rank")
    val tsRank = ranked(
      queryTermFreqs(spark, dir).groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("ts")), "ts", "tf_rank")
    graft.PlanCache.cached(spark, s"textanalysis.rrfFused:$dir") {
      bmRank.join(tsRank, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("bm25_rank"), lit(0L)).as("bm25_rank"),
          coalesce(col("tf_rank"), lit(0L)).as("tf_rank"))
        .withColumn("rrf_micro",
          when(col("bm25_rank") > 0,
            expr(s"1000000000 div ($RrfK + bm25_rank)")).otherwise(lit(0L)) +
          when(col("tf_rank") > 0,
            expr(s"1000000000 div ($RrfK + tf_rank)")).otherwise(lit(0L)))
    }
  }

  def hybridRetrieval(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val fused = rrfFusedTable(spark, dir)
    // final rank via the same bounded heap (rrf desc, doc_id asc) so the
    // whole plan stays windowless — rrf_micro ≤ 2·⌊1e9/61⌋ is exact in
    // the heap's double score
    val fin = udaf(new graft.functions.TopKHits(k))
    fused.agg(fin(col("rrf_micro").cast("double"), col("doc_id")).as("hits"))
      .select(posexplode(col("hits")).as(Seq("pos", "h")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("h.vec_id").as("doc_id"),
        col("h.cosine").cast("long").as("rrf_micro"))
      .join(fused.select(col("doc_id"), col("bm25_rank"), col("tf_rank")),
        Seq("doc_id"))
      .select(col("rank"), col("doc_id"), col("rrf_micro"),
        col("bm25_rank"), col("tf_rank"))
      .orderBy(col("rank"))
  }

  def hybridRetrievalSql(k: Int = 10): String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH dl AS (
       |  SELECT doc_id, len(string_split(lower(text), ' '))::BIGINT AS dl
       |  FROM documents
       |), n AS (
       |  SELECT count(*)::BIGINT AS n_total, sum(dl)::BIGINT AS sum_dl FROM dl
       |), tok AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, w, count(*)::BIGINT AS tf FROM tok
       |  WHERE w IN ($terms) GROUP BY 1, 2
       |), dfq AS (
       |  SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY 1
       |), s AS (
       |  SELECT tf.doc_id,
       |    CAST(round(((n.n_total - dfq.df + 0.5) / (dfq.df + 0.5)) *
       |      ((tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 *
       |        (dl.dl / (n.sum_dl::DOUBLE / n.n_total))))) * 10000) AS BIGINT) AS si
       |  FROM tf JOIN dfq USING(w) JOIN dl USING(doc_id) CROSS JOIN n
       |), sc AS (
       |  SELECT doc_id, sum(si)::BIGINT AS si FROM s GROUP BY 1
       |), bmr AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY si DESC, doc_id) AS bm25_rank
       |  FROM sc QUALIFY bm25_rank <= $RrfPool
       |), ts AS (
       |  SELECT doc_id, sum(tf)::BIGINT AS ts FROM tf GROUP BY 1
       |), tsr AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY ts DESC, doc_id) AS tf_rank
       |  FROM ts QUALIFY tf_rank <= $RrfPool
       |), fused AS (
       |  SELECT coalesce(b.doc_id, t.doc_id) AS doc_id,
       |    coalesce(b.bm25_rank, 0)::BIGINT AS bm25_rank,
       |    coalesce(t.tf_rank, 0)::BIGINT AS tf_rank
       |  FROM bmr b FULL JOIN tsr t ON b.doc_id = t.doc_id
       |), r AS (
       |  SELECT doc_id, bm25_rank, tf_rank,
       |    ((CASE WHEN bm25_rank > 0 THEN 1000000000 // ($RrfK + bm25_rank)
       |       ELSE 0 END) +
       |     (CASE WHEN tf_rank > 0 THEN 1000000000 // ($RrfK + tf_rank)
       |       ELSE 0 END))::BIGINT AS rrf_micro
       |  FROM fused
       |), fin AS (
       |  SELECT doc_id, rrf_micro, bm25_rank, tf_rank,
       |    row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS rank
       |  FROM r
       |)
       |SELECT rank::BIGINT AS rank, doc_id, rrf_micro, bm25_rank, tf_rank
       |FROM fin WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  // ---- X92: retrieval rank-agreement audit (q166) ---------------------------

  /** X92 rank-agreement audit (q166): exact Kendall-tau concordance
    * between the two q117 retrieval legs (BM25 vs raw term-frequency)
    * over the docs BOTH legs rank, plus the leg-overlap census — the
    * diagnostic that says whether RRF fusion is worth running at all.
    * Tau near 10000 means the rankers agree and fusion is redundant;
    * tau near 0 (or negative) means they disagree and RRF's rank-blend
    * is doing real work; a tiny `n_both` overlap means the legs surface
    * DIFFERENT documents and fusion widens recall (public: Kendall 1938;
    * RRF per Cormack et al., SIGIR 2009 — the q117 anchor). All counts
    * are exact integers: tau_bp = (2·C − P)·10000 div P over the P
    * both-ranked pairs (ranks are distinct — no tie terms).
    *
    * Scale posture: reads ONLY the PlanCache'd ≤ 2·[[RrfPool]]-row fused
    * pool (shared with q117 — no corpus re-scan, no re-scoring); the
    * pair fan-out is an audited broadcast-tiny triangle cross over a
    * bounded table (≤ pool² pairs by construction, independent of
    * corpus size). */
  def rankAgreement(spark: SparkSession, dir: String): DataFrame = {
    val fused = rrfFusedTable(spark, dir)
    val both = fused.filter(col("bm25_rank") > 0 && col("tf_rank") > 0)
    val a = both.select(col("doc_id").as("da"), col("bm25_rank").as("ba"),
      col("tf_rank").as("ta"))
    val b = both.select(col("doc_id").as("db"), col("bm25_rank").as("bb"),
      col("tf_rank").as("tb"))
    val pc = a.join(b, col("da") < col("db"))
      .select(when((col("ba") < col("bb")) === (col("ta") < col("tb")), 1L)
        .otherwise(0L).as("conc"))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("conc")), lit(0L)).as("concordant"))
    val census = fused.agg(
      sum(when(col("bm25_rank") > 0 && col("tf_rank") > 0, 1L).otherwise(0L))
        .as("n_both"),
      sum(when(col("bm25_rank") > 0 && col("tf_rank") === 0, 1L).otherwise(0L))
        .as("n_bm25_only"),
      sum(when(col("tf_rank") > 0 && col("bm25_rank") === 0, 1L).otherwise(0L))
        .as("n_tf_only"))
    census.crossJoin(pc)
      .select(col("n_both"), col("n_bm25_only"), col("n_tf_only"),
        col("n_pairs"), col("concordant"),
        (col("n_pairs") - col("concordant")).as("discordant"),
        when(col("n_pairs") > 0,
          expr("(2 * concordant - n_pairs) * 10000 div n_pairs"))
          .otherwise(lit(0L)).as("tau_bp"))
  }

  def rankAgreementSql: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH dl AS (
       |  SELECT doc_id, len(string_split(lower(text), ' '))::BIGINT AS dl
       |  FROM documents
       |), n AS (
       |  SELECT count(*)::BIGINT AS n_total, sum(dl)::BIGINT AS sum_dl FROM dl
       |), tok AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, w, count(*)::BIGINT AS tf FROM tok
       |  WHERE w IN ($terms) GROUP BY 1, 2
       |), dfq AS (
       |  SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY 1
       |), s AS (
       |  SELECT tf.doc_id,
       |    CAST(round(((n.n_total - dfq.df + 0.5) / (dfq.df + 0.5)) *
       |      ((tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 *
       |        (dl.dl / (n.sum_dl::DOUBLE / n.n_total))))) * 10000) AS BIGINT) AS si
       |  FROM tf JOIN dfq USING(w) JOIN dl USING(doc_id) CROSS JOIN n
       |), sc AS (
       |  SELECT doc_id, sum(si)::BIGINT AS si FROM s GROUP BY 1
       |), bmr AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY si DESC, doc_id) AS bm25_rank
       |  FROM sc QUALIFY bm25_rank <= $RrfPool
       |), ts AS (
       |  SELECT doc_id, sum(tf)::BIGINT AS ts FROM tf GROUP BY 1
       |), tsr AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY ts DESC, doc_id) AS tf_rank
       |  FROM ts QUALIFY tf_rank <= $RrfPool
       |), fused AS (
       |  SELECT coalesce(b.doc_id, t.doc_id) AS doc_id,
       |    coalesce(b.bm25_rank, 0)::BIGINT AS bm25_rank,
       |    coalesce(t.tf_rank, 0)::BIGINT AS tf_rank
       |  FROM bmr b FULL JOIN tsr t ON b.doc_id = t.doc_id
       |), both_ranked AS (
       |  SELECT doc_id, bm25_rank, tf_rank FROM fused
       |  WHERE bm25_rank > 0 AND tf_rank > 0
       |), p AS (
       |  SELECT CASE WHEN (x.bm25_rank < y.bm25_rank) = (x.tf_rank < y.tf_rank)
       |              THEN 1 ELSE 0 END AS conc
       |  FROM both_ranked x JOIN both_ranked y ON x.doc_id < y.doc_id
       |), pc AS (
       |  SELECT count(*)::BIGINT AS n_pairs,
       |    coalesce(sum(conc), 0)::BIGINT AS concordant
       |  FROM p
       |), census AS (
       |  SELECT
       |    sum(CASE WHEN bm25_rank > 0 AND tf_rank > 0 THEN 1 ELSE 0 END)::BIGINT
       |      AS n_both,
       |    sum(CASE WHEN bm25_rank > 0 AND tf_rank = 0 THEN 1 ELSE 0 END)::BIGINT
       |      AS n_bm25_only,
       |    sum(CASE WHEN tf_rank > 0 AND bm25_rank = 0 THEN 1 ELSE 0 END)::BIGINT
       |      AS n_tf_only
       |  FROM fused
       |)
       |SELECT n_both, n_bm25_only, n_tf_only, n_pairs, concordant,
       |  (n_pairs - concordant)::BIGINT AS discordant,
       |  (CASE WHEN n_pairs > 0
       |        THEN (2 * concordant - n_pairs) * 10000 // n_pairs
       |        ELSE 0 END)::BIGINT AS tau_bp
       |FROM census CROSS JOIN pc""".stripMargin
  }

  // ---- X54: quality-score component attribution (q128) --------------------

  /** X54 quality attribution (q128): WHY a language's quality mass is
    * what it is — the per-language mean of each of the four q17 score
    * components (length saturation, type-token ratio, stopword
    * complement, word-length saturation) in exact micro-units, next to
    * the composite. A curation policy debugging a sagging language
    * reads this instead of re-deriving the scorer: if `avg_ttr_micro`
    * collapsed, the corpus went repetitive; if `avg_len_micro` did,
    * it went short. Each component is rounded to the 1e-6 grid per row
    * and lifted to an integer BEFORE summing (the q89/q103 device), so
    * every mean is an order-free integer quotient.
    *
    * Scale posture: one narrow scan (the same fused token pass as q17)
    * into a |langs|-row rollup with map-side combine. Nothing else. */
  def qualityComponents(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val ntok = size(t).cast("double")
    val c1 = least(ntok / 50.0, lit(1.0))
    val c2 = size(array_distinct(t)).cast("double") / ntok
    val c3 = lit(1.0) - hitCount(col("text"), Stopwords).cast("double") / ntok
    val c4 = least(((length(col("text")).cast("double") - (ntok - 1)) / ntok)
      / 6.0, lit(1.0))
    def micro(name: String) = expr(s"cast(round($name * 1000000) as bigint)")
    val base = Tables.documents(spark, dir)
      .select(col("lang"),
        round(c1, 6).as("c1"), round(c2, 6).as("c2"),
        round(c3, 6).as("c3"), round(c4, 6).as("c4"),
        round(qualityScore(col("text")), 6).as("q"))
      .select(col("lang"),
        micro("c1").as("m1"), micro("c2").as("m2"),
        micro("c3").as("m3"), micro("c4").as("m4"),
        micro("q").as("mq"))
    base.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("m1")).as("s1"), sum(col("m2")).as("s2"),
        sum(col("m3")).as("s3"), sum(col("m4")).as("s4"),
        sum(col("mq")).as("sq"))
      .select(col("lang"), col("n_docs"),
        expr("s1 div n_docs").as("avg_len_micro"),
        expr("s2 div n_docs").as("avg_ttr_micro"),
        expr("s3 div n_docs").as("avg_stop_micro"),
        expr("s4 div n_docs").as("avg_wordlen_micro"),
        expr("sq div n_docs").as("avg_q_micro"))
      .orderBy(col("lang"))
  }

  def qualityComponentsSql: String = {
    val stop = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH c AS (
       |  SELECT lang,
       |    CAST(round(round(least(ntok / 50.0, 1.0), 6) * 1000000) AS BIGINT) AS m1,
       |    CAST(round(round(uniq / ntok, 6) * 1000000) AS BIGINT) AS m2,
       |    CAST(round(round(1.0 - (stops / ntok), 6) * 1000000) AS BIGINT) AS m3,
       |    CAST(round(round(least(((chars - (ntok - 1)) / ntok) / 6.0, 1.0), 6)
       |      * 1000000) AS BIGINT) AS m4,
       |    CAST(round(round(0.25 * least(ntok / 50.0, 1.0) +
       |      0.25 * (uniq / ntok) +
       |      0.25 * (1.0 - (stops / ntok)) +
       |      0.25 * least(((chars - (ntok - 1)) / ntok) / 6.0, 1.0), 6)
       |      * 1000000) AS BIGINT) AS mq
       |  FROM (
       |    SELECT lang,
       |      len(t)::DOUBLE AS ntok,
       |      len(list_distinct(t))::DOUBLE AS uniq,
       |      len(list_filter(t, x -> x IN ($stop)))::DOUBLE AS stops,
       |      length(text)::DOUBLE AS chars
       |    FROM (SELECT lang, text, string_split(lower(text), ' ') AS t
       |          FROM documents))
       |)
       |SELECT lang, count(*)::BIGINT AS n_docs,
       |  (sum(m1) // count(*))::BIGINT AS avg_len_micro,
       |  (sum(m2) // count(*))::BIGINT AS avg_ttr_micro,
       |  (sum(m3) // count(*))::BIGINT AS avg_stop_micro,
       |  (sum(m4) // count(*))::BIGINT AS avg_wordlen_micro,
       |  (sum(mq) // count(*))::BIGINT AS avg_q_micro
       |FROM c GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---- X61: collocation mining by integer lift (q134) ---------------------

  /** Minimum pair occurrences before a bigram is a collocation
    * candidate — the standard support floor that keeps rare-pair noise
    * (and the candidate table) out. */
  val CollocMinCount = 5

  /** X61 collocation extraction (q134): the top-k adjacent word pairs by
    * LIFT — observed pair frequency over the independence expectation,
    * c_xy·N / (c_x·c_y), the ratio inside PMI. Computed as an exact
    * integer in basis points (10000 = independent; the log wrapper is
    * monotone, so ranking by lift IS ranking by PMI and no `ln` ever
    * crosses engines). Ties break (lift desc, bigram asc). The phrase-
    * mining primitive a tokenizer's merge list or a stop-phrase list is
    * seeded from.
    *
    * Scale posture: unigram and bigram occurrence streams come from ONE
    * TaggedGrams kernel pass (the q49/q67 device); the support floor
    * prunes the candidate table BEFORE the two unigram joins (keyed on
    * the word, never positional); the final ranking is the bounded-heap
    * [[graft.functions.TopKTerms]] two-phase aggregate — the bigram
    * vocabulary is never sorted. */
  def collocations(spark: SparkSession, dir: String,
                   minCount: Int = CollocMinCount, k: Int = 20): DataFrame = {
    val g = graft.PlanCache.cached(spark, s"textanalysis.collocGrams:$dir") {
      Tables.documents(spark, dir)
        .select(explode(graft.functions.HashExpressions.taggedGrams(col("text")))
          .as("g"))
    }
    val uni = g.filter(col("g").startsWith("t:"))
      .select(col("g").substr(lit(3), length(col("g"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val n = uni.agg(sum(col("cu")).as("n_tok"))
    val bi = g.filter(col("g").startsWith("b:"))
      .select(col("g").substr(lit(3), length(col("g"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= minCount)
    val lifted = bi
      .withColumn("w1", split(col("bigram"), " ")(0))
      .withColumn("w2", split(col("bigram"), " ")(1))
      .join(uni.select(col("w").as("w1"), col("cu").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cu").as("c2")), Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("bigram"), col("cb"),
        expr("cast(cb as decimal(38,0)) * n_tok * 10000 div " +
          "(cast(c1 as decimal(38,0)) * c2)").cast("long").as("lift_bp"))
    val topk = udaf(new graft.functions.TopKTerms(k))
    lifted.agg(topk(col("lift_bp"), col("bigram")).as("hits"))
      .select(posexplode(col("hits")).as(Seq("pos", "h")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("h.term").as("bigram"), col("h.cnt").as("lift_bp"))
      .join(bi, Seq("bigram"))
      .select(col("rank"), col("bigram"), col("cb").as("n_pair"), col("lift_bp"))
      .orderBy(col("rank"))
  }

  def collocationsSql(minCount: Int = CollocMinCount, k: Int = 20): String =
    s"""WITH base AS (
       |  SELECT string_split(lower(text), ' ') AS t FROM documents
       |), uni AS (
       |  SELECT w, count(*)::BIGINT AS cu
       |  FROM (SELECT unnest(t) AS w FROM base) GROUP BY w
       |), n AS (SELECT sum(cu)::BIGINT AS n_tok FROM uni),
       |bi AS (
       |  SELECT bg AS bigram, count(*)::BIGINT AS cb
       |  FROM (SELECT unnest(list_transform(range(1, len(t)),
       |          i -> t[i] || ' ' || t[i+1])) AS bg FROM base)
       |  GROUP BY bg HAVING count(*) >= $minCount
       |), lifted AS (
       |  SELECT bi.bigram, bi.cb,
       |    ((bi.cb::HUGEINT * n.n_tok * 10000) //
       |      (u1.cu::HUGEINT * u2.cu))::BIGINT AS lift_bp
       |  FROM bi
       |  JOIN uni u1 ON u1.w = string_split(bi.bigram, ' ')[1]
       |  JOIN uni u2 ON u2.w = string_split(bi.bigram, ' ')[2]
       |  CROSS JOIN n
       |), r AS (
       |  SELECT bigram, cb, lift_bp,
       |    row_number() OVER (ORDER BY lift_bp DESC, bigram) AS rank
       |  FROM lifted
       |)
       |SELECT rank::BIGINT AS rank, bigram, cb AS n_pair, lift_bp
       |FROM r WHERE rank <= $k ORDER BY rank""".stripMargin

  // ---- X63: n-gram diversity profile (q136) -------------------------------

  /** X63 diversity profile (q136): per (lang, n) for n ∈ {1,2,3} — total
    * n-gram occurrences, distinct n-grams, and the type-token ratio in
    * basis points. The multi-resolution repetition diagnostic: unigram
    * diversity collapsing means a small vocabulary, bigram/trigram
    * diversity collapsing while unigrams hold means TEMPLATED text
    * (same words, same order) — the signal behind "SEO spam reads
    * diverse by vocabulary, identical by phrase". Also a cheap upper
    * bound on compressibility (low diversity ⇒ high compression ⇒
    * low information density per stored byte).
    *
    * Scale posture: one tokenized scan fans out to the three gram
    * streams (8-byte hashed keys via [[TextHash.h1]] — the q73/q87
    * shingle rule, gram strings never shuffle); per-(lang, n) counts
    * ride map-side combine and distinct counting keys on the hash.
    * h1 collisions under-count distinct by the disclosed birthday
    * bound. */
  def diversityProfile(spark: SparkSession, dir: String): DataFrame = {
    val grams = Seq(1, 2, 3).map { n =>
      Tables.documents(spark, dir)
        .select(col("lang"), lit(n.toLong).as("n"),
          explode(graft.functions.HashExpressions
            .spanGramHashes(col("text"), n)).as("g"))
    }.reduce(_ unionByName _)
    grams.groupBy(col("lang"), col("n"))
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(col("g")).as("n_distinct"))
      .select(col("lang"), col("n"), col("n_grams"), col("n_distinct"),
        expr("n_distinct * 10000 div n_grams").as("diversity_bp"))
      .orderBy(col("lang"), col("n"))
  }

  def diversityProfileSql: String = {
    def leg(n: Int): String =
      s"""SELECT lang, $n::BIGINT AS n, ${TextHash.h1Sql("g")} AS g
         |  FROM (SELECT lang, unnest(list_transform(range(1, len(t) - ${n - 2}),
         |          i -> array_to_string(t[i:i+${n - 1}] , ' '))) AS g
         |        FROM (SELECT lang, string_split(lower(text), ' ') AS t
         |              FROM documents))""".stripMargin
    s"""WITH grams AS (
       |${leg(1)}
       |UNION ALL
       |${leg(2)}
       |UNION ALL
       |${leg(3)}
       |)
       |SELECT lang, n, count(*)::BIGINT AS n_grams,
       |  count(DISTINCT g)::BIGINT AS n_distinct,
       |  ((count(DISTINCT g) * 10000) // count(*))::BIGINT AS diversity_bp
       |FROM grams GROUP BY lang, n ORDER BY lang, n""".stripMargin
  }

  // ---- X83: intra-document repetition profile (q157) ----------------------

  /** X83 repetition profile (q157): per (source, repetition band) — doc
    * count, mean top-bigram share and mean duplicate-trigram share in
    * basis points. The INTRA-document counterpart of the corpus-level
    * q136 diversity profile, and the OTHER Gopher repetition family rule
    * (public: Rae et al. 2021, arXiv:2112.11446 §A1.1 "fraction of
    * duplicate n-grams") next to q49's top-token/top-bigram flags:
    * keyword-stuffed or template-spun pages repeat their own phrases,
    * which corpus-level dedup never sees (the doc is unique, its CONTENT
    * is not). Bands: none (0 duplicate trigrams), low (<10%), mid
    * (<25%), high (≥25%). Docs with fewer than 3 tokens have no trigram
    * multiset and are excluded by construction.
    *
    * Scale posture — the plan upgrade over q49: the per-doc multiset
    * stats come from the [[graft.functions.HashExpressions.gramStats]]
    * codegen kernel, ONE map-side pass per row, replacing q49's
    * explode + corpus-wide (doc, gram) shuffle; the only shuffle left is
    * the |sources|·4-row rollup with map-side combine. All shares are
    * BIGINT basis points (exact gram-string counts — nothing floats
    * across engines). */
  def repetitionProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashExpressions.gramStats
    Tables.documents(spark, dir)
      .select(col("source"),
        gramStats(col("text"), 2).as("s2"), gramStats(col("text"), 3).as("s3"))
      .select(col("source"),
        col("s2").getItem(0).as("n2"), col("s2").getItem(2).as("t2"),
        col("s3").getItem(0).as("n3"), col("s3").getItem(1).as("nd3"))
      .filter(col("n3") > 0)
      .select(col("source"),
        expr("t2 * 10000 div n2").as("top2_bp"),
        expr("(n3 - nd3) * 10000 div n3").as("dup3_bp"))
      .withColumn("rep_band",
        when(col("dup3_bp") === 0, lit("none"))
          .when(col("dup3_bp") < 1000, lit("low"))
          .when(col("dup3_bp") < 2500, lit("mid"))
          .otherwise(lit("high")))
      .groupBy(col("source"), col("rep_band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("top2_bp")).as("s_top2"), sum(col("dup3_bp")).as("s_dup3"))
      .select(col("source"), col("rep_band"), col("n_docs"),
        expr("s_top2 div n_docs").as("avg_top2_bp"),
        expr("s_dup3 div n_docs").as("avg_dup3_bp"))
      .orderBy(col("source"), col("rep_band"))
  }

  def repetitionProfileSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(lower(text), ' ') AS t FROM documents
       |), g2 AS (
       |  SELECT doc_id, source, unnest(list_transform(range(1, len(t)),
       |    i -> array_to_string(t[i:i+1], ' '))) AS g FROM toks
       |), g3 AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
       |    i -> array_to_string(t[i:i+2], ' '))) AS g FROM toks
       |), p2 AS (
       |  SELECT doc_id, source, max(c)::BIGINT AS t2, sum(c)::BIGINT AS n2
       |  FROM (SELECT doc_id, source, g, count(*) AS c FROM g2 GROUP BY 1, 2, 3)
       |  GROUP BY 1, 2
       |), p3 AS (
       |  SELECT doc_id, sum(c)::BIGINT AS n3, count(*)::BIGINT AS nd3
       |  FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2)
       |  GROUP BY 1
       |), d AS (
       |  SELECT source, t2 * 10000 // n2 AS top2_bp,
       |    (n3 - nd3) * 10000 // n3 AS dup3_bp
       |  FROM p2 JOIN p3 USING (doc_id)
       |)
       |SELECT source,
       |  CASE WHEN dup3_bp = 0 THEN 'none' WHEN dup3_bp < 1000 THEN 'low'
       |       WHEN dup3_bp < 2500 THEN 'mid' ELSE 'high' END AS rep_band,
       |  count(*)::BIGINT AS n_docs,
       |  (sum(top2_bp)::BIGINT // count(*)) AS avg_top2_bp,
       |  (sum(dup3_bp)::BIGINT // count(*)) AS avg_dup3_bp
       |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- X86: blocklist-density audit (q160) ---------------------------------

  /** Denylist for [[blocklistDensity]] — a fixture over the synthetic
    * vocabulary ('leak' is deliberately absent from the corpus: an inert
    * term must contribute nothing, spec-pinned). Production swaps in the
    * real C4-style word list; the mechanism is term-set membership, not
    * the terms. */
  val Blocklist: Seq[String] = Seq("slow", "dup", "leak")

  /** X86 blocklist-density audit (q160): the C4 "bad words" filter
    * accounting (public: Raffel et al. 2020, arXiv:1910.10683 §2.2 — C4
    * drops any page containing a denylisted word) as a per-source panel:
    * docs, tokens, blocklist occurrences, occurrences per 10k tokens,
    * flagged docs (≥1 hit — exactly the C4 drop rule) and the flagged
    * share in basis points. This is the audit run BEFORE committing to
    * the drop: a source with a high flagged share loses its whole budget
    * to the filter, and the density column separates pervasive usage
    * from one-word incidents (the known C4 over-blocking failure mode —
    * medical/dialect pages dropped for single terms).
    *
    * Scale posture: hits ride the native codegen `token_hit_count`
    * kernel (the q01 sentiment device — lexicon compiled into the
    * expression, one pass per row, no tokenization explode); the rollup
    * is |sources| rows with map-side combine. All-integer output. */
  def blocklistDensity(spark: SparkSession, dir: String,
                       blocklist: Seq[String] = Blocklist): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        size(toks(col("text"))).cast("long").as("ntok"),
        hitCount(col("text"), blocklist).cast("long").as("hits"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        sum(col("hits")).as("n_hits"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_flagged"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_hits"),
        expr("n_hits * 10000 div n_tokens").as("hits_per_10k"),
        col("n_flagged"),
        expr("n_flagged * 10000 div n_docs").as("flagged_bp"))
      .orderBy(col("source"))

  def blocklistDensitySql(blocklist: Seq[String] = Blocklist): String = {
    val lst = blocklist.map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (
       |  SELECT source, string_split(lower(text), ' ') AS toks FROM documents
       |), d AS (
       |  SELECT source, len(toks)::BIGINT AS ntok,
       |    len(list_filter(toks, x -> x IN ($lst)))::BIGINT AS hits
       |  FROM t
       |)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |  sum(ntok)::BIGINT AS n_tokens, sum(hits)::BIGINT AS n_hits,
       |  (sum(hits)::BIGINT * 10000 // sum(ntok))::BIGINT AS hits_per_10k,
       |  sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
       |  (sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END)::BIGINT * 10000
       |    // count(*))::BIGINT AS flagged_bp
       |FROM d GROUP BY source ORDER BY source""".stripMargin
  }

  // ---- X14: vocabulary build + OOV audit (q85) ----------------------------

  /** Vocabulary cutoff for [[vocabOov]] — deliberately below the corpus's
    * distinct-token count at every SF so the OOV set is non-empty. */
  val VocabSize = 16

  /** X14 tokenizer-vocabulary build + out-of-vocabulary audit (q85): the
    * top-[[VocabSize]] tokens by corpus frequency (ties broken by token)
    * form the vocab; per language — token occurrences, OOV occurrences,
    * OOV rate, distinct tokens, distinct OOV tokens.
    *
    * Scale posture: the vocabulary election never sorts the token table —
    * per-(lang, token) counts ride map-side combine, the global counts
    * fold from the per-lang table (vocabulary-sized, not corpus-sized),
    * and the top-V is the bounded-heap [[graft.functions.TopKTerms]]
    * two-phase aggregate (shuffle ~partitions x V rows). The elected
    * vocab (V rows) broadcasts back onto the per-lang counts, so the
    * corpus is read exactly once and the only corpus-sized shuffle is
    * the (lang, token) count. */
  /** The elected top-`v` vocabulary as a (w) table — from the per-lang
    * count table when the caller already has it, else from scratch.
    * Exposed for the streaming drift monitor
    * ([[graft.streaming.Pipeline.oovMonitor]]), which broadcasts a
    * vocabulary snapshot against a live token stream. */
  def vocabulary(spark: SparkSession, dir: String,
                 v: Int = VocabSize): DataFrame =
    vocabularyOf(
      Tables.documents(spark, dir)
        .select(col("lang"), explode(toks(col("text"))).as("w"))
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c")), v)

  private def vocabularyOf(lc: DataFrame, v: Int): DataFrame = {
    val gc = lc.groupBy(col("w")).agg(sum(col("c")).as("c"))
    val topv = udaf(new graft.functions.TopKTerms(v))
    gc.agg(topv(col("c"), col("w")).as("hits"))
      .select(explode(col("hits")).as("h"))
      .select(col("h.term").as("w"))
  }

  def vocabOov(spark: SparkSession, dir: String, v: Int = VocabSize): DataFrame = {
    val lc = Tables.documents(spark, dir)
      .select(col("lang"), explode(toks(col("text"))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
    val vocab = vocabularyOf(lc, v).withColumn("in_vocab", lit(1))
    lc.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("c")).otherwise(lit(0L))).as("n_oov"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_distinct_oov"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"),
        col("n_distinct"), col("n_distinct_oov"))
      .orderBy(col("lang"))
  }

  def vocabOovSql(v: Int = VocabSize): String =
    s"""WITH tok AS (
       |  SELECT lang, unnest(string_split(lower(text), ' ')) AS w FROM documents
       |), lc AS (
       |  SELECT lang, w, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2
       |), gc AS (
       |  SELECT w, sum(c)::BIGINT AS c FROM lc GROUP BY w
       |), v AS (
       |  SELECT w FROM (
       |    SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rn FROM gc)
       |  WHERE rn <= $v
       |)
       |SELECT lang, sum(c)::BIGINT AS n_tokens,
       |  sum(CASE WHEN w NOT IN (SELECT w FROM v) THEN c ELSE 0 END)::BIGINT AS n_oov,
       |  round(sum(CASE WHEN w NOT IN (SELECT w FROM v) THEN c ELSE 0 END)
       |    / sum(c)::DOUBLE, 6) AS oov_rate,
       |  count(*)::BIGINT AS n_distinct,
       |  sum(CASE WHEN w NOT IN (SELECT w FROM v) THEN 1 ELSE 0 END)::BIGINT
       |    AS n_distinct_oov
       |FROM lc GROUP BY lang ORDER BY lang""".stripMargin

  // ---- X19: tokenizer-compression fairness (q90) --------------------------

  /** X19 tokenizer-compression fairness audit (q90): characters per
    * token by language, and each language's rate relative to the corpus
    * rate in exact integer basis points (10000 = corpus average;
    * > 10000 = this language spends more characters per token — the
    * multilingual-tokenizer-fairness signal: a language whose text
    * fragments into more, shorter tokens pays more context budget for
    * the same content).
    *
    * Cross-engine float discipline: the relative rate is the integer
    * cross-ratio (chars_l * tokens_total * 10000) div (tokens_l *
    * chars_total) — four exact integer sums, one integral divide, no
    * float until the single display division for chars_per_token.
    * decimal(38,0) guards the product past 64 bits (q71's device).
    *
    * Scale posture: one narrow projection (n_chars is a stored column;
    * the token count is a per-row size()), one map-side-combinable agg
    * to |langs| rows, and a broadcast single-row corpus total. */
  def tokenizerFairness(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars"),
        size(toks(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_tokens")).as("sum_tokens"))
    val tot = per.agg(sum(col("sum_chars")).as("tot_chars"),
      sum(col("sum_tokens")).as("tot_tokens"))
    per.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("sum_chars"), col("sum_tokens"),
        round(col("sum_chars") / col("sum_tokens").cast("double"), 6)
          .as("chars_per_token"),
        expr("cast(sum_chars as decimal(38,0)) * tot_tokens * 10000 div " +
          "(cast(sum_tokens as decimal(38,0)) * tot_chars)")
          .cast("long").as("rel_rate_bp"))
      .orderBy(col("lang"))
  }

  def tokenizerFairnessSql: String =
    s"""WITH per AS (
       |  SELECT lang, count(*)::BIGINT AS n_docs,
       |    sum(n_chars)::BIGINT AS sum_chars,
       |    sum(len(string_split(lower(text), ' ')))::BIGINT AS sum_tokens
       |  FROM documents GROUP BY lang
       |), tot AS (
       |  SELECT sum(sum_chars)::BIGINT AS tot_chars,
       |    sum(sum_tokens)::BIGINT AS tot_tokens FROM per
       |)
       |SELECT lang, n_docs, sum_chars, sum_tokens,
       |  round(sum_chars / sum_tokens::DOUBLE, 6) AS chars_per_token,
       |  ((sum_chars * tot_tokens * 10000) //
       |    (sum_tokens * tot_chars))::BIGINT AS rel_rate_bp
       |FROM per CROSS JOIN tot ORDER BY lang""".stripMargin

  // ---- X16: cross-document boilerplate share (q87) ------------------------

  /** X16 per-document boilerplate contamination (q87): the doc-level
    * rollup of q73's corpus-level signal — for each document, the
    * fraction of its distinct 5-gram shingles that also appear in at
    * least `minDf` documents (i.e. shared spans, the unit an exact
    * substring-dedup pass would cut); per language — docs, total grams,
    * shared grams, micro-averaged shared rate, and docs at least half
    * boilerplate. Documents shorter than n tokens have no shingles and
    * drop out (they cannot be boilerplate-contaminated).
    *
    * Scale posture: shingles are hashed to 60-bit ints ([[TextHash.h1]])
    * before any shuffle, so both the gram-frequency aggregation and the
    * join back to per-doc grams move 8-byte keys, never n-gram strings
    * (h1 collisions merge two grams' doc-counts — the same accepted
    * birthday-bound trade as q78's shuffle key, disclosed there). The
    * micro rate divides two exact integer sums once, so engine-side
    * addition order cannot move it. */
  /** Shared 60-bit gram-key table (q87 + scale harness): one row per
    * (doc, distinct n-gram). Both the df aggregation and the join-back
    * consume it; a PlanCache materialization computes the
    * scan+shingle+hash once per (session, dir, n) instead of once per
    * consumer — same lifecycle device as Dedup.signatures (the 100 TB
    * pipeline persists its gram table for exactly this reason). */
  private[graft] def gramKeys(spark: SparkSession, dir: String, n: Int): DataFrame =
    graft.PlanCache.cached(spark, s"textanalysis.gramKeys:$dir:$n") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          explode(graft.functions.HashExpressions.shingles(col("text"), n)).as("g"))
        .select(col("doc_id"), col("lang"), TextHash.h1(col("g")).as("gk"))
    }

  /** Scale-harness seam (ScaleHarnessSpec): the two inputs of the
    * q73/q87 gram join — corpus-side (doc, gram) rows and the distinct
    * gram vocabulary (the df-agg/join key side) — measured on the exact
    * cached fragment the operators consume, so the harness pins the
    * operator's real shuffle shape, not a re-derivation. */
  def gramJoinInputs(spark: SparkSession, dir: String, n: Int = 5): (Long, Long) = {
    val sh = gramKeys(spark, dir, n)
    (sh.count(), sh.select(col("gk")).distinct().count())
  }

  /** Scale-harness seam for q105 (ScaleHarnessSpec): the positional gram
    * stream size (one row per token window — linear in corpus tokens)
    * and the duplicated-gram key side (occ ≥ 2 vocabulary — bounded by
    * CONTENT, not corpus size), measured on the exact cached fragment
    * [[spanScrub]] consumes. */
  def spanJoinInputs(spark: SparkSession, dir: String, n: Int = 5): (Long, Long) = {
    val pg = posGrams(spark, dir, n)
    (pg.count(),
      pg.groupBy(col("gk")).agg(count(lit(1)).as("occ"))
        .filter(col("occ") >= 2).count())
  }

  def boilerplateShare(spark: SparkSession, dir: String,
                       n: Int = 5, minDf: Int = 2): DataFrame = {
    val sh = gramKeys(spark, dir, n)
    val dfreq = sh.groupBy(col("gk")).agg(count(lit(1)).as("df"))
    sh.join(dfreq, Seq("gk"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_shared"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("sum_grams"),
        sum(col("n_shared")).as("sum_shared"),
        sum(when(col("n_shared") * 2 >= col("n_grams"), 1L).otherwise(0L))
          .as("n_heavy"))
      .select(col("lang"), col("n_docs"), col("sum_grams"), col("sum_shared"),
        round(col("sum_shared").cast("double") / col("sum_grams"), 6)
          .as("shared_rate"),
        col("n_heavy"))
      .orderBy(col("lang"))
  }

  def boilerplateShareSql(n: Int = 5, minDf: Int = 2): String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id, lang, ${TextHash.h1Sql("g")} AS gk
       |  FROM (SELECT doc_id, lang, unnest(${TextHash.shinglesSql("t", n)}) AS g
       |        FROM toks)
       |), df AS (
       |  SELECT gk, count(*) AS df FROM sh GROUP BY gk
       |), pd AS (
       |  SELECT sh.doc_id, sh.lang, count(*)::BIGINT AS n_grams,
       |    sum(CASE WHEN df.df >= $minDf THEN 1 ELSE 0 END)::BIGINT AS n_shared
       |  FROM sh JOIN df USING(gk) GROUP BY 1, 2
       |)
       |SELECT lang, count(*)::BIGINT AS n_docs, sum(n_grams)::BIGINT AS sum_grams,
       |  sum(n_shared)::BIGINT AS sum_shared,
       |  round(sum(n_shared) / sum(n_grams)::DOUBLE, 6) AS shared_rate,
       |  sum(CASE WHEN n_shared * 2 >= n_grams THEN 1 ELSE 0 END)::BIGINT AS n_heavy
       |FROM pd GROUP BY lang ORDER BY lang""".stripMargin

  // ---- X32: exact-substring span scrub accounting (q105) ------------------

  /** Shared POSITIONAL gram table (q105): one row per (doc, start
    * position) — (doc_id, pos 1-based, 60-bit gram hash), occurrences
    * NOT deduplicated (within-doc repeats are duplicated spans too).
    * PlanCache'd because both the occurrence count and the join-back
    * consume it; the gram stream is one row per token (~corpus token
    * count), so at 100 TB this is the fragment a real ExactSubstr pass
    * persists once and probes twice. */
  private[graft] def posGrams(spark: SparkSession, dir: String, n: Int): DataFrame =
    graft.PlanCache.cached(spark, s"textanalysis.posGrams:$dir:$n") {
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          posexplode(graft.functions.HashExpressions.spanGramHashes(col("text"), n))
            .as(Seq("p0", "gk")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("gk"))
    }

  /** X32 exact-substring span-scrub accounting (q105): per language, how
    * many tokens an exact repeated-span dedup pass (the "ExactSubstr"
    * rule of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better" — public arXiv:2107.06499) would cut. A
    * token position is REMOVED iff it is covered by at least one length-n
    * token window whose gram occurs ≥ 2 times in the corpus (anywhere —
    * another doc or earlier in the same doc). Reports per-lang doc count,
    * token mass, removed mass, integer-basis-point removed share, and
    * docs touched. Distinct from q87 (boilerplate share), which counts
    * per-doc DISTINCT shared grams — this is positional coverage, the
    * actual removal accounting a scrub pass bills against its corpus.
    *
    * Scale posture: the positional gram table is linear in corpus tokens
    * and is PlanCache'd ([[posGrams]]) so the occurrence aggregation and
    * the flag join-back share one materialization; the occurrence count
    * rides map-side combine (a boilerplate gram combines within each
    * partition before the gk shuffle); only grams with occ ≥ 2 survive
    * into the join (the duplicated-gram vocabulary — at real corpora a
    * small fraction of the gram stream); coverage expansion is a
    * constant-factor (≤ n×) narrow explode of FLAGGED rows only, and the
    * distinct/count collapse back to one row per doc before the
    * lang rollup. The corpus body is never shuffled — only 8-byte gram
    * keys and (doc_id, position) longs cross the wire. */
  def spanScrub(spark: SparkSession, dir: String, n: Int = 5): DataFrame = {
    val pg = posGrams(spark, dir, n)
    val dup = pg.groupBy(col("gk")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
    val flagged = pg.join(dup, Seq("gk")).select(col("doc_id"), col("pos"))
    val cov = flagged
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit((n - 1).toLong))).as("cp"))
      .distinct()
    val rem = cov.groupBy(col("doc_id")).agg(count(lit(1)).as("removed"))
    val dl = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(toks(col("text"))).cast("long").as("ntok"))
    dl.join(rem, Seq("doc_id"), "left")
      .select(col("lang"), col("ntok"),
        coalesce(col("removed"), lit(0L)).as("removed"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("sum_tokens"),
        sum(col("removed")).as("sum_removed"),
        sum(when(col("removed") > 0, 1L).otherwise(0L)).as("n_docs_hit"))
      .select(col("lang"), col("n_docs"), col("sum_tokens"), col("sum_removed"),
        expr("sum_removed * 10000 div sum_tokens").as("removed_bp"),
        col("n_docs_hit"))
      .orderBy(col("lang"))
  }

  /** Bounded snapshot artifact for the streaming span-scrub gate
    * ([[graft.streaming.Pipeline.spanScrubGate]]): the top-`k`
    * duplicated positional-gram keys by occurrence (ties by key) — the
    * boilerplate lexicon a continuous intake screens against. Collected
    * to the driver BECAUSE it is the snapshot (≤ k longs, kilobytes —
    * the importanceGate/lexicon pattern); the ranking is Spark's
    * bounded TakeOrdered, never a full gram sort. */
  def spanGramSnapshot(spark: SparkSession, dir: String,
                       n: Int = 5, k: Int = 64): Seq[Long] =
    posGrams(spark, dir, n)
      .groupBy(col("gk")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .orderBy(col("occ").desc, col("gk"))
      .limit(k)
      .collect().map(_.getAs[Long]("gk")).toSeq

  def spanScrubSql(n: Int = 5): String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents
       |), pg AS (
       |  SELECT doc_id, unnest(
       |    [{'pos': i, 'gk': ${TextHash.h1Sql(s"array_to_string(t[i:i+${n - 1}], ' ')")}}
       |     for i in range(1, len(t) - ${n - 2})], recursive := true)
       |  FROM toks
       |), dup AS (
       |  SELECT gk FROM pg GROUP BY gk HAVING count(*) >= 2
       |), cov AS (
       |  SELECT DISTINCT doc_id, cp FROM (
       |    SELECT pg.doc_id, unnest([pg.pos + d for d in range(0, $n)]) AS cp
       |    FROM pg JOIN dup USING (gk))
       |), rem AS (
       |  SELECT doc_id, count(*)::BIGINT AS removed FROM cov GROUP BY doc_id
       |), dl AS (
       |  SELECT doc_id, lang, len(t)::BIGINT AS ntok FROM toks
       |), pd AS (
       |  SELECT dl.lang, dl.ntok, coalesce(rem.removed, 0) AS removed
       |  FROM dl LEFT JOIN rem USING (doc_id)
       |)
       |SELECT lang, count(*)::BIGINT AS n_docs, sum(ntok)::BIGINT AS sum_tokens,
       |  sum(removed)::BIGINT AS sum_removed,
       |  (sum(removed) * 10000 // sum(ntok))::BIGINT AS removed_bp,
       |  sum(CASE WHEN removed > 0 THEN 1 ELSE 0 END)::BIGINT AS n_docs_hit
       |FROM pd GROUP BY lang ORDER BY lang""".stripMargin

  // ---- X36: count-min-sketch heavy-hitter audit (q109) --------------------

  /** Count-min depth (hash rows) and width (buckets per row). 4×1024
    * cells = one 32 KB broadcastable array at ANY corpus scale — the
    * whole point of sketched counting at 100 TB. Hashes are the
    * portable (x1 + j·x2) mod P family over one md5 per token (the
    * MinHash device), reduced mod width. */
  val CmsDepth = 4
  val CmsWidth = 1024L

  /** Per-token count table — the q109 sketch input and exact side,
    * PlanCache'd because both consume it (and a production pipeline
    * materializes its term table once; see [[gramKeys]]). */
  private[graft] def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(spark, s"textanalysis.tokenCounts:$dir") {
      Tables.documents(spark, dir)
        .select(explode(toks(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    }

  /** X36 count-min-sketch accuracy audit (q109): build the [[CmsDepth]]×
    * [[CmsWidth]] count-min sketch (Cormode & Muthukrishnan 2005) over
    * the corpus token stream, then audit it against ground truth on the
    * exact top-k tokens — exact count, sketch estimate, and the
    * overestimate (≥ 0 ALWAYS: count-min never undercounts, the spec
    * invariant). This is the measurement a pipeline runs before trusting
    * sketched frequencies for filtering at a scale where exact counting
    * is a corpus-sized shuffle it wants to stop paying.
    *
    * Scale posture: the sketch aggregates the (token, cnt) table into
    * depth×width cells with map-side combine — the sketch is 4096 rows,
    * broadcastable forever; the exact top-k is the bounded-heap
    * [[graft.functions.TopKTerms]] two-phase aggregate (never a corpus
    * sort); the audit probe joins k×depth rows against the broadcast
    * sketch. Summing per-token counts into cells is arithmetic-identical
    * to streaming raw tokens through the sketch. */
  /** The corpus token table with its two 60-bit hash residues — shared
    * by the sketch construction and the audit probe. */
  private def cmsHashed(spark: SparkSession, dir: String): DataFrame = {
    val P = TextHash.P
    tokenCounts(spark, dir).select(col("w"), col("cnt"),
      (TextHash.h1(col("w")) % P).as("a"), (TextHash.h2(col("w")) % P).as("b"))
  }

  /** The materialized q109 sketch: (j, bucket, cell) — ≤ [[CmsDepth]] ×
    * [[CmsWidth]] rows at ANY corpus scale (harness-asserted). */
  private[graft] def cmsSketch(spark: SparkSession, dir: String): DataFrame = {
    val P = TextHash.P
    val js = explode(array((0 until CmsDepth).map(j => lit(j.toLong)): _*)).as("j")
    cmsHashed(spark, dir)
      .select(col("cnt"), col("a"), col("b"), js)
      .select(col("j"), (((col("a") + col("j") * col("b")) % P) % CmsWidth).as("bucket"),
        col("cnt"))
      .groupBy(col("j"), col("bucket")).agg(sum(col("cnt")).as("cell"))
  }

  def cmsHeavyHitters(spark: SparkSession, dir: String, k: Int = 15): DataFrame = {
    val P = TextHash.P
    val tt = tokenCounts(spark, dir)
    val hashed = cmsHashed(spark, dir)
    val js = explode(array((0 until CmsDepth).map(j => lit(j.toLong)): _*)).as("j")
    val sketch = cmsSketch(spark, dir)
    val topk = udaf(new graft.functions.TopKTerms(k))
    val heads = tt.agg(topk(col("cnt"), col("w")).as("hits"))
      .select(posexplode(col("hits")).as(Seq("pos", "h")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("h.term").as("w"), col("h.cnt").as("exact_cnt"))
    heads
      .join(hashed.select(col("w"), col("a"), col("b")), Seq("w"))
      .select(col("rank"), col("w"), col("exact_cnt"), col("a"), col("b"), js)
      .select(col("rank"), col("w"), col("exact_cnt"), col("j"),
        (((col("a") + col("j") * col("b")) % P) % CmsWidth).as("bucket"))
      .join(broadcast(sketch), Seq("j", "bucket"))
      .groupBy(col("rank"), col("w"), col("exact_cnt"))
      .agg(min(col("cell")).as("cms_estimate"))
      .select(col("rank"), col("w").as("token"), col("exact_cnt"),
        col("cms_estimate"),
        (col("cms_estimate") - col("exact_cnt")).as("overest"))
      .orderBy(col("rank"))
  }

  def cmsHeavyHittersSql(k: Int = 15): String = {
    val P = TextHash.P
    s"""WITH tc AS (
       |  SELECT w, count(*)::BIGINT AS cnt
       |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
       |        FROM documents)
       |  GROUP BY w
       |), h AS (
       |  SELECT w, cnt, (${TextHash.h1Sql("w")} % $P) AS a,
       |    (${TextHash.h2Sql("w")} % $P) AS b
       |  FROM tc
       |), sk AS (
       |  SELECT j, ((a + j * b) % $P) % $CmsWidth AS bucket,
       |    sum(cnt)::BIGINT AS cell
       |  FROM h CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS j)
       |  GROUP BY 1, 2
       |), tk AS (
       |  SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rank
       |  FROM tc
       |), probe AS (
       |  SELECT tk.rank, tk.w, tk.cnt, jj.j,
       |    ((h.a + jj.j * h.b) % $P) % $CmsWidth AS bucket
       |  FROM tk JOIN h USING (w)
       |  CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS j) jj
       |  WHERE tk.rank <= $k
       |)
       |SELECT p.rank::BIGINT AS rank, p.w AS token, p.cnt AS exact_cnt,
       |  min(sk.cell)::BIGINT AS cms_estimate,
       |  (min(sk.cell) - p.cnt)::BIGINT AS overest
       |FROM probe p JOIN sk ON sk.j = p.j AND sk.bucket = p.bucket
       |GROUP BY 1, 2, 3 ORDER BY rank""".stripMargin
  }

  // ---- X170: Misra–Gries mergeability audit (q244) -------------------------

  /** Summary size for [[mgMergeability]] — k counters per source. */
  val MgK: Int = 16

  /** X170 Misra–Gries mergeability audit (q244): the DETERMINISTIC
    * heavy-hitter summary (Misra & Gries 1982) beside the probabilistic
    * count-min of q109 — k counters per source, merged with the
    * Agarwal et al. 2012 mergeable-summaries rule (sum counters, then
    * subtract the (k+1)-th largest and drop non-positive), audited
    * against exact truth. Where count-min only ever OVERcounts, MG only
    * ever UNDERcounts, and the two audits bracket a term's true mass
    * from both sides. Per merged-summary term: estimate, exact corpus
    * count, the undercount and its share, and whether it sits within
    * the theoretical n/(k+1) bound (it must — spec-gated, and the
    * `within_bound` column makes the guarantee a visible fact).
    * Reduction is order-independent here because it runs on exact
    * per-source counts: summary = { (w, c − t) : c > t } with t the
    * (k+1)-th largest count under the (count desc, term asc) total
    * order — ties at the threshold drop, which is exactly the MG
    * worst case the bound prices.
    *
    * Scale posture: per-source counts collapse map-side; the (k+1)-th
    * threshold is the bounded-heap [[graft.functions.TopKTerms]]
    * aggregate (never a vocab sort), and every term beating the
    * threshold is IN that heap, so summaries slice the heap array —
    * no join back to the counts table; the merge works on ≤
    * |sources|·k rows; the exact leg broadcasts the ≤ k merged terms
    * into one equi-join against the shared q109 token-count seam. */
  def mgMergeability(spark: SparkSession, dir: String,
                     k: Int = MgK): DataFrame = {
    val topk1 = udaf(new graft.functions.TopKTerms(k + 1))
    // per-source summaries: heap → threshold → sliced counters
    val summ = Tables.documents(spark, dir)
      .select(col("source"), explode(toks(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(topk1(col("cnt").cast("long"), col("w")).as("hits"))
      .select(explode(expr(
        s"""transform(
           |  filter(hits, h -> h.cnt >
           |    IF(size(hits) = ${k + 1}, element_at(hits, ${k + 1}).cnt,
           |       cast(0 as bigint))),
           |  h -> named_struct('w', h.term, 'c', h.cnt -
           |    IF(size(hits) = ${k + 1}, element_at(hits, ${k + 1}).cnt,
           |       cast(0 as bigint))))""".stripMargin)).as("s"))
      .select(col("s.w").as("w"), col("s.c").as("c"))
    // the mergeable-summaries rule, replayed on the union
    // rank rides the heap's own (count desc, term asc) array order —
    // uniform threshold subtraction preserves it, so no global window
    val merged = summ.groupBy(col("w")).agg(sum(col("c")).as("msum"))
      .agg(topk1(col("msum"), col("w")).as("hits"))
      .select(posexplode(expr(
        s"""transform(
           |  filter(hits, h -> h.cnt >
           |    IF(size(hits) = ${k + 1}, element_at(hits, ${k + 1}).cnt,
           |       cast(0 as bigint))),
           |  h -> named_struct('w', h.term, 'est', h.cnt -
           |    IF(size(hits) = ${k + 1}, element_at(hits, ${k + 1}).cnt,
           |       cast(0 as bigint))))""".stripMargin)).as(Seq("pos", "s")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("s.w").as("term"), col("s.est").as("est_count"))
    val exact = tokenCounts(spark, dir)
    val tot = exact.agg(sum(col("cnt")).as("n_tot"))
    merged.join(exact.withColumnRenamed("w", "term"), Seq("term"))
      .crossJoin(graft.PlanAudit.Bounded
        .broadcastBounded("q244_mg_mergeability.total", tot, 1L))
      .select(col("rank"), col("term"), col("est_count"),
        col("cnt").as("exact_count"),
        (col("cnt") - col("est_count")).as("undercount"),
        expr("(cnt - est_count) * 10000 div cnt").as("undercount_bp"),
        expr(s"n_tot div ${k + 1}").as("bound"),
        expr(s"cnt - est_count <= n_tot div ${k + 1}").as("within_bound"))
      .orderBy(col("rank"))
  }

  def mgMergeabilitySql(k: Int = MgK): String = {
    s"""WITH sc AS (
       |  SELECT source, w, count(*)::BIGINT AS cnt
       |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS w
       |        FROM documents)
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT source, w, cnt,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY cnt DESC, w) AS rn
       |  FROM sc
       |), thr AS (
       |  SELECT source,
       |    coalesce(max(CASE WHEN rn = ${k + 1} THEN cnt END), 0) AS t
       |  FROM ranked GROUP BY 1
       |), summ AS (
       |  SELECT r.w, r.cnt - thr.t AS c
       |  FROM ranked r JOIN thr USING (source) WHERE r.cnt > thr.t
       |), pre AS (
       |  SELECT w, sum(c)::BIGINT AS msum FROM summ GROUP BY 1
       |), mr AS (
       |  SELECT w, msum, row_number() OVER (ORDER BY msum DESC, w) AS rn
       |  FROM pre
       |), mthr AS (
       |  SELECT coalesce(max(CASE WHEN rn = ${k + 1} THEN msum END), 0) AS t
       |  FROM mr
       |), msumm AS (
       |  SELECT w AS term, msum - mthr.t AS est_count
       |  FROM mr CROSS JOIN mthr WHERE msum > mthr.t
       |), tc AS (
       |  SELECT w, count(*)::BIGINT AS cnt
       |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
       |        FROM documents)
       |  GROUP BY 1
       |), tot AS (SELECT sum(cnt)::BIGINT AS n_tot FROM tc)
       |SELECT row_number() OVER (ORDER BY est_count DESC, term)::BIGINT
       |    AS rank,
       |  term, est_count, tc.cnt AS exact_count,
       |  (tc.cnt - est_count)::BIGINT AS undercount,
       |  ((tc.cnt - est_count) * 10000 // tc.cnt)::BIGINT AS undercount_bp,
       |  (tot.n_tot // ${k + 1})::BIGINT AS bound,
       |  (tc.cnt - est_count <= tot.n_tot // ${k + 1}) AS within_bound
       |FROM msumm JOIN tc ON tc.w = msumm.term CROSS JOIN tot
       |ORDER BY rank""".stripMargin
  }

  // ---- X175: RAKE keyphrase extraction (q249) ------------------------------

  /** Longest candidate phrase [[rakeKeyphrases]] scores — stopword-free
    * runs longer than this are discarded (they are headlines, not
    * keyphrases). */
  val RakeMaxLen: Int = 4

  /** X175 RAKE keyphrase extraction (q249): corpus-level keyphrases via
    * Rapid Automatic Keyword Extraction (Rose et al. 2010) — candidate
    * phrases are the maximal stopword-delimited token runs (≤
    * [[RakeMaxLen]] words), each word scores deg/freq (deg = Σ phrase
    * lengths it appears in, freq = occurrences — words that live in
    * LONG phrases outscore equally-frequent loners), and a phrase
    * scores the sum of its member word scores. Integer milli-scores
    * keep both engines exact. The top-k table (phrase, occurrences,
    * words, score) is the "what is this corpus about" read beside
    * q53's tf-idf TERMS: RAKE surfaces multi-word units ("hash join
    * order") tf-idf can only rank word-by-word.
    *
    * Scale posture: phrase extraction is a per-doc EXPRESSION (mark
    * stopwords as delimiters, split, trim, filter — no explode until
    * the phrase grain); word stats collapse map-side from the
    * phrase-TYPE table (counts carried, occurrences never re-scanned);
    * the score join is keyed on the content-bounded word vocabulary;
    * top-k rides the bounded TopKTerms heap (never a corpus sort) and
    * the final detail join broadcasts the ≤k winners. */
  def rakeKeyphrases(spark: SparkSession, dir: String, k: Int = 15): DataFrame = {
    val stopList = Stopwords.map(s => s"'$s'").mkString(", ")
    val phrases = Tables.documents(spark, dir)
      .select(explode(expr(
        "filter(transform(split(concat_ws(' ', " +
          s"transform(split(lower(text), ' '), t -> IF(t IN ($stopList), '§', t))" +
          "), '§'), p -> trim(p)), " +
          s"p -> p != '' AND size(split(p, ' ')) <= $RakeMaxLen)"))
        .as("phrase"))
    val pt = graft.PlanCache.cached(spark, s"textanalysis.rakePhrases:$dir") {
      phrases.groupBy(col("phrase")).agg(count(lit(1)).as("cnt"))
        .withColumn("len", size(split(col("phrase"), " ")).cast("long"))
    }
    val ws = pt.select(explode(split(col("phrase"), " ")).as("w"),
        col("cnt"), col("len"))
      .groupBy(col("w"))
      .agg(sum(col("cnt")).as("freq"),
        sum(col("cnt") * col("len")).as("deg"))
      .select(col("w"), expr("deg * 1000 div freq").as("wscore"))
    val scored = pt
      .select(col("phrase"), col("cnt"), col("len"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(ws, Seq("w"))
      .groupBy(col("phrase"), col("cnt"), col("len"))
      .agg(sum(col("wscore")).as("score_milli"))
    val topk = udaf(new graft.functions.TopKTerms(k))
    val heads = scored
      .agg(topk(col("score_milli"), col("phrase")).as("hits"))
      .select(posexplode(col("hits")).as(Seq("pos", "h")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("h.term").as("phrase"), col("h.cnt").as("score_milli"))
    // ROUND-18 SHAVE (§2.4): the metadata join-back used to read
    // `scored` again — re-running the word explode + wscore join +
    // phrase rollup a second time just to fetch cnt/len. Those columns
    // live in the persisted phrase seam `pt` (unique per phrase), so
    // the k-row head joins THAT instead; `scored` is now evaluated
    // exactly once (inside the top-k fold).
    pt.select(col("phrase"), col("cnt").as("n_occurrences"),
        col("len").as("n_words"))
      .join(broadcast(heads), Seq("phrase"))
      .select(col("rank"), col("phrase"), col("n_words"),
        col("n_occurrences"), col("score_milli"))
      .orderBy(col("rank"))
  }

  def rakeKeyphrasesSql(k: Int = 15): String = {
    val stopList = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH ph AS (
       |  SELECT unnest(list_filter(list_transform(
       |    string_split(array_to_string(list_transform(
       |      string_split(lower(text), ' '),
       |      t -> CASE WHEN t IN ($stopList) THEN '§' ELSE t END), ' '),
       |      '§'), p -> trim(p)),
       |    p -> p <> '' AND len(string_split(p, ' ')) <= $RakeMaxLen))
       |    AS phrase
       |  FROM documents
       |), pt AS (
       |  SELECT phrase, count(*)::BIGINT AS cnt,
       |    len(string_split(phrase, ' '))::BIGINT AS len
       |  FROM ph GROUP BY 1
       |), wrd AS (
       |  SELECT unnest(string_split(phrase, ' ')) AS w, cnt, len FROM pt
       |), ws AS (
       |  SELECT w, (sum(cnt * len) * 1000 // sum(cnt))::BIGINT AS wscore
       |  FROM wrd GROUP BY 1
       |), scored AS (
       |  SELECT p.phrase, p.cnt, p.len, sum(ws.wscore)::BIGINT
       |    AS score_milli
       |  FROM (SELECT phrase, cnt, len, unnest(string_split(phrase, ' '))
       |          AS w FROM pt) p
       |  JOIN ws ON ws.w = p.w
       |  GROUP BY 1, 2, 3
       |), ranked AS (
       |  SELECT phrase, cnt, len, score_milli,
       |    row_number() OVER (ORDER BY score_milli DESC, phrase) AS rank
       |  FROM scored
       |)
       |SELECT rank::BIGINT AS rank, phrase, len AS n_words,
       |  cnt AS n_occurrences, score_milli
       |FROM ranked WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  // ---- X26: quality-quantile calibration (q99) ----------------------------

  /** X26 per-language quality-decile calibration (q99): the cutoff table
    * a curation run thresholds against ("keep en above its 7th decile,
    * de above its 4th"). For each language and decile d∈1..9, the cutoff
    * is the EXACT discrete quantile — the smallest rounded score q such
    * that at least ceil(d·n/10) docs score ≤ q (so q65's keep-upper-half
    * gate is exactly "score > decile-5 cutoff"). Rank arithmetic stays
    * in integers and scores are rounded to 6 BEFORE comparison, the
    * cross-engine float rule (FIXTURES.md §C).
    *
    * Scale posture: the corpus collapses to a (lang, rounded-score)
    * HISTOGRAM with map-side combine before anything orders — the
    * cumulative window and the 9-way decile fan-out run over histogram
    * rows (≤ 10^6 distinct rounded scores per language, in practice far
    * fewer), never over documents. This is the two-phase-histogram
    * device of q82/q95 applied to quantile estimation: the 100 TB
    * corpus is one scan + one tiny-table window, where a naive
    * percentile would sort the corpus per language.
    *
    * Reference tie-in: the reference has no quality machinery at all
    * (`ProcessStreamData.py:25-30`); calibration is part of the mandated
    * LLM-data-pipeline extension (SURVEY.md §2.12). */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy(col("lang"))
    val cumW = byLang.orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("lang"), round(qualityScore(col("text")), 6).as("q"))
      .groupBy(col("lang"), col("q")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .withColumn("n", sum(col("cnt")).over(byLang))
      .select(col("lang"), col("q"), col("cum"), col("n"),
        explode(array((1 to 9).map(d => lit(d.toLong)): _*)).as("decile"))
      // ceil(d*n/10) in pure integers; cum >= need keeps every score at
      // or above the cutoff — min(q) is then the exact discrete quantile
      .filter(col("cum") >= expr("(decile * n + 9) div 10"))
      .groupBy(col("lang"), col("decile"))
      .agg(min(col("q")).as("cutoff"), max(col("n")).as("n_docs"))
      .orderBy(col("lang"), col("decile"))
  }

  // ---- X31: vocabulary coverage frontier (q104) ---------------------------

  /** Candidate vocabulary sizes for [[vocabCoverageFrontier]] — spans
    * under-provisioned (8, 16: partial coverage against the synthetic
    * corpus's ~31 distinct whitespace tokens) through saturated (64) to
    * the production-scale budget anchor (4096), so the curve shows both
    * regimes at test scale and the heap bound is exercised at a real
    * vocab size. */
  val CoverageSizes: Seq[Int] = Seq(8, 16, 64, 4096)

  /** X31 vocabulary coverage frontier (q104): for each candidate vocab
    * size K, the share of token OCCURRENCES the top-K terms cover — the
    * curve a tokenizer budget is elected from (the q85 vocab build picks
    * ONE size; the frontier shows what each size buys). Ranking ties
    * break (count desc, term asc) — deterministic in both engines.
    *
    * Scale posture: the corpus collapses to the term table with map-side
    * combine; the top-maxK slice comes from the bounded-heap
    * [[graft.functions.TopKTerms]] aggregate (the q85 device — the term
    * table itself is NEVER sorted, which matters when a 100 TB corpus's
    * vocabulary runs to billions of terms); the only window orders the
    * ≤ max(K) heap output (bounded by construction — the adjudicated
    * single-partition-window pattern). `n_terms_used` < K flags a
    * vocabulary smaller than the budget. Integer basis points
    * end-to-end. */
  def vocabCoverageFrontier(spark: SparkSession, dir: String,
                            sizes: Seq[Int] = CoverageSizes): DataFrame = {
    require(sizes.nonEmpty && sizes == sizes.sorted && sizes.head > 0)
    val maxK = sizes.last
    val gc = Tables.documents(spark, dir)
      .select(explode(toks(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = gc.agg(sum(col("c")).as("total_tokens"),
      count(lit(1)).as("n_distinct_terms"))
    val topk = udaf(new graft.functions.TopKTerms(maxK))
    // rank INSIDE the single heap row (array_sort + posexplode) — no
    // window, no exchange, nothing single-partition in the plan
    val cmp = (l: Column, r: Column) =>
      when(l.getField("cnt") > r.getField("cnt"), -1)
        .when(l.getField("cnt") < r.getField("cnt"), 1)
        .when(l.getField("term") < r.getField("term"), -1)
        .when(l.getField("term") > r.getField("term"), 1)
        .otherwise(0)
    val ranked = gc.agg(topk(col("c"), col("w")).as("hits"))
      .select(array_sort(col("hits"), cmp).as("sorted"))
      .select(posexplode(col("sorted")).as(Seq("pos", "h")))
      .select((col("pos") + 1).cast("long").as("rn"),
        col("h.cnt").as("c"))
    ranked
      .select(col("rn"), col("c"),
        explode(array(sizes.map(k => lit(k.toLong)): _*)).as("vocab_k"))
      .filter(col("rn") <= col("vocab_k"))
      .groupBy(col("vocab_k"))
      .agg(max(col("rn")).as("n_terms_used"),
        sum(col("c")).as("covered_tokens"))
      .crossJoin(broadcast(totals))
      .select(col("vocab_k"), col("n_terms_used"), col("covered_tokens"),
        col("total_tokens"), col("n_distinct_terms"),
        expr("covered_tokens * 10000 div total_tokens").as("coverage_bp"))
      .orderBy(col("vocab_k"))
  }

  def vocabCoverageFrontierSql(sizes: Seq[Int] = CoverageSizes): String = {
    val lst = sizes.map(k => s"$k::BIGINT").mkString("[", ", ", "]")
    s"""WITH tok AS (
       |  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
       |), gc AS (
       |  SELECT w, count(*)::BIGINT AS c FROM tok GROUP BY w
       |), tot AS (
       |  SELECT sum(c)::BIGINT AS total_tokens,
       |    count(*)::BIGINT AS n_distinct_terms FROM gc
       |), r AS (
       |  SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rn FROM gc
       |), e AS (
       |  SELECT rn, c, unnest($lst) AS vocab_k FROM r
       |)
       |SELECT vocab_k, max(rn)::BIGINT AS n_terms_used,
       |  sum(c)::BIGINT AS covered_tokens,
       |  tot.total_tokens, tot.n_distinct_terms,
       |  (sum(c) * 10000 // tot.total_tokens)::BIGINT AS coverage_bp
       |FROM e CROSS JOIN tot WHERE rn <= vocab_k
       |GROUP BY vocab_k, tot.total_tokens, tot.n_distinct_terms
       |ORDER BY vocab_k""".stripMargin
  }

  /** Harness seam (ScaleHarnessSpec): the row count of the (lang,
    * rounded-score) histogram — the ONLY thing q99 ever orders. */
  private[graft] def qualityHistRows(spark: SparkSession, dir: String): Long =
    Tables.documents(spark, dir)
      .select(col("lang"), round(qualityScore(col("text")), 6).as("q"))
      .groupBy(col("lang"), col("q")).agg(count(lit(1))).count()

  def qualityCalibrationSql: String = {
    val stop = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH s AS (
       |  SELECT lang,
       |    len(t)::DOUBLE AS ntok,
       |    len(list_distinct(t))::DOUBLE AS uniq,
       |    len(list_filter(t, x -> x IN ($stop)))::DOUBLE AS stops,
       |    length(text)::DOUBLE AS chars
       |  FROM (SELECT lang, text, string_split(lower(text), ' ') AS t
       |        FROM documents)
       |), q AS (
       |  SELECT lang,
       |    round(0.25 * least(ntok / 50.0, 1.0) +
       |          0.25 * (uniq / ntok) +
       |          0.25 * (1.0 - (stops / ntok)) +
       |          0.25 * least(((chars - (ntok - 1)) / ntok) / 6.0, 1.0), 6) AS q
       |  FROM s
       |), h AS (
       |  SELECT lang, q, count(*)::BIGINT AS cnt FROM q GROUP BY lang, q
       |), c AS (
       |  SELECT lang, q, cnt,
       |    sum(cnt) OVER (PARTITION BY lang ORDER BY q
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(cnt) OVER (PARTITION BY lang) AS n
       |  FROM h
       |), e AS (
       |  SELECT lang, q, cum, n,
       |    unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]::BIGINT[]) AS decile
       |  FROM c
       |)
       |SELECT lang, decile, min(q) AS cutoff, max(n)::BIGINT AS n_docs
       |FROM e WHERE cum >= (decile * n + 9) // 10
       |GROUP BY lang, decile ORDER BY lang, decile""".stripMargin
  }

  /** X66+ per-source perplexity profile (q152): how each pool SOURCE
    * scores against the reference LM — docs, mean milli-bit perplexity,
    * and the share of its documents landing in the corpus-wide tail
    * tertile. The actionable companion to the pairwise q151 KL matrix:
    * a source whose tail share dwarfs its peers is the one the mixture
    * (q86) or the perplexity gate should throttle first. Reuses the
    * PlanCache'd q140 per-doc table joined back to the narrow
    * (doc_id, source) spine — no token is re-scored. */
  def perplexityBySource(spark: SparkSession, dir: String,
                         targetSource: String = "src0"): DataFrame = {
    val spine = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    perplexityScored(spark, dir, targetSource)
      .join(spine, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(ppx_mb) div count(1)").as("avg_ppx_mb"),
        sum(when(col("ppx_bucket") === "c_tail", 1L).otherwise(0L))
          .as("n_tail"))
      .select(col("source"), col("n_docs"), col("avg_ppx_mb"), col("n_tail"),
        expr("n_tail * 10000 div n_docs").as("tail_share_bp"))
      .orderBy(col("source"))
  }

  def perplexityBySourceSql(targetSource: String = "src0"): String =
    s"""WITH ${perplexityChainSql(targetSource)}
       |SELECT dd.source, count(*)::BIGINT AS n_docs,
       |  (sum(b.ppx_mb) // count(*))::BIGINT AS avg_ppx_mb,
       |  sum(CASE WHEN b.ppx_bucket = 'c_tail' THEN 1 ELSE 0 END)::BIGINT
       |    AS n_tail,
       |  ((sum(CASE WHEN b.ppx_bucket = 'c_tail' THEN 1 ELSE 0 END) * 10000)
       |    // count(*))::BIGINT AS tail_share_bp
       |FROM b JOIN documents dd ON dd.doc_id = b.doc_id
       |GROUP BY dd.source ORDER BY dd.source""".stripMargin

  // ---- X77: domain-shift KL divergence (q151) -----------------------------

  /** X77 domain-shift audit (q151): for every ordered source pair, the
    * KL divergence KL(a‖b) of their unigram token distributions in
    * integer MILLI-BITS — the domain-shift number the DSIR/DoReMi
    * family reasons about (how surprised source b's language model is
    * by source a's text): near 0 = same domain; large and asymmetric =
    * a niche source inside a general one. Laplace-smoothed on the
    * reference (b) side so missing tokens stay finite.
    *
    * Integer discipline: every log runs through the q140 milli-bit
    * device on RAW COUNTS via the sum identity
    * log(p/q) = log cnt_a + log(T_b+V) − log(cnt_b+1) − log T_a — no
    * argument ever exceeds a raw count/total (the log2m 2⁵⁹ bound
    * holds at any corpus size, where pricing the PRODUCTS would
    * overflow it), each term weights by cnt_a, the sum runs in
    * decimal(38,0)/HUGEINT, and the final div T_a lands exact integer
    * milli-bits both engines share. Quantization is the mantissa floor
    * to a 1/16 cell (≤ ~87 mb per term, worst in the first cell) —
    * deterministic and identical cross-engine.
    *
    * Scale posture: one tokenized scan collapses to the per-(source,
    * hashed-token) histogram (PlanCache'd — totals, vocab and both
    * join sides read it); the pair fan-out joins histogram rows on the
    * token hash (vocabulary-sized × |sources|, never corpus-sized);
    * output is |sources|·(|sources|−1) rows. */
  def domainShiftKl(spark: SparkSession, dir: String): DataFrame = {
    val hist = graft.PlanCache.cached(spark, s"textanalysis.srcHist:$dir") {
      Tables.documents(spark, dir)
        .select(col("source"), explode(TextHash.tokens(col("text"))).as("tok"))
        .select(col("source"), TextHash.h1(col("tok")).as("h"))
        .groupBy(col("source"), col("h")).agg(count(lit(1)).as("cnt"))
    }
    val totals = hist.groupBy(col("source")).agg(sum(col("cnt")).as("t"))
    val vocab = hist.select(col("h")).distinct().agg(count(lit(1)).as("v"))
    val sources = hist.select(col("source").as("source_b")).distinct()
    // KL sums over ALL of a's tokens — including those b has never seen
    // (cnt_b = 0, Laplace floor): fan a's histogram out over the
    // broadcast |sources|-row dimension, then LEFT join b's counts
    val a = hist.select(col("source").as("source_a"), col("h"),
      col("cnt").as("ca"))
    val b = hist.select(col("source").as("source_b"), col("h"),
      col("cnt").as("cb"))
    a.crossJoin(broadcast(sources))
      .filter(col("source_a") =!= col("source_b"))
      .join(b, Seq("source_b", "h"), "left")
      .withColumn("cb", coalesce(col("cb"), lit(0L)))
      .join(broadcast(totals.select(col("source").as("source_a"),
        col("t").as("ta"))), Seq("source_a"))
      .join(broadcast(totals.select(col("source").as("source_b"),
        col("t").as("tb"))), Seq("source_b"))
      .crossJoin(broadcast(vocab))
      .select(col("source_a"), col("source_b"), col("ta"),
        expr(s"cast(ca as decimal(38,0)) * (${log2MilliSpark("ca")} + " +
          s"${log2MilliSpark("tb + v")} - ${log2MilliSpark("cb + 1")} - " +
          s"${log2MilliSpark("ta")})").as("term"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_terms"),
        expr("cast(sum(term) div max(ta) as bigint)").as("kl_mb"))
      .orderBy(col("source_a"), col("source_b"))
  }

  def domainShiftKlSql: String =
    s"""WITH hist AS (
       |  SELECT source, ${TextHash.h1Sql("tok")} AS h, count(*)::BIGINT AS cnt
       |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS tok
       |        FROM documents)
       |  GROUP BY 1, 2
       |), totals AS (
       |  SELECT source, sum(cnt)::BIGINT AS t FROM hist GROUP BY source
       |), vocab AS (
       |  SELECT count(DISTINCT h)::BIGINT AS v FROM hist
       |), srcs AS (
       |  SELECT DISTINCT source AS source_b FROM hist
       |), terms AS (
       |  SELECT a.source AS source_a, s.source_b, ta.t AS ta,
       |    a.cnt::HUGEINT * ((${log2MilliDuck("a.cnt")}) +
       |      (${log2MilliDuck("tb.t + vocab.v")}) -
       |      (${log2MilliDuck("coalesce(b.cnt, 0) + 1")}) -
       |      (${log2MilliDuck("ta.t")})) AS term
       |  FROM hist a
       |  CROSS JOIN srcs s
       |  LEFT JOIN hist b ON b.h = a.h AND b.source = s.source_b
       |  JOIN totals ta ON ta.source = a.source
       |  JOIN totals tb ON tb.source = s.source_b
       |  CROSS JOIN vocab
       |  WHERE a.source <> s.source_b
       |)
       |SELECT source_a, source_b, count(*)::BIGINT AS n_terms,
       |  (sum(term) // max(ta))::BIGINT AS kl_mb
       |FROM terms GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  // ---- X93: length-distribution drift audit (q167) --------------------------

  /** X93 length-drift audit (q167): per source, the exact two-sample
    * Kolmogorov–Smirnov statistic between the source's token-length
    * distribution and the whole corpus's, in basis points, plus the
    * length where the gap peaks. The LENGTH lens next to q151's
    * vocabulary KL: a source whose documents are systematically shorter
    * (previews, snippets) or longer (aggregator pages) than the corpus
    * skews packing (q71/q88) and length-bucketed batching (q98) even
    * when its vocabulary looks normal. D = max over the length grid of
    * |CDF_source − CDF_corpus|, each CDF an exact integer share
    * (cum·10000 div n) — no float crosses engines; ties on D break to
    * the smallest length in both engines.
    *
    * Scale posture: the corpus collapses FIRST to (source, len) and
    * (len) histograms with map-side combine — the length grid is
    * content-bounded (distinct lengths, not documents); the cumulative
    * folds are broadcast triangle theta-joins over grid rows (the
    * q108/q147 device — no global-order window); the final argmax is a
    * per-source window over ≤ grid rows. */
  def lengthDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lens = Tables.documents(spark, dir)
      .select(col("source"),
        size(TextHash.tokens(col("text"))).cast("long").as("len"))
    val srcH = lens.groupBy(col("source"), col("len"))
      .agg(count(lit(1)).as("c"))
    val corpH = lens.groupBy(col("len")).agg(count(lit(1)).as("c"))
    // corpus CDF over the grid via the broadcast triangle fold
    val g1 = corpH.select(col("len").as("glen"))
    val corpCum = g1.join(broadcast(corpH), col("len") <= col("glen"))
      .groupBy(col("glen")).agg(sum(col("c")).as("cum_c"))
    val nTotal = lens.count()
    // per-source CDF evaluated on the SAME grid (every corpus length)
    val srcTotals = srcH.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val h = srcH.select(col("source").as("hsrc"), col("len").as("hlen"),
      col("c"))
    val srcCum = g1.crossJoin(broadcast(srcTotals.select(col("source"))))
      .join(broadcast(h),
        col("hsrc") === col("source") && col("hlen") <= col("glen"), "left")
      .groupBy(col("source"), col("glen"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("cum_s"))
    val d = srcCum.join(broadcast(corpCum), Seq("glen"))
      .join(broadcast(srcTotals), Seq("source"))
      .select(col("source"), col("glen").as("len"), col("n_s"),
        expr(s"abs(cum_s * 10000 div n_s - cum_c * 10000 div $nTotal)")
          .as("gap_bp"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("gap_bp").desc, col("len").asc)
    d.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("source"), col("n_s").as("n_docs"),
        col("gap_bp").as("ks_bp"), col("len").as("ks_len"))
      .orderBy(col("source"))
  }

  def lengthDriftSql: String =
    """WITH lens AS (
      |  SELECT source, len(string_split(lower(text), ' '))::BIGINT AS len
      |  FROM documents
      |), src_h AS (
      |  SELECT source, len, count(*)::BIGINT AS c FROM lens GROUP BY 1, 2
      |), corp_h AS (
      |  SELECT len, count(*)::BIGINT AS c FROM lens GROUP BY 1
      |), grid AS (
      |  SELECT len AS glen FROM corp_h
      |), corp_cum AS (
      |  SELECT g.glen, sum(h.c)::BIGINT AS cum_c
      |  FROM grid g JOIN corp_h h ON h.len <= g.glen
      |  GROUP BY g.glen
      |), n AS (
      |  SELECT count(*)::BIGINT AS n_total FROM lens
      |), src_totals AS (
      |  SELECT source, sum(c)::BIGINT AS n_s FROM src_h GROUP BY source
      |), src_cum AS (
      |  SELECT t.source, g.glen, coalesce(sum(h.c), 0)::BIGINT AS cum_s
      |  FROM grid g CROSS JOIN src_totals t
      |  LEFT JOIN src_h h ON h.source = t.source AND h.len <= g.glen
      |  GROUP BY t.source, g.glen
      |), d AS (
      |  SELECT s.source, s.glen AS len, t.n_s,
      |    abs(s.cum_s * 10000 // t.n_s - c.cum_c * 10000 // n.n_total)
      |      AS gap_bp
      |  FROM src_cum s
      |  JOIN corp_cum c ON c.glen = s.glen
      |  JOIN src_totals t ON t.source = s.source
      |  CROSS JOIN n
      |), r AS (
      |  SELECT source, len, n_s, gap_bp,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY gap_bp DESC, len ASC) AS rn
      |  FROM d
      |)
      |SELECT source, n_s AS n_docs, gap_bp::BIGINT AS ks_bp, len AS ks_len
      |FROM r WHERE rn = 1 ORDER BY source""".stripMargin

  // ---- X97: vocabulary lifecycle diff (q171) ---------------------------------

  /** X97 vocab lifecycle diff (q171): the q113 snapshot diff at the
    * VOCABULARY level (old = even doc_id, new = odd — the shared q107/
    * q113 split device): per language — token types present in both
    * snapshots, minted by the new one, retired from the old, and the
    * occurrence-mass share each churn class carries on its own side in
    * basis points. q113 says how many DOCUMENTS turned over; this says
    * whether the refresh changed the LANGUAGE — a refresh can replace
    * half the docs while minting near-zero vocabulary (re-crawl churn)
    * or keep every doc yet shift mass onto new terms (topic drift), and
    * the two need different mixture reactions (q86/q106).
    *
    * Scale posture: ONE tokenized scan collapses map-side to the
    * (lang, 60-bit hash) histogram with per-side conditional counts
    * (the q151 rule — token strings never shuffle); all churn classes
    * and mass shares come from one vocabulary-sized rollup; zero-mass
    * guards via greatest(…, 1). */
  def vocabDiff(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), (col("doc_id") % 2 === 0).as("is_old"),
        explode(TextHash.tokens(col("text"))).as("tok"))
      .select(col("lang"), col("is_old"), TextHash.h1(col("tok")).as("h"))
      .groupBy(col("lang"), col("h"))
      .agg(sum(when(col("is_old"), 1L).otherwise(0L)).as("c_old"),
        sum(when(!col("is_old"), 1L).otherwise(0L)).as("c_new"))
      .groupBy(col("lang"))
      .agg(
        sum(when(col("c_old") > 0 && col("c_new") > 0, 1L).otherwise(0L))
          .as("n_both"),
        sum(when(col("c_old") === 0, 1L).otherwise(0L)).as("n_minted"),
        sum(when(col("c_new") === 0, 1L).otherwise(0L)).as("n_retired"),
        sum(when(col("c_old") === 0, col("c_new")).otherwise(0L))
          .as("minted_mass"),
        sum(col("c_new")).as("new_mass"),
        sum(when(col("c_new") === 0, col("c_old")).otherwise(0L))
          .as("retired_mass"),
        sum(col("c_old")).as("old_mass"))
      .select(col("lang"), col("n_both"), col("n_minted"), col("n_retired"),
        expr("minted_mass * 10000 div greatest(new_mass, 1)")
          .as("minted_share_bp"),
        expr("retired_mass * 10000 div greatest(old_mass, 1)")
          .as("retired_share_bp"))
      .orderBy(col("lang"))

  def vocabDiffSql: String =
    s"""WITH h AS (
       |  SELECT lang, (doc_id % 2 = 0) AS is_old,
       |    ${TextHash.h1Sql("tok")} AS h
       |  FROM (SELECT lang, doc_id, unnest(string_split(lower(text), ' '))
       |          AS tok
       |        FROM documents)
       |), g AS (
       |  SELECT lang, h,
       |    sum(CASE WHEN is_old THEN 1 ELSE 0 END)::BIGINT AS c_old,
       |    sum(CASE WHEN is_old THEN 0 ELSE 1 END)::BIGINT AS c_new
       |  FROM h GROUP BY 1, 2
       |)
       |SELECT lang,
       |  sum(CASE WHEN c_old > 0 AND c_new > 0 THEN 1 ELSE 0 END)::BIGINT
       |    AS n_both,
       |  sum(CASE WHEN c_old = 0 THEN 1 ELSE 0 END)::BIGINT AS n_minted,
       |  sum(CASE WHEN c_new = 0 THEN 1 ELSE 0 END)::BIGINT AS n_retired,
       |  (sum(CASE WHEN c_old = 0 THEN c_new ELSE 0 END)::BIGINT * 10000
       |    // greatest(sum(c_new), 1))::BIGINT AS minted_share_bp,
       |  (sum(CASE WHEN c_new = 0 THEN c_old ELSE 0 END)::BIGINT * 10000
       |    // greatest(sum(c_old), 1))::BIGINT AS retired_share_bp
       |FROM g GROUP BY lang ORDER BY lang""".stripMargin

  // ---- X96: moving-average TTR diversity (q170) ------------------------------

  /** Window width for [[mattrDiversity]] — below the corpus's typical
    * doc length so most docs carry at least one window. */
  val MattrW = 25

  /** X96 MATTR diversity (q170): per source — eligible docs, the mean
    * moving-average type-token ratio at window [[MattrW]] in basis
    * points, and the mean PLAIN TTR beside it. Plain TTR decays with
    * document length by Heaps' law, so a long-document source reads as
    * "less diverse" than a snippet farm even when their language is
    * identical; MATTR holds the window fixed (public: Covington &
    * McFall 2010, "Cutting the Gordian knot: the moving-average
    * type-token ratio") and the ttr−mattr gap column IS the length bias
    * being removed. Docs shorter than the window have no MATTR and are
    * excluded.
    *
    * Scale posture: MATTR rides the `mattr_bp` codegen kernel — ONE
    * O(n) pass per row with an incremental window count-map (no
    * explode, no per-window recount, no shuffle before the |sources|-
    * row rollup); all shares are exact BIGINT basis points. */
  def mattrDiversity(spark: SparkSession, dir: String,
                     w: Int = MattrW): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("source"),
        graft.functions.HashExpressions.mattrBp(col("text"), w).as("mattr_bp"),
        expr("cast(size(array_distinct(split(lower(text), ' '))) as bigint) " +
          "* 10000 div cast(size(split(lower(text), ' ')) as bigint)")
          .as("ttr_bp"))
      .filter(col("mattr_bp") >= 0)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("mattr_bp")).as("sm"), sum(col("ttr_bp")).as("st"))
      .select(col("source"), col("n_docs"),
        expr("sm div n_docs").as("avg_mattr_bp"),
        expr("st div n_docs").as("avg_ttr_bp"))
      .orderBy(col("source"))
  }

  def mattrDiversitySql(w: Int = MattrW): String =
    s"""WITH t AS (
       |  SELECT source, string_split(lower(text), ' ') AS toks FROM documents
       |), d AS (
       |  SELECT source,
       |    CASE WHEN len(toks) >= $w THEN
       |      (list_sum([len(list_distinct(toks[i:i+${w - 1}]))
       |         for i in range(1, len(toks) - ${w - 2})])::BIGINT * 10000)
       |        // ((len(toks) - ${w - 1})::BIGINT * $w)
       |    ELSE -1 END AS mattr_bp,
       |    (len(list_distinct(toks))::BIGINT * 10000)
       |      // len(toks)::BIGINT AS ttr_bp
       |  FROM t
       |)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |  (sum(mattr_bp)::BIGINT // count(*))::BIGINT AS avg_mattr_bp,
       |  (sum(ttr_bp)::BIGINT // count(*))::BIGINT AS avg_ttr_bp
       |FROM d WHERE mattr_bp >= 0
       |GROUP BY source ORDER BY source""".stripMargin

  // ---- X94: token-mass Gini concentration (q168) -----------------------------

  /** X94 token-mass Gini (q168): per language — document count, token
    * mass, and the exact Gini coefficient of per-document token mass in
    * basis points. The inequality line of a corpus datasheet: Gini near
    * 0 means tokens spread evenly across documents, near 10000 means a
    * few giant documents carry the corpus — which decides whether
    * doc-level sampling (q75) and doc-level dedup decisions move token
    * mass proportionally or not (the q123 effective-size story at the
    * allocation level). Computed EXACTLY in integers via the rank-sum
    * identity G = (2·S − (n+1)·T) / (n·T) with S = Σ rankᵢ·xᵢ over the
    * ascending sort — tie blocks contribute c·B + c(c+1)/2 rank mass in
    * closed form, so the histogram never expands back to documents.
    *
    * Scale posture: the corpus collapses FIRST to the (lang, len)
    * histogram with map-side combine (grid = distinct lengths,
    * content-bounded); the cumulative-below fold is the broadcast
    * triangle theta-join (q108/q147 device); S and T ride
    * decimal(38,0)/HUGEINT (rank·len products overflow BIGINT at corpus
    * scale). */
  def tokenGini(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.documents(spark, dir)
      .select(col("lang"),
        size(TextHash.tokens(col("text"))).cast("long").as("len"))
      .groupBy(col("lang"), col("len")).agg(count(lit(1)).as("c"))
    val a = h.select(col("lang"), col("len"), col("c"))
    val b = h.select(col("lang").as("blang"), col("len").as("blen"),
      col("c").as("bc"))
    // B = docs strictly below each length block (triangle fold)
    val below = a.join(broadcast(b),
        col("blang") === col("lang") && col("blen") < col("len"), "left")
      .groupBy(col("lang"), col("len"), col("c"))
      .agg(coalesce(sum(col("bc")), lit(0L)).as("bl"))
    below
      .select(col("lang"), col("c"), col("len"),
        // rank mass of the tie block: c·B + c(c+1)/2, times len
        expr("cast(len as decimal(38,0)) * " +
          "(c * bl + c * (c + 1) div 2)").as("s_term"),
        expr("cast(len as decimal(38,0)) * c").as("t_term"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_docs"),
        sum(col("s_term")).as("s"), sum(col("t_term")).as("t"))
      .select(col("lang"), col("n_docs"),
        col("t").cast("long").as("total_tokens"),
        expr("cast((2 * s - (n_docs + 1) * t) * 10000 div (n_docs * t) " +
          "as bigint)").as("gini_bp"))
      .orderBy(col("lang"))
  }

  def tokenGiniSql: String =
    """WITH h AS (
      |  SELECT lang, len(string_split(lower(text), ' '))::BIGINT AS len,
      |    count(*)::BIGINT AS c
      |  FROM documents GROUP BY 1, 2
      |), below AS (
      |  SELECT a.lang, a.len, a.c, coalesce(sum(b.c), 0)::BIGINT AS bl
      |  FROM h a LEFT JOIN h b ON b.lang = a.lang AND b.len < a.len
      |  GROUP BY a.lang, a.len, a.c
      |), terms AS (
      |  SELECT lang, c,
      |    len::HUGEINT * (c * bl + c * (c + 1) // 2) AS s_term,
      |    len::HUGEINT * c AS t_term
      |  FROM below
      |), agg AS (
      |  SELECT lang, sum(c)::BIGINT AS n_docs,
      |    sum(s_term) AS s, sum(t_term) AS t
      |  FROM terms GROUP BY lang
      |)
      |SELECT lang, n_docs, t::BIGINT AS total_tokens,
      |  ((2 * s - (n_docs + 1) * t) * 10000 // (n_docs * t))::BIGINT
      |    AS gini_bp
      |FROM agg ORDER BY lang""".stripMargin

  // ---- X89: per-source vocabulary entropy (q163) ----------------------------

  /** X89 vocabulary entropy (q163): per source — distinct token types,
    * token mass, the Shannon entropy of the unigram distribution in
    * EXACT MILLI-BITS (H = Σ cᵢ·(log2 T − log2 cᵢ) / T via the q140
    * integer log2 device — no float log ever crosses engines), and the
    * entropy normalized by its log2(n_types) maximum in basis points.
    * The information-density companion to q136's type-token ratio and
    * q148's Zipf slope: TTR counts types, entropy weighs how evenly the
    * mass uses them — a source can have a huge vocabulary and still
    * spend 95% of its tokens on 50 words (low entropy, low norm_bp),
    * which is what a unigram-level "diversity" mixture policy actually
    * cares about. 2^(H) is the unigram perplexity of the source.
    *
    * Scale posture: everything reads the PlanCache'd q151 per-(source,
    * 60-bit hash) histogram — vocabulary-sized, the corpus is never
    * re-scanned; totals broadcast back onto the histogram; the weighted
    * term sum rides decimal(38,0)/HUGEINT (the q151 rule: log arguments
    * are raw counts, 2⁵⁹-safe, never products). */
  def vocabEntropy(spark: SparkSession, dir: String): DataFrame = {
    val hist = graft.PlanCache.cached(spark, s"textanalysis.srcHist:$dir") {
      Tables.documents(spark, dir)
        .select(col("source"), explode(TextHash.tokens(col("text"))).as("tok"))
        .select(col("source"), TextHash.h1(col("tok")).as("h"))
        .groupBy(col("source"), col("h")).agg(count(lit(1)).as("cnt"))
    }
    val totals = hist.groupBy(col("source"))
      .agg(sum(col("cnt")).as("t"), count(lit(1)).as("n_types"))
    hist.join(broadcast(totals), Seq("source"))
      .select(col("source"), col("t"), col("n_types"),
        expr(s"cast(cnt as decimal(38,0)) * " +
          s"((${log2MilliSpark("t")}) - (${log2MilliSpark("cnt")}))").as("term"))
      .groupBy(col("source"))
      .agg(max(col("n_types")).as("n_types"), max(col("t")).as("n_tokens"),
        expr("cast(sum(term) div max(t) as bigint)").as("entropy_mb"))
      .withColumn("norm_bp",
        when(col("n_types") > 1,
          expr(s"entropy_mb * 10000 div (${log2MilliSpark("n_types")})"))
          .otherwise(lit(0L)))
      .orderBy(col("source"))
  }

  def vocabEntropySql: String =
    s"""WITH hist AS (
       |  SELECT source, ${TextHash.h1Sql("tok")} AS h, count(*)::BIGINT AS cnt
       |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS tok
       |        FROM documents)
       |  GROUP BY 1, 2
       |), totals AS (
       |  SELECT source, sum(cnt)::BIGINT AS t, count(*)::BIGINT AS n_types
       |  FROM hist GROUP BY source
       |), terms AS (
       |  SELECT hist.source, t, n_types,
       |    cnt::HUGEINT * ((${log2MilliDuck("t")}) - (${log2MilliDuck("cnt")}))
       |      AS term
       |  FROM hist JOIN totals ON hist.source = totals.source
       |), e AS (
       |  SELECT source, max(n_types)::BIGINT AS n_types,
       |    max(t)::BIGINT AS n_tokens,
       |    (sum(term) // max(t))::BIGINT AS entropy_mb
       |  FROM terms GROUP BY source
       |)
       |SELECT source, n_types, n_tokens, entropy_mb,
       |  CASE WHEN n_types > 1
       |       THEN (entropy_mb * 10000 // (${log2MilliDuck("n_types")}))::BIGINT
       |       ELSE 0::BIGINT END AS norm_bp
       |FROM e ORDER BY source""".stripMargin

  // ---- X79: KMV distinct-sketch mergeability audit (q153) -----------------

  /** X79 KMV sketch audit (q153): the k-minimum-values distinct sketch
    * (Bar-Yossef et al. 2002; Beyer et al., SIGMOD 2007) priced against
    * exact truth — per source AND for the all-source union — over the
    * bigram-phrase universe. KMV is THE mergeable distinct sketch for a
    * 100 TB federation: each shard keeps only its k smallest 60-bit
    * content hashes, a union's sketch is the k smallest of the
    * concatenated sketches (no rescan — [[TextAnalysisSpec]] proves
    * merged-from-sketches ≡ computed-from-data), and the estimate is
    * (k−1)·2⁶⁰ div h₍ₖ₎. The audit ships, per scope, the exact distinct
    * count, the sketch fill, the k-th minimum hash, the KMV estimate and
    * its signed-magnitude error in basis points — the table that decides
    * whether a k=64 sketch is accurate enough to replace an exact
    * distinct pass in the q129/q149-style cross-source audits.
    *
    * Integer discipline: h1 is uniform on [0, 2⁶⁰); the estimator is one
    * decimal(38,0)/HUGEINT product (63·2⁶⁰ overflows BIGINT) followed by
    * one integer division — both engines land the identical BIGINT. A
    * scope with fewer than k distinct values holds its whole universe, so
    * the estimate degenerates to the exact count (same CASE both sides).
    *
    * Scale posture: one tokenized scan collapses to the PlanCache'd
    * distinct (source, hash) phrase table (vocabulary-sized — phrase
    * strings never shuffle, the q73/q87 rule); per-scope sketches are the
    * bounded-heap [[graft.functions.MinKDocs]] two-phase aggregate (each
    * map task keeps k rows, the shuffle carries ~partitions·k rows, no
    * scope ever sorts); the union scope re-reads the cached table, not
    * the corpus. */
  def kmvSketch(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val hs = graft.PlanCache.cached(spark, s"textanalysis.kmvBigramH:$dir") {
      Tables.documents(spark, dir)
        .select(col("source"),
          explode(graft.functions.HashExpressions.taggedGrams(col("text")))
            .as("g"))
        .filter(col("g").startsWith("b:"))
        .select(col("source"),
          TextHash.h1(col("g").substr(lit(3), length(col("g")))).as("h"))
        .distinct()
    }
    val tagged = hs.select(col("source").as("scope"), col("h"))
      .unionByName(
        hs.select(lit("union").as("scope"), col("h")).distinct())
    val minK = udaf(new graft.functions.MinKDocs(k))
    tagged.groupBy(col("scope"))
      .agg(count(lit(1)).as("n_exact"), minK(col("h"), col("h")).as("picks"))
      .select(col("scope"), col("n_exact"),
        size(col("picks")).cast("long").as("n_sketch"),
        expr("array_max(transform(picks, p -> p.h))").as("kth_h"))
      .select(col("scope"), col("n_exact"), col("n_sketch"), col("kth_h"),
        expr(s"case when n_sketch < $k then n_exact else " +
          s"cast(cast(${k - 1} as decimal(38,0)) * ${1L << 60} " +
          "div greatest(kth_h, 1) as bigint) end").as("est_distinct"))
      .withColumn("err_bp",
        expr("cast(cast(abs(est_distinct - n_exact) as decimal(38,0)) " +
          "* 10000 div n_exact as bigint)"))
      .orderBy(col("scope"))
  }

  def kmvSketchSql(k: Int = 64): String =
    s"""WITH base AS (
       |  SELECT source, string_split(lower(text), ' ') AS t FROM documents
       |), hs AS (
       |  SELECT DISTINCT source, ${TextHash.h1Sql("bg")} AS h
       |  FROM (SELECT source, unnest(list_transform(range(1, len(t)),
       |          i -> t[i] || ' ' || t[i+1])) AS bg FROM base)
       |), tagged AS (
       |  SELECT source AS scope, h FROM hs
       |  UNION ALL
       |  SELECT DISTINCT 'union' AS scope, h FROM hs
       |), r AS (
       |  SELECT scope, h,
       |    row_number() OVER (PARTITION BY scope ORDER BY h) AS rn,
       |    count(*) OVER (PARTITION BY scope) AS n_exact
       |  FROM tagged
       |), agg AS (
       |  SELECT scope, max(n_exact)::BIGINT AS n_exact,
       |    count(CASE WHEN rn <= $k THEN 1 END)::BIGINT AS n_sketch,
       |    max(CASE WHEN rn <= $k THEN h END)::BIGINT AS kth_h
       |  FROM r GROUP BY scope
       |), est AS (
       |  SELECT scope, n_exact, n_sketch, kth_h,
       |    CASE WHEN n_sketch < $k THEN n_exact
       |         ELSE ((${k - 1}::HUGEINT * ${1L << 60}) //
       |               greatest(kth_h, 1))::BIGINT END AS est_distinct
       |  FROM agg
       |)
       |SELECT scope, n_exact, n_sketch, kth_h, est_distinct,
       |  ((abs(est_distinct - n_exact)::HUGEINT * 10000)
       |    // n_exact)::BIGINT AS err_bp
       |FROM est ORDER BY scope""".stripMargin

  // ---- X168: HyperLogLog mergeability audit (q242) -------------------------

  /** Per-source HyperLogLog register table over the q153 bigram-hash
    * seam: register index j = h mod 64 (low 6 bits), rank source
    * w = h div 64 (the remaining 54 bits), register value
    * rho(w) = trailing-zero count of w plus one (55 when w = 0 — the
    * all-zero suffix convention), register cell = max rho per (source,
    * j). Only HIT registers are stored; [[hllSketch]] fills the m = 64
    * grid. rho rides `length(bin(w & -w))` — the isolated lowest set
    * bit's bit-length IS trailing-zeros + 1, and `bin` is minimal-width
    * in both engines, so the cell table is engine-exact with no float.
    * (Flajolet's HLL analysis needs only that registers are i.i.d.
    * Geometric(1/2) maxima; the trailing-zero rank is the same
    * distribution as the leading-zero one on the uniform 54-bit
    * suffix.) */
  def hllRegisters(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(spark, s"textanalysis.hllRegisters:$dir") {
      graft.PlanCache.cached(spark, s"textanalysis.kmvBigramH:$dir") {
        Tables.documents(spark, dir)
          .select(col("source"),
            explode(graft.functions.HashExpressions.taggedGrams(col("text")))
              .as("g"))
          .filter(col("g").startsWith("b:"))
          .select(col("source"),
            TextHash.h1(col("g").substr(lit(3), length(col("g")))).as("h"))
          .distinct()
      }
        .select(col("source"), (col("h") % 64).as("j"),
          expr("h div 64").as("w"))
        .groupBy(col("source"), col("j"))
        .agg(max(expr("CASE WHEN w = 0 THEN 55L ELSE " +
          "cast(length(bin(w & -w)) as bigint) END")).as("m"))
    }

  /** α₆₄ = 0.7213/(1 + 1.079/64) in parts-per-million (Flajolet,
    * Fusy, Gandouet & Meunier 2007) — fixed integer so both engines
    * walk the identical estimator arithmetic. */
  private val HllAlphaPpm: Long = 709341L

  /** X168 HLL mergeability audit (q242): the industry-standard distinct
    * sketch joins the mergeable suite (KMV q153, DDSketch-style
    * quantiles q159, count-min q109). Per scope (each source + the
    * union), the m = 64 register table folds to the HLL estimate in
    * pure integer arithmetic — Σ 2^(−Mⱼ) is carried as the fixed-point
    * Σ 2^(55−Mⱼ) (≤ 64·2⁵⁵ < 2⁶³), the raw estimate is
    * α_ppm·m²·2⁵⁵ div S div 10⁶ on a decimal(38,0)/HUGEINT guard, and
    * the small-range branch (V zero registers > 0 and raw ≤ 5m/2) is
    * linear counting m·ln(m/V) via the milli-bit log2 device
    * (ln 2 = 693147 ppb). est vs exact error lands in basis points —
    * the table that certifies shipped registers can replace exact
    * distinct passes. The union row is computed FROM THE PER-SOURCE
    * REGISTER TABLES (register-wise max — the HLL union law), never by
    * rescanning hashes: the operator itself is the mergeability
    * demonstration, and the spec pins merge ≡ direct full-data sketch.
    * Spark's approx_count_distinct (q34) stays the corroboration leg,
    * never the oracle (the q132 rule).
    *
    * Scale posture: registers ride the PlanCache'd (source, h) bigram
    * seam (shared with q153/q158) and collapse map-side to ≤ 64 cells
    * per source; everything after is folds over the |scopes|·64 grid —
    * broadcast-tiny crosses; the exact leg is the same distinct counts
    * q153 already pays. Sketch state is 64 longs per source at ANY
    * corpus scale — the whole point. */
  def hllSketch(spark: SparkSession, dir: String): DataFrame = {
    val regs = hllRegisters(spark, dir)
    val scoped = regs.select(col("source").as("scope"), col("j"), col("m"))
      .unionByName(
        regs.groupBy(col("j")).agg(max(col("m")).as("m"))
          .select(lit("union").as("scope"), col("j"), col("m")))
    val grid = scoped.select(col("scope")).distinct()
      .crossJoin(graft.PlanAudit.Bounded.broadcastBounded(
        "q242_hll_mergeability.register_grid",
        spark.range(64).select(col("id").as("j")), 64L))
    val sums = grid
      .join(scoped, Seq("scope", "j"), "left")
      .select(col("scope"), coalesce(col("m"), lit(0L)).as("m"))
      .groupBy(col("scope"))
      .agg(
        sum(expr("shiftleft(1L, 55 - cast(m as int))")).as("s_fp"),
        count(when(col("m") === 0L, lit(1))).as("v_zero"))
    val hs = graft.PlanCache.cached(spark, s"textanalysis.kmvBigramH:$dir") {
      Tables.documents(spark, dir)
        .select(col("source"),
          explode(graft.functions.HashExpressions.taggedGrams(col("text")))
            .as("g"))
        .filter(col("g").startsWith("b:"))
        .select(col("source"),
          TextHash.h1(col("g").substr(lit(3), length(col("g")))).as("h"))
        .distinct()
    }
    val exact = hs.groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
      .select(col("source").as("scope"), col("n_exact"))
      .unionByName(
        hs.agg(countDistinct(col("h")).as("n_exact"))
          .select(lit("union").as("scope"), col("n_exact")))
    sums.join(exact, Seq("scope"))
      .select(col("scope"), col("n_exact"), col("v_zero"),
        expr(s"cast(cast(${HllAlphaPpm * 4096L} as decimal(38,0)) " +
          s"* ${1L << 55} div s_fp div 1000000 as bigint)").as("raw_est"))
      .select(col("scope"), col("n_exact"), col("v_zero"),
        expr("CASE WHEN v_zero > 0 AND raw_est <= 160 THEN " +
          s"64L * (6000L - (${log2MilliSpark("v_zero")})) * 693147L " +
          "div 1000000000L ELSE raw_est END").as("est_distinct"))
      .withColumn("err_bp",
        expr("cast(cast(abs(est_distinct - n_exact) as decimal(38,0)) " +
          "* 10000 div greatest(n_exact, 1) as bigint)"))
      .orderBy(col("scope"))
  }

  def hllSketchSql: String =
    s"""WITH base AS (
       |  SELECT source, string_split(lower(text), ' ') AS t FROM documents
       |), hs AS (
       |  SELECT DISTINCT source, ${TextHash.h1Sql("bg")} AS h
       |  FROM (SELECT source, unnest(list_transform(range(1, len(t)),
       |          i -> t[i] || ' ' || t[i+1])) AS bg FROM base)
       |), regs AS (
       |  SELECT source, h % 64 AS j,
       |    max(CASE WHEN h // 64 = 0 THEN 55
       |        ELSE length(bin((h // 64) & (-(h // 64))))::BIGINT END) AS m
       |  FROM hs GROUP BY 1, 2
       |), scoped AS (
       |  SELECT source AS scope, j, m FROM regs
       |  UNION ALL
       |  SELECT 'union' AS scope, j, max(m) AS m FROM regs GROUP BY 1, 2
       |), grid AS (
       |  SELECT s.scope, g.j
       |  FROM (SELECT DISTINCT scope FROM scoped) s
       |  CROSS JOIN (SELECT unnest(range(0, 64))::BIGINT AS j) g
       |), sums AS (
       |  SELECT grid.scope,
       |    sum(1::BIGINT << (55 - coalesce(m, 0))::INT)::BIGINT AS s_fp,
       |    count(CASE WHEN coalesce(m, 0) = 0 THEN 1 END)::BIGINT AS v_zero
       |  FROM grid LEFT JOIN scoped
       |    ON grid.scope = scoped.scope AND grid.j = scoped.j
       |  GROUP BY 1
       |), ex AS (
       |  SELECT source AS scope, count(*)::BIGINT AS n_exact
       |  FROM hs GROUP BY 1
       |  UNION ALL
       |  SELECT 'union', count(DISTINCT h)::BIGINT FROM hs
       |), est AS (
       |  SELECT sums.scope, n_exact, v_zero,
       |    (($HllAlphaPpm::HUGEINT * 4096 * ${1L << 55})
       |      // s_fp // 1000000)::BIGINT AS raw_est
       |  FROM sums JOIN ex ON sums.scope = ex.scope
       |)
       |SELECT scope, n_exact, v_zero,
       |  CASE WHEN v_zero > 0 AND raw_est <= 160 THEN
       |    64 * (6000 - (${log2MilliDuck("v_zero")})) * 693147
       |      // 1000000000
       |  ELSE raw_est END AS est_distinct,
       |  ((abs((CASE WHEN v_zero > 0 AND raw_est <= 160 THEN
       |      64 * (6000 - (${log2MilliDuck("v_zero")})) * 693147
       |        // 1000000000
       |    ELSE raw_est END) - n_exact)::HUGEINT * 10000)
       |    // greatest(n_exact, 1))::BIGINT AS err_bp
       |FROM est ORDER BY scope""".stripMargin

  // ---- X84: sketch-estimated source-overlap matrix (q158) ------------------

  /** X84 sketch overlap matrix (q158): pairwise source overlap estimated
    * ENTIRELY from the per-source KMV sketches of q153 — the federation
    * algebra that motivates keeping sketches at all. The k smallest
    * hashes of A∪B are always a subset of sketch(A) ∪ sketch(B) (any
    * union-minimum is a minimum of its own side), so est|A∪B| needs no
    * rescan: merge the two k-value sketches, re-take the k smallest,
    * apply the (k−1)·2⁶⁰ div h₍ₖ₎ estimator. Intersection follows by
    * inclusion–exclusion (est|A|+est|B|−est|A∪B|, reported signed — the
    * estimator CAN go slightly negative on disjoint sources) and Jaccard
    * in basis points from the clamped intersection. Each estimated
    * column sits next to its exact twin (hash-join truth) plus the
    * absolute Jaccard error in bp — the table that decides whether
    * shipped sketches can replace the exact q129/q149-style cross-source
    * passes. When BOTH sides' universes are smaller than k the merged
    * sketch IS the exact union set and the estimate degenerates to exact
    * (same CASE both engines).
    *
    * Scale posture: per-source sketches are the q153 bounded-heap
    * aggregate over the PlanCache'd (source, hash) phrase table (shared
    * cache — computed once per session); ALL pairwise algebra is array
    * math over the |sources|-row sketch table (k·|sources| longs,
    * driver-scale), so the |sources|² fan-out is an audited
    * broadcast-tiny cross; only the exact-truth leg touches the
    * vocabulary-sized table (one self-equi-join on the 60-bit hash).
    * Integer discipline: the estimator product rides decimal(38,0)/
    * HUGEINT (63·2⁶⁰ overflows BIGINT); everything else is BIGINT. */
  def sketchOverlap(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val hs = graft.PlanCache.cached(spark, s"textanalysis.kmvBigramH:$dir") {
      Tables.documents(spark, dir)
        .select(col("source"),
          explode(graft.functions.HashExpressions.taggedGrams(col("text")))
            .as("g"))
        .filter(col("g").startsWith("b:"))
        .select(col("source"),
          TextHash.h1(col("g").substr(lit(3), length(col("g")))).as("h"))
        .distinct()
    }
    val minK = udaf(new graft.functions.MinKDocs(k))
    val estCase = s"case when n_sketch < $k then n_exact else " +
      s"cast(cast(${k - 1} as decimal(38,0)) * ${1L << 60} " +
      "div greatest(kth_h, 1) as bigint) end"
    val perSrc = hs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_exact"), minK(col("h"), col("h")).as("picks"))
      .select(col("source"), col("n_exact"),
        size(col("picks")).cast("long").as("n_sketch"),
        expr("sort_array(transform(picks, p -> p.h))").as("harr"))
      .select(col("source"), col("n_exact"), col("n_sketch"), col("harr"),
        expr("coalesce(element_at(harr, -1), 0)").as("kth_h"))
      .select(col("source"), col("n_exact"), col("n_sketch"), col("harr"),
        expr(estCase).as("est"))
    val a = perSrc.select(col("source").as("source_a"), col("n_exact").as("na"),
      col("n_sketch").as("ska"), col("harr").as("ha"), col("est").as("est_a"))
    val b = perSrc.select(col("source").as("source_b"), col("n_exact").as("nb"),
      col("n_sketch").as("skb"), col("harr").as("hb"), col("est").as("est_b"))
    val exactInter = hs.select(col("source").as("source_a"), col("h"))
      .join(hs.select(col("source").as("source_b"), col("h")), Seq("h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("exact_inter"))
    a.join(b, col("source_a") < col("source_b"))
      .withColumn("merged", expr("sort_array(array_distinct(concat(ha, hb)))"))
      .select(col("source_a"), col("source_b"), col("na"), col("nb"),
        col("est_a"), col("est_b"), col("ska"), col("skb"),
        size(col("merged")).cast("long").as("m"),
        expr(s"coalesce(element_at(merged, least($k, size(merged))), 0)")
          .as("kth_h"))
      .select(col("source_a"), col("source_b"), col("na"), col("nb"),
        col("est_a"), col("est_b"),
        expr(s"case when ska < $k and skb < $k then m else " +
          s"cast(cast(${k - 1} as decimal(38,0)) * ${1L << 60} " +
          "div greatest(kth_h, 1) as bigint) end").as("est_union"))
      .withColumn("est_inter", col("est_a") + col("est_b") - col("est_union"))
      .join(exactInter, Seq("source_a", "source_b"), "left")
      .na.fill(0L, Seq("exact_inter"))
      .select(col("source_a"), col("source_b"),
        (col("na") + col("nb") - col("exact_inter")).as("exact_union"),
        col("est_union"), col("exact_inter"), col("est_inter"),
        expr("exact_inter * 10000 div (na + nb - exact_inter)")
          .as("exact_j_bp"),
        expr("greatest(est_inter, 0) * 10000 div est_union").as("est_j_bp"))
      .withColumn("j_err_bp", abs(col("est_j_bp") - col("exact_j_bp")))
      .orderBy(col("source_a"), col("source_b"))
  }

  def sketchOverlapSql(k: Int = 64): String =
    s"""WITH base AS (
       |  SELECT source, string_split(lower(text), ' ') AS t FROM documents
       |), hs AS (
       |  SELECT DISTINCT source, ${TextHash.h1Sql("bg")} AS h
       |  FROM (SELECT source, unnest(list_transform(range(1, len(t)),
       |          i -> t[i] || ' ' || t[i+1])) AS bg FROM base)
       |), r AS (
       |  SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
       |    count(*) OVER (PARTITION BY source) AS n_exact
       |  FROM hs
       |), per AS (
       |  SELECT source, max(n_exact)::BIGINT AS n_exact,
       |    count(CASE WHEN rn <= $k THEN 1 END)::BIGINT AS n_sketch,
       |    list(h ORDER BY h) FILTER (WHERE rn <= $k) AS harr,
       |    max(CASE WHEN rn <= $k THEN h END)::BIGINT AS kth_h
       |  FROM r GROUP BY source
       |), est AS (
       |  SELECT source, n_exact, n_sketch, harr,
       |    CASE WHEN n_sketch < $k THEN n_exact
       |         ELSE ((${k - 1}::HUGEINT * ${1L << 60}) //
       |               greatest(kth_h, 1))::BIGINT END AS est
       |  FROM per
       |), ei AS (
       |  SELECT x.source AS source_a, y.source AS source_b,
       |    count(*)::BIGINT AS exact_inter
       |  FROM hs x JOIN hs y ON x.h = y.h AND x.source < y.source
       |  GROUP BY 1, 2
       |), pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    a.n_exact AS na, b.n_exact AS nb, a.est AS est_a, b.est AS est_b,
       |    a.n_sketch AS ska, b.n_sketch AS skb,
       |    list_sort(list_distinct(list_concat(a.harr, b.harr))) AS merged
       |  FROM est a JOIN est b ON a.source < b.source
       |), pu AS (
       |  SELECT source_a, source_b, na, nb, est_a, est_b,
       |    CASE WHEN ska < $k AND skb < $k THEN len(merged)::BIGINT
       |         ELSE ((${k - 1}::HUGEINT * ${1L << 60}) //
       |               greatest(merged[least($k, len(merged))], 1))::BIGINT
       |    END AS est_union
       |  FROM pairs
       |), j AS (
       |  SELECT p.source_a, p.source_b,
       |    (na + nb - coalesce(ei.exact_inter, 0))::BIGINT AS exact_union,
       |    est_union, coalesce(ei.exact_inter, 0)::BIGINT AS exact_inter,
       |    (est_a + est_b - est_union)::BIGINT AS est_inter,
       |    (coalesce(ei.exact_inter, 0) * 10000 //
       |      (na + nb - coalesce(ei.exact_inter, 0)))::BIGINT AS exact_j_bp,
       |    (greatest(est_a + est_b - est_union, 0) * 10000 //
       |      est_union)::BIGINT AS est_j_bp
       |  FROM pu p LEFT JOIN ei
       |    ON ei.source_a = p.source_a AND ei.source_b = p.source_b
       |)
       |SELECT source_a, source_b, exact_union, est_union, exact_inter,
       |  est_inter, exact_j_bp, est_j_bp,
       |  abs(est_j_bp - exact_j_bp)::BIGINT AS j_err_bp
       |FROM j ORDER BY source_a, source_b""".stripMargin

  // ---- X81: marginal vocab-novelty election (q155) ------------------------

  /** X81 acquisition-order audit (q155): sources ranked by token mass,
    * then each source credited with the vocabulary it is FIRST to
    * contribute in that order — the greedy data-acquisition curve ("if
    * we ingest sources biggest-first, what does each one newly add").
    * Per rank: the source, its token mass, its own vocabulary, its
    * marginal novel-type count, the novelty share of its vocabulary in
    * basis points, and the cumulative union vocabulary. A big source
    * with near-zero novelty is REDUNDANT with what precedes it (its
    * budget buys tokens, not types — q123's effective-size story at the
    * vocabulary level); a small source with high novelty is the niche
    * worth keeping through the mixture gates.
    *
    * Scale posture: everything derives from the PlanCache'd q151
    * per-(source, 60-bit hash) histogram — vocabulary-sized, never the
    * corpus. Ranking and the cumulative fold are windowless broadcast
    * triangle joins over the |sources|-row table (the q108/q147 device —
    * no global-order window); the only vocabulary-sized operation is
    * one min-rank groupBy on the hash. Token credit keys on the hash,
    * strings never shuffle. */
  def vocabNoveltyElection(spark: SparkSession, dir: String): DataFrame = {
    val hist = graft.PlanCache.cached(spark, s"textanalysis.srcHist:$dir") {
      Tables.documents(spark, dir)
        .select(col("source"), explode(TextHash.tokens(col("text"))).as("tok"))
        .select(col("source"), TextHash.h1(col("tok")).as("h"))
        .groupBy(col("source"), col("h")).agg(count(lit(1)).as("cnt"))
    }
    val sizes = hist.groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_tok"), count(lit(1)).as("vocab"))
    // rank by (token mass desc, source) without a global window:
    // rank = 1 + |{sources that beat this one}| over the broadcast
    // |sources|-row table
    val other = sizes.select(col("source").as("s2"), col("n_tok").as("t2"))
    // ROUND-18 SHAVE (§2.4): `ranked` feeds the novel-credit join AND
    // the cells assembly AND (via cells) the cumulative prior self-join
    // — without a cut, the before-plan inlined this |sources|-row
    // subtree (and the seam scan + sizes aggregation under it) four
    // times (741-line explain). Both it and `cells` below are
    // source-grain (audit-bounded at any corpus size), so they take the
    // q64/q213 seam.
    val ranked = graft.PlanCache.cached(spark, s"textanalysis.noveltyRanked:$dir") {
      sizes.join(broadcast(other),
          col("t2") > col("n_tok") ||
            (col("t2") === col("n_tok") && col("s2") < col("source")), "left")
        .groupBy(col("source"), col("n_tok"), col("vocab"))
        .agg((count(col("s2")) + 1).as("rank"))
    }
    // each hash credits the best-ranked source containing it
    val novel = hist.select(col("source"), col("h"))
      .join(broadcast(ranked.select(col("source"), col("rank"))),
        Seq("source"))
      .groupBy(col("h")).agg(min(col("rank")).as("rank"))
      .groupBy(col("rank")).agg(count(lit(1)).as("novel"))
    // LEFT join: a fully redundant source mints ZERO types and must
    // still report its row
    val cells = graft.PlanCache.cached(spark, s"textanalysis.noveltyCells:$dir") {
      ranked.join(novel, Seq("rank"), "left")
        .withColumn("novel", coalesce(col("novel"), lit(0L)))
    }
    val prior = cells.select(col("rank").as("r2"), col("novel").as("v2"))
    cells.join(broadcast(prior), col("r2") <= col("rank"))
      .groupBy(col("rank"), col("source"), col("n_tok"), col("vocab"),
        col("novel"))
      .agg(sum(col("v2")).as("cum_vocab"))
      .withColumn("novelty_bp", expr("novel * 10000 div vocab"))
      .orderBy(col("rank"))
  }

  def vocabNoveltyElectionSql: String =
    s"""WITH hist AS (
       |  SELECT source, ${TextHash.h1Sql("tok")} AS h, count(*)::BIGINT AS cnt
       |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS tok
       |        FROM documents)
       |  GROUP BY 1, 2
       |), sizes AS (
       |  SELECT source, sum(cnt)::BIGINT AS n_tok, count(*)::BIGINT AS vocab
       |  FROM hist GROUP BY source
       |), ranked AS (
       |  SELECT source, n_tok, vocab,
       |    row_number() OVER (ORDER BY n_tok DESC, source) AS rank
       |  FROM sizes
       |), novel AS (
       |  SELECT rank, count(*)::BIGINT AS novel
       |  FROM (SELECT h, min(r.rank) AS rank
       |        FROM hist JOIN ranked r USING (source) GROUP BY h)
       |  GROUP BY rank
       |)
       |SELECT r.rank::BIGINT AS rank, r.source, r.n_tok, r.vocab,
       |  coalesce(n.novel, 0)::BIGINT AS novel,
       |  sum(coalesce(n.novel, 0)) OVER (ORDER BY r.rank
       |    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_vocab,
       |  ((coalesce(n.novel, 0) * 10000) // r.vocab)::BIGINT AS novelty_bp
       |FROM ranked r LEFT JOIN novel n USING (rank)
       |ORDER BY rank""".stripMargin

  // ---- X80: source-language mutual-information audit (q154) ---------------

  /** X80 composition-balance audit (q154): the source × language joint
    * distribution priced against independence — per cell the observed
    * doc count, the LIFT vs the independence expectation in basis
    * points (obs·N / (n_s·n_l), the q134 collocation device at the
    * corpus-composition level), the pointwise mutual information in
    * exact milli-bits, and the cell's weighted MI summand (corpus
    * MI = Σ mi_term_mb div N). The datasheet companion to q103 and the
    * UniMax/temperature allocators (q108/q114): a source whose lift
    * concentrates in one language is a SPECIALIST — reweighting it
    * moves that language's budget, not the corpus's; lift ≈ 10000
    * everywhere means source and language mix independently and
    * per-source levers act language-neutrally.
    *
    * Integer discipline: PMI runs through the q140 milli-bit log device
    * on RAW COUNTS via the sum identity log(p_sl/(p_s·p_l)) =
    * log n_sl + log N − log n_s − log n_l (every argument a count, the
    * 2⁵⁹ bound holds at any corpus size); lift and the MI summand are
    * decimal(38,0)/HUGEINT products with one integer division.
    *
    * Scale posture: ONE narrow documents scan collapses map-side to the
    * |sources|·|langs| cell table (PlanCache'd — both marginals and the
    * total re-read it, never the corpus); marginals broadcast back onto
    * cells; output is cell-table-sized. */
  def sourceLangMi(spark: SparkSession, dir: String): DataFrame = {
    val cells = graft.PlanCache.cached(spark, s"textanalysis.srcLangCells:$dir") {
      Tables.documents(spark, dir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_sl"))
    }
    val ns = cells.groupBy(col("source")).agg(sum(col("n_sl")).as("n_s"))
    val nl = cells.groupBy(col("lang")).agg(sum(col("n_sl")).as("n_l"))
    val n = cells.agg(sum(col("n_sl")).as("n"))
    cells.join(graft.PlanAudit.Bounded
        .broadcastBounded("q154_source_lang_mi.per_source", ns, 1024L),
        Seq("source"))
      .join(graft.PlanAudit.Bounded
        .broadcastBounded("q154_source_lang_mi.per_lang", nl, 1024L),
        Seq("lang"))
      .crossJoin(graft.PlanAudit.Bounded
        .broadcastBounded("q154_source_lang_mi.total", n, 1L))
      .select(col("source"), col("lang"), col("n_sl").as("n_docs"),
        expr("cast(cast(n_sl as decimal(38,0)) * n * 10000 div " +
          "(cast(n_s as decimal(38,0)) * n_l) as bigint)").as("lift_bp"),
        expr(s"cast(${log2MilliSpark("n_sl")} + ${log2MilliSpark("n")} - " +
          s"${log2MilliSpark("n_s")} - ${log2MilliSpark("n_l")} as bigint)")
          .as("pmi_mb"))
      .withColumn("mi_term_mb",
        expr("cast(cast(n_docs as decimal(38,0)) * pmi_mb as bigint)"))
      .orderBy(col("source"), col("lang"))
  }

  def sourceLangMiSql: String =
    s"""WITH cells AS (
       |  SELECT source, lang, count(*)::BIGINT AS n_sl
       |  FROM documents GROUP BY 1, 2
       |), ns AS (
       |  SELECT source, sum(n_sl)::BIGINT AS n_s FROM cells GROUP BY source
       |), nl AS (
       |  SELECT lang, sum(n_sl)::BIGINT AS n_l FROM cells GROUP BY lang
       |), n AS (SELECT sum(n_sl)::BIGINT AS n FROM cells),
       |terms AS (
       |  SELECT c.source, c.lang, c.n_sl AS n_docs,
       |    ((c.n_sl::HUGEINT * n.n * 10000) //
       |      (ns.n_s::HUGEINT * nl.n_l))::BIGINT AS lift_bp,
       |    ((${log2MilliDuck("c.n_sl")}) + (${log2MilliDuck("n.n")}) -
       |      (${log2MilliDuck("ns.n_s")}) -
       |      (${log2MilliDuck("nl.n_l")}))::BIGINT AS pmi_mb
       |  FROM cells c
       |  JOIN ns USING (source)
       |  JOIN nl USING (lang)
       |  CROSS JOIN n
       |)
       |SELECT source, lang, n_docs, lift_bp, pmi_mb,
       |  (n_docs::HUGEINT * pmi_mb)::BIGINT AS mi_term_mb
       |FROM terms ORDER BY source, lang""".stripMargin

  // ---- X74: Zipf rank-frequency audit (q148) ------------------------------

  /** X74 Zipf audit (q148): the top-`k` terms with their frequency in
    * exact milli-bits and the LOCAL Zipf slope between adjacent ranks —
    * slope ≈ 1000 (i.e. −1 in log-log space) is the natural-language
    * signature; a flat head (slope ≪ 1000) reads as templated/synthetic
    * text, a cliff as a boilerplate token dominating the corpus. All
    * log arithmetic is the q140 integer milli-bit device — the audit
    * ships exact integers, no libm, and both engines agree bit-for-bit:
    * slope_milli = (log2m(cnt_r) − log2m(cnt_{r+1}))·1000 div
    * (log2m(r+1) − log2m(r)).
    *
    * Scale posture: term counts ride map-side combine; the head is the
    * bounded-heap [[graft.functions.TopKTerms]] two-phase aggregate
    * (the vocabulary never sorts); slope pairing is an equi self-join
    * of the broadcast k-row head on rank+1. */
  def zipfAudit(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(TextHash.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val topk = udaf(new graft.functions.TopKTerms(k))
    val head = counts
      .agg(topk(col("cnt"), col("w")).as("hits"))
      .select(posexplode(col("hits")).as(Seq("pos", "h")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("h.term").as("term"), col("h.cnt").as("cnt"))
      .withColumn("log2f_milli",
        expr(s"cast(${log2MilliSpark("cnt")} as bigint)"))
    val next = head.select((col("rank") - 1).as("rank"),
      col("log2f_milli").as("l2_next"))
    head.join(broadcast(next), Seq("rank"))
      .select(col("rank"), col("term"), col("cnt"), col("log2f_milli"),
        expr(s"(log2f_milli - l2_next) * 1000 div " +
          s"(${log2MilliSpark("rank + 1")} - ${log2MilliSpark("rank")})")
          .as("slope_milli"))
      .orderBy(col("rank"))
  }

  def zipfAuditSql(k: Int = 16): String =
    s"""WITH counts AS (
       |  SELECT w, count(*)::BIGINT AS cnt
       |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
       |        FROM documents) GROUP BY w
       |), head AS (
       |  SELECT rank, w AS term, cnt,
       |    (${log2MilliDuck("cnt")})::BIGINT AS log2f_milli
       |  FROM (SELECT w, cnt,
       |      row_number() OVER (ORDER BY cnt DESC, w) AS rank
       |    FROM counts)
       |  WHERE rank <= $k
       |)
       |SELECT a.rank::BIGINT AS rank, a.term, a.cnt, a.log2f_milli,
       |  ((a.log2f_milli - b.log2f_milli) * 1000 //
       |    ((${log2MilliDuck("a.rank + 1")}) - (${log2MilliDuck("a.rank")})))
       |    ::BIGINT AS slope_milli
       |FROM head a JOIN head b ON b.rank = a.rank + 1
       |ORDER BY a.rank""".stripMargin

  // ---- X75: cross-lingual vocabulary overlap (q149) -----------------------

  /** X75 vocabulary overlap (q149): for every ordered language pair,
    * how much of lang_a's vocabulary also appears in lang_b — the
    * language-ID leak detector: two languages sharing an implausible
    * share of their vocabularies means the `lang` column is unreliable
    * (mislabeled docs) or the corpus is code-switched, and either way a
    * per-language tokenizer/LM budget is being double-spent. Share in
    * exact basis points of the SOURCE language's vocabulary (the matrix
    * is deliberately asymmetric — a small language absorbed into a big
    * one reads differently per direction).
    *
    * Scale posture: one tokenized scan collapses to the distinct
    * (lang, 60-bit token hash) vocabulary table (PlanCache'd — sizes
    * fold and both self-join sides read it); the self-join keys on the
    * hash (vocabulary-sized, never corpus-sized); output is
    * |langs|·(|langs|−1) rows. */
  def vocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    val lv = graft.PlanCache.cached(spark, s"textanalysis.langVocab:$dir") {
      Tables.documents(spark, dir)
        .select(col("lang"), explode(TextHash.tokens(col("text"))).as("tok"))
        .select(col("lang"), TextHash.h1(col("tok")).as("h"))
        .distinct()
    }
    val sizes = lv.groupBy(col("lang")).agg(count(lit(1)).as("v_a"))
    lv.join(lv.select(col("lang").as("lang_b"), col("h")), Seq("h"))
      .filter(col("lang") =!= col("lang_b"))
      .groupBy(col("lang").as("lang_a"), col("lang_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("lang").as("lang_a"), col("v_a"))),
        Seq("lang_a"))
      .select(col("lang_a"), col("lang_b"), col("n_shared"), col("v_a"),
        expr("n_shared * 10000 div v_a").as("share_bp"))
      .orderBy(col("lang_a"), col("lang_b"))
  }

  def vocabOverlapSql: String =
    s"""WITH lv AS (
       |  SELECT DISTINCT lang, ${TextHash.h1Sql("tok")} AS h
       |  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
       |        FROM documents)
       |), sizes AS (
       |  SELECT lang, count(*)::BIGINT AS v_a FROM lv GROUP BY lang
       |), shared AS (
       |  SELECT a.lang AS lang_a, b.lang AS lang_b, count(*)::BIGINT AS n_shared
       |  FROM lv a JOIN lv b ON a.h = b.h AND a.lang <> b.lang
       |  GROUP BY 1, 2
       |)
       |SELECT s.lang_a, s.lang_b, s.n_shared, z.v_a,
       |  ((s.n_shared * 10000) // z.v_a)::BIGINT AS share_bp
       |FROM shared s JOIN sizes z ON z.lang = s.lang_a
       |ORDER BY s.lang_a, s.lang_b""".stripMargin

  // ---- X73: Heaps-law vocabulary growth curve (q147) ----------------------

  /** X73 vocabulary growth curve (q147): distinct tokens vs tokens
    * scanned across ingestion-order quarters of the corpus (doc_id =
    * ingestion proxy, the q138 quarter device) — the empirical Heaps'
    * law measurement (V ≈ K·nᵝ) that predicts how fast the vocabulary
    * (and hence OOV rate, q85) keeps growing at 100× the data: if the
    * curve is still steep at the last quarter, a tokenizer frozen today
    * will degrade as the corpus grows. Per quarter: new tokens minted,
    * cumulative tokens, cumulative distinct, and the cumulative
    * type-token ratio in basis points.
    *
    * Exact single-pass formulation: a token's FIRST quarter is
    * min(quarter) over its occurrences (quarters are monotone in
    * doc_id), so cumulative-distinct-at-quarter-q = tokens whose first
    * quarter ≤ q — no per-prefix recount. Tokens travel as 60-bit h1
    * hashes (the q136 rule — gram strings never shuffle; distinct
    * under-counts by the disclosed birthday bound).
    *
    * Scale posture: one tokenized scan; per-(token-hash) min-quarter
    * with map-side combine is the only corpus-sized shuffle; both
    * rollups land on 4-row tables and the prefix sums are the q108
    * windowless triangle self-join over those 4 rows (no global-order
    * window anywhere). */
  def vocabGrowthCurve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val toks = docs
      .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("tok"))
      .crossJoin(broadcast(mx))
      .select(least(lit(3L), expr("doc_id * 4 div (mx + 1)")).as("quarter"),
        TextHash.h1(col("tok")).as("h"))
    // ONE corpus scan + one (hash, quarter)-keyed shuffle; both rollups
    // fold from the persisted histogram (occurrence mass per quarter,
    // first-quarter election per token)
    val hq = graft.PlanCache.cached(spark, s"textanalysis.vocabHQ:$dir") {
      toks.groupBy(col("h"), col("quarter")).agg(count(lit(1)).as("cnt"))
    }
    val occ = hq.groupBy(col("quarter")).agg(sum(col("cnt")).as("n_occ"))
    val minted = hq.groupBy(col("h")).agg(min(col("quarter")).as("quarter"))
      .groupBy(col("quarter")).agg(count(lit(1)).as("new_distinct"))
    // LEFT join: a mature corpus quarter can mint ZERO new tokens (the
    // Heaps curve's whole point) and must still report its row
    val cells = occ.join(minted, Seq("quarter"), "left")
      .withColumn("new_distinct", coalesce(col("new_distinct"), lit(0L)))
    val prior = cells.select(col("quarter").as("q2"),
      col("n_occ").as("o2"), col("new_distinct").as("d2"))
    cells.join(broadcast(prior), col("q2") <= col("quarter"))
      .groupBy(col("quarter"), col("new_distinct"))
      .agg(sum(col("o2")).as("cum_tokens"),
        sum(col("d2")).as("cum_distinct"))
      .select(col("quarter"), col("new_distinct"), col("cum_tokens"),
        col("cum_distinct"),
        expr("cum_distinct * 10000 div cum_tokens").as("ttr_bp"))
      .orderBy(col("quarter"))
  }

  def vocabGrowthCurveSql: String =
    s"""WITH mx AS (SELECT max(doc_id)::BIGINT AS mx FROM documents),
       |tk AS (
       |  SELECT least(3, doc_id * 4 // (mx.mx + 1)) AS quarter,
       |    ${TextHash.h1Sql("tok")} AS h
       |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
       |        FROM documents) CROSS JOIN mx
       |), occ AS (
       |  SELECT quarter, count(*)::BIGINT AS n_occ FROM tk GROUP BY quarter
       |), minted AS (
       |  SELECT quarter, count(*)::BIGINT AS new_distinct
       |  FROM (SELECT h, min(quarter) AS quarter FROM tk GROUP BY h)
       |  GROUP BY quarter
       |), c AS (
       |  SELECT occ.quarter,
       |    coalesce(minted.new_distinct, 0)::BIGINT AS new_distinct,
       |    sum(occ.n_occ) OVER (ORDER BY occ.quarter
       |      ROWS UNBOUNDED PRECEDING) AS cum_tokens,
       |    sum(coalesce(minted.new_distinct, 0)) OVER (ORDER BY occ.quarter
       |      ROWS UNBOUNDED PRECEDING) AS cum_distinct
       |  FROM occ LEFT JOIN minted USING (quarter)
       |)
       |SELECT quarter::BIGINT AS quarter, new_distinct,
       |  cum_tokens::BIGINT AS cum_tokens, cum_distinct::BIGINT AS cum_distinct,
       |  ((cum_distinct * 10000) // cum_tokens)::BIGINT AS ttr_bp
       |FROM c ORDER BY quarter""".stripMargin

  // ---- X66: CCNet-style LM perplexity filter (q140, q141) -----------------
  //
  // CCNet (Wenzek et al. 2019, arXiv:1911.00359) filters a crawled corpus
  // by the perplexity of a reference-domain language model: score every
  // pool document, split each language into head/middle/tail perplexity
  // tertiles, keep the head (or head+middle). The published recipe uses a
  // KenLM 5-gram model; floats can't cross the hash gate, so the scorer
  // here is the integer twin: a token-unigram LM over the reference slice
  // (source = targetSource, the q95 convention), Laplace-smoothed, with
  // log2 evaluated in EXACT MILLI-BITS by an integer mantissa device —
  // exponent e = bit-length(x) − 1 via length(bin(x)) (both engines print
  // the same minimal binary string), a 16-entry LUT on the top four
  // fractional mantissa bits, and cost(tok) = log2m(T + V) − log2m(cnt + 1)
  // per token occurrence. A document's score is its mean token cost in
  // milli-bits (≈ 1000·log2 of the unigram perplexity): the same monotone
  // structure as CCNet's filter, exact integer arithmetic in both engines.

  /** round(log2(1 + i/16)·1000) for i ∈ 0..15 — the fractional-mantissa
    * LUT of the milli-bit integer log2. Entry rounding is ≤ 0.5 mb; the
    * dominant quantization is the mantissa FLOOR to its 1/16 cell —
    * ≤ log2(1+1/16)·1000 ≈ 87 mb per term, worst in the first cell —
    * deterministic and identical cross-engine. */
  private val Log2MilliLut = Seq(0, 87, 170, 248, 322, 392, 459, 524,
    585, 644, 700, 755, 807, 858, 907, 954)
  private val Log2Pow2 = (0 until 60).map(i => 1L << i)

  /** Milli-bit integer log2 of a positive BIGINT expression `x` < 2^59:
    * e·1000 + LUT[(x·16 div 2^e) − 16], e = length(bin(x)) − 1. The two
    * dialects differ only in array indexing and integer-division
    * spelling, so each gets its own printer over the same constants. */
  private[operators] def log2MilliSpark(x: String): String =
    s"((length(bin($x)) - 1) * 1000 + " +
      s"element_at(array(${Log2MilliLut.mkString(", ")}), " +
      s"cast((($x) * 16) div element_at(array(${Log2Pow2.mkString(", ")}), " +
      s"length(bin($x))) as int) - 15))"

  private[operators] def log2MilliDuck(x: String): String =
    s"((length(bin($x)) - 1) * 1000 + " +
      s"[${Log2MilliLut.mkString(", ")}][((($x) * 16) // " +
      s"[${Log2Pow2.mkString(", ")}][length(bin($x))]) - 15])"

  /** Per-pool-document perplexity table (doc_id, lang, ppx_mb, ntok,
    * ppx_bucket): mean token cost in milli-bits against the
    * `targetSource` unigram LM, and the per-language CCNet tertile
    * (a_head / b_middle / c_tail by (ppx_mb asc, doc_id) rank).
    * Persisted once per (session, dir, target) — the q140 audit and the
    * q141 calibration both read it.
    *
    * Scale posture: the LM is the bounded reference-slice vocabulary
    * (CCNet's LM is likewise a fixed artifact trained on the reference
    * domain, not the crawl) — broadcast with its ≤|langs|-row stats
    * table; pool tokens meet it map-side and collapse per doc with one
    * doc_id-keyed exchange; tertile assignment is the windowless
    * [[tertileAssign]] histogram election (the corpus never sorts, no
    * per-language window — a 100 TB single-language pool is fine). */
  /** Per-document tertile assignment over a (doc_id, lang, ppx_mb, …)
    * frame — row-identical to ranking every doc per language by
    * (ppx_mb asc, doc_id) and cutting at ⌊n/3⌋ / ⌊2n/3⌋, but the corpus
    * never sorts: the election runs on the bounded per-(lang, score)
    * HISTOGRAM (the q95/q82 two-phase device — prefix sums over
    * histogram rows decide how many of each score bucket fall in each
    * tertile), and the only per-document window is a row_number
    * confined to each score TIE bucket, partitioned on the
    * high-cardinality (lang, score) key the preceding join already
    * shuffled on. */
  private[graft] def tertileAssign(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = scored.groupBy(col("lang"), col("ppx_mb"))
      .agg(count(lit(1)).as("c"))
    val byLang = Window.partitionBy(col("lang"))
    val wPre = byLang.orderBy(col("ppx_mb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val info = hist
      .withColumn("pre", coalesce(sum(col("c")).over(wPre), lit(0L)))
      .withColumn("n", sum(col("c")).over(byLang))
      .select(col("lang"), col("ppx_mb"),
        greatest(least(expr("n div 3 - pre"), col("c")), lit(0L))
          .as("head_take"),
        greatest(least(expr("(2 * n) div 3 - pre"), col("c")), lit(0L))
          .as("mid_take"))
    val wTie = Window.partitionBy(col("lang"), col("ppx_mb"))
      .orderBy(col("doc_id"))
    scored.join(info, Seq("lang", "ppx_mb"))
      .withColumn("_rn", row_number().over(wTie).cast("long"))
      .withColumn("ppx_bucket",
        when(col("_rn") <= col("head_take"), "a_head")
          .when(col("_rn") <= col("mid_take"), "b_middle")
          .otherwise("c_tail"))
      .drop("_rn", "head_take", "mid_take")
  }

  private[graft] def perplexityScored(spark: SparkSession, dir: String,
                                      targetSource: String): DataFrame =
    graft.PlanCache.cached(spark,
      s"textanalysis.ppxScored:$targetSource:$dir") {
      val docs = Tables.documents(spark, dir)
      val lm = docs.filter(col("source") === targetSource)
        .select(col("lang"), explode(TextHash.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
      val stats = lm.groupBy(col("lang"))
        .agg(sum(col("cnt")).as("t"), count(lit(1)).as("v"))
      val scored = docs.filter(col("source") =!= targetSource)
        .select(col("doc_id"), col("lang"),
          explode(TextHash.tokens(col("text"))).as("tok"))
        .join(broadcast(stats), Seq("lang"))
        .join(broadcast(lm), Seq("lang", "tok"), "left")
        .select(col("doc_id"), col("lang"),
          expr(s"cast(${log2MilliSpark("t + v")} - " +
            s"${log2MilliSpark("coalesce(cnt, 0) + 1")} as bigint)").as("cost"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(expr("sum(cost) div count(1)").as("ppx_mb"),
          count(lit(1)).as("ntok"))
      tertileAssign(scored)
    }

  /** The LM snapshot the streaming gate
    * ([[graft.streaming.Pipeline.perplexityGate]]) consumes: per-token
    * milli-bit costs keyed `"lang tok"` (tokens are whitespace-split, so
    * the space separator is unambiguous) plus the per-language
    * unseen-token cost log2m(T+V). This is the artifact posture of the
    * published recipe — CCNet ships its reference KenLM the same way:
    * the model is bounded by the curated reference slice, not the
    * crawl, and travels to workers whole. */
  def perplexityLmSnapshot(spark: SparkSession, dir: String,
                           targetSource: String = "src0")
      : (Map[String, Long], Map[String, Long]) = {
    val lm = Tables.documents(spark, dir)
      .filter(col("source") === targetSource)
      .select(col("lang"), explode(TextHash.tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val stats = lm.groupBy(col("lang"))
      .agg(sum(col("cnt")).as("t"), count(lit(1)).as("v"))
    val costs = lm.join(broadcast(stats), Seq("lang"))
      .select(concat(col("lang"), lit(" "), col("tok")).as("k"),
        expr(s"cast(${log2MilliSpark("t + v")} - " +
          s"${log2MilliSpark("cnt + 1")} as bigint)").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = stats
      .select(col("lang"),
        expr(s"cast(${log2MilliSpark("t + v")} as bigint)").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (costs, base)
  }

  /** The same LM artifact as [[perplexityLmSnapshot]] but as a
    * DataFrame that NEVER touches the driver: rows (lang, tok,
    * cost_mb) for seen tokens plus one (lang, NULL, cost_mb) base row
    * per language for unseen tokens — the relation the broadcast-join
    * gate variant ([[graft.streaming.Pipeline.perplexityGate]]'s
    * DataFrame overload) consumes. This is the full-scale seam: a
    * million-type reference vocabulary stays distributed and ships to
    * workers as a broadcast relation instead of inlining into the
    * literal plan. Costs are the identical integer milli-bit algebra,
    * so admissions match the map path row for row (spec-pinned). */
  def perplexityLmSnapshotDf(spark: SparkSession, dir: String,
                             targetSource: String = "src0"): DataFrame = {
    val lm = Tables.documents(spark, dir)
      .filter(col("source") === targetSource)
      .select(col("lang"), explode(TextHash.tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val stats = lm.groupBy(col("lang"))
      .agg(sum(col("cnt")).as("t"), count(lit(1)).as("v"))
    lm.join(broadcast(stats), Seq("lang"))
      .select(col("lang"), col("tok"),
        expr(s"cast(${log2MilliSpark("t + v")} - " +
          s"${log2MilliSpark("cnt + 1")} as bigint)").as("cost_mb"))
      .unionByName(stats.select(col("lang"),
        lit(null).cast("string").as("tok"),
        expr(s"cast(${log2MilliSpark("t + v")} as bigint)").as("cost_mb")))
  }

  /** [[perplexityCutoffs]] as an undriven DataFrame (lang, cutoff_mb)
    * for the broadcast-join gate variant. */
  def perplexityCutoffsDf(spark: SparkSession, dir: String,
                          keep: Seq[String] = Seq("a_head", "b_middle"),
                          targetSource: String = "src0"): DataFrame =
    perplexityScored(spark, dir, targetSource)
      .filter(col("ppx_bucket").isin(keep: _*))
      .groupBy(col("lang")).agg(max(col("ppx_mb")).as("cutoff_mb"))

  /** Per-language admission cutoffs for the streaming gate: the max
    * milli-bit perplexity across the KEPT tertiles (default head+middle
    * — the CCNet keep set). A stream cannot rank, so the published
    * contract is the boundary score; score-tied tail rows at the
    * boundary are admitted (the importanceGate tie rule). */
  def perplexityCutoffs(spark: SparkSession, dir: String,
                        keep: Seq[String] = Seq("a_head", "b_middle"),
                        targetSource: String = "src0"): Map[String, Long] =
    perplexityScored(spark, dir, targetSource)
      .filter(col("ppx_bucket").isin(keep: _*))
      .groupBy(col("lang")).agg(max(col("ppx_mb")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** X66 perplexity-filter audit (q140): per (lang, CCNet tertile) —
    * docs, token mass, mean and max milli-bit perplexity. The head
    * bucket is what a CCNet-style pipeline keeps; the table prices all
    * three cuts before any data is dropped. */
  def perplexityFilter(spark: SparkSession, dir: String,
                       targetSource: String = "src0"): DataFrame =
    perplexityScored(spark, dir, targetSource)
      .groupBy(col("lang"), col("ppx_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("sum_tokens"),
        expr("sum(ppx_mb) div count(1)").as("avg_ppx_mb"),
        max(col("ppx_mb")).as("max_ppx_mb"))
      .orderBy(col("lang"), col("ppx_bucket"))

  private[graft] def perplexityChainSql(targetSource: String): String = {
    val costExpr = s"${log2MilliDuck("st.t + st.v")} - " +
      s"${log2MilliDuck("coalesce(lm.cnt, 0) + 1")}"
    s"""ref AS (
       |  SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
       |  FROM documents WHERE source = '$targetSource'
       |), lm AS (
       |  SELECT lang, tok, count(*)::BIGINT AS cnt FROM ref GROUP BY 1, 2
       |), st AS (
       |  SELECT lang, sum(cnt)::BIGINT AS t, count(*)::BIGINT AS v
       |  FROM lm GROUP BY lang
       |), pool AS (
       |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
       |  FROM documents WHERE source <> '$targetSource'
       |), costs AS (
       |  SELECT p.doc_id, p.lang, ($costExpr)::BIGINT AS cost
       |  FROM pool p JOIN st ON st.lang = p.lang
       |  LEFT JOIN lm ON lm.lang = p.lang AND lm.tok = p.tok
       |), d AS (
       |  SELECT doc_id, lang, (sum(cost) // count(*))::BIGINT AS ppx_mb,
       |    count(*)::BIGINT AS ntok
       |  FROM costs GROUP BY 1, 2
       |), b AS (
       |  SELECT doc_id, lang, ppx_mb, ntok,
       |    CASE WHEN 3 * rn <= n THEN 'a_head'
       |      WHEN 3 * rn <= 2 * n THEN 'b_middle'
       |      ELSE 'c_tail' END AS ppx_bucket
       |  FROM (SELECT *,
       |      row_number() OVER (PARTITION BY lang ORDER BY ppx_mb, doc_id) AS rn,
       |      count(*) OVER (PARTITION BY lang) AS n
       |    FROM d)
       |)""".stripMargin
  }

  def perplexityFilterSql(targetSource: String = "src0"): String =
    s"""WITH ${perplexityChainSql(targetSource)}
       |SELECT lang, ppx_bucket, count(*)::BIGINT AS n_docs,
       |  sum(ntok)::BIGINT AS sum_tokens,
       |  (sum(ppx_mb) // count(*))::BIGINT AS avg_ppx_mb,
       |  max(ppx_mb) AS max_ppx_mb
       |FROM b GROUP BY 1, 2 ORDER BY lang, ppx_bucket""".stripMargin

  /** X66 perplexity-vs-quality calibration (q141): per (lang, tertile) —
    * docs, mean q17 quality (micro-units), and how many land in their
    * language's upper quality half (the q65 median device), with the
    * share in basis points. The check CCNet itself prescribes before
    * trusting a perplexity cut: if the head tertile's upper-half share
    * doesn't beat the tail's, the LM is scoring fluency the quality
    * heuristic doesn't value (or the reference slice is off-domain) and
    * the filter would throw away good data. */
  def perplexityCalibration(spark: SparkSession, dir: String,
                            targetSource: String = "src0"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy(col("lang"))
    val qw = byLang.orderBy(col("qm"), col("doc_id"))
    val qd = Tables.documents(spark, dir)
      .filter(col("source") =!= targetSource)
      .select(col("doc_id"), col("lang"),
        round(qualityScore(col("text")), 6).as("q"))
      .select(col("doc_id"), col("lang"),
        expr("cast(round(q * 1000000) as bigint)").as("qm"))
      .withColumn("qrn", row_number().over(qw).cast("long"))
      .withColumn("qn", count(lit(1)).over(byLang))
      .withColumn("upper", (col("qrn") * 2) > col("qn"))
      .select(col("doc_id"), col("lang"), col("qm"), col("upper"))
    perplexityScored(spark, dir, targetSource)
      .join(qd, Seq("doc_id", "lang"))
      .groupBy(col("lang"), col("ppx_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(qm) div count(1)").as("avg_q_micro"),
        sum(when(col("upper"), 1L).otherwise(0L)).as("n_upper_half"))
      .select(col("lang"), col("ppx_bucket"), col("n_docs"),
        col("avg_q_micro"), col("n_upper_half"),
        expr("n_upper_half * 10000 div n_docs").as("upper_share_bp"))
      .orderBy(col("lang"), col("ppx_bucket"))
  }

  // ---- X68: Gopher/C4 rule-filter audit (q142) ----------------------------

  /** X68 rule-filter audit (q142): per language, how many documents each
    * of the published heuristic cleaning rules would drop — the C4
    * cleaning set (Raffel et al. 2019, arXiv:1910.10683 §2.2: terminal
    * punctuation, "lorem ipsum", code braces) and the Gopher quality
    * rules (Rae et al. 2021, arXiv:2112.11446 §A1.1: token-count bounds,
    * mean-word-length band, stopword floor) — plus the clean remainder
    * and its share. The rule-by-rule breakdown is what you read BEFORE
    * picking thresholds: a rule flagging 40% of a source is mistuned or
    * the source is garbage, and you want to know which rule fired, not
    * just that a composite score sagged.
    *
    * Every rule is exact integer/string arithmetic (token counts from
    * the shared whitespace grid; the mean-word-length band compares
    * `chars−(ntok−1)` against `3·ntok`/`10·ntok` cross-multiplied — no
    * division, no float): identical semantics in both engines.
    *
    * Scale posture: one narrow scan, one fused token pass per row
    * (flags are per-row predicates), map-side combine to the
    * ≤|langs|-row rollup. Nothing corpus-sized shuffles. */
  /** The seven rule flags as named 0/1 columns over a `text` column —
    * shared by the q142 audit and the q143 filter chain so the two can
    * never drift. Order matters only for display. */
  private[graft] def ruleFlags(text: Column): Seq[(String, Column)] = {
    val t = toks(text)
    val ntok = size(t).cast("long")
    val chars = length(text).cast("long")
    val wordChars = chars - (ntok - 1)
    def b(c: Column): Column = when(c, 1L).otherwise(0L)
    Seq(
      "f_short" -> b(ntok < 5),
      "f_long" -> b(ntok > 100000),
      "f_word_short" -> b(wordChars < ntok * 3),
      "f_word_long" -> b(wordChars > ntok * 10),
      "f_punct" -> b(!substring(text, -1, 1).isin(".", "!", "?")),
      "f_boiler" -> b(text.contains("{") ||
        lower(text).contains("lorem ipsum")),
      "f_stopword" -> b(hitCount(text, Stopwords) < 2))
  }

  /** Count of fired rules for a row (0 = clean), restricted to `rules`
    * (default: all seven). */
  private[graft] def ruleViolations(text: Column,
                                    rules: Seq[String] = Seq.empty): Column = {
    val picked =
      if (rules.isEmpty) ruleFlags(text)
      else ruleFlags(text).filter { case (n, _) => rules.contains(n) }
    picked.map(_._2).reduce(_ + _)
  }

  def ruleFilterAudit(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("lang") +: ruleFlags(col("text"))
        .map { case (n, c) => c.as(n) }: _*)
      .withColumn("f_any",
        when(col("f_short") + col("f_long") + col("f_word_short") +
          col("f_word_long") + col("f_punct") + col("f_boiler") +
          col("f_stopword") > 0, 1L).otherwise(0L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("f_short")).as("n_short"),
        sum(col("f_long")).as("n_long"),
        sum(col("f_word_short")).as("n_word_short"),
        sum(col("f_word_long")).as("n_word_long"),
        sum(col("f_punct")).as("n_no_terminal"),
        sum(col("f_boiler")).as("n_boiler"),
        sum(col("f_stopword")).as("n_low_stopword"),
        sum(lit(1L) - col("f_any")).as("n_clean"))
      .withColumn("clean_share_bp", expr("n_clean * 10000 div n_docs"))
      .orderBy(col("lang"))
  }

  /** The seven rule flags as a SQL SELECT over relation `rel`, carrying
    * `passCols` through (must not include `text`) — the q142/q143
    * shared fragment, mirroring [[ruleFlags]] rule for rule. */
  private[graft] def ruleFlagsSqlFrom(rel: String, passCols: String): String = {
    val stop = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT $passCols,
       |    CASE WHEN ntok < 5 THEN 1 ELSE 0 END AS f_short,
       |    CASE WHEN ntok > 100000 THEN 1 ELSE 0 END AS f_long,
       |    CASE WHEN wc < ntok * 3 THEN 1 ELSE 0 END AS f_word_short,
       |    CASE WHEN wc > ntok * 10 THEN 1 ELSE 0 END AS f_word_long,
       |    CASE WHEN right(text, 1) NOT IN ('.', '!', '?')
       |      THEN 1 ELSE 0 END AS f_punct,
       |    CASE WHEN position('{' IN text) > 0
       |        OR position('lorem ipsum' IN lower(text)) > 0
       |      THEN 1 ELSE 0 END AS f_boiler,
       |    CASE WHEN stops < 2 THEN 1 ELSE 0 END AS f_stopword
       |  FROM (
       |    SELECT $passCols, text,
       |      len(t)::BIGINT AS ntok,
       |      (length(text) - (len(t) - 1))::BIGINT AS wc,
       |      len(list_filter(t, x -> x IN ($stop)))::BIGINT AS stops
       |    FROM (SELECT $passCols, text, string_split(lower(text), ' ') AS t
       |          FROM $rel))""".stripMargin
  }

  def ruleFilterAuditSql: String = {
    s"""WITH f AS (
       |  ${ruleFlagsSqlFrom("documents", "lang")}
       |), g AS (
       |  SELECT *,
       |    CASE WHEN f_short + f_long + f_word_short + f_word_long +
       |      f_punct + f_boiler + f_stopword > 0 THEN 1 ELSE 0 END AS f_any
       |  FROM f
       |)
       |SELECT lang, count(*)::BIGINT AS n_docs,
       |  sum(f_short)::BIGINT AS n_short,
       |  sum(f_long)::BIGINT AS n_long,
       |  sum(f_word_short)::BIGINT AS n_word_short,
       |  sum(f_word_long)::BIGINT AS n_word_long,
       |  sum(f_punct)::BIGINT AS n_no_terminal,
       |  sum(f_boiler)::BIGINT AS n_boiler,
       |  sum(f_stopword)::BIGINT AS n_low_stopword,
       |  sum(1 - f_any)::BIGINT AS n_clean,
       |  ((sum(1 - f_any) * 10000) // count(*))::BIGINT AS clean_share_bp
       |FROM g GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---- X202: gate-agreement audit, Cohen's kappa (q276) ---------------------

  /** X202 Cohen's-κ gate agreement (q276): per language, the
    * chance-corrected agreement between the corpus's two independent
    * quality raters — the q142 rule filter (clean = zero violations)
    * and the q99/q260 quality-score floor (round(q, 6) ≥ 0.75) —
    * with the 2×2 agreement cells, raw agreement bp, κ in milli, and
    * the Landis–Koch verdict band. q121 prices what the two GATES do
    * to capacity; this asks whether the two RATERS measure the same
    * thing: κ near 1 says one gate is redundant, κ near 0 says they
    * disagree exactly as often as chance (complementary signals —
    * keep both), κ < 0 says they systematically contradict (a rule
    * is miscalibrated against the score).
    *
    * Exactly integer: κ = (N·(a+d) − r₁c₁ − r₂c₂)/(N² − r₁c₁ − r₂c₂)
    * rides decimal(38,0)/HUGEINT products with ONE sign-split milli
    * floor; a degenerate margin (pe = 1: both raters constant) reads
    * κ = 0 with its agreement bp still exact.
    *
    * Scale posture: ONE documents pass (both raters are the same
    * fused projection the q99/q142 audits already run — map-side
    * combinable to ≤|langs| 2×2 cells); everything after is per-row
    * arithmetic on the language dimension. */
  def kappaAgreement(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("lang"),
        when(ruleViolations(col("text")) === 0L, 1L).otherwise(0L)
          .as("clean"),
        when(round(qualityScore(col("text")), 6) >= 0.75, 1L)
          .otherwise(0L).as("qpass"))
    docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("clean * qpass")).as("a"),
        sum(expr("clean * (1 - qpass)")).as("b"),
        sum(expr("(1 - clean) * qpass")).as("c"),
        sum(expr("(1 - clean) * (1 - qpass)")).as("d"))
      .withColumn("pe_n2", expr(
        "cast(a + b as decimal(38,0)) * (a + c) + " +
          "cast(c + d as decimal(38,0)) * (b + d)"))
      .withColumn("num", expr(
        "cast(n_docs as decimal(38,0)) * (a + d) - pe_n2"))
      .withColumn("den", expr(
        "cast(n_docs as decimal(38,0)) * n_docs - pe_n2"))
      .select(col("lang"), col("n_docs"),
        col("a").as("both_pass"), col("b").as("clean_only"),
        col("c").as("quality_only"), col("d").as("both_fail"),
        expr("(a + d) * 10000 div n_docs").as("agree_bp"),
        expr("CASE WHEN den = 0 THEN 0L " +
          "WHEN num >= 0 THEN cast(1000 * num div den as bigint) " +
          "ELSE 0L - cast(1000 * (0 - num) div den as bigint) END")
          .as("kappa_milli"))
      .withColumn("band", expr(
        "CASE WHEN kappa_milli < 0 THEN 'a_poor' " +
          "WHEN kappa_milli <= 200 THEN 'b_slight' " +
          "WHEN kappa_milli <= 400 THEN 'c_fair' " +
          "WHEN kappa_milli <= 600 THEN 'd_moderate' " +
          "WHEN kappa_milli <= 800 THEN 'e_substantial' " +
          "ELSE 'f_almost_perfect' END"))
      .orderBy(col("lang"))
  }

  def kappaAgreementSql: String = {
    val stop = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH q AS (
       |  SELECT lang, text,
       |    CASE WHEN round(0.25 * least(ntok / 50.0, 1.0) +
       |      0.25 * (uniq / ntok) +
       |      0.25 * (1.0 - (stops / ntok)) +
       |      0.25 * least(((chars - (ntok - 1)) / ntok) / 6.0, 1.0), 6)
       |      >= 0.75 THEN 1 ELSE 0 END AS qpass
       |  FROM (
       |    SELECT lang, text,
       |      len(t)::DOUBLE AS ntok,
       |      len(list_distinct(t))::DOUBLE AS uniq,
       |      len(list_filter(t, x -> x IN ($stop)))::DOUBLE AS stops,
       |      length(text)::DOUBLE AS chars
       |    FROM (SELECT lang, text,
       |          string_split(lower(text), ' ') AS t FROM documents))
       |), f AS (
       |  ${ruleFlagsSqlFrom("q", "lang, qpass")}
       |), flagged AS (
       |  SELECT lang, qpass,
       |    CASE WHEN f_short + f_long + f_word_short + f_word_long +
       |      f_punct + f_boiler + f_stopword = 0 THEN 1 ELSE 0 END
       |      AS clean
       |  FROM f
       |), cells AS (
       |  SELECT lang, count(*)::BIGINT AS n_docs,
       |    sum(clean * qpass)::BIGINT AS a,
       |    sum(clean * (1 - qpass))::BIGINT AS b,
       |    sum((1 - clean) * qpass)::BIGINT AS c,
       |    sum((1 - clean) * (1 - qpass))::BIGINT AS d
       |  FROM flagged GROUP BY 1
       |), k AS (
       |  SELECT lang, n_docs, a, b, c, d,
       |    ((a + b)::HUGEINT * (a + c) + (c + d)::HUGEINT * (b + d))
       |      AS pe_n2,
       |    (n_docs::HUGEINT * (a + d) -
       |     ((a + b)::HUGEINT * (a + c) + (c + d)::HUGEINT * (b + d)))
       |      AS num,
       |    (n_docs::HUGEINT * n_docs -
       |     ((a + b)::HUGEINT * (a + c) + (c + d)::HUGEINT * (b + d)))
       |      AS den
       |  FROM cells
       |)
       |SELECT lang, n_docs, a AS both_pass, b AS clean_only,
       |  c AS quality_only, d AS both_fail,
       |  ((a + d) * 10000 // n_docs)::BIGINT AS agree_bp,
       |  (CASE WHEN den = 0 THEN 0
       |    WHEN num >= 0 THEN (1000 * num // den)::BIGINT
       |    ELSE -((1000 * (-num) // den)::BIGINT) END)::BIGINT
       |    AS kappa_milli,
       |  CASE WHEN (CASE WHEN den = 0 THEN 0
       |      WHEN num >= 0 THEN (1000 * num // den)::BIGINT
       |      ELSE -((1000 * (-num) // den)::BIGINT) END) < 0 THEN 'a_poor'
       |    WHEN (CASE WHEN den = 0 THEN 0
       |      WHEN num >= 0 THEN (1000 * num // den)::BIGINT
       |      ELSE -((1000 * (-num) // den)::BIGINT) END) <= 200
       |      THEN 'b_slight'
       |    WHEN (CASE WHEN den = 0 THEN 0
       |      WHEN num >= 0 THEN (1000 * num // den)::BIGINT
       |      ELSE -((1000 * (-num) // den)::BIGINT) END) <= 400
       |      THEN 'c_fair'
       |    WHEN (CASE WHEN den = 0 THEN 0
       |      WHEN num >= 0 THEN (1000 * num // den)::BIGINT
       |      ELSE -((1000 * (-num) // den)::BIGINT) END) <= 600
       |      THEN 'd_moderate'
       |    WHEN (CASE WHEN den = 0 THEN 0
       |      WHEN num >= 0 THEN (1000 * num // den)::BIGINT
       |      ELSE -((1000 * (-num) // den)::BIGINT) END) <= 800
       |      THEN 'e_substantial'
       |    ELSE 'f_almost_perfect' END AS band
       |FROM k ORDER BY lang""".stripMargin
  }

  def perplexityCalibrationSql(targetSource: String = "src0"): String = {
    val stop = Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH ${perplexityChainSql(targetSource)},
       |qs AS (
       |  SELECT doc_id, lang,
       |    CAST(round(round(0.25 * least(ntok / 50.0, 1.0) +
       |      0.25 * (uniq / ntok) +
       |      0.25 * (1.0 - (stops / ntok)) +
       |      0.25 * least(((chars - (ntok - 1)) / ntok) / 6.0, 1.0), 6)
       |      * 1000000) AS BIGINT) AS qm
       |  FROM (
       |    SELECT doc_id, lang,
       |      len(t)::DOUBLE AS ntok,
       |      len(list_distinct(t))::DOUBLE AS uniq,
       |      len(list_filter(t, x -> x IN ($stop)))::DOUBLE AS stops,
       |      length(text)::DOUBLE AS chars
       |    FROM (SELECT doc_id, lang, text,
       |          string_split(lower(text), ' ') AS t FROM documents
       |          WHERE source <> '$targetSource'))
       |), qr AS (
       |  SELECT doc_id, lang, qm,
       |    row_number() OVER (PARTITION BY lang ORDER BY qm, doc_id) AS qrn,
       |    count(*) OVER (PARTITION BY lang) AS qn
       |  FROM qs
       |)
       |SELECT b.lang, b.ppx_bucket, count(*)::BIGINT AS n_docs,
       |  (sum(qr.qm) // count(*))::BIGINT AS avg_q_micro,
       |  sum(CASE WHEN 2 * qr.qrn > qr.qn THEN 1 ELSE 0 END)::BIGINT
       |    AS n_upper_half,
       |  ((sum(CASE WHEN 2 * qr.qrn > qr.qn THEN 1 ELSE 0 END) * 10000)
       |    // count(*))::BIGINT AS upper_share_bp
       |FROM b JOIN qr ON b.doc_id = qr.doc_id AND b.lang = qr.lang
       |GROUP BY 1, 2 ORDER BY b.lang, b.ppx_bucket""".stripMargin
  }

  // ---- X99: vocabulary-richness estimators (q173) --------------------------

  /** Per-(lang, 60-bit token hash) occurrence histogram — the COUNTED
    * companion to the q149 distinct vocabulary table. PlanCache'd so the
    * richness fold and any future frequency-spectrum consumer share one
    * tokenized scan. */
  private[graft] def langHist(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(spark, s"textanalysis.langHist:$dir") {
      Tables.documents(spark, dir)
        .select(col("lang"), explode(TextHash.tokens(col("text"))).as("tok"))
        .select(col("lang"), TextHash.h1(col("tok")).as("h"))
        .groupBy(col("lang"), col("h")).agg(count(lit(1)).as("cnt"))
    }

  /** X99 vocabulary-richness estimators (q173): per language — token
    * mass N, observed types V, singletons F1, doubletons F2, the
    * bias-corrected Chao1 asymptotic richness estimate
    * V + F1·(F1−1) div (2·(F2+1)) (Chao 1984; the +1 correction keeps
    * it defined at F2 = 0), and the Good–Turing unseen-probability mass
    * F1·10⁴ div N in basis points (Good 1953). The "how much vocabulary
    * haven't we crawled yet" line of a corpus datasheet: unseen_bp near
    * zero says the corpus has saturated its languages' vocabularies
    * (more data buys repetition, not coverage — the q147 growth curve's
    * asymptote read as one number); a large chao1 − n_types gap says
    * the long tail is still uncollected and OOV monitors (q85/X14)
    * will keep firing on fresh data. Integer floors throughout,
    * disclosed: both estimators round toward zero in BOTH engines.
    *
    * Scale posture: the corpus collapses map-side to the vocabulary-
    * sized (lang, hash) histogram ([[langHist]], PlanCache'd — token
    * strings never shuffle, the q151 rule); the estimator fold is a
    * \|langs\|-row rollup; the F1·(F1−1) product rides
    * decimal(38,0)/HUGEINT (singleton counts at 100 TB square past
    * BIGINT). */
  def vocabRichness(spark: SparkSession, dir: String): DataFrame =
    langHist(spark, dir)
      .groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("cnt") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("lang"), col("n_tokens"), col("n_types"), col("f1"),
        col("f2"),
        expr("n_types + cast(cast(f1 as decimal(38,0)) * (f1 - 1) div " +
          "cast(2 * (f2 + 1) as decimal(38,0)) as bigint)").as("chao1"),
        expr("f1 * 10000 div n_tokens").as("unseen_bp"))
      .orderBy(col("lang"))

  def vocabRichnessSql: String =
    s"""WITH hist AS (
       |  SELECT lang, ${TextHash.h1Sql("tok")} AS h, count(*)::BIGINT AS cnt
       |  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
       |        FROM documents)
       |  GROUP BY 1, 2
       |), a AS (
       |  SELECT lang, sum(cnt)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
       |    sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
       |    sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END)::BIGINT AS f2
       |  FROM hist GROUP BY lang
       |)
       |SELECT lang, n_tokens, n_types, f1, f2,
       |  (n_types + f1::HUGEINT * (f1 - 1) // (2 * (f2 + 1)))::BIGINT AS chao1,
       |  (f1 * 10000 // n_tokens)::BIGINT AS unseen_bp
       |FROM a ORDER BY lang""".stripMargin

  // ---- X100: winnowing fingerprint selection (q174) ------------------------

  /** Selected fingerprint positions under robust winnowing (Schleimer,
    * Wilkerson & Aiken 2003, "Winnowing: Local Algorithms for Document
    * Fingerprinting", SIGMOD — public): over the positional gram stream
    * ([[posGrams]]), every full window of `w` consecutive gram positions
    * selects its minimum-hash gram, ties broken to the RIGHTMOST
    * position; the fingerprint set is the distinct selected positions.
    * Implemented without per-window state via one composite-key window
    * min: e = (gk mod 2⁴⁰)·2²⁰ + (2²⁰−1−pos) — min(e) picks the smallest
    * 40-bit hash and, among equal hashes, the largest pos. [[TextHash.h1]]
    * is a non-negative 60-bit value, so the mod-2⁴⁰ reduction and the
    * decode are exact; positions are bounded by 2²⁰ grams/doc (disclosed
    * — a longer doc would need a wider position field). Returns
    * (doc_id, spos, gk) — the winning gram's full 60-bit hash rides
    * along via min_by (e is injective within a doc: distinct pos ⇒
    * distinct e, so the argmin row is unique and min_by deterministic),
    * which saves [[winnowing]] a gram-grain join back into the stream
    * just to recover the hash (§2.4 remove shuffles outright). */
  private[graft] def winnowedPositions(spark: SparkSession, dir: String,
                                       n: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val enc = posGrams(spark, dir, n).withColumn("e",
      expr(s"(gk % ${1L << 40}) * ${1L << 20} + (${(1L << 20) - 1} - pos)"))
    val fr = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    enc.select(col("doc_id"), count(lit(1)).over(fr).as("c"),
        min_by(struct(col("pos"), col("gk")), col("e")).over(fr).as("mb"))
      .filter(col("c") === w)
      .select(col("doc_id"), col("mb.pos").as("spos"), col("mb.gk").as("gk"))
      .distinct()
  }

  /** X100 winnowing fingerprint audit (q174): per source — docs with a
    * gram stream, total grams, selected fingerprints, selection density
    * in basis points, and the distinct selected hashes an index would
    * store. THE index-size pricing for fingerprint-based near-dup at
    * 100 TB: winnowing guarantees any shared run of ≥ w+n−1 tokens
    * yields a shared fingerprint while storing ~2/(w+1) of the gram
    * stream (expected density 4000 bp at w=4) — this row is that
    * guarantee's bill, next to X2's MinHash (set-similarity, no
    * locality) and X32's full positional index (exact spans, 1:1 rows).
    * Docs shorter than n tokens have no grams (excluded); docs with
    * fewer than w grams contribute grams but no full window, hence no
    * fingerprints (the q170 sub-window convention, disclosed).
    *
    * Scale posture: the gram stream is the PlanCache'd [[posGrams]]
    * fragment shared with q105; the selection window partitions on
    * high-cardinality doc_id and is O(w) per row; selected rows (~2/(w+1)
    * of the stream) join source on doc_id; rollups are per-doc then
    * \|sources\|-row with map-side combine. Gram strings never shuffle —
    * only 8-byte keys and positions. */
  def winnowing(spark: SparkSession, dir: String,
                n: Int = 5, w: Int = 4): DataFrame = {
    val pg = posGrams(spark, dir, n)
    val sel = winnowedPositions(spark, dir, n, w)
    val ds = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val gtot = pg.groupBy(col("doc_id")).agg(count(lit(1)).as("g"))
    val stot = sel.groupBy(col("doc_id")).agg(count(lit(1)).as("s"))
    val perSrc = gtot.join(stot, Seq("doc_id"), "left")
      .withColumn("s", coalesce(col("s"), lit(0L)))
      .join(ds, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("g")).as("n_grams"),
        sum(col("s")).as("n_selected"))
    // gk rides out of the selection window (min_by), so the hash leg
    // reads the selected rows directly — the old shape re-joined the
    // full gram stream on (doc_id, spos) to recover it
    val hashes = sel
      .join(ds, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(countDistinct(col("gk")).as("n_hashes"))
    perSrc.join(hashes, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_grams"), col("n_selected"),
        expr("n_selected * 10000 div n_grams").as("density_bp"),
        coalesce(col("n_hashes"), lit(0L)).as("n_hashes"))
      .orderBy(col("source"))
  }

  def winnowingSql(n: Int = 5, w: Int = 4): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
       |), pg AS (
       |  SELECT doc_id, unnest(
       |    [{'pos': i, 'gk': ${TextHash.h1Sql(s"array_to_string(t[i:i+${n - 1}], ' ')")}}
       |     for i in range(1, len(t) - ${n - 2})], recursive := true)
       |  FROM toks
       |), enc AS (
       |  SELECT doc_id, pos, gk,
       |    (gk % ${1L << 40}) * ${1L << 20} + (${(1L << 20) - 1} - pos) AS e
       |  FROM pg
       |), win AS (
       |  SELECT doc_id, count(*) OVER fr AS c, min(e) OVER fr AS me
       |  FROM enc
       |  WINDOW fr AS (PARTITION BY doc_id ORDER BY pos
       |                ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING)
       |), sel AS (
       |  SELECT DISTINCT doc_id, ${(1L << 20) - 1} - (me % ${1L << 20}) AS spos
       |  FROM win WHERE c = $w
       |), ds AS (
       |  SELECT doc_id, source FROM documents
       |), gtot AS (
       |  SELECT doc_id, count(*)::BIGINT AS g FROM pg GROUP BY 1
       |), stot AS (
       |  SELECT doc_id, count(*)::BIGINT AS s FROM sel GROUP BY 1
       |), agg AS (
       |  SELECT ds.source, count(*)::BIGINT AS n_docs, sum(g)::BIGINT AS n_grams,
       |    sum(coalesce(s, 0))::BIGINT AS n_selected,
       |    (sum(coalesce(s, 0)) * 10000 // sum(g))::BIGINT AS density_bp
       |  FROM gtot JOIN ds USING (doc_id) LEFT JOIN stot USING (doc_id)
       |  GROUP BY 1
       |), hs AS (
       |  SELECT ds.source, count(DISTINCT gk)::BIGINT AS n_hashes
       |  FROM sel JOIN pg ON pg.doc_id = sel.doc_id AND pg.pos = sel.spos
       |  JOIN ds ON ds.doc_id = sel.doc_id
       |  GROUP BY 1
       |)
       |SELECT agg.source, n_docs, n_grams, n_selected, density_bp,
       |  coalesce(hs.n_hashes, 0)::BIGINT AS n_hashes
       |FROM agg LEFT JOIN hs ON hs.source = agg.source
       |ORDER BY agg.source""".stripMargin

  /** Readability profile (q177): per source, the classic surface
    * readability statistics in exact integer units — words/doc,
    * chars/word and syllables/word in milli-units, the Gunning complex-
    * word (≥3 syllables) share in basis points, and the two standard
    * composite scores: Flesch Reading Ease (Flesch 1948) and the Gunning
    * Fog index (Gunning 1952), both in milli-units. Syllables use the
    * standard vowel-group proxy (runs of [aeiou], min 1 per word —
    * exact for the driver vocabulary, the documented approximation for
    * real English). The corpus has no sentence delimiters, so sentence
    * := document (words/sentence = words/doc); on punctuated text a
    * sentence splitter would slot in where n_docs enters the formula.
    * A quality-filter pipeline reads this beside the q17 heuristic and
    * q140 perplexity: FRE far below a source's peers flags
    * machine-generated or OCR-mangled text the stopword ratio misses.
    *
    * Scale posture: the corpus collapses ONCE to the (source, word)
    * histogram with map-side combine (PlanCache'd); the syllable regex
    * runs on vocabulary TYPES, not corpus tokens (the q173 histogram
    * rule); the fold is a |sources|-row rollup. The 84600·Σsyl products
    * ride decimal(38,0)/HUGEINT (the q151 rule); every division is a
    * single exact integer div on positive operands, so truncation is
    * engine-identical. */
  def readabilityProfile(spark: SparkSession, dir: String): DataFrame = {
    val hist = graft.PlanCache.cached(spark, s"textanalysis.srcWordHist:$dir") {
      Tables.documents(spark, dir)
        .select(col("source"), explode(TextHash.tokens(col("text"))).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
    }
    val sy = hist
      .withColumn("syl", greatest(lit(1L),
        (length(regexp_replace(col("w"), "[aeiou]+", "v")) -
          length(regexp_replace(col("w"), "[aeiou]+", ""))).cast("long")))
      .withColumn("chars", length(col("w")).cast("long"))
    val agg = sy.groupBy(col("source")).agg(
      sum(col("cnt")).as("n_words"),
      sum(col("chars") * col("cnt")).as("n_chars"),
      sum(col("syl") * col("cnt")).as("n_syll"),
      sum(when(col("syl") >= 3, col("cnt")).otherwise(0L)).as("n_complex"))
    val docs = Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    docs.join(agg, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_words"),
        expr("n_words * 1000 div n_docs").as("words_per_doc_milli"),
        expr("n_chars * 1000 div n_words").as("chars_per_word_milli"),
        expr("n_syll * 1000 div n_words").as("syll_per_word_milli"),
        expr("n_complex * 10000 div n_words").as("complex_bp"),
        expr("206835 " +
          "- cast(cast(1015 as decimal(38,0)) * n_words div n_docs as bigint) " +
          "- cast(cast(84600 as decimal(38,0)) * n_syll div n_words as bigint)")
          .as("fre_milli"),
        expr("cast(cast(400 as decimal(38,0)) * n_words div n_docs as bigint) " +
          "+ cast(cast(40000 as decimal(38,0)) * n_complex div n_words as bigint)")
          .as("fog_milli"))
      .orderBy(col("source"))
  }

  def readabilityProfileSql: String =
    """WITH h AS (
      |  SELECT source, w, count(*)::BIGINT AS cnt
      |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS w
      |        FROM documents)
      |  GROUP BY 1, 2
      |), sy AS (
      |  SELECT source, cnt, length(w)::BIGINT AS chars,
      |    greatest(1, length(regexp_replace(w, '[aeiou]+', 'v', 'g'))
      |      - length(regexp_replace(w, '[aeiou]+', '', 'g')))::BIGINT AS syl
      |  FROM h
      |), agg AS (
      |  SELECT source, sum(cnt)::BIGINT AS n_words,
      |    sum(chars * cnt)::BIGINT AS n_chars,
      |    sum(syl * cnt)::BIGINT AS n_syll,
      |    sum(CASE WHEN syl >= 3 THEN cnt ELSE 0 END)::BIGINT AS n_complex
      |  FROM sy GROUP BY 1
      |), d AS (
      |  SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1
      |)
      |SELECT d.source, n_docs, n_words,
      |  (n_words * 1000 // n_docs)::BIGINT AS words_per_doc_milli,
      |  (n_chars * 1000 // n_words)::BIGINT AS chars_per_word_milli,
      |  (n_syll * 1000 // n_words)::BIGINT AS syll_per_word_milli,
      |  (n_complex * 10000 // n_words)::BIGINT AS complex_bp,
      |  206835 - (1015::HUGEINT * n_words // n_docs)::BIGINT
      |    - (84600::HUGEINT * n_syll // n_words)::BIGINT AS fre_milli,
      |  (400::HUGEINT * n_words // n_docs)::BIGINT
      |    + (40000::HUGEINT * n_complex // n_words)::BIGINT AS fog_milli
      |FROM d JOIN agg USING (source) ORDER BY d.source""".stripMargin

  // ---- X128: BPE first-merge election (q202) -------------------------------

  /** X128 BPE first-merge election (q202): per language, the top-k most
    * frequent adjacent CHARACTER pairs inside tokens — exactly the
    * statistic byte-pair encoding greedily merges first (Sennrich et
    * al. 2016, arXiv:1508.07909). The "what would this tokenizer learn
    * from MY corpus" read: the first merges define the vocabulary's
    * bottom layer, and a per-language split shows which scripts/
    * digraphs dominate each ingest stream (compare with the X19
    * fairness and X31 coverage audits downstream). Ties break on the
    * pair string, so the election is total and engine-identical.
    *
    * Scale posture: the pair stream is a bounded-fanout per-token
    * expression (length−1 pairs per token — the q73 gram-stream rule);
    * it collapses immediately to (lang, pair) cells with map-side
    * combine, and the CELL table is alphabet²-bounded — the ranking
    * window partitions on lang over those audit-sized cells, never
    * over the corpus. */
  def bpeFirstMerges(spark: SparkSession, dir: String,
                     k: Int = 10): DataFrame = {
    require(k > 0, s"bpeFirstMerges: k must be positive ($k)")
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.documents(spark, dir)
      .select(col("lang"), explode(TextHash.tokens(col("text"))).as("t"))
      .filter(length(col("t")) >= 2)
      .select(col("lang"), explode(
        expr("transform(sequence(1, length(t) - 1), i -> substr(t, i, 2))"))
        .as("pair"))
      .groupBy(col("lang"), col("pair")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("pair"))
    cells.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank"), col("pair"), col("cnt"))
      .orderBy(col("lang"), col("rank"))
  }

  def bpeFirstMergesSql(k: Int = 10): String =
    s"""WITH toks AS (
       |  SELECT lang, unnest(string_split(lower(text), ' ')) AS t
       |  FROM documents
       |), pairs AS (
       |  SELECT lang, unnest(list_transform(range(1, length(t)),
       |    i -> substr(t, i, 2))) AS pair
       |  FROM toks WHERE length(t) >= 2
       |), c AS (
       |  SELECT lang, pair, count(*)::BIGINT AS cnt FROM pairs GROUP BY 1, 2
       |), r AS (
       |  SELECT lang, pair, cnt,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY cnt DESC, pair) AS rank
       |  FROM c
       |)
       |SELECT lang, rank::BIGINT AS rank, pair, cnt
       |FROM r WHERE rank <= $k ORDER BY lang, rank""".stripMargin

  // ---- X194: BPE merge ladder (q268) ----------------------------------------

  /** Number of synchronized BPE merge steps the ladder runs (q268). Six
    * steps cover the vocabulary's whole bottom layer on the synthetic
    * corpus while keeping the unrolled DuckDB oracle chain readable. */
  val BpeLadderSteps = 6

  /** X194 BPE merge ladder (q268): per language, the first `k`
    * SYNCHRONIZED byte-pair-encoding merges — the actual greedy training
    * loop (Sennrich et al. 2016, arXiv:1508.07909), not just the first
    * election q202 reports. Step t counts adjacent SYMBOL pairs over the
    * current segmentation (weighted by word-type frequency), elects the
    * most frequent pair (ties break on the pair), merges it
    * left-to-right non-overlapping in every word, and repeats. The
    * output is each language's merge table prefix — the exact artifact
    * a tokenizer trainer ships.
    *
    * Cross-engine exactness: a word's segmentation rides as ONE string
    * with every symbol wrapped in `chr(31)` sentinels
    * (`␟a␟␟b␟␟c␟`), so a merge is a plain `replace()` of
    * `␟a␟␟b␟` with `␟ab␟` — both engines' replace() scans
    * left-to-right and resumes AFTER the replacement, which IS BPE's
    * greedy non-overlap rule (aaaa → aa,aa; aaa → aa,a), and the
    * double-sentinel boundary means a pattern can never match across a
    * symbol boundary or re-use a consumed sentinel. Tokens containing
    * the sentinel byte are excluded identically in both engines.
    *
    * Scale posture: step 0 collapses the corpus to WORD TYPES per
    * language (one pass, map-side combine — BPE's classic type-table
    * trick), and the whole ladder iterates over that vocabulary-sized
    * table: per step one pair-count shuffle over (lang, a, b) cells, a
    * per-lang top-1 window over audit-sized cells, and a broadcast
    * (≤|langs| rows) merge join. Each iterate is referenced twice
    * (pair count + merge), so every step is a PlanCache seam keyed by
    * its step (the q64/q261 materialization rule; the oracle marks each
    * step's CTE `AS MATERIALIZED`). A step's seams depend on the step,
    * not on `k`, so ladders of different lengths share their rungs. */
  def bpeMergeLadder(spark: SparkSession, dir: String,
                     k: Int = BpeLadderSteps): DataFrame = {
    require(k > 0, s"bpeMergeLadder: k must be positive ($k)")
    val sep = "\u001f"
    var types = graft.PlanCache.cached(spark, s"textanalysis.bpeTypes:$dir:step0") {
      Tables.documents(spark, dir)
        .select(col("lang"), explode(TextHash.tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 1 && !col("w").contains(sep))
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
        .select(col("lang"), col("cnt"),
          concat(lit(sep),
            array_join(expr("transform(sequence(1, length(w)), " +
              "i -> substr(w, i, 1))"), sep + sep),
            lit(sep)).as("ws"))
    }
    var winners = Vector.empty[DataFrame]
    for (step <- 1 to k) {
      val pairs = types
        .select(col("lang"), col("cnt"),
          split(expr("substr(ws, 2, length(ws) - 2)"),
            java.util.regex.Pattern.quote(sep + sep)).as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("lang"), col("cnt"),
          explode(expr("transform(sequence(1, size(sy) - 1), " +
            "i -> named_struct('a', element_at(sy, i), " +
            "'b', element_at(sy, i + 1)))")).as("p"))
        .select(col("lang"), col("cnt"),
          col("p.a").as("a"), col("p.b").as("b"))
      // ROUND-18 SHAVE (§2.4): the per-lang top-1 used to be a window
      // (lang exchange + sort + row_number + filter); it is now the
      // lexicographic struct-min fold the argmax elections elsewhere
      // use (min_by on (-pcnt, a, b) — count desc, pair asc; (a, b) is
      // unique per lang so the election is deterministic), riding a
      // plain map-side-combinable aggregation with no sort.
      val win = graft.PlanCache.cached(spark, s"textanalysis.bpeWin:$dir:step$step") {
        pairs
          .groupBy(col("lang"), col("a"), col("b"))
          .agg(sum(col("cnt")).as("pcnt"))
          .groupBy(col("lang"))
          .agg(min_by(struct(col("a"), col("b"), col("pcnt")),
            struct((lit(0L) - col("pcnt")).as("np"), col("a"), col("b")))
            .as("m"))
          .select(col("lang"), col("m.a").as("a"), col("m.b").as("b"),
            col("m.pcnt").as("pcnt"))
      }
      winners = winners :+ win.withColumn("step", lit(step.toLong))
      // ROUND-18 SHAVE: the merged segmentation after the LAST rung is
      // never read (only the winners are) — skip its join + seam
      // entirely (was one dead corpus-vocab replace pass + one dead
      // plan compilation per run).
      if (step < k) types = graft.PlanCache.cached(spark, s"textanalysis.bpeTypes:$dir:step$step") {
        types
          .join(broadcast(win.select(col("lang"), col("a"), col("b"))),
            Seq("lang"), "left")
          .select(col("lang"), col("cnt"),
            when(col("a").isNull, col("ws")).otherwise(
              expr("replace(ws, concat(char(31), a, char(31), char(31), " +
                "b, char(31)), concat(char(31), a, b, char(31)))")).as("ws"))
      }
    }
    winners.reduce(_ unionByName _)
      .select(col("lang"), col("step"), col("a").as("left_sym"),
        col("b").as("right_sym"), concat(col("a"), col("b")).as("merged"),
        col("pcnt").as("cnt"))
      .orderBy(col("lang"), col("step"))
  }

  def bpeMergeLadderSql(k: Int = BpeLadderSteps): String = {
    def step(i: Int): String = {
      val prev = s"ty${i - 1}"
      s"""p$i AS MATERIALIZED (
         |  SELECT lang, u.a AS a, u.b AS b, sum(cnt)::BIGINT AS pcnt FROM (
         |    SELECT lang, cnt, unnest(list_transform(range(1, len(sy)),
         |      i -> {'a': sy[i], 'b': sy[i + 1]})) AS u FROM (
         |      SELECT lang, cnt, string_split(substr(ws, 2, length(ws) - 2),
         |        chr(31) || chr(31)) AS sy
         |      FROM $prev)
         |  ) GROUP BY 1, 2, 3
         |), w$i AS MATERIALIZED (
         |  SELECT lang, a, b, pcnt FROM (
         |    SELECT lang, a, b, pcnt, row_number() OVER (PARTITION BY lang
         |      ORDER BY pcnt DESC, a, b) AS rn FROM p$i) WHERE rn = 1
         |), ty$i AS MATERIALIZED (
         |  SELECT t.lang, t.cnt,
         |    CASE WHEN w.lang IS NULL THEN t.ws ELSE replace(t.ws,
         |      chr(31) || w.a || chr(31) || chr(31) || w.b || chr(31),
         |      chr(31) || w.a || w.b || chr(31)) END AS ws
         |  FROM $prev t LEFT JOIN w$i w USING (lang)
         |)""".stripMargin
    }
    val steps = (1 to k).map(step).mkString(", ")
    val sel = (1 to k)
      .map(i => s"SELECT lang, ${i}::BIGINT AS step, a, b, pcnt FROM w$i")
      .mkString("\n    UNION ALL\n    ")
    s"""WITH t0 AS (
       |  SELECT lang, w, count(*)::BIGINT AS cnt FROM (
       |    SELECT lang, unnest(string_split(lower(text), ' ')) AS w
       |    FROM documents
       |  ) WHERE length(w) >= 1 AND NOT contains(w, chr(31))
       |  GROUP BY 1, 2
       |), ty0 AS MATERIALIZED (
       |  SELECT lang, cnt,
       |    chr(31) || array_to_string(list_transform(
       |      range(1, length(w) + 1), i -> substr(w, i, 1)),
       |      chr(31) || chr(31)) || chr(31) AS ws
       |  FROM t0
       |), $steps
       |SELECT lang, step, a AS left_sym, b AS right_sym,
       |  a || b AS merged, pcnt AS cnt
       |FROM (
       |    $sel
       |) ORDER BY lang, step""".stripMargin
  }

  // ---- X146: term position-bias audit (q220) --------------------------------

  /** X146 term position-bias audit (q220): for the corpus's top-k
    * terms, WHERE in their documents they occur — mean relative
    * position in milli (0 = document start, 999 = end) and the share of
    * occurrences in the leading third (bp). The positional companion to
    * q53's TF-IDF and q134's collocations: frequency says WHAT a corpus
    * repeats, this says WHERE — a term front-loaded at 10× the uniform
    * rate is template/boilerplate structure (headers, ledes), and a
    * corpus whose content terms all sit in the leading third teaches a
    * model the summarization lead bias the Gopher/C4 analyses warn
    * about. Uniform placement reads mean ≈ 500, front ≈ 3333 bp.
    *
    * All integer: relative position = pos·1000 div n_tokens (0-based
    * posexplode ≡ DuckDB's zipped unnest(range)); means and shares are
    * single divisions by occurrence counts.
    *
    * Scale posture: ONE corpus pass fans tokens out with their
    * positions and collapses straight to per-term cells (map-side
    * combine, vocabulary-sized — the q163 histogram rule); the top-k
    * rides TakeOrderedAndProject over cells, never a corpus sort. */
  def termPositionBias(spark: SparkSession, dir: String,
                       k: Int = 10): DataFrame = {
    val occ = Tables.documents(spark, dir)
      .select(TextHash.tokens(col("text")).as("toks"))
      .select(posexplode(col("toks")).as(Seq("pos", "tok")),
        size(col("toks")).as("n"))
      .select(col("tok"), expr("pos * 1000 div n").as("rel"))
    occ.groupBy(col("tok"))
      .agg(count(lit(1)).as("n_occ"), sum(col("rel")).as("sum_rel"),
        sum(when(col("rel") < 333, 1L).otherwise(0L)).as("front"))
      .orderBy(col("n_occ").desc, col("tok"))
      .limit(k)
      .select(col("tok").as("term"), col("n_occ"),
        expr("sum_rel div n_occ").as("mean_pos_milli"),
        expr("front * 10000 div n_occ").as("front_share_bp"))
      .orderBy(col("n_occ").desc, col("term"))
  }

  def termPositionBiasSql(k: Int = 10): String =
    s"""WITH toks AS (
       |  SELECT string_split(lower(text), ' ') AS l FROM documents
       |), occ AS (
       |  SELECT unnest(l) AS tok,
       |    unnest(range(len(l))) * 1000 // len(l) AS rel
       |  FROM toks
       |), cells AS (
       |  SELECT tok, count(*)::BIGINT AS n_occ,
       |    sum(rel)::BIGINT AS sum_rel,
       |    sum(CASE WHEN rel < 333 THEN 1 ELSE 0 END)::BIGINT AS front
       |  FROM occ GROUP BY 1
       |), top AS (
       |  SELECT * FROM cells ORDER BY n_occ DESC, tok LIMIT $k
       |)
       |SELECT tok AS term, n_occ,
       |  (sum_rel // n_occ)::BIGINT AS mean_pos_milli,
       |  (front * 10000 // n_occ)::BIGINT AS front_share_bp
       |FROM top ORDER BY n_occ DESC, term""".stripMargin

  // ---- X161: term source-dispersion audit (q235) ----------------------------

  /** X161 term source-dispersion audit (q235, Gries 2008): for the
    * corpus's top-k terms, how unevenly their occurrences spread across
    * SOURCES — the exact total-variation distance (bp) between the
    * term's source distribution and the corpus's source token masses,
    * plus its single heaviest source share. The provenance companion to
    * q220's positional read: frequency says WHAT repeats, position says
    * WHERE in a document, dispersion says WHERE IN THE CORPUS — a
    * frequent term with high dp_bp is source-local vocabulary
    * (boilerplate, domain jargon, a crawl artifact) that q53's global
    * TF-IDF under-weights and a deduped mixture inherits verbatim,
    * while dp_bp ≈ 0 is corpus-wide (function-word-like) usage. Gries'
    * DP statistic, on the integer bp grid.
    *
    * Scale posture: ONE corpus pass collapses tokens to (term, source)
    * cells (map-side combine, vocabulary×sources-sized — the q163
    * histogram rule); the top-k election rides TakeOrderedAndProject
    * over term totals; the deviation grid is k·|sources| rows built
    * from broadcast tiny sides; every share floors on the bp grid
    * identically in both engines. */
  def termDispersion(spark: SparkSession, dir: String,
                     k: Int = 25): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .select(col("source"), explode(TextHash.tokens(col("text"))).as("tok"))
      .groupBy(col("tok"), col("source")).agg(count(lit(1)).as("cnt"))
    val srcTot = cells.groupBy(col("source")).agg(sum(col("cnt")).as("stok"))
    val corpus = srcTot.agg(sum(col("stok")).as("ctok"))
    val top = cells.groupBy(col("tok")).agg(sum(col("cnt")).as("ttot"))
      .orderBy(col("ttot").desc, col("tok")).limit(k)
    val topCells = cells.join(broadcast(top.select(col("tok"))), Seq("tok"))
    top.crossJoin(srcTot)
      .join(topCells, Seq("tok", "source"), "left")
      .crossJoin(broadcast(corpus))
      .select(col("tok"), col("ttot"),
        coalesce(col("cnt"), lit(0L)).as("cobs"),
        expr("coalesce(cnt, 0L) * 10000 div ttot").as("a_bp"),
        expr("stok * 10000 div ctok").as("b_bp"))
      .groupBy(col("tok"), col("ttot"))
      .agg(sum(when(col("cobs") > 0, 1L).otherwise(0L)).as("n_sources"),
        max(col("a_bp")).as("top_source_bp"),
        sum(abs(col("a_bp") - col("b_bp"))).as("sad"))
      .select(col("tok").as("term"), col("ttot").as("n_occurrences"),
        col("n_sources"), col("top_source_bp"),
        expr("sad div 2").as("dp_bp"))
      .orderBy(col("dp_bp").desc, col("term"))
  }

  def termDispersionSql(k: Int = 25): String =
    s"""WITH cells AS (
       |  SELECT tok, source, count(*)::BIGINT AS cnt FROM (
       |    SELECT source, unnest(string_split(lower(text), ' ')) AS tok
       |    FROM documents
       |  ) GROUP BY 1, 2
       |), src AS (
       |  SELECT source, sum(cnt)::BIGINT AS stok FROM cells GROUP BY 1
       |), corpus AS (
       |  SELECT sum(stok)::BIGINT AS ctok FROM src
       |), top AS (
       |  SELECT tok, sum(cnt)::BIGINT AS ttot FROM cells GROUP BY 1
       |  ORDER BY ttot DESC, tok LIMIT $k
       |), grid AS (
       |  SELECT t.tok, t.ttot, coalesce(c.cnt, 0)::BIGINT AS cobs,
       |    (coalesce(c.cnt, 0) * 10000 // t.ttot)::BIGINT AS a_bp,
       |    (s.stok * 10000 // corpus.ctok)::BIGINT AS b_bp
       |  FROM top t CROSS JOIN src s CROSS JOIN corpus
       |  LEFT JOIN cells c ON c.tok = t.tok AND c.source = s.source
       |)
       |SELECT tok AS term, ttot AS n_occurrences,
       |  sum(CASE WHEN cobs > 0 THEN 1 ELSE 0 END)::BIGINT AS n_sources,
       |  max(a_bp)::BIGINT AS top_source_bp,
       |  (sum(abs(a_bp - b_bp)) // 2)::BIGINT AS dp_bp
       |FROM grid GROUP BY 1, 2 ORDER BY dp_bp DESC, term""".stripMargin
}
