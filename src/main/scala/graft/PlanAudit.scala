package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Programmatic scale-red-flag audit of a DataFrame's physical plan —
  * the same checks PlanAuditSpec sweeps every declared query with,
  * exposed so users can gate THEIR queries before a 100 TB run:
  *
  * {{{
  * val flags = graft.PlanAudit.redFlags(myQuery)
  * require(flags.isEmpty, flags.mkString("; "))
  * }}}
  *
  * These are the plan shapes that stay invisible at test scale and
  * explode at 1000 executors: an unbounded all-pairs join, a broadcast
  * nested-loop whose build side isn't provably tiny, and a window
  * sorting the whole dataset in one task.
  */
object PlanAudit {

  /** Red-flag strings for `df`'s executed plan (empty = clean).
    * `allowBnlj`: pass true when the query provably broadcasts a tiny
    * side (query-point sets, centroid tables, calendar dimensions) —
    * the audit can see the operator but not the cardinality proof. */
  def redFlags(df: DataFrame, allowBnlj: Boolean = false): Seq[String] = {
    val nodes = planLines(df)
    val flags = Seq.newBuilder[String]
    if (nodes.exists(_._2.contains("CartesianProduct")))
      flags += "CartesianProduct: unbounded all-pairs join — never survives scale"
    if (!allowBnlj && nodes.exists(_._2.contains("BroadcastNestedLoopJoin")))
      flags += ("BroadcastNestedLoopJoin: verify the broadcast side is " +
        "provably tiny (or pass allowBnlj = true once proven)")
    // a Window is a red flag only when ITS OWN input collapses to one
    // partition — an unrelated 1-row scalar aggregate elsewhere in the
    // plan also prints "Exchange SinglePartition", so substring
    // co-occurrence alone would false-positive (q122: a user_id-keyed
    // lag window + a broadcast scalar total in one plan). Walk each
    // Window's subtree and inspect the first Exchange feeding it.
    val badWindow = nodes.exists { case (n, s) =>
      s.contains("Window [") &&
        org.apache.spark.sql.graft.bridge.planNodes(n).drop(1)
          .map(nodeLine)
          .find(_.contains("Exchange"))
          .exists(_.contains("SinglePartition"))
    }
    if (badWindow)
      flags += "Window over SinglePartition: whole-dataset single-task sort"
    flags.result()
  }

  /** One (node, description-line) pair per node of `df`'s executed plan
    * tree — AQE wrappers and query stages unwrapped, cached
    * (InMemoryRelation) build subtrees EXCLUDED. The earlier treeString
    * line parsing broke on materialized caches: their inner AQE
    * "== Final/Initial Plan ==" sections print at arbitrary indentation
    * and leaked cached work into this query's counts (q217 showed 39
    * phantom scans). Walking the node tree makes the cache boundary
    * structural: InMemoryTableScan is a leaf. */
  private def planLines(df: DataFrame): Seq[(SparkPlan, String)] =
    org.apache.spark.sql.graft.bridge
      .planNodes(df.queryExecution.executedPlan)
      .map(n => (n, nodeLine(n)))

  private def nodeLine(n: SparkPlan): String = n.simpleString(150)

  /** One line per `WindowExec` / `WindowGroupLimitExec` with an EMPTY
    * partition spec in `df`'s executed plan (empty = clean). Such a
    * window moves its whole input to one task ("No Partition Defined"),
    * fine for an audit-grain fold and fatal for a corpus-grain one.
    * Unlike [[redFlags]], the walk descends into cached build plans:
    * PlanCache seams are where single-partition windows used to hide, and
    * a seam's window runs once per session no matter who pays for it.
    * Each line names the window functions (or group-limit rank) and the
    * window's child; a `cached:` prefix marks a seam subtree. */
  def unpartitionedWindows(df: DataFrame): Seq[String] = {
    def walk(p: SparkPlan, tag: String): Seq[String] =
      org.apache.spark.sql.graft.bridge.planNodes(p).flatMap {
        case s: InMemoryTableScanExec =>
          walk(s.relation.cachedPlan, s"cached:$tag")
        case w: WindowExec if w.partitionSpec.isEmpty =>
          Seq(s"$tag${w.windowExpression.map(_.sql.take(80)).mkString("; ")}" +
            s" | child: ${w.child.simpleString(100)}")
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          Seq(s"${tag}group-limit rank<=${w.limit}" +
            s" | child: ${w.child.simpleString(100)}")
        case _ => Nil
      }
    walk(df.queryExecution.executedPlan, "")
  }

  /** A `broadcast()` whose build-side size is an ENFORCED claim, not a
    * prose comment. Production behavior is exactly the plain broadcast
    * hint (zero overhead — no count, no extra job); when the
    * `graft.boundedCheck` system property is set (PlanAuditSpec's
    * bounded-broadcast sweep), each call also registers (tag, unhinted
    * side, claimed max rows) so the sweep can materialize the side and
    * FAIL on any claim the data does not honor. This turns
    * [[AllowedBnlj]] prose cardinality arguments into checked facts for
    * every migrated site ([[BoundedBnlj]]): a future edit that grows a
    * "1-row scalar" into a corpus-sized side breaks the spec instead of
    * passing the gate silently. */
  object Bounded {
    final case class Claim(tag: String, side: DataFrame, maxRows: Long)
    private val reg = new java.util.concurrent.ConcurrentLinkedQueue[Claim]
    private def checking: Boolean =
      sys.props.get("graft.boundedCheck").contains("true")
    def claims(): Seq[Claim] = {
      import scala.jdk.CollectionConverters._
      reg.asScala.toSeq
    }
    def reset(): Unit = reg.clear()
    def broadcastBounded(tag: String, df: DataFrame, maxRows: Long): DataFrame = {
      require(maxRows > 0, s"boundedBroadcast($tag): non-positive bound")
      if (checking) reg.add(Claim(tag, df, maxRows))
      org.apache.spark.sql.functions.broadcast(df)
    }
  }

  /** [[AllowedBnlj]] entries whose broadcast sides have been migrated to
    * [[Bounded.broadcastBounded]] — their cardinality arguments are
    * CHECKED by PlanAuditSpec's sweep (claims registered at plan-build
    * time, sides materialized and compared to the claimed bound), not
    * just stated in the comments above. Grows as sites migrate. */
  val BoundedBnlj: Set[String] = Set(
    "q150_join_forecast",
    "q154_source_lang_mi",
    "q236_error_recovery",
    "q237_u_attribution",
    "q239_bot_regularity",
    "q240_modality_coverage",
    "q242_hll_mergeability",
    "q244_mg_mergeability",
    "q245_neyman_allocation",
    "q247_markov_backtest",
    "q256_components",
    "q258_chi2_independence",
    "q261_markov_stationary",
    "q263_order_backlog",
    "q266_auc_audit",
    "q269_calibration",
    "q270_brier",
    "q272_kaplan_meier",
    "q274_isotonic",
    "q275_cmh_ab",
    "q277_kcore")

  /** Declared queries whose plans legitimately carry a
    * BroadcastNestedLoopJoin: every one broadcasts a provably tiny side
    * (query-point sets, centroid tables, single-row counts, a
    * calendar-bounded dimension) — audited in PLANS.md, enforced by
    * PlanAuditSpec, and consumed by [[snapshotJson]] so the artifact and
    * the test gate share one allow-list. */
  val AllowedBnlj: Set[String] = Set(
    "q23_cosine_topk", "q24_ann_lsh", "q25_embedding_neardup",
    "q36_label_centroids", "q37_ivf_topk", "q48_ivf_multiprobe",
    "q45_contamination", "q50_contamination_bloom", "q53_tfidf_topterms",
    "q66_quantization_audit", "q70_pq_adc",
    // (q76/q145 left this list in round 18: their WAU range join is now
    // a bounded explode + broadcast equi-join, no nested loop)
    // q147's prefix sums are the q108 triangle theta-join over the
    // broadcast 4-row quarters table
    "q147_vocab_growth",
    // q150 crossJoins the broadcast SINGLE-ROW (total_pairs, n_keys)
    // scalar onto the k-row election — the q135 shape
    "q150_join_forecast",
    // q151 fans the per-source histogram over the broadcast
    // |sources|-row dimension (the KL pair space) plus the 1-row vocab
    // scalar — both provably tiny sides
    "q151_domain_kl",
    // q154 crossJoins the broadcast SINGLE-ROW corpus-total scalar onto
    // the |sources|·|langs| cell table — the q84/q90 audited shape
    "q154_source_lang_mi",
    // q155's rank and cumulative folds are the q108/q147 broadcast
    // triangle theta-joins over the |sources|-row table
    "q155_novelty_election",
    // q158's pair fan-out is a broadcast triangle cross over the
    // |sources|-row sketch table (k·|sources| longs)
    "q158_sketch_overlap",
    // q166's pair fan-out and census×pairs join are broadcast crosses
    // over the ≤2·RrfPool-row fused pool / single-row aggregates
    "q166_rank_agreement",
    // q175 crossJoins the broadcast SINGLE-ROW purchase-cents total onto
    // the ≤2·|types|-row model legs — the q154 audited scalar shape
    "q175_attribution",
    // q176 crossJoins two broadcast SINGLE-ROW scalars (the reference
    // date, then the 9-cutoff row) onto the per-customer rollup — the
    // q154 audited scalar shape
    "q176_rfm_segments",
    // q179 crossJoins the broadcast SINGLE-ROW session total onto the
    // ≤5-row band table — the q127 audited scalar shape
    "q179_sessionization",
    // q184 crossJoins the broadcast SINGLE-ROW basket total onto the
    // k-row pair election — the q150 audited scalar shape
    "q184_basket_pairs",
    // q212 is q184's triple twin — the same single-row basket-total
    // scalar cross onto the k-row election
    "q212_basket_triples",
    // q216 crossJoins the broadcast SINGLE-ROW session total onto the
    // k-row path election — the q184/q150 audited scalar shape
    "q216_session_paths",
    // q217's bills and election are 1-2-row scalar crosses (step
    // scalars × final scalar × min scalar) — nothing row-scale
    "q217_join_order",
    // q219 crossJoins the broadcast SINGLE-ROW best-candidate scalar
    // onto the 3-row profile — the q150 audited scalar shape
    "q219_shuffle_advisor",
    // q222 crossJoins two broadcast SINGLE-ROW scalars (total, leftover)
    // plus the q167 remainder-ranking triangle over |sources| rows
    "q222_hamilton_alloc",
    // q224 crossJoins the broadcast SINGLE-ROW part total onto the
    // ≤5-row band table — the q127 audited scalar shape
    "q224_copurchase_degrees",
    // q256 crossJoins the broadcast SINGLE-ROW node total onto the
    // ≤5-row band table — the q224 shape, bounded-ENFORCED
    "q256_components",
    // q258 crossJoins the ≤|flags|-row margin, the 1-row corpus scalar
    // and the 1-row χ² stat onto the ≤15-cell contingency grid — all
    // three bounded-ENFORCED
    "q258_chi2_independence",
    // q261 crossJoins the broadcast SINGLE-ROW totals scalar onto the
    // ≤|types|-row stationary table — bounded-ENFORCED
    "q261_markov_stationary",
    // q263's per-year entering offsets are the q233 broadcast triangle
    // over the ≤|years|-row dimension — bounded-ENFORCED
    "q263_order_backlog",
    // q266 crossJoins the broadcast SINGLE-ROW user/purchase totals
    // onto the per-user collapse — the q213 scalar, bounded-ENFORCED
    "q266_auc_audit",
    // q213's cumulative folds are broadcast triangle theta-joins over
    // the distinct-score histogram and the ≤10-row decile table, plus
    // two single-row scalar crosses — the q167/q108 audited shapes
    "q213_decile_gains",
    // q185 crossJoins the broadcast SINGLE-ROW grand total onto the
    // ≤168-row (dow, hour) cell grid
    "q185_seasonality",
    // q188 crossJoins the broadcast SINGLE-ROW signup total onto the
    // 5-interval table — the q130 audited scalar shape
    "q188_conversion_survival",
    // q190 crossJoins the broadcast SINGLE-ROW gap total onto the
    // ≤4-row band table — the q127 audited scalar shape
    "q190_purchase_gaps",
    // q191 crossJoins the broadcast SINGLE-ROW user total onto the
    // 2-row arm table; q192 the dwell total onto ≤|types| rows
    "q191_ab_readout",
    "q192_state_dwell",
    // q194 crossJoins the broadcast SINGLE-ROW vector count onto the
    // anchor stream (the modular negative-partner key)
    "q194_triplet_margin",
    // q196 crossJoins the broadcast SINGLE-ROW user total onto the
    // ≤5-row streak-band table
    "q196_active_streaks",
    // q198's fold-pairing pair counts are a broadcast cross of the
    // ≤cap-row length histogram with itself (≤cap² cells at any corpus
    // scale) plus the 1-row totals scalar
    "q198_packing_election",
    // q200 crossJoins the broadcast SINGLE-ROW min/max bounds onto the
    // fact scan (the q154 scalar shape) and the 16-row predicate table
    // onto the ≤3·64-row chunk-stats table
    "q200_zorder_layout",
    // q203/q206 crossJoin the broadcast SINGLE-ROW calendar-span scalar
    // onto the |types|-row distinct list to build the shared dense grid
    "q203_burst_panel",
    "q206_comovement",
    // q204 crossJoins the broadcast SINGLE-ROW cutoff scalar onto the
    // event stream (the q154 audited scalar shape)
    "q204_incremental_refresh",
    // q207 crossJoins the broadcast SINGLE-ROW midpoint scalar onto the
    // purchase stream; boundary election is the q167 triangle over the
    // audit-sized spend histogram; assignment is a broadcast ≤3-row
    // theta-join per period (the q176 cutoff shape)
    "q207_value_migration",
    // q167's cumulative folds are broadcast triangle theta-joins over
    // the content-bounded length-grid histogram (q108/q147 device)
    "q167_length_drift",
    // q168's cumulative-below fold is the same triangle shape over the
    // (lang, len) histogram
    "q168_token_gini",
    // q83 reuses the IVF k-means (crossJoin over the broadcast KmClusters-
    // row centroid table — same audited shape as q37/q48)
    "q83_semantic_dedup",
    // q84 crossJoins the broadcast SINGLE-ROW (n_total, sum_dl) corpus
    // scalar onto the query-term tf rows — same audited shape as q53
    "q84_bm25_topk",
    // q86 crossJoins two broadcast SINGLE-ROW scalars (the feasibility
    // cap C and the sampled total) onto source-cardinality-sized rows
    "q86_mixture_resample",
    // q89 crossJoins the broadcast label-cardinality centroid table —
    // the audited IVF-assignment shape (q37/q48)
    "q89_label_purity",
    // q90 crossJoins the broadcast SINGLE-ROW corpus-total scalar
    "q90_tokenizer_fairness",
    // q93 composes q23 (3-row query-set cross) + q37/q48 (centroid-table
    // cross) — every BNLJ side is one of those audited tiny tables
    "q93_ann_recall",
    // q209 composes the SAME three ranking plans as q93 (shared truth
    // seam) — identical audited BNLJ sides
    "q209_graded_retrieval",
    // q104 crossJoins the broadcast SINGLE-ROW (total_tokens,
    // n_distinct_terms) corpus scalar onto |K| frontier rows — same
    // audited shape as q84/q90
    "q104_vocab_coverage",
    // q106 crossJoins two broadcast SINGLE-ROW scalars (corpus totals,
    // weight-sum) onto the |sources|-row table — the q86/q100 shape
    "q106_doremi_reweight",
    // q108's water-filling rank/prefix is a strictly-before THETA join
    // of the |langs|-row table against its own broadcast (≤ dozens of
    // rows squared), plus the 1-row crossover/prefix-mass scalars
    "q108_unimax_allocation",
    // q110's exact leg is corpus × broadcast ≤LshProbeMax-row probe
    // table (the q23 sampled-query shape)
    "q110_lsh_recall",
    // q114 crossJoins the broadcast SINGLE-ROW (tot_tokens, tot_w)
    // scalar onto the |langs|-row weight table — the q90/q104 shape
    "q114_temperature_sampling",
    // q117's BM25 leg inherits q84's broadcast SINGLE-ROW corpus-scalar
    // cross (the shared bm25Scores fragment)
    "q117_hybrid_retrieval",
    // q120 crosses the 3-row split-total table with the broadcast
    // (V+1)-row bucket table (the exact-TVD grid) + a 1-row total scalar
    "q120_split_divergence",
    // q121 crosses the ≤4-cell contingency table with its broadcast
    // 1-row total (plus q86's inherited feasibility-cap scalar)
    "q121_gate_ablation",
    // q122 crosses the ≤|types|²-cell transition table with its
    // broadcast 1-row transition total
    "q122_transition_matrix",
    // q125 inherits the IVF k-means centroid-table cross (q37/q48) and
    // crosses its ≤K-row list table with the broadcast 1-row total
    "q125_list_occupancy",
    // q126's cumulative fold is a ≥-theta join of the ≤k+1-row level
    // table against its own broadcast (the q108 windowless device)
    "q126_threshold_curve",
    // q127 crosses the ≤5-row gap-bucket table with its broadcast total
    "q127_session_gaps",
    // q129/q130 cross their ≤|sources|²-cell / ≤5-bucket tables with a
    // broadcast 1-row total (the q121/q122 shape)
    "q129_dup_flow",
    "q130_conversion_latency",
    // q134 crosses the support-floored candidate table with the
    // broadcast SINGLE-ROW token total (the q53/q84 scalar shape)
    "q134_collocations",
    // q135 crosses the ≤k-row heap output with the broadcast 1-row
    // key-count stats
    "q135_skew_keys",
    // q137's legs each cross two SINGLE-ROW count aggregates
    "q137_integrity_audit",
    // q138 crosses the corpus scan with the broadcast 1-row max-id scalar
    "q138_quality_trend",
    // q226 crossJoins the broadcast SINGLE-ROW max-revenue and total
    // scalars onto the part-revenue table, and its cumulative fold is
    // the q167 broadcast triangle over the ≤1001-row permille histogram
    "q226_abc_classes",
    // q227 crossJoins the broadcast SINGLE-ROW anchor-day scalar onto
    // the event stream (the q204 audited scalar shape)
    "q227_churn_labels",
    // q229's quotient ranking is the q222 broadcast triangle over the
    // |sources|·seats-row ladder, plus the 1-row total scalar
    "q229_dhondt_alloc",
    // q230 crossJoins the broadcast SINGLE-ROW global hour-grid scalar
    // onto the |types|-row per-type rollup
    "q230_coverage_gaps",
    // q233 crossJoins the broadcast SINGLE-ROW day-span scalar onto the
    // calendar-bounded per-day peak table
    "q233_peak_concurrency",
    // q234 crossJoins the broadcast SINGLE-ROW elected-depth scalar
    // onto the |Planes|-row frontier
    "q234_probe_frontier",
    // q235's deviation grid crosses the broadcast k-row top-term table
    // with the |sources|-row mass table plus the 1-row corpus scalar
    "q235_term_dispersion",
    // q236/q237 cross their ≤4-row outcome / ≤|channels|+1-row credit
    // rollups with a broadcast 1-row total (the q127 scalar shape)
    "q236_error_recovery",
    "q237_u_attribution",
    // q238's lattice algebra is all broadcast crosses/theta-joins over
    // the 8-cuboid table, its 35 subsets, and 1-row top/winner scalars
    "q238_cuboid_election",
    // q239/q240 cross their band / per-lang rollups with a broadcast
    // 1-row total (the q127 scalar shape)
    "q239_bot_regularity",
    "q240_modality_coverage",
    // q242 crosses the |scopes|-row scope list with the broadcast
    // 64-row register grid — both provably tiny (registers per scope
    // are capped at m = 64 by construction)
    "q242_hll_mergeability",
    // q244 crosses the ≤k merged-summary rows with the broadcast 1-row
    // corpus-total scalar (the q127 shape) — bounded-enforced
    "q244_mg_mergeability",
    // q245's Hamilton rank triangles and totals/leftover scalars are all
    // |sources|-row / 1-row broadcasts — every side bounded-enforced
    "q245_neyman_allocation",
    // q247 crosses the |types|-row state table with the bounded-enforced
    // 1-row marginal-election scalar
    "q247_markov_backtest",
    // q269/q270 cross the q213 per-user collapse with the bounded-
    // enforced 1-row totals scalar (the q266 shape), then their ≤10-row
    // bin tables with bounded-enforced 1-row ECE / base-rate scalars
    "q269_calibration",
    "q270_brier",
    // q272 crosses the bounded-enforced 1-row end-of-observation scalar
    // onto the per-user signup collapse (the q154 audited scalar shape)
    "q272_kaplan_meier",
    // q274's minimax triangle crosses three bounded-enforced sides
    // (≤10-row bins ×2, ≤55-row interval-rate table) — the q167
    // triangle family, every side claimed
    "q274_isotonic",
    // q275 crosses the bounded-enforced 1-row CMH summary onto the
    // ≤7-row stratum table (the q247 scalar shape)
    "q275_cmh_ab",
    // q277 crosses the bounded-enforced 1-row node-total scalar onto
    // the |KCoreKs|-row core table (the q256 shape)
    "q277_kcore")

  /** Coarse, diffable shape counts for `df`'s executed plan — the judge's
    * round-over-round "did a shuffle appear / did a broadcast degrade to
    * a sort-merge" diff without re-deriving plans by hand. Counts are
    * operator-line occurrences in the physical plan string; with AQE on,
    * this is the initial plan (runtime re-plans only ever remove
    * exchanges, so the counts are an upper bound). */
  def shape(df: DataFrame): Seq[(String, Int)] = {
    // one description line per plan-tree node, cached build subtrees
    // structurally excluded (see planLines) — counts reflect THIS
    // query's executed work, independent of how many consumers share a
    // cache or whether it materialized
    val lines = planLines(df).map(_._2)
    def n(pred: String => Boolean) = lines.count(pred)
    Seq(
      "shuffle_exchanges" -> n(l => l.contains("Exchange") &&
        !l.contains("BroadcastExchange") && !l.contains("ReusedExchange")),
      "broadcast_exchanges" -> n(_.contains("BroadcastExchange")),
      "broadcast_hash_joins" -> n(_.contains("BroadcastHashJoin")),
      "sort_merge_joins" -> n(_.contains("SortMergeJoin")),
      "shuffled_hash_joins" -> n(_.contains("ShuffledHashJoin")),
      "bnl_joins" -> n(_.contains("BroadcastNestedLoopJoin")),
      "cartesian_products" -> n(_.contains("CartesianProduct")),
      "parquet_scans" -> n(_.contains("Scan parquet")),
      "scans_with_pushed_filters" -> n(l =>
        l.contains("PushedFilters: [") && !l.contains("PushedFilters: []")),
      "window_ops" -> n(_.contains("Window [")),
      "sorts" -> n(_.contains("Sort [")))
  }

  /** Per-query plan-shape snapshot (committed per round as
    * `PLANS_r{N}.json`, written by `graft.App --plans`): for every
    * declared query, the [[redFlags]] plus the [[shape]] counts and the
    * WholeStageCodegen span count. The point is a mechanical
    * round-over-round diff — "q46 gained a shuffle", "q03's broadcast
    * degraded to a sort-merge" — instead of re-deriving plans by hand. */
  def snapshotJson(spark: SparkSession, sfDir: String): String = {
    val entries = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, sfDir)
      val flags = redFlags(df, allowBnlj = AllowedBnlj.contains(name))
      // codegen span count needs a non-AQE plan (the unexecuted adaptive
      // plan hides codegen subtrees): re-instantiate the query with AQE
      // off just for this diagnostic, then restore whatever the session
      // had before (not a hard-coded "true" — Sessions may change it)
      val aqePrior = spark.conf.get("spark.sql.adaptive.enabled")
      val codegenSpans = try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val cg = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
        "Found (\\d+) WholeStageCodegen".r.findFirstMatchIn(cg)
          .map(_.group(1).toInt).getOrElse(0)
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqePrior)
      val shapeJson = (shape(df) :+ ("wholestage_codegen_spans" -> codegenSpans))
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      // full JSON escaper (control chars included), same rules as the
      // oracle artifact — a newline inside a red-flag string must not
      // corrupt PLANS_r{N}.json
      val flagsJson = flags.map(Verify.jsonString).mkString("[", ",", "]")
      s""""$name":{"red_flags":$flagsJson,"shape":$shapeJson}"""
    }
    // pin the artifact to the query set it snapshot: a stale artifact is
    // mechanically detectable against SparkEntry.queries
    val names = SparkEntry.queries.keys.toSeq.sorted
    val meta = s""""_meta":{"n_queries":${names.size},"queries":${
      names.map(Verify.jsonString).mkString("[", ",", "]")}}"""
    (meta +: entries).mkString("{\n", ",\n", "\n}\n")
  }
}
