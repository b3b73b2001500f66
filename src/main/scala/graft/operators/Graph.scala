package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph reads over the co-purchase projection of the order/part
  * bipartite graph (two parts are adjacent iff some order contains
  * both). The edge table derives from q184's per-order sorted part
  * sets, so edge generation is a bounded per-row EXPRESSION — never a
  * corpus self-join — and the graph tables (edges, degrees, node
  * universe) are content-bounded: |parts| nodes, ≤ Σ C(|order|, 2)
  * edges.
  */
object Graph {

  /** The distinct directed co-purchase edge table (u, v), both
    * directions of every unordered pair — PlanCache'd: degrees, the
    * q224 profile and every q225 iteration read it. */
  private def edges(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(spark, s"graph.copurchaseEdges:$dir") {
      val sets = graft.PlanCache.cached(spark,
        s"relational.basketSets:$dir") {
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
          .groupBy(col("okey"))
          .agg(sort_array(collect_set(col("part"))).as("ps"))
      }
      val pairs = sets.select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x, y))))"))
        .as("p"))
        .select(col("p.x").as("u"), col("p.y").as("v"))
        .distinct()
      pairs.unionByName(pairs.select(col("v").as("u"), col("u").as("v")))
    }

  /** The node universe: every part that appears in any basket —
    * includes isolated parts (single-item orders) that carry no edge. */
  private def nodes(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(spark, s"graph.copurchaseNodes:$dir") {
      Tables.lineitem(spark, dir)
        .select(col("l_partkey").as("node")).distinct()
    }


  /** The co-purchase out-degree table (u, d) — the shared round-0 /
    * normalization state of pagerank, the triangle census and k-core.
    * ONE private builder under ONE PlanCache key (ADVICE r17: three
    * call sites used to inline textually identical builders under the
    * shared first-wins key; a drift in one would have silently defined
    * the cached contents for the others). */
  private[graft] def degrees(spark: SparkSession, dir: String): DataFrame =
    graft.PlanCache.cached(spark, s"graph.copurchaseDeg:$dir") {
      edges(spark, dir).groupBy(col("u")).agg(count(lit(1)).as("d"))
    }

  /** X150 co-purchase degree profile (q224): the degree distribution of
    * the co-purchase graph in bands (0 = isolated, then doubling), with
    * part counts and shares — the connectivity read on basket data that
    * q184's pair list can't give: q184 ranks EDGES, this profiles
    * NODES, and the e_ge_8 band is the hub set that makes
    * recommendation fan-out expensive and the a_0 band the long tail no
    * co-purchase model can reach. Degree = distinct co-purchase
    * partners (the directed edge table's out-degree).
    *
    * Scale posture: edges derive from the cached basket sets via a
    * bounded pair expression (the q184 rule — never corpus²); degree is
    * one map-side-combinable collapse of the edge table; the band fold
    * is ≤5 rows + a broadcast scalar. */
  def copurchaseDegrees(spark: SparkSession, dir: String): DataFrame = {
    val deg = edges(spark, dir).groupBy(col("u")).agg(count(lit(1)).as("d"))
    val bands = nodes(spark, dir)
      .join(deg, col("node") === col("u"), "left")
      .select(coalesce(col("d"), lit(0L)).as("d"))
      .groupBy(
        when(col("d") === 0, "a_0")
          .when(col("d") === 1, "b_1")
          .when(col("d") <= 3, "c_2_3")
          .when(col("d") <= 7, "d_4_7")
          .otherwise("e_ge_8").as("degree_band"))
      .agg(count(lit(1)).as("n_parts"), sum(col("d")).as("sum_degree"))
    val tot = bands.agg(sum(col("n_parts")).as("n_tot"))
    bands.crossJoin(broadcast(tot))
      .select(col("degree_band"), col("n_parts"),
        expr("n_parts * 10000 div n_tot").as("share_bp"),
        col("sum_degree"))
      .orderBy(col("degree_band"))
  }

  def copurchaseDegreesSql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
      |), e AS (
      |  SELECT DISTINCT a.part AS u, b.part AS v
      |  FROM items a JOIN items b ON a.okey = b.okey AND a.part <> b.part
      |), deg AS (
      |  SELECT u, count(*)::BIGINT AS d FROM e GROUP BY 1
      |), nd AS (
      |  SELECT DISTINCT part AS node FROM items
      |), banded AS (
      |  SELECT CASE WHEN coalesce(d, 0) = 0 THEN 'a_0'
      |    WHEN d = 1 THEN 'b_1'
      |    WHEN d <= 3 THEN 'c_2_3'
      |    WHEN d <= 7 THEN 'd_4_7'
      |    ELSE 'e_ge_8' END AS degree_band,
      |    coalesce(d, 0) AS d
      |  FROM nd LEFT JOIN deg ON node = u
      |), bands AS (
      |  SELECT degree_band, count(*)::BIGINT AS n_parts,
      |    sum(d)::BIGINT AS sum_degree
      |  FROM banded GROUP BY 1
      |), tot AS (SELECT sum(n_parts)::BIGINT AS n_tot FROM bands)
      |SELECT degree_band, n_parts,
      |  (n_parts * 10000 // tot.n_tot)::BIGINT AS share_bp, sum_degree
      |FROM bands CROSS JOIN tot ORDER BY degree_band""".stripMargin

  /** Synchronized PageRank iterations [[pagerank]] runs — fixed so both
    * engines walk the identical computation. */
  val PrIterations: Int = 3

  /** X151 integer PageRank (q225): [[PrIterations]] synchronized
    * power-iteration steps over the co-purchase graph with dyadic
    * damping d = ½ — prₜ₊₁(v) = 500 + (Σᵤ→ᵥ prₜ(u) div deg(u)) div 2 in
    * exact milli units (Brin & Page 1998; the ½ damping makes every
    * step pure integer division, so both engines land identical
    * BIGINTs — a float 0.85 walk would drift). Top-k parts by final
    * rank: the "structurally central" products whose removal fragments
    * the co-purchase neighborhood — a different head than q184's raw
    * pair counts (a moderately-bought part bridging many baskets
    * outranks a big seller bought alone). Isolated nodes settle at the
    * 500-milli floor and never surface.
    *
    * Scale posture: each iteration is ONE edge-keyed equi-join (rank
    * mass moves along the cached edge table) plus a v-keyed collapse
    * with map-side combine — the classic synchronous Pregel step as
    * plain joins; 3 fixed iterations = 3 bounded shuffle rounds at any
    * scale, no driver-side convergence loop; contributions divide
    * BEFORE summing (floor per edge, deterministic under any engine's
    * addition order). */
  def pagerank(spark: SparkSession, dir: String, k: Int = 15): DataFrame = {
    val e = edges(spark, dir)
    val deg = degrees(spark, dir)
    // degree folded INTO the persisted edge table, pre-partitioned on
    // the join key: the three iterations then reuse ONE clustering of
    // the (content-bounded) edge seam instead of re-exchanging it per
    // step — the rank table is the only per-iteration shuffle, and it
    // is node-grain (r15 verdict ask #6; measured 2.67 -> well under
    // 2 s committed-min territory at sf0.1)
    val e2 = graft.PlanCache.cached(spark, s"graph.edgesDeg:$dir") {
      e.join(deg.select(col("u").as("du"), col("d")), col("u") === col("du"))
        .select(col("u"), col("v"), col("d"))
        .repartition(col("u"))
    }
    val nd = nodes(spark, dir)
    // ROUND-18 SHAVE (§2.4): the walk used to materialize the FULL
    // node-grain pr table every step (nd LEFT JOIN recv — one extra
    // node-keyed exchange + join per iteration) even though the next
    // step only reads pr along edges. A node absent from recv has
    // pr = 500 + 0 div 2 by definition, so the edge join now carries
    // that default inline: step 1 sends the uniform 1000 div d with NO
    // join at all, steps 2..k LEFT-join the edge seam to the previous
    // recv and apply (500 + recv div 2) div d on the spot. The node
    // universe is joined ONCE, on the final read. 3 node-grain
    // exchanges + joins removed; identical integer walk (recv missing
    // ⟺ old pr(u) = 500).
    var recv = e2.select(col("v"), expr("1000 div d").as("contrib"))
      .groupBy(col("v")).agg(sum(col("contrib")).as("recv"))
    for (_ <- 2 to PrIterations) {
      recv = e2.join(recv.select(col("v").as("pu"), col("recv").as("prin")),
          e2("u") === col("pu"), "left")
        .select(col("v"),
          expr("(500L + coalesce(prin, 0L) div 2) div d").as("contrib"))
        .groupBy(col("v")).agg(sum(col("contrib")).as("recv"))
    }
    val pr = nd.join(recv, col("node") === col("v"), "left")
      .select(col("node"),
        expr("500L + coalesce(recv, 0L) div 2").as("pr"))
    pr.join(deg, col("node") === col("u"), "left")
      .select(col("node").as("part"), col("pr").as("pr_milli"),
        coalesce(col("d"), lit(0L)).as("degree"))
      .orderBy(col("pr_milli").desc, col("part"))
      .limit(k)
  }

  /** X172 triangle census (q246): exact triangle counts and clustering
    * coefficients over the co-purchase graph, per q224 degree band —
    * the cohesion read degrees alone can't give (a hub wired to a
    * clique and a hub wired to a star have identical degree rows; only
    * the triangle count separates "communities" from "fan-out"). Band
    * coefficient = Σ per-node triangles ·10⁴ div Σ C(deg, 2) wedges —
    * how often a node's two partners are themselves co-purchased.
    *
    * Scale posture: the classic DEGREE-ORIENTATION device (each
    * undirected edge kept once, low (degree, id) endpoint first) plus
    * the EDGE-WISE intersection formulation: triangles on oriented
    * edge (u,v) = |N⁺(u) ∩ N⁺(v)|, computed in-row against the
    * broadcast forward-adjacency table (content-bounded: |parts| rows
    * × arboricity-bounded forward lists) — the 83M-row wedge
    * materialization a join-based counter pays on this dense graph
    * never exists, and no triangle list is ever exploded: each
    * triangle materializes exactly once, on its BASE edge (the one
    * whose two forward-lists meet), which credits each of the three
    * corners exactly once — u and v by the intersection count, the
    * apexes via the exploded (small) intersection array — so per-node
    * counts are the plain sum of those credits, no division. Wedges
    * are arithmetic on the degree table. Edges/degrees ride the PlanCache'd q224/q225
    * seam (content-bounded — the graph harness pin). */
  def triangleProfile(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir)
    val deg = degrees(spark, dir)
    val ori = graft.PlanCache.cached(spark, s"graph.orientedEdges:$dir") {
      e.join(deg.select(col("u").as("ux"), col("d").as("du")),
          col("u") === col("ux"))
        .join(deg.select(col("u").as("vx"), col("d").as("dv")),
          col("v") === col("vx"))
        .filter(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")))
        .select(col("u"), col("v"))
    }
    val adj = graft.PlanCache.cached(spark, s"graph.fwdAdjacency:$dir") {
      ori.groupBy(col("u")).agg(sort_array(collect_list(col("v"))).as("nb"))
    }
    // each triangle {a,b,c} materializes exactly once, on its BASE edge
    // (the one whose two fwd-lists meet): u and v take credit by count,
    // the third corners by exploding the (small) intersection array
    val triE = ori
      .join(broadcast(adj.select(col("u").as("ua"), col("nb").as("nu"))),
        col("u") === col("ua"))
      .join(broadcast(adj.select(col("u").as("va"), col("nb").as("nv"))),
        col("v") === col("va"), "left")
      .select(col("u"), col("v"),
        expr("array_intersect(nu, coalesce(nv, array()))").as("ws"))
      .select(col("u"), col("v"), col("ws"),
        expr("cast(size(ws) as bigint)").as("te"))
      .filter(col("te") > 0)
    val perNode = triE
      .select(explode(concat(
        expr("array(named_struct('n', u, 't', te), " +
          "named_struct('n', v, 't', te))"),
        expr("transform(ws, w -> named_struct('n', w, 't', 1L))"))).as("x"))
      .groupBy(col("x.n").as("node"))
      .agg(sum(col("x.t")).as("tri"))
    val bands = nodes(spark, dir)
      .join(deg, col("node") === col("u"), "left")
      .join(perNode, Seq("node"), "left")
      .select(coalesce(col("d"), lit(0L)).as("d"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .groupBy(
        when(col("d") === 0, "a_0")
          .when(col("d") === 1, "b_1")
          .when(col("d") <= 3, "c_2_3")
          .when(col("d") <= 7, "d_4_7")
          .otherwise("e_ge_8").as("degree_band"))
      .agg(count(lit(1)).as("n_parts"),
        sum(expr("d * (d - 1) div 2")).as("wedges"),
        sum(col("tri")).as("triangles"))
    bands
      .select(col("degree_band"), col("n_parts"), col("wedges"),
        col("triangles"),
        expr("CASE WHEN wedges > 0 THEN triangles * 10000 div wedges " +
          "ELSE 0L END").as("cc_bp"))
      .orderBy(col("degree_band"))
  }

  def triangleProfileSql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
      |), e AS (
      |  SELECT DISTINCT a.part AS u, b.part AS v
      |  FROM items a JOIN items b ON a.okey = b.okey AND a.part <> b.part
      |), deg AS (
      |  SELECT u, count(*)::BIGINT AS d FROM e GROUP BY 1
      |), nd AS (
      |  SELECT DISTINCT part AS node FROM items
      |), ori AS (
      |  SELECT e.u, e.v, dv.d AS dv
      |  FROM e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v
      |  WHERE du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
      |), tris AS (
      |  SELECT w.a, w.b, w.c
      |  FROM (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |        FROM ori e1 JOIN ori e2 ON e1.u = e2.u
      |        WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)) w
      |  WHERE EXISTS (SELECT 1 FROM ori o WHERE o.u = w.b AND o.v = w.c)
      |), pn AS (
      |  SELECT node, count(*)::BIGINT AS tri
      |  FROM (SELECT a AS node FROM tris
      |        UNION ALL SELECT b FROM tris
      |        UNION ALL SELECT c FROM tris)
      |  GROUP BY 1
      |), banded AS (
      |  SELECT CASE WHEN coalesce(d, 0) = 0 THEN 'a_0'
      |      WHEN d = 1 THEN 'b_1'
      |      WHEN d <= 3 THEN 'c_2_3'
      |      WHEN d <= 7 THEN 'd_4_7'
      |      ELSE 'e_ge_8' END AS degree_band,
      |    coalesce(d, 0) AS d, coalesce(tri, 0) AS tri
      |  FROM nd LEFT JOIN deg ON nd.node = deg.u
      |  LEFT JOIN pn ON pn.node = nd.node
      |), bands AS (
      |  SELECT degree_band, count(*)::BIGINT AS n_parts,
      |    sum(d * (d - 1) // 2)::BIGINT AS wedges,
      |    sum(tri)::BIGINT AS triangles
      |  FROM banded GROUP BY 1
      |)
      |SELECT degree_band, n_parts, wedges, triangles,
      |  (CASE WHEN wedges > 0 THEN triangles * 10000 // wedges
      |    ELSE 0 END)::BIGINT AS cc_bp
      |FROM bands ORDER BY degree_band""".stripMargin

  def pagerankSql(k: Int = 15): String = {
    def step(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT n.node,
         |    500 + coalesce(sum(p.pr // dg.d), 0) // 2 AS pr
         |  FROM nd n
         |  LEFT JOIN e ON e.v = n.node
         |  LEFT JOIN $prev p ON p.node = e.u
         |  LEFT JOIN deg dg ON dg.u = e.u
         |  GROUP BY 1
         |)""".stripMargin
    val steps = (1 to PrIterations)
      .map(i => step(if (i == 1) "pr0" else s"it${i - 1}", s"it$i"))
      .mkString(", ")
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
       |), e AS (
       |  SELECT DISTINCT a.part AS u, b.part AS v
       |  FROM items a JOIN items b ON a.okey = b.okey AND a.part <> b.part
       |), deg AS (
       |  SELECT u, count(*)::BIGINT AS d FROM e GROUP BY 1
       |), nd AS (
       |  SELECT DISTINCT part AS node FROM items
       |), pr0 AS (
       |  SELECT node, 1000::BIGINT AS pr FROM nd
       |), $steps
       |SELECT f.node AS part, f.pr::BIGINT AS pr_milli,
       |  coalesce(dg.d, 0)::BIGINT AS degree
       |FROM it$PrIterations f LEFT JOIN deg dg ON dg.u = f.node
       |ORDER BY pr_milli DESC, part LIMIT $k""".stripMargin
  }

  /** Unrolled propagate+jump rounds the [[componentProfile]] SQL twin
    * runs: each round widens every node's known-min radius to at least
    * 2r+1, so $CcSqlRounds rounds rigorously cover components up to
    * 2^$CcSqlRounds nodes — far past any oracle scale factor. The
    * SPARK side instead runs [[graft.operators.Dedup.propagateLabelsAuto]]
    * to exact convergence, and converged min-labels are canonical (the
    * component's min node id) whatever walk produced them, so the two
    * engines agree by construction. */
  val CcSqlRounds: Int = 15

  /** X182 co-purchase connected components (q256): does the basket
    * graph fall into one giant component or many niches? Degrees
    * (q224), PageRank (q225) and triangles (q246) all read LOCAL
    * structure; this is the global read — min-label propagation over
    * the same cached edge seam (the q64 `propagateLabels` device on
    * part ids instead of doc ids, run to exact convergence), isolated
    * parts kept as size-1 components via the node universe. Per
    * component-size band (the q224 band shape): component count, node
    * mass, node share, undirected edge mass — the "one giant club vs
    * many cliques" table that decides whether co-purchase
    * recommendation needs per-community models.
    *
    * Scale posture: edges/nodes ride the PlanCache'd q224/q225/q246
    * seam (content-bounded, the graph clone pin); propagation is the
    * q64 posture — one edge-keyed join + min-collapse per round with
    * per-round lineage truncation, round count = convergence (graph
    * diameter, single digits on a dense co-purchase graph), never a
    * driver-side component walk; the band collapse is ≤5 rows + a
    * broadcast scalar. */
  def componentProfile(spark: SparkSession, dir: String): DataFrame = {
    val ori = edges(spark, dir).filter(col("u") < col("v"))
    val labels = graft.PlanCache.cached(spark, s"graph.components:$dir") {
      graft.operators.Dedup.propagateLabelsAuto(ori, maxRounds = 64)._1
    }
    val full = nodes(spark, dir)
      .join(labels.withColumnRenamed("doc_id", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("comp"))
    val sizes = full.groupBy(col("comp")).agg(count(lit(1)).as("n_nodes"))
    val edgeMass = ori
      .join(full.select(col("node").as("u"), col("comp")), Seq("u"))
      .groupBy(col("comp")).agg(count(lit(1)).as("n_edges"))
    val comps = sizes.join(edgeMass, Seq("comp"), "left")
      .select(col("n_nodes"), coalesce(col("n_edges"), lit(0L)).as("n_edges"))
    val bands = comps
      .groupBy(
        when(col("n_nodes") === 1, "a_1")
          .when(col("n_nodes") === 2, "b_2")
          .when(col("n_nodes") <= 4, "c_3_4")
          .when(col("n_nodes") <= 8, "d_5_8")
          .otherwise("e_ge_9").as("size_band"))
      .agg(count(lit(1)).as("n_components"),
        sum(col("n_nodes")).as("n_nodes"),
        sum(col("n_edges")).as("n_edges"))
    val tot = bands.agg(sum(col("n_nodes")).as("n_tot"))
    bands.crossJoin(graft.PlanAudit.Bounded
        .broadcastBounded("q256_components.total", tot, 1L))
      .select(col("size_band"), col("n_components"), col("n_nodes"),
        expr("n_nodes * 10000 div n_tot").as("node_share_bp"),
        col("n_edges"))
      .orderBy(col("size_band"))
  }

  def componentProfileSql: String = {
    // round k: propagate the min label one hop, then jump lab -> lab(lab)
    def round(prev: String, k: Int): String =
      s"""p$k AS MATERIALIZED (
         |  SELECT n.node, least(n.lab, coalesce(m.mn, n.lab)) AS lab
         |  FROM $prev n LEFT JOIN (
         |    SELECT e.v AS node, min(l.lab) AS mn
         |    FROM e JOIN $prev l ON l.node = e.u GROUP BY e.v
         |  ) m USING (node)
         |), j$k AS MATERIALIZED (
         |  SELECT a.node, b.lab FROM p$k a JOIN p$k b ON a.lab = b.node
         |)""".stripMargin
    val rounds = (1 to CcSqlRounds)
      .map(k => round(if (k == 1) "l0" else s"j${k - 1}", k))
      .mkString(", ")
    s"""WITH items AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
       |), e AS MATERIALIZED (
       |  SELECT DISTINCT a.part AS u, b.part AS v
       |  FROM items a JOIN items b ON a.okey = b.okey AND a.part <> b.part
       |), nd AS MATERIALIZED (
       |  SELECT DISTINCT part AS node FROM items
       |), l0 AS MATERIALIZED (
       |  SELECT node, node AS lab FROM nd
       |), $rounds, sz AS (
       |  SELECT lab, count(*)::BIGINT AS n_nodes
       |  FROM j$CcSqlRounds GROUP BY 1
       |), ec AS (
       |  SELECT c.lab, count(*)::BIGINT AS n_edges
       |  FROM e JOIN j$CcSqlRounds c ON e.u = c.node
       |  WHERE e.u < e.v GROUP BY 1
       |), cs AS (
       |  SELECT sz.lab, sz.n_nodes, coalesce(ec.n_edges, 0)::BIGINT
       |    AS n_edges
       |  FROM sz LEFT JOIN ec USING (lab)
       |), bands AS (
       |  SELECT CASE WHEN n_nodes = 1 THEN 'a_1'
       |    WHEN n_nodes = 2 THEN 'b_2'
       |    WHEN n_nodes <= 4 THEN 'c_3_4'
       |    WHEN n_nodes <= 8 THEN 'd_5_8'
       |    ELSE 'e_ge_9' END AS size_band,
       |    count(*)::BIGINT AS n_components,
       |    sum(n_nodes)::BIGINT AS n_nodes,
       |    sum(n_edges)::BIGINT AS n_edges
       |  FROM cs GROUP BY 1
       |), tot AS (SELECT sum(n_nodes)::BIGINT AS n_tot FROM bands)
       |SELECT size_band, n_components, n_nodes,
       |  (n_nodes * 10000 // tot.n_tot)::BIGINT AS node_share_bp, n_edges
       |FROM bands CROSS JOIN tot ORDER BY size_band""".stripMargin
  }

  // ---- X203: k-core decomposition (q277) ------------------------------------

  /** Synchronized peel rounds [[kCore]] runs per k — fixed so both
    * engines walk the identical computation; the `converged` column
    * certifies the fixpoint was reached (spec-pinned on the test
    * corpora, reported honestly when a deeper graph would need more). */
  val KCoreRounds: Int = 4

  /** The core levels [[kCore]] peels. */
  val KCoreKs: Seq[Int] = Seq(2, 3)

  /** X203 k-core decomposition (q277): for k ∈ [[KCoreKs]], the
    * maximal subgraph in which every node keeps ≥ k co-purchase
    * partners, by [[KCoreRounds]] synchronized peel rounds (remove
    * all nodes with current degree < k, repeat — Seidman 1983;
    * Matula & Beck 1983). The graph shelf's COHESION read: q224
    * profiles raw degree (how many partners a part has), q246 counts
    * local triangles, q256 finds who is REACHABLE — the k-core says
    * which parts sit in a mutually-supporting cluster that survives
    * after the long tail peels away, which is the sub-graph a
    * recommender can actually random-walk without falling off, and
    * the classic first cut for "dense region" extraction. Per k:
    * core nodes, undirected core edges, peeled-node count, and the
    * convergence certificate.
    *
    * Scale posture: rides the PlanCache'd directed edge seam (the
    * q184 rule — never corpus²), and the iterate is the DEGREE table
    * (node-grain, tiny next to the edges), maintained by DECREMENT:
    * per round, the removed set R = {d < k} leaves the table and each
    * remaining node subtracts its edges INTO R — so the only
    * edge-table touch per round is one equi-join against R, and when
    * a round removes nothing (the common steady state) AQE's
    * empty-relation propagation collapses that join to nothing and
    * the round costs a node-table filter. (The first cut re-filtered
    * and re-checkpointed the EDGE table per round and paid 12
    * corpus-scale materializations on a graph where nothing peels —
    * 8.2 s; this shape is sub-second.) Only the node-grain table is
    * lineage-truncated per round (the q64/q225 rule); the fixed round
    * count keeps it [[KCoreRounds]] bounded shuffle rounds at any
    * scale (no driver-side convergence loop), the final statistics
    * read the degree table directly (no extra edge pass), and the
    * oracle unrolls the identical decrement rounds as materialized
    * CTEs; output is |KCoreKs| rows + a bounded-enforced 1-row
    * node-total cross. */
  def kCore(spark: SparkSession, dir: String): DataFrame = {
    val bb = graft.PlanAudit.Bounded
    val tot = nodes(spark, dir).agg(count(lit(1)).as("n_total"))
    val e = edges(spark, dir)
    // full degrees: the shared round-0 state for every k — the SAME
    // seam q225/q246 cache (one collapse for the whole graph shelf;
    // this previously built an identical table under a second key)
    val deg0 = degrees(spark, dir)
    val perK = KCoreKs.map { k =>
      var d = deg0
      for (i <- 1 to KCoreRounds) {
        val rm = d.filter(col("d") < k).select(col("u").as("rm"))
        // rm is node-dimension-bounded; the broadcast keeps the edge
        // side exchange-free and lets AQE's empty-relation propagation
        // skip the scan entirely on quiet rounds (the steady state).
        // At a part dimension beyond broadcast reach, this hint is the
        // one line that flips to a shuffle join.
        val losses = e.join(broadcast(rm), col("v") === col("rm"))
          .groupBy(col("u")).agg(count(lit(1)).as("lost"))
        d = graft.PlanCache.cached(spark, s"graph.kCore:$k:round$i:$dir") {
          d.filter(col("d") >= k)
            .join(losses, Seq("u"), "left")
            .select(col("u"),
              (col("d") - coalesce(col("lost"), lit(0L))).as("d"))
        }
      }
      d.agg(count(lit(1)).as("n_core_nodes"),
        coalesce(sum(col("d")), lit(0L)).as("dir_edges"),
        coalesce(sum(when(col("d") < k, 1L).otherwise(0L)), lit(0L))
          .as("n_below"))
        .select(lit(k.toLong).as("k"), col("n_core_nodes"),
          expr("dir_edges div 2").as("n_core_edges"),
          when(col("n_below") === 0L, 1L).otherwise(0L).as("converged"))
    }
    perK.reduce(_ unionByName _)
      .crossJoin(bb.broadcastBounded("q277_kcore.total", tot, 1L))
      .select(col("k"), col("n_core_nodes"), col("n_core_edges"),
        (col("n_total") - col("n_core_nodes")).as("n_peeled"),
        col("converged"))
      .orderBy(col("k"))
  }

  def kCoreSql: String = {
    def peel(k: Int): String = {
      val rounds = (1 to KCoreRounds).map { r =>
        val prev = if (r == 1) "d_0" else s"d${k}_${r - 1}"
        s"""rm${k}_$r AS (
           |  SELECT u FROM $prev WHERE d < $k
           |), d${k}_$r AS MATERIALIZED (
           |  SELECT p.u, (p.d - coalesce(l.lost, 0))::BIGINT AS d
           |  FROM $prev p LEFT JOIN (
           |    SELECT e.u, count(*)::BIGINT AS lost
           |    FROM e JOIN rm${k}_$r x ON e.v = x.u GROUP BY e.u) l
           |    USING (u)
           |  WHERE p.d >= $k
           |)""".stripMargin
      }.mkString(", ")
      s"""$rounds,
         |r$k AS (
         |  SELECT $k::BIGINT AS k,
         |    count(*)::BIGINT AS n_core_nodes,
         |    (coalesce(sum(d), 0) // 2)::BIGINT AS n_core_edges,
         |    (CASE WHEN coalesce(sum(CASE WHEN d < $k THEN 1 ELSE 0
         |      END), 0) = 0 THEN 1 ELSE 0 END)::BIGINT AS converged
         |  FROM d${k}_$KCoreRounds
         |)""".stripMargin
    }
    val peels = KCoreKs.map(peel).mkString(", ")
    val union = KCoreKs.map(k => s"SELECT * FROM r$k")
      .mkString("\n    UNION ALL\n    ")
    s"""WITH items AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
       |), e AS MATERIALIZED (
       |  SELECT DISTINCT a.part AS u, b.part AS v
       |  FROM items a JOIN items b ON a.okey = b.okey AND a.part <> b.part
       |), tot AS (
       |  SELECT count(DISTINCT part)::BIGINT AS n_total FROM items
       |), d_0 AS MATERIALIZED (
       |  SELECT u, count(*)::BIGINT AS d FROM e GROUP BY u
       |), $peels
       |SELECT r.k, r.n_core_nodes, r.n_core_edges,
       |  (tot.n_total - r.n_core_nodes)::BIGINT AS n_peeled, r.converged
       |FROM (
       |    $union
       |) r CROSS JOIN tot ORDER BY r.k""".stripMargin
  }
}
