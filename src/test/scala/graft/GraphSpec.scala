package graft

import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("copurchaseDegrees (q224): bands, isolated parts, shares exact") {
    val dir = tempDir("graft_deg").toString
    // o1 {1,2}, o2 {1,3}, o3 {4}: degrees 1→2, 2→1, 3→1, 4→0 (isolated)
    Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Graph.copurchaseDegrees(spark, dir).collect()
      .map(r => r.getAs[String]("degree_band") ->
        (r.getAs[Long]("n_parts"), r.getAs[Long]("share_bp"),
          r.getAs[Long]("sum_degree"))).toMap
    assert(out == Map(
      "a_0" -> ((1L, 2500L, 0L)),
      "b_1" -> ((2L, 5000L, 2L)),
      "c_2_3" -> ((1L, 2500L, 2L))), s"got $out")
  }

  test("pagerank (q225): three integer dyadic-damping steps, hand-walked") {
    val dir = tempDir("graft_pr").toString
    // star: 1-2, 1-3 (from o1 {1,2}, o2 {1,3})
    // pr0 = 1000 each; hand walk (floor division at every step):
    // it1: 1 ← 1000+1000 → 1500; 2,3 ← 500 → 750
    // it2: 1 ← 750+750 → 1250;   2,3 ← 750 → 875
    // it3: 1 ← 875+875 → 1375;   2,3 ← 625 → 812
    Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 3L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Graph.pagerank(spark, dir).collect()
      .map(r => (r.getAs[Long]("part"), r.getAs[Long]("pr_milli"),
        r.getAs[Long]("degree")))
    assert(out.toSeq == Seq((1L, 1375L, 2L), (2L, 812L, 1L),
      (3L, 812L, 1L)), s"got ${out.mkString(", ")}")
  }

  test("componentProfile (q256): multi-component fixture — bands, isolated node, edge mass") {
    val dir = tempDir("graft_cc").toString
    // components: {1,2,3} (triangle via o1, 3 edges), {4,5} (1 edge via
    // o2), {6} isolated (o3), {7,8,9,10} chain 7-8-9-10 (3 edges via
    // o4/o5/o6) -> bands: a_1 1 comp/1 node/0 edges;
    // b_2 1/2/1; c_3_4 2/7/6
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L), (3L, 6L),
      (4L, 7L), (4L, 8L), (5L, 8L), (5L, 9L), (6L, 9L), (6L, 10L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Graph.componentProfile(spark, dir).collect()
      .map(r => r.getAs[String]("size_band") ->
        ((r.getAs[Long]("n_components"), r.getAs[Long]("n_nodes"),
          r.getAs[Long]("node_share_bp"), r.getAs[Long]("n_edges")))).toMap
    assert(out == Map(
      "a_1" -> ((1L, 1L, 1000L, 0L)),
      "b_2" -> ((1L, 2L, 2000L, 1L)),
      "c_3_4" -> ((2L, 7L, 7000L, 6L))), s"got $out")
  }

  test("triangleProfile (q246): hand-walked orientation, one triangle, band coefficients exact") {
    val dir = tempDir("graft_tri").toString
    // o1 {5,6,7} (a triangle), o2 {5,8}, o3 {9}: degrees 5→3, 6→2,
    // 7→2, 8→1, 9→0. Orientation by (deg, id): 6→5, 7→5, 6→7, 8→5 —
    // the single triangle {5,6,7} materializes ONLY on base edge (6,7)
    // (fwd-lists {5,7} ∩ {5} = {5}); credits: 6 as u, 7 as v, 5 as w.
    // Wedges: C(3,2)=3 at 5, 1 each at 6 and 7.
    Seq((1L, 5L), (1L, 6L), (1L, 7L), (2L, 5L), (2L, 8L), (3L, 9L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Graph.triangleProfile(spark, dir).collect()
      .map(r => r.getAs[String]("degree_band") ->
        (r.getAs[Long]("n_parts"), r.getAs[Long]("wedges"),
          r.getAs[Long]("triangles"), r.getAs[Long]("cc_bp"))).toMap
    assert(out == Map(
      "a_0" -> ((1L, 0L, 0L, 0L)),
      "b_1" -> ((1L, 0L, 0L, 0L)),
      "c_2_3" -> ((3L, 5L, 3L, 6000L))), s"got $out")
  }

  test("triangleProfile: per-node credits sum to 3x the triangle count on a clique") {
    val dir = tempDir("graft_tri4").toString
    // one order with 4 parts = K4: C(4,3) = 4 triangles, each node in
    // C(3,2) = 3 of them; all degrees 3 → one c_2_3 band row with
    // 12 wedges (4*C(3,2)), 12 triangle credits, cc = 10000
    Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Graph.triangleProfile(spark, dir).collect()
      .map(r => r.getAs[String]("degree_band") ->
        (r.getAs[Long]("n_parts"), r.getAs[Long]("wedges"),
          r.getAs[Long]("triangles"), r.getAs[Long]("cc_bp"))).toMap
    assert(out == Map("c_2_3" -> ((4L, 12L, 12L, 10000L))), s"got $out")
  }

  test("pagerank: an isolated node settles at the 500-milli floor") {
    val dir = tempDir("graft_pr2").toString
    Seq((1L, 1L), (1L, 2L), (2L, 9L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Graph.pagerank(spark, dir).collect()
      .map(r => r.getAs[Long]("part") -> r.getAs[Long]("pr_milli")).toMap
    assert(out(9L) == 500L)
    // a 2-cycle holds the initial mass exactly: 500 + 1000 div 2
    assert(out(1L) == 1000L && out(2L) == 1000L)
  }

  test("kCore (q277): triangle+pendant peels in two rounds, clique survives k=3") {
    val dir = tempDir("graft_kcore").toString
    // o1 triangle {1,2,3}; o2 {1,4} and o3 {4,5} hang a 2-node tail off
    // node 1; o4 is a 4-clique {6,7,8,9}
    Seq((1L, 1L), (1L, 2L), (1L, 3L),
        (2L, 1L), (2L, 4L),
        (3L, 4L), (3L, 5L),
        (4L, 6L), (4L, 7L), (4L, 8L), (4L, 9L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Graph.kCore(spark, dir).collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[Long]("n_core_nodes"), r.getAs[Long]("n_core_edges"),
          r.getAs[Long]("n_peeled"), r.getAs[Long]("converged")))).toMap
    // k=2: round 1 peels 5 (degree 1), round 2 peels 4 (tail gone) —
    // the triangle and the clique remain: 7 nodes, 9 edges
    assert(out(2L) == ((7L, 9L, 2L, 1L)), s"got ${out(2L)}")
    // k=3: the triangle (degree 2) peels too; only the clique survives
    assert(out(3L) == ((4L, 6L, 5L, 1L)), s"got ${out(3L)}")
  }
}
