package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, CurationPipeline, Dedup, TextAnalysis}

/** End-to-end composition: dedup → scrub → quality floor → split → pack
  * as one plan. */
class CurationPipelineSpec extends SparkSpec {

  test("curate composes the stage operators without changing their semantics") {
    val out = CurationPipeline.curate(spark, sf0001, minQuality = 0.3,
      ctxLen = 64, nShards = 4)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // row identity: curated docs ⊆ dedup survivors, one row per doc
    val keptIds = Dedup.dedupKept(spark, sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val outIds = rows.map(_.getAs[Long]("doc_id"))
    assert(outIds.toSet.subsetOf(keptIds))
    assert(outIds.length == outIds.toSet.size, "one row per doc")
    // the quality floor held on the scrubbed text
    rows.foreach { r =>
      assert(r.getAs[String]("split") != null)
      assert(Set("train", "val", "test")(r.getAs[String]("split")))
    }
    val requal = out.select(
      round(TextAnalysis.qualityScore(col("text")), 6).as("q"))
      .collect().map(_.getDouble(0))
    assert(requal.forall(_ >= 0.3))
    // packing covered every curated doc: cum/context fields consistent
    rows.foreach { r =>
      assert(r.getAs[Long]("end_context") >= r.getAs[Long]("context_id"))
    }
  }

  test("contexts never cross split boundaries (no self-inflicted contamination)") {
    val rows = CurationPipeline.curate(spark, sf0001, minQuality = 0.3,
      ctxLen = 64, nShards = 4).collect()
    // split is a packing partition boundary: each (split, lang, shard)
    // stream starts its own running count, so the min-doc_id row of each
    // group must sit at the very start of context 0. Under packing that
    // ignored split (the pre-fix shape), a group's first doc would
    // inherit a mid-context offset from the previous split's tokens.
    rows.groupBy(r => (r.getAs[String]("split"), r.getAs[String]("lang"),
        r.getAs[Long]("shard")))
      .foreach { case (g, rs) =>
        val first = rs.minBy(_.getAs[Long]("doc_id"))
        assert(first.getAs[Long]("cum_tokens") == first.getAs[Long]("n_tokens"),
          s"$g: first doc starts mid-context — packing crossed a split boundary")
      }
  }

  test("materialize writes a split-partitioned layout a trainer prunes on") {
    val out = tempDir("graft_curated").toString
    CurationPipeline.materialize(spark, sf0001, out,
      minQuality = 0.3, ctxLen = 64, nShards = 4)
    val back = spark.read.parquet(out)
    val direct = CurationPipeline.curate(spark, sf0001, minQuality = 0.3,
      ctxLen = 64, nShards = 4)
    assert(back.count() == direct.count(), "round-trip must be lossless")
    // a train-only read PRUNES at the file index — no split row-filter
    val trainScan = back.filter(col("split") === "train")
    val plan = trainScan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("split"),
      s"train read must prune partitions, not filter rows:\n$plan")
    assert(trainScan.count() ==
      direct.filter(col("split") === "train").count())
  }

  test("summary budgets tokens and contexts per (split, lang)") {
    val s = CurationPipeline.summary(spark, sf0001, minQuality = 0.3,
      ctxLen = 64, nShards = 4).collect()
    assert(s.nonEmpty)
    val total = s.map(_.getAs[Long]("n_docs")).sum
    val curated = CurationPipeline.curate(spark, sf0001, minQuality = 0.3,
      ctxLen = 64, nShards = 4).count()
    assert(total == curated, "summary partitions the curated corpus")
    s.foreach { r =>
      assert(r.getAs[Long]("sum_tokens") >= r.getAs[Long]("n_docs"),
        "every doc has at least one token")
      assert(r.getAs[Long]("n_contexts_touched") >= 1L)
    }
  }

  test("modern pipeline: per-doc election equals ranking, stages hand off, splits never leak") {
    import org.apache.spark.sql.expressions.Window
    // importanceSelectedOf (threshold + tie-bucket device) must be
    // row-identical to the per-lang (score desc, doc_id) top-quota rank
    val scored = Curation.importanceScores(spark, sf0001)
    val byRank = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .join(scored.groupBy(col("lang")).agg(count(lit(1)).as("n_pool")), Seq("lang"))
      .filter(col("rn") <= greatest(expr("(n_pool * 4000) DIV 10000"), lit(1L)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val byElection = Curation.importanceSelectedOf(scored)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(byElection == byRank,
      s"election diverges from ranking: ${byElection diff byRank} / ${byRank diff byElection}")
    // composed output: every packed doc is a stage-1 winner (one per
    // (lang, text)) that survived the stage-2 quota
    val packed = CurationPipeline.modernCurate(spark, sf0001,
      ctxLen = 64, nShards = 4).collect()
    assert(packed.nonEmpty)
    val ids = packed.map(_.getAs[Long]("doc_id"))
    assert(ids.length == ids.toSet.size, "one row per selected doc")
    packed.foreach { r =>
      assert(Set("train", "val", "test")(r.getAs[String]("split")))
      assert(r.getAs[Long]("end_context") >= r.getAs[Long]("context_id"))
    }
    // the q94 leakage audit re-run on the COMPOSED splits: every near-dup
    // component the selection kept must sit entirely inside one split —
    // the q96 anchor assignment makes leaks structurally impossible
    val split = CurationPipeline.modernCurate(spark, sf0001,
      ctxLen = 64, nShards = 4).select("doc_id", "split")
    val leaky = Dedup.dedupClusterAssignments(spark, sf0001)
      .join(split, Seq("doc_id"))
      .groupBy(col("label"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1)
      .count()
    assert(leaky == 0L, s"$leaky components straddle a split in the composed output")
  }

  test("crawl filter chain (q143): stages narrow monotonically with exact tertile arithmetic") {
    val rows = graft.operators.CurationPipeline
      .crawlFilterChain(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val pool = Tables.documents(spark, sf0001)
      .filter(col("source") =!= "src0")
      .groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      val (np, nu, ncl, nk) = (r.getAs[Long]("n_pool"),
        r.getAs[Long]("n_unique"), r.getAs[Long]("n_rule_clean"),
        r.getAs[Long]("n_ppx_kept"))
      assert(np == pool(lang))
      // every stage narrows (or holds) the previous one
      assert(np >= nu && nu >= ncl && ncl >= nk, r.toString)
      // head+middle keeps exactly floor(2n/3) of the rule-clean set
      assert(nk == ncl * 2 / 3, s"$lang: $nk of $ncl")
      // each stage is selective at this SF (the chain gates something)
      assert(ncl < nu, s"$lang: rule battery dropped nothing")
      assert(nk >= 1L)
    }
    // the elected cutoff is a real score from the kept set: no kept doc
    // exceeds it, and re-running the per-doc scorer confirms the bound
    val scored = graft.operators.TextAnalysis
      .perplexityScored(spark, sf0001, "src0").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("ppx_mb")).toMap
    rows.foreach { r =>
      assert(scored.values.exists(_ == r.getAs[Long]("ppx_cutoff_mb")))
    }
  }
}
