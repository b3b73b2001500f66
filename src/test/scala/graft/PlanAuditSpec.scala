package graft

/** Mechanical scale-invariant audit over EVERY declared query's physical
  * plan — the regressions these catch are the ones that stay invisible at
  * test scale and explode at 100 TB:
  *
  *  - a CartesianProduct (an unbounded all-pairs pass),
  *  - a BroadcastNestedLoopJoin that is not one of the audited tiny-side
  *    crosses (query-point sets, centroid tables, single-row counts),
  *  - a Window over SinglePartition (a corpus-sized single-task sort),
  *  - any window with no partition spec, PlanCache seam subtrees included,
  *  - a persisted RDD with no name: a lineage-free checkpoint instead of
  *    a PlanCache seam,
  *  - a documents/lineitem parquet scan that reads every column for a
  *    narrower projection (pushdown/pruning silently lost).
  *
  * PLANS.md documents the intended shape per query; this spec pins the
  * red-flag subset mechanically so a refactor can't reintroduce one.
  */
class PlanAuditSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import PlanAuditSpec.globalWindowWarnings

  // queries whose plans legitimately carry a BroadcastNestedLoopJoin:
  // the single source of truth lives in PlanAudit (shared with the
  // plan snapshot)
  private val allowedBnlj = PlanAudit.AllowedBnlj

  // every declared query planned ONCE, in a fresh session so that every
  // PlanCache seam is built inside the sweep. A seam is the only cut.
  // The window walk descends into each seam a query reads (the cached
  // plan under its InMemoryTableScan); a seam read by another seam's
  // build shows there as a flat scan of its rows, but its own plan is
  // built inside the sweep, where WindowExec's warning is captured. The
  // sweeps below read the same executed plans. `unnamedPersisted` lists
  // the RDDs the sweep persisted without a name: a seam's RDD carries
  // its plan as its name, a lineage-free checkpoint's RDD has none.
  private lazy val sweep = spark.newSession()
  private lazy val (planned, windowWarnings, unnamedPersisted) = {
    val before = sweep.sparkContext.getPersistentRDDs.keySet
    val (planned, warnings) = globalWindowWarnings {
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val df = fn(sweep, sf0001)
        df.queryExecution.executedPlan
        name -> df
      }
    }
    val unnamed = sweep.sparkContext.getPersistentRDDs
      .collect { case (id, rdd) if !before(id) && rdd.name == null => rdd.toDebugString }
    (planned, warnings, unnamed.toSeq)
  }

  override def afterAll(): Unit =
    try PlanCache.clear(sweep) finally super.afterAll()

  // every query runs through the PUBLIC PlanAudit.redFlags API (the
  // user-facing guardrail), so the spec also proves that API catches
  // exactly what it documents
  test("no query plan raises a red flag (CartesianProduct / unaudited BNLJ / global window)") {
    planned.foreach { case (name, df) =>
      val flags = PlanAudit.redFlags(df, allowBnlj = allowedBnlj.contains(name))
      assert(flags.isEmpty, s"$name: ${flags.mkString("; ")}")
      val windows = PlanAudit.unpartitionedWindows(df)
      assert(windows.isEmpty, s"$name: unpartitioned window ${windows.mkString("; ")}")
    }
    assert(windowWarnings.isEmpty,
      s"a window with no partition spec was planned: ${windowWarnings.mkString("; ")}")
    assert(unnamedPersisted.isEmpty,
      s"a lineage-free cut was built outside PlanCache: ${unnamedPersisted.mkString("\n")}")
  }

  test("the audit itself catches a planted cartesian and a global window") {
    import spark.implicits._
    val a = Seq(1, 2).toDF("x")
    val b = Seq(3, 4).toDF("y")
    val cross = a.crossJoin(b)
    assert(PlanAudit.redFlags(cross, allowBnlj = true)
      .exists(f => f.contains("Cartesian") || f.contains("NestedLoop")) ||
      PlanAudit.redFlags(cross).nonEmpty,
      "a 2x2 cross join must trip the audit")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(org.apache.spark.sql.functions.col("x"))
    val globalWin = a.withColumn("rn",
      org.apache.spark.sql.functions.row_number().over(w))
    assert(PlanAudit.redFlags(globalWin)
      .exists(_.contains("SinglePartition")),
      "an unpartitioned window must trip the audit")
    assert(PlanAudit.unpartitionedWindows(globalWin).nonEmpty)
    // planning it logs the warning the sweep listens for
    val (_, warned) = globalWindowWarnings {
      a.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .queryExecution.executedPlan
    }
    assert(warned.nonEmpty, "the sweep's warning capture must see a planted global window")
    // the same window built inside a PlanCache seam: redFlags stops at
    // the cached subtree, only the window walk descends into it
    val seamed = PlanCache.cached(spark, "plan-audit-planted-window")(globalWin)
      .groupBy("rn").count()
    assert(PlanAudit.redFlags(seamed).isEmpty)
    assert(PlanAudit.unpartitionedWindows(seamed).exists(_.startsWith("cached:")),
      "an unpartitioned window inside a seam must trip the window walk")
  }

  test("bounded-broadcast claims: every migrated BNLJ entry registers a claim and the data honors it") {
    sys.props("graft.boundedCheck") = "true"
    try {
      PlanAudit.Bounded.reset()
      // building the plans registers the claims (no execution needed)
      PlanAudit.BoundedBnlj.toSeq.sorted
        .foreach(q => SparkEntry.queries(q)(spark, sf0001))
      val claims = PlanAudit.Bounded.claims()
      PlanAudit.BoundedBnlj.foreach { q =>
        assert(claims.exists(_.tag.startsWith(q)),
          s"$q is listed as migrated but registered no bounded-broadcast " +
            "claim — its broadcast site regressed to a bare broadcast()")
        assert(PlanAudit.AllowedBnlj.contains(q),
          s"$q is bounded-migrated but missing from AllowedBnlj")
      }
      // materialize each claimed side and fail on any broken bound
      claims.foreach { c =>
        val n = c.side.limit((c.maxRows + 1).toInt).count()
        assert(n <= c.maxRows,
          s"${c.tag}: claimed <= ${c.maxRows} rows, side has >= $n")
      }
    } finally {
      sys.props.remove("graft.boundedCheck")
      PlanAudit.Bounded.reset()
    }
  }

  test("shape pins: marquee plans keep their documented shuffle budgets") {
    // round-over-round guard: a refactor that silently reintroduces a
    // corpus-sized shuffle (e.g. q102's old per-doc regroup) must fail
    // here, not in a 100 TB run. Bounds are the documented PLANS.md
    // shapes plus slack for AQE's final-stage exchanges, NOT tight
    // fits — they catch regressions of a whole extra corpus pass.
    val budgets = Map(
      // one (bucket, shard) partition + two-level rollup + output sort
      "q98_bucketed_batching" -> 4,
      // histogram two-phase + decile rollup + output sort — never the corpus
      "q99_quality_calibration" -> 5,
      // source-cardinality agg + output sort only
      "q100_epoch_schedule" -> 3,
      // histogram side + broadcast cutoff join + |langs|·P rollup + sort
      "q102_curriculum_schedule" -> 6,
      // three parallel rollups + 5-row fan-in + sort
      "q103_corpus_datasheet" -> 7,
      // term agg + 1-row heap agg + frontier rollup + sort; no window.
      // 4 in a fresh session; +2 when q109's cached token-count table
      // plan-matches q104's term subtree (CacheManager substitutes
      // matching fragments session-wide and the InMemoryRelation
      // reprints its build subtree in the plan string)
      "q104_vocab_coverage" -> 6,
      // gk occurrence agg + gk join-back + (doc,pos) distinct + doc
      // rollup + lang rollup/sort — the corpus body never shuffles
      "q105_span_scrub" -> 6,
      // one source rollup, PlanCache'd — the plan STRING repeats the
      // cached rollup subtree per InMemoryRelation reference (3x), so
      // the line count is 12 while the executed work is ONE corpus scan
      "q106_doremi_reweight" -> 12,
      // one (label,parity) rollup + dim pivot + label fold + sort
      "q107_snapshot_drift" -> 5,
      // ONE corpus scan into a cached |langs|-row rollup; the fan-out of
      // InMemoryRelation references reprints the cached subtree in the
      // plan string (~8x), so the line count is 24 while the executed
      // work is a single scan plus 5-row arithmetic
      "q108_unimax_allocation" -> 24,
      // cached token-count table -> 4096-cell sketch agg + bounded-heap
      // top-k + broadcast probe join + sort (cache reprints included)
      "q109_cms_heavy_hitters" -> 10,
      // probe-broadcast exact leg + the PlanCache'd candidate-pair chain
      // (signatures -> sigGroups -> pairs nest, each InMemoryRelation
      // reprinting its build subtree) — executed work is the exact leg
      // plus cache reads
      "q110_lsh_recall" -> 30,
      // bench semi-join + cont distinct + digest dedup + per-lang heap
      // sample + pool rollup + fan-in + sort; one digest shuffle for
      // the corpus body
      "q111_eval_set" -> 8,
      // exact semi-join leg + a FILTER over the PlanCache'd candidate-
      // pair chain (InMemoryRelation reprints inflate the string count;
      // executed work adds zero joins beyond q45's)
      "q112_fuzzy_contamination" -> 32,
      // one (lang) side rollup + one (lang, digest) turnover rollup +
      // per-lang fan-in + sort — the q103 shapes
      "q113_corpus_diff" -> 5,
      // |langs|-row rollup + scalar fold + tiny output sort — never the corpus
      "q114_temperature_sampling" -> 7,
      // ONE corpus scan into the nShards-row xor/count rollup + output sort
      "q115_shard_manifest" -> 3,
      // banded index distinct + probe semi-join + lang rollup — the
      // corpus body never shuffles, only 8-byte band keys
      "q116_incremental_neardup" -> 6,
      // two heap-reduced legs + audit-sized fusion join; the count
      // double-prints the PlanCache'd leg/fusion subtrees under every
      // InMemoryTableScan reference (executed exchanges are far fewer) —
      // a regression here means a leg stopped heap-reducing
      "q117_hybrid_retrieval" -> 22,
      // label chain + size rollup + quality join + 5-row band rollup
      "q118_redundancy_quality" -> 9,
      // constant rung fan-out + (rung, lang) rollup + broadcast totals
      "q119_scaling_ladder" -> 4,
      // (split, bucket) count + three tiny rollups + the broadcast grid
      "q120_split_divergence" -> 10,
      // one scan into ≤4 cells + scalar/marginal folds
      "q121_gate_ablation" -> 8,
      // ONE user_id window exchange + ≤|types|² cell rollup + scalar
      "q122_transition_matrix" -> 6)
    budgets.foreach { case (name, budget) =>
      val df = SparkEntry.queries(name)(spark, sf0001)
      val shuffles = PlanAudit.shape(df)
        .collectFirst { case ("shuffle_exchanges", v) => v }.get
      assert(shuffles <= budget,
        s"$name: $shuffles shuffle exchanges exceed the documented budget $budget")
      val windows = PlanAudit.shape(df)
        .collectFirst { case ("window_ops", v) => v }.get
      if (name == "q104_vocab_coverage")
        assert(windows == 0, s"q104 must stay windowless, found $windows")
    }
  }

  test("every documents scan prunes to the columns the query needs") {
    // full schema is doc_id,text,lang,source,n_chars (5 cols); any scan
    // reading all 5 has lost column pruning — no current query needs all
    planned.foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      p.linesIterator.filter(l => l.contains("ReadSchema") &&
          l.contains("documents")).foreach { l =>
        val nCols = l.substring(l.indexOf("struct<")).count(_ == ':')
        assert(nCols < 5,
          s"$name: documents scan reads all columns — pruning lost:\n$l")
      }
    }
  }
}

object PlanAuditSpec {
  /** `body`'s value and the "No Partition Defined for Window operation"
    * warnings Spark logged while it ran. */
  def globalWindowWarnings[A](body: => A): (A, Seq[String]) = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("global-window-warnings", null, null, true,
        Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("No Partition Defined for Window operation"))
          seen.add(s"${e.getLoggerName}: $m")
      }
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(appender)
    try {
      val a = body
      (a, scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator).asScala.toSeq)
    } finally {
      root.removeAppender(appender)
      appender.stop()
    }
  }
}
