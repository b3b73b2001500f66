package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {
  /** Seconds to build `df` and write every column of it to the noop sink —
    * the materialization contract of every timed pass here and in
    * `graft.App --time`: `.count()` would let ColumnPruning strip
    * unreferenced aggregate expressions and under-measure the query. */
  def noopSeconds(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Per-query measurement record: epoch-millis + 1-min load average at
    * the start of each pass, and every pass time. The artifact keeps all
    * of it (local file only) so a contention window on the host is
    * attributable post-hoc: r6 recorded five adjacent-in-iteration-order
    * queries at 2-6x their steady state and the only evidence it was the
    * host (load 3.42, untouched code) had to be reconstructed forensically. */
  private final case class Meta(startMs: Long, loads: List[Double],
                                passes: List[Double])

  /** Measurement-protocol version, recorded in every artifact and in
    * BENCH_HISTORY so cross-round comparisons know what they compare:
    *  1 = single stream pass, robust query time = min of 2 (+conditional
    *      3rd) passes (rounds <= 6);
    *  2 = stream throughput best-of-two passes + end-of-run re-queue of
    *      load-suspect queries (round 7+). A v1 stream number is NOT
    *      comparable to v2 (v2 gains warm page-cache/JIT on pass 2). */
  private val Protocol = 2

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    // Warm up codegen/JIT/classloading on the tiny SF so the timings below
    // measure the engine, not first-query JVM warmup (~17 s cold).
    val warmDir = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      try { noopSeconds(fn(spark, warmDir)) } catch { case _: Throwable => () }
    }
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    // 1-minute load average before/after: BENCH_r02 and _r03 both carried
    // multi-second environment stalls that read as fake regressions — the
    // recorded load lets a reader attribute an outlier to machine
    // contention instead of the code (-1 where the JVM can't report it)
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadBefore = loadAvg()
    // Best known steady-state time per query from previous runs: the
    // re-queue heuristic below compares against it, and this run's mins
    // merge back in. Committed to the repo so the driver's per-round run
    // inherits local history. min-over-runs is the right accumulator for
    // a steady-state reference: contention only ever inflates times.
    val historyPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY",
      "/root/repo/BENCH_HISTORY.json")
    val historyTxt: String = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(historyPath)),
        java.nio.charset.StandardCharsets.UTF_8)
    } catch { case _: Throwable => "" }
    // Which protocol produced the stored mins. Times measured under a
    // different protocol are NOT comparable (v2 gains warm-cache stream
    // passes + end-of-run re-queue), so min-merging them under the current
    // label would fabricate protocol-2 minima out of protocol-1 runs —
    // on mismatch the old entries are dropped, not merged.
    val histProtocol: Int =
      "\"_protocol\"\\s*:\\s*([0-9]+)".r.findFirstMatchIn(historyTxt)
        .map(_.group(1).toInt).getOrElse(1)
    val history: Map[String, Double] =
      if (histProtocol != Protocol) Map.empty
      else {
        // flat {"name": seconds, ...} — no nesting, a regex scan is exact;
        // "_"-prefixed keys are metadata (e.g. _protocol), not query times
        "\"([^\"]+)\"\\s*:\\s*([-0-9.eE]+)".r.findAllMatchIn(historyTxt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
          .filter { case (k, _) => !k.startsWith("_") }
      }
    // Round-over-round streaming-throughput series (docs/s, one entry per
    // bench run under the current protocol) so throughput regressions are
    // mechanically diffable like query times.
    def histSeries(key: String): List[Double] =
      if (histProtocol != Protocol) Nil
      else ("\"" + key + "\"\\s*:\\s*\\[([^\\]]*)\\]").r
        .findFirstMatchIn(historyTxt).map(_.group(1)).toList
        .flatMap(_.split(",").toList.map(_.trim).filter(_.nonEmpty)
          .flatMap(_.toDoubleOption))
    val oldStreamSeries: List[Double] = histSeries("_stream_series")
    // round-over-round per-query-average series (one entry per bench run):
    // makes a board-wide slowdown mechanically diffable the same way the
    // stream series is (r10's ~10% environment drag had to be argued from
    // per-query deltas by hand). _nq_series records the query count of
    // each entry so an average over 96 queries is never read against one
    // over 79.
    val oldSpqSeries: List[Double] = histSeries("_spq_series")
    val oldNqSeries: List[Double] = histSeries("_nq_series")
    // A pass that starts while the 1-min load average exceeds this is
    // suspect: r6's five inflated queries all ran inside one load window
    // (load_avg 3.42 from the driver's own tooling). On an otherwise-idle
    // box this bench itself contributes ~1 to the 1-min average, so 2.0
    // means "something else is competing".
    val loadMax = 2.0
    def onePass(name: String, fn: (SparkSession, String) => DataFrame,
                recordErr: Boolean): (Double, Double, Long) = {
      val ld = loadAvg(); val ms = System.currentTimeMillis()
      try { (noopSeconds(fn(spark, sfDir)), ld, ms) }
      catch { case e: Throwable =>
        if (recordErr) errors += s"$name: ${e.getClass.getSimpleName}"
        (-1.0, ld, ms)
      }
    }
    // Two timed passes per query, report min: a single pass bakes any
    // transient machine stall into the artifact as a fake regression
    // (BENCH_r02 recorded 81.7 s for a 39.8 s run that way). Both the
    // raw first-pass time and the robust min are recorded so the
    // artifact shows when the two diverge. Queries that lean on
    // PlanCache (the IVF family) pay index materialization in pass 1
    // and reuse it in pass 2 — the min therefore measures steady-state
    // cost, which is the honest number for a persisted index.
    val meta = scala.collection.mutable.LinkedHashMap.empty[String, Meta]
    // SORTED execution order: Map iteration order reshuffles whenever
    // keys are added, silently moving the cost of shared PlanCache
    // seams between queries round-over-round (q86 drifted 1.4x in r13,
    // q148/q28 in r14, purely from who pays the seam first). Sorted
    // order is stable under appends, so per-query times stay
    // comparable across rounds.
    val results0 = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // A failing query must surface, not silently record a near-zero
      // time that deflates the total: it lands in "errors" with time -1.
      val (t1, l1, m1) = onePass(name, fn, recordErr = true)
      val (t2, l2, m2) =
        if (t1 >= 0) onePass(name, fn, recordErr = true) else (-1.0, -1.0, 0L)
      // adaptive third pass: min-of-2 absorbs a stall in ONE pass, but a
      // loaded host can stall both (the r03 artifact recorded 64 s for a
      // query whose steady state is 0.55 s). When the two passes disagree
      // by >2x, one of them was noise — a third sample lets min() find
      // the real cost. Bounded: at most one extra run per noisy query.
      // Two passes already succeeded here, so a third-pass hiccup is
      // noise by definition — it must not land in `errors`.
      val (t3, l3, _) = if (t1 >= 0 && t2 >= 0 &&
        math.max(t1, t2) > 2.0 * math.min(t1, t2))
        onePass(name, fn, recordErr = false)
      else (-1.0, -1.0, 0L)
      // loads only for passes that ran (pass 2 is skipped when pass 1
      // failed; pass 3 is conditional) — note loadAvg() itself returns -1
      // on JVMs that can't report it, which then never trips the
      // all-passes-under-load re-queue test, the safe direction
      val ranLoads = List((true, l1), (t1 >= 0, l2), (t3 >= 0 || l3 >= 0, l3))
        .collect { case (ran, l) if ran => l }
      meta(name) = Meta(m1, ranLoads, List(t1, t2, t3))
      name -> (t1, if (t3 >= 0) math.min(t2, t3) else t2)
    }
    // min when both passes survive; when exactly one fails (transient
    // OOM/stall on the other), keep the surviving pass's time instead of
    // discarding a valid measurement — such queries are flagged in
    // "partial_pass_queries" so the artifact shows the degraded basis.
    def robust(t: (Double, Double)): Double =
      if (t._1 < 0 && t._2 < 0) -1.0
      else if (t._1 < 0 || t._2 < 0) math.max(t._1, t._2)
      else math.min(t._1, t._2)
    // End-of-run re-queue: a multi-minute host-load window covers ALL
    // passes of consecutive queries (r6: q68→q11→q12→q05→q30 inflated
    // together), so min-of-passes can't defend against it — but by the
    // END of the run the window has usually passed. Re-measure once, at
    // the end, any query that (a) came out >3x its best known history
    // with a non-trivial absolute gap, or (b) had every pass start under
    // high load. The final robust time is the min across all passes.
    val suspicious = results0.collect {
      case (name, t) if robust(t) >= 0 &&
        (history.get(name).exists(h =>
           h > 0 && robust(t) > 3 * h && robust(t) - h > 0.2) ||
         meta(name).loads.nonEmpty && meta(name).loads.forall(_ > loadMax)) =>
        name
    }.toList
    val requeued = suspicious.map { name =>
      val (t, _, _) = onePass(name, SparkEntry.queries(name), recordErr = false)
      name -> t
    }.toMap
    val results = results0.map { case (name, (t1, tMin)) =>
      val extra = requeued.getOrElse(name, -1.0)
      name -> (t1, if (extra >= 0 && tMin >= 0) math.min(tMin, extra)
                   else if (extra >= 0) extra else tMin)
    }
    val partial = results.collect {
      case (k, (a, b)) if (a < 0) != (b < 0) => k
    }
    val qs = results.map { case (k, t) => s"\"" + k + "\":" + robust(t) }
      .mkString("{", ",", "}")
    val qsRaw = results.map { case (k, t) => s"\"" + k + "\":" + t._1 }
      .mkString("{", ",", "}")
    val total = results.map { case (_, t) => robust(t) }.filter(_ >= 0).sum
    // COLD total: sum of raw FIRST-pass times. The robust min-of-passes
    // protocol lets a PlanCache seam pay its build in pass 1 and vanish
    // from every query's robust time — this scalar keeps that one-time
    // cost mechanically visible round-over-round (VERDICT r17 ask #6)
    // without changing the robust methodology. It still includes any
    // pass-1 host stalls, so compare it as a trend, not a per-run truth.
    val coldTotal = results.map { case (_, t) => t._1 }.filter(_ >= 0).sum
    // Streaming throughput: the reference's per-record pipeline (score
    // sentiment on each doc) run as a Structured Streaming micro-batch,
    // docs replicated 20× in-stream for a stable number. The reference
    // architecture caps at ~10² records/s/thread (synchronous per-record
    // HTTP, stream_processor.py:127-134); this records ours for the
    // matches-or-beats comparison. -1 on failure.
    val streamRps: Double = try {
      import org.apache.spark.sql.functions._
      val path = s"$sfDir/documents.parquet"
      val docs = spark.read.parquet(path)
      val rows = docs.count() * 20
      // the test table is a single parquet FILE; the streaming file
      // source requires a directory, so stage a symlink to it
      val streamDir = java.nio.file.Files.createTempDirectory("graft_bench_stream")
      java.nio.file.Files.createSymbolicLink(
        streamDir.resolve("docs.parquet"),
        java.nio.file.Paths.get(path).toAbsolutePath)
      val stream = spark.readStream.schema(docs.schema).parquet(streamDir.toString)
        .withColumn("_rep", explode(sequence(lit(1), lit(20))))
        .withColumn("s", graft.functions.Sentiment.score(col("text")))
      // best of two passes, mirroring the query-side min-of-passes: a
      // host-contention window only ever LOWERS throughput, so one stalled
      // pass must not become the artifact (r7 saw 68k→10k across runs of
      // unchanged code purely from load)
      def onePassRps(): Double = {
        val t0 = System.nanoTime()
        val q = stream.writeStream.format("noop").start()
        q.processAllAvailable()
        q.stop()
        rows / ((System.nanoTime() - t0) / 1e9)
      }
      val rps = math.max(onePassRps(), onePassRps())
      PlanCache.deleteTree(streamDir)
      rps
    } catch { case e: Throwable => errors += s"stream_bench: ${e.getClass.getSimpleName}"; -1.0 }
    // built AFTER the stream stage so its failures surface too; distinct
    // so a repeat failure of one query can't double-count in the list
    val errJson = errors.distinct.map(e => "\"" + e.replace("\"", "'") + "\"")
      .mkString("[", ",", "]")
    val partialJson = partial.map(p => "\"" + p + "\"").mkString("[", ",", "]")
    val requeueJson = suspicious.map(n =>
      "\"" + n + "\":" + requeued.getOrElse(n, -1.0)).mkString("{", ",", "}")
    // n_queries/sec_per_query: the query count grows round over round,
    // so the raw total is not comparable across rounds — the per-query
    // average is.
    val nq = results.count { case (_, t) => robust(t) >= 0 }
    val common =
      s""""n_queries":$nq,"sec_per_query":${if (nq > 0) total / nq else -1.0},"cold_total_sec":$coldTotal,"stream_docs_per_sec":$streamRps,"bench_protocol":$Protocol,"errors":$errJson,"partial_pass_queries":$partialJson,"requeued_queries":$requeueJson,"load_avg_before":$loadBefore,"load_avg_after":${loadAvg()},"sf":"$sfDir""""
    // STDOUT carries ROBUST numbers ONLY: the driver snapshots a truncated
    // stdout tail into BENCH_rN.json, and when the robust and raw maps
    // interleaved there, a regex reader picked up RAW first-pass times
    // (r5's q38 read as 15.5 s when its robust time was 0.71 s). The raw
    // first-pass map is diagnostic, so it lives only in the local file.
    // NOTE: the driver keeps a byte-TAIL (2000 B in r8) of stdout, so this
    // full line's HEAD — the summary scalars — is exactly what a tail cut
    // removes (BENCH_r06..r08 all shipped parsed:null that way). The
    // compact summary line printed LAST (below, after all file writes)
    // is what the tail window is guaranteed to carry.
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec",$common,"queries":$qs}"""
    // per-pass forensics (local file only): start epoch-ms + load at each
    // pass start + every pass time, keyed by query
    val metaJson = meta.map { case (k, m) =>
      "\"" + k + "\":{\"start_ms\":" + m.startMs +
        ",\"loads\":[" + m.loads.mkString(",") + "]" +
        ",\"passes\":[" + m.passes.mkString(",") + "]}"
    }.mkString("{", ",", "}")
    val jsonWithRaw =
      s"""{"metric":"total","value":$total,"unit":"sec",$common,"queries":$qs,"queries_raw_first_run":$qsRaw,"queries_meta":$metaJson}"""
    // Stdout inside sbt gets an [info] prefix that defeats line-oriented
    // JSON parsers, so the metric also lands in a file the driver can read.
    println(json)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_LOCAL.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (jsonWithRaw + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable => System.err.println(s"bench: could not write $outPath: $e") }
    // merge this run's steady-state mins back into the history file
    try {
      val resultsMap = results.toMap
      val merged = (history.keySet ++ resultsMap.keySet).toList.sorted.flatMap { k =>
        val cur = resultsMap.get(k).map(robust).filter(_ >= 0)
        val old = history.get(k).filter(_ >= 0)
        (cur, old) match {
          case (Some(c), Some(o)) => Some(k -> math.min(c, o))
          case (Some(c), None)    => Some(k -> c)
          case (None, Some(o))    => Some(k -> o)
          case _                  => None
        }
      }
      // _protocol marks which measurement protocol produced these mins —
      // entries from a different protocol were already dropped at read
      // time, so everything written here is measured under $Protocol; the
      // "_" prefix keeps metadata out of the query-time scan
      val streamSeries = if (streamRps >= 0) oldStreamSeries :+ streamRps
                         else oldStreamSeries
      val spqSeries = if (nq > 0) oldSpqSeries :+ (total / nq) else oldSpqSeries
      val nqSeries = if (nq > 0) oldNqSeries :+ nq.toDouble else oldNqSeries
      val hist = (List(s"\"_protocol\":$Protocol",
        s"\"_stream_docs_per_sec\":${if (streamSeries.nonEmpty) streamSeries.max else -1.0}",
        s"\"_stream_series\":${streamSeries.mkString("[", ",", "]")}",
        s"\"_spq_series\":${spqSeries.mkString("[", ",", "]")}",
        s"\"_nq_series\":${nqSeries.mkString("[", ",", "]")}") ++
        merged.map { case (k, v) => "\"" + k + "\":" + v })
        .mkString("{", ",", "}")
      java.nio.file.Files.write(java.nio.file.Paths.get(historyPath),
        (hist + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable => System.err.println(s"bench: could not write $historyPath: $e") }
    // LAST stdout line: scalars ONLY — no list- or map-valued field, ever.
    // The driver keeps a byte-TAIL of stdout (2000 B in r8); four rounds
    // shipped parsed:null because the final line embedded `errors` /
    // `requeued_queries`, which balloon without bound under host load
    // (r10: ~80 requeued names pushed the "compact" line past the window).
    // Everything list-valued lives in the full line above + BENCH_LOCAL.json.
    val summaryLine =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":$nq,"sec_per_query":${if (nq > 0) total / nq else -1.0},"cold_total_sec":$coldTotal,"stream_docs_per_sec":$streamRps,"n_errors":${errors.distinct.size},"bench_protocol":$Protocol}"""
    println(summaryLine)
    // Builder-side per-run scalar ledger (append-only): round-over-round
    // perf stays diffable even when a driver-side tail parse fails, and
    // without touching the driver-owned PROGRESS.jsonl schema.
    try {
      val ledger = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALARS",
        "/root/repo/BENCH_SCALARS.jsonl")
      val line = s"""{"ts_ms":${System.currentTimeMillis()},"sf":"$sfDir",""" +
        s""""total_sec":$total,"n_queries":$nq,""" +
        s""""sec_per_query":${if (nq > 0) total / nq else -1.0},""" +
        s""""cold_total_sec":$coldTotal,""" +
        s""""stream_docs_per_sec":$streamRps,""" +
        s""""n_errors":${errors.distinct.size},"protocol":$Protocol}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(ledger),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable => System.err.println(s"bench: scalar ledger: $e") }
    PlanCache.clear(spark)
    spark.stop()
    // rc=1 only when the run as a whole is unusable (no query produced a
    // time). A handful of per-query errors is already reported via
    // n_errors + the errors list — failing the process over them cost
    // r10 its whole artifact (rc=1 + tail-truncated stdout).
    if (nq == 0) sys.exit(1)
  }
}
