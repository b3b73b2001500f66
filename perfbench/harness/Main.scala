package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{PlanCache, Sessions, SparkEntry, Tables}
import graft.streaming.Pipeline

/** The JVM side of the benchmark: runs one workload against graft's public
  * surface and writes every raw observation to `<out>/raw.json`. The
  * Python side (`perfbench/run.py`) makes the inputs, checks the outputs
  * and turns the raw file into metrics.
  *
  * Arguments are `key=value` pairs; see `run.py` for the full list. */
object Main {
  type Query = (SparkSession, String) => DataFrame

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val bench = new Main(a)
    val raw = try bench.run() finally bench.stopAll()
    Files.writeString(Paths.get(a("out"), "raw.json"), Json(raw))
  }
}

final class Main(a: Map[String, String]) {
  import Main.Query

  private val workload = a("workload")
  private val cpus = a("cpus").toInt
  private val seconds = a("seconds").toDouble
  private val trace = a("trace") == "1"
  private val rnd = new scala.util.Random(a("seed").toLong)
  private val out = a("out")
  private val rec = new Recorder
  private val listeners = new Listeners(rec)
  private val triggers = new Triggers(rec)
  private var spark: SparkSession = _
  private var stream: StreamingQuery = _
  private val result = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val ops = new java.util.concurrent.atomic.AtomicLong

  private def names(key: String): Seq[String] =
    a.getOrElse(key, "").split(",").toSeq.filter(_.nonEmpty)
  private def query(name: String): Query =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))

  def stopAll(): Unit = {
    if (stream != null && stream.isActive) stream.stop()
    if (spark != null) spark.stop()
  }

  def run(): Map[String, Any] = {
    setup()
    if (workload.startsWith("stream")) streamWorkload() else batchWorkload()
    result.toMap
  }

  // ---- setup ----------------------------------------------------------

  /** Set-up, done `setups` times (the last session is kept): a session
    * from `Sessions.local`, one small job, and for batch workloads every
    * input table resolved through `Tables`. The first cycle is timed from
    * JVM start, so it includes class loading; the later ones stop the
    * SparkContext and start a fresh one in the warm JVM. */
  private def setup(): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val times = (0 until a("setups").toInt).map { i =>
      if (spark != null) spark.stop()
      val t0 = if (i == 0) jvmStart else Clock.now
      spark = Sessions.local(cpus)
      spark.sparkContext.setLogLevel("ERROR")
      spark.range(0, 1000, 1, cpus).selectExpr("sum(id)").collect()
      if (!workload.startsWith("stream")) resolveTables(spark)
      val t1 = Clock.now
      if (trace) rec.add(Span("setup", i, t0, t1, ""))
      (t1 - t0) / 1000
    }
    result("setup_s") = times
  }

  private def resolveTables(s: SparkSession): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach(Tables.table(s, a("data"), _))
    Tables.events(s, a("data"))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Tracing on or off: the Spark listener, the query-execution listener
    * of the base session, and the stream listener. Pending events are
    * delivered first, so each lands on the side it happened on. */
  private def tracing(on: Boolean): Unit = {
    drainListeners()
    if (on) {
      spark.sparkContext.addSparkListener(listeners)
      spark.listenerManager.register(listeners)
      spark.streams.addListener(triggers)
    } else {
      spark.sparkContext.removeSparkListener(listeners)
      spark.listenerManager.unregister(listeners)
      spark.streams.removeListener(triggers)
    }
  }

  private def drainListeners(): Unit =
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** Heap in use after the listeners have caught up and repeated GCs
    * (the ContextCleaner frees what the first one makes unreachable). */
  private def heapRetainedMb(): Double = {
    drainListeners()
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  // ---- batch workloads ------------------------------------------------

  private def persistentIds(s: SparkSession): Set[Int] =
    s.sparkContext.getPersistentRDDs.keySet.toSet

  /** RDDs persisted since `before`, split into PlanCache seams (cached
    * relations, which Spark names after their plan) and unnamed
    * `localCheckpoint` blocks. */
  private def newPersisted(s: SparkSession, before: Set[Int]): (Int, Int) = {
    val fresh = s.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }.values
    val seams = fresh.count(_.name != null)
    (seams, fresh.size - seams)
  }

  /** One closed-loop invocation: the query function (build) then the noop
    * write, timed from the call to the end of the write. Seam builds are
    * the persisted RDDs that appear during the invocation. */
  private def invoke(s: SparkSession, name: String, round: Int,
                     traced: Boolean): Map[String, Any] = {
    val op = ops.getAndIncrement()
    val before = persistentIds(s)
    val t0 = Clock.now
    var tb = t0
    val ok = try {
      val df = query(name)(s, a("data"))
      tb = Clock.now
      noop(df)
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        false
    }
    val t1 = Clock.now
    if (traced) {
      rec.add(Span("query", op, t0, t1, ""))
      rec.add(Span("build", op, t0, tb, "query"))
      rec.add(Span("write", op, tb, t1, "query"))
    }
    val (seams, checkpoints) = newPersisted(s, before)
    Map("q" -> name, "round" -> round, "start" -> t0, "build_ms" -> (tb - t0),
      "total_s" -> (t1 - t0) / 1000, "seams" -> seams, "checkpoints" -> checkpoints,
      "ok" -> ok, "traced" -> traced)
  }

  private def batchWorkload(): Unit = {
    val mix = names("queries")
    val cold = workload == "batch_cold"
    // untimed passes over the mix, one query per core, on the path the
    // timed invocations take (batch_cold: a fresh session, PlanCache
    // cleared after; batch_warm: the base session, whose PlanCache seams
    // the first pass fills). The first pass compiles every query and writes
    // each result for the oracle check; the `warmup_passes` after it give
    // the JIT time, which otherwise keeps speeding the queries up for
    // several rounds.
    def pass(check: Boolean): Seq[String] = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
      try mix.map { q =>
        pool.submit[Option[String]](() => {
          val s = if (cold) spark.newSession() else spark
          try {
            val df = query(q)(s, a("data"))
            if (check) df.coalesce(1).write.mode("overwrite").parquet(s"$out/results/$q") else noop(df)
            None
          } catch {
            case e: Throwable =>
              System.err.println(s"[perfbench] untimed run of $q failed: ${e.getMessage}")
              Some(q)
          } finally if (cold) PlanCache.clear(s)
        })
      }.flatMap(_.get()) finally pool.shutdown()
    }
    val failed = pass(check = true)
    (0 until a("warmup_passes").toInt).foreach(_ => pass(check = false))
    result("check_failed") = failed
    Files.writeString(Paths.get(out, "oracle_sql.json"), graft.Verify.oracleJson(mix.contains))
    if (cold) {
      val s = spark.newSession()
      result("cold_confs") = Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong", "spark.master")
        .map(k => k -> s.conf.getOption(k).getOrElse(s.sparkContext.getConf.get(k, ""))).toMap
    }

    // timed phase: rounds, each the mix in a seeded order, until `seconds`
    // have passed; the first `min_rounds` rounds run whole, so every query
    // is sampled. Stopping on the clock rather than at a round's end keeps
    // the timed window, and so the JIT's progress through it, the same
    // length in every run. With tracing on, every second round runs
    // traced, so the report can give the tracing overhead without a
    // warm-up trend in it.
    def invokeFresh(q: String, round: Int, traced: Boolean): Map[String, Any] = {
      val s = if (cold) spark.newSession() else spark
      if (cold && traced) s.listenerManager.register(listeners)
      try invoke(s, q, round, traced) finally if (cold) PlanCache.clear(s)
    }
    val samples = ArrayBuffer.empty[Map[String, Any]]
    val minRounds = a("min_rounds").toInt
    val t0 = Clock.now
    def more(round: Int) = round < minRounds || (Clock.now - t0) / 1000 < seconds
    var round = 0
    while (more(round)) {
      val traced = trace && round % 2 == 1
      if (trace) tracing(traced)
      val order = rnd.shuffle(mix).iterator
      while (order.hasNext && more(round)) samples += invokeFresh(order.next(), round, traced)
      round += 1
    }
    val wall = (Clock.now - t0) / 1000
    result("samples") = samples.toList
    result("timed_s") = wall
    result("heap_retained_mb") = heapRetainedMb()
    result("cache_bytes") = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    if (trace) {
      drainListeners()
      result("counters") = listeners.counters.toMap
      result("spans") = rec.all
      result("resolve_ms") = (0 until 3).map(_ => resolveMs())
      result("cpus") = cpus
    }
  }

  /** `Tables.table` for every table, in a fresh session. */
  private def resolveMs(): Double = {
    val s = spark.newSession()
    val t0 = Clock.now
    resolveTables(s)
    Clock.now - t0
  }

  // ---- stream workload ------------------------------------------------

  private def tweets(s: SparkSession, src: String): DataFrame =
    Pipeline.readTweets(s, Pipeline.SourceSpec("tweet-replay", path = Some(src),
      options = Map("maxFilesPerTrigger" -> a("max_files_per_trigger"))))
      .filter(col("lang") === a("lang"))

  private def counts(t: DataFrame): DataFrame =
    Pipeline.hashtagSentimentCounts(t, windowLen = a("window"), watermark = a("watermark"))

  private def streamWorkload(): Unit = {
    val staging = Paths.get(a("staging"))
    val src = Paths.get(a("src"))
    Files.createDirectories(src)
    val files = Files.list(staging).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSeq.sorted
    val Seq(prime, drain, paced) = Seq("prime_files", "drain_files", "paced_files").map(a(_).toInt)
    require(files.size == prime + 2 * drain + paced, s"expected staged files, found ${files.size}")
    val rate = a("paced_rate").toDouble
    val releases = ArrayBuffer.empty[Map[String, Any]]
    def release(i: Int, due: Double): Unit = {
      Files.move(staging.resolve(files(i)), src.resolve(files(i)), StandardCopyOption.ATOMIC_MOVE)
      releases += Map("file" -> i, "due" -> due, "actual" -> Clock.now)
    }
    def progress = stream.recentProgress.toSeq
    def committed: Int = progress.lastOption
      .flatMap(p => Option(p.sources.head.endOffset)).map(_.trim.toInt).getOrElse(0)
    def awaitCommitted(n: Int): Unit = {
      val deadline = Clock.now + 120000
      while (committed < n) {
        stream.exception.foreach(e => throw e)
        require(Clock.now < deadline, s"stream stalled before file $n")
        Thread.sleep(5)
      }
    }
    Files.writeString(Paths.get(out, "lexicon.json"), Json(Map(
      "pos" -> graft.functions.Sentiment.posSqlList, "neg" -> graft.functions.Sentiment.negSqlList)))
    val sink = s"$out/stream_out"
    stream = Pipeline.writeParquet(counts(tweets(spark, src.toString)), sink,
      s"$out/stream_chk", Trigger.ProcessingTime(a("trigger_ms").toLong))
    // prime: the first micro-batches compile the plan; untimed
    (0 until prime).foreach(release(_, Clock.now))
    awaitCommitted(prime)
    // two equal backlogs, each released at once; with tracing on, the
    // second one runs traced (overhead = its drain time minus the first's)
    // and so does the paced phase
    val drains = ArrayBuffer.empty[Map[String, Any]]
    for (k <- 0 until 2) {
      if (trace) tracing(k == 1)
      val from = prime + k * drain
      val t = Clock.now
      (from until from + drain).foreach(release(_, t))
      awaitCommitted(from + drain)
      drains += Map("from" -> from, "to" -> (from + drain), "release" -> t, "traced" -> (trace && k == 1))
    }
    if (trace) tracing(true)
    // paced: open loop at a fixed rate, each file due on the schedule
    val first = prime + 2 * drain
    val t1 = Clock.now + 100
    (0 until paced).foreach { i =>
      val due = t1 + i * 1000.0 / rate
      val wait = due - Clock.now
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      release(first + i, due)
    }
    awaitCommitted(first + paced)
    // one more trigger lets the watermark pass and emit the closed windows
    val last = progress.last.batchId
    val deadline = Clock.now + 5000
    while (progress.last.batchId <= last && Clock.now < deadline) Thread.sleep(5)
    stream.stop()
    result("drains") = drains.toList
    result("paced_first") = first
    result("releases") = releases.toList
    result("progress") = progress.map(_.json)
    result("heap_retained_mb") = heapRetainedMb()
    if (trace) {
      drainListeners()
      result("counters") = listeners.counters.toMap
      result("spans") = rec.all
      result("cpus") = cpus
    }
  }
}
