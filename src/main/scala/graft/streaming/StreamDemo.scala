package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables

/** Runnable end-to-end twin of `python app.py <lang> <hashtag>`
  * (SURVEY.md §3.1): synthesizes a replayable tweet-JSON source from the
  * `documents` table, runs the continuous query
  * readStream → filter(lang, track) → sentiment → windowed counts →
  * parquet sink (checkpointed), then prints the landed results.
  *
  * `sbt "runMain graft.streaming.StreamDemo en spark [sfDir]
  * [--supervised] [--curated]"`.
  *
  * `--supervised` runs the query under [[Supervision.supervise]] with a
  * [[Supervision.MetricsListener]] attached — the user-facing shape of
  * the reconnect/backoff path (S1): a transport drop restarts the query
  * on the same checkpoint, and the run ends by printing the listener's
  * restart/failure/row metrics.
  *
  * `--curated` instead streams the documents table through the composed
  * curation intake ([[Pipeline.curatedIntake]]: mixture gate → content
  * dedup → quality gate, rates snapshotted from the same corpus) and
  * prints per-source admitted counts — the continuous form of the
  * batch q86/q19/q17 recipe. `<lang>`/`<track>` are accepted but
  * unused in this mode.
  *
  * Uses Trigger.AvailableNow so the demo drains the source and exits (a
  * production run would use the 60 s ProcessingTime trigger, T1). */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val supervised = args.contains("--supervised")
    val curated = args.contains("--curated")
    val pos = args.filterNot(_.startsWith("--"))
    if (pos.length < 2) {
      System.err.println(
        "usage: StreamDemo <lang> <track> [sfDir] [--supervised] [--curated]")
      sys.exit(2)
    }
    val Array(lang, track) = pos.take(2)
    val sfDir = pos.lift(2).getOrElse("/root/testdata/sf0.001")
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("WARN")

    if (curated) {
      val docs = Tables.documents(spark, sfDir)
      val rates = graft.operators.Curation.mixtureRates(spark, sfDir)
      val curBase = java.nio.file.Files.createTempDirectory("graft_demo_cur")
      val streamDir = curBase.resolve("src")
      java.nio.file.Files.createDirectory(streamDir)
      java.nio.file.Files.createSymbolicLink(
        streamDir.resolve("docs.parquet"),
        java.nio.file.Paths.get(s"$sfDir/documents.parquet").toAbsolutePath)
      val stream = spark.readStream.schema(docs.schema)
        .parquet(streamDir.toString)
        .withColumn("ts",
          timestamp_seconds(lit(1704103200L) + col("doc_id") * 5))
      val q = Pipeline.curatedIntake(stream, rates, "ts")
        .writeStream.format("parquet")
        .option("path", s"$curBase/out")
        .option("checkpointLocation", s"$curBase/chk")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      println("=== curated intake: admitted per source ===")
      spark.read.parquet(s"$curBase/out")
        .groupBy("source")
        .agg(count(lit(1)).as("admitted"),
          round(avg(col("quality")), 4).as("avg_quality"))
        .orderBy("source")
        .show(30, truncate = false)
      spark.stop()
      graft.PlanCache.deleteTree(curBase)
      return
    }

    val base = java.nio.file.Files.createTempDirectory("graft_demo")
    val (src, out, chk) = (s"$base/src", s"$base/out", s"$base/chk")

    // Synthesize the tweet stream: one JSON line per document, event time
    // staggered 5 s apart from a fixed origin (deterministic). The span
    // must comfortably exceed the watermark below, or append mode never
    // finalizes a window.
    Tables.documents(spark, sfDir)
      .select(to_json(struct(
        col("text"),
        col("lang"),
        timestamp_seconds(lit(1704103200L) + col("doc_id") * 5).as("created_at"),
        struct(array(struct(lit(track).as("text"))).as("hashtags"))
          .as("entities"))).as("value"))
      .coalesce(1) // single source file → single micro-batch, so the
      // watermark can't classify part of the (unordered) file set as late
      .write.mode("overwrite").text(src)

    val scored = Pipeline.scoreTweets(
      Pipeline.readTweets(spark, Pipeline.SourceSpec("json", path = Some(src))),
      lang, track)
    val counts = Pipeline.sentimentCounts(scored,
      windowLen = "5 minutes", watermark = "30 seconds")
    def startQuery() = Pipeline.writeParquet(counts, out, chk, Trigger.AvailableNow())
    if (supervised) {
      val metrics = new Supervision.MetricsListener()
      spark.streams.addListener(metrics)
      val handle = Supervision.supervise(() => startQuery())
      handle.await(timeoutMs = 600000)
      handle.lastError.foreach(e =>
        System.err.println(s"supervision gave up: ${e.getMessage}"))
      println(s"supervision: starts=${metrics.starts} " +
        s"restarts=${metrics.restarts} failures=${metrics.failures} " +
        s"input_rows=${metrics.inputRows} " +
        s"last_error=${metrics.lastError.getOrElse("none")}")
    } else {
      startQuery().awaitTermination()
    }

    // NB append mode only finalizes a window once the watermark passes its
    // end, so the trailing window(s) of the corpus are intentionally not
    // emitted — that is correct streaming semantics, not data loss.
    println(s"=== windowed sentiment counts ($lang, '$track') ===")
    val files = new java.io.File(out).listFiles()
    if (files == null || !files.exists(_.getName.endsWith(".parquet"))) {
      println("(no windows finalized — corpus span must exceed window + " +
        "watermark for append mode to emit anything)")
    } else {
      spark.read.parquet(out)
        .orderBy("window_start", "label")
        .show(50, truncate = false)
    }
    spark.stop()
    graft.PlanCache.deleteTree(base)
  }
}
