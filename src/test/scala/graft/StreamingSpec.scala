package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{AsofEvent, Pipeline}

case class TweetFixture(text: String, lang: String, created_at: Timestamp,
                        entities: EntitiesFixture)
case class EntitiesFixture(hashtags: Seq[HashtagFixture])
case class HashtagFixture(text: String)

case class EventFixture(event_id: Long, ts: Timestamp, user_id: Long,
                        event_type: String, value: Double)

case class DocFixture(doc_id: Long, text: String, ts: Timestamp)

case class ChunkDocFixture(doc_id: Long, lang: String, text: String)

case class EmbFixture(label: Long, embedding: Seq[Double], ts: java.sql.Timestamp)

case class CuratedDocFixture(doc_id: Long, text: String, lang: String,
                             source: String, ts: Timestamp)

case class ValueEventFixture(event_type: String, value: Double, ts: Timestamp)

/** Streaming semantics (SURVEY.md §2.9 T1-T5, §5.4): stream/batch parity
  * on the SAME declarative transforms, watermarked dedup, stream-static
  * join, and exactly-once file-sink restart. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = Timestamp.valueOf(s)

  private val tweets = Seq(
    TweetFixture("spark is fast and good", "en", ts("2024-01-01 10:00:05"),
      EntitiesFixture(Seq(HashtagFixture("spark")))),
    TweetFixture("slow broken build", "en", ts("2024-01-01 10:00:30"),
      EntitiesFixture(Seq(HashtagFixture("Spark")))),      // hashtag-only match
    TweetFixture("spark es bueno", "es", ts("2024-01-01 10:01:10"),
      EntitiesFixture(Seq.empty)),                          // wrong lang
    TweetFixture("nothing to see", "en", ts("2024-01-01 10:01:20"),
      EntitiesFixture(Seq.empty)),                          // no track match
    TweetFixture("I love spark big win", "en", ts("2024-01-01 10:01:45"),
      EntitiesFixture(Seq.empty)))

  test("stream/batch parity: identical sentiment window counts (T2)") {
    val mem = MemoryStream[TweetFixture]
    mem.addData(tweets: _*)
    val streamed = Pipeline.sentimentCounts(
      Pipeline.scoreTweets(mem.toDF(), "en", "#spark"))
    val q = streamed.writeStream.format("memory").queryName("sent_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val fromStream = spark.table("sent_stream")
      .orderBy("window_start", "label").collect().toSeq
    val fromBatch = Pipeline.sentimentCounts(
        Pipeline.scoreTweets(tweets.toDF(), "en", "#spark"))
      .orderBy("window_start", "label").collect().toSeq
    assert(fromStream == fromBatch)
    assert(fromStream.nonEmpty)
    // track semantics: hashtag-entity-only tweet matched; es/no-match dropped
    assert(fromStream.map(_.getAs[Long]("n_tweets")).sum == 3)
  }

  test("stream/batch parity: per-hashtag windowed sentiment counts (T2+E1)") {
    // tags come from entities AND '#' tokens in text; '#rocks' only in
    // text, 'spark' entity on two tweets (one also saying "spark" plain —
    // per-tweet distinctness must not double count)
    val tagged = Seq(
      TweetFixture("spark is fast and good #rocks", "en", ts("2024-01-01 10:00:05"),
        EntitiesFixture(Seq(HashtagFixture("spark")))),
      TweetFixture("slow broken build", "en", ts("2024-01-01 10:00:30"),
        EntitiesFixture(Seq(HashtagFixture("Spark")))),
      TweetFixture("#rocks #ROCKS good", "en", ts("2024-01-01 10:01:45"),
        EntitiesFixture(Seq.empty)))
    val mem = MemoryStream[TweetFixture]
    mem.addData(tagged: _*)
    val q = Pipeline.hashtagSentimentCounts(mem.toDF())
      .writeStream.format("memory").queryName("ht_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val fromStream = spark.table("ht_stream")
      .orderBy("window_start", "hashtag").collect().toSeq
    val fromBatch = Pipeline.hashtagSentimentCounts(tagged.toDF())
      .orderBy("window_start", "hashtag").collect().toSeq
    assert(fromStream == fromBatch)
    val byTag = fromStream.groupBy(_.getAs[String]("hashtag"))
      .view.mapValues(_.map(_.getAs[Long]("n_tweets")).sum).toMap
    // 'spark': entity on tweets 1+2 (not double-counted with the plain
    // text word); 'rocks': text tag on tweets 1+3 (case-folded, distinct)
    assert(byTag == Map("spark" -> 2L, "rocks" -> 2L), s"got $byTag")
    val pos = fromStream.filter(_.getAs[String]("hashtag") == "rocks")
      .map(_.getAs[Long]("n_positive")).sum
    assert(pos == 2L) // both 'rocks' tweets are positive
  }

  test("streaming as-of enrichment matches the batch as-of join across batches (J4+/T4)") {
    // same fixture as AsofJoinSpec: purchases at 100 (5.0 max of dup pair)
    // and 200 (7.0); views at 50/100/150/250; user 2 has no purchases.
    // batch 1 carries everything up to epoch 200, batch 2 the rest — so
    // view 250's match (7.0) MUST come from cross-batch state
    val mem = MemoryStream[AsofEvent]
    val q = Pipeline.asofEnrich(mem.toDS())
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        AsofEvent(10L, 1L, "purchase", 100L, 5.0),
        AsofEvent(11L, 1L, "purchase", 100L, 3.0),
        AsofEvent(20L, 1L, "view", 50L, 0.0),
        AsofEvent(21L, 1L, "view", 100L, 0.0),
        AsofEvent(22L, 1L, "view", 150L, 0.0),
        AsofEvent(12L, 1L, "purchase", 200L, 7.0))
      q.processAllAvailable()
      mem.addData(
        AsofEvent(23L, 1L, "view", 250L, 0.0),
        AsofEvent(30L, 2L, "view", 300L, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("asof_stream").collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Double]("asof_value")).map(_.doubleValue))
      .toMap
    // identical to the batch operator's hand-computed answer (AsofJoinSpec)
    assert(got == Map(20L -> None, 21L -> Some(5.0), 22L -> Some(5.0),
      23L -> Some(7.0), 30L -> None), s"got $got")
  }

  test("streaming sequence packing matches batch packContexts across batch splits (T4/X6)") {
    import graft.operators.Packing
    // batch answer over the real corpus (small ctx so contexts straddle)
    val batch = Packing.packContexts(spark, sf0001, ctxLen = 64, nShards = 4)
      .select("doc_id", "lang", "shard", "n_tokens", "cum_tokens",
        "context_id", "end_context")
    val expected = batch.collect().map(_.toSeq).toSet
    // streaming twin: same docs fed in doc_id order, split into three
    // micro-batches at arbitrary boundaries — a partially-filled context
    // MUST carry across the batch boundary via state
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"),
        size(graft.functions.TextHash.tokens(col("text"))).cast("long")
          .as("n_tokens"))
      .orderBy("doc_id").as[graft.streaming.PackDoc].collect()
    val mem = MemoryStream[graft.streaming.PackDoc]
    val q = Pipeline.packStream(mem.toDS(), ctxLen = 64, nShards = 4)
      .writeStream.format("memory").queryName("pack_stream")
      .outputMode("append").start()
    try {
      val (a, rest) = docs.splitAt(docs.length / 3)
      val (b, c) = rest.splitAt(rest.length / 3)
      Seq(a, b, c).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("pack_stream")
      .select("doc_id", "lang", "shard", "n_tokens", "cum_tokens",
        "context_id", "end_context")
      .collect().map(_.toSeq).toSet
    assert(got == expected,
      s"stream/batch diverged: ${got.diff(expected).take(3)} vs ${expected.diff(got).take(3)}")
  }

  test("streaming chunking matches batch chunkDocs — stateless, any batch split (X6+)") {
    import graft.operators.Packing
    // chunking is per-doc stateless (narrow projection + bounded explode),
    // so the SAME operator runs unchanged on a stream: no state store, no
    // watermark, and batch boundaries cannot change any output row
    val expected = Packing.chunkDocs(spark, sf0001, chunkLen = 32, overlap = 8)
      .collect().map(_.toSeq).toSet
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "text").as[ChunkDocFixture].collect()
    val mem = MemoryStream[ChunkDocFixture]
    val q = Packing.chunkDocsOf(mem.toDS().toDF(), chunkLen = 32, overlap = 8)
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    try {
      val (a, b) = docs.splitAt(docs.length / 2)
      Seq(a, b).foreach { part =>
        mem.addData(part.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("chunk_stream").collect().map(_.toSeq).toSet
    assert(got == expected,
      s"stream/batch chunking diverged: ${got.diff(expected).take(3)} vs ${expected.diff(got).take(3)}")
  }

  test("watermarked streaming dedup drops re-delivered records (T4)") {
    val mem = MemoryStream[EventFixture]
    val e = EventFixture(1L, ts("2024-01-01 00:00:01"), 7L, "click", 1.0)
    mem.addData(e, e.copy(event_id = 2L), e) // exact re-delivery of id 1
    val q = Pipeline.dedupByKey(mem.toDF(), "ts", Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("dedup_stream").count() == 2)
  }

  test("stream-static broadcast join enriches without per-record RPC (J5)") {
    val mem = MemoryStream[EventFixture]
    mem.addData(
      EventFixture(1L, ts("2024-01-01 00:00:01"), 1L, "click", 1.0),
      EventFixture(2L, ts("2024-01-01 00:00:02"), 2L, "view", 2.0))
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = Pipeline.enrich(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("enrich_stream").orderBy("event_id").collect()
    assert(out.map(_.getAs[String]("tier")).toSeq == Seq("gold", "silver"))
  }

  test("parquet sink + checkpoint is exactly-once across restart (T1/T5/K1)") {
    val src = Files.createTempDirectory("graft_stream_src").toString
    val out = Files.createTempDirectory("graft_stream_out").toString
    val chk = Files.createTempDirectory("graft_stream_chk").toString
    tweets.toDF().write.mode("overwrite").json(src)

    def runOnce(): Unit = {
      val scored = Pipeline.scoreTweets(
        Pipeline.readTweetStream(spark, src), "en", "spark")
      val q = Pipeline.writeParquet(scored, out, chk, Trigger.AvailableNow())
      q.awaitTermination()
    }
    runOnce()
    val n1 = spark.read.parquet(out).count()
    runOnce() // restart on same checkpoint: no reprocessing, no duplicates
    val n2 = spark.read.parquet(out).count()
    assert(n1 == 3 && n2 == n1, s"expected exactly-once (got $n1 then $n2)")
  }

  test("streaming session windows match the batch sessionizer (T2/T4)") {
    import org.apache.spark.sql.functions._
    val events = Seq(
      EventFixture(1, ts("2024-01-01 00:00:00"), 1L, "click", 1.0),
      EventFixture(2, ts("2024-01-01 00:05:00"), 1L, "click", 1.0), // same session
      EventFixture(3, ts("2024-01-01 00:30:00"), 1L, "click", 1.0), // new session
      EventFixture(4, ts("2024-01-01 00:02:00"), 2L, "view", 1.0))
    // sentinel far in the future advances the watermark so append mode
    // finalizes every real session
    val sentinel = EventFixture(99, ts("2024-01-02 00:00:00"), 9L, "x", 0.0)
    val mem = MemoryStream[EventFixture]
    mem.addData(events: _*)
    val sessions = mem.toDF()
      .withWatermark("ts", "10 seconds")
      .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
    val q = sessions.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      mem.addData(sentinel)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sess_stream")
      .filter(col("user_id") =!= 9L)
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSeq
    assert(streamed == Seq(
      (1L, ts("2024-01-01 00:00:00"), 2L),
      (1L, ts("2024-01-01 00:30:00"), 1L),
      (2L, ts("2024-01-01 00:02:00"), 1L)))
  }

  test("as-of enrichment state survives checkpoint restart (J4+/T5)") {
    val src = Files.createTempDirectory("graft_asof_src").toString
    val out = Files.createTempDirectory("graft_asof_out").toString
    val chk = Files.createTempDirectory("graft_asof_chk").toString
    def run(): Unit = {
      val stream = spark.readStream
        .schema(Seq(AsofEvent(0L, 0L, "view", 0L, 0.0)).toDF().schema)
        .json(src).as[AsofEvent]
      val q = Pipeline.asofEnrich(stream)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // run 1: purchase lands in state, one view matched
    Seq(AsofEvent(1L, 7L, "purchase", 100L, 5.0),
      AsofEvent(2L, 7L, "view", 150L, 0.0)).toDF()
      .write.mode("append").json(src)
    run()
    // run 2 (fresh query, recovered checkpoint): the view can only match
    // 5.0 if the purchase state survived the restart
    Seq(AsofEvent(3L, 7L, "view", 200L, 0.0)).toDF()
      .write.mode("append").json(src)
    run()
    val rows = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Double]("asof_value")).map(_.doubleValue))
      .toMap
    assert(rows == Map(2L -> Some(5.0), 3L -> Some(5.0)), s"got $rows")
  }

  test("streaming similarity search matches batch cosine top-k per query (X3/T4)") {
    import graft.streaming.QueryVec
    import graft.operators.Similarity
    // the same query vectors the batch operator uses, fed in two batches
    val corpus = Tables.embeddings(spark, sf0001)
    val qvecs = corpus
      .filter(col("vec_id").isin(Similarity.QueryIds: _*))
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("qv"))
      .collect().map(r => QueryVec(r.getLong(0), r.getSeq[Double](1)))
    val mem = MemoryStream[QueryVec]
    val q = Pipeline.cosineTopKStream(mem.toDS().toDF(), corpus, k = 10)
      .writeStream.format("memory").queryName("sim_stream")
      .outputMode("complete").start()
    try {
      mem.addData(qvecs.head)
      q.processAllAvailable()
      mem.addData(qvecs.tail.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sim_stream")
      .select(col("query_id"), posexplode(col("hits")).as(Seq("pos", "h")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("h.vec_id").as("vec_id"), col("h.cosine").as("cosine"))
      .collect().map(_.toSeq).toSet
    val expected = Similarity.cosineTopK(spark, sf0001, k = 10)
      .select("query_id", "rank", "vec_id", "cosine")
      .collect().map(_.toSeq).toSet
    assert(got == expected,
      s"stream/batch diverged: ${got.diff(expected).take(3)} vs ${expected.diff(got).take(3)}")
  }

  test("packing state survives checkpoint restart (T4/T5/X6)") {
    import graft.streaming.PackDoc
    val src = Files.createTempDirectory("graft_pack_src").toString
    val out = Files.createTempDirectory("graft_pack_out").toString
    val chk = Files.createTempDirectory("graft_pack_chk").toString
    def run(): Unit = {
      val stream = spark.readStream
        .schema(Seq(PackDoc(0L, "en", 0L)).toDF().schema)
        .json(src).as[PackDoc]
      val q = Pipeline.packStream(stream, ctxLen = 10, nShards = 1)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // run 1: 7 tokens land in the shard's running count (context 0 open)
    Seq(PackDoc(1L, "en", 7L)).toDF().write.mode("append").json(src)
    run()
    // run 2 (fresh query, recovered checkpoint): a 6-token doc can only
    // start at offset 7 — straddling contexts 0 and 1 — if the running
    // count survived the restart; a reset count would pack it at 0
    Seq(PackDoc(2L, "en", 6L)).toDF().write.mode("append").json(src)
    run()
    val rows = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cum_tokens"), r.getAs[Long]("context_id"),
          r.getAs[Long]("end_context"))).toMap
    assert(rows == Map(1L -> ((7L, 0L, 0L)), 2L -> ((13L, 0L, 1L))),
      s"state lost across restart: $rows")
  }

  test("stateful dedup state survives checkpoint restart (T4/T5)") {
    val src = Files.createTempDirectory("graft_dd_src").toString
    val out = Files.createTempDirectory("graft_dd_out").toString
    val chk = Files.createTempDirectory("graft_dd_chk").toString
    val e1 = EventFixture(1, ts("2024-01-01 00:00:01"), 1L, "click", 1.0)
    val e2 = EventFixture(2, ts("2024-01-01 00:00:02"), 2L, "view", 1.0)
    val e3 = EventFixture(3, ts("2024-01-01 00:00:03"), 3L, "buy", 1.0)

    def run(): Unit = {
      val stream = spark.readStream
        .schema(Seq(e1).toDF().schema)
        .json(src)
      val q = Pipeline.dedupByKey(stream, "ts", Seq("event_id"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    Seq(e1, e2).toDF().write.mode("append").json(src)
    run()
    assert(spark.read.parquet(out).count() == 2)
    // restart with a re-delivered e1 plus a genuinely new e3: recovered
    // state must drop the dup and keep the new record
    Seq(e1, e3).toDF().write.mode("append").json(src)
    run()
    val rows = spark.read.parquet(out)
    assert(rows.count() == 3, "exactly e1, e2, e3 once each")
    assert(rows.select("event_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("stream-stream time-bounded join matches the batch range join (J4)") {
    val views = Seq(
      EventFixture(1, ts("2024-01-01 00:00:00"), 1L, "view", 1.0),
      EventFixture(2, ts("2024-01-01 00:10:00"), 2L, "view", 1.0))
    val buys = Seq(
      EventFixture(11, ts("2024-01-01 00:03:00"), 1L, "purchase", 9.0), // within 5 min
      EventFixture(12, ts("2024-01-01 00:30:00"), 2L, "purchase", 9.0)) // too late
    val vMem = MemoryStream[EventFixture]
    val bMem = MemoryStream[EventFixture]
    vMem.addData(views: _*)
    bMem.addData(buys: _*)
    val joined = Pipeline.streamStreamWithin(
      vMem.toDF(), bMem.toDF(), "user_id", "ts", maxGapSec = 300)
    val q = joined.select(col("event_id"), col("event_id_r"))
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val pairs = spark.table("ss_join").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((1L, 11L)),
      s"only the within-5-min conversion must join, got $pairs")
  }

  test("mapGroupsWithState accumulates per-key counts across batches (T4)") {
    import graft.streaming.UserEvent
    val mem = MemoryStream[UserEvent]
    val counts = Pipeline.runningUserCounts(mem.toDS())
    val q = counts.toDF().writeStream.format("memory")
      .queryName("state_counts").outputMode("update").start()
    try {
      mem.addData(UserEvent(1L, ts("2024-01-01 00:00:01")),
        UserEvent(1L, ts("2024-01-01 00:00:02")),
        UserEvent(2L, ts("2024-01-01 00:00:03")))
      q.processAllAvailable()
      mem.addData(UserEvent(1L, ts("2024-01-01 00:01:00"))) // second batch
      q.processAllAvailable()
    } finally q.stop()
    // update mode: latest row per (batch, key); user 1 must reach 3 via
    // state carried across batches, user 2 stays at 1
    val latest = spark.table("state_counts")
      .groupBy("user_id").agg(max("n_events").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(latest == Map(1L -> 3L, 2L -> 1L), s"got $latest")
  }

  test("transformWithState running counts match mapGroupsWithState batch-by-batch (T4)") {
    import graft.streaming.UserEvent
    // the transformWithState operator requires the RocksDB state store;
    // scope the provider to this test and restore the session default
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def run(build: org.apache.spark.sql.Dataset[UserEvent] =>
                     org.apache.spark.sql.Dataset[graft.streaming.UserCount],
              name: String): Map[Long, Long] = {
        val mem = MemoryStream[UserEvent]
        val q = build(mem.toDS()).toDF().writeStream.format("memory")
          .queryName(name).outputMode("update").start()
        try {
          mem.addData(UserEvent(1L, ts("2024-01-01 00:00:01")),
            UserEvent(1L, ts("2024-01-01 00:00:02")),
            UserEvent(2L, ts("2024-01-01 00:00:03")))
          q.processAllAvailable()
          mem.addData(UserEvent(1L, ts("2024-01-01 00:01:00")),
            UserEvent(3L, ts("2024-01-01 00:01:30"))) // second batch
          q.processAllAvailable()
        } finally q.stop()
        spark.table(name).groupBy("user_id").agg(max("n_events").as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val legacy = run(ds => Pipeline.runningUserCounts(ds), "tws_legacy")
      val tws = run(ds => Pipeline.runningUserCountsTws(ds), "tws_new")
      assert(tws == legacy, s"tws=$tws legacy=$legacy")
      assert(tws == Map(1L -> 3L, 2L -> 1L, 3L -> 1L),
        "state must accumulate across batches in both APIs")
    } finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  test("source seam: schema'd file and payload transports give identical results (S1)") {
    val src = Files.createTempDirectory("graft_seam_src").toString
    tweets.toDF().write.mode("overwrite").json(src)

    def runThrough(spec: Pipeline.SourceSpec, name: String): Seq[String] = {
      val scored = Pipeline.scoreTweets(Pipeline.readTweets(spark, spec), "en", "#spark")
      val q = scored.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).orderBy("created_at")
        .collect().map(_.getAs[String]("text")).toSeq
    }
    // transport 1: schema'd json file source (tweetSchema applied at scan)
    val viaFile = runThrough(Pipeline.SourceSpec("json", path = Some(src)), "seam_file")
    // transport 2: line-payload transport (same files read as raw text —
    // the socket/kafka/kinesis shape: value column → parse → validTweets)
    val viaPayload = runThrough(Pipeline.SourceSpec("text", path = Some(src)), "seam_payload")
    assert(viaFile.nonEmpty && viaFile == viaPayload)
  }

  test("socket transport delivers a burst end-to-end, corrupt lines dropped (S1/F3/T6)") {
    val server = new java.net.ServerSocket(0, 50,
      java.net.InetAddress.getByName("127.0.0.1"))
    val nGood = 3000
    @volatile var nBadSent = 0
    val feeder = new Thread(() => {
      val sock = server.accept() // blocks until the socket source connects
      val out = new java.io.PrintWriter(new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(sock.getOutputStream,
          java.nio.charset.StandardCharsets.UTF_8)))
      (0 until nGood).foreach { i =>
        out.println(s"""{"text":"spark burst item $i","lang":"en","created_at":"2024-01-01T10:00:05.000Z","entities":{"hashtags":[]}}""")
        if (i % 100 == 0) { out.println("{\"truncated\":"); nBadSent += 1 }
      }
      out.flush()
      // leave the connection open; q.stop() tears the source down
    }, "socket-feeder")
    feeder.setDaemon(true)
    feeder.start()
    val spec = Pipeline.SourceSpec("socket", options = Map(
      "host" -> "127.0.0.1", "port" -> server.getLocalPort.toString))
    val scored = Pipeline.scoreTweets(Pipeline.readTweets(spark, spec), "en", "spark")
    val q = scored.writeStream.format("memory").queryName("socket_load")
      .outputMode("append").start()
    var deadlineExceeded = false
    try {
      // the socket delivers asynchronously: drain until every good line
      // has landed (or a generous deadline trips)
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (spark.table("socket_load").count() < nGood &&
             { deadlineExceeded = System.nanoTime() >= deadline; !deadlineExceeded }) {
        q.processAllAvailable(); Thread.sleep(100)
      }
    } finally { q.stop(); server.close() }
    val got = spark.table("socket_load")
    assert(nBadSent > 0, "the burst must interleave malformed lines")
    // an under-count after the deadline tripped is an ENVIRONMENT flake
    // (loaded host starved the drain loop), not a correctness failure —
    // fail with a distinct message so triage doesn't chase a product bug
    assert(!deadlineExceeded || got.count() == nGood,
      s"deadline exceeded: drained ${got.count()} of $nGood within 120s — " +
        "environment too loaded for the socket burst, not a product failure")
    assert(got.count() == nGood,
      s"every well-formed line exactly once (corrupt lines dropped, " +
        s"stream alive): got ${got.count()} of $nGood")
    assert(got.select("text").distinct().count() == nGood, "no duplicates")
  }

  test("streaming MinHash dedup drops signature-identical docs like batch (X2)") {
    val docs = Seq(
      DocFixture(1L, "the quick brown fox jumps over the lazy dog today", ts("2024-01-01 00:00:01")),
      DocFixture(2L, "the quick brown fox jumps over the lazy dog today", ts("2024-01-01 00:00:02")),
      DocFixture(3L, "completely different text about spark structured streaming", ts("2024-01-01 00:00:03")))
    val mem = MemoryStream[DocFixture]
    mem.addData(docs: _*)
    val q = Pipeline.dedupNearMinhash(mem.toDF(), "text", "ts")
      .writeStream.format("memory").queryName("mh_dedup")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val kept = spark.table("mh_dedup").collect().map(_.getAs[String]("text")).toSet
    // batch twin: one representative per distinct full MinHash signature
    val batchKept = docs.toDF()
      .withColumn("sig", array_join(
        graft.functions.HashExpressions.minhashSig(col("text"), 3, 16), "_"))
      .dropDuplicates("sig")
      .collect().map(_.getAs[String]("text")).toSet
    assert(spark.table("mh_dedup").count() == 2)
    assert(kept == batchKept, "stream keeps exactly the batch representatives")
  }

  test("flatMapGroupsWithState sessionization matches batch session_window (T4)") {
    import graft.streaming.UserEvent
    val batch1 = Seq(
      UserEvent(1L, ts("2024-01-01 00:00:00")),
      UserEvent(1L, ts("2024-01-01 00:05:00")),
      UserEvent(2L, ts("2024-01-01 00:02:00")),
      UserEvent(3L, ts("2024-01-01 00:00:00")))
    val batch2 = Seq(
      UserEvent(1L, ts("2024-01-01 00:08:00")), // merges across micro-batches
      UserEvent(1L, ts("2024-01-01 00:30:00")), // closes session 1, opens new
      UserEvent(3L, ts("2024-01-01 00:10:00"))) // gap == 10 min exactly: merges
    val mem = MemoryStream[UserEvent]
    val q = Pipeline.sessionize(mem.toDS(), gapSec = 600L, watermark = "10 seconds")
      .toDF().writeStream.format("memory").queryName("fmgws_sessions")
      .outputMode("append").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      // two sentinel batches: first advances the watermark, second lets the
      // EventTimeTimeout fire and flush the still-open sessions
      mem.addData(UserEvent(9L, ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      mem.addData(UserEvent(9L, ts("2024-01-03 00:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("fmgws_sessions")
      .filter(col("user_id") =!= 9L)
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Timestamp]("session_start"), r.getAs[Long]("n_events"))).toSeq
    val fromBatch = (batch1 ++ batch2).toDF()
      .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Timestamp]("session_start"), r.getAs[Long]("n_events"))).toSeq
    assert(streamed == fromBatch, s"stream=$streamed batch=$fromBatch")
    assert(streamed.contains((3L, ts("2024-01-01 00:00:00"), 2L)),
      "event landing exactly at session end must merge (session_window parity)")
  }

  test("runningUserCounts with a state TTL still accumulates across batches (T4)") {
    import graft.streaming.UserEvent
    val mem = MemoryStream[UserEvent]
    val counts = Pipeline.runningUserCounts(mem.toDS(), stateTtl = Some("1 hour"))
    val q = counts.toDF().writeStream.format("memory")
      .queryName("ttl_counts").outputMode("update").start()
    // ProcessingTimeTimeout keeps scheduling no-data batches to evaluate
    // timeouts, so processAllAvailable never quiesces — poll the sink.
    def await(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (!cond && System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(cond, "timed out waiting for streaming output")
    }
    try {
      mem.addData(UserEvent(1L, ts("2024-01-01 00:00:01")))
      await(spark.table("ttl_counts").count() >= 1)
      mem.addData(UserEvent(1L, ts("2024-01-01 00:00:02")))
      await(spark.table("ttl_counts")
        .agg(max("n_events")).collect()(0).getLong(0) == 2L)
    } finally q.stop()
    val latest = spark.table("ttl_counts")
      .groupBy("user_id").agg(max("n_events").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(latest == Map(1L -> 2L), s"got $latest")
  }

  test("foreachBatch delivers the Firehose-shaped (batchDF, batchId) (S3)") {
    val mem = MemoryStream[EventFixture]
    mem.addData(EventFixture(1L, ts("2024-01-01 00:00:01"), 1L, "click", 1.0))
    val seen = new java.util.concurrent.atomic.AtomicLong(-1)
    val q = Pipeline.writeForeachBatch(mem.toDF(),
      Files.createTempDirectory("graft_fb_chk").toString,
      Trigger.AvailableNow()) { (batch, id) =>
      seen.set(batch.count() * 1000 + id)
    }
    q.awaitTermination()
    assert(seen.get() == 1000, "one batch (id 0) with one record")
  }

  test("supervisor reconnects a dropped query with backoff, no data loss (S1/T5)") {
    import graft.streaming.Supervision
    // simulated streamer.py non-200: the first delivery attempt dies
    // mid-stream; the supervisor must back off, restart on the SAME
    // checkpoint, and the replayed batch must land every row exactly once.
    val src = Files.createTempDirectory("graft_sup_src").toString
    val out = Files.createTempDirectory("graft_sup_out").toString
    val chk = Files.createTempDirectory("graft_sup_chk").toString
    tweets.toDF().write.mode("overwrite").json(src)

    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    val delays = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val handle = Supervision.supervise(
      start = () => Pipeline.writeForeachBatch(
        Pipeline.readTweetStream(spark, src), chk, Trigger.AvailableNow()) {
        (batch, id) =>
          if (failOnce.getAndSet(false))
            throw new RuntimeException("transport dropped (simulated non-200)")
          batch.write.mode("overwrite").parquet(s"$out/ingest_batch=$id")
      },
      policy = Supervision.Backoff(maxRestarts = 3, initialMs = 2, maxMs = 100),
      sleep = ms => delays.add(ms))
    assert(handle.await(timeoutMs = 120000), "supervision must terminate")

    assert(handle.restarts == 1, s"one reconnect expected, got ${handle.restarts}")
    assert(handle.lastError.isEmpty, "recovered run must end error-free")
    assert(delays.size == 1 && delays.peek() == 2L, "first backoff = initialMs")
    val delivered = spark.read.parquet(out)
    assert(delivered.count() == tweets.size,
      "checkpoint replay must deliver every row exactly once after reconnect")
    assert(delivered.select("text").as[String].collect().toSet ==
      tweets.map(_.text).toSet)

    // exhausted retries surface the error instead of spinning forever
    val alwaysChk = Files.createTempDirectory("graft_sup_chk2").toString
    val h2 = Supervision.supervise(
      start = () => Pipeline.writeForeachBatch(
        Pipeline.readTweetStream(spark, src), alwaysChk, Trigger.AvailableNow()) {
        (_, _) => throw new RuntimeException("hard down")
      },
      policy = Supervision.Backoff(maxRestarts = 2, initialMs = 1, maxMs = 4),
      sleep = _ => ())
    assert(h2.await(timeoutMs = 120000))
    assert(h2.restarts == 2 && h2.lastError.isDefined)
  }

  test("dead-letter sink quarantines corrupt payloads, good rows unaffected (K1/F3)") {
    // twin of Firehose processing-failed/: batch 0 mixes well-formed and
    // malformed JSON lines, batch 1 is clean — bad raws must land under
    // quarantine/ingest_batch=0 verbatim, good rows in the data path, and
    // the clean batch must leave NO quarantine directory.
    val mem = MemoryStream[String]
    val good0 = """{"text":"spark is good","lang":"en","created_at":"2024-01-01T10:00:05Z","entities":{"hashtags":[]}}"""
    val bad0a = """{not json at all"""
    val bad0b = """<xml>wrong format</xml>"""
    val good1 = """{"text":"second batch tweet","lang":"en","created_at":"2024-01-01T10:01:05Z","entities":{"hashtags":[]}}"""
    val dataPath = Files.createTempDirectory("graft_dl_data").toString
    val quarPath = Files.createTempDirectory("graft_dl_quar").toString
    val chk = Files.createTempDirectory("graft_dl_chk").toString

    val parsed = Pipeline.parseTweets(mem.toDF())
    val q = Pipeline.writeWithDeadLetter(parsed, dataPath, quarPath, chk,
      Trigger.ProcessingTime(0))
    try {
      mem.addData(good0, bad0a, bad0b)
      q.processAllAvailable()
      mem.addData(good1)
      q.processAllAvailable()
    } finally q.stop()

    val data = spark.read.parquet(dataPath)
    assert(data.count() == 2)
    assert(data.select("text").as[String].collect().toSet ==
      Set("spark is good", "second batch tweet"))
    // both batches delivered good rows under their own ingest_batch dir
    assert(data.select("ingest_batch").distinct().as[Int].collect().toSet
      == Set(0, 1))

    val quarantined = spark.read.parquet(quarPath)
    assert(quarantined.select("raw").as[String].collect().toSet ==
      Set(bad0a, bad0b), "corrupt payloads preserved verbatim")
    assert(quarantined.select("ingest_batch").distinct().as[Int]
      .collect().toSet == Set(0),
      "clean batch 1 must not create a quarantine directory")
  }

  test("kafka SourceSpec builds the connector option map (S1 transport binding)") {
    import graft.streaming.Pipeline.SourceSpec
    val spec = SourceSpec.kafka("b1:9092,b2:9092", "tweets",
      startingOffsets = "earliest",
      auth = SourceSpec.saslPlain("svc-user", "s3cret"),
      maxOffsetsPerTrigger = Some(50000L),
      extra = Map("kafka.client.id" -> "graft"))
    assert(spec.format == "kafka" && spec.payloadCol == "value" &&
      spec.path.isEmpty)
    assert(spec.options("kafka.bootstrap.servers") == "b1:9092,b2:9092")
    assert(spec.options("subscribe") == "tweets")
    assert(spec.options("startingOffsets") == "earliest")
    assert(spec.options("maxOffsetsPerTrigger") == "50000")
    assert(spec.options("kafka.client.id") == "graft")
    // auth pass-through: bare consumer keys get the kafka. prefix the
    // connector requires; jaas line carries the credentials
    assert(spec.options("kafka.security.protocol") == "SASL_SSL")
    assert(spec.options("kafka.sasl.mechanism") == "PLAIN")
    val jaas = spec.options("kafka.sasl.jaas.config")
    assert(jaas.contains("PlainLoginModule") &&
      jaas.contains("username=\"svc-user\"") &&
      jaas.contains("password=\"s3cret\"") && jaas.endsWith(";"))
    // SCRAM variant swaps the login module; pre-prefixed keys pass as-is
    val scram = SourceSpec.kafka("b:9092", "t",
      auth = SourceSpec.saslPlain("u", "p", mechanism = "SCRAM-SHA-512") ++
        Map("kafka.ssl.truststore.location" -> "/e/ts.jks"))
    assert(scram.options("kafka.sasl.jaas.config").contains("ScramLoginModule"))
    assert(scram.options("kafka.sasl.mechanism") == "SCRAM-SHA-512")
    assert(scram.options("kafka.ssl.truststore.location") == "/e/ts.jks")
    assert(!scram.options.contains("kafka.kafka.ssl.truststore.location"))
    // a payload-transport spec routes through tweetsFromPayload in
    // readTweets (not the file-schema branch): same seam as socket —
    // proven on a batch frame, where the parse chain is identical
    val parsed = Pipeline.tweetsFromPayload(
      Seq("""{"text":"via kafka","lang":"en","created_at":"2024-01-01T10:00:05Z","entities":{"hashtags":[]}}""")
        .toDF("value"))
    assert(parsed.select("text").as[String].collect().toSeq == Seq("via kafka"))
    intercept[IllegalArgumentException](SourceSpec.kafka("", "t"))
    intercept[IllegalArgumentException](SourceSpec.kafka("b:9092", ""))
  }

  test("kinesis SourceSpec builds the connector option map (S1, the reference's actual transport)") {
    import graft.streaming.Pipeline.SourceSpec
    val spec = SourceSpec.kinesis("tweet-firehose", "us-east-1",
      startingPosition = "TRIM_HORIZON",
      credentials = Map("accessKeyId" -> "AK", "secretKey" -> "SK"),
      maxFetchRecordsPerShard = Some(25000L),
      extra = Map("kinesis.executor.maxFetchTimeInMs" -> "2000"))
    // payload arrives in `data: binary` (the connector's record column),
    // not kafka's `value` — the only per-transport difference at the seam
    assert(spec.format == "kinesis" && spec.payloadCol == "data" &&
      spec.path.isEmpty)
    assert(spec.options("streamName") == "tweet-firehose")
    assert(spec.options("region") == "us-east-1")
    assert(spec.options("startingPosition") == "trim_horizon")
    // the pinned connector (qubole spark-sql-kinesis) derives region from
    // the endpoint URL, so a bare region must materialize as the standard
    // regional endpoint to bind at all
    assert(spec.options("endpointUrl") == "https://kinesis.us-east-1.amazonaws.com")
    // T6 backpressure knob, the maxOffsetsPerTrigger twin
    assert(spec.options("kinesis.executor.maxFetchRecordsPerShard") == "25000")
    assert(spec.options("kinesis.executor.maxFetchTimeInMs") == "2000")
    // bare credential names normalize to the connector's option names
    assert(spec.options("awsAccessKeyId") == "AK")
    assert(spec.options("awsSecretKey") == "SK")
    // defaults: tail the live stream (the reference's shard-iterator
    // behavior), provider-chain credentials (no key options at all)
    val prod = SourceSpec.kinesis("s", "eu-west-1")
    assert(prod.options("startingPosition") == "latest")
    assert(!prod.options.keys.exists(_.toLowerCase.contains("key")))
    // partition-aware endpoint: the China partition lives under .com.cn
    assert(SourceSpec.kinesis("s", "cn-north-1").options("endpointUrl") ==
      "https://kinesis.cn-north-1.amazonaws.com.cn")
    // localstack-style endpoint override passes through verbatim
    val local = SourceSpec.kinesis("s", "r",
      endpointUrl = Some("http://localhost:4566"),
      startingPosition = "earliest",
      credentials = Map("awsAccessKeyId" -> "a", "awsSecretKey" -> "b"))
    assert(local.options("endpointUrl") == "http://localhost:4566")
    assert(local.options("startingPosition") == "trim_horizon")
    assert(local.options("awsAccessKeyId") == "a")
    // the data column routes through the same payload seam as socket/kafka
    val parsed = Pipeline.tweetsFromPayload(
      Seq("""{"text":"via kinesis","lang":"en","created_at":"2024-01-01T10:00:06Z","entities":{"hashtags":[]}}"""
        .getBytes("UTF-8")).toDF("data"), payloadCol = "data")
    assert(parsed.select("text").as[String].collect().toSeq == Seq("via kinesis"))
    intercept[IllegalArgumentException](SourceSpec.kinesis("", "r"))
    intercept[IllegalArgumentException](SourceSpec.kinesis("s", ""))
    intercept[IllegalArgumentException](
      SourceSpec.kinesis("s", "r", startingPosition = "yesterday"))
    // position normalization is locale-independent: under tr-TR the default
    // locale's toLowerCase maps I to dotless ı and would reject valid input
    val prevLocale = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
      assert(SourceSpec.kinesis("s", "r", startingPosition = "TRIM_HORIZON")
        .options("startingPosition") == "trim_horizon")
    } finally java.util.Locale.setDefault(prevLocale)
  }

  test("metrics listener observes a supervised kill-and-resume (restart count + last error)") {
    import graft.streaming.Supervision
    val src = Files.createTempDirectory("graft_sml_src").toString
    val out = Files.createTempDirectory("graft_sml_out").toString
    val chk = Files.createTempDirectory("graft_sml_chk").toString
    tweets.toDF().write.mode("overwrite").json(src)

    val metrics = new Supervision.MetricsListener(Some("graft_sml"))
    spark.streams.addListener(metrics)
    try {
      val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
      val handle = Supervision.supervise(
        start = () => Pipeline.readTweetStream(spark, src)
          .writeStream.queryName("graft_sml")
          .option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            if (failOnce.getAndSet(false))
              throw new RuntimeException("transport killed (simulated)")
            batch.write.mode("overwrite").parquet(s"$out/ingest_batch=$id")
          }.start(),
        policy = Supervision.Backoff(maxRestarts = 3, initialMs = 2, maxMs = 100),
        sleep = ms => Thread.sleep(ms))
      assert(handle.await(timeoutMs = 120000), "supervision must terminate")
      // the killed query resumed and delivered everything exactly once
      assert(spark.read.parquet(out).count() == tweets.size)
      // listener events are async on the bus — poll until the final
      // termination lands (or time out and let the asserts report)
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline && metrics.terminations < 2)
        Thread.sleep(50)
      assert(metrics.starts == 2 && metrics.restarts == 1,
        s"listener saw starts=${metrics.starts}")
      assert(metrics.failures == 1, s"failures=${metrics.failures}")
      assert(metrics.lastError.exists(_.contains("transport killed")),
        s"lastError=${metrics.lastError}")
      assert(metrics.terminations == 2)
      assert(metrics.inputRows >= tweets.size.toLong,
        "resumed run must report the replayed rows")
    } finally spark.streams.removeListener(metrics)
  }

  test("mixture gate admits exactly the batch resample's rows (X15 twin)") {
    val docs = Tables.documents(spark, sf0001)
    val rates = graft.operators.Curation.mixtureRates(spark, sf0001)
    val expected = docs
      .join(broadcast(rates.select(col("source"), col("rate"))), Seq("source"))
      .filter(graft.operators.Curation.mixtureCoin(col("doc_id")) < col("rate"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // stateless gate: a parquet-file stream through mixtureGate must admit
    // the identical doc_id set (the md5 coin has no per-batch state)
    val streamDir = Files.createTempDirectory("graft_mix_stream")
    Files.createSymbolicLink(streamDir.resolve("docs.parquet"),
      java.nio.file.Paths.get(s"$sf0001/documents.parquet").toAbsolutePath)
    val stream = spark.readStream.schema(docs.schema).parquet(streamDir.toString)
    val q = Pipeline.mixtureGate(stream, rates)
      .writeStream.format("memory").queryName("mix_gate")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("mix_gate").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == expected)
    // the gate is selective in both directions at this SF
    assert(got.nonEmpty && got.size < docs.count())
  }

  test("importance gate admits exactly the batch threshold set, superset of the quota picks (X23 twin)") {
    val docs = Tables.documents(spark, sf0001)
    // snapshot: the published q95 artifacts — bucket affinities + per-lang
    // admission thresholds — collected HERE (tests may collect; the main
    // code path never does: the gate takes the maps)
    val affinity = graft.operators.Curation.importanceAffinity(spark, sf0001)
      .collect().map(r => r.getAs[Long]("b") -> r.getAs[Long]("aff")).toMap
    val audit = graft.operators.Curation.importanceSelection(spark, sf0001).collect()
    val thresholds = audit.map(r =>
      r.getAs[String]("lang") -> r.getAs[Long]("threshold_score")).toMap
    val scores = graft.operators.Curation.importanceScores(spark, sf0001)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("score")))
    val expected = scores.collect {
      case (id, lang, s) if thresholds.get(lang).exists(s >= _) => id
    }.toSet
    val streamDir = Files.createTempDirectory("graft_dsir_stream")
    Files.createSymbolicLink(streamDir.resolve("docs.parquet"),
      java.nio.file.Paths.get(s"$sf0001/documents.parquet").toAbsolutePath)
    val stream = spark.readStream.schema(docs.schema).parquet(streamDir.toString)
      // the gate scores whatever flows in; the batch pool excludes the
      // target source, so exclude it from the replay too
      .filter(col("source") =!= "src0")
    val q = Pipeline.importanceGate(stream, affinity, thresholds)
      .writeStream.format("memory").queryName("dsir_gate")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("dsir_gate")
      .select("doc_id", "importance_score").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == expected,
      s"gate admitted ${got.keySet.size} docs, batch threshold set has ${expected.size}")
    // per-row scores agree exactly with the batch histogram formulation
    val batchScore = scores.map(s => s._1 -> s._3).toMap
    got.foreach { case (id, s) => assert(batchScore(id) == s, s"doc $id: $s") }
    // threshold admission covers every quota pick (ties can only widen it)
    audit.foreach { r =>
      val lang = r.getAs[String]("lang")
      val admitted = scores.count(x => x._2 == lang && got.keySet.contains(x._1))
      assert(admitted >= r.getAs[Long]("n_selected"), s"$lang under-admits")
    }
    // selective: not everything passes
    assert(got.nonEmpty && got.size < scores.length)
  }

  test("calibration gate admits exactly the batch decile-cutoff set; unknown langs drop (X26 twin)") {
    val docs = Tables.documents(spark, sf0001)
    // snapshot: the q99 calibration table's decile-5 row per language,
    // with one language deliberately withheld to pin the unknown-lang rule
    val cutoffs0 = graft.operators.TextAnalysis.qualityCalibration(spark, sf0001)
      .collect().filter(_.getAs[Long]("decile") == 5L)
      .map(r => r.getAs[String]("lang") -> r.getAs[Double]("cutoff")).toMap
    assert(cutoffs0.size >= 2, "fixture needs >=2 languages")
    val withheld = cutoffs0.keys.min
    val cutoffs = cutoffs0 - withheld
    val batch = docs.select(col("doc_id"), col("lang"),
        round(graft.operators.TextAnalysis.qualityScore(col("text")), 6).as("q"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val expected = batch.collect {
      case (id, lang, q) if cutoffs.get(lang).exists(q >= _) => id
    }.toSet
    val streamDir = Files.createTempDirectory("graft_cal_stream")
    Files.createSymbolicLink(streamDir.resolve("docs.parquet"),
      java.nio.file.Paths.get(s"$sf0001/documents.parquet").toAbsolutePath)
    val stream = spark.readStream.schema(docs.schema).parquet(streamDir.toString)
    val q = Pipeline.calibrationGate(stream, cutoffs)
      .writeStream.format("memory").queryName("cal_gate")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("cal_gate").select("doc_id", "lang", "quality")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.map(_._1).toSet == expected,
      s"gate admitted ${got.length} docs, batch cutoff set has ${expected.size}")
    // the withheld language never passes; scores agree with batch exactly
    assert(got.forall(_._2 != withheld))
    val batchQ = batch.map(b => b._1 -> b._3).toMap
    got.foreach { case (id, _, qq) => assert(batchQ(id) == qq, s"doc $id") }
    // the decile-5 policy is selective but keeps roughly the upper half
    assert(expected.nonEmpty && expected.size < batch.length)
  }

  test("Wilson source-quality gate admits exactly the batch lower-bound set; unknown sources drop (X186 twin)") {
    val docs = Tables.documents(spark, sf0001)
    // snapshot: the batch q260 Wilson table, one source withheld to pin
    // the unknown-source rule; floor elected BETWEEN two sources' bounds
    // so the gate provably discriminates on the fixture
    val wilson0 = graft.operators.Curation.wilsonQualityRank(spark, sf0001)
      .collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("wilson_lb_milli"))
    assert(wilson0.length >= 2, "fixture needs >=2 sources")
    val withheld = wilson0.map(_._1).min
    val snapshot = wilson0.toMap - withheld
    val bounds = wilson0.toMap.values.toSeq.distinct.sorted
    val floor =
      if (bounds.size >= 2) bounds(bounds.size / 2) else bounds.head
    val expected = docs.select("doc_id", "source").collect()
      .collect {
        case r if snapshot.get(r.getString(1)).exists(_ >= floor) =>
          r.getLong(0)
      }.toSet
    val streamDir = Files.createTempDirectory("graft_wilson_stream")
    Files.createSymbolicLink(streamDir.resolve("docs.parquet"),
      java.nio.file.Paths.get(s"$sf0001/documents.parquet").toAbsolutePath)
    val stream = spark.readStream.schema(docs.schema).parquet(streamDir.toString)
    val q = Pipeline.sourceQualityGate(stream, snapshot, floor)
      .writeStream.format("memory").queryName("wilson_gate")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("wilson_gate")
      .select("doc_id", "source", "wilson_lb_milli").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.map(_._1).toSet == expected,
      s"gate admitted ${got.length} docs, batch Wilson set has ${expected.size}")
    // the withheld source never passes; appended bounds match the snapshot
    assert(got.forall(_._2 != withheld))
    got.foreach { case (_, s, lb) => assert(snapshot(s) == lb, s"source $s") }
    // the floor actually discriminates: admitted is a proper nonempty subset
    val total = docs.count()
    assert(expected.nonEmpty && expected.size < total,
      s"floor $floor must split the corpus (admitted ${expected.size} of $total)")
  }

  test("span-scrub gate: snapshot coverage matches the batch q105 accounting row-exactly") {
    import spark.implicits._
    // batch corpus: docs 1-2 share the 5-gram "a b c d e"; doc 3 is clean
    val dir = java.nio.file.Files.createTempDirectory("graft_spangate").toString
    Seq((1L, "a b c d e f", "en", "src0"),
        (2L, "a b c d e z", "en", "src0"),
        (3L, "p q r s t u v", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val snap = graft.operators.TextAnalysis.spanGramSnapshot(spark, dir)
    assert(snap.length == 1, s"fixture has exactly one duplicated gram, got $snap")
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def run(maxBp: Long, name: String): Map[Long, Long] = {
      val mem = MemoryStream[CuratedDocFixture]
      mem.addData(
        CuratedDocFixture(1L, "a b c d e f", "en", "src0", t0),
        CuratedDocFixture(2L, "a b c d e z", "en", "src0", t0),
        CuratedDocFixture(3L, "p q r s t u v", "en", "src0", t0))
      val out = Pipeline.spanScrubGate(mem.toDS().toDF(), snap, maxBp)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("span_coverage_bp"))
        .toMap
    }
    // threshold above the scale: every doc passes, coverages exact —
    // docs 1-2 have positions 1-5 of 6 covered (8333 bp), doc 3 none
    val all = run(10001L, "span_gate_all")
    assert(all == Map(1L -> 8333L, 2L -> 8333L, 3L -> 0L), s"got $all")
    // covered-token mass ties out to the batch q105 report on the corpus
    // (docs 1-2 contribute 5 covered tokens each, doc 3 none)
    val batch = graft.operators.TextAnalysis.spanScrub(spark, dir).collect()
    assert(batch.head.getAs[Long]("sum_removed") == 10L)
    assert(batch.head.getAs[Long]("n_docs_hit") == all.count(_._2 > 0L))
    // the default policy drops the boilerplate-heavy docs, keeps the clean one
    val kept = run(5000L, "span_gate_default")
    assert(kept.keySet == Set(3L), s"gate kept ${kept.keySet}")
  }

  test("repetition gate admits exactly the batch sub-band set; short docs always pass (X83 twin)") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val spam = Seq.fill(10)("buy cheap pills now").mkString(" ")
    val fixtures = Tables.documents(spark, sf0001).collect()
      .map(r => CuratedDocFixture(r.getAs[Long]("doc_id"),
        r.getAs[String]("text"), r.getAs[String]("lang"),
        r.getAs[String]("source"), t0)) ++
      Seq(CuratedDocFixture(900001L, spam, "en", "spamfarm", t0),
        CuratedDocFixture(900002L, "too short", "en", "spamfarm", t0))
    // batch truth: the q157 per-doc rule, with the gate's short-doc
    // admission (n3 = 0 → dup3_bp = 0)
    def dup3(text: String): Long = {
      val grams = text.toLowerCase.split(" ", -1).toSeq.sliding(3)
        .filter(_.length == 3).map(_.mkString(" ")).toSeq
      if (grams.isEmpty) 0L
      else (grams.size - grams.distinct.size).toLong * 10000 / grams.size
    }
    val expected = fixtures.collect {
      case f if dup3(f.text) < 2500L => f.doc_id -> dup3(f.text)
    }.toMap
    val mem = MemoryStream[CuratedDocFixture]
    mem.addData(fixtures.toIndexedSeq: _*)
    val q = Pipeline.repetitionGate(mem.toDS().toDF())
      .writeStream.format("memory").queryName("rep_gate")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("rep_gate").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup3_bp")).toMap
    assert(got == expected,
      s"gate admitted ${got.size} docs, batch rule admits ${expected.size}")
    // the planted signal: spam rejected, the short doc admitted at 0 bp
    assert(!got.contains(900001L))
    assert(got.get(900002L).contains(0L))
  }

  test("hygiene gate admits exactly the batch length-algebra set (X108 twin)") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val dirty = Seq(
      CuratedDocFixture(910001L, "clean text here", "en", "s", t0),
      CuratedDocFixture(910002L, "bad\ufffddecode", "en", "s", t0),
      CuratedDocFixture(910003L, "bell\u0007inside", "en", "s", t0),
      CuratedDocFixture(910004L, "nb\u00a0space", "en", "s", t0),
      CuratedDocFixture(910005L, "zero\u200bwidth", "en", "s", t0),
      // one bad char in 100 chars = 100 bp — admitted at maxBadBp=100
      CuratedDocFixture(910006L, ("x" * 99) + "\u200b", "en", "s", t0))
    val mem = MemoryStream[CuratedDocFixture]
    mem.addData(dirty.toIndexedSeq: _*)
    val q = Pipeline.hygieneGate(mem.toDS().toDF(), maxBadBp = 100L)
      .writeStream.format("memory").queryName("hyg_gate")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("hyg_gate").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("hygiene_bp")).toMap
    // 15-char clean doc → 0 bp; every 1-bad-char short doc ≫ 100 bp;
    // the 100-char doc sits exactly AT the threshold (inclusive)
    assert(got.keySet == Set(910001L, 910006L), s"got $got")
    assert(got(910001L) == 0L && got(910006L) == 100L)
    // strict default rejects the boundary doc too
    val mem2 = MemoryStream[CuratedDocFixture]
    mem2.addData(dirty.toIndexedSeq: _*)
    val q2 = Pipeline.hygieneGate(mem2.toDS().toDF())
      .writeStream.format("memory").queryName("hyg_gate_strict")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.table("hyg_gate_strict").collect()
      .map(_.getAs[Long]("doc_id")).toSet == Set(910001L))
  }

  test("pii gate admits exactly the regex-clean set, inclusive threshold (X123 twin)") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val pool = Seq(
      CuratedDocFixture(920001L, "perfectly anonymous prose here", "en", "s", t0),
      CuratedDocFixture(920002L, "contact me at jo.doe@corp.example.com soon", "en", "s", t0),
      CuratedDocFixture(920003L, "server at 192.168.001.042 responded", "en", "s", t0),
      CuratedDocFixture(920004L, "call 555-867-5309 anytime", "en", "s", t0),
      // two identifiers: must read pii_hits = 2
      CuratedDocFixture(920005L, "a@b.co and 10.0.0.1 together", "en", "s", t0),
      // digit runs that must NOT match: unhyphenated phone, 5-octet quad
      CuratedDocFixture(920006L, "ref 5558675309 and 1.2.3.4.5 ok?", "en", "s", t0))
    val mem = MemoryStream[CuratedDocFixture]
    mem.addData(pool.toIndexedSeq: _*)
    val q = Pipeline.piiGate(mem.toDS().toDF())
      .writeStream.format("memory").queryName("pii_gate")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("pii_gate").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pii_hits")).toMap
    // strict default: only identifier-free docs pass. 920006's digit
    // runs are not in the pattern battery... except the 5-octet quad,
    // whose first four octets ARE a legitimate dotted-quad match (the
    // documented longest-prefix behavior in BOTH engines).
    assert(got.keySet == Set(920001L), s"got $got")
    assert(got(920001L) == 0L)
    // maxPiiHits = 1 admits single-identifier docs, still not the pair
    val mem2 = MemoryStream[CuratedDocFixture]
    mem2.addData(pool.toIndexedSeq: _*)
    val q2 = Pipeline.piiGate(mem2.toDS().toDF(), maxPiiHits = 1L)
      .writeStream.format("memory").queryName("pii_gate_1")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val got1 = spark.table("pii_gate_1").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pii_hits")).toMap
    assert(got1.keySet ==
      Set(920001L, 920002L, 920003L, 920004L, 920006L), s"got $got1")
    assert(got1(920002L) == 1L && got1(920003L) == 1L &&
      got1(920004L) == 1L && got1(920006L) == 1L)
    // batch parity: the same counter via the audit's pattern battery
    // over a batch DataFrame agrees row for row
    val batch = Pipeline.piiGate(pool.toDF(), maxPiiHits = Long.MaxValue)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pii_hits"))
      .toMap
    assert(batch == Map(920001L -> 0L, 920002L -> 1L, 920003L -> 1L,
      920004L -> 1L, 920005L -> 2L, 920006L -> 1L), s"batch $batch")
  }

  test("pii monitor: windowed per-class panel matches hand counts (X123 continuous twin)") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 00:00:10")
    val t1 = Timestamp.valueOf("2024-01-01 00:01:10") // next 1-min window
    val mem = MemoryStream[CuratedDocFixture]
    mem.addData(
      CuratedDocFixture(1L, "clean prose only", "en", "s", t0),
      CuratedDocFixture(2L, "mail a@b.co and c@d.org now", "en", "s", t0),
      CuratedDocFixture(3L, "host 10.0.0.1 dials 555-867-5309", "en", "s", t1))
    val q = Pipeline.piiMonitor(mem.toDS().toDF(), "ts")
      .writeStream.format("memory").queryName("pii_mon")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("pii_mon").collect()
      .map(r => (r.getAs[org.apache.spark.sql.Row]("window")
          .getAs[Timestamp]("start"), r.getAs[String]("pii_class")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("docs_hit"),
          r.getAs[Long]("n_hits"))).toMap
    val w0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val w1 = Timestamp.valueOf("2024-01-01 00:01:00")
    assert(got.size == 6, s"2 windows x 3 classes: $got")
    assert(got((w0, "email")) == ((2L, 1L, 2L)),
      "doc 2 carries TWO emails in one doc")
    assert(got((w0, "ip")) == ((2L, 0L, 0L)))
    assert(got((w0, "phone")) == ((2L, 0L, 0L)))
    assert(got((w1, "email")) == ((1L, 0L, 0L)))
    assert(got((w1, "ip")) == ((1L, 1L, 1L)))
    assert(got((w1, "phone")) == ((1L, 1L, 1L)))
  }

  test("rule-filter gate admits exactly the batch clean set, audit mode counts violations (X68 twin)") {
    import spark.implicits._
    val rules = graft.operators.CurationPipeline.ChainRules
    // batch truth: per-doc violation counts under the chain's rule set
    val batch = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        graft.operators.TextAnalysis.ruleViolations(col("text"), rules)
          .as("v"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("v")).toMap
    val expected = batch.collect { case (id, 0L) => id }.toSet
    assert(expected.nonEmpty && expected.size < batch.size,
      "fixture must be selective")
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val docs = Tables.documents(spark, sf0001).collect()
      .map(r => CuratedDocFixture(r.getAs[Long]("doc_id"),
        r.getAs[String]("text"), r.getAs[String]("lang"),
        r.getAs[String]("source"), t0))
    val mem = MemoryStream[CuratedDocFixture]
    mem.addData(docs.toIndexedSeq: _*)
    val q = Pipeline.ruleFilterGate(mem.toDS().toDF(), rules)
      .writeStream.format("memory").queryName("rule_gate")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("rule_gate").collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSet == expected)
    got.foreach(r => assert(r.getAs[Long]("rule_violations") == 0L))
    // audit mode: everything passes through carrying its exact batch count
    val mem2 = MemoryStream[CuratedDocFixture]
    mem2.addData(docs.toIndexedSeq: _*)
    val q2 = Pipeline.ruleFilterGate(mem2.toDS().toDF(), rules, admitAll = true)
      .writeStream.format("memory").queryName("rule_gate_audit")
      .outputMode("append").start()
    try { q2.processAllAvailable() } finally q2.stop()
    val audit = spark.table("rule_gate_audit").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rule_violations"))
      .toMap
    assert(audit == batch)
  }

  test("perplexity gate admits exactly the batch head+middle set with batch-identical scores (X67 twin)") {
    import spark.implicits._
    val (costs, base) = graft.operators.TextAnalysis
      .perplexityLmSnapshot(spark, sf0001)
    val cuts = graft.operators.TextAnalysis.perplexityCutoffs(spark, sf0001)
    // batch truth: every pool doc's exact milli-bit score and its
    // admit/drop decision at the elected boundary (ties admitted)
    val scored = graft.operators.TextAnalysis
      .perplexityScored(spark, sf0001, "src0").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("lang"), r.getAs[Long]("ppx_mb"))).toMap
    val expected = scored.collect {
      case (id, (lang, ppx)) if cuts.get(lang).exists(ppx <= _) => id
    }.toSet
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val pool = Tables.documents(spark, sf0001)
      .filter(col("source") =!= "src0").collect()
      .map(r => CuratedDocFixture(r.getAs[Long]("doc_id"),
        r.getAs[String]("text"), r.getAs[String]("lang"),
        r.getAs[String]("source"), t0))
    val mem = MemoryStream[CuratedDocFixture]
    mem.addData(pool.toIndexedSeq: _*)
    val q = Pipeline.perplexityGate(mem.toDS().toDF(), costs, base, cuts)
      .writeStream.format("memory").queryName("ppx_gate")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table("ppx_gate").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("ppx_mb")).toMap
    assert(got.keySet == expected,
      s"admitted ${got.size}, batch keep set ${expected.size}")
    // appended score is the exact batch integer, row for row
    got.foreach { case (id, ppx) => assert(ppx == scored(id)._2, s"doc $id") }
    // the gate is selective at this SF (some tail rows exist above the
    // boundary) but keeps at least the two elected tertiles
    assert(expected.size < scored.size)
    assert(expected.size * 3 >= scored.size * 2)
    // unknown-language rows drop: replay one admitted doc under a lang
    // the snapshot never saw
    val mem2 = MemoryStream[CuratedDocFixture]
    val some = pool.find(d => expected.contains(d.doc_id)).get
    mem2.addData(some.copy(lang = "xx"))
    val q2 = Pipeline.perplexityGate(mem2.toDS().toDF(), costs, base, cuts)
      .writeStream.format("memory").queryName("ppx_gate_xx")
      .outputMode("append").start()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(spark.table("ppx_gate_xx").count() == 0)
  }

  test("perplexity gate broadcast-join variant admits the literal-map set row-identically (X67 seam)") {
    // Same pool, two snapshot forms: the bounded literal maps and the
    // undriven DataFrame relation. Admissions AND appended scores must
    // agree row for row — the DataFrame path is the full-scale LM seam,
    // so any drift here would silently change the corpus at scale.
    val (costs, base) = graft.operators.TextAnalysis
      .perplexityLmSnapshot(spark, sf0001)
    val cuts = graft.operators.TextAnalysis.perplexityCutoffs(spark, sf0001)
    val lmDf = graft.operators.TextAnalysis.perplexityLmSnapshotDf(spark, sf0001)
    val cutDf = graft.operators.TextAnalysis.perplexityCutoffsDf(spark, sf0001)
    val pool = Tables.documents(spark, sf0001)
      .filter(col("source") =!= "src0")
    def admissions(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[Long]("ppx_mb")).toMap
    val viaMaps = admissions(Pipeline.perplexityGate(pool, costs, base, cuts))
    val joined = Pipeline.perplexityGate(pool, lmDf, cutDf)
    val viaJoin = admissions(joined)
    assert(viaMaps.nonEmpty, "fixture must admit something")
    assert(viaJoin == viaMaps,
      s"broadcast-join path admitted ${viaJoin.size}, map path ${viaMaps.size}")
    // the variant preserves the stream's columns (plus ppx_mb appended)
    assert(joined.columns.toSeq == pool.columns.toSeq :+ "ppx_mb")
    // and the DataFrame artifact matches the collected maps exactly
    val dfCosts = lmDf.filter(col("tok").isNotNull).collect()
      .map(r => s"${r.getAs[String]("lang")} ${r.getAs[String]("tok")}" ->
        r.getAs[Long]("cost_mb")).toMap
    val dfBase = lmDf.filter(col("tok").isNull).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("cost_mb")).toMap
    assert(dfCosts == costs && dfBase == base)
  }

  test("curated intake with a span-scrub snapshot applies the boilerplate gate in-chain") {
    import spark.implicits._
    // snapshot corpus: equal-count sources (every mixture rate exactly
    // 1.0) electing one duplicated 5-gram ("a b c d e")
    val good = "the distributed engine shuffles partitioned vectors efficiently today"
    val good2 = "another perfectly reasonable document about streaming watermarks arrives"
    val snap = java.nio.file.Files.createTempDirectory("graft_scrub_intake").toString
    Seq((1L, "a b c d e f", "en", "src0"),
        (2L, "a b c d e z", "en", "src4"),
        (3L, good, "en", "src0"),
        (4L, good2, "en", "src4"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$snap/documents.parquet")
    val rates = graft.operators.Curation.mixtureRates(spark, snap)
    assert(rates.collect().forall(_.getAs[Double]("rate") == 1.0))
    val grams = graft.operators.TextAnalysis.spanGramSnapshot(spark, snap)
    assert(grams.nonEmpty)
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def run(maxBp: Long, name: String): Array[org.apache.spark.sql.Row] = {
      val mem = MemoryStream[CuratedDocFixture]
      mem.addData(
        CuratedDocFixture(10L, good, "en", "src0", t0),        // clean: admitted
        CuratedDocFixture(11L, "a b c d e f", "en", "src4", t0), // boilerplate
        CuratedDocFixture(12L, good, "en", "src4", t0),        // exact dup of 10
        CuratedDocFixture(13L, "a a a a a", "en", "src0", t0), // junk quality
        CuratedDocFixture(14L, good2, "en", "srcNEW", t0))     // unknown source
      val q = Pipeline.curatedIntake(mem.toDS().toDF(), rates, "ts",
          scrubGrams = grams, maxCoverageBp = maxBp)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try { q.processAllAvailable() } finally q.stop()
      spark.table(name).collect()
    }
    // default policy: the boilerplate-covered doc (positions 1-5 of 6 =
    // 8333 bp) is scrubbed IN ADDITION to the dup/junk/unknown drops the
    // un-scrubbed intake already makes — one clean survivor
    val rows = run(5000L, "scrub_intake")
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == Set(10L), rows.mkString(","))
    assert(rows.head.getAs[Long]("span_coverage_bp") == 0L)
    assert(rows.head.getAs[Double]("quality") >= 0.2)
    // threshold above scale: the scrub stage admits the boilerplate doc
    // with its exact batch coverage, and the rest of the chain is
    // untouched — proving the drop above was the span gate specifically
    val loose = run(10001L, "scrub_intake_loose")
    assert(loose.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Long]("span_coverage_bp")).toMap ==
      Map(10L -> 0L, 11L -> 8333L), loose.mkString(","))
  }

  test("curated intake: mixture gate + content dedup + quality gate compose in one job") {
    // snapshot with two equal-weight, equal-count sources: every rate is
    // exactly 1.0, so admission is decided purely by source membership
    val snap = java.nio.file.Files.createTempDirectory("graft_curated").toString
    (Seq((1L, "base doc one", "en", "src0"), (2L, "base doc two", "en", "src4")))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$snap/documents.parquet")
    val rates = graft.operators.Curation.mixtureRates(spark, snap)
    assert(rates.collect().forall(_.getAs[Double]("rate") == 1.0))
    val good = "the distributed engine shuffles partitioned vectors efficiently today"
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val mem = MemoryStream[CuratedDocFixture]
    val out = Pipeline.curatedIntake(mem.toDS().toDF(), rates, "ts")
    val q = out.writeStream.format("memory").queryName("curated_intake")
      .outputMode("append").start()
    try {
      mem.addData(
        CuratedDocFixture(10L, good, "en", "src0", t0),
        CuratedDocFixture(11L, good, "en", "src4", t0),      // exact dup text
        CuratedDocFixture(12L, "a a a a a", "en", "src0", t0), // junk quality
        CuratedDocFixture(13L, good + " again", "en", "srcNEW", t0)) // unknown source
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("curated_intake").collect()
    // one survivor: the dup text collapses to its first arrival, junk is
    // quality-gated, the unknown source never passes the mixture policy
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("doc_id") == 10L)
    assert(rows.head.getAs[Double]("quality") >= 0.2)
  }

  test("curated intake with the repetition gate drops internally-repetitive docs before dedup state") {
    // same two-source rate-1.0 snapshot as the basic composition test, so
    // admission is decided by the repetition gate specifically
    val snap = java.nio.file.Files.createTempDirectory("graft_curated_rep").toString
    (Seq((1L, "base doc one", "en", "src0"), (2L, "base doc two", "en", "src4")))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$snap/documents.parquet")
    val rates = graft.operators.Curation.mixtureRates(spark, snap)
    val good = "the distributed engine shuffles partitioned vectors efficiently today"
    // spam passes the scalar quality floor of this corpus (varied words)
    // but is ~90% duplicate trigrams — only the repetition gate drops it
    val spam = Seq.fill(10)("buy cheap discount pills now").mkString(" ")
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def run(maxBp: Long, name: String): Seq[org.apache.spark.sql.Row] = {
      val mem = MemoryStream[CuratedDocFixture]
      val out = Pipeline.curatedIntake(mem.toDS().toDF(), rates, "ts",
        maxDup3Bp = maxBp)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        mem.addData(
          CuratedDocFixture(10L, good, "en", "src0", t0),
          CuratedDocFixture(11L, spam, "en", "src4", t0))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).collect().toIndexedSeq
    }
    // default threshold 10001: the gate is off and BOTH docs land (the
    // spam doc is quality-diverse enough for the scalar floor) — pinning
    // that the drop below is the repetition gate, not another stage
    val open = run(10001L, "rep_intake_open")
    assert(open.map(_.getAs[Long]("doc_id")).toSet == Set(10L, 11L), open.mkString(","))
    assert(open.forall(!_.schema.fieldNames.contains("dup3_bp")))
    // composed at the q157 'high' floor: spam is gone, the clean doc
    // carries its dup3_bp audit column
    val gated = run(2500L, "rep_intake_gated")
    assert(gated.map(_.getAs[Long]("doc_id")).toSet == Set(10L))
    assert(gated.head.getAs[Long]("dup3_bp") == 0L)
  }

  test("curated intake with the pii gate drops identifier-carrying docs before dedup state") {
    // two-source rate-1.0 snapshot so admission is decided by the PII
    // gate specifically (the q157-composition test's device)
    val snap = java.nio.file.Files.createTempDirectory("graft_curated_pii").toString
    (Seq((1L, "base doc one", "en", "src0"), (2L, "base doc two", "en", "src4")))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$snap/documents.parquet")
    val rates = graft.operators.Curation.mixtureRates(spark, snap)
    val good = "the distributed engine shuffles partitioned vectors efficiently today"
    val leaky = "the distributed engine mails results to dev@ops.example.net today"
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def run(maxHits: Long, name: String): Seq[org.apache.spark.sql.Row] = {
      val mem = MemoryStream[CuratedDocFixture]
      val out = Pipeline.curatedIntake(mem.toDS().toDF(), rates, "ts",
        maxPiiHits = maxHits)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        mem.addData(
          CuratedDocFixture(10L, good, "en", "src0", t0),
          CuratedDocFixture(11L, leaky, "en", "src4", t0))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).collect().toIndexedSeq
    }
    // default -1: gate off, both docs land, no audit column appended
    val open = run(-1L, "pii_intake_open")
    assert(open.map(_.getAs[Long]("doc_id")).toSet == Set(10L, 11L))
    assert(open.forall(!_.schema.fieldNames.contains("pii_hits")))
    // strict posture: the email-carrying doc is gone before dedup; the
    // clean doc carries its pii_hits audit column
    val gated = run(0L, "pii_intake_strict")
    assert(gated.map(_.getAs[Long]("doc_id")).toSet == Set(10L))
    assert(gated.head.getAs[Long]("pii_hits") == 0L)
  }

  test("curated intake with importance snapshot admits row-identically to the batch recipe") {
    // the full composed job: q95 importance gate -> q86 mixture gate ->
    // watermarked digest dedup -> q17 quality gate, replayed over the live
    // sf0001 corpus and compared against applying the same four batch
    // stages to the same rows
    val minQ = 0.2
    val docs = Tables.documents(spark, sf0001).filter(col("source") =!= "src0")
    val affinity = graft.operators.Curation.importanceAffinity(spark, sf0001)
      .collect().map(r => r.getAs[Long]("b") -> r.getAs[Long]("aff")).toMap
    val thresholds = graft.operators.Curation.importanceSelection(spark, sf0001)
      .collect().map(r =>
        r.getAs[String]("lang") -> r.getAs[Long]("threshold_score")).toMap
    val rates = graft.operators.Curation.mixtureRates(spark, sf0001)
    // batch twin, stage by stage (importance -> mixture), per doc
    val impPass = graft.operators.Curation.importanceScores(spark, sf0001)
      .collect().collect {
        case r if thresholds.get(r.getAs[String]("lang"))
          .exists(r.getAs[Long]("score") >= _) => r.getAs[Long]("doc_id")
      }.toSet
    val mixPass = docs
      .join(broadcast(rates.select(col("source"), col("rate"))), Seq("source"))
      .filter(graft.operators.Curation.mixtureCoin(col("doc_id")) < col("rate"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gatePass = impPass intersect mixPass
    // the dedup winner within a digest group is arrival-order dependent,
    // but quality is a pure function of the text (= the digest), so the
    // admitted DIGEST set is deterministic: digests with >= 1 gate-passing
    // row whose text clears the quality bar
    val expectedDigests = docs
      .withColumn("_h", sha2(col("text").cast("binary"), 256))
      .withColumn("q", graft.operators.TextAnalysis.qualityScore(col("text")))
      .filter(col("q") >= minQ)
      .collect()
      .collect { case r if gatePass.contains(r.getAs[Long]("doc_id")) =>
        r.getAs[String]("_h") }
      .toSet
    val streamDir = Files.createTempDirectory("graft_curated_full")
    Files.createSymbolicLink(streamDir.resolve("docs.parquet"),
      java.nio.file.Paths.get(s"$sf0001/documents.parquet").toAbsolutePath)
    val stream = spark.readStream
      .schema(Tables.documents(spark, sf0001).schema)
      .parquet(streamDir.toString)
      .filter(col("source") =!= "src0")
      .withColumn("ts", lit(Timestamp.valueOf("2024-01-01 00:00:00")))
    val q = Pipeline.curatedIntake(stream, rates, "ts", minQuality = minQ,
        importanceAffinity = affinity, importanceThresholds = thresholds)
      .writeStream.format("memory").queryName("curated_full")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("curated_full").collect()
    // one row per admitted digest, and exactly the batch recipe's digests
    val gotDigests = got.map(r => java.security.MessageDigest.getInstance("SHA-256")
      .digest(r.getAs[String]("text").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString).toSet
    assert(got.length == expectedDigests.size,
      s"stream admitted ${got.length} rows, batch recipe admits ${expectedDigests.size} digests")
    assert(gotDigests == expectedDigests)
    // every admitted row individually passed both stateless gates
    val gotIds = got.map(_.getAs[Long]("doc_id")).toSet
    assert(gotIds.subsetOf(gatePass), s"admitted rows outside the gate set: ${gotIds diff gatePass}")
    // and each stage is selective at this SF (the composition is not a no-op)
    val all = docs.count()
    assert(impPass.size < all && mixPass.size < all)
    // dedup+quality can only narrow the gate set (equality when the
    // gate-passing rows are digest-distinct and all clear the bar, as at
    // this SF — the dup/junk drops are pinned by the fixture test above)
    assert(expectedDigests.size <= gatePass.size)
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Double]("quality") >= minQ)
      assert(r.schema.fieldNames.contains("importance_score"))
    }
  }

  test("curated intake with a calibration snapshot applies the per-lang quality policy") {
    // the MODERN composed intake: importance gate -> mixture gate ->
    // digest dedup -> q99 per-language calibration floor (replacing the
    // scalar bar), row-identical to the same batch stages
    val docs = Tables.documents(spark, sf0001).filter(col("source") =!= "src0")
    val affinity = graft.operators.Curation.importanceAffinity(spark, sf0001)
      .collect().map(r => r.getAs[Long]("b") -> r.getAs[Long]("aff")).toMap
    val thresholds = graft.operators.Curation.importanceSelection(spark, sf0001)
      .collect().map(r =>
        r.getAs[String]("lang") -> r.getAs[Long]("threshold_score")).toMap
    val rates = graft.operators.Curation.mixtureRates(spark, sf0001)
    val cutoffs = graft.operators.TextAnalysis.qualityCalibration(spark, sf0001)
      .collect().filter(_.getAs[Long]("decile") == 5L)
      .map(r => r.getAs[String]("lang") -> r.getAs[Double]("cutoff")).toMap
    val impPass = graft.operators.Curation.importanceScores(spark, sf0001)
      .collect().collect {
        case r if thresholds.get(r.getAs[String]("lang"))
          .exists(r.getAs[Long]("score") >= _) => r.getAs[Long]("doc_id")
      }.toSet
    val mixPass = docs
      .join(broadcast(rates.select(col("source"), col("rate"))), Seq("source"))
      .filter(graft.operators.Curation.mixtureCoin(col("doc_id")) < col("rate"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gatePass = impPass intersect mixPass
    // at this SF no text appears under two languages (pinned below), so
    // (digest -> lang) is a function and the admitted digest set is
    // deterministic despite arrival-order dedup winners
    assert(docs.groupBy(col("text"))
      .agg(countDistinct(col("lang")).as("nl")).filter(col("nl") > 1).count() == 0L)
    val expectedDigests = docs
      .withColumn("_h", sha2(col("text").cast("binary"), 256))
      .withColumn("q", round(graft.operators.TextAnalysis.qualityScore(col("text")), 6))
      .collect()
      .collect { case r if gatePass.contains(r.getAs[Long]("doc_id")) &&
        cutoffs.get(r.getAs[String]("lang")).exists(r.getAs[Double]("q") >= _) =>
        r.getAs[String]("_h") }
      .toSet
    val streamDir = Files.createTempDirectory("graft_curated_cal")
    Files.createSymbolicLink(streamDir.resolve("docs.parquet"),
      java.nio.file.Paths.get(s"$sf0001/documents.parquet").toAbsolutePath)
    val stream = spark.readStream
      .schema(Tables.documents(spark, sf0001).schema)
      .parquet(streamDir.toString)
      .filter(col("source") =!= "src0")
      .withColumn("ts", lit(Timestamp.valueOf("2024-01-01 00:00:00")))
    val q = Pipeline.curatedIntake(stream, rates, "ts",
        importanceAffinity = affinity, importanceThresholds = thresholds,
        qualityCutoffs = cutoffs)
      .writeStream.format("memory").queryName("curated_cal")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("curated_cal").collect()
    val gotDigests = got.map(r => java.security.MessageDigest.getInstance("SHA-256")
      .digest(r.getAs[String]("text").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString).toSet
    assert(gotDigests == expectedDigests &&
      got.length == expectedDigests.size)
    // every admitted row clears ITS language's cutoff (not some global bar)
    got.foreach { r =>
      assert(r.getAs[Double]("quality") >= cutoffs(r.getAs[String]("lang")))
    }
    // the per-lang policy admits a different set than any scalar floor
    // could: strictly selective, non-empty
    assert(got.nonEmpty && gotDigests.size < gatePass.size)
  }

  test("volume monitor: deviations vs broadcast baseline exact; unseen type floors at 1 (X90 twin)") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 00:00:30")
    // one window: 12 clicks (baseline 10 → +2000 bp quiet), 2 views
    // (baseline 10 → -8000 bp anomaly), 3 of a type the baseline has
    // never seen (floor base 1 → +20000 bp anomaly)
    var eid = 0L
    def ev(t: String, n: Int) = (1 to n).map { _ =>
      eid += 1; (eid, t0, eid % 3, t, 1.0, "{}")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_volmon").toString
    (ev("click", 12) ++ ev("view", 2) ++ ev("ghost", 3))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .parquet(s"$dir/events.parquet")
    val q = Pipeline.volumeMonitor(stream,
        Map("click" -> 10L, "view" -> 10L), "ts")
      .writeStream.format("memory").queryName("vol_monitor")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("vol_monitor").collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("base"),
          r.getAs[Long]("dev_bp"), r.getAs[Long]("anomaly"))).toMap
    assert(got == Map(
      "click" -> ((12L, 10L, 2000L, 0L)),
      "view" -> ((2L, 10L, -8000L, 1L)),
      "ghost" -> ((3L, 1L, 20000L, 1L))), s"got $got")
  }

  test("datasheet monitor: windowed corpus panel matches the batch rollup per window (X30 twin)") {
    val docs = Tables.documents(spark, sf0001)
    val expect = docs
      .select(col("lang"),
        size(graft.functions.TextHash.tokens(col("text"))).cast("long").as("t"),
        round(round(graft.operators.TextAnalysis.qualityScore(col("text")), 6)
          * lit(1000000), 0).cast("long").as("qm"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("t")).as("toks"), sum(col("qm")).as("qmm"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("toks"), r.getAs[Long]("qmm")))).toMap
    val nDistinct = docs.select(countDistinct(col("text"))).first().getLong(0)
    val streamDir = Files.createTempDirectory("graft_ds_stream")
    Files.createSymbolicLink(streamDir.resolve("docs.parquet"),
      java.nio.file.Paths.get(s"$sf0001/documents.parquet").toAbsolutePath)
    val stream = spark.readStream.schema(docs.schema).parquet(streamDir.toString)
      .withColumn("ts", lit(Timestamp.valueOf("2024-01-01 00:00:30")))
    val q = Pipeline.datasheetMonitor(stream, "ts")
      .writeStream.format("memory").queryName("ds_monitor")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("ds_monitor").collect()
    // one window, one row per language; docs/tokens/quality batch-exact
    assert(got.map(_.getAs[String]("lang")).toSet == expect.keySet)
    got.foreach { r =>
      val (n, toks, qmm) = expect(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("n_tokens") == toks)
      assert(r.getAs[Long]("sum_q_micro") == qmm)
      assert(r.getAs[Long]("n_distinct_approx") > 0L)
    }
    // the HLL panel estimate lands near the exact batch distinct count
    val estTotal = got.map(_.getAs[Long]("n_distinct_approx")).sum
    assert(math.abs(estTotal - nDistinct) <= math.max(5L, nDistinct / 5),
      s"HLL distinct estimate $estTotal far from exact $nDistinct")
  }

  test("sketch monitor: per-window cells equal the batch count-min over the same rows (X36 twin)") {
    import spark.implicits._
    val P = graft.functions.TextHash.P
    val width = graft.operators.TextAnalysis.CmsWidth
    val t0 = Timestamp.valueOf("2024-01-01 00:00:10")
    val t1 = Timestamp.valueOf("2024-01-01 00:01:10")
    val docs = Seq(
      CuratedDocFixture(1L, "aa bb aa cc", "en", "src0", t0),
      CuratedDocFixture(2L, "aa bb", "en", "src0", t0),
      CuratedDocFixture(3L, "dd dd dd", "en", "src0", t1))
    val mem = MemoryStream[CuratedDocFixture]
    val q = Pipeline.sketchMonitor(mem.toDS().toDF(), "ts")
      .writeStream.format("memory").queryName("cms_mon")
      .outputMode("complete").start()
    try { mem.addData(docs: _*); q.processAllAvailable() } finally q.stop()
    val got = spark.table("cms_mon").collect()
      .map(r => (r.getAs[org.apache.spark.sql.Row]("window")
        .getAs[Timestamp]("start"), r.getAs[Long]("j"),
        r.getAs[Long]("bucket")) -> r.getAs[Long]("cell")).toMap
    // batch recomputation of the same sketch per window, driver-side
    def md5half(s: String, from: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(from, from + 15), 16)
    }
    val expect = scala.collection.mutable.Map.empty[(Timestamp, Long, Long), Long]
    val winOf = Map(t0 -> Timestamp.valueOf("2024-01-01 00:00:00"),
      t1 -> Timestamp.valueOf("2024-01-01 00:01:00"))
    docs.foreach { dcc =>
      dcc.text.toLowerCase.split(" ", -1).foreach { w =>
        val a = md5half(w, 0) % P
        val b = md5half(w, 16) % P
        (0 until graft.operators.TextAnalysis.CmsDepth).foreach { j =>
          val key = (winOf(dcc.ts), j.toLong, ((a + j * b) % P) % width)
          expect(key) = expect.getOrElse(key, 0L) + 1L
        }
      }
    }
    assert(got == expect.toMap, s"cells diverge: got ${got.size}, want ${expect.size}")
    // bounded-state claim: cells never exceed windows x depth x width
    assert(got.size <= 2 * graft.operators.TextAnalysis.CmsDepth * width.toInt)
    // heavy-hitter read: dd (3 occurrences, window 2) estimates >= 3
    val ddA = md5half("dd", 0) % P; val ddB = md5half("dd", 16) % P
    val est = (0 until graft.operators.TextAnalysis.CmsDepth).map { j =>
      got((winOf(t1), j.toLong, ((ddA + j * ddB) % P) % width))
    }.min
    assert(est >= 3L)
  }

  test("manifest monitor: folded window xors equal the batch shard certificate (X42 twin)") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 00:00:10")
    val t1 = Timestamp.valueOf("2024-01-01 00:01:10")
    val docs = Seq(
      CuratedDocFixture(1L, "aa bb cc", "en", "src0", t0),
      CuratedDocFixture(2L, "dd ee", "en", "src0", t0),
      CuratedDocFixture(3L, "ff gg hh ii", "en", "src0", t0),
      CuratedDocFixture(4L, "aa bb cc", "en", "src0", t1),
      CuratedDocFixture(5L, "jj", "en", "src0", t1),
      CuratedDocFixture(6L, "kk ll mm", "en", "src0", t1))
    val mem = MemoryStream[CuratedDocFixture]
    val q = Pipeline.manifestMonitor(mem.toDS().toDF(), "ts")
      .writeStream.format("memory").queryName("manifest_mon")
      .outputMode("complete").start()
    try { mem.addData(docs: _*); q.processAllAvailable() } finally q.stop()
    val got = spark.table("manifest_mon").collect()
      .map(r => (r.getAs[org.apache.spark.sql.Row]("window")
        .getAs[Timestamp]("start"), r.getAs[Long]("shard")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"),
          r.getAs[Long]("content_xor"))).toMap
    // driver-side recomputation of shard + row signature
    def md5h1(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    def sha256hex(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val winOf = Map(t0 -> Timestamp.valueOf("2024-01-01 00:00:00"),
      t1 -> Timestamp.valueOf("2024-01-01 00:01:00"))
    val rows = docs.map { dcc =>
      (winOf(dcc.ts), md5h1(s"shuf:42:${dcc.doc_id}") % 16,
        dcc.text.split(" ", -1).length.toLong,
        md5h1(s"${dcc.doc_id}:${sha256hex(dcc.text)}"))
    }
    // per-(window, shard) rows are batch-exact
    val expect = rows.groupBy(r => (r._1, r._2)).view.mapValues { rs =>
      (rs.length.toLong, rs.map(_._3).sum, rs.map(_._4).foldLeft(0L)(_ ^ _))
    }.toMap
    assert(got == expect, s"per-window manifests diverge")
    // the running certificate: folding each shard's xors across closed
    // windows reproduces the whole-intake batch manifest exactly
    val folded = got.toSeq.groupBy(_._1._2).view.mapValues { es =>
      (es.map(_._2._1).sum, es.map(_._2._2).sum,
        es.map(_._2._3).foldLeft(0L)(_ ^ _))
    }.toMap
    val batch = rows.groupBy(_._2).view.mapValues { rs =>
      (rs.length.toLong, rs.map(_._3).sum, rs.map(_._4).foldLeft(0L)(_ ^ _))
    }.toMap
    assert(folded == batch,
      "xor fold across windows must equal the batch certificate")
  }

  test("curated intake feeds the manifest monitor: the certificate covers exactly the admitted rows (X15∘X42)") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 00:00:10")
    // distinct texts (digest dedup drops nothing → the admitted set is
    // deterministic); srcA admits everything, srcB nothing
    val docs = Seq(
      CuratedDocFixture(1L, "alpha beta gamma delta epsilon zeta", "en", "srcA", t0),
      CuratedDocFixture(2L, "aa aa aa aa", "en", "srcA", t0),
      CuratedDocFixture(3L, "eta theta iota kappa lambda mu", "en", "srcA", t0),
      CuratedDocFixture(4L, "nu xi omicron pi rho sigma", "en", "srcB", t0),
      CuratedDocFixture(5L, "bb bb bb", "en", "srcA", t0))
    val rates = Seq(("srcA", 1.0), ("srcB", 0.0)).toDF("source", "rate")
    val minQ = 0.5
    // batch twin of the intake decision
    val admitted = docs.toDF()
      .filter(col("source") === "srcA")
      .filter(round(graft.operators.TextAnalysis.qualityScore(col("text")), 6)
        >= minQ)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(admitted.nonEmpty && admitted.length < docs.length,
      "fixture must exercise both gates")
    val mem = MemoryStream[CuratedDocFixture]
    val q = Pipeline.manifestMonitor(
        Pipeline.curatedIntake(mem.toDS().toDF(), rates, "ts", minQuality = minQ),
        "ts", setWatermark = false)
      .writeStream.format("memory").queryName("intake_manifest")
      .outputMode("complete").start()
    try { mem.addData(docs: _*); q.processAllAvailable() } finally q.stop()
    val got = spark.table("intake_manifest").collect()
      .map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"),
          r.getAs[Long]("content_xor"))).toMap
    // the certificate of the admitted set, computed independently
    def md5h1(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    def sha256hex(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = admitted.map { case (id, text) =>
      (md5h1(s"shuf:42:$id") % 16, text.split(" ", -1).length.toLong,
        md5h1(s"$id:${sha256hex(text)}"))
    }.groupBy(_._1).view.mapValues { rs =>
      (rs.length.toLong, rs.map(_._2).sum, rs.map(_._3).foldLeft(0L)(_ ^ _))
    }.toMap
    assert(got == expect,
      "the intake manifest must certify exactly the admitted rows")
  }

  test("transition monitor: folded stream transitions equal the batch q122 cells across a batch split (X49 twin)") {
    import spark.implicits._
    import graft.streaming.SeqEvent
    // per-user sequences delivered in order but SPLIT across two
    // micro-batches mid-journey — the stored last event must chain them
    val b1 = Seq(
      SeqEvent(1L, 10L, 1L, "view"), SeqEvent(1L, 20L, 2L, "click"),
      SeqEvent(2L, 15L, 3L, "signup"),
      SeqEvent(3L, 5L, 4L, "view"))
    val b2 = Seq(
      SeqEvent(1L, 30L, 5L, "purchase"),
      SeqEvent(2L, 25L, 6L, "view"), SeqEvent(2L, 35L, 7L, "purchase"),
      SeqEvent(3L, 50L, 8L, "error"))
    val mem = MemoryStream[SeqEvent]
    val q = Pipeline.transitionMonitor(mem.toDS())
      .writeStream.format("memory").queryName("trans_mon")
      .outputMode("append").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("trans_mon").collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")))
      .groupBy(identity).view.mapValues(_.length).toMap
    // batch walk over the union — the q122 definition
    val all = (b1 ++ b2).groupBy(_.user_id).toSeq.flatMap { case (_, es) =>
      val o = es.sortBy(e => (e.us, e.event_id)).map(_.event_type)
      o.zip(o.tail)
    }.groupBy(identity).view.mapValues(_.length).toMap
    assert(got == all, s"stream $got vs batch $all")
    // the cross-batch chains specifically must exist
    assert(got.contains(("click", "purchase")) && got.contains(("signup", "view")),
      "transitions spanning the batch split must be emitted")
  }

  test("percentile monitor: closed-window cells equal the batch histogram; election exact (X59 twin)") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 00:00:10")
    val t1 = Timestamp.valueOf("2024-01-01 00:01:10")
    val evs = Seq(
      ValueEventFixture("click", 1.234, t0), ValueEventFixture("click", 1.234, t0),
      ValueEventFixture("click", 5.678, t0), ValueEventFixture("view", 2.5, t0),
      ValueEventFixture("click", 9.999, t1), ValueEventFixture("view", 0.004, t1))
    val mem = MemoryStream[ValueEventFixture]
    val q = Pipeline.percentileMonitor(mem.toDS().toDF(), "ts")
      .writeStream.format("memory").queryName("pct_mon")
      .outputMode("complete").start()
    try { mem.addData(evs: _*); q.processAllAvailable() } finally q.stop()
    val got = spark.table("pct_mon").collect()
      .map(r => (r.getAs[org.apache.spark.sql.Row]("window")
        .getAs[Timestamp]("start"), r.getAs[String]("event_type"),
        r.getAs[Double]("v")) -> r.getAs[Long]("cnt")).toMap
    val winOf = Map(t0 -> Timestamp.valueOf("2024-01-01 00:00:00"),
      t1 -> Timestamp.valueOf("2024-01-01 00:01:00"))
    val expect = evs.groupBy(e => (winOf(e.ts), e.event_type,
        BigDecimal(e.value).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .view.mapValues(_.length.toLong).toMap
    assert(got == expect, s"cells diverge: $got vs $expect")
    // the q132 election over window-1 click cells matches the exact
    // per-window median of the rounded values
    val cells = got.collect {
      case ((w, "click", v), c) if w == winOf(t0) => (v, c)
    }.toSeq.sortBy(_._1)
    val n = cells.map(_._2).sum
    val need = (50 * n + 99) / 100
    val median = cells.scanLeft(("", 0L)) { case ((_, cum), (v, c)) =>
      (v.toString, cum + c) }.drop(1)
      .find(_._2 >= need).get._1.toDouble
    val exact = cells.flatMap { case (v, c) => Seq.fill(c.toInt)(v) }
      .apply((need - 1).toInt)
    assert(median == exact, "rank election over cells must equal the exact median")
  }

  test("drift monitor: window centroid cosine against the batch snapshot (X34 twin)") {
    import spark.implicits._
    val ex = Seq.tabulate(64)(i => if (i == 0) 1.0 else 0.0)
    val ey = Seq.tabulate(64)(i => if (i == 1) 1.0 else 0.0)
    val snap = Seq((0L, ex), (1L, ey)).toDF("label", "centroid")
    val t0 = Timestamp.valueOf("2024-01-01 00:00:10")
    val mem = MemoryStream[EmbFixture]
    mem.addData(
      EmbFixture(0L, ex, t0), EmbFixture(0L, ex, t0), // stable label
      EmbFixture(1L, ex, t0), EmbFixture(1L, ex, t0)) // rotated: snapshot ey
    val q = Pipeline.driftMonitor(mem.toDS().toDF(), snap, "ts")
      .writeStream.format("memory").queryName("drift_mon")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("drift_mon").collect()
      .map(r => r.getAs[Long]("label") ->
        ((r.getAs[Long]("n_vecs"), r.getAs[Double]("cos_to_snapshot")))).toMap
    assert(got == Map(0L -> ((2L, 1.0)), 1L -> ((2L, 0.0))), s"got $got")
  }

  test("OOV monitor: windowed drift rates against a static vocabulary snapshot") {
    import spark.implicits._
    val vocab = Seq("alpha", "beta").toDF("w")
    val mem = MemoryStream[CuratedDocFixture]
    val q = Pipeline.oovMonitor(mem.toDS().toDF(), vocab, "ts")
      .writeStream.format("memory").queryName("oov_mon")
      .outputMode("complete").start()
    try {
      // window 1: all in-vocab; window 2: half the tokens have drifted
      mem.addData(
        CuratedDocFixture(1L, "alpha beta alpha beta", "en", "src0",
          Timestamp.valueOf("2024-01-01 00:00:10")),
        CuratedDocFixture(2L, "alpha nova beta nova", "en", "src0",
          Timestamp.valueOf("2024-01-01 00:01:10")))
      q.processAllAvailable()
    } finally q.stop()
    val rates = spark.table("oov_mon").collect()
      .map(r => r.getAs[org.apache.spark.sql.Row]("window")
        .getAs[Timestamp]("start").toString -> r.getAs[Double]("oov_rate")).toMap
    assert(rates == Map(
      "2024-01-01 00:00:00.0" -> 0.0,
      "2024-01-01 00:01:00.0" -> 0.5),
      s"got $rates")
  }

  test("gap monitor: closed gaps chain across a batch split (X156 twin of q230)") {
    import graft.streaming.{GapOut, HourCell}
    val mem = MemoryStream[HourCell]
    val q = Pipeline.gapMonitor(mem.toDS())
      .writeStream.format("memory").queryName("gap_mon")
      .outputMode("append").start()
    try {
      // batch 1: gappy {0, 3} (one interior gap), full {0, 1}
      mem.addData(HourCell("gappy", 0L), HourCell("gappy", 3L),
        HourCell("full", 0L), HourCell("full", 1L))
      q.processAllAvailable()
      // batch 2: gappy resumes at 5 — the 3→5 gap closes ACROSS the
      // split through the stored high-water mark; full stays contiguous
      mem.addData(HourCell("gappy", 5L), HourCell("full", 2L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("gap_mon").collect()
      .map(r => GapOut(r.getAs[String]("event_type"),
        r.getAs[Long]("gap_start_h"), r.getAs[Long]("gap_hours"))).toSet
    // exactly q230's INTERIOR runs on the same cells: runs_mid = 2 for
    // gappy (lengths 2 and 1), none for full — head/tail are batch-only
    assert(got == Set(GapOut("gappy", 1L, 2L), GapOut("gappy", 4L, 1L)),
      s"got $got")
  }

  test("gap monitor: replayed/late cells at or below the mark mint no phantom gaps") {
    import graft.streaming.{GapOut, HourCell}
    val mem = MemoryStream[HourCell]
    val q = Pipeline.gapMonitor(mem.toDS())
      .writeStream.format("memory").queryName("gap_mon_replay")
      .outputMode("append").start()
    try {
      mem.addData(HourCell("t", 8L), HourCell("t", 9L), HourCell("t", 10L))
      q.processAllAvailable()
      // batch 2 replays hour 5 (below the stored mark 10) alongside 12:
      // the replay must be ignored — the only real gap is 10→12 (hour 11).
      // Before the clamp this emitted a phantom 6-hour gap (6..11) and
      // could regress the mark.
      mem.addData(HourCell("t", 5L), HourCell("t", 12L))
      q.processAllAvailable()
      // batch 3: hour 13 — contiguous iff the mark advanced to 12
      mem.addData(HourCell("t", 13L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("gap_mon_replay").collect()
      .map(r => GapOut(r.getAs[String]("event_type"),
        r.getAs[Long]("gap_start_h"), r.getAs[Long]("gap_hours"))).toSet
    assert(got == Set(GapOut("t", 11L, 1L)), s"got $got")
  }

  test("concurrency monitor: folded walk equals batch q233 across a batch split (X159 twin)") {
    import graft.streaming.{ConcurrencyOut, MinuteCell}
    // the q233 batch fixture, replayed: u1 [m10,m20], u2 [m15], u3 [m5]
    // + [m90] (day 0), u4 day-1 m30, u5 spanning midnight day2->day3
    val dir = Files.createTempDirectory("graft_concmon").toString
    var eid = 0L
    def ev(u: Long, sec: Long) = { eid += 1; (eid, sec * 1000000000L, u, "click", 1.0, "{}") }
    Seq(ev(1L, 600L), ev(1L, 1200L), ev(2L, 900L),
      ev(3L, 300L), ev(3L, 5400L),
      ev(4L, 86400L + 1800L),
      ev(5L, 2L * 86400L + 85800L), ev(5L, 3L * 86400L + 600L))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val batch = graft.operators.EventAnalytics.peakConcurrency(spark, dir)
      .collect()
      .map(r => r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay ->
        ((r.getAs[Long]("n_sessions_started"),
          r.getAs[Long]("peak_concurrent"),
          r.getAs[Long]("peak_minute_of_day")))).toMap
    // the same sessions as closed [m0, m1] spans, fanned to delta cells
    // with the batch rule (+1 at m0, -1 at m1+1)
    val spans = Seq((10L, 20L), (15L, 15L), (5L, 5L), (90L, 90L),
      (1470L, 1470L), (4310L, 4330L))
    val cells = spans.flatMap { case (m0, m1) =>
      Seq(MinuteCell(m0 / 1440L, m0, 1L, 1L),
        MinuteCell((m1 + 1) / 1440L, m1 + 1, -1L, 0L))
    }
    val mem = MemoryStream[MinuteCell]
    val q = Pipeline.concurrencyMonitor(mem.toDS(), capacity = 1L)
      .writeStream.format("memory").queryName("conc_mon")
      .outputMode("append").start()
    try {
      // batch 1 closes days 0-1; batch 2 closes days 2-3 — day 3's walk
      // must chain through the stored (last_day, entering) state
      mem.addData(cells.filter(_.day_idx <= 1L): _*)
      q.processAllAvailable()
      mem.addData(cells.filter(_.day_idx >= 2L): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("conc_mon").collect()
      .map(r => r.getAs[Long]("day_idx") ->
        ((r.getAs[Long]("n_sessions_started"),
          r.getAs[Long]("peak_concurrent"),
          r.getAs[Long]("peak_minute_of_day"),
          r.getAs[Boolean]("over_capacity")))).toMap
    assert(got.keySet == batch.keySet, s"day spans differ: $got vs $batch")
    batch.foreach { case (d, (starts, peak, minute)) =>
      assert(got(d)._1 == starts && got(d)._2 == peak && got(d)._3 == minute,
        s"day $d: stream ${got(d)} vs batch ${(starts, peak, minute)}")
      assert(got(d)._4 == (peak > 1L), s"day $d capacity flag")
    }
    // day 0 peaks at 2 concurrent > capacity 1 — the alarm the monitor exists for
    assert(got(0L)._4, "day 0 must flag over-capacity")
  }

  test("burst monitor: folded walk equals batch q203 verbatim across a batch split (X129 twin)") {
    import graft.streaming.{BurstOut, DayCount}
    // three shapes over the shared 0-9 grid: flat 3/day (never fires),
    // spiky (burst day 7, quiet day 8), rise (silent until a day-9
    // burst-from-silence -> the -1 ratio sentinel)
    val counts = Map(
      "flat" -> (0 to 9).map(d => d.toLong -> 3L).toMap,
      "spiky" -> ((0 to 6).map(d => d.toLong -> 2L).toMap +
        (7L -> 20L) + (9L -> 2L)),
      "rise" -> Map(9L -> 5L))
    val dir = Files.createTempDirectory("graft_burstmon").toString
    var eid = 0L
    counts.toSeq.flatMap { case (t, byDay) =>
      byDay.toSeq.flatMap { case (d, c) =>
        (1 to c.toInt).map { j =>
          eid += 1; (eid, (d * 86400L + j) * 1000000000L, eid % 3, t, 1.0, "{}")
        }
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val batch = graft.operators.EventAnalytics.decayedBurstPanel(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_days_scored"), r.getAs[Long]("n_burst"),
          r.getAs[Long]("n_quiet"), r.getAs[Long]("max_ratio_bp")))).toMap
    // cells: the dense grid's non-silent days per type, plus the grid's
    // first day (the q203 contract — each type's walk starts at the
    // global span start; silent interior days zero-fill in the monitor)
    val cells = counts.toSeq.flatMap { case (t, byDay) =>
      val nonSilent = byDay.toSeq.map { case (d, c) => DayCount(t, d, c) }
      if (byDay.contains(0L)) nonSilent
      else DayCount(t, 0L, 0L) +: nonSilent
    }
    val mem = MemoryStream[DayCount]
    val q = Pipeline.burstMonitor(mem.toDS())
      .writeStream.format("memory").queryName("burst_mon")
      .outputMode("append").start()
    try {
      // batch 1 closes days 0-7 (the first scored day); batch 2 closes
      // days 8-9 — the ring and day counter chain through the split
      mem.addData(cells.filter(_.day_idx <= 7L): _*)
      q.processAllAvailable()
      mem.addData(cells.filter(_.day_idx >= 8L): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("burst_mon").collect()
      .map(r => BurstOut(r.getAs[String]("event_type"),
        r.getAs[Long]("day_idx"), r.getAs[Long]("c"), r.getAs[Long]("b127"),
        r.getAs[Long]("ratio_bp"), r.getAs[Boolean]("is_burst"),
        r.getAs[Boolean]("is_quiet")))
    val folded = got.groupBy(_.event_type).view.mapValues { rows =>
      (rows.length.toLong, rows.count(_.is_burst).toLong,
        rows.count(_.is_quiet).toLong, rows.map(_.ratio_bp).max)
    }.toMap
    assert(folded == batch,
      s"folded stream must equal batch panel: $folded vs $batch")
    val byKey = got.map(o => (o.event_type, o.day_idx) -> o).toMap
    assert(byKey(("spiky", 7L)).ratio_bp == 100000L &&
      byKey(("spiky", 7L)).is_burst, s"got ${byKey(("spiky", 7L))}")
    assert(byKey(("spiky", 8L)).is_quiet)
    assert(byKey(("rise", 9L)).ratio_bp == -1L &&
      byKey(("rise", 9L)).is_burst, s"got ${byKey(("rise", 9L))}")
    // the sentinel must not win the max: rise's max is the silent 10000
    assert(folded("rise")._4 == 10000L)
  }

  test("burn monitor: folded walk equals batch q248 verbatim across a batch split (X174 twin)") {
    import graft.streaming.{BudgetCell, BurnOut}
    // the q248 spec fixture replayed: day0 1/4 errors, day1 2/2 (the
    // fast alert), day2 silent, day3 0/5 clean
    val dir = Files.createTempDirectory("graft_burnmon").toString
    var eid = 0L
    def evs(d: Long, errs: Int, oks: Int) =
      (1 to errs).map { j => eid += 1; (eid, (d * 86400L + j) * 1000000000L, eid % 3, "error", 1.0, "{}") } ++
        (1 to oks).map { j => eid += 1; (eid, (d * 86400L + 100 + j) * 1000000000L, eid % 3, "click", 1.0, "{}") }
    (evs(0L, 1, 3) ++ evs(1L, 2, 0) ++ evs(3L, 0, 5))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val batch = graft.operators.EventAnalytics.errorBudget(spark, dir)
      .collect().map(r =>
        r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay ->
          ((r.getAs[Long]("n_events"), r.getAs[Long]("n_errors"),
            r.getAs[Long]("rate_bp"), r.getAs[Long]("burn_1d_centi"),
            r.getAs[Long]("rate_7d_bp"), r.getAs[Long]("burn_7d_centi"),
            r.getAs[Long]("cum_burn_centi"),
            r.getAs[Boolean]("alert_fast")))).toMap
    val mem = MemoryStream[BudgetCell]
    val q = Pipeline.burnMonitor(mem.toDS())
      .writeStream.format("memory").queryName("burn_mon")
      .outputMode("append").start()
    try {
      // batch 1 closes days 0-1; batch 2 closes day 3 — the monitor
      // must zero-fill silent day 2 and chain cum/ring state through it
      mem.addData(BudgetCell(0L, 4L, 1L), BudgetCell(1L, 2L, 2L))
      q.processAllAvailable()
      mem.addData(BudgetCell(3L, 5L, 0L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("burn_mon").collect()
      .map(r => r.getAs[Long]("day_idx") ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("n_errors"),
          r.getAs[Long]("rate_bp"), r.getAs[Long]("burn_1d_centi"),
          r.getAs[Long]("rate_7d_bp"), r.getAs[Long]("burn_7d_centi"),
          r.getAs[Long]("cum_burn_centi"),
          r.getAs[Boolean]("alert_fast")))).toMap
    assert(got == batch,
      s"stream rows must equal batch verbatim: $got vs $batch")
    assert(got(1L)._8, "day 1 must raise the fast-burn alert")
  }

  test("cusum monitor: walk chains across a batch split, alarms at h·target (X154 twin)") {
    import graft.streaming.{CusumOut, DayCount}
    val mem = MemoryStream[DayCount]
    // target 2, hFactor 2 → alarm at S ≥ 4
    val q = Pipeline.cusumMonitor(mem.toDS(), Map("t" -> 2L), hFactor = 2L)
      .writeStream.format("memory").queryName("cusum_mon")
      .outputMode("append").start()
    try {
      // days 1, 2: counts 4, 4 → dev +2, +2 → S⁺ 2 then 4 (alarm)
      mem.addData(DayCount("t", 1L, 4L), DayCount("t", 2L, 4L))
      q.processAllAvailable()
      // day 3 arrives in the NEXT batch: count 0 → dev −2 → S⁺ 2, S⁻ 2 —
      // the walk must continue from the stored (4, 0) state
      mem.addData(DayCount("t", 3L, 0L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cusum_mon").collect()
      .map(r => CusumOut(r.getAs[String]("event_type"),
        r.getAs[Long]("day_idx"), r.getAs[Long]("su"), r.getAs[Long]("sd"),
        r.getAs[Boolean]("alarm_up"), r.getAs[Boolean]("alarm_dn")))
      .sortBy(_.day_idx)
    assert(got.toSeq == Seq(
      CusumOut("t", 1L, 2L, 0L, false, false),
      CusumOut("t", 2L, 4L, 0L, true, false),
      CusumOut("t", 3L, 2L, 2L, false, false)), s"got ${got.toSeq}")
    // batch fold over the same cells and target reproduces the walk
    val cells = Seq((1L, 4L), (2L, 4L), (3L, 0L))
    var (su, sd) = (0L, 0L)
    val ref = cells.map { case (d, c) =>
      su = math.max(0L, su + (c - 2L)); sd = math.max(0L, sd - (c - 2L))
      (d, su, sd)
    }
    assert(got.map(o => (o.day_idx, o.su, o.sd)).toSeq == ref)
  }

  test("ewmaMonitor walks the batch EWMA exactly across a batch split (X199 twin)") {
    import graft.streaming.DayCount
    // the q273 fixture series: Phase I alternates 6,8 (μ=7000, σ²=10⁶),
    // Phase II holds 14 — the monitor, deployed with the Phase-I
    // snapshot, must reproduce the batch walk verbatim and flag every
    // Phase-II day; "ghost" is absent from the snapshot and must drop
    val counts = (1 to 16).map(d => if (d <= 8) { if (d % 2 == 1) 6L else 8L } else 14L)
    val mem = MemoryStream[DayCount]
    val q = Pipeline.ewmaMonitor(mem.toDS(),
        muMilli = Map("t" -> 7000L), varMilli2 = Map("t" -> 1000000L))
      .writeStream.format("memory").queryName("ewma_mon")
      .outputMode("append").start()
    try {
      // split mid-phase-II: state must carry z across the batch boundary
      mem.addData((0 until 10).map(i => DayCount("t", i.toLong, counts(i))) ++
        Seq(DayCount("ghost", 0L, 99L)): _*)
      q.processAllAvailable()
      mem.addData((10 until 16).map(i => DayCount("t", i.toLong, counts(i))): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ewma_mon").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day_idx"),
        r.getAs[Long]("z_milli"), r.getAs[Boolean]("alarm_up"),
        r.getAs[Boolean]("alarm_dn")))
      .sortBy(x => (x._1, x._2))
    // the hand walk from the q273 batch fixture
    val expectZ = Seq(6750L, 7062L, 6796L, 7097L, 6822L, 7116L, 6837L,
      7127L, 8845L, 10133L, 11099L, 11824L, 12368L, 12776L, 13082L, 13311L)
    assert(got.forall(_._1 == "t"), "unknown-snapshot type must drop")
    assert(got.map(_._3).toSeq == expectZ, s"got ${got.map(_._3).toSeq}")
    assert(got.map(_._4).toSeq == (0 until 16).map(_ >= 8),
      "exactly the Phase-II days alarm up")
    assert(got.forall(!_._5), "no down alarms on an upward shift")
  }

  // ---- S1 DataSource V2 replay source (VERDICT r16 ask #3) -----------------

  /** Write the fixture tweets as 4 single-purpose payload files whose
    * lexicographic order is the replay order: f0 carries two lines,
    * f1-f3 one each — so file-granular offsets have a mid-stream cut. */
  private def writeReplayFiles(dir: String): Seq[String] = {
    val lines = tweets.toDF().toJSON.collect().toSeq
    val groups = Seq(lines.take(2), Seq(lines(2)), Seq(lines(3)), Seq(lines(4)))
    groups.zipWithIndex.foreach { case (g, i) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"f$i%02d.json"),
        g.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    lines
  }

  test("V2 replay source: file-replay parity through the full pipeline (S1)") {
    val src = Files.createTempDirectory("graft_v2_parity").toString
    writeReplayFiles(src)

    def runThrough(spec: Pipeline.SourceSpec, name: String): Seq[String] = {
      val scored = Pipeline.scoreTweets(Pipeline.readTweets(spark, spec), "en", "#spark")
      val q = scored.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).orderBy("created_at")
        .collect().map(_.getAs[String]("text")).toSeq
    }
    // the existing seam suite's transports, now THROUGH the V2 source:
    // the registered short name resolves via DataSourceRegister, and the
    // payload contract (value: string) rides tweetsFromPayload unchanged
    val viaFile = runThrough(Pipeline.SourceSpec("json", path = Some(src)), "v2p_file")
    val viaV2 = runThrough(Pipeline.SourceSpec("tweet-replay", path = Some(src)), "v2p_replay")
    assert(viaFile.nonEmpty && viaFile == viaV2,
      s"V2 replay must match the schema'd file source ($viaFile vs $viaV2)")
  }

  test("V2 replay source: maxFilesPerTrigger paces admission one file per batch (S1/T1)") {
    val src = Files.createTempDirectory("graft_v2_pace").toString
    writeReplayFiles(src)
    val spec = Pipeline.SourceSpec("tweet-replay", path = Some(src),
      options = Map("maxFilesPerTrigger" -> "1"))
    val q = Pipeline.readTweets(spark, spec)
      .writeStream.format("memory").queryName("v2_pace")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("v2_pace").count() == 5L)
    val dataBatches = q.recentProgress.filter(_.numInputRows > 0)
    assert(dataBatches.length == 4,
      s"4 files at 1 file/trigger must take 4 data batches " +
        s"(got ${dataBatches.length})")
    // f0 carries 2 lines, f1-f3 one each — per-batch row counts prove
    // the batches were file-aligned, not arbitrarily re-split
    assert(dataBatches.map(_.numInputRows).toSeq == Seq(2L, 1L, 1L, 1L))
  }

  test("V2 replay source: restart resumes from the checkpointed offset (S1/T5)") {
    val src = Files.createTempDirectory("graft_v2_restart").toString
    val out = Files.createTempDirectory("graft_v2_restart_out").toString
    val chk = Files.createTempDirectory("graft_v2_restart_chk").toString
    writeReplayFiles(src)

    def runOnce(extra: Map[String, String]): Long = {
      val spec = Pipeline.SourceSpec("tweet-replay", path = Some(src),
        options = Map("maxFilesPerTrigger" -> "1") ++ extra)
      val q = Pipeline.readTweets(spark, spec)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", chk).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.map(_.numInputRows).sum
    }
    // run 1 stops MID-STREAM: the offset freezes at file 2 of 4
    val rows1 = runOnce(Map("stopAtFile" -> "2"))
    assert(rows1 == 3L, s"files f00+f01 carry 3 lines (got $rows1)")
    assert(spark.read.parquet(out).count() == 3L)
    // run 2 on the SAME checkpoint: resumes at file 2 — delivers ONLY
    // f02/f03, never re-reads f00/f01 (the reconnect-resume contract)
    val rows2 = runOnce(Map.empty)
    assert(rows2 == 2L, s"restart must deliver only the 2 remaining lines (got $rows2)")
    val all = spark.read.parquet(out)
    assert(all.count() == 5L && all.select("text").distinct().count() == 5L,
      "every payload exactly once across the restart")
  }

  test("a checkpoint written by Spark's default manager resumes under graft's, no reprocessing") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.checkpointing.{
      CheckpointFileManager, FileContextBasedCheckpointFileManager}
    val src = Files.createTempDirectory("graft_cfm_resume").toString
    val out = Files.createTempDirectory("graft_cfm_resume_out").toString
    val chk = Files.createTempDirectory("graft_cfm_resume_chk").toString
    writeReplayFiles(src)
    val stock = spark.newSession()
    stock.conf.set(graft.streaming.LocalCheckpointFileManager.ConfKey,
      classOf[FileContextBasedCheckpointFileManager].getName)
    def managerOf(s: org.apache.spark.sql.SparkSession) =
      CheckpointFileManager.create(new Path(chk),
        org.apache.spark.sql.graft.bridge.newHadoopConf(s)).getClass
    assert(managerOf(stock) == classOf[FileContextBasedCheckpointFileManager])
    assert(managerOf(spark) == classOf[graft.streaming.LocalCheckpointFileManager])

    // stateful: one row per distinct lang, so run 2 can only emit nothing
    // if it recovered run 1's dedup state
    def runOnce(s: org.apache.spark.sql.SparkSession, extra: Map[String, String]): Long = {
      val spec = Pipeline.SourceSpec("tweet-replay", path = Some(src),
        options = Map("maxFilesPerTrigger" -> "1") ++ extra)
      val q = Pipeline.readTweets(s, spec).dropDuplicates("lang")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", chk).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.map(_.numInputRows).sum
    }
    // run 1, default manager: f00+f01 carry en, en, es
    assert(runOnce(stock, Map("stopAtFile" -> "2")) == 3L)
    assert(spark.read.parquet(out).count() == 2L)
    // run 2, graft's manager on the same checkpoint: only f02/f03 (en, en)
    // are read, and the recovered state drops both
    assert(runOnce(spark, Map.empty) == 2L, "restart must resume at file 2")
    val langs = spark.read.parquet(out).select("lang").collect().map(_.getString(0)).sorted
    assert(langs.toSeq == Seq("en", "es"), s"state lost across the manager switch: $langs")
  }
}

