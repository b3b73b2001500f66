package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions.Sentiment

/** Typed rows for the custom-state operators (T4). */
case class UserEvent(user_id: Long, ts: java.sql.Timestamp)
case class UserState(n: Long)
case class UserCount(user_id: Long, n_events: Long)
case class SeqEvent(user_id: Long, us: Long, event_id: Long, event_type: String)
case class LastEvent(us: Long, event_id: Long, event_type: String)
case class TransitionOut(user_id: Long, from_type: String, to_type: String)

/** Typed rows for [[Pipeline.gapMonitor]] (streaming twin of q230's
  * interior gap runs): input hour cells, per-type last-seen state, and
  * one emitted row per CLOSED ingestion gap. */
case class HourCell(event_type: String, h: Long)
case class HourSeen(last_h: Long)
case class GapOut(event_type: String, gap_start_h: Long, gap_hours: Long)

/** Typed rows for [[Pipeline.cusumMonitor]] (streaming twin of q228):
  * input closed-day counts, the per-type two-sided walk state, and the
  * per-day walk emission with alarm flags. */
case class DayCount(event_type: String, day_idx: Long, c: Long)
case class CusumState(su: Long, sd: Long)
case class CusumOut(event_type: String, day_idx: Long, su: Long, sd: Long,
                    alarm_up: Boolean, alarm_dn: Boolean)

/** Typed rows for [[Pipeline.ewmaMonitor]] (streaming twin of q273):
  * input closed-day counts (the [[DayCount]] grain shared with
  * [[Pipeline.cusumMonitor]]), the per-type smoothed state, and one
  * scored emission per closed day. */
case class EwmaState(z: Long)
case class EwmaOut(event_type: String, day_idx: Long, c: Long,
                   z_milli: Long, alarm_up: Boolean, alarm_dn: Boolean)

/** Typed rows for [[Pipeline.burnMonitor]] (streaming twin of q248):
  * input closed-day (events, errors) cells, the walk state (last
  * closed day, cumulative counts, the trailing 6-day ring), and one
  * emitted burn row per closed day. */
case class BudgetCell(day_idx: Long, n: Long, e: Long)
case class BurnState(last_day: Long, cum_n: Long, cum_e: Long,
                     ring: Seq[(Long, Long)])
case class BurnOut(day_idx: Long, n_events: Long, n_errors: Long,
                   rate_bp: Long, burn_1d_centi: Long,
                   rate_7d_bp: Long, burn_7d_centi: Long,
                   cum_burn_centi: Long, alert_fast: Boolean)

/** Typed rows for [[Pipeline.burstMonitor]] (streaming twin of q203):
  * input closed-day counts (the [[DayCount]] grain shared with
  * [[Pipeline.cusumMonitor]]), the per-type walk state (last closed
  * day, days ingested, the 7-day dyadic ring newest-first), and one
  * scored emission per closed day once a full prior week exists. */
case class BurstState(last_day: Long, n_days: Long, ring: Seq[Long])
case class BurstOut(event_type: String, day_idx: Long, c: Long,
                    b127: Long, ratio_bp: Long,
                    is_burst: Boolean, is_quiet: Boolean)

/** Typed rows for [[Pipeline.concurrencyMonitor]] (streaming twin of
  * q233): input ±1 session delta cells at the minute grain (`m` is the
  * absolute minute, `day_idx = m div 1440`; `opens` counts sessions
  * STARTING at that minute), the global walk state (last closed day,
  * concurrency entering the next), and one emitted capacity row per
  * closed day. */
case class MinuteCell(day_idx: Long, m: Long, net: Long, opens: Long)
case class ConcurrencyState(last_day: Long, entering: Long)
case class ConcurrencyOut(day_idx: Long, n_sessions_started: Long,
                          peak_concurrent: Long, peak_minute_of_day: Long,
                          over_capacity: Boolean)

/** Spark-4 `StatefulProcessor` behind [[Pipeline.runningUserCountsTws]]:
  * one named `ValueState[Long]` per user, TTL declared per state variable
  * (`TTLConfig`) instead of the mapGroupsWithState timeout dance. */
class UserCountProcessor(stateTtl: Option[java.time.Duration] = None)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserCount] {
  import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
  @transient private var countState: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    val ttl = stateTtl.fold(TTLConfig.NONE)(TTLConfig.apply)
    countState = getHandle.getValueState[Long]("count",
      org.apache.spark.sql.Encoders.scalaLong, ttl)
  }

  override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                               timerValues: TimerValues): Iterator[UserCount] = {
    val prev = if (countState.exists()) countState.get() else 0L
    val n = prev + rows.size
    countState.update(n)
    Iterator.single(UserCount(key, n))
  }
}

/** Typed rows for [[Pipeline.asofEnrich]] (streaming twin of the batch
  * as-of join, q51). Epochs are whole seconds, like the batch operator. */
case class AsofEvent(event_id: Long, user_id: Long, event_type: String,
                     epoch: Long, value: Double)
case class AsofLatest(epoch: Long, value: Double)
case class AsofOut(event_id: Long, user_id: Long, view_epoch: Long,
                   asof_value: Option[Double])

/** One open session's state (epoch millis) for [[Pipeline.sessionize]]. */
case class OpenSession(startMs: Long, lastMs: Long, n: Long)

/** One streaming similarity query for [[Pipeline.cosineTopKStream]]. */
case class QueryVec(query_id: Long, qv: Seq[Double])

/** Input row for [[Pipeline.packStream]] (token count precomputed by the
  * caller with the batch tokenization, so stream and batch cut the same
  * grams). */
case class PackDoc(doc_id: Long, lang: String, n_tokens: Long)
/** Running token count for one (lang, shard) packing stream. */
case class PackState(cum: Long)
/** One packed doc: same shape as the batch [[graft.operators.Packing
  * .packContexts]] row. */
case class PackOut(doc_id: Long, lang: String, shard: Long, n_tokens: Long,
                   cum_tokens: Long, context_id: Long, end_context: Long)

/** One closed session, matching the batch session_window (q28) row shape. */
case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                      n_events: Long)

/** The reference's continuous query, Spark-native (SURVEY.md §3.1):
  *
  * {{{
  * readStream(json tweets) → from_json/schema → filter(lang, track)
  *   → project(text, lang, event time) → score sentiment
  *   → [windowed agg] → writeStream(parquet, checkpoint, 60 s trigger)
  * }}}
  *
  * Reference mapping (file:line cites):
  *  - source + server-side filter: `streamer.py:41-48` (S1, F1, F2) —
  *    here a schema'd file/memory stream + `filter` columns;
  *  - per-record parse/project: `streamer.py:26-28` (P1, P2);
  *  - micro-batching: Firehose 60 s / 3 MB buffer
  *    (`stream_processor.py:295-324`, T1) — here
  *    `Trigger.ProcessingTime(60 s)` + `maxFilesPerTrigger`;
  *  - sentiment enrich: `ProcessStreamData.py:21` (E1) — the SAME
  *    deterministic scorer as batch (one code path, stream/batch parity);
  *  - delivery: Firehose→S3 at-least-once (`ProcessStreamData.py:25-30`,
  *    T5) — here exactly-once parquet sink + checkpoint, strictly
  *    stronger (no ack envelope needed, P6 dropped by design);
  *  - the reference discards `created_at` (processing-time only, T2/T3);
  *    we keep it as event time and add a watermark — the EXT upgrade.
  *
  * Every transform is a pure `DataFrame => DataFrame` usable in BOTH
  * batch and streaming plans — Structured Streaming's core guarantee
  * (PAPERS.md, SIGMOD 2018) is that the same declarative plan gives the
  * same answer; StreamingSpec asserts exactly that.
  *
  * Scale: the pipeline is shuffle-free until the windowed agg (narrow
  * filter/project/score fused by codegen); the agg shuffles one partial
  * row per (window × label) per partition. State is bounded by the
  * watermark; no per-record RPC anywhere (the reference's T6 flaw).
  */
object Pipeline {

  /** Tweet schema (FIXTURES.md A1) — the fields the reference touches
    * (`text`, `lang` via filter, `created_at` discarded, entities.hashtags
    * the basis of track matching). */
  val tweetSchema: StructType = StructType(Seq(
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("created_at", TimestampType),
    StructField("entities", StructType(Seq(
      StructField("hashtags", ArrayType(StructType(Seq(
        StructField("text", StringType))))))))))

  /** tweetSchema + the PERMISSIVE-mode corrupt-record side channel. */
  val parseSchema: StructType =
    tweetSchema.add(StructField("_corrupt_record", StringType))

  /** F3/P1: parse raw JSON lines with a declared schema; malformed input
    * lands in `_corrupt_record` instead of failing the stream — the
    * observable version of the reference's silent on_error drop
    * (`streamer.py:32-33`). Works on batch and streaming frames. */
  def parseTweets(raw: DataFrame, rawCol: String = "value"): DataFrame =
    raw.select(from_json(col(rawCol), parseSchema,
      Map("mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> "_corrupt_record")).as("t"))
      .select(col("t.*"))

  /** Well-formed rows only (the reference's continue-on-error path). */
  def validTweets(parsed: DataFrame): DataFrame =
    parsed.filter(col("_corrupt_record").isNull).drop("_corrupt_record")

  /** Malformed raw payloads, for a dead-letter sink / metrics. */
  def corruptRecords(parsed: DataFrame): DataFrame =
    parsed.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw"))

  /** S1 seam: transport descriptor for the tweet stream. The pipeline
    * never hardcodes a source — it consumes "a streaming DataFrame with
    * tweetSchema", and this spec says where that comes from:
    *
    *  - `SourceSpec("json", path = Some(dir))` — newline-JSON file replay
    *    (the sandbox demo; maxFilesPerTrigger caps batch size, the twin of
    *    Firehose's 3 MB buffer, `stream_processor.py:295-324`);
    *  - `SourceSpec("socket", options = host/port)` — line transport;
    *  - `SourceSpec("rate", …)` — synthetic load (adapt rows to payloads);
    *  - production swap-ins (connector jars, not shipped here):
    *    [[SourceSpec.kafka]] (`payloadCol = "value"`) or
    *    [[SourceSpec.kinesis]] (`payloadCol = "data"` — the reference's
    *    actual transport) — both deliver raw bytes in a column, which
    *    [[tweetsFromPayload]] parses exactly like socket lines. Nothing
    *    else in the pipeline changes.
    */
  case class SourceSpec(format: String,
                        path: Option[String] = None,
                        options: Map[String, String] = Map.empty,
                        payloadCol: String = "value")

  object SourceSpec {
    /** The Kafka binding of the S1 transport seam — the production twin
      * of the reference's push stream (`streamer.py:44-48`), expressed as
      * the option map Spark's `format("kafka")` connector reads. The
      * connector jar (`spark-sql-kafka-0-10`) is not shipped in this
      * sandbox, so there is no broker integration test here; the
      * translation itself is pure and unit-gated (StreamingSpec), and the
      * manual recipe is one line:
      *
      * {{{
      * spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 …
      * readTweets(spark, SourceSpec.kafka("b1:9092,b2:9092", "tweets",
      *   auth = SourceSpec.saslPlain("user", "pass")))
      * }}}
      *
      * Kafka delivers the payload as `value: binary`;
      * [[tweetsFromPayload]] casts + JSON-parses it with the same
      * corrupt-record side channel every other transport gets — nothing
      * downstream of the seam changes.
      *
      * @param startingOffsets "latest" (tail the live stream — the
      *        reference's behavior), "earliest", or a per-partition JSON
      *        offset map; checkpointed restarts IGNORE this and resume
      *        from committed offsets, which is what makes the
      *        [[Supervision]] restart path exactly-once end to end.
      * @param auth consumer security settings, e.g. from [[saslPlain]] —
      *        the config seam the reference's OAuth handshake
      *        (`streamer.py:41-43`) maps onto. Keys may be given bare
      *        (`security.protocol`) or prefixed (`kafka.security.protocol`);
      *        bare keys get the `kafka.` prefix the connector requires
      *        for consumer pass-through.
      * @param maxOffsetsPerTrigger per-micro-batch record cap — the
      *        backpressure knob (T6), same role maxFilesPerTrigger plays
      *        for file replay. */
    def kafka(brokers: String, topic: String,
              startingOffsets: String = "latest",
              auth: Map[String, String] = Map.empty,
              maxOffsetsPerTrigger: Option[Long] = None,
              extra: Map[String, String] = Map.empty): SourceSpec = {
      require(brokers.nonEmpty, "kafka: brokers must be non-empty")
      require(topic.nonEmpty, "kafka: topic must be non-empty")
      val authPrefixed = auth.map { case (k, v) =>
        (if (k.startsWith("kafka.")) k else s"kafka.$k") -> v
      }
      SourceSpec("kafka", options = Map(
        "kafka.bootstrap.servers" -> brokers,
        "subscribe" -> topic,
        "startingOffsets" -> startingOffsets) ++
        maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString) ++
        authPrefixed ++ extra,
        payloadCol = "value")
    }

    /** The Kinesis binding of the S1 transport seam — the reference's
      * ACTUAL transport (`stream_processor.py:269-354`; the
      * KinesisStreamAsSource branch at `:335-345` wires the Firehose
      * delivery stream to the shard iterator this consumer reads). As
      * with [[kafka]], the connector jar (the open-source
      * spark-sql-kinesis connector, `format("kinesis")`) is not shipped
      * in this sandbox, so the translation is pure and unit-gated
      * (StreamingSpec); the manual recipe is one `--packages` line plus:
      *
      * {{{
      * readTweets(spark, SourceSpec.kinesis("tweet-firehose", "us-east-1"))
      * }}}
      *
      * Kinesis delivers the record payload as `data: binary` — the same
      * base64-decoded bytes the reference's lambda re-encodes
      * (`lambda_function.py`) — and [[tweetsFromPayload]] casts + parses
      * it with the corrupt-record side channel; nothing downstream of the
      * seam changes.
      *
      * @param streamName the Kinesis stream (Firehose delivery target)
      * @param region AWS region; the connector derives the endpoint from
      *        it unless `endpointUrl` overrides (e.g. a localstack URL —
      *        how this binding is integration-tested without AWS)
      * @param startingPosition "latest" (tail the live stream — the
      *        reference's behavior), "trim_horizon" (oldest retained), or
      *        "earliest" (alias); checkpointed restarts IGNORE this and
      *        resume from committed shard sequence numbers, same
      *        exactly-once contract as the kafka binding.
      * @param credentials access keys passed through to the connector
      *        (`awsAccessKeyId`/`awsSecretKey` or bare `accessKeyId`/
      *        `secretKey` accepted); empty → the connector falls back to
      *        the default AWS provider chain (instance profile / env),
      *        which is the production posture — keys in option maps are a
      *        localstack/test convenience.
      * @param maxFetchRecordsPerShard per-shard per-fetch record cap —
      *        the backpressure knob (T6), the role maxOffsetsPerTrigger
      *        plays for kafka and maxFilesPerTrigger for file replay. */
    def kinesis(streamName: String, region: String,
                endpointUrl: Option[String] = None,
                startingPosition: String = "latest",
                credentials: Map[String, String] = Map.empty,
                maxFetchRecordsPerShard: Option[Long] = None,
                extra: Map[String, String] = Map.empty): SourceSpec = {
      require(streamName.nonEmpty, "kinesis: streamName must be non-empty")
      require(region.nonEmpty, "kinesis: region must be non-empty")
      // Locale.ROOT: the default-locale toLowerCase turns "LATEST" into
      // "latest" with a dotless ı under tr-TR and rejects a valid input
      val pos = startingPosition.toLowerCase(java.util.Locale.ROOT) match {
        case "latest"                    => "latest"
        case "trim_horizon" | "earliest" => "trim_horizon"
        case other => throw new IllegalArgumentException(
          s"kinesis: startingPosition '$other' (want latest|trim_horizon|earliest)")
      }
      // connector expects awsAccessKeyId/awsSecretKey; accept bare names
      val creds = credentials.map {
        case ("accessKeyId", v) => "awsAccessKeyId" -> v
        case ("secretKey", v)   => "awsSecretKey" -> v
        case kv                 => kv
      }
      // Pinned to the qubole spark-sql-kinesis option surface
      // (format("kinesis"), streamName/endpointUrl/startingPosition/
      // awsAccessKeyId/awsSecretKey option names). That connector derives
      // the region FROM the endpoint URL, so a bare `region` argument must
      // materialize as an endpointUrl to bind at all — derive the standard
      // regional endpoint when the caller doesn't override (localstack
      // etc. pass an explicit endpointUrl and win). `region` is still
      // emitted for forward-compat with connectors that accept it.
      // Partition-aware suffix: the China partition lives under
      // amazonaws.com.cn (GovCloud stays under amazonaws.com); isolated
      // partitions (us-iso*) have no public derivable endpoint — callers
      // there must pass endpointUrl explicitly.
      val suffix =
        if (region.startsWith("cn-")) "amazonaws.com.cn" else "amazonaws.com"
      val endpoint = endpointUrl.getOrElse(s"https://kinesis.$region.$suffix")
      SourceSpec("kinesis", options = Map(
        "streamName" -> streamName,
        "region" -> region,
        "endpointUrl" -> endpoint,
        "startingPosition" -> pos) ++
        maxFetchRecordsPerShard.map(
          "kinesis.executor.maxFetchRecordsPerShard" -> _.toString) ++
        creds ++ extra,
        payloadCol = "data")
    }

    /** SASL/PLAIN credentials as a [[kafka]] `auth` map (SCRAM variants:
      * pass `mechanism = "SCRAM-SHA-512"` and the same module swap the
      * Kafka docs prescribe). Plaintext protocol only for local brokers;
      * production uses SASL_SSL. */
    def saslPlain(username: String, password: String,
                  protocol: String = "SASL_SSL",
                  mechanism: String = "PLAIN"): Map[String, String] = {
      val module =
        if (mechanism.startsWith("SCRAM")) "org.apache.kafka.common.security.scram.ScramLoginModule"
        else "org.apache.kafka.common.security.plain.PlainLoginModule"
      Map(
        "security.protocol" -> protocol,
        "sasl.mechanism" -> mechanism,
        "sasl.jaas.config" ->
          s"""$module required username="$username" password="$password";""")
    }
  }

  /** Open the raw transport: format/options/path injected, no schema
    * assumptions (file formats get tweetSchema; push transports produce
    * their own wire schema and go through [[tweetsFromPayload]]). */
  def openStream(spark: SparkSession, spec: SourceSpec): DataFrame = {
    val r = spark.readStream.format(spec.format).options(spec.options)
    val withSchema =
      if (Seq("json", "csv", "parquet").contains(spec.format)) r.schema(tweetSchema) else r
    spec.path.fold(withSchema.load())(withSchema.load)
  }

  /** Adapt a line/byte-payload transport frame (socket/kafka/kinesis/rate)
    * to the tweet contract: cast the payload column to string, JSON-parse
    * with the corrupt-record side channel, keep well-formed rows. */
  def tweetsFromPayload(raw: DataFrame, payloadCol: String = "value"): DataFrame =
    validTweets(parseTweets(raw.select(col(payloadCol).cast("string").as("value"))))

  /** S1: the tweet stream for any transport. File formats carry
    * tweetSchema natively; everything else is payload-parsed. */
  def readTweets(spark: SparkSession, spec: SourceSpec): DataFrame = {
    val raw = openStream(spark, spec)
    if (Seq("json", "csv", "parquet").contains(spec.format)) raw
    else tweetsFromPayload(raw, spec.payloadCol)
  }

  /** F1+F2: language equality + case-insensitive track match — Twitter
    * `track` semantics (`streamer.py:48`): match in the text OR in the
    * hashtag entities (# optional). */
  def trackFilter(lang: String, track: String): Column = {
    val t = track.toLowerCase.stripPrefix("#")
    col("lang") === lit(lang) && (
      lower(col("text")).contains(t) ||
        exists(col("entities.hashtags"),
          h => lower(h.getField("text")) === lit(t)))
  }

  /** The per-record data path (P1/P2/E1): filter → project → score.
    * Works on any DataFrame with tweetSchema columns, batch or stream. */
  def scoreTweets(tweets: DataFrame, lang: String, track: String): DataFrame =
    tweets
      .filter(trackFilter(lang, track))
      .select(col("text"), col("lang"), col("created_at"),
        Sentiment.score(col("text")).as("sentiment"))

  /** T2+T3 (EXT): event-time tumbling sentiment counts under a watermark —
    * the analytics the reference's README promises. Append-safe. */
  def sentimentCounts(scored: DataFrame,
                      windowLen: String = "60 seconds",
                      watermark: String = "10 minutes"): DataFrame =
    scored
      .withWatermark("created_at", watermark)
      .groupBy(window(col("created_at"), windowLen).as("w"),
        col("sentiment.label").as("label"))
      .agg(count(lit(1)).as("n_tweets"))
      .select(col("w.start").as("window_start"), col("label"), col("n_tweets"))

  /** T2+E1 (EXT): the reference's headline capability in streaming form —
    * per-hashtag windowed sentiment counts. A tweet's tags are its hashtag
    * entities plus '#'-prefixed tokens in its text, lowercased, '#'
    * stripped, per-tweet-deduplicated (the same normalization track-match
    * F2 applies). Sentiment is scored once per tweet BEFORE the tag
    * explode. Works on batch and streaming frames; append-safe under the
    * watermark. Scale shape matches batch q47: narrow score + explode,
    * partial agg collapses mentions to (window, tag) map-side. */
  def hashtagSentimentCounts(tweets: DataFrame,
                             windowLen: String = "60 seconds",
                             watermark: String = "10 minutes"): DataFrame = {
    val noTags = typedlit(Seq.empty[String])
    val textTags =
      regexp_extract_all(lower(col("text")), lit("#(\\w+)"), lit(1))
    val entityTags = coalesce(
      transform(col("entities.hashtags"), h => lower(h.getField("text"))),
      noTags)
    tweets
      .withColumn("s", Sentiment.score(col("text")))
      .select(col("created_at"), col("s"),
        explode(array_distinct(concat(textTags, entityTags))).as("hashtag"))
      .withWatermark("created_at", watermark)
      .groupBy(window(col("created_at"), windowLen).as("w"), col("hashtag"))
      .agg(count(lit(1)).as("n_tweets"),
        sum(when(col("s.label") === "POSITIVE", 1L).otherwise(0L)).as("n_positive"),
        sum(when(col("s.label") === "NEGATIVE", 1L).otherwise(0L)).as("n_negative"))
      .select(col("w.start").as("window_start"), col("hashtag"),
        col("n_tweets"), col("n_positive"), col("n_negative"))
  }

  /** T4 (EXT): streaming exact dedup by KEY under a watermark — state
    * bounded to the watermark horizon. Uses
    * `dropDuplicatesWithinWatermark` so a re-delivered record with the
    * same key but a re-stamped event time is still dropped (plain
    * `dropDuplicates(key :+ ts)` would silently keep it). */
  def dedupByKey(df: DataFrame, eventTimeCol: String, keyCols: Seq[String],
                 watermark: String = "10 minutes"): DataFrame =
    df.withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** X2 streaming twin (EXT): MinHash near-dup dedup within the watermark
    * horizon — the streaming counterpart of the batch MinHash-LSH dedup
    * (Dedup.minhashNearDup / q20). The dedup key is the full k-slot
    * MinHash signature (computed by the same native kernel as batch, one
    * code path), so a document is dropped iff a signature-identical
    * document (estimated Jaccard 1.0 — near-dup at full-signature
    * resolution) arrived within the watermark. State is one row per
    * distinct signature per horizon — bounded, like dedupByKey.
    *
    * Banded variant (drop on ANY band match, LSH recall semantics) is a
    * one-line swap of the key column for a band slice; full-signature is
    * the default because a drop is irreversible in a stream — precision
    * over recall. */
  def dedupNearMinhash(df: DataFrame, textCol: String, eventTimeCol: String,
                       watermark: String = "10 minutes",
                       k: Int = 16): DataFrame =
    df.withColumn("_mh_sig",
        array_join(graft.functions.HashExpressions.minhashSig(col(textCol), 3, k), "_"))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("_mh_sig"))
      .drop("_mh_sig")

  /** J5: stream-static enrichment join (the scalable twin of the
    * reference's per-record Comprehend RPC — dimension data joins the
    * stream via broadcast, no network call per record). */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** X15 streaming twin: admit incoming documents at the per-source
    * acceptance rates of a batch snapshot
    * ([[graft.operators.Curation.mixtureRates]]) — the intake gate that
    * keeps a continuously-ingested corpus at its target domain mixture.
    * Stateless (the md5 coin is a pure function of doc_id), so the gate
    * adds no streaming state, survives restarts with no checkpoint
    * beyond the source's, and admits exactly the rows the batch
    * resample would — batch/stream parity is testable row-for-row.
    * Documents from sources absent in the snapshot are DROPPED (inner
    * join): an unknown domain must not bypass the mixture policy. */
  def mixtureGate(stream: DataFrame, rates: DataFrame,
                  seed: Long = 42): DataFrame =
    stream.join(broadcast(rates.select(col("source"), col("rate"))), Seq("source"))
      .filter(graft.operators.Curation.mixtureCoin(col("doc_id"), seed) < col("rate"))
      .drop("rate")

  /** The composed streaming curation intake — the full batch curation
    * recipe (q95 importance → q86 mixture → q105 boilerplate scrub →
    * q19-style exact dedup → q17 quality gate) as ONE continuous job,
    * the engine's twin of the reference's single continuous stream
    * (`streamer.py:48` → `ProcessStreamData.py:12-33`):
    * [[importanceGate]] (when a snapshot is supplied) admits at the
    * batch-elected per-language thresholds, [[perplexityGate]] (when an
    * LM snapshot is supplied) admits at the batch q140 tertile-boundary
    * scores, [[mixtureGate]] admits at the snapshot's domain rates,
    * [[ruleFilterGate]] (when a rule list is supplied) drops documents
    * tripping the Gopher/C4 battery, [[spanScrubGate]] (when a gram
    * snapshot is supplied) rejects boilerplate-covered documents, and
    * [[hygieneGate]] (when `maxBadBp` ≤ 10000) drops encoding-damaged
    * documents, [[piiGate]] (when `maxPiiHits` ≥ 0) drops
    * identifier-carrying documents, and [[repetitionGate]] (when
    * `maxDup3Bp` ≤ 10000) drops
    * internally-repetitive documents — all of these run BEFORE dedup
    * state (a scrubbed-out doc must never occupy a
    * digest slot), `dropDuplicatesWithinWatermark` on the sha2 content
    * digest drops exact re-ingests (state keyed on the 32-byte hash,
    * never the body, bounded by the watermark), and the quality gate
    * scores with the same native kernel as the batch q17/q65. Appends
    * `importance_score` (when gated), `ppx_mb` (when LM-gated),
    * `span_coverage_bp` (when scrubbed), `hygiene_bp` (when
    * hygiene-gated), `pii_hits` (when PII-gated), `dup3_bp` (when
    * repetition-gated) and `quality`; otherwise
    * passthrough. Threshold boundary rule: every `max*Bp` gate admits
    * STRICTLY below its threshold (`dup3_bp < maxDup3Bp`,
    * `span_coverage_bp < maxCoverageBp`) EXCEPT [[hygieneGate]] and
    * [[piiGate]], which admit inclusively (`hygiene_bp <= maxBadBp`,
    * `pii_hits <= maxPiiHits`) so their strict
    * default 0 still passes clean documents. Everything outside
    * the dedup is stateless — broadcast literal maps and per-row
    * predicates — so the job's only state is the in-watermark digest
    * set. */
  def curatedIntake(stream: DataFrame, rates: DataFrame, eventTimeCol: String,
                    minQuality: Double = 0.2, seed: Long = 42,
                    watermark: String = "10 minutes",
                    importanceAffinity: Map[Long, Long] = Map.empty,
                    importanceThresholds: Map[String, Long] = Map.empty,
                    qualityCutoffs: Map[String, Double] = Map.empty,
                    scrubGrams: Seq[Long] = Seq.empty,
                    maxCoverageBp: Long = 5000L,
                    scrubN: Int = 5,
                    lmCosts: Map[String, Long] = Map.empty,
                    lmBase: Map[String, Long] = Map.empty,
                    ppxCutoffs: Map[String, Long] = Map.empty,
                    cleanRules: Seq[String] = Seq.empty,
                    maxDup3Bp: Long = 10001L,
                    maxBadBp: Long = 10001L,
                    maxPiiHits: Long = -1L): DataFrame = {
    require(importanceAffinity.isEmpty == importanceThresholds.isEmpty,
      "curatedIntake: supply both importance snapshots or neither")
    require(lmCosts.isEmpty == lmBase.isEmpty &&
      lmBase.isEmpty == ppxCutoffs.isEmpty,
      "curatedIntake: supply all three perplexity snapshots or none")
    val pre =
      if (importanceAffinity.nonEmpty)
        importanceGate(stream, importanceAffinity, importanceThresholds)
      else stream
    // the second content-model gate sits with the first: both are pure
    // per-row scores against broadcast snapshots
    val pre2 =
      if (lmCosts.nonEmpty) perplexityGate(pre, lmCosts, lmBase, ppxCutoffs)
      else pre
    val mixed = mixtureGate(pre2, rates, seed)
    // the stateless scrubs run before the dedup so rejected rows never
    // occupy a digest state slot; hygiene first — encoding damage
    // invalidates every downstream text score
    val hygienic =
      if (maxBadBp <= 10000L) hygieneGate(mixed, maxBadBp)
      else mixed
    // the PII gate (q197 twin) sits right after hygiene: both are
    // per-row content-safety screens that must run before any text
    // score is trusted; opt-in via maxPiiHits >= 0 (a count threshold,
    // not bp — the audit counts identifiers, not density)
    val depersonalized =
      if (maxPiiHits >= 0L) piiGate(hygienic, maxPiiHits)
      else hygienic
    val ruled =
      if (cleanRules.nonEmpty) ruleFilterGate(depersonalized, cleanRules)
      else depersonalized
    val scrubbed =
      if (scrubGrams.nonEmpty)
        spanScrubGate(ruled, scrubGrams, maxCoverageBp, scrubN)
      else ruled
    // the intra-doc repetition gate (q157 twin) is snapshot-free; the
    // default threshold 10001 admits everything (opt-in like the others)
    val derepped =
      if (maxDup3Bp <= 10000L) repetitionGate(scrubbed, maxDup3Bp)
      else scrubbed
    val deduped = derepped
      .withColumn("_h", sha2(col("text").cast("binary"), 256))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("_h"))
      .drop("_h")
    // quality floor: the per-language q99 calibration snapshot when
    // supplied (the [[calibrationGate]] policy), else the scalar gate
    if (qualityCutoffs.nonEmpty) calibrationGate(deduped, qualityCutoffs)
    else deduped
      .withColumn("quality",
        graft.operators.TextAnalysis.qualityScore(col("text")))
      .filter(col("quality") >= minQuality)
  }

  /** X23 streaming twin: importance-intake gate — scores each incoming
    * document with the SAME hashed-unigram target affinity as the batch
    * q95 selection and admits rows at or above their language's elected
    * admission threshold. A stream cannot rank, so the published contract
    * is the THRESHOLD (the batch audit's `threshold_score`): admission is
    * a pure per-row predicate, hence stateless — no streaming state, no
    * checkpoint beyond the source's. Score-tied rows at the threshold are
    * all admitted (the one divergence from batch top-`rn` ranking, and
    * the correct intake posture: never drop a row the policy scored as
    * good as an admitted one).
    *
    * The snapshot arrives as literal MAPS, not DataFrames: per-row
    * scoring must be an expression (a join back to token grain would be a
    * streaming aggregation, i.e. state), and the artifact is bounded —
    * ≤ [[graft.operators.Curation.DsirBuckets]] affinity entries plus one
    * threshold per language, kilobytes (the lexicon pattern). Buckets no
    * training token ever hit score at the Laplace prior; documents of
    * languages absent from the snapshot are DROPPED, mirroring
    * [[mixtureGate]]'s unknown-domain rule. Appends `importance_score`
    * (exact integer micro-units, the batch device). */
  def importanceGate(stream: DataFrame, affinity: Map[Long, Long],
                     thresholds: Map[String, Long]): DataFrame = {
    require(affinity.nonEmpty, "importanceGate: empty affinity snapshot")
    require(thresholds.nonEmpty, "importanceGate: empty threshold snapshot")
    val aff = typedLit(affinity)
    val th = typedLit(thresholds)
    val toks = graft.functions.TextHash.tokens(col("text"))
    val buckets = lit(graft.operators.Curation.DsirBuckets.toLong)
    stream
      .withColumn("_aff_sum", aggregate(
        transform(toks, t => coalesce(
          element_at(aff, graft.functions.TextHash.h1(t) % buckets),
          lit(graft.operators.Curation.DsirPrior))),
        lit(0L), (acc, v) => acc + v))
      .withColumn("_ntok", size(toks).cast("long"))
      .withColumn("importance_score", expr("_aff_sum DIV _ntok"))
      .drop("_aff_sum", "_ntok")
      .filter(col("importance_score") >= element_at(th, col("lang")))
  }

  /** X68 streaming twin: rule-filter intake gate — drop incoming
    * documents that trip any of the named Gopher/C4 cleaning rules
    * (default: the q143 chain's page-level subset). Entirely stateless:
    * every rule is a per-row integer/string predicate over the shared
    * whitespace token grid, evaluated by the SAME flag expressions as
    * the batch q142 audit ([[graft.operators.TextAnalysis.ruleFlags]]),
    * so batch/stream admission parity is row-exact by construction.
    * Appends `rule_violations` (count of fired rules — 0 for every
    * admitted row, retained so a downstream monitor can histogram the
    * near-misses when the gate runs in audit mode with `admitAll`). */
  def ruleFilterGate(stream: DataFrame,
                     rules: Seq[String] =
                       graft.operators.CurationPipeline.ChainRules,
                     admitAll: Boolean = false): DataFrame = {
    val out = stream.withColumn("rule_violations",
      graft.operators.TextAnalysis.ruleViolations(col("text"), rules))
    if (admitAll) out else out.filter(col("rule_violations") === 0L)
  }

  /** X67 streaming twin: perplexity-intake gate — score each incoming
    * document against the SAME reference-slice unigram LM as the batch
    * q140 filter (exact integer milli-bits, the bin()-exponent +
    * mantissa-LUT device) and admit rows at or below their language's
    * elected cutoff ([[graft.operators.TextAnalysis.perplexityCutoffs]],
    * the head+middle boundary by default). A stream cannot rank into
    * tertiles, so the published contract is the BOUNDARY SCORE — the
    * importanceGate posture exactly: admission is a pure per-row
    * predicate (stateless, no checkpoint beyond the source's), and
    * score-tied tail rows at the boundary are admitted rather than
    * dropped. The LM arrives as literal maps keyed `"lang tok"` with a
    * per-language unseen-token cost — the bounded-artifact pattern
    * (CCNet ships its reference KenLM the same way; the model is sized
    * by the curated reference slice, never the crawl). Documents of
    * languages absent from the snapshot are DROPPED (null cost base),
    * mirroring [[mixtureGate]]'s unknown-domain rule. Appends `ppx_mb`
    * (exact integer milli-bits per token, batch-identical). */
  def perplexityGate(stream: DataFrame, lmCosts: Map[String, Long],
                     lmBase: Map[String, Long],
                     cutoffs: Map[String, Long]): DataFrame = {
    require(lmCosts.nonEmpty, "perplexityGate: empty LM cost snapshot")
    require(lmBase.nonEmpty, "perplexityGate: empty LM base snapshot")
    require(cutoffs.nonEmpty, "perplexityGate: empty cutoff snapshot")
    val cm = typedLit(lmCosts)
    val bm = typedLit(lmBase)
    val cut = typedLit(cutoffs)
    val toks = graft.functions.TextHash.tokens(col("text"))
    stream
      .withColumn("_cost_sum", aggregate(
        transform(toks, t => coalesce(
          element_at(cm, concat(col("lang"), lit(" "), t)),
          element_at(bm, col("lang")))),
        lit(0L), (acc, v) => acc + v))
      .withColumn("_ntok", size(toks).cast("long"))
      .withColumn("ppx_mb", expr("_cost_sum DIV _ntok"))
      .drop("_cost_sum", "_ntok")
      .filter(col("ppx_mb") <= element_at(cut, col("lang")))
  }

  /** X67 broadcast-join variant: the same CCNet admission rule with the
    * LM snapshot as a DATAFRAME relation
    * ([[graft.operators.TextAnalysis.perplexityLmSnapshotDf]]: rows
    * (lang, tok, cost_mb) plus one (lang, NULL, cost_mb) base row per
    * language; cutoffs (lang, cutoff_mb)) instead of literal maps. This
    * is the full-scale seam: a million-type reference vocabulary ships
    * to workers as a broadcast relation, never inlining into the plan
    * as a `typedLit`. Semantics are row-identical to the map overload
    * (spec-pinned): per token, the seen cost else the language base;
    * score = cost sum DIV token count; admit `ppx_mb <= cutoff(lang)`;
    * unknown languages and empty documents drop.
    *
    * Posture: the per-document RE-aggregation after the token explode
    * makes this the batch / `foreachBatch` form of the gate (inside a
    * continuous query an unwatermarked re-group is not appendable) —
    * which is exactly how a full-scale LM would run in production:
    * score each micro-batch as a DataFrame, exactly-once via the sink
    * checkpoint. Requires a unique `doc_id` to rejoin scores. The
    * bounded-snapshot map overload remains the in-chain continuous
    * form ([[curatedIntake]]). */
  def perplexityGate(stream: DataFrame, lm: DataFrame,
                     cutoffs: DataFrame): DataFrame = {
    val costRows = lm.filter(col("tok").isNotNull)
    val baseRows = lm.filter(col("tok").isNull)
      .select(col("lang"), col("cost_mb").as("_base_mb"))
    val scored = stream
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.TextHash.tokens(col("text"))).as("tok"))
      .join(broadcast(costRows), Seq("lang", "tok"), "left")
      .join(broadcast(baseRows), Seq("lang"))
      .select(col("doc_id"),
        coalesce(col("cost_mb"), col("_base_mb")).as("_c"))
      .groupBy(col("doc_id"))
      .agg(expr("sum(_c) DIV count(1)").as("ppx_mb"))
    stream
      .join(scored, Seq("doc_id"))
      .join(broadcast(cutoffs), Seq("lang"))
      .filter(col("ppx_mb") <= col("cutoff_mb"))
      .select(stream.columns.map(col).toIndexedSeq :+ col("ppx_mb"): _*)
  }

  /** X32 streaming twin: span-scrub intake gate — reject documents whose
    * token positions are too heavily covered by KNOWN boilerplate spans.
    * The snapshot is the top-k duplicated positional-gram keys of a
    * batch corpus ([[graft.operators.TextAnalysis.spanGramSnapshot]],
    * the batch q105's heaviest offenders) as a literal map — bounded
    * (≤ k longs), so the gate is stateless like [[mixtureGate]] /
    * [[importanceGate]]. Coverage is EXACT: the positional gram stream
    * (native kernel) folds ascending flagged starts into an
    * interval-union token count — the same covered-position rule as
    * batch q105, restricted to the snapshot's grams. Appends
    * `span_coverage_bp` (integer basis points of covered tokens) and
    * admits rows strictly below `maxCoverageBp`. */
  def spanScrubGate(stream: DataFrame, dupGrams: Seq[Long],
                    maxCoverageBp: Long = 5000L, n: Int = 5): DataFrame = {
    require(dupGrams.nonEmpty, "spanScrubGate: empty gram snapshot")
    require(maxCoverageBp >= 0L && maxCoverageBp <= 10001L,
      s"spanScrubGate: maxCoverageBp out of range ($maxCoverageBp)")
    val dg = typedLit(dupGrams.map(_ -> true).toMap)
    val gh = graft.functions.HashExpressions.spanGramHashes(col("text"), n)
    // pair each positional gram with its 1-based start; fold ascending
    // starts into the exact interval-union covered-token count:
    // acc = (covered, last-covered-position)
    val pairs = zip_with(gh, sequence(lit(1L), size(gh).cast("long")),
      (g, i) => struct(g.as("g"), i.as("i")))
    val covered = aggregate(pairs,
      struct(lit(0L).as("cnt"), lit(0L).as("last")),
      (acc, p) => {
        val flagged = coalesce(element_at(dg, p.getField("g")), lit(false))
        val i = p.getField("i")
        val end = i + lit((n - 1).toLong)
        val add = greatest(lit(0L),
          end - greatest(acc.getField("last"), i - lit(1L)))
        struct(
          when(flagged, acc.getField("cnt") + add)
            .otherwise(acc.getField("cnt")).as("cnt"),
          when(flagged, greatest(acc.getField("last"), end))
            .otherwise(acc.getField("last")).as("last"))
      },
      acc => acc.getField("cnt"))
    stream
      .withColumn("_cov", when(size(gh) === 0, lit(0L)).otherwise(covered))
      .withColumn("_ntok",
        size(graft.functions.TextHash.tokens(col("text"))).cast("long"))
      .withColumn("span_coverage_bp", expr("_cov * 10000 div _ntok"))
      .drop("_cov", "_ntok")
      .filter(col("span_coverage_bp") < maxCoverageBp)
  }

  /** X83 streaming twin: intra-document repetition gate — reject
    * documents whose duplicate-trigram share meets or exceeds
    * `maxDup3Bp` (default 2500, the batch q157 'high'-band floor).
    * Stateless AND snapshot-free: the signal is intrinsic to the row,
    * so the gate is one native `gram_stats` kernel call per document —
    * the exact multiset stats of batch q157, making batch/stream
    * admission parity row-exact and testable. Appends `dup3_bp`.
    * Documents with fewer than 3 tokens carry dup3_bp = 0 and are
    * ADMITTED (nothing to repeat) — batch q157 merely EXCLUDES them
    * from its audit, but a gate must decide every row. */
  def repetitionGate(stream: DataFrame, maxDup3Bp: Long = 2500L): DataFrame = {
    require(maxDup3Bp >= 0L && maxDup3Bp <= 10001L,
      s"repetitionGate: maxDup3Bp out of range ($maxDup3Bp)")
    stream
      .withColumn("_s3",
        graft.functions.HashExpressions.gramStats(col("text"), 3))
      .withColumn("dup3_bp", expr("case when _s3[0] = 0 then cast(0 as bigint) " +
        "else (_s3[0] - _s3[1]) * 10000 div _s3[0] end"))
      .drop("_s3")
      .filter(col("dup3_bp") < maxDup3Bp)
  }

  /** X108 streaming twin: encoding-hygiene gate — drop incoming
    * documents whose bad-character density (replacement/control/NBSP/
    * zero-width occurrences per 10k characters, the q182 classes)
    * exceeds `maxBadBp`. Stateless: the count is pure length algebra
    * over four `translate` passes (the exact batch device — no regex,
    * no state), so batch/stream admission parity is row-exact and
    * testable. maxBadBp = 0 is the strict posture (any hygiene
    * character rejects); the q182 audit is how the threshold is chosen.
    * Boundary convention: this gate admits INCLUSIVELY
    * (`hygiene_bp <= maxBadBp`) so the strict default 0 still admits
    * perfectly clean documents — unlike the sibling `max*Bp` gates
    * ([[repetitionGate]], [[spanScrubGate]]), which admit strictly
    * below their thresholds. Appends `hygiene_bp`. */
  def hygieneGate(stream: DataFrame, maxBadBp: Long = 0L): DataFrame = {
    require(maxBadBp >= 0L && maxBadBp <= 10001L,
      s"hygieneGate: maxBadBp out of range ($maxBadBp)")
    val bad = graft.operators.Curation.HygieneChars
      .map { case (_, cp) =>
        val c = new String(Character.toChars(cp))
        length(col("text")) - length(translate(col("text"), c, ""))
      }
      .reduce(_ + _).cast("long")
    stream
      .withColumn("_bad", bad)
      .withColumn("hygiene_bp",
        expr("_bad * 10000 div greatest(1, length(text))"))
      .drop("_bad")
      .filter(col("hygiene_bp") <= maxBadBp)
  }

  /** X123 streaming twin: PII gate — drop incoming documents carrying
    * more than `maxPiiHits` PII matches (emails + IP-like dotted quads
    * + hyphenated phone numbers, the
    * [[graft.operators.Curation.PiiPatterns]] battery the batch q197
    * audit prices). Stateless: three codegen'd `regexp_count` calls per
    * row against the documented Java/RE2-agreeing pattern subset, so
    * batch/stream admission parity is row-exact and testable.
    * `maxPiiHits = 0` is the strict posture (any identifier rejects) —
    * like [[hygieneGate]], the boundary is INCLUSIVE so the strict
    * default still admits clean documents. Appends `pii_hits`. */
  def piiGate(stream: DataFrame, maxPiiHits: Long = 0L): DataFrame = {
    require(maxPiiHits >= 0L, s"piiGate: maxPiiHits negative ($maxPiiHits)")
    val hits = graft.operators.Curation.PiiPatterns
      .map { case (_, pat) => regexp_count(col("text"), lit(pat)).cast("long") }
      .reduce(_ + _)
    stream
      .withColumn("pii_hits", hits)
      .filter(col("pii_hits") <= maxPiiHits)
  }

  /** X123 continuous twin of the batch q197 audit: windowed PII panel —
    * per (event-time window, PII class): documents seen, documents
    * carrying ≥1 hit, and total hits, over the
    * [[graft.operators.Curation.PiiPatterns]] battery. Run alongside
    * [[piiGate]]: the gate enforces, the monitor shows what pressure
    * the gate is under (a leak upstream shows as a density step here
    * long before anyone audits the batch corpus). Stateless per row
    * (three codegen'd regexp counters, the per-class long format is a
    * 3× stack BEFORE the windowed rollup); state is one row per
    * (in-watermark window, class) — bounded regardless of volume. */
  def piiMonitor(stream: DataFrame, eventTimeCol: String,
                 windowLen: String = "1 minute",
                 watermark: String = "2 minutes"): DataFrame = {
    val pats = graft.operators.Curation.PiiPatterns.toMap
    def cnt(tag: String) =
      regexp_count(col("text"), lit(pats(tag))).cast("long")
    stream
      .select(col(eventTimeCol).as("_pii_t"), cnt("email").as("c_email"),
        cnt("ip").as("c_ip"), cnt("phone").as("c_phone"))
      .selectExpr("_pii_t",
        "stack(3, 'email', c_email, 'ip', c_ip, 'phone', c_phone) " +
          "AS (pii_class, cnt)")
      .withWatermark("_pii_t", watermark)
      .groupBy(window(col("_pii_t"), windowLen), col("pii_class"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cnt") > 0, 1L).otherwise(0L)).as("docs_hit"),
        sum(col("cnt")).as("n_hits"))
  }

  /** X26 streaming twin: per-language quality-calibration gate — admit
    * incoming documents at or above their language's batch-elected
    * quality cutoff (a decile row of
    * [[graft.operators.TextAnalysis.qualityCalibration]]) instead of one
    * global floor: "keep en above its 7th decile, de above its 4th" as a
    * continuous intake policy. Stateless — the snapshot is a ≤|langs|-
    * entry literal map and the score is the same fused native kernel as
    * batch q17/q65/q99, rounded to 6 BEFORE comparison exactly like the
    * batch cutoff election, so batch/stream admission parity is
    * row-exact and testable. Documents of languages absent from the
    * snapshot are DROPPED (null comparison), mirroring [[mixtureGate]]'s
    * unknown-domain rule. Appends the rounded `quality`. */
  def calibrationGate(stream: DataFrame,
                      cutoffs: Map[String, Double]): DataFrame = {
    require(cutoffs.nonEmpty, "calibrationGate: empty cutoff snapshot")
    val co = typedLit(cutoffs)
    stream
      .withColumn("quality",
        round(graft.operators.TextAnalysis.qualityScore(col("text")), 6))
      .filter(col("quality") >= element_at(co, col("lang")))
  }

  /** X186 streaming twin (VERDICT r16 ask #6): per-SOURCE provenance
    * gate on the batch-minted Wilson lower bound — admit incoming
    * documents whose source's 95% lower-bound quality
    * ([[graft.operators.Curation.wilsonQualityRank]]'s
    * `wilson_lb_milli`) clears the floor. The gate family's provenance
    * member: [[calibrationGate]] judges each DOCUMENT's own score,
    * this judges the EVIDENCE about where it came from — a 3/3 source
    * does not clear a 600-milli floor (its lower bound is ~439) while
    * a 95/100 source does, which is exactly the small-sample optimism the
    * raw pass rate would wave through. Stateless: the snapshot is a
    * ≤|sources|-entry literal map minted from the batch q260 table
    * (the bounded-snapshot pattern of every gate here); sources absent
    * from the snapshot are DROPPED (null comparison — a source with no
    * track record has a lower bound of nothing, the conservative
    * read, mirroring [[mixtureGate]]'s unknown-domain rule). Appends
    * the source's `wilson_lb_milli` so downstream sinks can audit the
    * admission. Batch/stream admission parity is row-exact and
    * spec-gated (the burstMonitor standard). */
  def sourceQualityGate(stream: DataFrame,
                        wilsonLbMilli: Map[String, Long],
                        floorMilli: Long = 600L): DataFrame = {
    require(wilsonLbMilli.nonEmpty, "sourceQualityGate: empty Wilson snapshot")
    val lb = typedLit(wilsonLbMilli)
    stream
      .withColumn("wilson_lb_milli", element_at(lb, col("source")))
      .filter(col("wilson_lb_milli") >= lit(floorMilli))
  }

  /** X30 streaming twin: per-event-time-window corpus datasheet — the
    * rolling intake health panel of the batch q103 report: per (window,
    * lang) docs, tokens, quality micro-mass, and an HLL distinct-text
    * estimate (keyed on the 32-byte sha digest — a streaming aggregate
    * cannot hold exact distinct sets, and the sketch state never holds
    * bodies; the batch q103 column is its exact oracle per closed
    * window). One watermark-bounded windowed aggregate; everything fed
    * to it is a stateless per-row projection (the same fused quality
    * kernel and micro-unit device as batch), so the docs/tokens/quality
    * columns are batch-exact per closed window and testable. A
    * production intake alarms on this panel: token throughput dropping,
    * quality mass sagging, or dup rate spiking mid-stream. */
  def datasheetMonitor(stream: DataFrame, eventTimeCol: String,
                       windowLen: String = "1 minute",
                       watermark: String = "2 minutes"): DataFrame =
    stream
      .withWatermark(eventTimeCol, watermark)
      .select(col(eventTimeCol), col("lang"),
        size(graft.functions.TextHash.tokens(col("text"))).cast("long").as("t"),
        round(round(graft.operators.TextAnalysis.qualityScore(col("text")), 6)
          * lit(1000000), 0).cast("long").as("qm"),
        sha2(col("text").cast("binary"), 256).as("h"))
      .groupBy(window(col(eventTimeCol), windowLen), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("t")).as("n_tokens"),
        sum(col("qm")).as("sum_q_micro"),
        approx_count_distinct(col("h")).as("n_distinct_approx"))

  /** X90 streaming twin: per-(window, type) volume-anomaly monitor —
    * the continuous form of the batch q164 panel. The baseline arrives
    * as a broadcast literal map (per-type expected count per window,
    * elected from q164's trailing-mean history — the bounded-snapshot
    * pattern of every gate here), the stream pays ONE watermark-bounded
    * windowed count, and each closed window carries its signed
    * deviation in basis points plus the ±`threshBp` anomaly flag.
    * Types absent from the baseline snapshot report dev_bp against a
    * floor of 1 (a type the baseline has never seen IS the anomaly).
    * The count/deviation columns are batch-exact per closed window and
    * testable; a production intake alarms on `anomaly = 1`. */
  def volumeMonitor(stream: DataFrame, baseline: Map[String, Long],
                    eventTimeCol: String,
                    windowLen: String = "1 minute",
                    watermark: String = "2 minutes",
                    threshBp: Long = 5000L): DataFrame = {
    require(baseline.nonEmpty, "volumeMonitor: empty baseline snapshot")
    val base = typedLit(baseline)
    stream
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("base",
        greatest(coalesce(element_at(base, col("event_type")), lit(0L)),
          lit(1L)))
      .withColumn("dev_bp",
        expr("(n_events - base) * 10000 div base"))
      .withColumn("anomaly",
        when(abs(col("dev_bp")) >= threshBp, 1L).otherwise(0L))
  }

  /** X42 streaming twin (q115): per-(window, shard) intake manifest —
    * docs, token mass, and the order-invariant `bit_xor` content
    * checksum over the same 60-bit (doc_id, sha256(text)) row signature
    * as the batch [[graft.operators.Curation.shardManifest]]. Because
    * xor is associative/commutative, folding a shard's per-window xors
    * across closed windows reproduces the batch certificate over the
    * same rows EXACTLY (spec-gated) — so an intake job can certify what
    * it ingested without ever re-reading it: the running manifest IS
    * the batch manifest of everything admitted so far. State is one row
    * per (in-watermark window, shard) — nShards rows per window,
    * independent of corpus size; everything below the aggregate is a
    * stateless per-row projection and no text bytes enter state. */
  def manifestMonitor(stream: DataFrame, eventTimeCol: String,
                      nShards: Int = 16, seed: Long = 42,
                      windowLen: String = "1 minute",
                      watermark: String = "2 minutes",
                      setWatermark: Boolean = true): DataFrame = {
    val skey = graft.functions.TextHash.h1(
      concat(lit(s"shuf:$seed:"), col("doc_id").cast("string")))
    val sig = graft.functions.TextHash.h1(
      concat(col("doc_id").cast("string"), lit(":"),
        sha2(col("text").cast("binary"), 256)))
    // composed consumers (e.g. downstream of [[curatedIntake]], which
    // already watermarks for its dedup) pass setWatermark = false and
    // inherit the upstream watermark — Spark forbids redefining one
    val wm = if (setWatermark) stream.withWatermark(eventTimeCol, watermark)
             else stream
    wm
      .select(col(eventTimeCol),
        pmod(skey, lit(nShards.toLong)).as("shard"),
        size(graft.functions.TextHash.tokens(col("text"))).cast("long").as("t"),
        sig.as("sig"))
      .groupBy(window(col(eventTimeCol), windowLen), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("sum_tokens"),
        expr("bit_xor(sig)").as("content_xor"))
  }

  /** X59 streaming twin (q132): per-(window, type, rounded-value)
    * histogram of the incoming value stream — the bounded-state way to
    * track exact percentiles on an unbounded stream: state is one row
    * per (in-watermark window, type, 0.01-grid cell), bounded by the
    * value grid, never the event count (a per-event buffer is exactly
    * what a 100 TB intake cannot hold). A closed window's cells EQUAL
    * the batch histogram over that window's rows (spec-gated), so the
    * q132 rank election run over them yields the window's exact
    * percentiles — the sketch-free SLO panel. */
  def percentileMonitor(stream: DataFrame, eventTimeCol: String,
                        windowLen: String = "1 minute",
                        watermark: String = "2 minutes"): DataFrame =
    stream
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowLen),
        col("event_type"), round(col("value"), 2).as("v"))
      .agg(count(lit(1)).as("cnt"))

  /** X36 streaming twin: per-event-time-window count-min sketch of the
    * incoming token stream — the bounded-state way to track heavy
    * hitters on an unbounded stream: state is depth×width CELLS per
    * in-watermark window (≤ [[graft.operators.TextAnalysis.CmsDepth]] ×
    * [[graft.operators.TextAnalysis.CmsWidth]] = 4096 rows per window,
    * 32 KB), never the token vocabulary — a per-token windowed count
    * would grow state with distinct tokens, which is exactly what a
    * 100 TB intake cannot hold. Cells are the same portable
    * (x1 + j·x2) mod P family as batch q109, so a closed window's
    * cells EQUAL the batch sketch over that window's rows (spec-gated)
    * and any token's estimate is the same min-over-rows read. */
  def sketchMonitor(stream: DataFrame, eventTimeCol: String,
                    windowLen: String = "1 minute",
                    watermark: String = "2 minutes"): DataFrame = {
    val P = graft.functions.TextHash.P
    val depth = graft.operators.TextAnalysis.CmsDepth
    val width = graft.operators.TextAnalysis.CmsWidth
    stream
      .withWatermark(eventTimeCol, watermark)
      .select(col(eventTimeCol),
        explode(graft.functions.TextHash.tokens(col("text"))).as("w"))
      .select(col(eventTimeCol),
        (graft.functions.TextHash.h1(col("w")) % P).as("a"),
        (graft.functions.TextHash.h2(col("w")) % P).as("b"))
      .select(col(eventTimeCol), col("a"), col("b"),
        explode(array((0 until depth).map(j => lit(j.toLong)): _*)).as("j"))
      .groupBy(window(col(eventTimeCol), windowLen), col("j"),
        (((col("a") + col("j") * col("b")) % P) % width).as("bucket"))
      .agg(count(lit(1)).as("cell"))
  }

  /** X14 streaming twin: per-event-time-window out-of-vocabulary rate of
    * the incoming token stream against a static vocabulary snapshot
    * ([[graft.operators.TextAnalysis.vocabulary]]) — the drift monitor a
    * production intake runs to notice the corpus diverging from the
    * distribution its tokenizer was built on (rising OOV = retrain
    * signal). The vocabulary broadcasts (V rows); the token explode is
    * narrow; state is one (window) aggregate bounded by the watermark. */
  def oovMonitor(stream: DataFrame, vocab: DataFrame, eventTimeCol: String,
                 windowLen: String = "1 minute",
                 watermark: String = "2 minutes"): DataFrame =
    stream
      .withWatermark(eventTimeCol, watermark)
      .select(col(eventTimeCol),
        explode(graft.functions.TextHash.tokens(col("text"))).as("w"))
      .join(broadcast(vocab.select(col("w"), lit(1).as("in_vocab"))),
        Seq("w"), "left")
      .groupBy(window(col(eventTimeCol), windowLen))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("window"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))

  /** J4 streaming twin: stream-stream inner join with event-time bounds —
    * left events join right events of the same key within
    * (0, maxGapSec] AFTER the left event. Both sides carry watermarks so
    * Spark can bound the join state (the batch twin is
    * Relational.viewToPurchase). Column contract: both frames have
    * (key, ts, …); right's columns are suffixed `_r`. */
  def streamStreamWithin(left: DataFrame, right: DataFrame, key: String,
                         tsCol: String, maxGapSec: Int,
                         watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
    val r0 = right.columns.foldLeft(right) { (df, c) =>
      df.withColumnRenamed(c, c + "_r")
    }
    val r = r0.withWatermark(tsCol + "_r", watermark)
    l.join(r,
      col(key) === col(key + "_r") &&
        col(tsCol + "_r") > col(tsCol) &&
        col(tsCol + "_r") <= col(tsCol) + expr(s"INTERVAL $maxGapSec SECONDS"))
  }

  /** K1+T1+T5: parquet sink with checkpoint, 60 s processing-time trigger
    * (`stream_processor.py:295-297`) — exactly-once end-to-end. */
  def writeParquet(df: DataFrame, path: String, checkpoint: String,
                   trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** T4 (EXT): custom keyed state via the typed
    * `KeyValueGroupedDataset.mapGroupsWithState` API — a per-user running
    * event count that accumulates ACROSS micro-batches (what no stateless
    * transform or windowed agg expresses: unbounded per-key lifetime
    * state). The reference is stateless by construction
    * (`ProcessStreamData.py:12-33`); this is the engine's custom-state
    * extension point for anything session_window/dropDuplicates can't
    * express. Use update output mode.
    *
    * `stateTtl`: by default state lives for the query's lifetime (every
    * user_id ever seen stays in the store — fine for bounded key spaces,
    * unbounded growth otherwise). Pass a duration ("1 hour") to expire a
    * key's count after that much processing-time inactivity: the key is
    * evicted (its count re-starts at 0 if it reappears), keeping the store
    * bounded for long-running deployments. */
  def runningUserCounts(events: org.apache.spark.sql.Dataset[UserEvent],
                        stateTtl: Option[String] = None)
      : org.apache.spark.sql.Dataset[UserCount] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val conf = stateTtl.fold(GroupStateTimeout.NoTimeout)(_ =>
      GroupStateTimeout.ProcessingTimeTimeout)
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserCount](conf) {
        case (uid, it, state) =>
          if (state.hasTimedOut) {
            // inactivity TTL hit: emit the final count and evict the key
            val last = state.getOption.map(_.n).getOrElse(0L)
            state.remove()
            UserCount(uid, last)
          } else {
            val prev = state.getOption.map(_.n).getOrElse(0L)
            val n = prev + it.size
            state.update(UserState(n))
            stateTtl.foreach(state.setTimeoutDuration)
            UserCount(uid, n)
          }
      }
  }

  /** T4 (EXT): the same per-user running count on Spark 4's
    * `transformWithState` — the CURRENT arbitrary-state API
    * (StatefulProcessor + typed state variables + per-state TTL), which
    * supersedes mapGroupsWithState for new code: state is named and
    * composable (multiple ValueState/ListState/MapState per processor),
    * TTL is declarative per state variable instead of hand-rolled timeout
    * dances, and the store is RocksDB-backed (required by the API;
    * [[graft.Sessions]] leaves the default store for everything else, so
    * callers opt in per query via
    * `spark.sql.streaming.stateStore.providerClass`).
    * StreamingSpec proves batch-by-batch parity with
    * [[runningUserCounts]]. */
  def runningUserCountsTws(events: org.apache.spark.sql.Dataset[UserEvent],
                           stateTtl: Option[java.time.Duration] = None)
      : org.apache.spark.sql.Dataset[UserCount] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new UserCountProcessor(stateTtl),
        TimeMode.None(), OutputMode.Update())
  }

  /** X49 streaming twin (q122): per-user journey-transition extraction —
    * keyed state holds each user's LAST event (one tiny struct per
    * active key), and every arriving batch emits the (from_type →
    * to_type) steps it completes, chaining across micro-batches through
    * the stored last event. Folding the emitted transitions reproduces
    * the batch q122 cell counts exactly (spec-gated across a batch
    * split). Events inside a batch are ordered by (event-time µs,
    * event_id) — the q122 total order; ACROSS batches the source must
    * deliver each user's events in order (the same contract every
    * stateful sequence processor carries; a replay source and the
    * per-key ordering of a keyed log both satisfy it).
    *
    * Scale: one user_id shuffle per batch; state is one (us, event_id,
    * type) struct per active key, independent of history length. */
  def transitionMonitor(events: org.apache.spark.sql.Dataset[SeqEvent])
      : org.apache.spark.sql.Dataset[TransitionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, TransitionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, it, state) =>
          val sorted = it.toSeq.sortBy(e => (e.us, e.event_id))
          val chain = state.getOption
            .map(l => SeqEvent(uid, l.us, l.event_id, l.event_type)).toSeq ++ sorted
          chain.lastOption.foreach(last =>
            state.update(LastEvent(last.us, last.event_id, last.event_type)))
          chain.zip(chain.drop(1))
            .map { case (a, b) => TransitionOut(uid, a.event_type, b.event_type) }
            .iterator
      }
  }

  /** X156 streaming twin (q230): per-type ingestion-gap detection —
    * keyed state holds each event type's LAST seen hour cell; when
    * traffic resumes after ≥1 silent hour, the monitor emits the closed
    * gap (first missing hour, run length), chaining across micro-batches
    * through the stored high-water mark. Folding the emitted rows
    * reproduces the batch q230 INTERIOR gap runs (`n_gap_runs` minus its
    * head/tail terms, `max_gap_hours` likewise) over the same cells —
    * spec-gated across a batch split. Head/tail gaps against the global
    * grid are batch-only reads by construction: a stream cannot know
    * mid-run that an edge hour will never arrive.
    *
    * Input is the (event_type, hour) cell stream (callers collapse raw
    * events with the same µs div 3600·10⁶ rule as the batch audit); the
    * per-type ordering contract is the [[transitionMonitor]] one.
    *
    * Scale: one event_type shuffle per batch; state is ONE long per
    * type, independent of history length; emitted rows are one per
    * closed gap, never per event. */
  def gapMonitor(cells: org.apache.spark.sql.Dataset[HourCell])
      : org.apache.spark.sql.Dataset[GapOut] = {
    import cells.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    cells.groupByKey(_.event_type)
      .flatMapGroupsWithState[HourSeen, GapOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (t, it, state) =>
          val hours = it.map(_.h).toSeq.distinct.sorted
          val prev = state.getOption.map(_.last_h)
          // Replay/late cells at or below the stored high-water mark are
          // ignored: chaining them would break monotonicity, mint a
          // phantom gap against the mark, and regress the mark itself.
          val fresh = prev.fold(hours)(p => hours.filter(_ > p))
          val chain = prev.toSeq ++ fresh
          chain.lastOption.foreach(h => state.update(HourSeen(h)))
          chain.zip(chain.drop(1)).collect {
            case (a, b) if b - a > 1 => GapOut(t, a + 1, b - a - 1)
          }.iterator
      }
  }

  /** X154 streaming twin (q228): the two-sided CUSUM walk as a live
    * monitor — keyed state holds each type's (S⁺, S⁻); every closed-day
    * count moves the walk by its deviation from a FIXED baseline target
    * and emits the updated statistics with alarm flags once a side
    * crosses `hFactor`·target. The deliberate difference from the
    * batch audit, documented like [[volumeMonitor]] vs q164: q228
    * centers retrospectively on the realized series mean (it can — it
    * sees the whole series), the monitor centers on the operator-
    * supplied baseline because a stream cannot know its future mean.
    * With the same target, a batch fold over the same closed-day cells
    * reproduces the emitted walk EXACTLY (spec-gated across a batch
    * split) — so the alarm log doubles as an audit trail.
    *
    * Input is the closed-day (type, day, count) cell stream (the
    * output grain of a daily windowed count); per-type day order is
    * the [[transitionMonitor]] ordering contract.
    *
    * Scale: one event_type shuffle per batch; state is two longs per
    * type, independent of history; emissions are one row per closed
    * day-cell, never per event. */
  /** X174 streaming twin (q248): the error-budget burn walk as a live
    * monitor — one global state (last closed day, cumulative counts,
    * the trailing 6-day ring) chained across micro-batches. Input is
    * the closed-day (events, errors) cell stream (the output grain of
    * a daily windowed count); silent days zero-fill exactly as the
    * batch grid does; replayed days at or below the stored mark are
    * ignored (the gapMonitor clamp rule). Because every q248 window is
    * TRAILING, the folded emissions equal the batch rows verbatim for
    * every closed day — no head/tail divergence at all (spec-gated
    * across a batch split), so the alert log doubles as the audit
    * trail.
    *
    * Scale: state is three longs plus a ≤6-pair ring regardless of
    * history; one row per closed day. */
  def burnMonitor(cells: org.apache.spark.sql.Dataset[BudgetCell],
                  budgetBp: Long = 2500L)
      : org.apache.spark.sql.Dataset[BurnOut] = {
    require(budgetBp > 0, s"burnMonitor: budget must be positive ($budgetBp)")
    import cells.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    cells.groupByKey(_ => "all")
      .flatMapGroupsWithState[BurnState, BurnOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state) =>
          val st0 = state.getOption
          val all = it.toSeq
          val fresh = st0.fold(all)(s => all.filter(_.day_idx > s.last_day))
          if (fresh.isEmpty) Iterator.empty
          else {
            val byDay = fresh.groupBy(_.day_idx).view
              .mapValues(cs => (cs.map(_.n).sum, cs.map(_.e).sum)).toMap
            val d0 = st0.map(_.last_day + 1).getOrElse(byDay.keys.min)
            val dMax = byDay.keys.max
            var cumN = st0.map(_.cum_n).getOrElse(0L)
            var cumE = st0.map(_.cum_e).getOrElse(0L)
            var ring = st0.map(_.ring.toVector).getOrElse(Vector.empty)
            val out = Seq.newBuilder[BurnOut]
            var d = d0
            while (d <= dMax) {
              val (n, e) = byDay.getOrElse(d, (0L, 0L))
              val (n7, e7) = ring.foldLeft((n, e)) {
                case ((an, ae), (rn, re)) => (an + rn, ae + re)
              }
              cumN += n; cumE += e
              val rate = if (n > 0) e * 10000L / n else 0L
              val burn1 = if (n > 0) e * 10000L / n * 100L / budgetBp else 0L
              val rate7 = if (n7 > 0) e7 * 10000L / n7 else 0L
              val burn7 =
                if (n7 > 0) e7 * 10000L / n7 * 100L / budgetBp else 0L
              val cumBurn =
                if (cumN > 0) cumE * 10000L / cumN * 100L / budgetBp else 0L
              out += BurnOut(d, n, e, rate, burn1, rate7, burn7, cumBurn,
                burn1 >= 200L && burn7 >= 100L)
              ring = (ring :+ (n, e)).takeRight(6)
              d += 1
            }
            state.update(BurnState(dMax, cumN, cumE, ring))
            out.result().iterator
          }
      }
  }

  /** X129 streaming twin (q203): the decayed-baseline burst walk as a
    * live monitor — per-type keyed state (last closed day, days
    * ingested, the 7-slot dyadic ring) chained across micro-batches.
    * Input is the closed-day (type, day, count) cell stream (the
    * output grain of a daily windowed count, per type from the
    * series' first grid day — the q228 contract); silent days
    * zero-fill exactly as the batch dense grid does, and a silent day
    * genuinely decays the ring toward zero. Scoring replays the batch
    * rules verbatim: a day is scored only once a full prior week
    * exists (the batch `rn > 7` head rule), baseline = Σ wₖ·c₍d₋ₖ₎
    * over [[graft.operators.EventAnalytics.BurstWeights]]
    * (64…1, denominator 127), burst = c·127 > 2·b, quiet = c·127·5 <
    * b, and a burst from silence carries the −1 ratio sentinel. The
    * per-day emissions fold to the batch q203 panel EXACTLY across
    * any batch split (spec-gated), so the alert log doubles as the
    * audit trail. Replayed days at or below the stored mark are
    * ignored (the gapMonitor clamp rule).
    *
    * Scale: state is two longs plus a ≤7-slot ring per type
    * regardless of history; one event_type shuffle per batch over
    * day-grain cells (never per event); one row per scored day. */
  def burstMonitor(cells: org.apache.spark.sql.Dataset[DayCount])
      : org.apache.spark.sql.Dataset[BurstOut] = {
    import cells.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val weights = graft.operators.EventAnalytics.BurstWeights
    cells.groupByKey(_.event_type)
      .flatMapGroupsWithState[BurstState, BurstOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (t, it, state) =>
          val st0 = state.getOption
          val all = it.toSeq
          val fresh = st0.fold(all)(s => all.filter(_.day_idx > s.last_day))
          if (fresh.isEmpty) Iterator.empty
          else {
            val byDay = fresh.groupBy(_.day_idx).view
              .mapValues(_.map(_.c).sum).toMap
            val d0 = st0.map(_.last_day + 1).getOrElse(byDay.keys.min)
            val dMax = byDay.keys.max
            var nDays = st0.map(_.n_days).getOrElse(0L)
            var ring = st0.map(_.ring.toVector).getOrElse(Vector.empty)
            val out = Seq.newBuilder[BurstOut]
            var d = d0
            while (d <= dMax) {
              val c = byDay.getOrElse(d, 0L)
              nDays += 1
              if (nDays > 7) {
                val b = ring.zip(weights).map { case (rc, w) => rc * w }.sum
                val ratio =
                  if (b == 0L) { if (c == 0L) 10000L else -1L }
                  else c * 127L * 10000L / b
                out += BurstOut(t, d, c, b, ratio,
                  c * 127L > b * 2L, c * 127L * 5L < b)
              }
              ring = (c +: ring).take(7)
              d += 1
            }
            state.update(BurstState(dMax, nDays, ring))
            out.result().iterator
          }
      }
  }

  def cusumMonitor(cells: org.apache.spark.sql.Dataset[DayCount],
                   target: Map[String, Long],
                   hFactor: Long = 4L)
      : org.apache.spark.sql.Dataset[CusumOut] = {
    require(target.nonEmpty, "cusumMonitor: empty baseline target map")
    require(hFactor > 0, s"cusumMonitor: hFactor must be positive ($hFactor)")
    import cells.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    cells.groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (t, it, state) =>
          val tgt = math.max(target.getOrElse(t, 1L), 1L)
          val h = hFactor * tgt
          val st0 = state.getOption.getOrElse(CusumState(0L, 0L))
          var su = st0.su
          var sd = st0.sd
          val out = it.toSeq.sortBy(_.day_idx).map { cell =>
            val dev = cell.c - tgt
            su = math.max(0L, su + dev)
            sd = math.max(0L, sd - dev)
            CusumOut(t, cell.day_idx, su, sd, su >= h, sd >= h)
          }
          state.update(CusumState(su, sd))
          out.iterator
      }
  }

  /** X199 streaming twin (q273): the EWMA control chart as a live
    * monitor — keyed state holds each type's smoothed level z; every
    * closed-day count moves it by the dyadic λ = 1/4 step
    * (z' = (1000·c + 3·z) div 4, the batch walk verbatim) and emits
    * the updated level with the squared-threshold 3σ_z alarm flags
    * against the batch-minted Phase-I snapshot (μ_milli, σ²_milli²
    * per type — [[graft.operators.EventAnalytics.ewmaChart]]'s
    * `mu_milli`/`var_milli2` columns, the bounded-snapshot pattern of
    * every gate here). The monitor applies the limits from its first
    * day — in production the deployed snapshot IS Phase I, so its
    * whole stream is Phase II; fed the batch fixture's full span it
    * reproduces the batch walk's z sequence EXACTLY and flags exactly
    * the batch's Phase-II alarm days (spec-gated across a batch
    * split). Types absent from the snapshot are DROPPED — a type
    * Phase I never saw has no limits to score against (the
    * [[calibrationGate]] unknown-key rule). Per-type day order is the
    * [[transitionMonitor]] ordering contract.
    *
    * Scale: one event_type shuffle per batch; state is ONE long per
    * type regardless of history; emissions are one row per closed
    * day-cell, never per event. */
  def ewmaMonitor(cells: org.apache.spark.sql.Dataset[DayCount],
                  muMilli: Map[String, Long],
                  varMilli2: Map[String, Long])
      : org.apache.spark.sql.Dataset[EwmaOut] = {
    require(muMilli.nonEmpty, "ewmaMonitor: empty Phase-I mean snapshot")
    require(muMilli.keySet == varMilli2.keySet,
      "ewmaMonitor: mean and variance snapshots must cover the same types")
    import cells.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    cells.groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (t, it, state) =>
          (muMilli.get(t), varMilli2.get(t)) match {
            case (Some(mu), Some(v2)) =>
              var z = state.getOption.map(_.z).getOrElse(mu)
              val out = it.toSeq.sortBy(_.day_idx).map { cell =>
                z = (1000L * cell.c + 3L * z) / 4L
                val dev = BigInt(z - mu)
                val breach = 7 * dev * dev > 9 * BigInt(v2)
                EwmaOut(t, cell.day_idx, cell.c, z,
                  z > mu && breach, z < mu && breach)
              }
              state.update(EwmaState(z))
              out.iterator
            case _ => Iterator.empty
          }
      }
  }

  /** X159 streaming twin (q233): live peak-concurrency capacity monitor —
    * one global prefix-sum walk over the ±1 session delta cells, chained
    * across micro-batches through (last closed day, entering
    * concurrency) state. Input is the closed-day minute-cell stream
    * (callers fan each closed session [m0, m1] into +1 at m0 and −1 at
    * m1+1 and forward a day's cells once its window closes — the same
    * rule as the batch audit); per-day emission carries the day's peak,
    * its first peak minute, session starts and the over-capacity flag
    * against the supplied threshold. The batch sentinel rule is
    * replayed exactly (every day gets a minute-0 cell, so a silent or
    * cell-less day reads peak = entering concurrency at minute 0), and
    * the walk folds to the batch q233 rows over the same sessions —
    * spec-gated across a batch split. Deliberate batch-only reads, the
    * gapMonitor head/tail rule: the batch knows the global day span, so
    * a close-delta landing after the last session-END day (a session
    * ending at 23:59) is a batch-filtered tail row the stream still
    * emits; the spec compares on the batch's span. Replayed days at or
    * below the stored mark are ignored (the gapMonitor clamp rule).
    *
    * Scale: state is TWO longs regardless of history; cells are
    * calendar-bounded (≤1441 per day at ANY corpus scale — they are the
    * output grain of an upstream windowed collapse), so the single
    * logical key is a monitor-sized walk, never a corpus shuffle;
    * emissions are one row per closed day. */
  def concurrencyMonitor(cells: org.apache.spark.sql.Dataset[MinuteCell],
                         capacity: Long)
      : org.apache.spark.sql.Dataset[ConcurrencyOut] = {
    require(capacity > 0, s"concurrencyMonitor: capacity must be positive ($capacity)")
    import cells.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    cells.groupByKey(_ => "all")
      .flatMapGroupsWithState[ConcurrencyState, ConcurrencyOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state) =>
          val st0 = state.getOption
          val fresh = {
            val all = it.toSeq
            st0.fold(all)(s => all.filter(_.day_idx > s.last_day))
          }
          if (fresh.isEmpty) Iterator.empty
          else {
            val byDay = fresh.groupBy(_.day_idx)
            val d0 = st0.map(_.last_day + 1).getOrElse(byDay.keys.min)
            val dMax = byDay.keys.max
            var entering = st0.map(_.entering).getOrElse(0L)
            val out = Seq.newBuilder[ConcurrencyOut]
            var d = d0
            while (d <= dMax) {
              val dc = byDay.getOrElse(d, Seq.empty)
              val m0 = d * 1440L
              val merged = (if (dc.exists(_.m == m0)) dc
                            else MinuteCell(d, m0, 0L, 0L) +: dc)
                .groupBy(_.m).view
                .mapValues(cs => cs.map(_.net).sum).toSeq.sortBy(_._1)
              var cur = entering
              var peak = Long.MinValue
              var peakM = 0L
              merged.foreach { case (m, net) =>
                cur += net
                if (cur > peak) { peak = cur; peakM = m % 1440L }
              }
              out += ConcurrencyOut(d, dc.map(_.opens).sum, peak, peakM,
                peak > capacity)
              entering = cur
              d += 1
            }
            state.update(ConcurrencyState(dMax, entering))
            out.result().iterator
          }
      }
  }

  /** T4 (EXT): sessionization via the typed
    * `flatMapGroupsWithState` API with EventTimeTimeout — the custom-state
    * twin of the built-in `session_window` (q28), for when per-session
    * logic outgrows an aggregate (emit 0..n rows per key per batch, carry
    * arbitrary state). Semantics match the batch operator exactly: events
    * merge into the open session while `ts − last ≤ gap` (an event landing
    * EXACTLY at the session end merges, as session_window does); a later
    * event closes it and opens a new one; the watermark passing
    * `last + gap` closes it by timeout. Emits one
    * (user_id, session_start, n_events) row per CLOSED session — identical
    * rows to the batch session_window aggregate once the watermark passes.
    *
    * Scale: state is one open session per active key (two longs + count),
    * bounded by the timeout; the shuffle is the same single user_id hash
    * partition as the built-in. Append output mode. */
  def sessionize(events: org.apache.spark.sql.Dataset[UserEvent],
                 gapSec: Long = 600L,
                 watermark: String = "10 minutes")
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        case (uid, it, state) =>
          def emit(s: OpenSession): SessionOut =
            SessionOut(uid, new java.sql.Timestamp(s.startMs), s.n)
          if (state.hasTimedOut) {
            val out = state.getOption.map(emit).toList
            state.remove()
            out.iterator
          } else {
            val ts = it.map(_.ts.getTime).toArray.sorted
            var open = state.getOption.orNull
            val closed = List.newBuilder[SessionOut]
            ts.foreach { t =>
              if (open == null) open = OpenSession(t, t, 1L)
              else if (t - open.lastMs <= gapSec * 1000L)
                open = OpenSession(open.startMs, math.max(open.lastMs, t), open.n + 1L)
              else { closed += emit(open); open = OpenSession(t, t, 1L) }
            }
            if (open != null) {
              state.update(open)
              // close when the watermark passes the inactivity horizon
              state.setTimeoutTimestamp(open.lastMs + gapSec * 1000L + 1L)
            }
            closed.result().iterator
          }
      }
  }

  /** X3/T4 (EXT): STREAMING similarity search — the online-serving twin
    * of the batch brute cosine top-k (q23): QUERY vectors arrive as a
    * stream and score against the static corpus (EDBT'19's streaming
    * similarity-search shape, PAPERS.md). Per micro-batch: stream-static
    * inner join (the static side's norms fold into the scan projection —
    * at scale the corpus side is the broadcast/bucketed static relation,
    * the stream never accumulates state beyond the running top-k
    * aggregate), cosine via the native DotProduct kernel, ranking via the
    * same bounded-heap TopKHits aggregate as batch. Emit in update or
    * complete mode; each query's row set equals the batch operator's
    * answer (StreamingSpec proves equality against q23's rows).
    * Returns (query_id, hits: array<struct<cosine, vec_id>>) — explode
    * downstream of the sink; a Generate above a streaming agg is not
    * allowed inside the continuous plan. */
  /** X34 streaming twin: per-event-time-window embedding drift monitor —
    * the rolling q107: for each (window, label), the cosine between the
    * window's incoming centroid and the BATCH centroid snapshot
    * (`snapshot`: label → per-dim centroid array, broadcast — the q36
    * artifact). The monitor a continuous embedding intake runs to catch
    * encoder drift between re-embeds: a label whose window cosine falls
    * below ~1 is drifting from its corpus-of-record. State is one
    * [[graft.functions.VectorMean]] accumulator per (window, label) —
    * bounded by labels × in-watermark windows, never the stream. The
    * same integer device as batch q107: both centroids pin to the
    * rounded 1e-4 grid, so the cosine is deterministic arithmetic over
    * exact integers (one correctly-rounded sqrt). */
  def driftMonitor(stream: DataFrame, snapshot: DataFrame,
                   eventTimeCol: String,
                   windowLen: String = "1 minute",
                   watermark: String = "2 minutes"): DataFrame = {
    val mean = udaf(graft.functions.VectorMean)
    val snap = snapshot.select(col("label").cast("long").as("label"),
      col("centroid").cast("array<double>").as("cv"))
    stream
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowLen),
        col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        mean(col("embedding").cast("array<double>")).as("c"))
      .join(broadcast(snap), Seq("label"))
      .select(col("window"), col("label"), col("n_vecs"),
        transform(col("c"),
          v => (round(round(v, 4) * 10000, 0)).cast("long")).as("a"),
        transform(col("cv"),
          v => (round(round(v, 4) * 10000, 0)).cast("long")).as("b"))
      .select(col("window"), col("label"), col("n_vecs"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0L), (acc, v) => acc + v).as("dot_e8"),
        aggregate(transform(col("a"), x => x * x),
          lit(0L), (acc, v) => acc + v).as("na_e8"),
        aggregate(transform(col("b"), x => x * x),
          lit(0L), (acc, v) => acc + v).as("nb_e8"))
      .select(col("window"), col("label"), col("n_vecs"),
        round(col("dot_e8") /
          (sqrt(col("na_e8").cast("double")) * sqrt(col("nb_e8").cast("double"))),
          6).as("cos_to_snapshot"))
  }

  def cosineTopKStream(queries: DataFrame, corpus: DataFrame,
                       k: Int = 10): DataFrame = {
    import graft.functions.HashExpressions.dotProduct
    val c = corpus.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dotProduct(col("v"), col("v"))))
    val q = queries.select(col("query_id"),
        col("qv").cast("array<double>").as("qv"))
      .withColumn("qnrm", sqrt(dotProduct(col("qv"), col("qv"))))
    val topk = udaf(new graft.functions.TopKHits(k))
    q.join(c, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dotProduct(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 6)
          .as("cosine"))
      .groupBy(col("query_id"))
      .agg(topk(col("cosine"), col("vec_id")).as("hits"))
  }

  /** T4/X6 (EXT): STREAMING sequence packing — the twin of the batch
    * [[graft.operators.Packing.packContexts]] (q71) for a tokenizer feed
    * that packs documents into fixed-size contexts AS THEY ARRIVE. State
    * per (lang, shard) is ONE long (the running token count), so the
    * store is bounded by the shard fan-out, never the corpus; each doc
    * is assigned its context window the moment it streams through.
    * Within a micro-batch the group packs in doc_id order; across
    * batches, parity with the batch operator holds for in-doc_id-order
    * delivery (the natural order of a snapshot replay — StreamingSpec
    * proves batch-boundary-invariant equality, including state carrying
    * a partially-filled context across batches). */
  def packStream(docs: org.apache.spark.sql.Dataset[PackDoc],
                 ctxLen: Int = 512, nShards: Int = 8)
      : org.apache.spark.sql.Dataset[PackOut] = {
    require(ctxLen > 0 && nShards > 0)
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    docs.groupByKey(d => (d.lang, d.doc_id % nShards))
      .flatMapGroupsWithState[PackState, PackOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case ((lang, shard), it, state) =>
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val out = it.toArray.sortBy(_.doc_id).map { d =>
            val start = cum
            cum += d.n_tokens
            PackOut(d.doc_id, lang, shard, d.n_tokens, cum,
              start / ctxLen, (cum - 1) / ctxLen)
          }
          state.update(PackState(cum))
          out.iterator
      }
  }

  /** J4+/T4 (EXT): streaming as-of enrichment — each view is emitted with
    * the latest purchase value by the same user at-or-before it, the
    * streaming twin of the batch as-of join (q51). State per user is ONE
    * (epoch, value) pair: purchases fold into it (same-second purchases
    * keep the max, like the batch pre-aggregate; an out-of-order purchase
    * older than the state is ignored), views read it. Events inside a
    * micro-batch are processed in (epoch, purchase-first) order, so the
    * inclusive same-second semantics match the batch operator; across
    * batches, parity holds for in-timestamp-order delivery (the
    * state-vs-view epoch guard turns a late view into a null rather than
    * a wrong forward-looking match).
    *
    * `stateTtl` mirrors [[runningUserCounts]]: opt-in processing-time
    * eviction bounds state for long-running deployments. */
  def asofEnrich(events: org.apache.spark.sql.Dataset[AsofEvent],
                 stateTtl: Option[String] = None)
      : org.apache.spark.sql.Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val timeout = if (stateTtl.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofLatest, AsofOut](
        OutputMode.Append(), timeout) {
        case (_, _, state) if state.hasTimedOut =>
          state.remove()
          Iterator.empty
        case (uid, it, state) =>
          val evs = it.toArray.sortBy(e =>
            (e.epoch, if (e.event_type == "purchase") 0 else 1))
          var cur = state.getOption.orNull
          val out = List.newBuilder[AsofOut]
          evs.foreach { e =>
            if (e.event_type == "purchase") {
              cur =
                if (cur == null || e.epoch > cur.epoch) AsofLatest(e.epoch, e.value)
                else if (e.epoch == cur.epoch)
                  AsofLatest(e.epoch, math.max(cur.value, e.value))
                else cur
            } else if (e.event_type == "view") {
              out += AsofOut(e.event_id, uid, e.epoch,
                if (cur != null && cur.epoch <= e.epoch) Some(cur.value) else None)
            }
          }
          if (cur != null) {
            state.update(cur)
            stateTtl.foreach(state.setTimeoutDuration)
          }
          out.result().iterator
      }
  }

  /** K2: console sink — the reference's print-everything debug path
    * (`streamer.py:27-29`); debugging only, never a data path. */
  def writeConsole(df: DataFrame,
                   trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery =
    df.writeStream.format("console").outputMode("append")
      .trigger(trigger).start()

  /** S3: `foreachBatch` intake — the Firehose-Lambda batch shape
    * (`ProcessStreamData.py:12-16`) for sinks Spark lacks natively.
    * The batch function receives (micro-batch DF, batchId) exactly like
    * `lambda_handler(event, context)` received a record batch. */
  def writeForeachBatch(df: DataFrame, checkpoint: String,
                        trigger: Trigger)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch(f)
      .start()

  /** K1+F3 (dead-letter): twin of Firehose's `processing-failed/` prefix
    * (`stream_processor.py:310-312`) — records that exhaust parsing land
    * in a quarantine path instead of vanishing. One `foreachBatch` query
    * routes each micro-batch both ways: well-formed rows append to the
    * data path, malformed raw payloads go under
    * `quarantinePath/ingest_batch=<batchId>` so an operator can replay a
    * specific failed batch, exactly as the S3 prefix + delivery-stream-id
    * layout allows.
    *
    * Exactly-once under replay: `foreachBatch` re-runs a batch after a
    * crash with the SAME batchId, so both writes target a deterministic
    * `ingest_batch=<id>` directory in overwrite mode — a replayed batch
    * rewrites its own partition instead of duplicating rows. The input is
    * the PARSED frame ([[parseTweets]] output, corrupt side channel
    * intact); the batch is persisted once and split, so the transport is
    * read once per micro-batch, not twice.
    *
    * Quarantine directories appear only for batches that actually had
    * failures (the Firehose prefix also only receives objects on
    * delivery failure) — an empty quarantine listing means a clean run. */
  def writeWithDeadLetter(parsed: DataFrame, dataPath: String,
                          quarantinePath: String, checkpoint: String,
                          trigger: Trigger = Trigger.ProcessingTime("60 seconds"))
      : StreamingQuery =
    writeForeachBatch(parsed, checkpoint, trigger) { (batch, id) =>
      val b = batch.persist()
      try {
        validTweets(b).write.mode("overwrite")
          .parquet(s"$dataPath/ingest_batch=$id")
        val bad = corruptRecords(b)
        if (!bad.isEmpty)
          bad.write.mode("overwrite")
            .parquet(s"$quarantinePath/ingest_batch=$id")
      } finally b.unpersist()
    }
}
