package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet scans over the driver test tables (`TESTDATA.md`).
  *
  * Twin of the reference's sources (SURVEY.md §2.1): the push-based tweet
  * stream (`streamer.py:41-48`) is replayed here as columnar Parquet scans;
  * the streaming twin lives in [[graft.streaming.Pipeline]].
  *
  * Scale posture: a plain `spark.read.parquet` is the right 100 TB shape —
  * Catalyst pushes predicates into row-group pruning and prunes columns, so
  * every query below only pays for the columns/rows it touches. No collect:
  * the loaders stay lazy plan fragments.
  */
object Tables {
  /** Resolved once per session: a [[PlanCache.relation]] entry. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    PlanCache.relation(spark, s"table:$dir/$name.parquet")(
      spark.read.parquet(s"$dir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** Schema-on-read loader for `events` — the physical encoding of `ts`
    * has changed across testdata generations (parquet TIMESTAMP(NANOS),
    * then timestamp[us]), and the reference never declares a schema at all
    * (`streamer.py:26` parses JSON untyped), so this loader adapts to
    * whatever the footer says instead of pinning one encoding:
    *  - LongType: the legacy TIMESTAMP(NANOS) path — Spark 4 rejects ns
    *    timestamps (PARQUET_TYPE_ILLEGAL) so the nanosAsLong flag reads
    *    raw int64 nanos; truncate to µs like Spark does for ns inputs.
    *  - TIMESTAMP_NTZ (timestamp[us], no tz): the wall-clock values ARE
    *    UTC instants, so re-zone the NTZ wall time from UTC into the
    *    session zone BEFORE the TimestampType cast — a bare cast would
    *    interpret the wall clock in the session zone and shift every
    *    instant under a non-UTC user-supplied session (the two physical
    *    encodings must read identically under ANY session zone, like the
    *    zone-independent timestamp_micros branch).
    *  - TimestampType: already what downstream expects — pass through. */
  def events(s: SparkSession, d: String): DataFrame = {
    // Sessions.local sets the legacy-ns flag at build time; for a
    // user-supplied session the loader must NOT silently rewrite conf
    // unless the footer actually requires it. The flag is consulted at
    // schema inference AND again when the scan builds its per-file
    // readers, so on the ns path it has to stay set for the life of the
    // plan — but µs/TIMESTAMP-encoded generations take the probe's happy
    // path and leave caller conf untouched.
    val raw =
      try table(s, d, "events")
      catch {
        case e: Throwable if isNanosRejection(e) =>
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          table(s, d, "events")
      }
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          expr("convert_timezone('UTC', current_timezone(), ts)")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  /** True iff the failure is Spark 4 refusing a TIMESTAMP(NANOS) parquet
    * column (ILLEGAL_PARQUET_TYPE) — the one case where setting
    * `spark.sql.legacy.parquet.nanosAsLong` is the documented remedy. */
  private def isNanosRejection(e: Throwable): Boolean = {
    val m = Option(e.getMessage).getOrElse("")
    m.contains("ILLEGAL_PARQUET_TYPE") || m.contains("Illegal Parquet type") ||
    m.contains("nanosAsLong") ||
    (e.getCause != null && e.getCause.ne(e) && isNanosRejection(e.getCause))
  }

  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
