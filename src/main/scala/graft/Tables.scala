package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.footers
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.StructType

/** Parquet scans over the driver test tables (`TESTDATA.md`).
  *
  * Twin of the reference's sources (SURVEY.md §2.1): the push-based tweet
  * stream (`streamer.py:41-48`) is replayed here as columnar Parquet scans;
  * the streaming twin lives in [[graft.streaming.Pipeline]].
  *
  * Resolving a table launches no Spark job. Spark's own schema inference
  * runs one job per table per session; here the driver reads the footer
  * Spark's inference would pick (a `_common_metadata` summary, else
  * `_metadata`, else the first data file by path) and converts it with
  * Spark's converter (`ParquetFileFormat.readSchema`), and the relation is
  * `spark.read.schema(pinned).parquet(path)`. The schema is pinned once
  * per JVM, across sessions and SparkContexts:
  *  - key: the qualified path plus the five flags the converter reads
  *    (`binaryAsString`, `int96AsTimestamp`, `inferTimestampNTZ`,
  *    `nanosAsLong`, `respectUnknownTypeAnnotation`);
  *  - value: a stamp (path, length and modification time of every file
  *    the table lists, from Hadoop `getFileStatus`/`listStatus`, never
  *    owner or permission, which fork `ls` on the local filesystem) and
  *    the `StructType`. A stale stamp replaces the entry, so the map
  *    grows with the number of paths, not of rewrites, and it holds no
  *    session, DataFrame or plan.
  * With `spark.sql.parquet.mergeSchema` on, or for a path that does not
  * exist or has no footer, the read is a plain `spark.read.parquet`, so
  * Spark merges schemas or raises its own error.
  *
  * Scale posture: the pinned read plans the same scan as an inferred one —
  * Catalyst pushes predicates into row-group pruning and prunes columns, so
  * every query below only pays for the columns/rows it touches, and one
  * footer is read whatever the table's size. No collect: the loaders stay
  * lazy plan fragments.
  */
object Tables {
  /** Resolved once per session: a [[PlanCache.relation]] entry. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    PlanCache.relation(spark, s"table:$path")(pinnedSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    })
  }

  private final case class Pin(stamp: Seq[(String, Long, Long)], schema: StructType)

  private val pins = scala.collection.concurrent.TrieMap.empty[(String, Seq[Boolean]), Pin]

  /** The schema Spark would infer for the parquet table at `path`, read
    * from its footer on the driver and pinned for the JVM; `None` when
    * schemas are merged or there is no footer to read. */
  private[graft] def pinnedSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = bridge.sqlConf(spark)
    val hadoop = bridge.newHadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(hadoop)
    if (conf.isParquetSchemaMergingEnabled || !fs.exists(root)) None
    else {
      val files = leaves(fs, fs.getFileStatus(root)).sortBy(_.getPath.toString)
      val key = (fs.makeQualified(root).toString, Seq(conf.isParquetBinaryAsString,
        conf.isParquetINT96AsTimestamp, conf.parquetInferTimestampNTZEnabled,
        conf.legacyParquetNanosAsLong, conf.parquetReaderRespectUnknownTypeAnnotation))
      val stamp = files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      pins.get(key).filter(_.stamp == stamp).map(_.schema).orElse {
        def named(n: String) = files.find(_.getPath.getName == n)
        val footer = named("_common_metadata").orElse(named("_metadata"))
          .orElse(files.find(f => !summaryFiles(f.getPath.getName)))
        val schema = footers.schema(spark, hadoop, footer.toSeq, conf.ignoreCorruptFiles)
        schema.foreach(s => pins.put(key, Pin(stamp, s)))
        schema
      }
    }
  }

  /** Pinned entries for `path` (one per flag set in use; TablesSpec). */
  private[graft] def pinCount(spark: SparkSession, path: String): Int = {
    val root = new Path(path)
    val qualified = root.getFileSystem(bridge.newHadoopConf(spark)).makeQualified(root).toString
    pins.keys.count(_._1 == qualified)
  }

  private val summaryFiles = Set("_common_metadata", "_metadata")

  /** The files a table at `s` lists, by Spark's listing rule. */
  private def leaves(fs: FileSystem, s: FileStatus): Seq[FileStatus] =
    if (!s.isDirectory) Seq(s)
    else fs.listStatus(s.getPath).toSeq.filter(c => footers.listed(c.getPath.getName))
      .flatMap(leaves(fs, _))

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
