package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch source/sink format layer (SURVEY.md §2.1/§2.10 beyond parquet):
  * uniform write/read over the formats this Spark build ships — parquet,
  * orc (columnar), json, csv (row formats, schema-on-read). The reference
  * only ever wrote newline-framed text to S3 (`ProcessStreamData.py:28`);
  * this is the engine-grade generalization: a user points any query's
  * input or output at any of these formats.
  *
  * Scale notes per format: parquet/orc carry column pruning + predicate
  * pushdown + splittable compression (the 100 TB defaults); json/csv are
  * scan-everything interchange formats — supported, but the library
  * treats them as ingest/egress, not as the analytical store.
  */
object Formats {

  val Supported: Seq[String] = Seq("parquet", "orc", "json", "csv")

  private def require_(fmt: String): Unit =
    require(Supported.contains(fmt),
      s"unsupported format '$fmt' (supported: ${Supported.mkString(", ")})")

  /** Write `df` at `path` in `fmt`. CSV keeps a header so the file is
    * self-describing for re-ingest. */
  def write(df: DataFrame, path: String, fmt: String): Unit = {
    require_(fmt)
    val w = df.write.mode("overwrite").format(fmt)
    (if (fmt == "csv") w.option("header", "true") else w).save(path)
  }

  /** Hive-style partitioned write: one directory per distinct value tuple
    * of `partitionCols` (`part=a/part=b/…`). THE layout lever at 100 TB —
    * a reader filtering on a partition column scans only the matching
    * directories (partition pruning happens at the file index, before any
    * row is read; the plan shows it as `PartitionFilters`, not
    * `PushedFilters`). Choose low-cardinality columns (date, lang,
    * source): one directory per value, and a query's scan cost drops from
    * |table| to |matching partitions|.
    *
    * `maxRecordsPerFile` caps file size under skew (a hot partition
    * splits into several files instead of one huge unsplittable-for-json
    * file). */
  def writePartitioned(df: DataFrame, path: String, fmt: String,
                       partitionCols: Seq[String],
                       maxRecordsPerFile: Long = 0L): Unit = {
    require_(fmt)
    require(partitionCols.nonEmpty, "writePartitioned: no partition columns")
    val w = df.write.mode("overwrite").format(fmt)
      .partitionBy(partitionCols: _*)
    val w1 = if (maxRecordsPerFile > 0)
      w.option("maxRecordsPerFile", maxRecordsPerFile.toString) else w
    (if (fmt == "csv") w1.option("header", "true") else w1).save(path)
  }

  /** The `events` table re-laid-out as a Hive-partitioned parquet tree,
    * one directory per day: a [[graft.PlanCache.layout]] entry, written
    * once per session and deleted by `PlanCache.clear`. This is THE
    * 100 TB layout move for a time-series fact table: every query that
    * filters on `day` scans only the matching directories. */
  def eventsByDayPath(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    graft.PlanCache.layout(spark, s"formats.eventsByDay:$dir") { out =>
      writePartitioned(graft.Tables.events(spark, dir)
        .withColumn("day", to_date(col("ts"))), s"$out/events", "parquet", Seq("day"))
    }() + "/events"
  }

  /** Oracle-gated partition-pruning query (q63): read the day-partitioned
    * layout back with a day-range predicate — the plan's scan carries it
    * as `PartitionFilters` (directory pruning at the file index, before
    * any row is read; FormatsSpec asserts the plan shape). Value sums use
    * exact integer cents (the portable fixed-decimal shape). The oracle
    * runs the same predicate over the ORIGINAL events table: a layout
    * rewrite must be invisible in query results. */
  def dailyPrunedSummary(spark: SparkSession, dir: String,
                         fromDay: String = "2024-01-05",
                         toDay: String = "2024-01-09"): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(eventsByDayPath(spark, dir))
      .filter(col("day") >= lit(fromDay) && col("day") <= lit(toDay))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("sum_value"))
      .orderBy(col("day"), col("event_type"))
  }

  def dailyPrunedSummarySql(fromDay: String = "2024-01-05",
                            toDay: String = "2024-01-09"): String =
    s"""SELECT ts::DATE AS day, event_type, count(*) AS n_events,
       |  sum(round(value * 100)::BIGINT)::BIGINT / 100.0 AS sum_value
       |FROM events
       |WHERE ts::DATE BETWEEN '$fromDay' AND '$toDay'
       |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  /** Read `path` as `fmt`. An explicit schema skips inference (which
    * would cost an extra full pass on json/csv at scale) and pins types
    * that csv would otherwise read as strings. */
  def read(spark: SparkSession, path: String, fmt: String,
           schema: Option[StructType] = None): DataFrame = {
    require_(fmt)
    val r0 = spark.read.format(fmt)
    // inferSchema is a csv-only option (json always infers); setting it on
    // other readers would be a silent no-op
    val r1 = schema.fold(if (fmt == "csv")
      r0.option("inferSchema", "true") else r0)(r0.schema)
    (if (fmt == "csv") r1.option("header", "true") else r1).load(path)
  }

  /** Read a parquet directory whose files carry EVOLVED schemas (columns
    * added over time) as their union — rows from older files surface the
    * newer columns as NULL. This is the schema-evolution read a 100 TB
    * append-only lake needs when the producer adds a field: without
    * `mergeSchema` Spark samples ONE footer and silently drops the new
    * column from old-file-first listings. Costs a footer read per file
    * (why it is not the default) — pay it where schemas actually evolve,
    * or pin the union schema explicitly via [[read]]'s schema arg. */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
