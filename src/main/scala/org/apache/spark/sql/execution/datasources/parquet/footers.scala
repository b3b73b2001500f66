package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge to Spark's driver-side parquet footer reader and footer-to-schema
  * converter, both `private[parquet]`, and to its file-listing rule
  * (`private[spark]`). */
object footers {
  /** Whether Spark's file listing keeps an entry named `name`: it skips
    * hidden and `_`-prefixed names, except the parquet summary files. */
  def listed(name: String): Boolean = !HadoopFSUtils.shouldFilterOutPathName(name)

  /** The schema Spark's inference gives `files`, with the session's
    * converter flags, launching no Spark job. Nullable, as a file source
    * relation carries its data schema (`asNullable` is private[spark]). */
  def schema(spark: SparkSession, hadoop: Configuration, files: Seq[FileStatus],
      ignoreCorruptFiles: Boolean): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(hadoop, files, ignoreCorruptFiles), spark)
      .map(_.asNullable)
}
