package graft

import org.apache.spark.sql.SparkSession

/** Single session factory for every entry point (Verify, Bench, App,
  * Explain, StreamDemo, tests): local[min(cpus,32)] with
  * shuffle.partitions = threads, UTC, and the nanos-timestamp read flag
  * set at BUILD time — so reading `events.parquet` is order-independent
  * (no hidden conf mutation required first; see Tables.events). Every
  * streaming query's checkpoint goes through
  * [[graft.streaming.LocalCheckpointFileManager]]. */
object Sessions {
  def defaultCpus: Int = math.min(Runtime.getRuntime.availableProcessors, 32)

  def local(cpus: Int = defaultCpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(graft.streaming.LocalCheckpointFileManager.ConfKey,
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
      .getOrCreate()
}
