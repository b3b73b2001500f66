package graft

import org.apache.spark.sql.SparkSession

/** Single session factory for every entry point (Verify, Bench, App,
  * StreamDemo, tests): local[cpus] with
  * shuffle.partitions = threads, UTC, and the nanos-timestamp read flag
  * set at BUILD time — so reading `events.parquet` is order-independent
  * (no hidden conf mutation required first; see Tables.events). Every
  * streaming query's checkpoint goes through
  * [[graft.streaming.LocalCheckpointFileManager]]. */
object Sessions {
  /** `SPARK_GRAFT_CPUS` when set, else min(available cores, 32) — the one
    * place that variable is read. */
  def defaultCpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))
    .getOrElse(math.min(Runtime.getRuntime.availableProcessors, 32))

  /** A `SPARK_GRAFT_CPUS` value (blank = unset); anything but a positive
    * integer fails loudly instead of falling back. */
  def parseCpus(value: Option[String]): Option[Int] = value.map(_.trim).filter(_.nonEmpty).map(v =>
    v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer core count, got '$v'")))

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
