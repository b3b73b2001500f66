package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [queryName...]")
      sys.exit(2)
    }
    val sfDir = args(0); val outDir = args(1)
    // optional name filter for local iteration; the driver always passes
    // exactly two args and gets the full surface
    val only = args.drop(2).toSet
    def selected(name: String): Boolean = only.isEmpty || only.contains(name)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(selected))
    PlanCache.clear(spark)
    spark.stop()
  }

  /** `oracle_sql.json` body for the selected queries — shared by the
    * driver dump above and the standing oracle-type lint in sbt test
    * (OracleTypeLintSpec), so the lint audits the exact artifact the
    * driver's DuckDB compare consumes. */
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  // Shared with PlanAudit.snapshotJson: every artifact escapes alike.
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def oracleJson(selected: String => Boolean = _ => true): String =
    SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
}
