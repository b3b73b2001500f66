package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI entry (SURVEY.md §2.1 S2): `graft.App <lang> <track> [sfDir]` runs
  * the flagship sentiment query, `--query <name> [sfDir]` any declared
  * query. The dev tools are modes of the same entry (see `usage`):
  * `--explain` prints the formatted physical plans, `--time` one cold pass
  * then `reps` warm passes on the noop sink (min-of-reps is the
  * steady-state estimator: contention only inflates), `--plans` writes
  * [[PlanAudit.snapshotJson]]. With no names, they take every query.
  *
  * Unlike the reference (`app.py:7-10` prints usage but falls through to
  * an IndexError when argv is short), bad arguments exit(2) with usage —
  * the latent bug is fixed, not ported.
  */
object App {
  private val usage =
    """usage: graft.App <lang> <track> [sfDir]
      |       graft.App --query <name> [sfDir]
      |       graft.App --list
      |       graft.App --explain <sfDir> [query...]
      |       graft.App --time <sfDir> <reps> [query...]
      |       graft.App --plans <sfDir> <out.json>""".stripMargin

  private type Query = (SparkSession, String) => DataFrame

  private def fail(msg: String): Nothing = { System.err.println(msg); sys.exit(2) }

  private def lookup(name: String): Query =
    SparkEntry.queries.getOrElse(name, fail(s"unknown query '$name'; try --list"))

  /** The named queries (every query when none is named), in name order. */
  private def pick(names: List[String]): Seq[(String, Query)] = {
    names.foreach(lookup)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => names.isEmpty || names.contains(name) }
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) fail(usage)
    if (args(0) == "--list") {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    // arguments are checked before a session is built
    val run: SparkSession => Unit = args.toList match {
      case "--query" :: name :: rest =>
        val dir = rest.headOption.getOrElse("/root/testdata/sf0.01")
        val fn = lookup(name)
        spark => fn(spark, dir).show(50, truncate = false)
      case "--explain" :: dir :: names =>
        val qs = pick(names)
        spark => qs.foreach { case (name, fn) =>
          println(s"\n======== $name ========")
          try fn(spark, dir).explain("formatted")
          catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
        }
      case "--time" :: dir :: reps :: names if reps.toIntOption.exists(_ > 0) =>
        val qs = pick(names)
        spark => qs.foreach { case (name, fn) =>
          val first = Bench.noopSeconds(fn(spark, dir))
          val ts = Seq.fill(reps.toInt)(Bench.noopSeconds(fn(spark, dir)))
          println(f"$name%-28s first=$first%.3f min=${ts.min}%.3f " +
            s"reps=${ts.map(t => f"$t%.3f").mkString(",")}")
        }
      case "--plans" :: dir :: out :: Nil =>
        spark => {
          Files.writeString(Paths.get(out), PlanAudit.snapshotJson(spark, dir))
          println(s"wrote ${SparkEntry.queries.size} plan snapshots to $out")
        }
      case lang :: track :: rest if !lang.startsWith("--") =>
        val dir = rest.headOption.getOrElse("/root/testdata/sf0.01")
        spark => operators.TextPipeline.sentimentByLabel(spark, dir, lang, track)
          .show(50, truncate = false)
      case _ => fail(usage)
    }
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark)
    finally { PlanCache.clear(spark); spark.stop() }
  }
}
