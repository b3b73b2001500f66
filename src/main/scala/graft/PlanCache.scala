package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.storage.StorageLevel

/** The one session-scoped registry for everything graft reuses, and the
  * only way graft materializes an intermediate. Entries are keyed
  * (session, key) and carry their own release action; [[clear]] runs the
  * release of every entry a session holds (Verify, Bench, App and the
  * tests call it; a long-lived service would call it per request scope).
  * Three kinds of entry:
  *
  *  - '''Persisted seam''' ([[cached]]): a MEMORY_AND_DISK persist of an
  *    intermediate (minhash signatures, IVF assignments, a k-means
  *    iterate, a kernel evaluated before its threshold filter, ...),
  *    built once per session. The seam comes back as a DataFrame whose
  *    logical plan is the cached relation as a LEAF, so it cuts the plan
  *    lineage: consumers never re-analyze the subtree below it, an
  *    iterate read twice per round does not double the unrolled plan,
  *    and no optimizer rule moves an expression across it (a kernel
  *    below the cut runs once, not once per reference above it). Unlike
  *    a lineage-free checkpoint, a lost block is recomputed from the
  *    cached plan. Released by `unpersist(blocking = false)`.
  *  - '''Resolved relation''' ([[relation]], behind `Tables.table`): the
  *    lazy parquet DataFrame, so a session reads each footer and listing
  *    once; every action still scans parquet. Released by dropping the
  *    reference only: an `unpersist` would drop any user-cached plan
  *    equal to it.
  *  - '''Derived layout''' ([[layout]]): a re-laid-out copy of an input
  *    (q63's day-partitioned events, q69's bucketed tables) written into
  *    a fresh directory of its own. Released by deleting the directory.
  *
  * A seam's key names every input of its builder: the data dir, the
  * parameters the builder reads and, inside an iterative loop, the
  * iteration, so each round is its own seam over the previous one. A
  * builder over a caller's DataFrame has no stable name; its key carries
  * a per-call id, and the seam lives until [[clear]].
  */
object PlanCache {

  private final case class Entry(value: AnyRef, release: () => Unit)

  private val entries = scala.collection.concurrent.TrieMap.empty[(String, String), Entry]

  /** `sessionUUID` is unique per SparkSession instance for the lifetime
    * of the JVM, so concurrent sessions (`spark.newSession()` per
    * request) never share or clobber entries; PlanCacheSpec pins this. */
  private def sid(spark: SparkSession): String =
    bridge.sessionUUID(spark)

  /** The seam for `key` in this session: on first use `build` is
    * persisted MEMORY_AND_DISK (filled by the first action that reads
    * it) and its cached relation is returned as a plan leaf. Seams that
    * `build` reads enter the persisted plan as flat scans of their
    * cached rows ([[bridge.flattenSeams]]), so a loop's plan stays one
    * round deep. A `build` that returns a seam as it is (the last round
    * of a loop) is keyed as it is: the entry that made it owns its
    * release. */
  def cached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    entries.getOrElseUpdate((sid(spark), key), {
      val built = build
      if (bridge.isCachedLeaf(built)) Entry(built, () => ())
      else {
        val df = bridge.flattenSeams(built).persist(StorageLevel.MEMORY_AND_DISK)
        Entry(bridge.cachedLeaf(df), () => df.unpersist(blocking = false))
      }
    }).value.asInstanceOf[DataFrame]

  /** The resolved relation for `key` in this session, resolving it on
    * first use. A hit is one lock-free map lookup. */
  private[graft] def relation(spark: SparkSession, key: String)(resolve: => DataFrame): DataFrame =
    entries.getOrElseUpdate((sid(spark), key), Entry(resolve, () => ())).value.asInstanceOf[DataFrame]

  /** The directory of derived layout `key` in this session; on first use
    * `write` fills a fresh temp directory. The release runs `drop` (for
    * catalog entries pointing into the directory), then deletes it; it
    * runs on [[clear]], when `write` fails, and for the loser of two
    * concurrent builds of one key. */
  def layout(spark: SparkSession, key: String)(write: String => Unit)(
      drop: String => Unit = _ => ()): String =
    entries.get((sid(spark), key)).getOrElse {
      val dir = Files.createTempDirectory("graft_layout_")
      val mine = Entry(dir.toString, () => { drop(dir.toString); deleteTree(dir) })
      try write(dir.toString)
      catch { case e: Throwable => mine.release(); throw e }
      entries.putIfAbsent((sid(spark), key), mine) match {
        case Some(theirs) => mine.release(); theirs
        case None => mine
      }
    }.value.asInstanceOf[String]

  /** Delete `dir` and everything under it, if it exists. */
  private[graft] def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally walk.close()
  }

  /** Release and drop every entry this session holds. */
  def clear(spark: SparkSession): Unit = {
    val s = sid(spark)
    entries.keys.filter(_._1 == s).foreach { k =>
      entries.remove(k).foreach(_.release())
    }
  }

  /** Entries this session holds (PlanCacheSpec checks the release). */
  private[graft] def size(spark: SparkSession): Int = {
    val s = sid(spark)
    entries.keys.count(_._1 == s)
  }
}
