package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry for the handful of persisted intermediates the
  * dedup/similarity operators share (minhash signatures, simhash
  * fingerprints, LSH-bucketed embeddings, IVF assignments).
  *
  * Why it exists: those operators persist a signature table and then
  * self-join it — without a materialization point each join side would
  * recompute the hash kernels (2-4×). But calling `.persist` on a freshly
  * built (identical) plan at every operator invocation re-registers the
  * same entry, which (a) spams `CacheManager: Asked to cache already
  * cached data` in long sessions and (b) leaves lifecycle implicit (LRU
  * only). This registry makes the lifecycle explicit: one persist per
  * (session, key), callers get the SAME DataFrame reference back, and
  * [[clear]] releases everything a session pinned (Verify/tests call it;
  * a long-lived service would call it per request scope).
  */
object PlanCache {

  private val entries =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  /** Session identity = `sessionUUID` — unique per SparkSession instance
    * for the lifetime of the JVM (identityHashCode, the previous key,
    * can collide between two live sessions). Concurrent sessions
    * (service mode, `spark.newSession()` per request) therefore never
    * share or clobber each other's entries; PlanCacheSpec pins this. */
  private def sid(spark: SparkSession): String =
    org.apache.spark.sql.graft.bridge.sessionUUID(spark)

  /** The persisted DataFrame for `key` in this session, building (and
    * persisting MEMORY_AND_DISK) it on first use. */
  def cached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    entries.getOrElseUpdate((sid(spark), key),
      build.persist(StorageLevel.MEMORY_AND_DISK))

  /** Unpersist and drop every entry this session pinned, and the
    * session's resolved relations in [[Tables]]. Blocking=false:
    * eviction proceeds asynchronously, callers don't wait on it. */
  def clear(spark: SparkSession): Unit = {
    val s = sid(spark)
    entries.keys.filter(_._1 == s).foreach { k =>
      entries.remove(k).foreach(_.unpersist(blocking = false))
    }
    Tables.clear(spark)
  }

  /** Entries this session holds (PlanCacheSpec checks the release). */
  private[graft] def size(spark: SparkSession): Int = {
    val s = sid(spark)
    entries.keys.count(_._1 == s)
  }
}
