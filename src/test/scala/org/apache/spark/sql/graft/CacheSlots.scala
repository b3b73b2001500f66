package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, InMemoryRelation}

/** Test access to the CacheManager slot behind a seam leaf (`sharedState`
  * is private[sql]). */
object CacheSlots {
  private def builder(seam: DataFrame): CachedRDDBuilder =
    seam.asInstanceOf[classic.Dataset[_]].logicalPlan match {
      case r: InMemoryRelation => r.cacheBuilder
      case p => throw new IllegalArgumentException(s"not a seam leaf: ${p.nodeName}")
    }

  /** Whether the CacheManager still registers the slot `seam` reads:
    * `lookupCachedData` over the plan the slot was persisted from. */
  def registered(seam: DataFrame): Boolean = {
    val session = seam.asInstanceOf[classic.Dataset[_]].sparkSession
    val b = builder(seam)
    session.sharedState.cacheManager.lookupCachedData(session, b.logicalPlan)
      .exists(_.cachedRepresentation.cacheBuilder eq b)
  }

  /** The id of the RDD that holds `seam`'s cached rows. */
  def rddId(seam: DataFrame): Int = builder(seam).cachedColumnBuffers.id
}
