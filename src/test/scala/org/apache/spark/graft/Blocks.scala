package org.apache.spark.graft

import org.apache.spark.{SparkContext, SparkEnv}

/** Test access to the block manager (`private[spark]`). */
object Blocks {

  /** Drop every block of every persisted RDD, as losing the executors
    * that held them would; the RDDs stay registered as persisted.
    * Returns how many RDDs lost their blocks. */
  def loseAll(sc: SparkContext): Int = {
    val ids = sc.getPersistentRDDs.keys.toSeq
    ids.foreach(id => SparkEnv.get.blockManager.master.removeRdd(id, blocking = true))
    ids.size
  }
}
