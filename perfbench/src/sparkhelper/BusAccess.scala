package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The two driver internals the tracer needs and Spark keeps
  * package-private: draining the listener bus (so an op's events are all
  * delivered before its counters are read) and the per-block storage
  * view (so cached-block accounting starts from the true state).
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Memory bytes held by each cached RDD block, keyed by block name. */
  def rddBlockMemory(sc: SparkContext): Map[String, Long] =
    sc.env.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks.iterator)
      .map { case (id, st) => id.name -> st.memSize }
      .toMap
}
