package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus and to RDD removal by id, which Spark keeps
  * package-private. */
object Bus {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Remove every stored block of RDD `id`, wait until they are gone, and
    * post the unpersist event. Reaches blocks whose RDD handle the driver
    * has already dropped. */
  def unpersist(sc: SparkContext, id: Int): Unit = sc.unpersistRDD(id, blocking = true)
}
