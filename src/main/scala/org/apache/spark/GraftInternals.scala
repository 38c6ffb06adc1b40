package org.apache.spark

import org.apache.spark.rdd.RDD

/** The two Spark members graft needs that are private to package
  * `org.apache.spark`: the listener bus and the RDD release that does
  * not warn. */
object GraftInternals {

  /** Returns once every listener event posted so far is delivered. */
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Drops `rdd`'s blocks now, as `rdd.unpersist(blocking = false)`
    * does, without its WARN for a locally checkpointed RDD. A released
    * RDD keeps its storage level, so the guard is the context's
    * persistent set: a second call is a no-op. */
  def release(rdd: RDD[_]): Unit = {
    val sc = rdd.sparkContext
    if (sc.persistentRdds.contains(rdd.id)) sc.unpersistRDD(rdd.id, blocking = false)
  }
}
