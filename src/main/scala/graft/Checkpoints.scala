package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** Query-scoped lifecycle for `localCheckpoint` blocks and per-query
  * caches.
  *
  * `Dataset.localCheckpoint()` materializes the plan into block-manager
  * storage but never frees it — across an iterative loop (9 rank
  * updates, 8 label-propagation rounds) every iteration's blocks pile
  * up until the session dies, and a 32-query bench session drags ~40
  * orphaned block sets behind it (measured: q11 went 1.8s isolated →
  * 56s inside the r2 bench).
  *
  * One rule: a block made here ([[materialize]], [[cache]], every
  * snapshot [[rotate]] makes) is released at the session's next
  * [[drain]] from the moment it is made, because a returned lazy
  * DataFrame may still read it until the caller's action completes.
  * [[free]] and [[rotate]] only release a block EARLIER, when the code
  * knows nothing reads it any more (an iterative loop holds exactly one
  * live snapshot that way), and [[drain]] skips blocks already
  * released. The harness (Bench/Verify) calls [[drain]] between
  * queries. Frames built inside `SessionCache.cached` are owned by the
  * memo instead and are not made here.
  */
object Checkpoints {

  private val pending =
    scala.collection.concurrent.TrieMap.empty[SparkSession, java.util.Queue[() => Unit]]

  /** Checkpoint `df` eagerly; its blocks are released at the next
    * [[drain]] unless [[free]]d first. */
  def materialize(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    deferCleanup(cp.sparkSession)(() => free(cp))
    cp
  }

  /** Mark `df` for a lazy columnar cache, filled by its first action;
    * unpersisted at the next [[drain]]. Returns `df`. */
  def cache(df: DataFrame): DataFrame = {
    df.cache()
    deferCleanup(df.sparkSession) { () =>
      if (df.storageLevel.isValid) df.unpersist(blocking = false)
    }
    df
  }

  /** [[materialize]] `next`, then free the predecessor iteration's
    * checkpoint blocks. Returns the new checkpoint. */
  def rotate(next: DataFrame, prev: DataFrame): DataFrame = {
    val cp = materialize(next)
    free(prev)
    cp
  }

  /** Release the blocks behind an eagerly checkpointed frame now (no-op
    * for plans that are not a materialized LogicalRDD, and for blocks
    * already released). */
  def free(df: DataFrame): Unit = checkpointRdd(df).foreach(release)

  /** Release a locally checkpointed RDD's blocks now; a no-op once
    * released. `RDD.unpersist` would log a WARN that a checkpoint's
    * lineage cannot be recomputed, once per release. */
  def release(rdd: RDD[_]): Unit = org.apache.spark.GraftInternals.release(rdd)

  private def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => Some(r.rdd)
      case _ => None
    }

  /** Run an arbitrary cleanup at the next [[drain]] — for resources the
    * DataFrame helpers can't reach (persisted RDDs, GraphX graphs). */
  def deferCleanup(spark: SparkSession)(f: () => Unit): Unit =
    pending.getOrElseUpdate(spark, new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]())
      .add(f)

  /** Release every block and run every cleanup still registered for
    * `spark`. Harness calls this after each query's action completes. */
  def drain(spark: SparkSession): Unit =
    pending.remove(spark).foreach { q =>
      var f = q.poll()
      while (f != null) {
        try f() catch { case NonFatal(_) => () }
        f = q.poll()
      }
    }
}
