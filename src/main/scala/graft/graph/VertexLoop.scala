package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.Checkpoints

/** The superstep shared by the iterative graph engines (Pregelix's
  * "one dataflow join plus a group-by per superstep"): each engine
  * supplies the per-round plan, this object owns the round count, the
  * materialization barrier between rounds and the block lifecycle of
  * the loop state. The damped rank family (LinkRank, TrustRank, Ppr,
  * WeightedRank) runs on the fixed-dataflow [[DampedRank]] kernel
  * instead.
  */
private[graft] object VertexLoop {

  /** Checkpoint `init`, then run `step` on the latest snapshot at most
    * `maxRounds` times. Every round's output is materialized through
    * [[Checkpoints.rotate]], so exactly one snapshot is live at a time,
    * and `stop` runs on each fresh snapshot: returning true ends the
    * loop (a tolerance or fixed-point test, or a per-round trace row).
    * A caller may persist `init` to share it with a pre-loop scalar
    * job; it is unpersisted as soon as its checkpoint exists.
    *
    * @return (last snapshot, rounds run) — the caller owns the
    *         snapshot's blocks (free or deferFree them). */
  def iterate(init: DataFrame, maxRounds: Int,
              stop: DataFrame => Boolean = _ => false)
             (step: DataFrame => DataFrame): (DataFrame, Int) = {
    var cur = init.localCheckpoint()
    init.unpersist()
    var rounds = 0
    var done = false
    while (rounds < maxRounds && !done) {
      cur = Checkpoints.rotate(step(cur), cur)
      rounds += 1
      done = stop(cur)
    }
    (cur, rounds)
  }

  /** `stop` for snapshots that flag changed rows in `chg`: true at the
    * fixed point. One limit-1 job on the materialized snapshot. */
  def unchanged(snapshot: DataFrame): Boolean = snapshot.filter(col("chg")).isEmpty

  /** Append-only frontier loop for level-synchronous traversals, where
    * the first round that reaches a key reaches it at its final value
    * (unweighted BFS), so settled rows never change. Each round
    * `expand`s only the PREVIOUS round's fresh rows, drops the keys
    * already settled (left-anti join on `keys`) and checkpoints only
    * its own fresh rows; the settled set is a lazy union of those
    * segments. The loop ends when a round settles nothing — the fixed
    * point, so a budget-K run equals K unrolled rounds.
    *
    * An unbounded union grows the plan (and the per-round anti-join's
    * scan list) linearly, turning total planning + scan cost quadratic
    * in rounds on long-diameter graphs; re-checkpointing the whole
    * union every round instead would copy the full state once per
    * round. Compacting every [[CompactEvery]] segments pays rounds/C
    * full copies and keeps the plan bounded.
    *
    * @return the settled union. CONSUME BEFORE DRAIN: every segment is
    *         [[Checkpoints.deferFree]]'d, so the result must be
    *         materialized before the caller's `Checkpoints.drain`. */
  def frontier(seg0: DataFrame, keys: Seq[String], maxRounds: Int)
              (expand: DataFrame => DataFrame): DataFrame = {
    val first = seg0.localCheckpoint()
    val segments = scala.collection.mutable.ListBuffer(first)
    var settled = first
    var front = first
    var rounds = 0
    var done = false
    while (rounds < maxRounds && !done) {
      val fresh = expand(front)
        .join(settled.select(keys.map(col): _*), keys, "left_anti")
        .localCheckpoint()
      if (fresh.isEmpty) {
        Checkpoints.free(fresh)
        done = true
      } else {
        segments += fresh
        settled = settled.unionByName(fresh)
        front = fresh
        if (segments.size >= CompactEvery) {
          val merged = settled.localCheckpoint()
          segments.foreach { s =>
            if (s ne fresh) Checkpoints.free(s)
            else Checkpoints.deferFree(s) // still the live frontier
          }
          segments.clear()
          segments += merged
          settled = merged
        }
      }
      rounds += 1
    }
    segments.foreach(Checkpoints.deferFree(_))
    settled
  }

  /** Segment-union compaction interval of [[frontier]]. */
  private val CompactEvery = 8

  /** Map a string-id edge frame `edges(src, dst, …)` to 8-byte surrogate
    * ids through `vmap(id, vid)`: two equi-joins adding `svid`/`dvid`
    * (the other edge columns ride along); `dstJoin = "left"` keeps edges
    * whose dst is not in `vmap`, with a null `dvid`. */
  def vidEdges(edges: DataFrame, vmap: DataFrame, dstJoin: String = "inner"): DataFrame = edges
    .join(vmap.withColumnRenamed("id", "src").withColumnRenamed("vid", "svid"), "src")
    .join(vmap.withColumnRenamed("id", "dst").withColumnRenamed("vid", "dvid"), Seq("dst"), dstJoin)
}
