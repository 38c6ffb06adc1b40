package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.Checkpoints

/** Graph-loop helpers beside the one round loop,
  * [[graft.Checkpoints.iterate]] (which runs Katz, Sssp,
  * ConnectedComponents, LabelPropagation, Hits, Salsa and Matching):
  * the append-only [[frontier]] loop of the level-synchronous
  * traversals, whose state is the union of every round's segment and
  * so is not an `iterate` snapshot, and the surrogate-id edge join
  * [[vidEdges]]. The damped rank family (LinkRank, TrustRank, Ppr,
  * WeightedRank) runs on the fixed-dataflow [[DampedRank]] kernel
  * instead.
  */
private[graft] object VertexLoop {

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
    * @return the settled union. CONSUME BEFORE DRAIN: every live
    *         segment is released at the caller's next
    *         `Checkpoints.drain`. */
  def frontier(seg0: DataFrame, keys: Seq[String], maxRounds: Int)
              (expand: DataFrame => DataFrame): DataFrame = {
    val first = Checkpoints.materialize(seg0)
    val segments = scala.collection.mutable.ListBuffer(first)
    var settled = first
    var front = first
    var rounds = 0
    var done = false
    while (rounds < maxRounds && !done) {
      val fresh = Checkpoints.materialize(expand(front)
        .join(settled.select(keys.map(col): _*), keys, "left_anti"))
      if (fresh.isEmpty) {
        Checkpoints.free(fresh)
        done = true
      } else {
        segments += fresh
        settled = settled.unionByName(fresh)
        front = fresh
        if (segments.size >= CompactEvery) {
          val merged = Checkpoints.materialize(settled)
          // `fresh` is still the live frontier
          segments.filterNot(_ eq fresh).foreach(Checkpoints.free)
          segments.clear()
          segments += merged
          settled = merged
        }
      }
      rounds += 1
    }
    settled
  }

  /** Segment-union compaction interval of [[frontier]]. */
  private val CompactEvery = 8

  /** Map a string-id edge frame `edges(src, dst, …)` to 8-byte surrogate
    * ids through `vmap(id, vid)`: two equi-joins adding `svid`/`dvid`
    * (the other edge columns ride along). */
  def vidEdges(edges: DataFrame, vmap: DataFrame): DataFrame = edges
    .join(vmap.withColumnRenamed("id", "src").withColumnRenamed("vid", "svid"), "src")
    .join(vmap.withColumnRenamed("id", "dst").withColumnRenamed("vid", "dvid"), "dst")
}
