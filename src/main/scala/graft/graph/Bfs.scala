package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS hop distances over a directed edge frame — the
  * frontier/reachability primitive next to rank (how many hops is
  * every page from the trusted set?), and the distance twin of
  * [[ConnectedComponents]]' min-label loop.
  *
  * Scale shape: FRONTIER-based ([[VertexLoop.frontier]]). In an
  * unweighted graph the first round that reaches a vertex reaches it
  * at its true distance (level-synchronous BFS invariant), so each
  * round expands only the vertices settled in the PREVIOUS round. Per
  * round that is one equi-join of the cached edge frame to the
  * (shrinking) frontier, a partial-agged min per dst, and a left-anti
  * join against the settled union; total join work across the loop is
  * O(edges), where the former full-state formulation re-pushed every
  * settled vertex every round (O(rounds × edges)). The fixed-point
  * exit makes a budget-K run result-identical to exactly-K unrolled
  * rounds whether or not the graph converged inside the budget (the
  * q66 equality argument; the q69 oracle leans on it). Rounds needed =
  * eccentricity of the seed set, so the budget is the caller's radius
  * bound, not a correctness knob.
  */
object Bfs {

  /** Hop distance from the nearest seed, over `edges(src, dst)`
    * following edge direction, for every vertex in `vertices(id)`.
    *
    * PRECONDITION: `vertices` covers every edge endpoint (the
    * [[WebGraph.vertices]] contract every caller uses) — the frontier
    * loop propagates along `edges` unconditionally, so an endpoint
    * missing from `vertices` would still conduct distance (it just
    * would not appear in the output).
    *
    * @param seeds (id) — distance-0 sources (ids not in `vertices`
    *              are ignored by construction of the init join).
    * @return (id, dist) — dist is NULL for vertices unreached within
    *         `maxIters` hops. CONSUME BEFORE DRAIN: the returned join
    *         is lazy over localCheckpoint segments that are already
    *         [[graft.Checkpoints.deferFree]]'d, so a caller that calls
    *         `Checkpoints.drain` before materializing the result would
    *         read unpersisted, lineage-truncated blocks —
    *         unrecoverable by recompute. Materialize (count/collect/
    *         write/localCheckpoint) first; the bench/Verify
    *         drain-BETWEEN-queries contract does exactly that. */
  def run(edges: DataFrame, vertices: DataFrame, seeds: DataFrame,
          maxIters: Int): DataFrame = {
    // hash-partition the edge side on the per-round join key ONCE: the
    // persisted partitioning is reused by every round's frontier join,
    // so only the (shrinking) frontier rides an exchange per round —
    // without it each round re-shuffles the whole edge frame (guide
    // §2.4 "two operations keyed the same way share one exchange").
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one scan of the vertex frame, reused by the seed join and the
    // final left join (a lazy `vertices` would be recomputed by each)
    val verts = vertices.select(col("id")).localCheckpoint()
    val seg0 = verts
      .join(seeds.select(col("id")), Seq("id"), "left_semi")
      .select(col("id"), lit(0L).as("dist"))
    val settled = VertexLoop.frontier(seg0, Seq("id"), maxIters) { frontier =>
      e.join(frontier, col("src") === col("id"))
        .groupBy(col("dst")).agg((min(col("dist")) + 1L).as("dist"))
        .select(col("dst").as("id"), col("dist"))
    }
    e.unpersist()
    graft.Checkpoints.deferFree(verts)
    verts.join(settled, Seq("id"), "left").select(col("id"), col("dist"))
  }
}
