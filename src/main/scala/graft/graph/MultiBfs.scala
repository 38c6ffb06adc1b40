package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-seed multi-source BFS: hop distances from EVERY seed separately
  * (state keyed (id, seed)), where [[Bfs]] collapses to the nearest
  * seed. This is the engine under sampled centrality measures
  * (closeness, harmonic, hop-histograms): one loop, K seeds, instead
  * of K loops.
  *
  * Scale shape: the state frame holds only REACHED (id, seed) pairs —
  * n·K worst case, frontier-sparse early — and each round is one
  * equi-join of the cached edge side to the current pairs, a partial-
  * agged min per (dst, seed), and a left-anti join against the pairs
  * already settled (first reach IS the min distance in an unweighted
  * graph, so settled pairs never change): [[VertexLoop.frontier]].
  */
object MultiBfs {

  /** @param edges (src, dst) directed edges, followed in direction.
    * @param seeds (id) — each row starts its own distance field.
    * @return (id, seed, dist) for reached pairs ONLY (dist 0 = the
    *         seed itself); unreached pairs are simply absent. */
  def run(edges: DataFrame, seeds: DataFrame, maxIters: Int): DataFrame = {
    // partition once on the per-round join key (the Bfs discipline):
    // every round's frontier join reuses the persisted partitioning
    // instead of re-shuffling the whole edge frame.
    val e = graft.Checkpoints.cache(edges.select(col("src"), col("dst"))
      .repartition(col("src")))
    val seg0 = seeds.select(col("id"), col("id").as("seed"), lit(0L).as("dist"))
    val reached = VertexLoop.frontier(seg0, Seq("id", "seed"), maxIters) { frontier =>
      e.join(frontier, col("src") === col("id"))
        .groupBy(col("dst"), col("seed"))
        .agg((min(col("dist")) + 1L).as("dist"))
        .select(col("dst").as("id"), col("seed"), col("dist"))
    }
    e.unpersist()
    reached
  }
}
