package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source weighted shortest paths (Bellman–Ford relaxation) over
  * a directed weighted edge frame — [[Bfs]]'s hop distance generalized
  * to per-edge costs, the routing/propagation-cost primitive a link
  * pipeline asks once edges carry strength (how cheaply does trust or
  * traffic reach every host from the seed set?).
  *
  * Scale shape (identical audit to [[Bfs]]/[[ConnectedComponents]]):
  * each round is one groupBy(dst).min(dist + w) over the edge frame
  * joined to the current frontier — hash-partitioned equi-joins with
  * partial aggregation, nothing vertex-level ever broadcast or
  * collected, run by [[VertexLoop.iterate]]. Early exit fires only at
  * the fixed point, where further relaxation rounds are the identity —
  * so a budget-K run is result-identical to exactly-K unrolled rounds
  * (the q66 fixed-point equality argument; the q87 oracle leans on
  * it). With
  * non-negative integer costs every relaxation stays in exact int64
  * arithmetic, so the result is association-free and hash-gateable.
  */
object Sssp {

  /** Least path cost from the cheapest seed, over
    * `edges(src, dst, w)` following edge direction, for every vertex
    * in `vertices(id)`. Costs must be non-negative.
    *
    * @param seeds (id) — cost-0 sources.
    * @return (id, cost) — cost is NULL for vertices unreached within
    *         `maxIters` relaxation rounds (= path-edge-count bound). */
  def run(edges: DataFrame, vertices: DataFrame, seeds: DataFrame,
          maxIters: Int): DataFrame = {
    // partition once on the per-round join key (the Bfs discipline):
    // every relaxation round reuses the persisted partitioning instead
    // of re-shuffling the whole edge frame.
    val e = edges.select(col("src"), col("dst"), col("w"))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Seeds are deduped defensively: duplicate ids would multiply rows
    // through this left join and ride every relaxation round after it.
    val init = vertices.select(col("id"))
      .join(seeds.select(col("id")).distinct().withColumn("cost", lit(0L)),
        Seq("id"), "left")
    val (dist, _) = VertexLoop.iterate(init, maxIters, VertexLoop.unchanged) { dist =>
      val pulled = e.join(dist.filter(col("cost").isNotNull), col("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("cost") + col("w")).as("mc"))
      dist.join(pulled, col("id") === col("dst"), "left")
        .select(col("id"),
          least(col("cost"), col("mc")).as("cost"), // least skips nulls
          (coalesce(col("mc") < col("cost"), lit(false)) ||
            (col("cost").isNull && col("mc").isNotNull)).as("chg"))
    }
    e.unpersist()
    graft.Checkpoints.deferFree(dist)
    dist.select(col("id"), col("cost"))
  }
}
