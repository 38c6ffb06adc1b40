package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components via iterative min-label propagation — the
  * clustering primitive behind near-dup canonicalization (q25) and any
  * "group transitively related rows" step, on arbitrary edge frames.
  *
  * Scale shape: each round is one groupBy(min) over the edge frame
  * joined to the current labels — hash-partitioned equi-joins, partial
  * aggregation, run by [[VertexLoop.iterate]]. Convergence is detected
  * (a round that changes no label ends the loop) rather than guessed,
  * because component diameter isn't known a priori at 100× data; early
  * exit is
  * result-identical to running the full budget (the update is monotone
  * and idempotent at the fixed point). Plain min-label propagation
  * needs O(diameter) rounds; for web-scale graphs with long chains,
  * the same loop accepts the large-star/small-star alternation
  * (Kiveris et al., "Connected Components in MapReduce", SoCC'14) as a
  * drop-in `pulled` replacement — not needed for the bounded-diameter
  * graphs the fixtures carry.
  */
object ConnectedComponents {

  /** Min-label propagation over an undirected edge list `und(a, b)`
    * from `init(id, lbl)`, until a round changes no label or `maxIters`
    * rounds ran (moved here from DedupQueries in r6 — q25 and the
    * facade share this loop).
    *
    * @return (labels(id, lbl, chg), rounds actually run) — the
    *         snapshot itself, so the caller can free its blocks */
  private[graft] def propagate(und: DataFrame, init: DataFrame,
                               maxIters: Int): (DataFrame, Int) =
    VertexLoop.iterate(init.select(col("id"), col("lbl")), maxIters,
        VertexLoop.unchanged) { labels =>
      val pulled = und.join(labels.select(col("id"), col("lbl")), col("b") === col("id"))
        .groupBy(col("a")).agg(min(col("lbl")).as("ml"))
        .withColumnRenamed("a", "mid")
      labels.join(pulled, col("id") === col("mid"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("ml"), col("lbl"))).as("lbl"),
          (coalesce(col("ml"), col("lbl")) < col("lbl")).as("chg"))
    }

  /** (id, component) for every endpoint of `edges(src, dst)` —
    * component = minimum vertex id reachable over undirected paths.
    * Direction, duplicate edges, and self-loops are canonicalized
    * away. Isolated vertices never appear in an edge list: union a
    * wider vertex universe into the result yourself if needed (q25
    * does exactly that with the full corpus as `init`). */
  def run(edges: DataFrame, maxIters: Int = 20): DataFrame = {
    // partition once on the per-round join key (b — the label pull
    // side): the distinct leaves und partitioned on (a,b), which every
    // propagation round would otherwise re-shuffle to align on b.
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionAll(edges.select(col("dst").as("a"), col("src").as("b")))
      .filter(col("a") =!= col("b")).distinct()
      .repartition(col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val init = und.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    val (labels, _) = propagate(und, init, maxIters)
    und.unpersist()
    graft.Checkpoints.deferFree(labels)
    labels.select(col("id"), col("lbl").as("component"))
  }
}
