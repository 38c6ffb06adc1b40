package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Semi-supervised label propagation over an undirected graph: a small
  * seed set carries fixed class labels, every other vertex repeatedly
  * adopts the most frequent label among its labeled neighbors
  * (Zhu & Ghahramani's label propagation, the deterministic
  * community/classification spread a web-trust or topic pipeline runs
  * from a curated seed list).
  *
  * Determinism: updates are SYNCHRONOUS (round k reads only round k−1
  * labels) and the neighbor-mode tie-break is total (max count, then
  * smallest label), so the result is a pure function of (graph, seeds,
  * rounds) — replayable round-for-round by the unrolled oracle SQL.
  * Seeds are CLAMPED (never overwritten), unlabeled vertices stay −1
  * until a labeled neighbor appears.
  *
  * Scale shape (the ConnectedComponents loop contract): each round is
  * one equi-join of the edge frame to the current label frame, a
  * partial-agged (vertex, label) count, and a per-vertex top-1 window —
  * all hash-partitioned on vertex id, run by [[VertexLoop.iterate]].
  * Early exit fires only at the fixed point, where further rounds are
  * identity — so budget-K with early exit ≡ exactly-K rounds, the
  * q66/q69 oracle-equality argument.
  * (Synchronous LPA can 2-cycle on bipartite regions; those never
  * reach the fixed point and simply run the full budget — identical on
  * both engines.)
  */
object LabelPropagation {

  /** Propagate `seeds(id, lbl)` (lbl ≥ 0) over `edges(src, dst)` for at
    * most `maxIters` synchronous rounds. Returns (id, lbl, is_seed) for
    * every vertex incident to an edge; lbl = −1 where no labeled vertex
    * is reachable. */
  def run(edges: DataFrame, seeds: DataFrame, maxIters: Int): DataFrame = {
    // partition once on the per-round join key (b — the neighbor-label
    // pull side), the ConnectedComponents discipline: rounds reuse the
    // persisted partitioning instead of re-shuffling the edge frame.
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionAll(edges.select(col("dst").as("a"), col("src").as("b")))
      .filter(col("a") =!= col("b")).distinct()
      .repartition(col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verts = und.select(col("a").as("id")).distinct()
    // Conflicting duplicate seed rows are resolved to min(lbl) BEFORE the
    // join: a duplicated (id, lbl) pair would otherwise duplicate the
    // vertex row and double-count its vote in every neighbor histogram.
    val init = verts
      .join(seeds.groupBy(col("id")).agg(min(col("lbl")).as("seed_lbl")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("seed_lbl"), lit(-1L)).as("lbl"),
        col("seed_lbl").isNotNull.as("is_seed"))

    val (labels, _) = VertexLoop.iterate(init, maxIters, VertexLoop.unchanged) { labels =>
      // neighbor label histogram, labeled (>=0) neighbors only
      val pulled = und
        .join(labels.select(col("id"), col("lbl")), col("b") === col("id"))
        .filter(col("lbl") >= 0)
        .groupBy(col("a"), col("lbl")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("a")).orderBy(col("c").desc, col("lbl"))
      val best = pulled.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("a").as("mid"), col("lbl").as("best"))
      labels.join(best, col("id") === col("mid"), "left")
        .select(col("id"),
          when(col("is_seed"), col("lbl"))
            .otherwise(coalesce(col("best"), col("lbl"))).as("lbl"),
          col("is_seed"),
          (!col("is_seed") && coalesce(col("best"), col("lbl")) =!= col("lbl"))
            .as("chg"))
    }
    und.unpersist()
    graft.Checkpoints.deferFree(labels)
    labels.select(col("id"), col("lbl"), col("is_seed"))
  }
}
