package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Sampled Brandes betweenness centrality: the K-seed version of the
  * exact algorithm (exact betweenness is all-pairs — the K sources ARE
  * the scale path, exactly like [[MultiBfs]] under sampled closeness).
  * Per seed, a forward BFS builds the shortest-path DAG levels with
  * path counts σ, then dependencies δ accumulate backward level by
  * level: δ(v) = Σ_{v→w, d(w)=d(v)+1} σ(v)/σ(w) · (1 + δ(w));
  * betweenness(v) = Σ_seeds δ_seed(v) for v ≠ seed (Brandes 2001,
  * "A faster algorithm for betweenness centrality").
  *
  * Scale shape: state is one (seed, id, lvl, sigma) frame — O(n·K) —
  * built in `rounds` synchronized forward joins (each ONE equi-join of
  * the cached edge side + a partial-agged σ sum + an anti-join, the
  * MultiBfs loop with a σ payload); the backward pass replays the same
  * `rounds` joins in reverse on the level-sliced frame. σ is exact
  * int64; each δ term is round(,12)-gridded into a DECIMAL sum, so
  * both engines add identical rationals. Per-round localCheckpoint
  * keeps the plans flat. Neither pass runs on
  * [[graft.Checkpoints.iterate]]: the backward pass reads every
  * forward level, and the output sums every backward level.
  */
object Betweenness {

  /** @param edges (src, dst) directed edges.
    * @param seeds (id) seed rows.
    * @param rounds forward/backward level budget.
    * @return (id, betweenness) for every vertex of `edges`. */
  def run(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    // partition once on src — the join key of BOTH the forward σ pulls
    // and the backward δ joins (the Bfs discipline): per-level joins
    // reuse the persisted partitioning instead of re-shuffling edges.
    val e = graft.Checkpoints.cache(edges.select(col("src"), col("dst"))
      .repartition(col("src")))
    // forward: (seed, id, lvl, sigma) — level-sliced shortest-path DAG
    var levels = Vector(
      graft.Checkpoints.materialize(seeds
        .select(col("id"), col("id").as("seed"), lit(1L).as("sigma"))))
    var settled = levels.head.select(col("id"), col("seed"))
    for (_ <- 1 to rounds) {
      val prev = levels.last
      val pulled = e.join(prev, col("src") === col("id"))
        .groupBy(col("dst"), col("seed"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("dst").as("id"), col("seed"), col("sigma"))
      val fresh = graft.Checkpoints.materialize(pulled
        .join(settled, Seq("id", "seed"), "left_anti"))
      levels = levels :+ fresh
      settled = settled.unionByName(fresh.select(col("id"), col("seed")))
    }
    // backward: δ per level, deepest first (level `rounds` has δ = 0)
    var deltaNext: DataFrame = levels.last
      .select(col("id"), col("seed"), lit(0.0).as("delta"))
    val acc = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (l <- (rounds - 1) to 0 by -1) {
      val cur = levels(l)
      val succ = levels(l + 1)
        .select(col("id").as("wid"), col("seed").as("wseed"),
          col("sigma").as("wsigma"))
      val dw = deltaNext
        .select(col("id").as("dwid"), col("seed").as("dwseed"),
          col("delta").as("wdelta"))
      val d = graft.Checkpoints.materialize(cur
        .join(e, col("id") === col("src"))
        .join(succ, col("dst") === col("wid") && col("seed") === col("wseed"))
        .join(dw, col("wid") === col("dwid") && col("seed") === col("dwseed"),
          "left")
        .groupBy(col("id"), col("seed"))
        .agg(coalesce(sum(
          round(col("sigma") / col("wsigma").cast("double")
            * (lit(1.0) + coalesce(col("wdelta"), lit(0.0))), 12)
            .cast(DecimalType(38, 12))), lit(0).cast(DecimalType(38, 12)))
          .cast("double").as("delta")))
      acc += d
      deltaNext = d
    }
    val verts = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
    val all = acc.reduce(_ unionByName _)
      .filter(col("id") =!= col("seed"))
      .groupBy(col("id"))
      .agg(sum(col("delta").cast(DecimalType(38, 12))).as("bcd"))
    val out = verts.join(all, Seq("id"), "left")
      .select(col("id"),
        round(coalesce(col("bcd").cast("double"), lit(0.0)), 6).as("betweenness"))
    e.unpersist(blocking = false)
    out
  }
}
