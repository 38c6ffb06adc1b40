package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-vertex triangle counting + local clustering coefficient over an
  * arbitrary directed edge frame (direction and duplicates are
  * canonicalized away; self-loops dropped).
  *
  * Shape: each undirected edge is oriented once as (u < v), so every
  * triangle is enumerated exactly once as a < b < c by two equi-joins
  * whose BOTH sides already carry the orientation — the wedge frame is
  * Σ_v lower(v)·higher(v) rows (not deg²) and needs no dedup or /6
  * correction. With `broadcastEdges` the wedge frame is generated and
  * closed map-side (right for bounded graphs like host graphs); without
  * it the same plan runs as shuffle joins (right when the edge set
  * outgrows a broadcast). At 100 TB add degree-descending relabeling so
  * hubs sit on the `lower` side — the same skew lever as an LSH bucket
  * cap.
  */
object Triangles {

  /** (id, degree, n_triangles, clustering) per vertex of the
    * canonicalized graph. `edges` must expose `src`/`dst` columns.
    *
    * `broadcastEdges` defaults FALSE: the shuffle-join plan is safe at
    * any edge-set size, so an unknowing caller on a page-scale graph
    * cannot inherit a broadcast OOM. Pass `true` when the canonical
    * edge set is known-bounded (host graphs, sampled subgraphs) — the
    * wedge generation and closure then run map-side. */
  def run(edges: DataFrame, broadcastEdges: Boolean = false,
          maxBroadcastEdges: Long = CoCitation.BroadcastMaxEdges): DataFrame = {
    val und = graft.Checkpoints.cache(edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    // SIZE-GATED even when the caller asks (r12, q308's discipline): a
    // caller's "known-bounded" claim is not a plan property — past
    // maxBroadcastEdges (default CoCitation.BroadcastMaxEdges) the joins
    // fall back to the planner's shuffle strategy instead of an
    // executor-OOM broadcast. The frame is cached, so the gate count
    // doubles as its materialization.
    val hint = if (broadcastEdges && und.count() <= maxBroadcastEdges)
                 (df: DataFrame) => broadcast(df)
               else (df: DataFrame) => df
    val e1 = und.select(col("u").as("a"), col("v").as("b"))
    val e2 = und.select(col("u").as("b"), col("v").as("c"))
    val e3 = und.select(col("u").as("a"), col("v").as("c"))
    val tri = e1.join(hint(e2), "b").join(hint(e3), Seq("a", "c"))
    val perVertex = tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_triangles"))
    val deg = und.select(col("u").as("id")).unionAll(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    deg.join(perVertex, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(when(col("degree") >= 2,
          lit(2.0) * coalesce(col("n_triangles"), lit(0L))
            / (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)), 6).as("clustering"))
  }
}
