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
  * correction. While the canonical edge set fits Spark's broadcast
  * threshold (graft.Broadcasts) the wedge frame is generated and
  * closed map-side (host graphs); past it the same plan runs as
  * shuffle joins. At 100 TB add degree-descending relabeling so
  * hubs sit on the `lower` side — the same skew lever as an LSH bucket
  * cap.
  */
object Triangles {

  /** (id, degree, n_triangles, clustering) per vertex of the
    * canonicalized graph. `edges` must expose `src`/`dst` columns. */
  def run(edges: DataFrame): DataFrame = {
    val und = graft.Checkpoints.cache(edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    // the frame is cached, so the gate's count doubles as its fill
    val hint = graft.Broadcasts.hint(und)
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
