package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.MathFunctions.dec12

/** Katz centrality (Katz 1953) — the attenuated-path-count member of
  * the eigenvector family: x(v) counts ALL walks ending at v, a walk
  * of length k weighted α^k, via the truncated fixed-point iteration
  *
  *   x'(v) = β + α · Σ_{u→v} x(u),   β = 1, from x ≡ 1.
  *
  * Where PageRank (q01/q03) divides influence by the emitter's
  * out-degree and HITS/SALSA (q70/q276) mutually reinforce two roles,
  * Katz lets a prolific citer confer its full (attenuated) score on
  * every target — the classic status-index reading. `iters` rounds of
  * the recurrence ≡ the α-weighted walk census up to length `iters`,
  * replayable by the unrolled DuckDB oracle.
  *
  * Scale posture (Salsa.run's audit, minus the degree annotation):
  *  - vertex ids map once to 8-byte surrogates (LinkRank.vmapFor);
  *  - the edge frame is mapped/cached ONCE, pre-partitioned by dvid so
  *    every round's neighbor sum shuffles only the per-vertex score
  *    frame, never edges;
  *  - each neighbor sum grids its terms round(,12) and accumulates as
  *    DECIMAL(38,12) (the q261 association-free discipline);
  *  - rounds run through [[VertexLoop.iterate]]. */
object Katz {

  /** @return (id, katz) — raw truncated-Katz scores after `iters`
    *         rounds (β = 1). */
  def run(spark: SparkSession, edges: DataFrame, alpha: Double = 0.125,
          iters: Int = 5, cacheKey: Option[String] = None): DataFrame = {
    val (vmap, verts) = LinkRank.vmapAndVerts(spark, WebGraph.vertices(edges), cacheKey)
    def mapped: DataFrame = VertexLoop.vidEdges(edges, vmap).select(col("svid"), col("dvid"))
    val e = cacheKey match {
      case Some(k) =>
        graft.SessionCache.cached(spark, s"katz-e:$k")(mapped.repartition(col("dvid")))
      case None => graft.Checkpoints.cache(mapped.repartition(col("dvid")))
    }

    val (x, _) = VertexLoop.iterate(verts.select(col("vid"), lit(1.0).as("x")), iters) { x =>
      verts
        .join(e.join(x, col("svid") === col("vid")).drop("vid")
            .groupBy(col("dvid")).agg(dec12(col("x") * alpha).as("s")),
          col("vid") === col("dvid"), "left")
        .select(col("vid"), (lit(1.0) + coalesce(col("s"), lit(0.0))).as("x"))
    }
    val out = x.join(vmap, "vid").select(col("id"), col("x").as("katz"))
    if (cacheKey.isEmpty) e.unpersist()
    out
  }
}
