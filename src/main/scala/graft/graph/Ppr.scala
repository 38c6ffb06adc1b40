package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Personalized PageRank (random walk with restart) on DataFrames —
  * the seed-centric member of the rank family next to LinkRank's
  * global walk and TrustRank's trusted-dangling variant
  * (LinkRankComputation.java:192-296 is the shared update skeleton;
  * the reference itself has no PPR, but a trust pipeline asks this
  * exact question: "how close is every page to THIS seed set?").
  *
  * Update rule (restart vector r, r_i = 1/|S| on seeds, 0 elsewhere):
  *   v' = (1-d)·r + d·(Σ_{w→v} v_w/outdeg(w) + D·r)
  * where D = dangling mass of the previous step — dangling walkers
  * restart by r, so Σv stays exactly 1 every round and the scores are
  * probabilities (visit rates of the restarting walk), not the
  * [0,scale] CDF grid of LinkRank.
  *
  * Scale posture: identical to LinkRank (shared code) — the CSR edge
  * side ([[LinkRank.csrFor]]) is built once per graph and
  * SessionCache-shared with LinkRank/TrustRank loops on the same
  * graph; each round is one [[DampedRank]] job with r as the personal
  * weight.
  *
  * Float-grid caveat (the LinkRank convention, accepted here too): the
  * per-round contribution sum runs in IEEE double with
  * partition-dependent association, so the oracle equality of the
  * round(,6)-gridded output relies on no score landing exactly on a
  * grid boundary — true for the benchmarked fixtures, same posture as
  * the q01/q02 loops this code shares its edge side with. The
  * scaled-int64 alternative (grid each edge contribution at 12 places,
  * decimal-sum — LinkPrediction's trick) is available if a fixture ever
  * hits the boundary.
  */
object Ppr {

  /** @param seeds one-column (id) frame, the restart set S.
    * @return (id, score) — raw PPR probabilities, Σ = 1, unrounded. */
  def run(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
          iters: Int = 6, damping: Double = 0.85,
          cacheKey: Option[String] = None): DataFrame = {
    val vmap = LinkRank.vmapFor(spark, WebGraph.vertices(edges), cacheKey)
    val csr = LinkRank.csrFor(spark, edges, vmap, cacheKey)

    // |S| as a driver scalar; seeds outside the graph's vertex set are
    // ignored by the join.
    val seedVids = seeds.select(col("id")).distinct().join(vmap, "id")
      .select(col("vid").as("svid_seed"))
    val ns = seedVids.count()
    require(ns > 0, s"Ppr.run: empty seed set (no seed id is a graph vertex)")

    // the restart vector r is both the initial score and the personal
    // weight: teleport (1-d)·r_v, dangling share r_v
    val r = when(col("svid_seed").isNotNull, lit(1.0 / ns)).otherwise(lit(0.0))
    val state = vmap.join(seedVids, col("vid") === col("svid_seed"), "left")
      .select(col("vid"), r.as("score"), r.as("p"))
    val run = DampedRank.run(csr, state, damping, iters)(_ =>
      DampedRank.Restart(0.0, 1.0 - damping, 0.0, 1.0))()
    if (cacheKey.isEmpty) csr.unpersist(blocking = false)
    LinkRank.release(spark, run, vmap, cacheKey)
  }
}
