package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.MathFunctions.dec12

/** SALSA — the Stochastic Approach for Link-Structure Analysis (Lempel
  * & Moran, WWW'00): HITS's mutual-reinforcement loop with the raw
  * sums replaced by DEGREE-NORMALIZED random-walk steps, which is what
  * kills HITS's topic-drift/TKC effect — a tightly-knit community
  * can't absorb all the score mass because every hop divides by
  * degree. Per round (HITS's auth-then-hub sequencing):
  *
  *   a'(a) = Σ_{s→a} h(s)/d_out(s)     (backward half-step)
  *   h'(s) = Σ_{s→a} a'(a)/d_in(a)     (forward half-step)
  *
  * from h ≡ 1; the stationary point per connected support component is
  * the Lempel–Moran closed form (auth ∝ in-degree within component).
  * Output L1-normalized after `iters` rounds, replayable by the
  * unrolled DuckDB oracle.
  *
  * Scale posture (Hits.run's audit, plus the degree annotation):
  *  - vertex ids map once to 8-byte surrogates (LinkRank.vmapFor);
  *  - the edge side is cached TWICE with its loop-invariant degree
  *    weight already joined on (by-src with d_out, by-dst with d_in) —
  *    iterations shuffle only per-vertex score frames, never edges or
  *    degree frames;
  *  - each neighbor sum grids its terms round(,12) and accumulates as
  *    DECIMAL(38,12) (the q261 association-free discipline), so the
  *    shuffle order of a 100 TB exchange cannot move a bit;
  *  - state is checkpoint-rotated (one live snapshot), the final
  *    normalizers are 1-row broadcasts.
  */
object Salsa {

  /** @return (id, auth, hub) — L1-normalized after `iters` rounds. */
  def run(spark: SparkSession, edges: DataFrame, iters: Int = 5,
          cacheKey: Option[String] = None): DataFrame = {
    val ids = WebGraph.vertices(edges)
    val (vmap, verts) = LinkRank.vmapAndVerts(spark, ids, cacheKey)
    def mapped: DataFrame = VertexLoop.vidEdges(edges, vmap).select(col("svid"), col("dvid"))
    def cache(df: DataFrame, key: String): DataFrame = cacheKey match {
      case Some(k) => graft.SessionCache.cached(spark, s"salsa-$key:$k")(df)
      case None => graft.Checkpoints.cache(df)
    }
    val dout = mapped.groupBy(col("svid")).agg(count(lit(1)).as("od"))
    val din = mapped.groupBy(col("dvid")).agg(count(lit(1)).as("idg"))
    val eS = cache(mapped.join(dout, "svid").repartition(col("svid")), "es")
    val eD = cache(mapped.join(din, "dvid").repartition(col("dvid")), "ed")

    var hub = graft.Checkpoints.materialize(verts.select(col("vid"), lit(1.0).as("h")))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      val ra = verts
        .join(eS.join(hub, col("svid") === col("vid")).drop("vid")
            .groupBy(col("dvid")).agg(dec12(col("h") / col("od")).as("a")),
          col("vid") === col("dvid"), "left")
        .select(col("vid"), coalesce(col("a"), lit(0.0)).as("a"))
      auth = if (auth == null) graft.Checkpoints.materialize(ra)
             else graft.Checkpoints.rotate(ra, auth)
      val rh = verts
        .join(eD.join(auth, col("dvid") === col("vid")).drop("vid")
            .groupBy(col("svid")).agg(dec12(col("a") / col("idg")).as("h")),
          col("vid") === col("svid"), "left")
        .select(col("vid"), coalesce(col("h"), lit(0.0)).as("h"))
      hub = graft.Checkpoints.rotate(rh, hub)
    }
    val an = auth.crossJoin(broadcast(auth.agg(sum(col("a")).as("s"))))
      .select(col("vid"), (col("a") / col("s")).as("auth"))
    val hn = hub.crossJoin(broadcast(hub.agg(sum(col("h")).as("s"))))
      .select(col("vid"), (col("h") / col("s")).as("hub"))
    val out = an.join(hn, "vid").join(vmap, "vid")
      .select(col("id"), col("auth"), col("hub"))
    if (cacheKey.isEmpty) { eS.unpersist(); eD.unpersist() }
    out
  }
}
