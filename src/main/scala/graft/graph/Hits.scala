package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HITS hubs & authorities (Kleinberg, JACM'99) — the second classic
  * link-analysis family next to the reference's PageRank variants: a
  * page is a good AUTHORITY if good hubs point at it, a good HUB if it
  * points at good authorities. Sum-normalized (L1) variant so every
  * step is plain ±×÷ over doubles — deterministically replayable by
  * the unrolled DuckDB oracle, like the LinkRank chain.
  *
  * Scale posture (the LinkRank audit applied to a push-pull loop):
  *  - vertex ids map once to 8-byte surrogates (LinkRank.vmapFor — the
  *    shared per-graph mapping when `cacheKey` is set), so the 2·iters
  *    shuffles carry long keys, not URL strings;
  *  - the edge side is cached TWICE, partitioned by src and by dst:
  *    the auth step joins hubs on src, the hub step joins auths on dst
  *    — each iteration shuffles only the per-vertex score frames,
  *    never the edge table;
  *  - each half-step is one round of [[graft.Checkpoints.iterate]] over
  *    the raw sums (one live snapshot; the state carries one score, so
  *    the preserved side of a half-step's left join shuffles ids only),
  *    and the L1 normalizer rides a broadcast 1-row aggregate of that
  *    snapshot — no driver round-trip inside the loop.
  */
object Hits {

  /** @return (id, auth, hub) — sum-normalized scores after `iters`
    *         full (auth then hub) update rounds from hub ≡ 1. */
  def run(spark: SparkSession, edges: DataFrame, iters: Int = 5,
          cacheKey: Option[String] = None): DataFrame = {
    val ids = WebGraph.vertices(edges)
    val (vmap, verts) = LinkRank.vmapAndVerts(spark, ids, cacheKey)
    def mapped: DataFrame = VertexLoop.vidEdges(edges, vmap).select(col("svid"), col("dvid"))
    def cache(df: DataFrame, key: String): DataFrame = cacheKey match {
      case Some(k) => graft.SessionCache.cached(spark, s"hits-$key:$k")(df)
      case None => graft.Checkpoints.cache(df)
    }
    val eS = cache(mapped.repartition(col("svid")), "es")
    val eD = cache(mapped.repartition(col("dvid")), "ed")

    // state: raw (pre-normalization) per-vertex sums, one half-step per
    // loop round (auths from hubs, then hubs from auths); the normalizer
    // is folded in where a sum is consumed, same association as the
    // oracle's `a / (SELECT sum(a) FROM af_k)`
    def normalized(raw: DataFrame, c: String): DataFrame = {
      val s = raw.agg(sum(col(c)).as("s"))
      raw.crossJoin(broadcast(s)).select(col("vid"), (col(c) / col("s")).as(c))
    }
    def half(st: DataFrame, e: DataFrame, from: String, to: String,
             in: String, out: String): DataFrame =
      verts
        .join(e.join(normalized(st, in), col(from) === col("vid")).drop("vid")
            .groupBy(col(to)).agg(sum(col(in)).as(out)),
          col("vid") === col(to), "left")
        .select(col("vid"), coalesce(col(out), lit(0.0)).as(out))
    require(iters > 0, s"iters must be positive, got $iters")
    // the state holds hub sums `h` or auth sums `a`; the loop ends on
    // the last auth half-step, so its snapshot stays live beside the
    // last hubs, checkpointed after it
    val (authRaw, _) = graft.Checkpoints.iterate(
        verts.select(col("vid"), lit(1.0).as("h")), 2 * iters - 1) { st =>
      if (st.columns.contains("h")) half(st, eS, "svid", "dvid", "h", "a")
      else half(st, eD, "dvid", "svid", "a", "h")
    }
    val hubRaw = graft.Checkpoints.materialize(half(authRaw, eD, "dvid", "svid", "a", "h"))
    val out = normalized(authRaw, "a").withColumnRenamed("a", "auth")
      .join(normalized(hubRaw, "h").withColumnRenamed("h", "hub"), "vid")
      .join(vmap, "vid")
      .select(col("id"), col("auth"), col("hub"))
    if (cacheKey.isEmpty) { eS.unpersist(); eD.unpersist() }
    out
  }
}
