package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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
  *  - each half-step's raw sums are checkpoint-rotated (one live
  *    snapshot) and the L1 normalizer rides a broadcast 1-row
  *    aggregate of that materialized snapshot — no driver round-trip
  *    inside the loop.
  */
object Hits {

  /** @return (id, auth, hub) — sum-normalized scores after `iters`
    *         full (auth then hub) update rounds from hub ≡ 1. */
  def run(spark: SparkSession, edges: DataFrame, iters: Int = 5,
          cacheKey: Option[String] = None): DataFrame = {
    val ids = WebGraph.vertices(edges)
    val vmap = LinkRank.vmapFor(spark, ids, cacheKey)
    def mapped: DataFrame = VertexLoop.vidEdges(edges, vmap).select(col("svid"), col("dvid"))
    def cache(df: DataFrame, key: String): DataFrame = cacheKey match {
      case Some(k) => graft.SessionCache.cached(spark, s"hits-$key:$k")(df)
      case None => df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    val eS = cache(mapped.repartition(col("svid")), "es")
    val eD = cache(mapped.repartition(col("dvid")), "ed")
    val verts = vmap.select(col("vid"))

    // state: raw (pre-normalization) per-vertex sums; the normalizer is
    // folded in where the frame is consumed, same association as the
    // oracle's `a / (SELECT sum(a) FROM af_k)`
    var hubRaw = verts.select(col("vid"), lit(1.0).as("h")).localCheckpoint()
    var authNorm: DataFrame = null
    var authRaw: DataFrame = null
    def normalized(raw: DataFrame, c: String): DataFrame = {
      val s = raw.agg(sum(col(c)).as("s"))
      raw.crossJoin(broadcast(s)).select(col("vid"), (col(c) / col("s")).as(c))
    }
    for (_ <- 1 to iters) {
      val hn = normalized(hubRaw, "h")
      val ra = verts
        .join(eS.join(hn, col("svid") === col("vid")).drop("vid")
            .groupBy(col("dvid")).agg(sum(col("h")).as("a")),
          col("vid") === col("dvid"), "left")
        .select(col("vid"), coalesce(col("a"), lit(0.0)).as("a"))
      authRaw =
        if (authRaw == null) ra.localCheckpoint()
        else graft.Checkpoints.rotate(ra, authRaw)
      val an = normalized(authRaw, "a")
      val rh = verts
        .join(eD.join(an, col("dvid") === col("vid")).drop("vid")
            .groupBy(col("svid")).agg(sum(col("a")).as("h")),
          col("vid") === col("svid"), "left")
        .select(col("vid"), coalesce(col("h"), lit(0.0)).as("h"))
      hubRaw = graft.Checkpoints.rotate(rh, hubRaw)
      authNorm = an
    }
    val out = authNorm.withColumnRenamed("a", "auth")
      .join(hubRaw.crossJoin(broadcast(hubRaw.agg(sum(col("h")).as("s"))))
          .select(col("vid"), (col("h") / col("s")).as("hub")),
        "vid")
      .join(vmap, "vid")
      .select(col("id"), col("auth"), col("hub"))
    graft.Checkpoints.deferFree(authRaw)
    graft.Checkpoints.deferFree(hubRaw)
    if (cacheKey.isEmpty) {
      eS.unpersist(); eD.unpersist()
      graft.Checkpoints.deferCleanup(spark)(() => graft.Checkpoints.free(vmap))
    }
    out
  }
}
