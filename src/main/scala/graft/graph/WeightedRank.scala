package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Weighted damped rank over a weighted edge frame — [[LinkRank]]'s
  * generalization from uniform 1/out-degree transitions to
  * weight-proportional ones (contribution = score · w / Σw_out): the
  * rank a crawl graph wants when duplicate raw links are evidence of
  * endorsement STRENGTH rather than noise to dedupe away. The
  * reference has no weighted counterpart (its
  * `removeDuplicateLinks`, LinkRankComputation.java:304-340, erases
  * multiplicity); this keeps the reference's damping/dangling
  * semantics while letting the caller supply any weight column.
  *
  * Scale shape (the LinkRank audit carries over verbatim): 8-byte
  * surrogate ids via [[LinkRank.vmapFor]]; the loop-invariant edge
  * side (svid, dvid, p) is hash-partitioned ONCE on svid and every
  * iteration shuffles only the 8-byte score frame; each round is
  * [[LinkRank.dampedStep]] under [[VertexLoop.iterate]].
  * Raw damped scores are returned (no CDF normalization) — weighted
  * rank is an analytics signal, not the reference's 0–10 UI scale.
  */
object WeightedRank {

  /** @param wedges (src, dst, w) — directed weighted edges (w > 0).
    * @param init   (id, score) — starting scores over the vertex set.
    * @return (id, score) raw damped iterate after `iters` updates. */
  def run(spark: SparkSession, wedges: DataFrame, init: DataFrame,
          iters: Int = 9, damping: Double = 0.85,
          cacheKey: Option[String] = None): DataFrame = {
    val sw = wedges.groupBy(col("src")).agg(sum(col("w")).as("sw"))
    val vmap = LinkRank.vmapFor(spark, init.select(col("id")),
      cacheKey.map(k => s"w:$k"))

    def buildEdgeSide: DataFrame = VertexLoop.vidEdges(wedges.join(sw, "src"), vmap)
      .select(col("svid"), col("dvid"),
        (col("w").cast("double") / col("sw")).as("p"))
      .repartition(col("svid"))
      .localCheckpoint()
    val eod = cacheKey match {
      case Some(k) => graft.SessionCache.cached(spark, s"wrank-eod:$k")(buildEdgeSide)
      case None => buildEdgeSide
    }

    val base = init
      .join(sw.withColumnRenamed("src", "id"), Seq("id"), "left")
      .join(vmap, "id")
      .select(col("vid"), col("score"), col("sw").isNull.as("dangling"))
      .repartition(col("vid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = base.count().toDouble

    val (ranks, _) = VertexLoop.iterate(base, iters) { ranks =>
      LinkRank.dampedStep(ranks, eod, damping, col("score") * col("p"),
        lit((1.0 - damping) / n), col("ds") / lit(n)) { s =>
        Seq(col("vid"), col("dangling"), s.as("score"))
      }
    }
    val out = LinkRank.release(spark, ranks, vmap, eod, cacheKey)
    if (cacheKey.isEmpty) graft.Checkpoints.free(eod) // a checkpoint, not a cache
    out
  }
}
