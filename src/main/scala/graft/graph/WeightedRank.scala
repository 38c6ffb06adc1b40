package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * side carries w per edge and Σw_out per source in [[DampedRank]]'s
  * CSR partitions, built once, and each round is one [[DampedRank]] job.
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
    val vmap = LinkRank.vmapFor(spark, init.select(col("id")),
      cacheKey.map(k => s"w:$k"))
    // (svid, dvid, w): the kernel divides by Σw_out per source
    val csr = DampedRank.edgesFor(spark, cacheKey.map(k => s"wrank-eod:$k")) {
      VertexLoop.vidEdges(wedges, vmap, dstJoin = "left")
        .select(col("svid"), col("dvid"), col("w").cast("double"))
    }
    val state = init.join(vmap, "id").select(col("vid"), col("score").cast("double"))
    val run = DampedRank.run(csr, state, damping, iters) { first =>
      val n = first.n.toDouble
      DampedRank.Restart((1.0 - damping) / n, 0.0, 1.0 / n, 0.0)
    }()
    if (cacheKey.isEmpty) csr.unpersist(blocking = false)
    LinkRank.release(spark, run, vmap, cacheKey)
  }
}
