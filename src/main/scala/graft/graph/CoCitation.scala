package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Co-citation / bibliographic-coupling pair counts over a directed
  * graph — the classic shared-neighborhood similarity signals (Small
  * 1973; Kessler 1963) that sit under SALSA-style link analysis: the
  * reference's computations rank single vertices
  * (LinkRankComputation.java:192-296), this scores PAIRS by how much
  * of their neighborhood they share.
  *
  *  - cocitation(a,b) = |{s : s→a ∧ s→b}| — shared citers
  *  - coupling(a,b)   = |{t : a→t ∧ b→t}| — shared citations
  *
  * Shape for 100 TB: vertex ids map once to 8-byte surrogate vids
  * (LinkRank.vmapFor — the session-shared rank-family map), both wedge
  * streams are generated by a self-join of the edge frame (broadcast
  * while it fits the threshold, graft.Broadcasts) and collapse
  * map-side (hash partial agg) into distinct-pair counts, so a wedge
  * row never rides an exchange (q55/q79's discipline); pair
  * canonicalization runs on vids (each unordered pair generated once)
  * and the final a < b ordering is re-established on the original ids
  * after the map-back (against the id map, broadcast only while
  * LinkRank.vmapFor finds it small), which touches only the ≤|pairs|
  * aggregated frame. `degreeCap > 0` drops super-hub wedge centers
  * BEFORE the quadratic fan-out (a degree-d center emits d² wedges and
  * near-zero pair signal at web scale); ≤0 disables the cap on bounded
  * projections like the 200-host fixture graph. */
object CoCitation {

  /** (a, b, cocitation, coupling) for every a < b pair sharing ≥1
    * citer OR ≥1 citation — a FULL OUTER merge of the two wedge
    * streams (r10; the r9 left join silently dropped
    * coupled-but-never-co-cited pairs while the combined schema
    * invited reading `coupling` as complete). Both counts coalesce
    * to 0. */
  def run(spark: SparkSession, edges: DataFrame, degreeCap: Int = 0,
          cacheKey: Option[String] = None): DataFrame = {
    val vmap = LinkRank.vmapFor(spark, WebGraph.vertices(edges), cacheKey)
    val e = graft.Checkpoints.materialize(VertexLoop.vidEdges(edges, vmap)
      .select(col("svid").as("vs"), col("dvid").as("vd")))
    // eager checkpoint ⇒ the count is a cheap block scan; the wedge
    // self-join broadcasts only while the frame fits the threshold
    val maybeBroadcast = graft.Broadcasts.hint(e)
    def capped(center: String): DataFrame = if (degreeCap > 0) {
      val keep = e.groupBy(col(center)).agg(count(lit(1)).as("deg"))
        .filter(col("deg") <= degreeCap).select(col(center))
      e.join(keep, center)
    } else e
    def wedgePairs(frame: DataFrame, center: String, leaf: String,
                   out: String): DataFrame =
      frame.select(col(center), col(leaf).as("pa"))
        .join(maybeBroadcast(frame.select(col(center), col(leaf).as("pb"))), center)
        .filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as(out))
    val cocite = wedgePairs(capped("vs"), "vs", "vd", "cocitation")
    val couple = wedgePairs(capped("vd"), "vd", "vs", "coupling")
    cocite.join(couple, Seq("pa", "pb"), "full_outer")
      .join(vmap.select(col("vid").as("pa"), col("id").as("ia")), "pa")
      .join(vmap.select(col("vid").as("pb"), col("id").as("ib")), "pb")
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"),
        coalesce(col("cocitation"), lit(0L)).as("cocitation"),
        coalesce(col("coupling"), lit(0L)).as("coupling"))
  }
}
