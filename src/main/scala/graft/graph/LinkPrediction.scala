package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Neighborhood-overlap link prediction over an undirected graph:
  * for every NON-adjacent vertex pair sharing at least one neighbor,
  * the common-neighbor count and the Adamic–Adar score
  * Σ_{w ∈ N(a)∩N(b)} 1/ln(deg(w)) (Adamic & Adar, "Friends and
  * neighbors on the Web", Social Networks 2003) — the classic
  * "which edge appears next" signal a crawl scheduler or
  * recommendation layer reads off the host graph.
  *
  * Scale shape: candidate pairs come from WEDGE enumeration (two hops
  * through a shared neighbor w), never an all-pairs join — the same
  * bucketing argument as the triangle engine: work is Σ_w deg(w)²,
  * bounded on real graphs by capping hub degrees (drop w above a
  * degree cap: a w adjacent to everything scores ~1/ln(huge) per pair
  * and adds quadratic work for near-zero signal — the standard
  * Adamic–Adar practicality cut). Every common neighbor w has
  * deg(w) ≥ 2 by construction, so 1/ln(deg) is finite. Existing edges
  * are removed with one anti-join against the edge frame. All
  * exchanges carry (pair, partial-sum) rows.
  */
object LinkPrediction {

  /** Adamic–Adar + common-neighbor counts for every pair of
    * `edges(src, dst)` sharing ≥1 neighbor, hub wedges dropped above
    * `degreeCap` (≤ 0 disables the cap). Scores round(,6)-gridded.
    * Returns (a, b, common, aa_score, is_new) with a < b: `is_new`
    * pairs are non-adjacent (the link PREDICTIONS); adjacent pairs
    * carry the same score as existing-tie strength (triadic-closure
    * support) — on dense graphs where every wedge closes, predictions
    * may be empty while tie strengths never are. */
  def adamicAdar(edges: DataFrame, degreeCap: Int = 0): DataFrame = {
    val und0 = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionAll(edges.select(col("dst").as("a"), col("src").as("b")))
      .filter(col("a") =!= col("b")).distinct()
    // 8-byte surrogate ids (the LinkRank/Hits convention): the Σdeg²
    // wedge stream then expands, hashes, and aggregates on long pairs
    // instead of string pairs — the map back happens on the ≤|pairs|
    // aggregated frame only. Pair canonicalization runs on vids
    // (each unordered pair generated once); the FINAL a<b ordering is
    // re-established on the original ids after the map-back.
    val vmap = LinkRank.vmapFor(edges.sparkSession,
      und0.select(col("a").as("id")).distinct(), None)
    val und = graft.Checkpoints.cache(
      VertexLoop.vidEdges(und0.select(col("a").as("src"), col("b").as("dst")), vmap)
        .select(col("svid").as("a"), col("dvid").as("b")))
    val deg = und.groupBy(col("a").as("w")).agg(count(lit(1)).as("deg"))
    val capped = if (degreeCap > 0) deg.filter(col("deg") <= degreeCap) else deg
    // the wedge center's score term rides the NEIGHBOR-LIST rows (one
    // join on the |E|-sized frame) so the Σdeg² wedge stream is pure
    // codegen expansion — joining deg after the fan-out would drag
    // every wedge row through an extra shuffle.
    // Exactness: each term is round(,12)-gridded then carried as a
    // scaled int64 (term·10¹²) — integer partial sums are
    // association-free like the decimal-sum convention but cost a
    // plain long add per wedge row instead of a BigDecimal; per-pair
    // totals stay ≤ deg·1.45e12 ≪ 2⁶³. The oracle's
    // DECIMAL(38,12) Σ of the same gridded terms is the identical
    // rational k·10⁻¹², so cast-to-double and round(6) agree exactly.
    val termInt = round(round(lit(1.0) / log(col("deg").cast("double")), 12)
      * lit(1e12), 0).cast("long")
    val nb = und.select(col("a").as("w"), col("b").as("x"))
      .join(capped.select(col("w"), termInt.as("ti")), "w")
    val wedges = nb.select(col("w"), col("x").as("pa"), col("ti"))
      .join(nb.select(col("w"), col("x").as("pb")), "w")
      .filter(col("pa") < col("pb"))
    val adj = und.filter(col("a") < col("b"))
      .select(col("a").as("pa"), col("b").as("pb"), lit(true).as("adjacent"))
    // aggregate the wedge stream FIRST: partial agg collapses the
    // Σdeg² wedge rows map-side to ≤|pairs| rows per task, so the
    // adjacency join touches only the aggregated pair frame
    val scored = wedges
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("common"), sum(col("ti")).as("ti_sum"))
      .join(adj, Seq("pa", "pb"), "left")
      .join(vmap.select(col("vid").as("pa"), col("id").as("ia")), "pa")
      .join(vmap.select(col("vid").as("pb"), col("id").as("ib")), "pb")
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"), col("common"),
        round(col("ti_sum").cast("double") / lit(1e12), 6).as("aa_score"),
        coalesce(!col("adjacent"), lit(true)).as("is_new"))
    und.unpersist(blocking = false)
    scored
  }
}
