package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed greedy maximal matching (q214's engine) — the
  * local-minimum-edge rule (Israeli–Itai shape): each round every free
  * vertex nominates its minimum-hash incident edge, edges nominated by
  * BOTH endpoints enter the matching, matched vertices leave. A
  * constant fraction of edges drops per round in expectation, so a
  * fixed small round budget reaches maximality on bounded graphs (the
  * census reports the remaining candidate edges per round — 0 means
  * maximal, proven, not assumed).
  *
  * Edge priorities are portable md5 hashes, so reruns AND the DuckDB
  * oracle replay the identical matching. Intended for bounded graphs
  * (host level): per-round vertex frames broadcast into the edge
  * anti-joins.
  */
object Matching {

  /** (round, n_selected, n_matched, candidate_edges) per round. */
  def run(edges: DataFrame, src: Column, dst: Column, rounds: Int): DataFrame = {
    val e0 = graft.Checkpoints.materialize(edges.select(
        least(src, dst).as("u"), greatest(src, dst).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .select(col("u"), col("v"),
        graft.functions.MathFunctions.hash32(
          concat(col("u"), lit("|"), col("v"))).as("eh")))
    val spark = edges.sparkSession
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    var matchedVerts = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", StringType))))
    var nMatched = 0L
    var out: Seq[DataFrame] = Nil
    for (r <- 1 to rounds) {
      // free edges: neither endpoint matched (vertex frames are
      // O(vertices of a bounded graph) — broadcast anti-joins)
      val free = graft.Checkpoints.materialize(
        e0.join(broadcast(matchedVerts), col("u") === col("id"), "left_anti")
          .join(broadcast(matchedVerts), col("v") === col("id"), "left_anti"))
      val vm = free.select(col("u").as("id"), col("eh"))
        .unionAll(free.select(col("v").as("id"), col("eh")))
        .groupBy(col("id")).agg(min(col("eh")).as("me"))
      val sel = graft.Checkpoints.materialize(
        free
          .join(broadcast(vm.select(col("id").as("u"), col("me").as("mu"))), "u")
          .join(broadcast(vm.select(col("id").as("v"), col("me").as("mv"))), "v")
          .filter(col("eh") === col("mu") && col("eh") === col("mv"))
          .select(col("u"), col("v")))
      val nSel = sel.count()
      val nFree = free.count()
      nMatched += nSel
      out = out :+ spark.range(1).select(lit(r).as("round"),
        lit(nSel).as("n_selected"), lit(nMatched).as("n_matched"),
        lit(nFree).as("candidate_edges"))
      matchedVerts = graft.Checkpoints.materialize(sel.select(col("u").as("id"))
        .unionAll(sel.select(col("v").as("id")))
        .unionAll(matchedVerts))
    }
    out.reduce(_ unionAll _).orderBy(col("round"))
  }
}
