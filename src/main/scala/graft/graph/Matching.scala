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
  * (host level): the per-round vertex frames are broadcast into the
  * edge joins while they fit Spark's broadcast threshold
  * (graft.Broadcasts, decided once per run), and shuffle-joined past
  * it. The rounds run on [[graft.Checkpoints.iterate]] over the matched
  * vertex set; the census rows are literals, so no old round is read.
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
    // every vertex frame of the run (matched ids, per-vertex minimum
    // edges) has at most 2·|e0| rows, each narrower than an e0 row: one
    // count decides the broadcasts of all rounds
    val hint: DataFrame => DataFrame =
      if (graft.Broadcasts.fitsRows(e0, 2 * e0.count())) broadcast else identity
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val none = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", StringType))))
    var nMatched = 0L
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // the round's (free edges, selected edges) checkpoints: read by the
    // step's plan and the census, then freed
    var round = (none, none)
    def census(matched: DataFrame): Boolean = {
      val (free, sel) = round
      val nSel = sel.count()
      nMatched += nSel
      out += spark.range(1).select(lit(out.size + 1).as("round"),
        lit(nSel).as("n_selected"), lit(nMatched).as("n_matched"),
        lit(free.count()).as("candidate_edges"))
      graft.Checkpoints.free(free)
      graft.Checkpoints.free(sel)
      false
    }
    graft.Checkpoints.iterate(none, rounds, census) { matchedVerts =>
      // free edges: neither endpoint matched
      val free = graft.Checkpoints.materialize(
        e0.join(hint(matchedVerts), col("u") === col("id"), "left_anti")
          .join(hint(matchedVerts), col("v") === col("id"), "left_anti"))
      val vm = free.select(col("u").as("id"), col("eh"))
        .unionAll(free.select(col("v").as("id"), col("eh")))
        .groupBy(col("id")).agg(min(col("eh")).as("me"))
      val sel = graft.Checkpoints.materialize(
        free
          .join(hint(vm.select(col("id").as("u"), col("me").as("mu"))), "u")
          .join(hint(vm.select(col("id").as("v"), col("me").as("mv"))), "v")
          .filter(col("eh") === col("mu") && col("eh") === col("mv"))
          .select(col("u"), col("v")))
      round = (free, sel)
      sel.select(col("u").as("id"))
        .unionAll(sel.select(col("v").as("id")))
        .unionAll(matchedVerts)
    }
    out.reduce(_ unionAll _).orderBy(col("round"))
  }
}
