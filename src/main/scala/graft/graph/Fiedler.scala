package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.MathFunctions.dsum

/** Fiedler-vector spectral bipartition over an arbitrary edge frame
  * (q209's engine; direction and duplicates are canonicalized away,
  * self-loops dropped). Power iteration on the shifted Laplacian
  * M = cI − L with per-round all-ones deflation; per round the
  * Rayleigh λ₂ estimate and the sign-cut census.
  *
  * Intended for BOUNDED graphs (host graphs, sampled subgraphs): the
  * vertex-score frames are broadcast into the edge joins while they
  * fit Spark's broadcast threshold (graft.Broadcasts, decided once per
  * run), and shuffle-joined past it. See q209 for the full plan audit.
  * The rounds stay off [[graft.Checkpoints.iterate]]: the output's
  * per-round census rows read every round's checkpoints.
  */
object Fiedler {

  /** (round, lambda2, n_pos, n_neg, cut_edges, n_edges) per power
    * round. `edges` must expose the columns named by `src`/`dst`. */
  def run(edges: DataFrame, src: Column, dst: Column, rounds: Int): DataFrame = {
    val und = graft.Checkpoints.cache(edges.select(
        least(src, dst).as("u"), greatest(src, dst).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    val deg = und.select(col("u").as("id"))
      .unionAll(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    // Gershgorin: λ_max(L) ≤ 2·d_max, and λ_max ≥ d_max + 1 always —
    // so the shift must be 2·d_max + 1, not d_max + 1: a smaller c
    // leaves |c − λ_max| able to dominate |c − λ₂| and power iteration
    // converges to the WRONG END of the spectrum (caught by the
    // twin-clique facade test: a 2/4 cut instead of the 3/3 bridge cut)
    val cRow = deg.agg((lit(2L) * max(col("d")) + lit(1L)).cast("double").as("c"))
    // generic hash-valued start (NOT ±1 signs: on symmetric graphs a
    // sign vector can land exactly inside a high-multiplicity
    // eigenspace orthogonal to the Fiedler vector and the iteration
    // freezes there — caught by the twin-clique facade test)
    var v = deg.select(col("id"), col("d"),
      (pmod(graft.functions.MathFunctions.hash32(col("id")), lit(1000L))
        .cast("double") / lit(1000.0) - lit(0.5)).as("raw"))
    v = graft.Checkpoints.materialize(normalized(centered(v)))
    // every score frame of the run has v's rows and width: one count
    // decides the O(V) broadcasts of all rounds
    val hint = graft.Broadcasts.hint(v)
    var out: Seq[DataFrame] = Nil
    for (r <- 1 to rounds) {
      // a broadcast score frame attaches to both edge ends without
      // shuffling the edge side
      val av = und.join(hint(v.select(col("id").as("u"), col("x").as("xu"))), "u")
        .join(hint(v.select(col("id").as("v"), col("x").as("xv"))), "v")
        .select(explode(array(
          struct(col("u").as("id"), col("xv").as("nx")),
          struct(col("v").as("id"), col("xu").as("nx")))).as("e"))
        .select(col("e.id").as("id"), col("e.nx").as("nx"))
        .groupBy(col("id"))
        .agg(dsum(round(col("nx"), 6)).cast("double").as("av"))
      // y = c·v − d·v + A·v (M·v). Checkpointed immediately: the
      // round's mean/norm/Rayleigh/census jobs are each a separate
      // 1-row-aggregate action, and an unmaterialized y would re-run
      // the matvec (edge join + shuffle) once PER job — measured 5×
      // the shuffle budget. One matvec per round, read four times.
      val y = graft.Checkpoints.materialize(v.join(av, Seq("id"), "left")
        .crossJoin(broadcast(cRow))
        .select(col("id"), col("d"),
          round((col("c") - col("d")) * col("x") + coalesce(col("av"), lit(0.0)), 6)
            .as("raw")))
      val lam = v.join(hint(y.select(col("id"), col("raw").as("y"))), "id")
        .agg(dsum(round(col("x") * col("y"), 6)).cast("double").as("lam_m"))
        .crossJoin(broadcast(cRow))
        .select((col("c") - col("lam_m")).as("lambda2"))
      val vNext = graft.Checkpoints.materialize(normalized(centered(y)))
      val cut = und
        .join(hint(vNext.select(col("id").as("u"), col("x").as("xu"))), "u")
        .join(hint(vNext.select(col("id").as("v"), col("x").as("xv"))), "v")
        .agg(count(lit(1)).as("n_edges"),
          sum(when((col("xu") >= 0) =!= (col("xv") >= 0), 1L).otherwise(0L))
            .as("cut_edges"))
      val sizes = vNext.agg(
        sum(when(col("x") >= 0, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("x") < 0, 1L).otherwise(0L)).as("n_neg"))
      out = out :+ lam.crossJoin(broadcast(sizes)).crossJoin(broadcast(cut))
        .select(lit(r).as("round"), round(col("lambda2"), 6).as("lambda2"),
          col("n_pos"), col("n_neg"), col("cut_edges"), col("n_edges"))
      v = vNext
    }
    out.reduce(_ unionAll _).orderBy(col("round"))
  }

  /** Center to mean zero (deflate the all-ones eigenvector). */
  private def centered(v: DataFrame): DataFrame = {
    val mean = v.agg(
      (dsum(round(col("raw"), 6)).cast("double") / count(lit(1))).as("m"))
    v.crossJoin(broadcast(mean))
      .select(col("id"), col("d"), round(col("raw") - col("m"), 6).as("raw"))
  }

  /** Unit-normalize `raw` into `x` (1e-6 grid). */
  private def normalized(v: DataFrame): DataFrame = {
    val norm = v.agg(
      sqrt(dsum(round(col("raw") * col("raw"), 6)).cast("double")).as("nrm"))
    v.crossJoin(broadcast(norm))
      .select(col("id"), col("d"), round(col("raw") / col("nrm"), 6).as("x"))
  }
}
