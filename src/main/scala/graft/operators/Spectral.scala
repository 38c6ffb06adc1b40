package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Caller-frame spectral engines: power-iteration PCA over any
  * (id, vector) frame (q205's machinery, the Glm.scala convention).
  */
object Spectral {

  /** 1e-6 grid by explicit floor — `floor(x*1e6 + 0.5)`, the q285
    * scaled-integer idiom. Spark's `round` and DuckDB's `round` can
    * disagree by one grid step when a product lands within an ulp of a
    * .5e-6 boundary (the r9 q205 half-ulp cell); `floor` of the SAME
    * double expression is deterministic on both engines, so the grid is
    * the operator's definition rather than an approximation of
    * decimal rounding. */
  private def g6(c: Column): Column = floor(c * lit(1e6) + lit(0.5))

  /** Σ over the 1e-6 grid, exact (DECIMAL(38,0) of integer-valued
    * terms — association-free), returned as double. */
  private def gsum(c: Column): Column =
    sum(g6(c).cast(DecimalType(38, 0))).cast("double") / lit(1e6)

  /** Top principal component of the uncentered second-moment matrix by
    * `rounds` power iterations; returns one row per round with the
    * Rayleigh eigenvalue estimate and explained-variance share. `dim`
    * is the (fixed) vector dimensionality. See q205 for the plan
    * audit — the matvec never materializes d×d. The rounds stay off
    * `Checkpoints.iterate`: the output's per-round rows read every
    * round's checkpoints. */
  def pcaTopComponent(vecs: DataFrame, id: Column, vec: Column,
                      dim: Int, rounds: Int): DataFrame = {
    val spark = vecs.sparkSession
    val exploded = graft.Checkpoints.materialize(
      vecs.select(id.as("vec_id"), vec.as("embedding"))
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "x")))
        .select(col("vec_id"), col("j"), col("x").cast("double").as("x")))
    val trace = exploded.agg(gsum(col("x") * col("x")).as("trace"))
    val v0 = 1.0 / math.sqrt(dim.toDouble)
    var v = spark.range(dim).select(col("id").cast("int").as("j"),
      lit(math.floor(v0 * 1e6 + 0.5) / 1e6).as("v"))
    var out: Seq[DataFrame] = Nil
    for (r <- 1 to rounds) {
      val dots = exploded.join(broadcast(v), "j")
        .groupBy(col("vec_id"))
        .agg(gsum(col("x") * col("v")).as("dot"))
      // checkpoint the matvec result: the Rayleigh row, the norm
      // broadcast, and the next round's v would otherwise each re-run
      // the two corpus-scale joins (the q151 union lesson)
      val y = graft.Checkpoints.materialize(exploded.join(dots, "vec_id")
        .groupBy(col("j"))
        .agg(gsum(col("x") * col("dot")).as("y")))
      val lamNorm = y.join(broadcast(v), "j")
        .agg(gsum(col("v") * col("y")).as("lambda"),
          gsum(col("y") * col("y")).as("ynorm2"))
      out = out :+ lamNorm.crossJoin(broadcast(trace))
        .select(lit(r).as("round"),
          // lambda is already ON the grid (an exact Σ of 6dp terms);
          // re-rounding it was the r9 half-ulp cell
          col("lambda"),
          (g6(col("lambda") / col("trace")) / lit(1e6)).as("explained_share"))
      v = graft.Checkpoints.materialize(y.crossJoin(broadcast(lamNorm))
        .select(col("j"), (g6(col("y") / sqrt(col("ynorm2"))) / lit(1e6)).as("v")))
    }
    out.reduce(_ unionAll _).orderBy(col("round"))
  }
}
