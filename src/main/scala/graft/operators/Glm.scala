package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.MathFunctions.grid6

/** Distributed GLM fits on caller frames — the engines behind q185
  * (OLS) and q186 (IRLS logistic), generalized to any column pair/
  * triple. Both follow the same determinism discipline: every
  * per-row moment term is rounded to the 1e-6 grid and summed as
  * DECIMAL(38,6) (bit-identical accumulation in any engine or
  * partitioning), and the bounded normal-equation solves are scalar
  * expressions — ONE aggregate pass per round, nothing else touches
  * the corpus.
  */
object Glm {

  /** Cramer's-rule solve of 3×3 normal equations (shared with q185's
    * oracle text). */
  private[graft] val OlsDet =
    "(n * (sx11 * sx22 - sx12 * sx12) - sx1 * (sx1 * sx22 - sx12 * sx2) + sx2 * (sx1 * sx12 - sx11 * sx2))"
  private[graft] val OlsExprs: Map[String, String] = Map(
    "b0" -> s"(sy * (sx11 * sx22 - sx12 * sx12) - sx1 * (sx1y * sx22 - sx12 * sx2y) + sx2 * (sx1y * sx12 - sx11 * sx2y)) / $OlsDet",
    "b1" -> s"(n * (sx1y * sx22 - sx12 * sx2y) - sy * (sx1 * sx22 - sx12 * sx2) + sx2 * (sx1 * sx2y - sx1y * sx2)) / $OlsDet",
    "b2" -> s"(n * (sx11 * sx2y - sx1y * sx12) - sx1 * (sx1 * sx2y - sx1y * sx2) + sy * (sx1 * sx12 - sx11 * sx2)) / $OlsDet")

  /** Two-feature ordinary least squares `y ~ b0 + b1·x1 + b2·x2`:
    * one 10-moment aggregate pass + Cramer solve. Returns one row
    * (n_rows, intercept, b_x1, b_x2, r2, rmse). */
  def olsFit2(df: DataFrame, x1: Column, x2: Column, y: Column): DataFrame = {
    val base = df.select(x1.cast("double").as("x1"), x2.cast("double").as("x2"),
      y.cast("double").as("y"))
    val m = base.agg(
      count(lit(1)).cast("double").as("n"),
      sum(grid6(col("x1"))).cast("double").as("sx1"),
      sum(grid6(col("x2"))).cast("double").as("sx2"),
      sum(grid6(col("y"))).cast("double").as("sy"),
      sum(grid6(col("x1") * col("x1"))).cast("double").as("sx11"),
      sum(grid6(col("x1") * col("x2"))).cast("double").as("sx12"),
      sum(grid6(col("x2") * col("x2"))).cast("double").as("sx22"),
      sum(grid6(col("x1") * col("y"))).cast("double").as("sx1y"),
      sum(grid6(col("x2") * col("y"))).cast("double").as("sx2y"),
      sum(grid6(col("y") * col("y"))).cast("double").as("syy"))
    m.select(col("n").cast("long").as("n_rows"),
        expr(OlsExprs("b0")).as("b0_raw"), expr(OlsExprs("b1")).as("b1_raw"),
        expr(OlsExprs("b2")).as("b2_raw"),
        col("sy"), col("sx1y"), col("sx2y"), col("syy"), col("n"))
      .select(col("n_rows"),
        round(col("b0_raw"), 6).as("intercept"),
        round(col("b1_raw"), 6).as("b_x1"),
        round(col("b2_raw"), 6).as("b_x2"),
        round(lit(1.0) -
          (col("syy") - col("b0_raw") * col("sy") - col("b1_raw") * col("sx1y")
            - col("b2_raw") * col("sx2y"))
          / (col("syy") - col("sy") * col("sy") / col("n")), 6).as("r2"),
        round(sqrt(
          (col("syy") - col("b0_raw") * col("sy") - col("b1_raw") * col("sx1y")
            - col("b2_raw") * col("sx2y")) / col("n")), 6).as("rmse"))
  }

  /** Single-feature weighted-normal-equation slope of the IRLS round
    * (shared with q186's oracle text). */
  private[graft] val LogregB1 =
    "(sw * swxz - swx * swz) / (sw * swxx - swx * swx)"

  /** Logistic regression `P(y=1) = σ(b0 + b1·x)` by `iters` IRLS
    * rounds from (0, 0); one moment pass per round, coefficients on a
    * 1-row broadcast frame, final scoring pass. Returns one row
    * (n_rows, intercept, b_x, mean_logloss, accuracy). */
  def logregFit(df: DataFrame, x: Column, y: Column, iters: Int): DataFrame = {
    val spark = df.sparkSession
    // localCheckpoint, not cache(): the IRLS rounds re-read this frame
    // iters+1 times, and a cached plan can lose blocks under memory
    // pressure and RE-EXECUTE its upstream shuffle per round (seen as
    // a 3× shuffle-budget breach inside the full suite). Truncating
    // the lineage makes recomputation impossible — the per-row frame
    // is materialized once, disk-backed, and freed at drain.
    val base = graft.Checkpoints.materialize(
      df.select(x.cast("double").as("x"), y.cast("double").as("y")))
    // 1-row coefficient state, checkpointed to keep the loop plan shallow
    val (coef, _) = graft.Checkpoints.iterate(
        spark.range(1).select(lit(0.0).as("b0"), lit(0.0).as("b1")), iters) { coef =>
      val p = lit(1.0) / (lit(1.0) + exp(-(col("b0") + col("b1") * col("x"))))
      val w = p * (lit(1.0) - p)
      val z = (col("b0") + col("b1") * col("x")) + (col("y") - p) / w
      base.crossJoin(broadcast(coef))
        .agg(sum(grid6(w)).cast("double").as("sw"),
          sum(grid6(w * col("x"))).cast("double").as("swx"),
          sum(grid6(w * col("x") * col("x"))).cast("double").as("swxx"),
          sum(grid6(w * z)).cast("double").as("swz"),
          sum(grid6(w * col("x") * z)).cast("double").as("swxz"))
        .select(expr(LogregB1).as("b1"),
          expr(s"(swz - ($LogregB1) * swx) / sw").as("b0"))
        .select(col("b0"), col("b1"))
    }
    val p = lit(1.0) / (lit(1.0) + exp(-(col("b0") + col("b1") * col("x"))))
    base.crossJoin(broadcast(coef))
      .agg(count(lit(1)).as("n_rows"),
        max(col("b0")).as("b0r"), max(col("b1")).as("b1r"),
        sum(grid6(-(col("y") * log(p) + (lit(1.0) - col("y")) * log(lit(1.0) - p))))
          .cast("double").as("llsum"),
        sum(when((p >= 0.5) === (col("y") === 1.0), 1L).otherwise(0L)).as("hits"))
      .select(col("n_rows"),
        round(col("b0r"), 6).as("intercept"),
        round(col("b1r"), 6).as("b_x"),
        round(col("llsum") / col("n_rows"), 6).as("mean_logloss"),
        round(col("hits").cast("double") / col("n_rows"), 6).as("accuracy"))
  }
}
