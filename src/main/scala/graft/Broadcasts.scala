package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions.broadcast

/** The one broadcast policy for frames graft builds itself.
  *
  * Spark broadcasts a join side on its own when the side's size
  * estimate is within `spark.sql.autoBroadcastJoinThreshold`. graft's
  * materialized and memoized frames (local checkpoints, SessionCache
  * memos) carry no usable size statistics, so the planner cannot make
  * that call for them. graft measures their size instead, as a row
  * count times the schema's per-row width, and applies Spark's own
  * threshold to it. There is no graft option: one setting tunes both
  * Spark's joins and graft's hints, and a threshold ≤ 0 (−1 switches
  * auto-broadcast off) means never.
  */
object Broadcasts {

  /** True iff `bytes` is within a positive broadcast threshold. */
  def fits(spark: SparkSession, bytes: BigInt): Boolean = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    0 < threshold && bytes <= threshold
  }

  /** [[fits]] for `rows` rows of `df`'s schema. */
  def fitsRows(df: DataFrame, rows: Long): Boolean =
    fits(df.sparkSession,
      EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output) * rows)

  /** `broadcast` while `df`'s counted size [[fits]], else the identity:
    * the hint for `df` and for frames with no more rows, no wider, read
    * from it. `df` should be materialized or cached, so the count is a
    * scan of its blocks. */
  def hint(df: DataFrame): DataFrame => DataFrame =
    if (fitsRows(df, df.count())) broadcast else identity

  /** `df` materialized and [[hint]]ed. The blocks are released at the
    * next `Checkpoints.drain`. */
  def bounded(df: DataFrame): DataFrame = {
    val cp = Checkpoints.materialize(df)
    hint(cp)(cp)
  }
}
