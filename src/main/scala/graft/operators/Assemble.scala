package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.MathFunctions.dsum

/** Caller-frame training-assembly engines — the machinery behind
  * q203/q206/q208/q210, generalized to any frame (the Glm.scala
  * convention).
  */
object Assemble {

  /** GPT-style concat-and-cut packing within each shard: per row its
    * first/last pack, span, and cut-inside flag. Output: (doc_id,
    * shard, n_tokens, first_pack, last_pack, n_packs, is_split). See
    * q203 for the plan audit. */
  def seqPacking(df: DataFrame, id: Column, shard: Column, nTokens: Column,
                 packLen: Long): DataFrame = {
    val docs = df.select(id.as("doc_id"), shard.as("shard"),
      nTokens.cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    // integer `div`, not double `/`+cast: a per-shard cumulative token
    // count past 2^53 would round in the double before truncation and
    // diverge from the oracle's integer `//` (the 100 TB contract)
    docs
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"(cum - n_tokens) div ${packLen}L").as("first_pack"),
        expr(s"(cum - 1L) div ${packLen}L").as("last_pack"))
      .withColumn("n_packs", col("last_pack") - col("first_pack") + 1L)
      .withColumn("is_split", (col("last_pack") > col("first_pack")).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Hash shard-parity audit. Output: (shard, n_docs, n_tokens,
    * n_groups, top_group_share). See q206 for the plan audit. */
  def shardParity(df: DataFrame, id: Column, group: Column, nTokens: Column,
                  nShards: Int): DataFrame = {
    val docs = df.select(
      pmod(graft.functions.MathFunctions.hash32(id.cast("string")),
        lit(nShards.toLong)).as("shard"),
      group.as("grp"), nTokens.cast("long").as("n_tokens"))
    val byShardGroup = docs.groupBy(col("shard"), col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("n_tokens")).as("tok"))
    byShardGroup.groupBy(col("shard"))
      .agg(sum(col("n")).as("n_docs"),
        sum(col("tok")).as("n_tokens"),
        count(lit(1)).as("n_groups"),
        max(col("n")).as("top_group_docs"))
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_groups"),
        round(col("top_group_docs").cast("double") / col("n_docs"), 6)
          .as("top_group_share"))
      .orderBy(col("shard"))
  }

  /** Leakage-safe K-fold target encoding with m-estimate shrinkage.
    * Output: (category, fold, n_rows, encoding). See q208 for the
    * plan audit. */
  def targetEncoding(df: DataFrame, category: Column, fold: Column,
                     target: Column, smooth: Double): DataFrame = {
    val rows = df.select(category.as("category"), fold.as("fold"),
      target.as("y"))
    val byCatFold = rows.groupBy(col("category"), col("fold"))
      .agg(count(lit(1)).as("n"), dsum(col("y")).as("s"))
    val byCat = byCatFold.groupBy(col("category"))
      .agg(sum(col("n")).as("n_tot"), sum(col("s")).as("s_tot"))
    val global = rows.agg(
      (dsum(col("y")).cast("double") / count(lit(1))).as("gmean"))
    byCatFold.join(byCat, "category")
      .crossJoin(broadcast(global))
      .select(col("category"), col("fold"), col("n").as("n_rows"),
        round(((col("s_tot") - col("s")).cast("double")
            + lit(smooth) * col("gmean"))
          / ((col("n_tot") - col("n")).cast("double") + lit(smooth)), 6)
          .as("encoding"))
      .orderBy(col("category"), col("fold"))
  }

  /** Pad-batching waste census at a fixed token budget. Output:
    * (bucket, n_docs, real_tokens, padded_tokens, n_batches,
    * pad_waste). See q210 for the plan audit. */
  def padBatching(df: DataFrame, nTokens: Column, budget: Long): DataFrame = {
    val docs = df.select(nTokens.cast("long").as("n_tokens"))
      .select(col("n_tokens"),
        pow(lit(2.0), ceil(log2(col("n_tokens").cast("double")))).cast("long")
          .as("bucket"))
    docs.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("real_tokens"))
      .select(col("bucket"), col("n_docs"), col("real_tokens"),
        (col("n_docs") * col("bucket")).as("padded_tokens"),
        ceil(col("n_docs").cast("double") /
          greatest(floor(lit(budget.toDouble) / col("bucket")), lit(1.0)))
          .cast("long").as("n_batches"),
        round(lit(1.0) - col("real_tokens").cast("double")
          / (col("n_docs") * col("bucket")).cast("double"), 6).as("pad_waste"))
      .orderBy(col("bucket"))
  }
}
