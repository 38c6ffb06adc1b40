package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.functions.{MathFunctions => MF}
import graft.functions.MathFunctions.grid6

/** Caller-frame feature-engineering engines — the machinery behind
  * q199–q202/q207, generalized to any (id, label, text) frame (the
  * Glm.scala convention: query wrappers delegate with renamed columns;
  * the facade exposes them for user data). All engines keep the
  * determinism discipline of their query twins: integer counts until a
  * final division, 1e-6-gridded log terms under DECIMAL sums, portable
  * md5 hashes.
  */
object Featurize {

  /** Chi-squared (token, class) feature ranking over whitespace
    * tokens: per-(term, label) 2×2 presence contingency, exact-int
    * cells, top-K per class. Output: (label, rank, term, df_in_class,
    * df_total, chi2). See q199 for the plan audit. */
  def chi2Features(df: DataFrame, id: Column, label: Column, text: Column,
                   topK: Int): DataFrame = {
    // docs feeds 3 branches (present, labelTotals, n) and byTermLabel
    // feeds 2 (byTerm, cells) — localCheckpoint both so the caller scan
    // runs ONCE and the distinct+groupBy chain isn't re-executed per
    // consumer (the repo's multi-consumer discipline; noveltyScores
    // pattern)
    val docs = graft.Checkpoints.materialize(
      df.select(id.as("doc_id"), label.as("label"), text.as("text")))
    val present = docs
      .select(col("doc_id"), col("label"), explode(split(col("text"), " ")).as("term"))
      .distinct()
    val byTermLabel = graft.Checkpoints.materialize(
      present.groupBy(col("term"), col("label"))
        .agg(count(lit(1)).as("a")))
    val byTerm = byTermLabel.groupBy(col("term"))
      .agg(sum(col("a")).as("t_df"))
    val labelTotals = docs.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val cells = byTermLabel
      .join(byTerm, "term")
      .join(broadcast(labelTotals), "label")
      .crossJoin(broadcast(n))
      .select(col("label"), col("term"), col("a"), col("t_df"),
        (col("t_df") - col("a")).as("b"),
        (col("n_label") - col("a")).as("c"),
        (col("n_docs") - col("n_label") - col("t_df") + col("a")).as("d"),
        col("n_docs"))
    // a zero margin (term in every doc, or every doc of one class)
    // makes the denominator 0 — the statistic is 0 by convention there
    // (no discriminating information), and the guard keeps ANSI mode
    // from aborting the job
    val denom = ((col("a") + col("b")) * (col("c") + col("d"))).cast("double") *
      ((col("a") + col("c")) * (col("b") + col("d"))).cast("double")
    val chi2 = cells.select(col("label"), col("term"), col("a").as("df_in_class"),
      col("t_df").as("df_total"),
      when(denom === 0.0, lit(0.0)).otherwise(
        round(col("n_docs").cast("double") *
          ((col("a") * col("d") - col("b") * col("c")).cast("double") *
            (col("a") * col("d") - col("b") * col("c")).cast("double")) /
          denom, 6))
        .as("chi2"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("chi2").desc, col("term"))
    chi2.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("label"), col("rank"), col("term"), col("df_in_class"),
        col("df_total"), col("chi2"))
      .orderBy(col("label"), col("rank"))
  }

  /** Multinomial naive Bayes: train on the labeled frame, score the
    * SAME frame (resubstitution), emit the confusion matrix with
    * per-true-class shares. Output: (label, predicted, n_docs, share).
    * See q200 for the plan audit. */
  def naiveBayes(df: DataFrame, id: Column, label: Column, text: Column): DataFrame = {
    // docs feeds 4 branches and tok feeds 2 (counts, tf) — checkpoint
    // both so the scan and the tokenize explode each run ONCE (the
    // docstring's "ONE tokenize" claim, now held by materialization
    // rather than by luck of lineage)
    val docs = graft.Checkpoints.materialize(
      df.select(id.as("doc_id"), label.as("label"), text.as("text")))
    val tok = graft.Checkpoints.materialize(
      docs.select(col("doc_id"), col("label"),
        explode(split(col("text"), " ")).as("term")))
    // counts feeds 3 branches (classTotals, vocab, grid)
    val counts = graft.Checkpoints.materialize(
      tok.groupBy(col("label"), col("term")).agg(count(lit(1)).as("n_lt")))
    val classTotals = counts.groupBy(col("label")).agg(sum(col("n_lt")).as("t_l"))
    val vocab = counts.select(col("term")).distinct()
    val vSize = vocab.agg(count(lit(1)).as("v"))
    val grid = vocab.crossJoin(broadcast(classTotals))
      .join(counts, Seq("term", "label"), "left")
      .crossJoin(broadcast(vSize))
      .select(col("term"), col("label").as("cls"),
        grid6(log((coalesce(col("n_lt"), lit(0L)) + lit(1L)).cast("double") /
          (col("t_l") + col("v")).cast("double"))).as("log_lik"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val priors = docs.groupBy(col("label")).agg(count(lit(1)).as("n_l"))
      .crossJoin(broadcast(nDocs))
      .select(col("label").as("cls"),
        grid6(log(col("n_l").cast("double") / col("n_docs").cast("double"))).as("log_prior"))
    val tf = tok.groupBy(col("doc_id"), col("label"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val scores = tf.join(broadcast(grid), "term")
      .groupBy(col("doc_id"), col("label"), col("cls"))
      .agg(sum(col("tf") * col("log_lik")).as("ll"))
      .join(broadcast(priors), "cls")
      .select(col("doc_id"), col("label"), col("cls"),
        (col("ll") + col("log_prior")).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cls"))
    val predicted = scores.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("label"), col("cls").as("predicted"))
    predicted.groupBy(col("label"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .join(broadcast(docs.groupBy(col("label")).agg(count(lit(1)).as("n_label"))),
        "label")
      .select(col("label"), col("predicted"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_label"), 6).as("share"))
      .orderBy(col("label"), col("predicted"))
  }

  /** Hashing-trick featurizer census over whitespace tokens. Output:
    * (bucket, n_terms, n_docs, n_tokens, signed_mass, energy). See
    * q201 for the plan audit. */
  def featureHash(df: DataFrame, id: Column, text: Column, dim: Int): DataFrame = {
    val tok = df.select(id.as("doc_id"), text.as("text"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val hashed = tok.select(col("doc_id"), col("term"),
      pmod(MF.hash32(col("term")), lit(dim.toLong)).as("bucket"),
      (lit(1L) - lit(2L) * pmod(MF.hash32b(col("term")), lit(2L))).as("sign"))
    val perDoc = hashed.groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sign")).as("v"), count(lit(1)).as("n_tok"))
    val census = perDoc.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("v")).as("signed_mass"),
        sum(col("v") * col("v")).as("energy"))
    val termsPerBucket = hashed.select(col("bucket"), col("term")).distinct()
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_terms"))
    census.join(termsPerBucket, "bucket")
      .select(col("bucket"), col("n_terms"), col("n_docs"), col("n_tokens"),
        col("signed_mass"), col("energy"))
      .orderBy(col("bucket"))
  }

  /** N-gram novelty scores in id order. Output: (doc_id, n_grams,
    * n_novel, novelty). See q202 for the plan audit. */
  def noveltyScores(df: DataFrame, id: Column, text: Column): DataFrame = {
    val base = df.select(id.as("doc_id"), text.as("text"))
    // the compiled graft_gram_hashes kernel replaces the interpreted
    // transform/concat_ws HOF chain (the q43 argument); its hlo IS
    // hash32 of the space-joined 3-gram — same md5 bytes, so the
    // oracle replay is unchanged. Checkpointed because the gram frame
    // feeds BOTH the first-appearance aggregate and the join back.
    val grams = graft.Checkpoints.materialize(base
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(call_function("graft_gram_hashes", col("text"), lit(3))).as("gh"))
      .select(col("doc_id"), col("gh.hlo").as("g"))
      .distinct())
    val firstSeen = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(firstSeen, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams"), 6).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Windowed distance-weighted co-occurrence counts over the capped
    * vocabulary. Output: (t1, t2, n_pairs, weight). See q207 for the
    * plan audit. */
  def cooccurrence(df: DataFrame, id: Column, text: Column,
                   window: Int, vocabCap: Int, topK: Int): DataFrame = {
    val toks = df.select(id.as("doc_id"), text.as("text"))
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
    val vocab = broadcast(toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(vocabCap)
      .select(col("term")))
    val inVocab = toks.join(vocab, "term")
      .select(col("doc_id"), col("pos"), col("term"))
    val probes = inVocab.select(col("doc_id"), col("term").as("a"),
        explode(sequence(lit(1), lit(window))).as("k"),
        col("pos"))
      .select(col("doc_id"), col("a"), (col("pos") + col("k")).as("pos"),
        round(lit(1.0) / col("k"), 6).as("w"))
    probes.join(inVocab.withColumnRenamed("term", "b"), Seq("doc_id", "pos"))
      .select(least(col("a"), col("b")).as("t1"),
        greatest(col("a"), col("b")).as("t2"), col("w"))
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("w").cast(DecimalType(38, 6))).cast("double").as("wsum"))
      .select(col("t1"), col("t2"), col("n_pairs"), round(col("wsum"), 6).as("weight"))
      .orderBy(col("weight").desc, col("t1"), col("t2"))
      .limit(topK)
  }
}
