package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{MathFunctions => MF}
import graft.functions.MathFunctions.grid6
import graft.oracle.Sql

/** Feature-engineering operators for LLM training pipelines (SURVEY
  * §2.E): chi-squared feature selection, a trained-and-scored naive
  * Bayes classifier, the hashing-trick featurizer, and n-gram novelty
  * scoring for dataset curation.
  *
  * Discipline shared with TextQueries: ONE whitespace tokenization per
  * operator, integer counts end-to-end until a final per-row division,
  * log terms rounded to the 1e-6 grid and summed as DECIMAL(38,6) so
  * float-summation order can never move a result, and every constant /
  * formula shared verbatim with the DuckDB oracle.
  */
object FeatureQueries {

  /** Features reported per class. */
  val Chi2TopK = 10

  // --------------------------------------------------------------- q199
  /** Chi-squared (token, class) association — the classic supervised
    * feature-selection ranking (Yang & Pedersen 1997 shape): for every
    * (term, lang) the 2×2 presence/class contingency table, its chi²
    * statistic, and the per-class top-K features.
    *
    * Shape for 100 TB: one tokenize+distinct collapses the corpus to
    * (doc, term, lang) presence; ONE partial-agged groupBy(term, lang)
    * is the only corpus-scale aggregation; term document-frequency
    * derives from that same aggregate (no second pass); class totals
    * are an O(classes) broadcast. The contingency arithmetic is exact
    * int64 (pairwise products ≤ N² stay in-range; the final chi² casts
    * to double BEFORE squaring so nothing overflows at any SF), and
    * the top-K per class is a window over the O(terms × classes)
    * aggregate, never the corpus. */
  def q199Chi2(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Featurize.chi2Features(Tables.documents(spark, sfDir),
        col("doc_id"), col("lang"), col("text"), Chi2TopK)
      .withColumnRenamed("label", "lang")

  val q199Sql: String =
    s"""WITH present AS (
      |  SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |btl AS (SELECT term, lang, count(*) AS a FROM present GROUP BY 1, 2),
      |bt AS (SELECT term, CAST(sum(a) AS BIGINT) AS t_df FROM btl GROUP BY 1),
      |lt AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |cells AS (
      |  SELECT btl.lang, btl.term, a, t_df,
      |    t_df - a AS b, n_lang - a AS c, n_docs - n_lang - t_df + a AS d, n_docs
      |  FROM btl JOIN bt USING (term) JOIN lt ON btl.lang = lt.lang CROSS JOIN n),
      |chi AS (
      |  SELECT lang, term, a AS df_in_class, t_df AS df_total,
      |    (CASE WHEN CAST((a + b) * (c + d) AS DOUBLE) * CAST((a + c) * (b + d) AS DOUBLE) = 0.0
      |          THEN 0.0
      |          ELSE round(CAST(n_docs AS DOUBLE) * (CAST(a * d - b * c AS DOUBLE) * CAST(a * d - b * c AS DOUBLE)) /
      |            (CAST((a + b) * (c + d) AS DOUBLE) * CAST((a + c) * (b + d) AS DOUBLE)), 6) END) AS chi2
      |  FROM cells),
      |ranked AS (
      |  SELECT lang, row_number() OVER (PARTITION BY lang ORDER BY chi2 DESC, term) AS rank,
      |    term, df_in_class, df_total, chi2
      |  FROM chi)
      |SELECT lang, rank, term, df_in_class, df_total, chi2
      |FROM ranked WHERE rank <= $Chi2TopK ORDER BY lang, rank""".stripMargin

  // --------------------------------------------------------------- q200
  /** Multinomial naive Bayes language classifier, trained and scored
    * in one job (resubstitution — the labeled corpus is both train and
    * eval, the standard smoke test of a text-classification pipeline):
    * add-1-smoothed per-class token log-likelihoods + log priors,
    * argmax over classes per document, and the class confusion matrix
    * with per-true-class recall.
    *
    * Shape for 100 TB: the model is (vocab × classes) — model-sized,
    * not corpus-sized — built from ONE tokenize via a partial-agged
    * groupBy(lang, term); the smoothed grid (distinct terms × class
    * totals) is a bounded frame that BROADCASTS into the scoring join
    * against per-doc term frequencies (tf join fans out ×classes, the
    * unavoidable NB scoring cost); per-(doc, class) scores are 1e-6
    * log terms × integer tf summed as DECIMAL — order-independent and
    * engine-exact; the argmax is a window over classes per doc, ties
    * broken by class name; output is the O(classes²) confusion. */
  def q200NbLangid(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Featurize.naiveBayes(Tables.documents(spark, sfDir),
        col("doc_id"), col("lang"), col("text"))
      .withColumnRenamed("label", "lang")

  val q200Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents),
      |counts AS (SELECT lang, term, count(*) AS n_lt FROM tok GROUP BY 1, 2),
      |class_totals AS (SELECT lang, sum(n_lt) AS t_l FROM counts GROUP BY 1),
      |vocab AS (SELECT DISTINCT term FROM counts),
      |v AS (SELECT count(*) AS v FROM vocab),
      |grid AS (
      |  SELECT vocab.term, ct.lang AS cls,
      |    CAST(round(ln(CAST(coalesce(n_lt, 0) + 1 AS DOUBLE) /
      |      CAST(t_l + v AS DOUBLE)), 6) AS DECIMAL(38,6)) AS log_lik
      |  FROM vocab CROSS JOIN class_totals ct CROSS JOIN v
      |  LEFT JOIN counts ON counts.term = vocab.term AND counts.lang = ct.lang),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |priors AS (
      |  SELECT lang AS cls,
      |    CAST(round(ln(CAST(count(*) AS DOUBLE) / CAST(max(n_docs) AS DOUBLE)), 6) AS DECIMAL(38,6)) AS log_prior
      |  FROM documents CROSS JOIN n GROUP BY lang),
      |tf AS (SELECT doc_id, lang, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
      |scores AS (
      |  SELECT tf.doc_id, tf.lang, grid.cls,
      |    sum(tf * log_lik) + any_value(log_prior) AS score
      |  FROM tf JOIN grid ON tf.term = grid.term
      |  JOIN priors ON priors.cls = grid.cls
      |  GROUP BY 1, 2, 3),
      |predicted AS (
      |  SELECT doc_id, lang, cls AS predicted,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rk
      |  FROM scores),
      |lt AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1)
      |SELECT p.lang, p.predicted, count(*) AS n_docs,
      |  round(CAST(count(*) AS DOUBLE) / any_value(lt.n_lang), 6) AS share
      |FROM predicted p JOIN lt ON p.lang = lt.lang
      |WHERE rk = 1
      |GROUP BY p.lang, p.predicted
      |ORDER BY p.lang, p.predicted""".stripMargin

  /** Hashing-trick dimensionality. */
  val HashDim = 256

  // --------------------------------------------------------------- q201
  /** Hashing-trick featurizer census (Weinberger et al. 2009): every
    * token maps to bucket hash32(term) mod D with a ±1 sign from an
    * independent second hash, and the operator reports the per-bucket
    * collision census — distinct terms, docs touched, signed mass, and
    * the signed per-(doc,bucket) value's sum of squares (the energy the
    * downstream linear model actually sees).
    *
    * Shape for 100 TB: bucket/sign are per-row codegen'd md5 arithmetic
    * (the same portable-hash discipline as q21/q43 — replayable in the
    * oracle digit-for-digit); two partial-agged aggregations (doc ×
    * bucket, then bucket) collapse the corpus; the output is O(D) —
    * model-sized. All values are exact integers. */
  def q201FeatureHash(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Featurize.featureHash(Tables.documents(spark, sfDir),
      col("doc_id"), col("text"), HashDim)

  val q201Sql: String = {
    val h = Sql.hash32("term")
    val h2 = Sql.hash32OfHexAt("md5(term)", 9)
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |hashed AS (
      |  SELECT doc_id, term, $h % $HashDim AS bucket,
      |    1 - 2 * ($h2 % 2) AS sign
      |  FROM tok),
      |per_doc AS (
      |  SELECT doc_id, bucket, sum(sign) AS v, count(*) AS n_tok
      |  FROM hashed GROUP BY 1, 2),
      |census AS (
      |  SELECT bucket, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |    CAST(sum(v) AS BIGINT) AS signed_mass, CAST(sum(v * v) AS BIGINT) AS energy
      |  FROM per_doc GROUP BY 1),
      |tpb AS (
      |  SELECT bucket, count(DISTINCT term) AS n_terms FROM hashed GROUP BY 1)
      |SELECT bucket, n_terms, n_docs, n_tokens, signed_mass, energy
      |FROM census JOIN tpb USING (bucket) ORDER BY bucket""".stripMargin
  }

  // --------------------------------------------------------------- q202
  /** N-gram novelty scoring — the dataset-curation "contribution"
    * metric: what fraction of a document's distinct 3-gram shingles
    * appear in NO earlier document (by doc_id — ingestion order)? Late
    * near-copies of earlier content score ≈0 and are the first
    * candidates to drop when packing a training mix; the score is also
    * the streaming-dedup admission rate in batch form.
    *
    * Shape for 100 TB: shingle hashes are per-row md5 arithmetic
    * behind a parallelism-rebalancing exchange (q43's discipline); the
    * corpus collapses to distinct (gram, doc); gram first-appearance is
    * ONE partial-agged min; the join back is gram-keyed, never
    * all-pairs; output is one row per document. */
  def q202Novelty(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Featurize.noveltyScores(Tables.documents(spark, sfDir),
      col("doc_id"), col("text"))

  val q202Sql: String = {
    val w = "string_split(text, ' ')"
    val shingles = s"""(CASE WHEN len($w) >= 3
      THEN list_transform(range(1, len($w) - 1), i -> $w[i] || ' ' || $w[i+1] || ' ' || $w[i+2])
      ELSE [text] END)"""
    s"""WITH posed AS MATERIALIZED (
      |  SELECT doc_id, unnest($shingles) AS s FROM documents),
      |grams AS (SELECT DISTINCT doc_id, ${Sql.hash32("s")} AS g FROM posed),
      |first_seen AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY 1)
      |SELECT doc_id, count(*) AS n_grams,
      |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS novelty
      |FROM grams JOIN first_seen USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Co-occurrence window radius and report size. */
  val CoocWindow = 3
  val CoocTopK = 30
  /** Vocabulary cap (q90's discipline — the pair space must be bounded
    * by construction, not by fixture luck). */
  val CoocVocab = 40

  // --------------------------------------------------------------- q207
  /** GloVe-style windowed co-occurrence counts — the X matrix build
    * feeding word-vector training (Pennington et al.): for each
    * unordered token pair within a ±[[CoocWindow]] window, the
    * distance-weighted count Σ 1/k and the raw pair count; top
    * [[CoocTopK]] pairs. q90's PMI asks "associated at the DOCUMENT
    * level?"; this is the positional statistic embedding training
    * actually consumes.
    *
    * Shape for 100 TB: NEVER a positional self-join — each token
    * map-side emits [[CoocWindow]] probe rows keyed (doc, pos+k) with
    * weight 1/k, and ONE equi-join on (doc, pos) lands them on their
    * right neighbor (linear in corpus × window, no range join, no
    * skew); the vocabulary is capped to the [[CoocVocab]] most
    * frequent tokens via a TakeOrdered broadcast (q90's discipline) so
    * the pair aggregate is ≤V² whatever the corpus; weights are
    * 1e-6-gridded decimal sums. */
  def q207Cooccurrence(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Featurize.cooccurrence(Tables.documents(spark, sfDir),
      col("doc_id"), col("text"), CoocWindow, CoocVocab, CoocTopK)

  val q207Sql: String =
    s"""WITH posed AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |    CAST(unnest(range(1, len(string_split(text, ' ')) + 1)) AS INTEGER) - 1 AS pos
      |  FROM documents),
      |vocab AS (
      |  SELECT term FROM (
      |    SELECT term, count(*) AS cnt FROM posed GROUP BY 1
      |    ORDER BY cnt DESC, term LIMIT $CoocVocab)),
      |iv AS MATERIALIZED (
      |  SELECT doc_id, pos, term FROM posed JOIN vocab USING (term)),
      |probes AS (
      |  SELECT doc_id, term AS a, pos + k AS pos,
      |    round(CAST(1.0 AS DOUBLE) / k, 6) AS w
      |  FROM iv CROSS JOIN (SELECT unnest(${(1 to CoocWindow).mkString("[", ", ", "]")}) AS k)),
      |pairs AS (
      |  SELECT least(a, iv.term) AS t1, greatest(a, iv.term) AS t2, w
      |  FROM probes JOIN iv USING (doc_id, pos))
      |SELECT t1, t2, count(*) AS n_pairs,
      |  round(CAST(sum(CAST(w AS DECIMAL(38,6))) AS DOUBLE), 6) AS weight
      |FROM pairs GROUP BY t1, t2
      |ORDER BY weight DESC, t1, t2 LIMIT $CoocTopK""".stripMargin

  // --------------------------------------------------------------- q212
  /** Word2vec negative-sampling table — the unigram^0.75 partition of
    * [0, W) that skip-gram training draws negatives from (Mikolov et
    * al.'s smoothing: the 3/4 power lifts rare words): per token its
    * count, smoothed weight, half-open [lo, hi) range on the
    * cumulative-weight axis, and normalized probability. A sampler
    * draws u ∈ [0, W) and binary-searches the ranges — the table IS
    * the artifact.
    *
    * Shape for 100 TB: ONE partial-agged token count collapses the
    * corpus; the weight/cumsum math runs on the O(vocab) aggregate
    * (the window is vocab-sized, never corpus-sized); weights are
    * 1e-6-gridded and the cumsum is a DECIMAL running sum — exact in
    * both engines. */
  def q212NegativeTable(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val weighted = counts.select(col("term"), col("cnt"),
      grid6(pow(col("cnt").cast("double"), 0.75)).as("w"))
    val win = Window.orderBy(col("term"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = weighted.agg(sum(col("w")).cast("double").as("wtot"))
    weighted
      .withColumn("hi_dec", sum(col("w")).over(win))
      .crossJoin(broadcast(total))
      .select(col("term"), col("cnt"),
        col("w").cast("double").as("weight"),
        (col("hi_dec") - col("w")).cast("double").as("lo"),
        col("hi_dec").cast("double").as("hi"),
        round(col("w").cast("double") / col("wtot"), 6).as("prob"))
      .orderBy(col("term"))
  }

  val q212Sql: String =
    """WITH counts AS (
      |  SELECT term, count(*) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |  GROUP BY 1),
      |weighted AS (
      |  SELECT term, cnt,
      |    CAST(round(power(CAST(cnt AS DOUBLE), 0.75), 6) AS DECIMAL(38,6)) AS w
      |  FROM counts),
      |total AS (SELECT CAST(sum(w) AS DOUBLE) AS wtot FROM weighted),
      |cum AS (
      |  SELECT term, cnt, w,
      |    sum(w) OVER (ORDER BY term ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi_dec
      |  FROM weighted)
      |SELECT term, cnt, CAST(w AS DOUBLE) AS weight,
      |  CAST(hi_dec - w AS DOUBLE) AS lo, CAST(hi_dec AS DOUBLE) AS hi,
      |  round(CAST(w AS DOUBLE) / wtot, 6) AS prob
      |FROM cum CROSS JOIN total ORDER BY term""".stripMargin

  // --------------------------------------------------------------- q245
  /** Train split: pmod(hash32, 10) < 8 → 80% train / 20% held-out. */
  val LmTrainMod = 10L
  val LmTrainPct = 8L
  /** Absolute discount D — Kneser–Ney's standard 0.75. */
  val LmDiscount = 0.75

  /** Interpolated Kneser–Ney bigram language model with a HELD-OUT
    * perplexity protocol — the LM-quality filter q81 approximates with
    * in-corpus add-one smoothing, done the way an actual LM eval is
    * run: train on an 80% doc split, score the unseen 20%. KN's two
    * ideas are both here: mass is freed by an absolute discount D per
    * seen bigram (not by inflating the denominator), and the backoff
    * weight of a word is its CONTINUATION count (how many distinct
    * left-contexts it follows) — "francisco" is frequent but follows
    * only "san", so KN (correctly) refuses to predict it in fresh
    * contexts where add-one happily would. Unseen held-out words take
    * an add-one continuation floor (documented: (n1rev+1)/(B+V)).
    * Output: per-language held-out bigram count, avg NLL, perplexity.
    *
    * Shape for 100 TB: ONE bigram explode partial-aggs to (split,
    * lang, w1, w2, n) — the ONLY corpus-sized exchange; the model
    * (c2), left-context totals (c1, N1+fwd) and continuation counts
    * (N1+rev) are successive re-aggregations of that frame, the
    * (B, V) normalizer is a 1-row broadcast, and held-out scoring is
    * three hash joins of aggregate against aggregate with the NLL
    * round(,12)-gridded and count-weighted into a DECIMAL sum. */
  def q245KnBigram(spark: SparkSession, sfDir: String): DataFrame = {
    val w = split(col("text"), " ")
    val pairs = transform(sequence(lit(1), size(w) - 1),
      i => struct(element_at(w, i).as("w1"), element_at(w, i + 1).as("w2")))
    val agg = graft.Checkpoints.materialize(Tables.documents(spark, sfDir, spreadScan = true)
      .filter(size(w) >= 2)
      .select(
        (pmod(MF.hash32(concat(lit("lm:"), col("doc_id"))), lit(LmTrainMod))
          < LmTrainPct).as("is_train"),
        col("lang"), explode(pairs).as("p"))
      .groupBy(col("is_train"), col("lang"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n")))
    val train = graft.Checkpoints.materialize(agg.filter(col("is_train"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("c2")))
    val c1 = train.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1fwd"))
    val rev = train.groupBy(col("w2")).agg(count(lit(1)).as("n1rev"))
    val tot = train.agg(count(lit(1)).as("btypes"),
      countDistinct(col("w1")).as("v"))
    val pcont = (coalesce(col("n1rev"), lit(0L)) + lit(1.0)) /
      (col("btypes") + col("v"))
    val p = when(col("c1").isNull, pcont)
      .otherwise((greatest(coalesce(col("c2"), lit(0L)) - lit(LmDiscount),
        lit(0.0)) + lit(LmDiscount) * col("n1fwd") * pcont) / col("c1"))
    agg.filter(!col("is_train"))
      .join(train, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(rev, Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("n"),
        round(-log(p), 12).as("nll"))
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_bigrams"),
        sum((col("n") * col("nll")).cast(DecimalType(38, 12))).as("s"))
      .select(col("lang"), col("n_bigrams"),
        round(col("s").cast("double") / col("n_bigrams"), 6).as("avg_nll"),
        round(exp(col("s").cast("double") / col("n_bigrams")), 6).as("ppl"))
      .orderBy(col("lang"))
  }

  val q245Sql: String = {
    val h = Sql.hash32OfHex("md5('lm:' || doc_id)")
    s"""WITH toks AS (
      |  SELECT lang, $h % $LmTrainMod < $LmTrainPct AS is_train,
      |    string_split(text, ' ') AS w
      |  FROM documents),
      |agg AS (
      |  SELECT is_train, lang, w[i] AS w1, w[i+1] AS w2, count(*) AS n
      |  FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)
      |  WHERE len(w) >= 2 GROUP BY 1, 2, 3, 4),
      |c2 AS (
      |  SELECT w1, w2, CAST(sum(n) AS BIGINT) AS c2
      |  FROM agg WHERE is_train GROUP BY 1, 2),
      |c1 AS (
      |  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1, count(*) AS n1fwd
      |  FROM c2 GROUP BY 1),
      |rev AS (SELECT w2, count(*) AS n1rev FROM c2 GROUP BY 1),
      |tot AS (
      |  SELECT count(*) AS btypes, count(DISTINCT w1) AS v FROM c2),
      |scored AS (
      |  SELECT t.lang, t.n,
      |    round(-ln(CASE
      |      WHEN c1.w1 IS NULL
      |        THEN (coalesce(rev.n1rev, 0) + 1.0) / (tot.btypes + tot.v)
      |      ELSE (greatest(coalesce(m.c2, 0) - $LmDiscount, 0.0)
      |            + $LmDiscount * c1.n1fwd
      |              * ((coalesce(rev.n1rev, 0) + 1.0) / (tot.btypes + tot.v)))
      |           / c1.c1
      |    END), 12) AS nll
      |  FROM (SELECT * FROM agg WHERE NOT is_train) t
      |  LEFT JOIN c2 m ON t.w1 = m.w1 AND t.w2 = m.w2
      |  LEFT JOIN c1 ON t.w1 = c1.w1
      |  LEFT JOIN rev ON t.w2 = rev.w2
      |  CROSS JOIN tot)
      |SELECT lang, CAST(sum(n) AS BIGINT) AS n_bigrams,
      |  round(CAST(sum(CAST(n * nll AS DECIMAL(38,12))) AS DOUBLE)
      |    / CAST(sum(n) AS BIGINT), 6) AS avg_nll,
      |  round(exp(CAST(sum(CAST(n * nll AS DECIMAL(38,12))) AS DOUBLE)
      |    / CAST(sum(n) AS BIGINT)), 6) AS ppl
      |FROM scored GROUP BY lang ORDER BY lang""".stripMargin
  }

  // --------------------------------------------------------------- q267
  /** Frozen-vocabulary size (top-K train tokens). */
  val OovVocabK = 20

  /** Out-of-vocabulary rate audit — the tokenizer-coverage check run
    * before freezing any vocab-dependent artifact (q201's feature
    * hashes, q212's negative table, q183's BPE base vocab): freeze the
    * top-K vocabulary on the deterministic 80% train split (q245's
    * split, so the LM and its vocab audit see the SAME data), then
    * measure what share of HELD-OUT tokens (and distinct types) fall
    * outside it, per language — the number that says whether K is too
    * small before a training run discovers it the expensive way.
    *
    * Shape for 100 TB: one tokenize partial-aggs to (split, lang,
    * term) counts; the vocab is a top-K TakeOrdered broadcast; the
    * held-out side is a left-semi-style membership flag + one
    * aggregate per language. */
  def q267OovRate(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = graft.Checkpoints.materialize(Tables.documents(spark, sfDir)
      .select(col("lang"),
        (pmod(MF.hash32(concat(lit("lm:"), col("doc_id"))), lit(LmTrainMod))
          < LmTrainPct).as("is_train"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy(col("is_train"), col("lang"), col("term"))
      .agg(count(lit(1)).as("n")))
    val vocab = toks.filter(col("is_train"))
      .groupBy(col("term")).agg(sum(col("n")).as("c"))
      .orderBy(col("c").desc, col("term")).limit(OovVocabK)
      .select(col("term"), lit(1).as("in_vocab"))
    toks.filter(!col("is_train"))
      .groupBy(col("lang"), col("term")).agg(sum(col("n")).as("n"))
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("lang"))
      .agg(sum(col("n")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("n")).otherwise(0L))
          .as("oov_tokens"),
        round(sum(when(col("in_vocab").isNull, col("n")).otherwise(0L))
          .cast("double") / sum(col("n")), 6).as("oov_rate"),
        count(lit(1)).as("n_types"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_types"),
        round(sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("type_oov_rate"))
      .orderBy(col("lang"))
  }

  val q267Sql: String = {
    val h = Sql.hash32("'lm:' || doc_id")
    s"""WITH toks AS (
      |  SELECT lang, $h % $LmTrainMod < $LmTrainPct AS is_train,
      |    unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |vocab AS MATERIALIZED (
      |  SELECT term FROM (
      |    SELECT term, count(*) AS c FROM toks WHERE is_train GROUP BY 1)
      |  ORDER BY c DESC, term LIMIT $OovVocabK),
      |held AS (
      |  SELECT lang, term, count(*) AS n,
      |    (term IN (SELECT term FROM vocab)) AS in_vocab
      |  FROM toks WHERE NOT is_train GROUP BY 1, 2)
      |SELECT lang,
      |  CAST(sum(n) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN in_vocab THEN 0 ELSE n END) AS BIGINT) AS oov_tokens,
      |  round(CAST(sum(CASE WHEN in_vocab THEN 0 ELSE n END) AS DOUBLE) / sum(n), 6) AS oov_rate,
      |  count(*) AS n_types,
      |  CAST(sum(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT) AS oov_types,
      |  round(CAST(sum(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS DOUBLE) / count(*), 6) AS type_oov_rate
      |FROM held GROUP BY lang ORDER BY lang""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q267_oov_rate" -> q267OovRate,
    "q245_kn_bigram" -> q245KnBigram,
    "q199_chi2" -> q199Chi2,
    "q200_nb_langid" -> q200NbLangid,
    "q201_feature_hash" -> q201FeatureHash,
    "q202_novelty" -> q202Novelty,
    "q207_cooccurrence" -> q207Cooccurrence,
    "q212_negative_table" -> q212NegativeTable)

  val oracles: Map[String, String] = Map(
    "q267_oov_rate" -> q267Sql,
    "q245_kn_bigram" -> q245Sql,
    "q199_chi2" -> q199Sql,
    "q200_nb_langid" -> q200Sql,
    "q201_feature_hash" -> q201Sql,
    "q202_novelty" -> q202Sql,
    "q207_cooccurrence" -> q207Sql,
    "q212_negative_table" -> q212Sql)
}
