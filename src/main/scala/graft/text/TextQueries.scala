package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.{Graft, Tables}
import graft.functions.{MathFunctions => MF}
import graft.oracle.Sql
import graft.functions.MathFunctions.dec12

/** Text analysis (SURVEY §2.E q40–q43) over the documents table: all
  * single-pass scans of built-in expressions (array/regexp/window) —
  * no UDFs, no shuffles except the q43 per-doc window + aggregation.
  */
object TextQueries {

  /** Escape a runtime string for interpolation into a single-quoted
    * Spark SQL literal (backslash first, then quote). */
  private[graft] def sqlLit(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  private[graft] val StopEn = Seq("the", "and", "of", "to", "a", "in", "is")
  private[graft] val StopEs = Seq("el", "la", "de", "que", "y", "en", "un")
  private[graft] val StopFr = Seq("le", "la", "de", "et", "les", "des", "une")
  private[graft] val StopDe = Seq("der", "die", "und", "das", "von", "ein", "zu")

  private[graft] def hitRatio(w: Column, stop: Seq[String]): Column = {
    val stopArr = array(stop.map(lit): _*)
    size(filter(w, x => array_contains(stopArr, x))).cast("double") / size(w)
  }

  private[graft] def hitRatioSql(w: String, stop: Seq[String]): String = {
    val lst = stop.map(s => s"'$s'").mkString("[", ", ", "]")
    s"(CAST(len(list_filter($w, x -> list_contains($lst, x))) AS DOUBLE) / len($w))"
  }

  // ---------------------------------------------------------------- q40
  /** Language-ID heuristic: stopword-hit ratio per language, argmax
    * with fixed en>es>fr>de precedence; below 0.05 → 'und'. */
  def q40LangId(spark: SparkSession, sfDir: String): DataFrame = {
    val w = split(col("text"), " ")
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        hitRatio(w, StopEn).as("r_en"), hitRatio(w, StopEs).as("r_es"),
        hitRatio(w, StopFr).as("r_fr"), hitRatio(w, StopDe).as("r_de"))
    val best = greatest(col("r_en"), col("r_es"), col("r_fr"), col("r_de"))
    d.select(col("doc_id"), col("lang"),
        when(best < 0.05, lit("und"))
          .when(col("r_en") === best, lit("en"))
          .when(col("r_es") === best, lit("es"))
          .when(col("r_fr") === best, lit("fr"))
          .otherwise(lit("de")).as("detected"),
        round(best, 6).as("confidence"))
      .orderBy(col("doc_id"))
  }

  val q40Sql: String = {
    val w = "string_split(text, ' ')"
    s"""WITH r AS (
  SELECT doc_id, lang,
    ${hitRatioSql(w, StopEn)} AS r_en, ${hitRatioSql(w, StopEs)} AS r_es,
    ${hitRatioSql(w, StopFr)} AS r_fr, ${hitRatioSql(w, StopDe)} AS r_de
  FROM documents)
SELECT doc_id, lang,
  (CASE WHEN greatest(r_en, r_es, r_fr, r_de) < 0.05 THEN 'und'
        WHEN r_en = greatest(r_en, r_es, r_fr, r_de) THEN 'en'
        WHEN r_es = greatest(r_en, r_es, r_fr, r_de) THEN 'es'
        WHEN r_fr = greatest(r_en, r_es, r_fr, r_de) THEN 'fr'
        ELSE 'de' END) AS detected,
  round(greatest(r_en, r_es, r_fr, r_de), 6) AS confidence
FROM r ORDER BY doc_id"""
  }

  // ---------------------------------------------------------------- q41
  /** Quality scoring: word count, mean word length, stopword ratio →
    * bounded score in [0, 1]. */
  def q41Quality(spark: SparkSession, sfDir: String): DataFrame = {
    val w = split(col("text"), " ")
    val nWords = size(w).cast("double")
    val avgWl = (length(col("text")) - (size(w) - 1)).cast("double") / nWords
    val stopR = hitRatio(w, StopEn)
    val score = least(lit(1.0), greatest(lit(0.0),
      lit(0.5) * least(stopR * 5.0, lit(1.0)) +
        lit(0.3) * least(nWords / 100.0, lit(1.0)) +
        lit(0.2) * when(avgWl >= 3.0 && avgWl <= 8.0, 1.0).otherwise(0.0)))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(w).as("n_words"),
        round(avgWl, 6).as("avg_word_len"), round(stopR, 6).as("stopword_ratio"),
        round(score, 6).as("quality"))
      .orderBy(col("doc_id"))
  }

  val q41Sql: String = {
    val w = "string_split(text, ' ')"
    val nW = s"CAST(len($w) AS DOUBLE)"
    val avgWl = s"(CAST(length(text) - (len($w) - 1) AS DOUBLE) / $nW)"
    val stopR = hitRatioSql(w, StopEn)
    s"""SELECT doc_id, len($w) AS n_words,
  round($avgWl, 6) AS avg_word_len,
  round($stopR, 6) AS stopword_ratio,
  round(least(1.0, greatest(0.0,
    0.5 * least($stopR * 5.0, 1.0) +
    0.3 * least($nW / 100.0, 1.0) +
    0.2 * (CASE WHEN $avgWl >= 3.0 AND $avgWl <= 8.0 THEN 1.0 ELSE 0.0 END))), 6) AS quality
FROM documents ORDER BY doc_id"""
  }

  // ---------------------------------------------------------------- q42
  /** Token counting: whitespace tokens, regex word tokens, and a
    * chars/4 BPE-style estimate. */
  def q42Tokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("re_tokens"),
        length(col("text")).as("n_chars"),
        ceil(length(col("text")) / lit(4.0)).cast("long").as("bpe_estimate"))
      .orderBy(col("doc_id"))

  val q42Sql: String =
    """SELECT doc_id,
  len(string_split(text, ' ')) AS ws_tokens,
  len(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens,
  length(text) AS n_chars,
  CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_estimate
FROM documents ORDER BY doc_id"""

  // ---------------------------------------------------------------- q43
  /** Document fingerprinting by winnowing: hash word 3-grams, take the
    * min hash of each 4-shingle window, keep distinct mins. Output is
    * the per-doc fingerprint summary (count / min / max) so the result
    * stays compact and totally ordered.
    *
    * Winnowing is strictly per-document, so the whole operator runs as
    * in-row array expressions — no explode, no per-doc window shuffle
    * (was: posexplode → Window → groupBy, a full shuffle+sort of every
    * shingle). The oracle keeps the equivalent window-SQL formulation;
    * all values are integers, so the two evaluation strategies agree
    * exactly.
    *
    * The one shuffle left is a deliberate repartition of the raw docs
    * BEFORE the hash-heavy projection: ~100 md5s per row is compute-
    * bound, and parallelism must not be capped by the input's split
    * count (a single parquet row group would otherwise serialize the
    * whole operator onto one task — measured 2× slower than the old
    * windowed plan; rebalancing 5k raw texts costs ~nothing, and at
    * 100 TB the same rebalance evens out skewed splits). */
  def q43Fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      // parallelism rebalance BEFORE the hash-heavy projection: ~100
      // md5s per row is compute-bound and must not be capped by the
      // input's split count (a single parquet row group would
      // serialize the operator onto one task; at 100 TB the same
      // rebalance evens out skewed splits)
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        call_function("graft_winnow", col("text")).as("w"))
      .select(col("doc_id"), col("w.n_fingerprints").as("n_fingerprints"),
        col("w.min_fp").as("min_fp"), col("w.max_fp").as("max_fp"))
      .orderBy(col("doc_id"))

  /** Composed built-in formulation of q43 — the reference semantics the
    * graft_winnow kernel is pinned against (WinnowSpec, exact integer
    * equality). Kept runnable, not driver-registered. */
  private[graft] def q43FingerprintComposed(spark: SparkSession, sfDir: String): DataFrame = {
    val w = split(col("text"), " ")
    val shingles = when(size(w) >= 3,
      transform(sequence(lit(1), size(w) - 2),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))
      .otherwise(array(col("text")))
    val hashes = transform(shingles, s => MF.hash32(s))
    // min over the 4-shingle window ending at i (1-based, clamped left)
    val fps = transform(sequence(lit(1), size(col("h"))),
      i => array_min(slice(col("h"), greatest(i - 3, lit(1)), least(i, lit(4)))))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), hashes.as("h"))
      // the exchange is BOTH the parallelism rebalance and a projection
      // barrier: without it CollapseProject inlines the 100-md5 `h`
      // expression inside the slice() lambda below, where codegen
      // subexpression elimination cannot reach — the hashes would be
      // recomputed once per window position (O(shingles²) md5 calls per
      // doc, measured 8× slower). Behind the exchange `h` is a bound
      // attribute, computed once per row.
      .repartition(col("doc_id"))
      // explode evaluates fps ONCE per doc (three array_min/max/distinct
      // projections would each re-evaluate the interpreted HOF chain —
      // measured 3× the cost); the groupBy reuses the exchange's
      // hash(doc_id) partitioning, so no further shuffle.
      .select(col("doc_id"), explode(fps).as("fp"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("fp")).as("n_fingerprints"),
        min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))
      .orderBy(col("doc_id"))
  }

  val q43Sql: String = {
    val w = "string_split(text, ' ')"
    val shingles = s"""(CASE WHEN len($w) >= 3
      THEN list_transform(range(1, len($w) - 1), i -> $w[i] || ' ' || $w[i+1] || ' ' || $w[i+2])
      ELSE [text] END)"""
    s"""WITH posed AS MATERIALIZED (
  SELECT doc_id, unnest(range(1, len($shingles) + 1)) AS pos, unnest($shingles) AS sh
  FROM documents),
hashed AS (SELECT doc_id, pos, ${Sql.hash32OfHex("md5(sh)")} AS h FROM posed),
fps AS (
  SELECT doc_id,
    min(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
  FROM hashed)
SELECT doc_id, count(DISTINCT fp) AS n_fingerprints, min(fp) AS min_fp, max(fp) AS max_fp
FROM fps GROUP BY doc_id ORDER BY doc_id"""
  }

  // ---------------------------------------------------------------- q44
  /** PII scrubbing (training-data hygiene): redact emails, phone
    * numbers, and IPv4s. The corpus carries none, so docs with
    * doc_id%7==0 get a deterministic synthetic contact line appended
    * before scrubbing; output counts redactions per kind. Regexes use
    * only syntax common to Java regex and RE2 so both engines agree.
    */
  // [.] instead of \. — backslash-free so the patterns survive Spark
  // SQL string-literal escaping (inside expr) and read identically in
  // Java regex and DuckDB's RE2.
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val Ipv4Re = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

  def q44PiiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val injected = when(pmod(col("doc_id"), lit(7)) === 0,
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.org call 555-123-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".7")))
      .otherwise(col("text"))
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(injected, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), injected.as("raw"), scrubbed.as("clean"))
      .select(col("doc_id"),
        size(expr(s"regexp_extract_all(raw, '$EmailRe', 0)")).as("n_emails"),
        size(expr(s"regexp_extract_all(raw, '$PhoneRe', 0)")).as("n_phones"),
        (size(split(col("clean"), "<IP>", -1)) - 1).as("n_ips"),
        md5(col("clean")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  val q44Sql: String = {
    val injected = s"""(CASE WHEN doc_id % 7 = 0
      THEN text || ' contact user' || doc_id || '@mail.example.org call 555-123-' ||
           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
           ' from 10.0.' || (doc_id % 256) || '.7'
      ELSE text END)"""
    s"""WITH raw AS (SELECT doc_id, $injected AS raw FROM documents),
scrubbed AS (
  SELECT doc_id, raw,
    regexp_replace(regexp_replace(regexp_replace(raw,
      '$EmailRe', '<EMAIL>', 'g'),
      '$PhoneRe', '<PHONE>', 'g'),
      '$Ipv4Re', '<IP>', 'g') AS clean
  FROM raw)
SELECT doc_id,
  len(regexp_extract_all(raw, '$EmailRe')) AS n_emails,
  len(regexp_extract_all(raw, '$PhoneRe')) AS n_phones,
  (len(string_split(clean, '<IP>')) - 1) AS n_ips,
  md5(clean) AS clean_md5
FROM scrubbed ORDER BY doc_id"""
  }

  // ---------------------------------------------------------------- q45
  /** Skew-safe per-language token totals through the two-stage salted
    * aggregation (graft.operators.Salting): stage 1 spreads each hot
    * language key over 16 (key, salt) partials, stage 2 re-aggregates
    * by key. Algebraically identical to a plain GROUP BY — the oracle
    * IS the plain GROUP BY, so the driver gate proves the salted path
    * end-to-end. At 100 TB this is the groupBy shape for corpora where
    * one language is half the rows (AQE splits skewed joins, not
    * skewed aggregations). */
  def q45SaltedTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("lang"), size(split(col("text"), " ")).as("toks"))
    graft.operators.Salting.saltedSumCount(d, col("lang"), col("toks"))
      .select(col("key").as("lang"), col("sum").as("total_tokens"),
        col("count").as("n_docs"))
      .orderBy(col("lang"))
  }

  val q45Sql: String =
    """SELECT lang,
  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
  count(*) AS n_docs
FROM documents GROUP BY lang ORDER BY lang"""

  // ---------------------------------------------------------------- q46
  /** Repetition filters (the Gopher-rule shape for pretraining data):
    * duplicate-word ratio (1 − distinct/total, in-row) and top-bigram
    * fraction (most frequent word 2-gram / all 2-grams) via the
    * compiled graft_top_bigram kernel — bigram statistics are strictly
    * per-row, so the whole operator is MAP-ONLY: one scan, zero
    * shuffle besides the output sort. Flag = either ratio above its
    * threshold. */
  val DupWordMax = 0.5
  val TopBigramMax = 0.2

  def q46Repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val w = split(col("text"), " ")
    val frac = round(when(col("tb.tot") > 0,
      col("tb.mx").cast("double") / col("tb.tot")).otherwise(lit(0.0)), 6)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(w).as("n_words"),
        round(lit(1.0) - size(array_distinct(w)).cast("double") / size(w), 6)
          .as("dup_word_ratio"),
        call_function("graft_top_bigram", col("text")).as("tb"))
      .select(col("doc_id"), col("n_words"), col("dup_word_ratio"),
        frac.as("top_bigram_frac"),
        (col("dup_word_ratio") > DupWordMax || frac > TopBigramMax).as("flagged"))
      .orderBy(col("doc_id"))
  }

  /** Relational formulation of the top-bigram statistic (explode +
    * two-level groupBy) — the reference semantics graft_top_bigram is
    * pinned against (BigramSpec), and the shape the DuckDB oracle
    * keeps. */
  private[graft] def q46RepetitionComposed(spark: SparkSession, sfDir: String): DataFrame = {
    val w = split(col("text"), " ")
    val bigrams = transform(sequence(lit(1), size(w) - 1),
      i => concat_ws(" ", element_at(w, i), element_at(w, i + 1)))
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val base = docs.select(col("doc_id"), size(w).as("n_words"),
      round(lit(1.0) - size(array_distinct(w)).cast("double") / size(w), 6)
        .as("dup_word_ratio"))
    val bg = docs.filter(size(w) >= 2)
      .select(col("doc_id"), explode(bigrams).as("g"))
    val top = bg.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("mx"), sum(col("c")).as("tot"))
    val frac = round(coalesce(col("mx").cast("double") / col("tot"), lit(0.0)), 6)
    base.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("dup_word_ratio"),
        frac.as("top_bigram_frac"),
        (col("dup_word_ratio") > DupWordMax || frac > TopBigramMax).as("flagged"))
      .orderBy(col("doc_id"))
  }

  val q46Sql: String = {
    val w = "string_split(text, ' ')"
    s"""WITH ws AS (SELECT doc_id, $w AS w FROM documents),
base AS (
  SELECT doc_id, len(w) AS n_words,
    round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS dup_word_ratio
  FROM ws),
bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
  FROM ws WHERE len(w) >= 2),
cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
top AS (SELECT doc_id, max(c) AS mx, CAST(sum(c) AS BIGINT) AS tot FROM cnt GROUP BY doc_id)
SELECT b.doc_id, b.n_words, b.dup_word_ratio,
  round(coalesce(CAST(t.mx AS DOUBLE) / t.tot, 0.0), 6) AS top_bigram_frac,
  (b.dup_word_ratio > $DupWordMax
   OR round(coalesce(CAST(t.mx AS DOUBLE) / t.tot, 0.0), 6) > $TopBigramMax) AS flagged
FROM base b LEFT JOIN top t USING (doc_id) ORDER BY b.doc_id"""
  }

  // ---------------------------------------------------------------- q47
  /** Deterministic stratified sampling — the data-mixing primitive of a
    * pretraining pipeline: each stratum (language) gets a target keep
    * rate, membership is a pure hash of the stable id (reproducible
    * across runs/engines, no RNG state), and the whole operator is a
    * map-only filter: zero shuffle besides the output sort, trivially
    * linear at 100 TB. English is downsampled to 10%, everything else
    * kept at 50%. */
  def q47StratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val rate = when(col("lang") === "en", lit(10)).otherwise(lit(50))
    Graft.hashSample(Tables.documents(spark, sfDir), col("doc_id"), rate)
      .select(col("doc_id"), col("lang"),
        pmod(MF.universalHash(col("doc_id"), 3), lit(100)).as("bucket"))
      .orderBy(col("doc_id"))
  }

  val q47Sql: String =
    s"""WITH b AS (
  SELECT doc_id, lang,
    ${Sql.universalHash("doc_id", 3)} % 100 AS bucket,
    (CASE WHEN lang = 'en' THEN 10 ELSE 50 END) AS rate_pct
  FROM documents)
SELECT doc_id, lang, bucket FROM b WHERE bucket < rate_pct ORDER BY doc_id"""

  // ---------------------------------------------------------------- q48
  /** Top terms kept per document. */
  val TfidfTopK = 3

  /** TF-IDF top terms per document — the classic relevance/keyword
    * signal a corpus-curation pipeline computes for filtering and
    * search: tf(doc, term) × ln((N+1)/(df(term)+1)) (smoothed IDF),
    * top-[[TfidfTopK]] terms per doc.
    *
    * Shape for 100 TB: the corpus is tokenized ONCE — the exploded
    * token frame feeds the per-doc tf partial aggregation, and df is
    * derived FROM tf (`tf.groupBy(term).count()`: tf already holds one
    * row per (doc, term), so counting its rows per term IS the distinct
    * document frequency — no second pass over the corpus). The document
    * count is a broadcast 1-row aggregate, and the per-doc top-k is a
    * rank window Spark rewrites to WindowGroupLimit (per-partition
    * top-k before the shuffle). The term join (tf ⋈ df) exchanges only
    * aggregated rows — never the raw token stream.
    *
    * Determinism across engines: the score is round(,6)-gridded BEFORE
    * ranking, so a sub-grid libm difference in ln() can't reorder the
    * top-k between Spark and the DuckDB oracle; ties break on the term.
    */
  def q48Tfidf(spark: SparkSession, sfDir: String): DataFrame =
    Graft.tfidfTopTerms(Tables.documents(spark, sfDir), col("doc_id"), col("text"),
        TfidfTopK)
      .orderBy(col("doc_id"), col("rank"))

  val q48Sql: String =
    s"""WITH tok AS MATERIALIZED (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
    round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n),
ranked AS (
  SELECT doc_id, term, tfidf,
    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored)
SELECT doc_id, term, rank, tfidf FROM ranked
WHERE rank <= $TfidfTopK ORDER BY doc_id, rank"""

  // ---------------------------------------------------------------- q49
  /** KMV sketch size. */
  val KmvK = 64

  /** Approximate distinct counting via a KMV (k-minimum-values)
    * sketch: hash every distinct token to [0, 2^32), keep the K
    * smallest hashes per group, estimate |distinct| = (K−1)·2^32 /
    * kth-smallest-hash. The sketch the 100 TB cardinality path wants
    * when `approx_count_distinct`'s HLL is a black box the oracle
    * can't replay — KMV is pure integer/double arithmetic, so the
    * SAME estimator runs on both engines and the driver hash-gates it
    * (exact count emitted alongside, with the realized relative
    * error).
    *
    * Shape at scale: the distinct() dedups map-side (partial agg);
    * the per-group K smallest ride a rank window whose sort key is
    * the hash — at 100 TB swap the window for an `approx`-style
    * per-partition top-K merge or keep groups partitioned; state is
    * O(K) per group either way. */
  def q49KmvDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val ranked = tok
      .withColumn("h", MF.hash32(col("tok")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("h"), col("tok"))))
    // (K-1) * 2^32 as one literal, identical text on both engines
    val scale = lit(f"${(KmvK - 1).toLong * 4294967296L}%d.0".toDouble)
    ranked.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_exact"),
        max(when(col("rn") <= KmvK, col("h"))).as("kth"))
      .withColumn("kmv_estimate",
        round(when(col("n_exact") < KmvK, col("n_exact").cast("double"))
          .otherwise(scale / col("kth").cast("double")), 6))
      .withColumn("rel_err",
        round(abs(col("kmv_estimate") - col("n_exact").cast("double"))
          / col("n_exact").cast("double"), 6))
      .select(col("lang"), col("n_exact"), col("kth"),
        col("kmv_estimate"), col("rel_err"))
      .orderBy(col("lang"))
  }

  val q49Sql: String = {
    val scale = s"${(KmvK - 1).toLong * 4294967296L}.0"
    s"""WITH tok AS (
  SELECT DISTINCT lang, tok FROM (
    SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)),
rk AS (
  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h, tok) AS rn
  FROM (SELECT lang, tok, ${Sql.hash32("tok")} AS h FROM tok)),
a AS (
  SELECT lang, count(*) AS n_exact,
    max(CASE WHEN rn <= $KmvK THEN h END) AS kth
  FROM rk GROUP BY lang),
e AS (
  SELECT lang, n_exact, kth,
    round(CASE WHEN n_exact < $KmvK THEN CAST(n_exact AS DOUBLE)
          ELSE $scale / CAST(kth AS DOUBLE) END, 6) AS kmv_estimate
  FROM a)
SELECT lang, n_exact, kth, kmv_estimate,
  round(abs(kmv_estimate - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 6) AS rel_err
FROM e ORDER BY lang"""
  }

  // ---------------------------------------------------------------- q50
  /** Exact distributed percentiles of document length per language
    * (p25/p50/p90/p99, linearly interpolated — Spark `percentile` ≡
    * DuckDB `quantile_cont` on identical integer inputs; the round(,6)
    * grid absorbs the one-ulp association difference in the
    * interpolation formulas). Exact percentile holds a per-group
    * value buffer, which is fine while group cardinality is bounded
    * (languages); for 100 TB groups of unbounded width, swap
    * `percentile` for `approx_percentile` — same call shape, bounded
    * t-digest state (not oracle-replayable, hence the exact form is
    * the driver-gated row). */
  def q50Quantiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        percentile(col("n_chars"),
          array(lit(0.25), lit(0.5), lit(0.9), lit(0.99))).as("q"),
        max(col("n_chars")).as("max_chars"))
      .select(col("lang"), col("n_docs"), col("min_chars"),
        round(col("q")(0), 6).as("p25"), round(col("q")(1), 6).as("p50"),
        round(col("q")(2), 6).as("p90"), round(col("q")(3), 6).as("p99"),
        col("max_chars"))
      .orderBy(col("lang"))

  val q50Sql: String =
    """WITH a AS (
  SELECT lang, count(*) AS n_docs, min(n_chars) AS min_chars,
    quantile_cont(n_chars, [0.25, 0.5, 0.9, 0.99]) AS q,
    max(n_chars) AS max_chars
  FROM documents GROUP BY lang)
SELECT lang, n_docs, min_chars,
  round(q[1], 6) AS p25, round(q[2], 6) AS p50,
  round(q[3], 6) AS p90, round(q[4], 6) AS p99,
  max_chars
FROM a ORDER BY lang"""

  // ---------------------------------------------------------------- q51
  /** Pivot values — the corpus languages, pinned so the output schema
    * is static (a pivot without explicit values runs an extra
    * distinct-collect job and breaks schema stability at scale). */
  val PivotLangs = Seq("de", "en", "es", "fr", "zh")

  /** Pivot to wide format: documents per (source, language) as one row
    * per source with a column per language. With pinned values a pivot
    * is ONE conditional aggregation — map-side partials, single
    * exchange on the groupBy key, no second pass — so the 100 TB cost
    * equals a plain groupBy. */
  def q51Pivot(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .pivot("lang", PivotLangs)
      .agg(count(lit(1)))
    val filled = PivotLangs.foldLeft(p)((d, l) =>
      d.withColumn(l, coalesce(col(l), lit(0L))))
    filled
      .withColumn("n_total", PivotLangs.map(col).reduce(_ + _))
      .select(col("source") +: PivotLangs.map(l => col(l).as(s"n_$l"))
        :+ col("n_total"): _*)
      .orderBy(col("source"))
  }

  val q51Sql: String = {
    val cols = PivotLangs.map(l =>
      s"count(*) FILTER (WHERE lang = '$l') AS n_$l").mkString(",\n  ")
    s"""SELECT source,
  $cols,
  count(*) AS n_total
FROM documents GROUP BY source ORDER BY source"""
  }

  // ---------------------------------------------------------------- q67
  /** Histogram bin width (chars) — sketch state per group is
    * O(range/HistBin) counters, not O(n) values. */
  val HistBin = 16

  /** Mergeable quantile sketch — the 100 TB percentile path q50's doc
    * points at, built deterministic and oracle-replayable like the
    * KMV/CMS sketches (Spark's `approx_percentile` t-digest is a black
    * box the oracle can't replay): a fixed-grid histogram of doc
    * length per language. Bin counts are plain sums — map-side
    * combinable, tree-mergeable, union-able across corpus shards — and
    * the estimator reads the cumulative histogram: for rank r =
    * ceil(p·n), the unique bin with cum_prev < r ≤ cum interpolates
    * est = bin_lo + width·(r − cum_prev)/cnt. The exact percentile
    * (q50's operator) and the realized |error| are emitted beside each
    * estimate; the error is bounded by construction at ±2·HistBin
    * (estimate and exact rank value sit in the same or adjacent bins —
    * TextSpec asserts it), so precision is a knob: halving the bin
    * width halves the bound, 2× the (still tiny) state. */
  def q67HistQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val binned = Tables.documents(spark, sfDir)
      .groupBy(col("lang"),
        floor(col("n_chars") / lit(16.0)).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val cum = binned
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("lang")).orderBy(col("bin"))))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("lang"))))
    def est(p: Double): Column = {
      val r = ceil(lit(p) * col("n")).cast("double")
      max(when(col("cum") >= r && (col("cum") - col("cnt")) < r,
        round(col("bin") * HistBin
          + lit(16.0) * (r - (col("cum") - col("cnt"))) / col("cnt"), 6)))
    }
    val sk = cum.groupBy(col("lang")).agg(
      max(col("n")).as("n_docs"),
      est(0.5).as("est_p50"), est(0.9).as("est_p90"), est(0.99).as("est_p99"))
    val exact = Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(percentile(col("n_chars"), array(lit(0.5), lit(0.9), lit(0.99))).as("q"))
      .select(col("lang"), round(col("q")(0), 6).as("exact_p50"),
        round(col("q")(1), 6).as("exact_p90"), round(col("q")(2), 6).as("exact_p99"))
    sk.join(exact, "lang")
      .select(col("lang"), col("n_docs"),
        col("est_p50"), col("exact_p50"),
        round(abs(col("est_p50") - col("exact_p50")), 6).as("err_p50"),
        col("est_p90"), col("exact_p90"),
        round(abs(col("est_p90") - col("exact_p90")), 6).as("err_p90"),
        col("est_p99"), col("exact_p99"),
        round(abs(col("est_p99") - col("exact_p99")), 6).as("err_p99"))
      .orderBy(col("lang"))
  }

  val q67Sql: String = {
    def est(p: Double, as: String): String =
      s"""max(CASE WHEN cum >= ceil($p * n) AND cum - cnt < ceil($p * n)
      THEN round(bin * $HistBin + 16.0 * (ceil($p * n) - (cum - cnt)) / cnt, 6) END) AS $as"""
    s"""WITH binned AS (
  SELECT lang, CAST(floor(n_chars / 16.0) AS BIGINT) AS bin, count(*) AS cnt
  FROM documents GROUP BY lang, bin),
cum AS (
  SELECT lang, bin, cnt,
    sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum,
    sum(cnt) OVER (PARTITION BY lang) AS n
  FROM binned),
sk AS (
  SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
    ${est(0.5, "est_p50")},
    ${est(0.9, "est_p90")},
    ${est(0.99, "est_p99")}
  FROM cum GROUP BY lang),
ex AS (
  SELECT lang, quantile_cont(n_chars, [0.5, 0.9, 0.99]) AS q
  FROM documents GROUP BY lang)
SELECT s.lang, n_docs,
  est_p50, round(q[1], 6) AS exact_p50, round(abs(est_p50 - round(q[1], 6)), 6) AS err_p50,
  est_p90, round(q[2], 6) AS exact_p90, round(abs(est_p90 - round(q[2], 6)), 6) AS err_p90,
  est_p99, round(q[3], 6) AS exact_p99, round(abs(est_p99 - round(q[3], 6)), 6) AS err_p99
FROM sk s JOIN ex USING (lang) ORDER BY s.lang"""
  }

  // ---------------------------------------------------------------- q56
  /** Count-Min sketch geometry: D independent hash rows × W counters.
    * Error bound: overestimate ≤ (e/W)·total_tokens with prob
    * 1 − (1/2)^D-ish; W=1024 keeps the demo sketch at 4 KB/row. */
  val CmsD = 4
  val CmsW = 1024

  /** Count-Min heavy-hitter frequencies — the frequency sketch next to
    * q49's KMV cardinality sketch: fold the token stream into a D×W
    * counter grid (fixed size NO MATTER the vocabulary), estimate a
    * token's count as the min over its D counters. One-sided error:
    * estimates only OVERCOUNT (collisions add), never undercount —
    * emitted beside the exact counts with the realized overestimate.
    * Like KMV, the estimator is pure integer arithmetic on the shared
    * universal-hash family, so the SAME sketch runs on both engines
    * and the driver hash-gates it (unlike Spark's opaque
    * `count_min_sketch` binary).
    *
    * Shape at scale: one partial-agged groupBy compresses the token
    * stream to vocab rows; the counter grid aggregates vocab rows (a
    * D-way in-row explode of vocab only, never of the stream); the
    * top-k probe is a 20-row broadcast join. */
  def q56Countmin(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
    val buck = vocab.select(col("tok"), col("exact_cnt"),
      explode(array((0 until CmsD).map { k =>
        struct(lit(k).as("k"),
          pmod(MF.universalHash(MF.hash32(col("tok")), k), lit(CmsW)).as("bucket"))
      }: _*)).as("kb"))
      .select(col("tok"), col("exact_cnt"),
        col("kb.k").as("k"), col("kb.bucket").as("bucket"))
    val counters = buck.groupBy(col("k"), col("bucket"))
      .agg(sum(col("exact_cnt")).as("c"))
    val top = vocab.orderBy(col("exact_cnt").desc, col("tok")).limit(20)
    top.join(buck.drop("exact_cnt"), "tok")
      .join(counters, Seq("k", "bucket"))
      .groupBy(col("tok"), col("exact_cnt"))
      .agg(min(col("c")).as("cms_estimate"))
      .select(col("tok"), col("exact_cnt"), col("cms_estimate"),
        (col("cms_estimate") - col("exact_cnt")).as("overestimate"))
      .orderBy(col("exact_cnt").desc, col("tok"))
  }

  val q56Sql: String = {
    val branches = (0 until CmsD).map { k =>
      s"SELECT tok, exact_cnt, $k AS k, ${Sql.universalHash(s"${Sql.hash32("tok")}", k)} % $CmsW AS bucket FROM vocab"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
vocab AS MATERIALIZED (SELECT tok, count(*) AS exact_cnt FROM tok GROUP BY tok),
buck AS MATERIALIZED (
  $branches),
counters AS (SELECT k, bucket, CAST(sum(exact_cnt) AS BIGINT) AS c
             FROM buck GROUP BY k, bucket),
top AS (SELECT tok, exact_cnt FROM vocab ORDER BY exact_cnt DESC, tok LIMIT 20)
SELECT t.tok, t.exact_cnt, min(c.c) AS cms_estimate,
  min(c.c) - t.exact_cnt AS overestimate
FROM top t JOIN buck b ON t.tok = b.tok JOIN counters c ON b.k = c.k AND b.bucket = c.bucket
GROUP BY t.tok, t.exact_cnt
ORDER BY t.exact_cnt DESC, t.tok"""
  }

  // ---------------------------------------------------------------- q57
  /** Per-language Pearson correlation + OLS regression (tokens ~
    * chars) computed ALGEBRAICALLY: one pass accumulates the six
    * integer sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy² — exact
    * int64 sums, map-side combined), then the closed forms run in
    * double with identical expression structure on both engines —
    * unlike a streaming `corr()` implementation whose accumulation
    * order leaks into the float result. The sufficient-statistics
    * shape is also WHY it scales: merging two partitions' statistics
    * is addition, so 1000 executors combine in a tree; at extreme
    * scale where n·Σxy nears int64, swap the sums to DECIMAL(38,0). */
  def q57Corr(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("lang"),
      col("n_chars").as("x"), size(split(col("text"), " ")).cast("long").as("y"))
    val s = d.groupBy(col("lang")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val numer = col("n") * col("sxy") - col("sx") * col("sy")
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    val slope = numer.cast("double") / dx.cast("double")
    s.select(col("lang"), col("n").as("n_docs"),
      round(numer.cast("double")
        / (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))), 6).as("pearson_r"),
      round(slope, 6).as("slope"),
      round((col("sy").cast("double") - slope * col("sx").cast("double"))
        / col("n"), 6).as("intercept"))
      .orderBy(col("lang"))
  }

  val q57Sql: String =
    """WITH d AS (
  SELECT lang, n_chars AS x, CAST(len(string_split(text, ' ')) AS BIGINT) AS y
  FROM documents),
s AS (
  SELECT lang, count(*) AS n,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
    CAST(sum(x * y) AS BIGINT) AS sxy
  FROM d GROUP BY lang)
SELECT lang, n AS n_docs,
  round(CAST(n * sxy - sx * sy AS DOUBLE)
    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS pearson_r,
  round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
  round((CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / n, 6) AS intercept
FROM s ORDER BY lang"""

  // ---------------------------------------------------------------- q73
  /** BM25 parameters (Robertson et al., TREC-3): k1 saturates term
    * frequency, b scales document-length normalization. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  /** Pinned query terms (the q51-pivot convention: a literal list, so
    * no data-dependent collect drives the plan). */
  val Bm25Terms = Seq("hash", "join", "vector", "filter")
  val Bm25TopK = 10

  /** Okapi BM25 retrieval scoring — the ranking function a corpus
    * search / retrieval-augmented pipeline runs over the curated
    * corpus: for each pinned query term, the top-[[Bm25TopK]] documents
    * by idf·tf·(k1+1)/(tf + k1·(1−b + b·dl/avgdl)) with the
    * Robertson–Spärck-Jones smoothed idf ln(1 + (N−df+0.5)/(df+0.5)).
    * Unlike q48's TF-IDF this is doc-length-normalized (b·dl/avgdl) and
    * tf-saturating (k1) — the shape real retrieval uses.
    *
    * Shape for 100 TB: the corpus is tokenized ONCE; dl and df both
    * derive from the per-(doc,term) tf frame (dl = Σ tf per doc, df =
    * row-count per term), so nothing re-scans text. The query-term
    * filter lands BEFORE the df/dl joins — the scored frame holds only
    * |terms|·|matching docs| rows — and (N, Σdl) ride one broadcast
    * 1-row aggregate. The per-term top-k is a rank window Spark
    * rewrites to WindowGroupLimit. Scores are round(,6)-gridded before
    * ranking with a doc_id tie-break (the q48 determinism convention).
    */
  def q73Bm25(spark: SparkSession, sfDir: String): DataFrame =
    Graft.bm25(Tables.documents(spark, sfDir), col("doc_id"), col("text"), Bm25Terms,
        Bm25TopK, Bm25K1, Bm25B)
      .orderBy(col("term"), col("rank"))

  val q73Sql: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
dl AS MATERIALIZED (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
st AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sumdl FROM dl),
scored AS (
  SELECT tf.term, tf.doc_id,
    round(ln(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5))
      * (tf.tf * ${Bm25K1 + 1.0}
         / (tf.tf + $Bm25K1 * (${1.0 - Bm25B}
            + $Bm25B * (CAST(dl.dl AS DOUBLE) * CAST(st.n AS DOUBLE)
                        / CAST(st.sumdl AS DOUBLE))))), 6) AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
  WHERE tf.term IN $terms),
ranked AS (
  SELECT term, doc_id, score,
    row_number() OVER (PARTITION BY term ORDER BY score DESC, doc_id) AS rank
  FROM scored)
SELECT term, doc_id, rank, score FROM ranked
WHERE rank <= $Bm25TopK ORDER BY term, rank"""
  }

  // ---------------------------------------------------------------- q74
  /** Samples kept per language stratum. */
  val WsTopK = 12

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis A-ES, IPL 2006): each document draws
    * u ∈ (0,1] from a pure hash of its stable id (no RNG state — the
    * q47 reproducibility convention) and keeps key = ln(u)/w with
    * weight w = n_chars; the top-[[WsTopK]] keys per language ARE a
    * weighted sample without replacement (P(i first) = wᵢ/Σw). This is
    * the domain-mixing primitive q47's fixed-rate sampling can't
    * express: strata where inclusion probability must follow a
    * per-document weight (length, quality score, dedup cluster size).
    *
    * Shape for 100 TB: key assignment is map-only codegen arithmetic;
    * the per-stratum top-k is a rank window → WindowGroupLimit (per-
    * partition top-k BEFORE the exchange), so the shuffle carries at
    * most k rows per partition per stratum — never the corpus. Keys are
    * round(,6)-gridded with a doc_id tie-break (q48 convention), making
    * the sample identical on both engines and across reruns. */
  def q74WeightedSample(spark: SparkSession, sfDir: String): DataFrame =
    Graft.weightedSample(
        Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("lang"), col("n_chars").as("weight")),
        col("doc_id"), col("weight"), col("lang"), WsTopK)
      .select(col("lang"), col("rank"), col("doc_id"), col("weight"), col("key"))
      .orderBy(col("lang"), col("rank"))

  val q74Sql: String =
    s"""WITH keyed AS (
  SELECT doc_id, lang, n_chars AS weight,
    round(ln(CAST(${Sql.universalHash("doc_id", 5)} + 1 AS DOUBLE) / 2147483647.0)
          / n_chars, 6) + 0.0 AS key
  FROM documents),
ranked AS (
  SELECT lang, doc_id, weight, key,
    row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS rank
  FROM keyed)
SELECT lang, rank, doc_id, weight, key FROM ranked
WHERE rank <= $WsTopK ORDER BY lang, rank"""

  // ---------------------------------------------------------------- q81
  /** Bigram language-model perplexity scoring — the quality signal a
    * pretraining pipeline filters on (CCNet/Gopher style: documents
    * whose token transitions are improbable under a reference model
    * are boilerplate, gibberish, or wrong-language): an add-one-
    * smoothed bigram model is fit on the corpus itself, and every
    * document is scored by its average negative log-likelihood
    * avg_nll = (1/n)·Σ ln((c1(w1)+V)/(c2(w1,w2)+1)) and perplexity
    * e^avg_nll. V is the context vocabulary (distinct bigram-first
    * tokens — derived from the model frame, documented cutoff).
    *
    * Shape for 100 TB: ONE bigram explode feeds everything — the
    * per-doc bigram counts ARE the partial aggregate, the model's
    * transition counts c2 re-aggregate that frame, the context counts
    * c1 re-aggregate c2, and V is a 1-row broadcast — no second pass
    * over text, and every exchange carries (bigram, count) rows. The
    * scoring join hits the model on (w1, w2) hash partitions. Each ln
    * term is round(,12)-gridded and the per-doc sum runs in exact
    * DECIMAL (the q79 convention) so the score is independent of
    * partial-sum association. */
  def q81Perplexity(spark: SparkSession, sfDir: String): DataFrame = {
    val w = split(col("text"), " ")
    val pairs = transform(sequence(lit(1), size(w) - 1),
      i => struct(element_at(w, i).as("w1"), element_at(w, i + 1).as("w2")))
    val bg = Tables.documents(spark, sfDir, spreadScan = true)
      .select(col("doc_id"), col("text"))
      .filter(size(w) >= 2)
      .select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
    // docBg feeds THREE consumers (c2's re-aggregation, the scoring
    // join, and — through c2 → c1 — the V broadcast): materialized once
    // (r12; profiled at sf0.1: the explode+partial-agg subtree ran as
    // three ~3–5.4 s SINGLE-TASK broadcast-subquery stages — exchange
    // reuse does not cross broadcast-job boundaries — and the stage was
    // single-task because the single-row-group scan can't split, hence
    // also spreadScan above). This was the one reproducible in-suite
    // regression of r11 (verdict item 3): under a warm session the
    // triple recompute amplified every block-manager stall.
    val docBg = graft.Checkpoints.materialize(bg
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c")))
    val c2 = docBg.groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val v = c1.agg(count(lit(1)).as("v"))
    val term = round(log((col("c1") + col("v")).cast("double")
      / (col("c2") + lit(1)).cast("double")), 12)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 12)
    // attach c1 to the VOCAB-sized c2 frame first (model assembly), so
    // the doc×bigram stream joins the finished model exactly once on
    // its own (w1,w2) partitioning instead of crossing two more
    // exchanges (w1,w2 then w1) itself.
    val model = c2.join(c1, Seq("w1"))
    val scored = docBg.join(model, Seq("w1", "w2"))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum((col("c").cast("double") * term).cast(dec)).as("s"))
    val avg = col("s").cast("double") / col("n_bigrams")
    scored.select(col("doc_id"), col("n_bigrams"),
        round(avg, 6).as("avg_nll"), round(exp(avg), 6).as("ppl"))
      .orderBy(col("doc_id"))
  }

  val q81Sql: String =
    """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> [w[i], w[i+1]])) AS p
  FROM ws WHERE len(w) >= 2),
docbg AS MATERIALIZED (
  SELECT doc_id, p[1] AS w1, p[2] AS w2, count(*) AS c FROM bg GROUP BY 1, 2, 3),
c2 AS MATERIALIZED (
  SELECT w1, w2, CAST(sum(c) AS BIGINT) AS c2 FROM docbg GROUP BY w1, w2),
c1 AS MATERIALIZED (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
v AS (SELECT count(*) AS v FROM c1),
scored AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
    sum(CAST(CAST(c AS DOUBLE)
      * round(ln(CAST(c1 + v AS DOUBLE) / CAST(c2 + 1 AS DOUBLE)), 12)
      AS DECIMAL(38,12))) AS s
  FROM docbg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
  GROUP BY doc_id)
SELECT doc_id, n_bigrams,
  round(CAST(s AS DOUBLE) / n_bigrams, 6) AS avg_nll,
  round(exp(CAST(s AS DOUBLE) / n_bigrams), 6) AS ppl
FROM scored ORDER BY doc_id"""

  // ---------------------------------------------------------------- q82
  /** Dataset drift monitor — KL(P(lang|source) ‖ P(lang)): how far
    * each ingest source's language mix diverges from the corpus-wide
    * mix, the per-slice distribution check a pipeline alarms on when a
    * source's composition shifts. All probabilities come from exact
    * integer counts; each term p_ls·ln((c_sl·N)/(c_s·c_l)) keeps the
    * ratio in exact integer cross-multiplication inside the ln,
    * round(,12)-grids it, and decimal-sums per source (the q79
    * convention). Two tiny aggregated frames + broadcast joins —
    * nothing document-level rides an exchange. */
  def q82Drift(spark: SparkSession, sfDir: String): DataFrame = {
    val sl = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c_sl"))
    val s = sl.groupBy(col("source")).agg(sum(col("c_sl")).as("c_s"))
    val l = sl.groupBy(col("lang")).agg(sum(col("c_sl")).as("c_l"))
    val n = s.agg(sum(col("c_s")).as("n"))
    val term = (col("c_sl").cast("double") / col("c_s")) *
      round(log((col("c_sl") * col("n")).cast("double")
        / (col("c_s") * col("c_l")).cast("double")), 12)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 12)
    sl.join(broadcast(s), "source").join(broadcast(l), "lang")
      .crossJoin(broadcast(n))
      .groupBy(col("source"))
      .agg(max(col("c_s")).as("n_docs"), sum(term.cast(dec)).as("kl"))
      .select(col("source"), col("n_docs"),
        round(col("kl").cast("double"), 6).as("kl_divergence"))
      .orderBy(col("source"))
  }

  val q82Sql: String =
    """WITH sl AS MATERIALIZED (
  SELECT source, lang, count(*) AS c_sl FROM documents GROUP BY source, lang),
s AS (SELECT source, CAST(sum(c_sl) AS BIGINT) AS c_s FROM sl GROUP BY source),
l AS (SELECT lang, CAST(sum(c_sl) AS BIGINT) AS c_l FROM sl GROUP BY lang),
n AS (SELECT CAST(sum(c_s) AS BIGINT) AS n FROM s)
SELECT source, max(c_s) AS n_docs,
  round(CAST(sum(CAST(
    (CAST(c_sl AS DOUBLE) / c_s)
    * round(ln(CAST(c_sl * n AS DOUBLE) / CAST(c_s * c_l AS DOUBLE)), 12)
    AS DECIMAL(38,12))) AS DOUBLE), 6) AS kl_divergence
FROM sl JOIN s USING (source) JOIN l USING (lang) CROSS JOIN n
GROUP BY source ORDER BY source"""

  // ---------------------------------------------------------------- q83
  /** HLL precision: p = 9 ⇒ m = 512 registers, 23 rank bits. */
  val HllM = 512
  val HllRankBits = 23

  /** HyperLogLog distinct-token cardinality per language — the
    * fixed-size mergeable counterpart of q49's KMV sketch and the
    * sketch a 100 TB pipeline actually ships for COUNT(DISTINCT):
    * register state is m·6 bits per group no matter the cardinality,
    * registers merge by max, and the partial agg does the merging
    * map-side. Flajolet et al. (AofA'07) estimator with the standard
    * small-range linear-counting correction. Every piece is
    * deterministic and oracle-replayable: bucket = top 9 bits of the
    * portable [[MF.hash32]], rank ρ = position of the first 1-bit in
    * the remaining 23 (= 24 − len(bin(w)), identical in both engines),
    * and Σ2^−ρ is EXACT — each term is a multiple of 2^−24 and ≤512 of
    * them sum below 2^33·2^−24, inside double precision, so the sum is
    * association-free. ln appears only on the linear-counting branch,
    * round(,12)-gridded (the q79 convention). The exact distinct count
    * is computed beside it purely to emit the realized |error| — the
    * sketch path never touches it. */
  def q83Hll(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
    val h = MF.hash32(col("tok"))
    val rb = tok.select(col("lang"),
      shiftrightunsigned(h, HllRankBits).as("bucket"),
      h.bitwiseAND(lit((1L << HllRankBits) - 1)).as("w"))
    val rho = when(col("w") === 0, lit(HllRankBits + 1))
      .otherwise(lit(HllRankBits + 1) - length(bin(col("w"))))
    val regs = rb.groupBy(col("lang"), col("bucket")).agg(max(rho).as("r"))
    val agg = regs.groupBy(col("lang")).agg(
      count(lit(1)).as("present"),
      sum(lit(1.0) / expr("shiftleft(1L, cast(r as int))")).as("zp"))
    val exact = tok.groupBy(col("lang"))
      .agg(countDistinct(col("tok")).as("n_exact"))
    val m = lit(HllM.toDouble)
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / m)
    val vZero = lit(HllM.toLong) - col("present")
    val z = col("zp") + vZero.cast("double")
    val eRaw = alpha * m * m / z
    val est = when(eRaw <= lit(2.5) * m && vZero > 0,
      m * round(log(m / vZero.cast("double")), 12)).otherwise(eRaw)
    agg.join(exact, "lang")
      .select(col("lang"), vZero.as("v_zero"), col("n_exact"),
        round(est, 6).as("hll_est"),
        round(abs(est - col("n_exact")) / col("n_exact"), 6).as("rel_err"))
      .orderBy(col("lang"))
  }

  val q83Sql: String =
    s"""WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
rb AS (
  SELECT lang, h >> $HllRankBits AS bucket, h & ${(1L << HllRankBits) - 1} AS w
  FROM (SELECT lang, ${Sql.hash32("tok")} AS h FROM tok)),
regs AS MATERIALIZED (
  SELECT lang, bucket,
    max(CASE WHEN w = 0 THEN ${HllRankBits + 1}
        ELSE ${HllRankBits + 1} - length(bin(w)) END) AS r
  FROM rb GROUP BY lang, bucket),
agg AS (
  SELECT lang, count(*) AS present, sum(1.0 / (1::BIGINT << r)) AS zp
  FROM regs GROUP BY lang),
exact AS (SELECT lang, count(DISTINCT tok) AS n_exact FROM tok GROUP BY lang),
est AS (
  SELECT lang, $HllM - present AS v_zero, zp + ($HllM - present) AS z
  FROM agg)
SELECT e.lang, e.v_zero, x.n_exact,
  round(CASE WHEN (0.7213 / (1.0 + 1.079 / $HllM.0)) * $HllM.0 * $HllM.0 / e.z <= 2.5 * $HllM.0
              AND e.v_zero > 0
         THEN $HllM.0 * round(ln($HllM.0 / e.v_zero), 12)
         ELSE (0.7213 / (1.0 + 1.079 / $HllM.0)) * $HllM.0 * $HllM.0 / e.z END, 6) AS hll_est,
  round(abs((CASE WHEN (0.7213 / (1.0 + 1.079 / $HllM.0)) * $HllM.0 * $HllM.0 / e.z <= 2.5 * $HllM.0
              AND e.v_zero > 0
         THEN $HllM.0 * round(ln($HllM.0 / e.v_zero), 12)
         ELSE (0.7213 / (1.0 + 1.079 / $HllM.0)) * $HllM.0 * $HllM.0 / e.z END) - x.n_exact)
        / x.n_exact, 6) AS rel_err
FROM est e JOIN exact x USING (lang) ORDER BY e.lang"""

  // ---------------------------------------------------------------- q84
  /** Split fractions: bucket < 90 → train, < 95 → valid, else test. */
  val SplitTrainPct = 90
  val SplitValidPct = 95

  /** Deterministic train/valid/test split — the dataset-management op
    * every training pipeline runs last: each document's split is a
    * pure hash of its stable id (bucket = hash32('split:'‖doc_id) mod
    * 100), so membership is reproducible on any cluster, stable under
    * re-runs and re-partitioning, and needs no RNG state or shuffle —
    * the assignment is MAP-ONLY and the output is the per-(split,lang)
    * composition audit: counts, char volume, and each split's share of
    * its language (which should sit near 90/5/5 per language if the
    * hash is unbiased — the emitted lang_frac IS that check). */
  def q84Split(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = pmod(MF.hash32(
      concat(lit("split:"), col("doc_id").cast("string"))), lit(100))
    val split = when(bucket < SplitTrainPct, lit("train"))
      .when(bucket < SplitValidPct, lit("valid")).otherwise(lit("test"))
    val perLang = Window.partitionBy(col("lang"))
    Tables.documents(spark, sfDir)
      .select(split.as("split"), col("lang"), col("n_chars"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .withColumn("lang_frac",
        round(col("n_docs").cast("double") / sum(col("n_docs")).over(perLang), 6))
      .orderBy(col("split"), col("lang"))
  }

  val q84Sql: String =
    s"""WITH assigned AS (
  SELECT (CASE WHEN b < $SplitTrainPct THEN 'train'
          WHEN b < $SplitValidPct THEN 'valid' ELSE 'test' END) AS split,
    lang, n_chars
  FROM (SELECT lang, n_chars,
          ${Sql.hash32("('split:' || CAST(doc_id AS VARCHAR))")} % 100 AS b
        FROM documents)),
g AS (
  SELECT split, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM assigned GROUP BY split, lang)
SELECT split, lang, n_docs, n_chars,
  round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (PARTITION BY lang), 6) AS lang_frac
FROM g ORDER BY split, lang"""

  // ---------------------------------------------------------------- q88
  /** Epoch cap: no source is up-sampled beyond 5× its natural rate. */
  val MixtureMaxWeight = 5.0

  /** Source-mixture reweighting — the domain-mix step between curation
    * and training: given a uniform target share per ingest source,
    * compute each source's sampling weight = min(target/natural, 5)
    * (the epoch cap keeps small sources from repeating forever), its
    * reweighted effective token count, and its realized share of the
    * final mixture. One token-count aggregation over the corpus (the
    * only full-data pass, partial-agged); everything after runs on the
    * per-source frame — 20 rows — via broadcast scalars. All
    * divisions of exact integer counts ⇒ cross-engine deterministic;
    * round(,6) grid on every emitted ratio. */
  def q88Mixture(spark: SparkSession, sfDir: String): DataFrame = {
    val perSrc = Tables.documents(spark, sfDir)
      .select(col("source"), size(split(col("text"), " ")).as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("t"),
      count(lit(1)).as("n_src"))
    val natural = col("n_tokens").cast("double") / col("t")
    val target = lit(1.0) / col("n_src")
    val weight = least(target / natural, lit(MixtureMaxWeight))
    val eff = col("n_tokens") * weight
    val withW = perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(natural, 6).as("nat_share"), round(weight, 6).as("weight"),
        round(eff, 6).as("eff_tokens"))
    val effTot = Window.partitionBy()
    withW
      .withColumn("mix_share",
        round(col("eff_tokens") / sum(col("eff_tokens")).over(effTot), 6))
      .orderBy(col("source"))
  }

  val q88Sql: String =
    s"""WITH per_src AS (
  SELECT source, count(*) AS n_docs,
    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t, count(*) AS n_src FROM per_src),
w AS (
  SELECT source, n_docs, n_tokens,
    round(CAST(n_tokens AS DOUBLE) / t, 6) AS nat_share,
    round(least((1.0 / n_src) / (CAST(n_tokens AS DOUBLE) / t), $MixtureMaxWeight), 6) AS weight,
    round(n_tokens * least((1.0 / n_src) / (CAST(n_tokens AS DOUBLE) / t), $MixtureMaxWeight), 6) AS eff_tokens
  FROM per_src CROSS JOIN tot)
SELECT source, n_docs, n_tokens, nat_share, weight,
  eff_tokens, round(eff_tokens / sum(eff_tokens) OVER (), 6) AS mix_share
FROM w ORDER BY source"""

  // ---------------------------------------------------------------- q90
  /** Vocabulary cap, minimum pair support, pairs kept. */
  val PmiVocab = 40
  val PmiMinSupport = 5
  val PmiTopK = 50

  /** Token co-occurrence association mining (pointwise mutual
    * information) — the collocation/market-basket op over documents:
    * which token pairs appear together far more often than chance?
    * pmi(a,b) = ln(df_ab·N / (df_a·df_b)) over per-document DISTINCT
    * tokens, vocabulary pinned to the [[PmiVocab]] most frequent
    * tokens (deterministic count-desc/token tie-break), pairs below
    * [[PmiMinSupport]] docs dropped, top [[PmiTopK]] by
    * round(6)-gridded pmi (the q48 rank-after-grid convention).
    *
    * Shape for 100 TB: the vocab is a TakeOrdered scalar (never a
    * global window), broadcast back to gate the token stream — so the
    * pair self-join runs on ≤V tokens per doc, the only corpus-wide
    * exchanges carry (doc, vocab-token) and aggregated pair rows, and
    * the PMI math happens on a ≤V² frame with integer
    * cross-multiplication inside the ln (the q82 convention). */
  def q90Pmi(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(PmiVocab)
    val n = docs.agg(count(lit(1)).as("n"))
    val dt = tok.join(broadcast(vocab.select(col("tok"))), "tok")
      .select(col("doc_id"), col("tok"))
    val pairs = dt.as("x").join(dt.as("y"),
        col("x.doc_id") === col("y.doc_id") && col("x.tok") < col("y.tok"))
      .select(col("x.tok").as("a"), col("y.tok").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= PmiMinSupport)
    val dfa = vocab.select(col("tok").as("a"), col("df").as("df_a"))
    val dfb = vocab.select(col("tok").as("b"), col("df").as("df_b"))
    val pmi = round(log((col("c_ab") * col("n")).cast("double")
      / (col("df_a") * col("df_b")).cast("double")), 6)
    val top = pairs.join(broadcast(dfa), "a").join(broadcast(dfb), "b")
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("c_ab"), col("df_a"), col("df_b"),
        pmi.as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b")).limit(PmiTopK)
    val w = Window.orderBy(col("pmi").desc, col("a"), col("b"))
    top.withColumn("rank", row_number().over(w))
      .select(col("rank"), col("a"), col("b"), col("c_ab"), col("pmi"))
      .orderBy(col("rank"))
  }

  val q90Sql: String =
    s"""WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents),
vocab AS MATERIALIZED (
  SELECT tok, count(*) AS df FROM tok GROUP BY tok
  ORDER BY df DESC, tok LIMIT $PmiVocab),
n AS (SELECT count(*) AS n FROM documents),
dt AS MATERIALIZED (
  SELECT doc_id, tok FROM tok WHERE tok IN (SELECT tok FROM vocab)),
pairs AS (
  SELECT x.tok AS a, y.tok AS b, count(*) AS c_ab
  FROM dt x JOIN dt y ON x.doc_id = y.doc_id AND x.tok < y.tok
  GROUP BY 1, 2 HAVING count(*) >= $PmiMinSupport),
scored AS (
  SELECT a, b, c_ab,
    round(ln(CAST(c_ab * n AS DOUBLE) / CAST(va.df * vb.df AS DOUBLE)), 6) AS pmi
  FROM pairs JOIN vocab va ON pairs.a = va.tok
  JOIN vocab vb ON pairs.b = vb.tok CROSS JOIN n),
ranked AS (
  SELECT a, b, c_ab, pmi,
    row_number() OVER (ORDER BY pmi DESC, a, b) AS rank
  FROM scored)
SELECT rank, a, b, c_ab, pmi FROM ranked
WHERE rank <= $PmiTopK ORDER BY rank"""

  // ---------------------------------------------------------------- q92
  /** Posting-list length cap — the per-term impact-ordered head a
    * retrieval index actually serves hot. */
  val PostTopK = 20

  /** Inverted-index build (impact-ordered postings) — the retrieval
    * artifact q73's BM25 scores against, materialized: one row per
    * vocabulary term with df (documents containing it), total tf, and
    * the head of its posting list as `doc_id:tf` entries ordered by
    * impact (tf desc, doc_id tiebreak), capped at [[PostTopK]].
    *
    * Shape for 100 TB: the corpus is tokenized ONCE into the
    * (doc,term,tf) frame (partial-agged — the exchange carries
    * per-doc-term rows, never raw tokens); df/total_tf re-aggregate
    * that frame; the posting head is a rank window Spark rewrites to
    * WindowGroupLimit (per-partition top-k before the exchange), so
    * the per-term state is ≤k entries however large the corpus — the
    * output is vocabulary-sized, and a full (uncapped) index is the
    * same plan minus the rank filter, written partitioned by term.
    * All-integer (counts, ids) ⇒ exact cross-engine hash; the joined
    * posting string is deterministic by construction. */
  def q92Postings(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("term"))
      .orderBy(col("tf").desc, col("doc_id"))
    val head = tf.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= PostTopK)
      .select(col("term"), col("rank"),
        concat(col("doc_id").cast("string"), lit(":"), col("tf").cast("string"))
          .as("entry"))
      // sort_array on struct(rank, entry) orders by rank; the lambda
      // runs over ≤k in-row elements (bounded, not data-scaled)
      .groupBy(col("term"))
      .agg(expr(s"array_join(transform(sort_array(collect_list(struct(rank, entry)))," +
        " x -> x.entry), ',')").as("postings_head"))
    tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
      .join(head, "term")
      .select(col("term"), col("df"), col("total_tf"), col("postings_head"))
      .orderBy(col("term"))
  }

  val q92Sql: String =
    s"""WITH tf AS (
  SELECT term, doc_id, count(*) AS tf FROM (
    SELECT doc_id, unnest(split(text, ' ')) AS term FROM documents)
  WHERE term <> '' GROUP BY term, doc_id),
ranked AS (
  SELECT term, doc_id, tf,
    row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rank
  FROM tf),
heads AS (
  SELECT term, string_agg(doc_id || ':' || tf, ',' ORDER BY rank) AS postings_head
  FROM ranked WHERE rank <= $PostTopK GROUP BY term)
SELECT tf.term, count(*) AS df, CAST(sum(tf.tf) AS BIGINT) AS total_tf, any_value(h.postings_head) AS postings_head
FROM tf JOIN heads h ON tf.term = h.term
GROUP BY tf.term ORDER BY tf.term"""

  // ---------------------------------------------------------------- q94
  /** Robust z cutoff: |x − median| > MadZ · 1.4826 · MAD (1.4826 =
    * 1/Φ⁻¹(3/4), the consistency constant that makes MAD estimate σ
    * under normality). */
  val MadZ = 3.0

  /** Robust outlier detection via median absolute deviation — the
    * length-anomaly screen a curation pipeline runs where mean/stdev
    * (q63's z-score) would be poisoned by the very outliers it hunts
    * (a few 10×-length documents inflate σ until nothing is anomalous;
    * the median and MAD have 50% breakdown). Per language: median doc
    * length, MAD, and how many documents fall outside the robust
    * [[MadZ]]σ̂ band.
    *
    * Shape for 100 TB: two exact `percentile(0.5)` aggregations (the
    * q50 path — swap to `approx_percentile` for unbounded groups, same
    * call shape) with the medians riding back as a broadcast join of
    * one row per language; the outlier count is a conditional agg over
    * the same hash partitioning — three passes over a (lang, n_chars)
    * projection, nothing document-level on an exchange twice. */
  def q94Mad(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("lang"), col("n_chars"))
    val med = docs.groupBy(col("lang"))
      .agg(percentile(col("n_chars"), lit(0.5)).as("med"))
    val dev = docs.join(broadcast(med), "lang")
      .select(col("lang"), col("n_chars"), col("med"),
        abs(col("n_chars") - col("med")).as("adev"))
    val mad = dev.groupBy(col("lang"))
      .agg(percentile(col("adev"), lit(0.5)).as("mad"))
    dev.join(broadcast(mad), "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("adev") > lit(MadZ) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .join(med, "lang").join(mad, "lang")
      .select(col("lang"), col("n_docs"), round(col("med"), 6).as("median_chars"),
        round(col("mad"), 6).as("mad"),
        col("n_outliers"),
        round(col("n_outliers").cast("double") / col("n_docs"), 6).as("outlier_pct"))
      .orderBy(col("lang"))
  }

  val q94Sql: String =
    s"""WITH med AS (
  SELECT lang, quantile_cont(n_chars, 0.5) AS med FROM documents GROUP BY lang),
dev AS (
  SELECT d.lang, d.n_chars, m.med, abs(d.n_chars - m.med) AS adev
  FROM documents d JOIN med m ON d.lang = m.lang),
mad AS (
  SELECT lang, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY lang),
cnt AS (
  SELECT dev.lang, count(*) AS n_docs,
    CAST(sum(CASE WHEN dev.adev > $MadZ * 1.4826 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
  FROM dev JOIN mad ON dev.lang = mad.lang GROUP BY dev.lang)
SELECT cnt.lang, n_docs, round(med.med, 6) AS median_chars,
  round(mad.mad, 6) AS mad, n_outliers,
  round(CAST(n_outliers AS DOUBLE) / n_docs, 6) AS outlier_pct
FROM cnt JOIN med ON cnt.lang = med.lang JOIN mad ON cnt.lang = mad.lang
ORDER BY cnt.lang"""

  // ---------------------------------------------------------------- q95
  /** Low-entropy cutoff in nats, applied on the exact 10¹²-scaled
    * integer. 2.75 sits in the fixture's lower tail (normal docs in
    * its 27+-symbol alphabet score ~2.85, ~8% fall below) — the
    * review-or-drop band; repeated-character boilerplate scores far
    * lower still. */
  val EntropyLowE12 = 2_750_000_000_000L

  /** Character-entropy quality scoring — the model-free gibberish /
    * boilerplate screen next to q41's ratio heuristics and q81's
    * bigram-LM perplexity: Shannon entropy of each document's
    * code-point distribution in nats, plus a low-entropy flag (the
    * CCNet-style "too repetitive to be prose" cut). Uses the
    * `graft_entropy` kernel ([[graft.plans.EntropyMath]]): histogram +
    * entropy fold in ONE compiled pass per row — map-only, where the
    * composed form would explode every CHARACTER of the corpus through
    * an exchange (a |text|× row inflation; the q43/q46 kernel argument
    * one level finer). Entropy terms are round(,12)-gridded and
    * long-summed in the kernel (q79 convention), so the DuckDB oracle
    * replays the identical rational with its unnest + GROUP BY
    * formulation, and the flag compares exact integers on both sides.
    *
    * Unit contract (pinned in EntropySpec): both sides count Unicode
    * CODE POINTS — the kernel iterates `codePointAt`, and DuckDB's
    * `string_split(text, '')` splits UTF-8 into code-point units
    * (verified empirically: astral chars are ONE unit, combining marks
    * are SEPARATE units — not UTF-16 code units, not graphemes). The
    * gate therefore holds for any Unicode fixture, not just BMP/ASCII. */
  def q95Entropy(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        call_function("graft_entropy", col("text")).as("e"))
      .select(col("doc_id"), col("e.n").as("n_cp"), col("e.k").as("distinct_cp"),
        round(col("e.ent_e12").cast("double") / lit(1e12), 6).as("entropy_nats"),
        (col("e.ent_e12") < lit(EntropyLowE12)).as("low_entropy"))
      .orderBy(col("doc_id"))

  val q95Sql: String =
    s"""WITH cs AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
cnt AS (SELECT doc_id, ch, count(*) AS c FROM cs WHERE ch <> '' GROUP BY doc_id, ch),
n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS k FROM cnt GROUP BY doc_id),
terms AS (
  SELECT cnt.doc_id,
    CAST(round(-((CAST(c AS DOUBLE) / n.n) * ln(CAST(c AS DOUBLE) / n.n)), 12)
         AS DECIMAL(38,12)) AS t
  FROM cnt JOIN n ON cnt.doc_id = n.doc_id),
ent AS (SELECT doc_id, sum(t) AS e FROM terms GROUP BY doc_id)
SELECT n.doc_id, n.n AS n_cp, n.k AS distinct_cp,
  round(CAST(ent.e AS DOUBLE), 6) AS entropy_nats,
  (ent.e < 2.75) AS low_entropy
FROM n JOIN ent ON n.doc_id = ent.doc_id
ORDER BY n.doc_id"""

  // ---------------------------------------------------------------- q100
  /** A 5-gram is boilerplate when it occurs in at least this many
    * distinct documents. */
  val BoilerGram = 5
  val BoilerMinDocs = 3

  /** Boilerplate phrase detection — the C4-style cleanup pass a
    * training corpus runs before dedup: word 5-grams that recur across
    * ≥ [[BoilerMinDocs]] distinct documents are "boilerplate"
    * (headers, footers, templates, licensed snippets), and every doc
    * is scored by the fraction of its 5-gram occurrences that are
    * boilerplate — the signal for trimming or down-weighting
    * template-heavy documents.
    *
    * Shape for 100 TB: ONE tokenization; the gram stream is aggregated
    * to per-doc-distinct (doc, gram, occ) rows map-side before the only
    * corpus-wide exchange (groupBy gram for document frequency — the
    * exact shuffle C4's dedup runs, linear in corpus size, never
    * quadratic); the boilerplate gram set joins back on the SAME
    * (doc, gram) aggregate, so raw token positions never ride an
    * exchange twice. Grams ride the exchanges as a 64-bit portable
    * hash (two md5-derived 32-bit columns, the q22 hlo/hhi convention)
    * instead of ~50-byte strings — measured 8.4s → ~3s warm at sf0.1;
    * a cross-doc collision needs ~2^32 distinct grams and would merge
    * identically on both engines. */
  def q100Boilerplate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // grams + hashes from the compiled one-pass kernel; the pre-filter
    // keeps the q100 convention (docs under 5 words contribute ZERO
    // grams — the kernel's whole-text fallback must not fire)
    val grams = docs
      .filter(size(split(col("text"), " ")) >= BoilerGram)
      .select(col("doc_id"),
        explode(call_function("graft_gram_hashes", col("text"), lit(BoilerGram))).as("gh"))
    // pg feeds three consumers (boilerplate set, per-doc hits, per-doc
    // totals) — cache it or the gram kernel + explode subtree executes
    // once per consumer (measured: the whole row was ~3x its own work)
    val pg = graft.Checkpoints.cache(grams
      .groupBy(col("doc_id"), col("gh.hlo").as("hlo"), col("gh.hhi").as("hhi"))
      .agg(count(lit(1)).as("occ")))
    val boiler = pg.groupBy(col("hlo"), col("hhi")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= BoilerMinDocs)
      .select(col("hlo"), col("hhi"))
    val per = pg.join(boiler, Seq("hlo", "hhi"), "left_semi")
      .groupBy(col("doc_id")).agg(sum(col("occ")).as("boiler_occ"))
    val tot = pg.groupBy(col("doc_id")).agg(sum(col("occ")).as("n_grams"))
    docs.select(col("doc_id"))
      .join(tot, Seq("doc_id"), "left")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("boiler_occ"), lit(0L)).as("boiler_occ"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          round(coalesce(col("boiler_occ"), lit(0L)).cast("double") / col("n_grams"), 6))
          .otherwise(lit(0.0)).as("boiler_ratio"))
      .orderBy(col("doc_id"))
  }

  val q100Sql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, greatest(len(t) - ${BoilerGram - 1}, 0) + 1),
      |      i -> array_to_string(t[i:i+${BoilerGram - 1}], ' '))) AS g
      |  FROM toks),
      |pg AS (
      |  SELECT doc_id, ${Sql.hash32OfHexAt("md5(g)", 1)} AS hlo,
      |    ${Sql.hash32OfHexAt("md5(g)", 9)} AS hhi, count(*) AS occ
      |  FROM grams GROUP BY 1, 2, 3),
      |boiler AS (SELECT hlo, hhi FROM pg GROUP BY hlo, hhi HAVING count(*) >= $BoilerMinDocs),
      |per AS (
      |  SELECT doc_id, CAST(sum(occ) AS BIGINT) AS boiler_occ
      |  FROM pg JOIN boiler USING (hlo, hhi) GROUP BY doc_id),
      |tot AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_grams FROM pg GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(t.n_grams, 0) AS n_grams,
      |  coalesce(p.boiler_occ, 0) AS boiler_occ,
      |  CASE WHEN coalesce(t.n_grams, 0) > 0
      |       THEN round(CAST(coalesce(p.boiler_occ, 0) AS DOUBLE) / t.n_grams, 6)
      |       ELSE 0.0 END AS boiler_ratio
      |FROM documents d
      |LEFT JOIN tot t ON d.doc_id = t.doc_id
      |LEFT JOIN per p ON d.doc_id = p.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q106
  /** JSONL source/sink round-trip under the oracle gate: the documents
    * table is written as JSON Lines (the interchange format every
    * training-data pipeline ingests and emits), read back through the
    * JSON source with an explicit schema, and aggregated per source —
    * count, char volume, and a per-doc content checksum
    * (Σ hash32(md5(text))). The oracle computes the SAME aggregates
    * from the original parquet, so a hash match proves the JSON
    * writer/reader round-trips every document bit-exactly (escaping,
    * unicode, field order) — the sink/source fidelity claim as a
    * failing gate instead of an assumption. Scale shape: JSONL write
    * and read are embarrassingly parallel per file split; the
    * aggregate is one partial-agged groupBy(source). */
  def q106JsonlIo(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    graft.TempDirs.withEphemeral("graft_q106_") { tmp =>
      val dir = tmp.resolve("docs_jsonl").toString
      docs.write.mode("overwrite").json(dir)
      graft.Checkpoints.materialize(spark.read.schema(docs.schema).json(dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(MF.hash32(col("text"))).as("text_checksum"))
        .orderBy(col("source")))
    }
  }

  val q106Sql: String =
    s"""SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(${Sql.hash32("text")}) AS BIGINT) AS text_checksum
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q113
  /** Flesch reading-ease scoring per document — the classic
    * readability feature in data-quality filters (drop the unreadable
    * tail, stratify training mixes by difficulty). Counts come from a
    * marker-replacement idiom both engines evaluate identically:
    * collapse each token class to ONE marker character
    * (`[a-z]+`→`W` for words, `[aeiouy]+`→`V` for syllable groups —
    * the standard vowel-run approximation — `[.!?]+`→`.` for sentence
    * ends) and count markers as `length(s) − length(replace(s, m))`.
    * The difference form makes the count independent of either
    * engine's length semantics on non-ASCII text: every non-marker
    * character contributes equally to both terms and cancels, so only
    * the ASCII markers remain (the q95 astral-unit concern can't
    * arise). ASCII `[a-z]` tokenization is the documented contract for
    * non-Latin scripts (q52 convention).
    *
    * Shape: map-only scan + the deterministic output sort — zero
    * pre-sort shuffle at any scale. */
  def q113Readability(spark: SparkSession, sfDir: String): DataFrame = {
    def marks(c: Column, re: String, m: String): Column =
      regexp_replace(c, re, m)
    def cnt(c: Column, m: String): Column =
      (length(c) - length(regexp_replace(c, java.util.regex.Pattern.quote(m), "")))
        .cast("long")
    val lowered = lower(col("text"))
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        cnt(marks(lowered, "[a-z]+", "W"), "W").as("n_words"),
        greatest(cnt(marks(col("text"), "[.!?]+", "."), "."), lit(1L)).as("n_sentences"),
        cnt(marks(lowered, "[aeiouy]+", "V"), "V").as("n_syllables"))
    d.select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        round(lit(206.835)
          - lit(1.015) * col("n_words").cast("double") / col("n_sentences")
          - lit(84.6) * col("n_syllables").cast("double")
              / greatest(col("n_words"), lit(1L)), 6).as("flesch"))
      .orderBy(col("doc_id"))
  }

  val q113Sql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    regexp_replace(lower(text), '[a-z]+', 'W', 'g') AS wm,
      |    regexp_replace(text, '[.!?]+', '.', 'g') AS sm,
      |    regexp_replace(lower(text), '[aeiouy]+', 'V', 'g') AS vm
      |  FROM documents),
      |c AS (
      |  SELECT doc_id,
      |    CAST(length(wm) - length(replace(wm, 'W', '')) AS BIGINT) AS n_words,
      |    greatest(CAST(length(sm) - length(replace(sm, '.', '')) AS BIGINT), 1) AS n_sentences,
      |    CAST(length(vm) - length(replace(vm, 'V', '')) AS BIGINT) AS n_syllables
      |  FROM m)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  round(206.835 - 1.015 * CAST(n_words AS DOUBLE) / n_sentences
      |    - 84.6 * CAST(n_syllables AS DOUBLE) / greatest(n_words, 1), 6) AS flesch
      |FROM c ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q120
  /** KMV sketch SET ALGEBRA across sources — the q49 sketch promoted
    * from a counter to an algebra: per-source K-minimum-values
    * sketches over the token-hash sets, pairwise MERGED (k smallest of
    * the union of two sketches) to estimate union cardinality, and the
    * classic ρ = |both ∈ merged-k| / k overlap share turning the merge
    * into a Jaccard estimator — how a 100 TB pipeline answers "how
    * much do two crawls overlap?" from kilobyte sketches instead of a
    * corpus-scale distinct-intersection. The EXACT intersection runs
    * beside it (the q49/q65 realized-error convention), so the gate
    * pins both the sketch arithmetic and its honesty.
    *
    * Scale shape: sketches are K rows per source (rank window over the
    * deduped hash set — the one corpus-scale pass, partial-agged
    * distinct); everything pairwise operates on K-row frames joined
    * through a broadcast pair list. The exact twin is a vocabulary-
    * sized self-equi-join on the hash — droppable at true 100 TB, kept
    * here as the calibration column. */
  def q120KmvSetops(spark: SparkSession, sfDir: String): DataFrame = {
    val hs = Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .select(col("source"), MF.hash32(col("tok")).as("h"))
      .distinct()
    val sk = hs
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"))))
      .filter(col("rn") <= KmvK).select(col("source"), col("h"))
    val srcs = hs.select(col("source")).distinct()
    val pairs = broadcast(srcs.select(col("source").as("sa"))
      .crossJoin(srcs.select(col("source").as("sb")))
      .filter(col("sa") < col("sb")))
    val la = pairs.join(sk.withColumnRenamed("source", "sa"), "sa")
      .select(col("sa"), col("sb"), col("h"), lit(1).as("ia"), lit(0).as("ib"))
    val lb = pairs.join(sk.withColumnRenamed("source", "sb"), "sb")
      .select(col("sa"), col("sb"), col("h"), lit(0).as("ia"), lit(1).as("ib"))
    val merged = la.unionByName(lb)
      .groupBy(col("sa"), col("sb"), col("h"))
      .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("sa"), col("sb")).orderBy(col("h"))))
      .filter(col("rn") <= KmvK)
    val scale = lit(f"${(KmvK - 1).toLong * 4294967296L}%d.0".toDouble)
    val est = merged.groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_merged"), max(col("h")).as("kth"),
        sum(col("ia") * col("ib")).as("n_both"))
      .withColumn("union_est",
        round(when(col("n_merged") < KmvK, col("n_merged").cast("double"))
          .otherwise(scale / col("kth").cast("double")), 6))
      .withColumn("jaccard_est",
        round(col("n_both").cast("double") / least(lit(KmvK.toLong), col("n_merged")), 6))
    val counts = hs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = hs.select(col("source").as("sa"), col("h"))
      .join(hs.select(col("source").as("sb"), col("h")), "h")
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_inter"))
    est
      .join(broadcast(counts.select(col("source").as("sa"), col("n").as("n_a"))), "sa")
      .join(broadcast(counts.select(col("source").as("sb"), col("n").as("n_b"))), "sb")
      .join(inter, Seq("sa", "sb"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("jaccard_exact",
        round(col("n_inter").cast("double")
          / (col("n_a") + col("n_b") - col("n_inter")), 6))
      .select(col("sa"), col("sb"), col("n_a"), col("n_b"), col("n_inter"),
        col("jaccard_exact"), col("kth"), col("union_est"), col("jaccard_est"),
        round(abs(col("jaccard_est") - col("jaccard_exact")), 6).as("jaccard_err"))
      .orderBy(col("sa"), col("sb"))
  }

  val q120Sql: String = {
    val scale = f"${(KmvK - 1).toLong * 4294967296L}%d.0"
    s"""WITH hs AS MATERIALIZED (
  SELECT DISTINCT source, ${Sql.hash32OfHex("md5(t.tok)")} AS h
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents) t),
sk AS MATERIALIZED (
  SELECT source, h FROM (
    SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hs) WHERE rn <= $KmvK),
srcs AS (SELECT DISTINCT source FROM hs),
pairs AS (
  SELECT a.source AS sa, b.source AS sb FROM srcs a, srcs b WHERE a.source < b.source),
tagged AS (
  SELECT p.sa, p.sb, s.h, 1 AS ia, 0 AS ib FROM pairs p JOIN sk s ON s.source = p.sa
  UNION ALL
  SELECT p.sa, p.sb, s.h, 0 AS ia, 1 AS ib FROM pairs p JOIN sk s ON s.source = p.sb),
m AS (
  SELECT sa, sb, h, max(ia) AS ia, max(ib) AS ib
  FROM tagged GROUP BY sa, sb, h),
mr AS (
  SELECT * FROM (
    SELECT sa, sb, h, ia, ib,
      row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
    FROM m) WHERE rn <= $KmvK),
est AS (
  SELECT sa, sb, count(*) AS n_merged, max(h) AS kth,
    CAST(sum(ia * ib) AS BIGINT) AS n_both
  FROM mr GROUP BY sa, sb),
cnts AS (SELECT source, count(*) AS n FROM hs GROUP BY source),
inter AS (
  SELECT x.source AS sa, y.source AS sb, count(*) AS n_inter
  FROM hs x JOIN hs y ON x.h = y.h AND x.source < y.source
  GROUP BY x.source, y.source)
SELECT e.sa, e.sb, ca.n AS n_a, cb.n AS n_b,
  coalesce(i.n_inter, 0) AS n_inter,
  round(CAST(coalesce(i.n_inter, 0) AS DOUBLE) / (ca.n + cb.n - coalesce(i.n_inter, 0)), 6) AS jaccard_exact,
  e.kth,
  round(CASE WHEN e.n_merged < $KmvK THEN CAST(e.n_merged AS DOUBLE)
    ELSE $scale / e.kth END, 6) AS union_est,
  round(CAST(e.n_both AS DOUBLE) / least($KmvK, e.n_merged), 6) AS jaccard_est,
  round(abs(round(CAST(e.n_both AS DOUBLE) / least($KmvK, e.n_merged), 6)
    - round(CAST(coalesce(i.n_inter, 0) AS DOUBLE) / (ca.n + cb.n - coalesce(i.n_inter, 0)), 6)), 6) AS jaccard_err
FROM est e
JOIN cnts ca ON ca.source = e.sa
JOIN cnts cb ON cb.source = e.sb
LEFT JOIN inter i ON i.sa = e.sa AND i.sb = e.sb
ORDER BY e.sa, e.sb"""
  }

  // --------------------------------------------------------------- q138
  /** Byte-weighted length quantiles per language — "half the corpus
    * BYTES live in documents shorter than L", the statistic that
    * actually sizes shard/truncation/packing decisions (the unweighted
    * q50 median answers a different question when long docs carry most
    * of the mass). Exact, via the value histogram: one partial-agged
    * groupBy(lang, n_chars) collapses the corpus to O(langs × distinct
    * lengths) rows carrying integer byte masses; a cumulative window
    * over that TINY frame (never the corpus) finds the smallest length
    * whose cumulative mass reaches p% of the language total — all
    * integer cross-multiplication (100·cumw ≥ p·W), no float
    * percentile on either engine. */
  def q138WeightedQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("n_docs"),
        (col("n_chars") * count(lit(1))).as("w"))
    val byLang = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
    val cum = hist
      .withColumn("cumw", sum(col("w")).over(
        byLang.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tw", sum(col("w")).over(Window.partitionBy(col("lang"))))
    def wp(pct: Int): Column =
      min(when(col("cumw") * 100 >= lit(pct) * col("tw"), col("n_chars")))
        .as(s"wp$pct")
    cum.groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"), max(col("tw")).as("total_bytes"),
        wp(25), wp(50), wp(75), wp(90))
      .orderBy(col("lang"))
  }

  val q138Sql: String =
    """WITH hist AS (
      |  SELECT lang, n_chars, count(*) AS n_docs, n_chars * count(*) AS w
      |  FROM documents GROUP BY lang, n_chars),
      |cum AS (
      |  SELECT lang, n_chars, n_docs, w,
      |    sum(w) OVER (PARTITION BY lang ORDER BY n_chars
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |    sum(w) OVER (PARTITION BY lang) AS tw
      |  FROM hist)
      |SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |  CAST(max(tw) AS BIGINT) AS total_bytes,
      |  min(CASE WHEN cumw * 100 >= 25 * tw THEN n_chars END) AS wp25,
      |  min(CASE WHEN cumw * 100 >= 50 * tw THEN n_chars END) AS wp50,
      |  min(CASE WHEN cumw * 100 >= 75 * tw THEN n_chars END) AS wp75,
      |  min(CASE WHEN cumw * 100 >= 90 * tw THEN n_chars END) AS wp90
      |FROM cum GROUP BY lang
      |ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q144
  /** Class-balanced downsampling — the training-set balancing step
    * where q47's proportional strata are the wrong tool (a 90/5/5
    * class skew must become 1/1/1): every language class downsamples
    * to the SMALLEST class's size, membership chosen by deterministic
    * hash order (q47's no-RNG reproducibility — reruns and retries
    * pick identical rows).
    *
    * Shape for 100 TB: class sizes are a tiny aggregate (broadcast
    * back); selection is rank-by-hash ≤ cap per class, which Spark
    * rewrites to WindowGroupLimit — per-partition top-k BEFORE the
    * exchange, ≤ cap rows of state per class at any corpus size. */
  def q144BalancedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        MF.hash32(col("doc_id").cast("string")).as("h"))
    val cap = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("cap"))
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    docs.withColumn("rank", row_number().over(w))
      .crossJoin(broadcast(cap))
      .filter(col("rank") <= col("cap"))
      .select(col("lang"), col("rank"), col("doc_id"), col("h"))
      .orderBy(col("lang"), col("rank"))
  }

  val q144Sql: String = {
    val h = Sql.hash32OfHex("md5(CAST(doc_id AS VARCHAR))")
    s"""WITH docs AS (
      |  SELECT doc_id, lang, $h AS h FROM documents),
      |cap AS (SELECT min(n) AS cap FROM (SELECT count(*) AS n FROM docs GROUP BY lang)),
      |ranked AS (
      |  SELECT lang, doc_id, h,
      |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rank
      |  FROM docs)
      |SELECT lang, rank, doc_id, h FROM ranked CROSS JOIN cap
      |WHERE rank <= cap
      |ORDER BY lang, rank""".stripMargin
  }

  // --------------------------------------------------------------- q145
  /** Top keywords emitted per document. */
  val RakeTopK = 3

  /** RAKE keyword extraction (Rapid Automatic Keyword Extraction) —
    * the unsupervised key-phrase step of a document-understanding
    * pipeline: candidate phrases are maximal stopword-free token runs
    * (gaps-and-islands on the token stream, stopword = break), each
    * word scores deg/freq (deg = Σ lengths of phrases containing it,
    * freq = occurrences — both exact integers), a phrase scores the
    * sum of its word scores, and each document keeps its
    * [[RakeTopK]] best phrases. Word-score terms grid to 12 dp and
    * sum as decimals (q81's convention) so both engines add identical
    * rationals in any order.
    *
    * Shape for 100 TB: one tokenization explode (map-side) → ONE
    * doc-keyed shuffle builds phrases; word stats partial-agg to an
    * O(vocabulary) frame that hash-joins back; the per-doc top-k is a
    * WindowGroupLimit. Nothing corpus-sized crosses an exchange
    * twice. */
  def q145Rake(spark: SparkSession, sfDir: String): DataFrame = {
    val stopArr = array(StopEn.map(lit): _*)
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos"), col("col").as("w"),
        array_contains(stopArr, col("col")).as("stop"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val phrases = toks
      .withColumn("pid", sum(when(col("stop"), 1).otherwise(0)).over(byDoc))
      .filter(!col("stop"))
      .groupBy(col("doc_id"), col("pid"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ").as("phrase"),
        count(lit(1)).as("len"))
    val phraseWords = phrases
      .select(col("doc_id"), col("pid"), col("len"),
        explode(split(col("phrase"), " ")).as("w"))
    val wordStats = phraseWords.groupBy(col("w"))
      .agg(sum(col("len")).as("deg"), count(lit(1)).as("freq"))
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 12)
    val scored = phraseWords.join(wordStats, "w")
      .withColumn("wscore",
        round(col("deg").cast("double") / col("freq"), 12).cast(dec))
      .groupBy(col("doc_id"), col("pid"))
      .agg(sum(col("wscore")).as("sdec"))
    val ranked = phrases.join(scored, Seq("doc_id", "pid"))
      .withColumn("score", round(col("sdec").cast("double"), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("phrase"))))
      .filter(col("rank") <= RakeTopK)
    ranked.select(col("doc_id"), col("rank"), col("phrase"),
        col("len").as("n_words"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val q145Sql: String = {
    val stops = StopEn.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH toks AS (
      |  SELECT doc_id, pos - 1 AS pos, w, list_contains($stops, w) AS stop
      |  FROM (SELECT doc_id,
      |          unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos,
      |          unnest(string_split(text, ' ')) AS w
      |        FROM documents)),
      |islands AS (
      |  SELECT doc_id, pos, w, stop,
      |    CAST(sum(CASE WHEN stop THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS pid
      |  FROM toks),
      |phrases AS (
      |  SELECT doc_id, pid, string_agg(w, ' ' ORDER BY pos) AS phrase,
      |    count(*) AS len
      |  FROM islands WHERE NOT stop GROUP BY doc_id, pid),
      |pw AS (
      |  SELECT doc_id, pid, len, unnest(string_split(phrase, ' ')) AS w
      |  FROM phrases),
      |ws AS (
      |  SELECT w, CAST(sum(len) AS BIGINT) AS deg, count(*) AS freq
      |  FROM pw GROUP BY w),
      |scored AS (
      |  SELECT doc_id, pid,
      |    sum(CAST(round(CAST(deg AS DOUBLE) / freq, 12) AS DECIMAL(38,12))) AS sdec
      |  FROM pw JOIN ws USING (w) GROUP BY doc_id, pid),
      |ranked AS (
      |  SELECT p.doc_id, p.pid, p.phrase, p.len,
      |    round(CAST(s.sdec AS DOUBLE), 6) AS score,
      |    row_number() OVER (PARTITION BY p.doc_id
      |      ORDER BY round(CAST(s.sdec AS DOUBLE), 6) DESC, p.phrase) AS rank
      |  FROM phrases p JOIN scored s ON p.doc_id = s.doc_id AND p.pid = s.pid)
      |SELECT doc_id, rank, phrase, len AS n_words, score
      |FROM ranked WHERE rank <= $RakeTopK
      |ORDER BY doc_id, rank""".stripMargin
  }

  // --------------------------------------------------------------- q154
  /** Classification report for q40's language detector against the
    * ground-truth lang column — the model-evaluation primitive
    * (per-class precision/recall/F1 + overall accuracy) a pipeline
    * runs on every heuristic/model it gates data with. Classes are
    * the actual languages; 'und' detections depress recall where they
    * land (they are fn for the true class, fp for nothing). All
    * counts integer; each ratio is ONE double division rounded —
    * exact-hash safe.
    *
    * Shape for 100 TB: q40's map-only scoring pass feeds a
    * partial-agged confusion aggregation; the report frame is
    * O(classes). */
  def q154ClsReport(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = q40LangId(spark, sfDir)
      .select(col("lang"), col("detected"))
    val perClass = scored
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("support"),
        sum(when(col("detected") === col("lang"), 1L).otherwise(0L)).as("tp"))
    val fpFrame = scored.filter(col("detected") =!= col("lang"))
      .groupBy(col("detected").as("lang"))
      .agg(count(lit(1)).as("fp"))
    val tot = scored.agg(count(lit(1)).as("n"),
      sum(when(col("detected") === col("lang"), 1L).otherwise(0L)).as("hits"))
    perClass.join(fpFrame, Seq("lang"), "left")
      .select(col("lang"), col("support"), col("tp"),
        coalesce(col("fp"), lit(0L)).as("fp"),
        (col("support") - col("tp")).as("fn"))
      .withColumn("precision",
        when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fp")), 6)))
      .withColumn("recall", round(col("tp").cast("double") / col("support"), 6))
      .withColumn("f1",
        when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          round(lit(2.0) * col("tp")
            / (lit(2) * col("tp") + col("fp") + col("fn")), 6)))
      .crossJoin(broadcast(tot))
      .withColumn("accuracy", round(col("hits").cast("double") / col("n"), 6))
      .select(col("lang"), col("support"), col("tp"), col("fp"), col("fn"),
        col("precision"), col("recall"), col("f1"), col("accuracy"))
      .orderBy(col("lang"))
  }

  val q154Sql: String = {
    // q40's detection logic inlined (same CTE as q40Sql's scorer)
    val w = "string_split(text, ' ')"
    s"""WITH r AS (
  SELECT doc_id, lang,
    ${hitRatioSql(w, StopEn)} AS r_en, ${hitRatioSql(w, StopEs)} AS r_es,
    ${hitRatioSql(w, StopFr)} AS r_fr, ${hitRatioSql(w, StopDe)} AS r_de
  FROM documents),
scored AS (
  SELECT lang,
    (CASE WHEN greatest(r_en, r_es, r_fr, r_de) < 0.05 THEN 'und'
          WHEN r_en = greatest(r_en, r_es, r_fr, r_de) THEN 'en'
          WHEN r_es = greatest(r_en, r_es, r_fr, r_de) THEN 'es'
          WHEN r_fr = greatest(r_en, r_es, r_fr, r_de) THEN 'fr'
          ELSE 'de' END) AS detected
  FROM r),
per_class AS (
  SELECT lang, count(*) AS support,
    CAST(sum(CASE WHEN detected = lang THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM scored GROUP BY lang),
fp_frame AS (
  SELECT detected AS lang, count(*) AS fp FROM scored
  WHERE detected <> lang GROUP BY detected),
tot AS (
  SELECT count(*) AS n,
    CAST(sum(CASE WHEN detected = lang THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM scored)
SELECT p.lang, support, tp, coalesce(fp, 0) AS fp, (support - tp) AS fn,
  (CASE WHEN tp + coalesce(fp, 0) > 0
        THEN round(CAST(tp AS DOUBLE) / (tp + coalesce(fp, 0)), 6) END) AS precision,
  round(CAST(tp AS DOUBLE) / support, 6) AS recall,
  (CASE WHEN 2 * tp + coalesce(fp, 0) + (support - tp) > 0
        THEN round(2.0 * tp / (2 * tp + coalesce(fp, 0) + (support - tp)), 6) END) AS f1,
  round(CAST(hits AS DOUBLE) / n, 6) AS accuracy
FROM per_class p LEFT JOIN fp_frame f ON p.lang = f.lang CROSS JOIN tot
ORDER BY p.lang"""
  }

  // --------------------------------------------------------------- q162
  /** Zipf rank-frequency fit over the top terms. */
  val ZipfTopN = 200

  /** Zipf's-law diagnostic — OLS fit of ln(frequency) on ln(rank) over
    * the [[ZipfTopN]] most frequent tokens: slope (natural text sits
    * near −1; synthetic/templated corpora flatten), intercept, and R².
    * Corpus-linguistics teams run this beside q82's drift monitor: a
    * slope shift between snapshots flags a generator change or a
    * boilerplate flood that per-doc quality scores miss.
    *
    * Shape for 100 TB: wordcount (explode + partial-agged groupBy) is
    * the only corpus-sized stage; the top-N is a TakeOrdered (per-
    * partition top-N, no global sort), and the regression runs over
    * exactly N rows. Ties at the cut break on the token string in both
    * engines, so the top-N SET is deterministic. */
  def q162Zipf(spark: SparkSession, sfDir: String): DataFrame =
    zipfFitTokens(Tables.documents(spark, sfDir)
      .select(explode(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("tok")),
      ZipfTopN)

  /** Generic Zipf OLS fit over a `(tok)` token frame (q162's engine;
    * the facade instantiates it on caller corpora). */
  private[graft] def zipfFitTokens(toks: DataFrame, topN: Int): DataFrame = {
    val tf = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val top = tf.orderBy(col("cnt").desc, col("tok")).limit(topN)
    val ranked = top
      .withColumn("r", row_number().over(Window.orderBy(col("cnt").desc, col("tok"))))
      .select(log(col("r").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    val s = ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"), sum(col("x") * col("y")).as("sxy"))
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    val varx = col("n") * col("sxx") - col("sx") * col("sx")
    val vary = col("n") * col("syy") - col("sy") * col("sy")
    s.select(col("n").as("n_terms"),
      round(cov / varx, 6).as("slope"),
      round((col("sy") - (cov / varx) * col("sx")) / col("n"), 6).as("intercept"),
      round(cov * cov / (varx * vary), 6).as("r2"))
  }

  val q162Sql: String =
    s"""WITH tf AS (
      |  SELECT t.tok, count(*) AS cnt
      |  FROM documents, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS t(tok)
      |  GROUP BY t.tok),
      |top AS (SELECT tok, cnt FROM tf ORDER BY cnt DESC, tok LIMIT $ZipfTopN),
      |ranked AS (
      |  SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS DOUBLE)) AS x,
      |         ln(CAST(cnt AS DOUBLE)) AS y
      |  FROM top),
      |s AS (
      |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |    sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
      |  FROM ranked)
      |SELECT n AS n_terms,
      |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
      |  round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6) AS intercept,
      |  round((n*sxy - sx*sy) * (n*sxy - sx*sy)
      |    / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
      |FROM s""".stripMargin

  // --------------------------------------------------------------- q167
  /** Heavy-hitter gate: share ≥ 1/HhDen of the source's tokens AND an
    * absolute floor (kills long-tail noise in tiny sources). */
  val HhDen = 100L
  val HhMinCount = 5L

  /** Per-source heavy hitters — the group-local frequent-term census
    * (which tokens dominate each corpus slice): a token qualifies when
    * its count clears 1/[[HhDen]] of its source's token mass by
    * integer cross-multiplication (cnt·Den ≥ total — no float gate)
    * and the [[HhMinCount]] floor. The per-source companion to q56's
    * global Count-Min heavy hitters: q56 asks "what is frequent
    * anywhere", this asks "what characterizes THIS slice", the
    * signature a mixture audit (q88) or contamination hunt reads.
    *
    * Shape for 100 TB: one partial-agged groupBy(source, tok)
    * wordcount; the per-source totals re-aggregate O(sources) rows and
    * broadcast back. Nothing global, no window. */
  def q167HeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("tok"))
    Graft.heavyHitters(toks, col("source"), col("tok"), HhDen, HhMinCount)
      .select(col("grp").as("source"), col("item").as("tok"), col("cnt"),
        col("total"), col("share"))
      .orderBy(col("source"), col("cnt").desc, col("tok"))
  }

  val q167Sql: String =
    s"""WITH cnt AS (
      |  SELECT source, t.tok, count(*) AS cnt
      |  FROM documents, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS t(tok)
      |  GROUP BY source, t.tok),
      |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total FROM cnt GROUP BY source)
      |SELECT c.source, c.tok, c.cnt, t.total,
      |  round(CAST(c.cnt AS DOUBLE) / t.total, 6) AS share
      |FROM cnt c JOIN tot t ON c.source = t.source
      |WHERE c.cnt * $HhDen >= t.total AND c.cnt >= $HhMinCount
      |ORDER BY c.source, c.cnt DESC, c.tok""".stripMargin

  // --------------------------------------------------------------- q176
  /** DP-release privacy parameter (Laplace scale = 1/ε for count
    * queries of sensitivity 1). */
  val DpEpsilon = 1.0

  /** Differentially-private count release (mechanism demo) — the
    * Laplace mechanism a stats-release pipeline applies before
    * publishing per-cell counts: noise = Laplace(1/ε) via the inverse
    * CDF of a per-cell DETERMINISTIC pseudo-uniform (portable hash of
    * the cell key), so reruns and the DuckDB oracle reproduce the
    * identical release. The true count rides along for auditability —
    * a real release drops that column and draws real randomness; the
    * mechanism arithmetic, sensitivity-1 scale and release shape are
    * what this row pins.
    *
    * Shape for 100 TB: one partial-agged groupBy(lang, source); noise
    * is a per-row expression on the O(cells) aggregate. */
  def q176DpRelease(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("true_count"))
    val u01 = (MF.hash32(concat(col("lang"), lit("|"), col("source")))
      .cast("double") + 0.5) / 4294967296.0
    val u = u01 - 0.5
    val noise = -signum(u) * log(lit(1.0) - lit(2.0) * abs(u)) / DpEpsilon
    cells.select(col("lang"), col("source"), col("true_count"),
        round(noise, 6).as("noise"),
        round(col("true_count") + noise, 6).as("released"))
      .orderBy(col("lang"), col("source"))
  }

  val q176Sql: String =
    s"""WITH cells AS (
      |  SELECT lang, source, count(*) AS true_count
      |  FROM documents GROUP BY lang, source),
      |noised AS (
      |  SELECT lang, source, true_count,
      |    -sign(u) * ln(1.0 - 2.0 * abs(u)) / $DpEpsilon AS noise
      |  FROM (SELECT lang, source, true_count,
      |          (CAST(${Sql.hash32("(lang || '|' || source)")} AS DOUBLE) + 0.5)
      |            / 4294967296.0 - 0.5 AS u
      |        FROM cells))
      |SELECT lang, source, true_count, round(noise, 6) AS noise,
      |  round(true_count + noise, 6) AS released
      |FROM noised ORDER BY lang, source""".stripMargin

  // --------------------------------------------------------------- q183
  /** BPE merge-training rounds. */
  val BpeRounds = 3

  /** Greedy left-to-right application of one BPE merge (a,b)→ab to a
    * `syms` array column. The symbols are string-interpolated into the
    * generated `aggregate` expression — [[sqlLit]]-escaped so a
    * tokenizer whose alphabet includes quotes or backslashes can't
    * break (or inject into) the SQL literal; unreachable from the
    * [a-z0-9]+ fixture, pinned by W31OpsSpec's quote case. */
  private[graft] def bpeApplyMerge(a: String, b: String): Column = {
    val (ea, eb) = (sqlLit(a), sqlLit(b))
    expr(
      s"""aggregate(syms, cast(array() as array<string>),
         |  (acc, x) -> case
         |    when size(acc) > 0 and element_at(acc, -1) = '$ea' and x = '$eb'
         |    then concat(slice(acc, 1, size(acc) - 1), array('$ea$eb'))
         |    else concat(acc, array(x)) end)""".stripMargin)
  }

  /** Byte-pair-encoding merge training — the first [[BpeRounds]]
    * merges of the tokenizer-training loop (Sennrich et al. 2016):
    * count adjacent symbol pairs weighted by word frequency, adopt the
    * most frequent pair as a merge (ties → lexicographic), apply it
    * greedily left-to-right to the vocabulary, repeat. Emits the merge
    * table (round, pair, count) with the post-round distinct-symbol
    * census — the artifact a tokenizer ships.
    *
    * The merge application is a left fold over each word's symbol
    * list (`aggregate` HOF): merge when the accumulator's last symbol
    * and the incoming one form the pair — exactly greedy non-
    * overlapping left-to-right, which the oracle replays as a
    * scan-based recursive CTE (consume two on match, one otherwise);
    * the two formulations decide the identical positions.
    *
    * Shape for 100 TB: corpus-scale work is ONE wordcount; every
    * round then runs on the VOCAB frame (BPE's standard optimization
    * — distinct words, not corpus tokens): a map-side pair explode,
    * a partial-agged pair count, a 1-row TakeOrdered merge pick, and
    * a map-only fold rewrite. */
  def q183BpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    var vocab = graft.Checkpoints.cache(
      Tables.documents(spark, sfDir)
        .select(explode(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .withColumn("syms",
          expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))")))
    val merges = Seq.newBuilder[(Int, String, String, String, Long, Long)]
    for (r <- 1 to BpeRounds) {
      val top = vocab.filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> " +
            "struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("a"), col("b")).limit(1)
        .collect().head
      val (a, b, pc) = (top.getString(0), top.getString(1), top.getLong(2))
      val next = graft.Checkpoints.cache(vocab.withColumn("syms", bpeApplyMerge(a, b)))
      val nSyms = next.select(explode(col("syms")).as("s"))
        .agg(countDistinct(col("s"))).first().getLong(0)
      merges += ((r, a, b, a + b, pc, nSyms))
      vocab = next
    }
    import spark.implicits._
    merges.result()
      .toDF("round", "lhs", "rhs", "merged", "pair_count", "n_symbols_after")
      .orderBy(col("round"))
  }

  val q183Sql: String = {
    val sb = new StringBuilder
    sb ++= """WITH RECURSIVE vocab0 AS MATERIALIZED (
  SELECT t.tok AS word, count(*) AS cnt,
    list_transform(range(1, length(t.tok) + 1), i -> t.tok[i]) AS syms
  FROM documents, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS t(tok)
  GROUP BY t.tok),
"""
    for (r <- 1 to BpeRounds) {
      val v = s"vocab${r - 1}"
      sb ++= s"""pairs$r AS (
  SELECT syms[i] AS a, syms[i+1] AS b, CAST(sum(cnt) AS BIGINT) AS pc
  FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM $v)
  GROUP BY 1, 2),
m$r AS MATERIALIZED (SELECT a, b, pc FROM pairs$r ORDER BY pc DESC, a, b LIMIT 1),
r$r AS (
  SELECT word, cnt, syms AS rem, CAST([] AS VARCHAR[]) AS done FROM $v
  UNION ALL
  SELECT word, cnt,
    CASE WHEN len(rem) >= 2 AND rem[1] = (SELECT a FROM m$r) AND rem[2] = (SELECT b FROM m$r)
         THEN rem[3:] ELSE rem[2:] END,
    list_append(done,
      CASE WHEN len(rem) >= 2 AND rem[1] = (SELECT a FROM m$r) AND rem[2] = (SELECT b FROM m$r)
           THEN rem[1] || rem[2] ELSE rem[1] END)
  FROM r$r WHERE len(rem) > 0),
vocab$r AS MATERIALIZED (SELECT word, cnt, done AS syms FROM r$r WHERE len(rem) = 0),
"""
    }
    val rows = (1 to BpeRounds).map { r =>
      s"""  SELECT $r AS round, (SELECT a FROM m$r) AS left_s, (SELECT b FROM m$r) AS right_s,
    (SELECT a FROM m$r) || (SELECT b FROM m$r) AS merged,
    (SELECT pc FROM m$r) AS pair_count,
    (SELECT count(DISTINCT s)
     FROM (SELECT unnest(syms) AS s FROM vocab$r)) AS n_symbols_after"""
    }.mkString("\n  UNION ALL\n")
    sb ++= s"""res AS (
$rows)
SELECT round, left_s AS lhs, right_s AS rhs, merged, pair_count,
  n_symbols_after
FROM res ORDER BY round"""
    sb.toString
  }

  // --------------------------------------------------------------- q247
  /** Docs per prefix-sum block (the two-level distributed cumsum). */
  val HeapsBlock = 100L

  /** Heaps'-law vocabulary-growth fit — V(n) = K·n^β estimated by OLS
    * on the log-log (cumulative tokens, cumulative vocabulary) curve
    * in doc_id order: the corpus-sizing diagnostic that tells a
    * training-data team how much NEW vocabulary (entities, code
    * identifiers, typos) the next 10× of data will bring, and the
    * companion to q162's Zipf exponent (the two laws are duals). The
    * fixture's closed synthetic vocabulary saturates immediately —
    * β ≈ 0.007, r² ≈ 0.1 — which is itself the signal the operator
    * exists to surface (saturation ⇒ more data adds no new types).
    *
    * Shape for 100 TB: ONE tokenize feeds both the per-doc lengths and
    * the term → first-doc map (corpus-sized exchanges: the tokenize
    * and the term groupBy, both partial-agged); the cumulative curve
    * is a TWO-LEVEL prefix sum — per-block local window (partitioned
    * by doc_id div block) plus an O(blocks) offset window — never a
    * global single-partition window over the doc axis; the OLS moments
    * are 12-dp-gridded DECIMAL sums (q185's convention). */
  def q247Heaps(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = graft.Checkpoints.materialize(Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term")))
    val doclen = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
    val newt = tok.groupBy(col("term")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_new"))
    val base = graft.Checkpoints.materialize(doclen
      .join(newt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        expr(s"doc_id div $HeapsBlock").as("blk")))
    val wBlk = Window.orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = base.groupBy(col("blk"))
      .agg(sum(col("n_tok")).as("bt"), sum(col("n_new")).as("bn"))
      .select(col("blk"),
        coalesce(sum(col("bt")).over(wBlk), lit(0L)).as("off_tok"),
        coalesce(sum(col("bn")).over(wBlk), lit(0L)).as("off_new"))
    val wIn = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = base
      .withColumn("loc_tok", sum(col("n_tok")).over(wIn))
      .withColumn("loc_new", sum(col("n_new")).over(wIn))
      .join(broadcast(offs), Seq("blk"))
      .select((col("off_tok") + col("loc_tok")).as("cum_tok"),
        (col("off_new") + col("loc_new")).as("cum_vocab"))
    val pts = curve.select(col("cum_tok"), col("cum_vocab"),
      round(log(col("cum_tok").cast("double")), 12).as("x"),
      round(log(col("cum_vocab").cast("double")), 12).as("y"))
    val m = pts.agg(count(lit(1)).as("n"),
      max(col("cum_tok")).as("n_tokens"), max(col("cum_vocab")).as("vocab"),
      sum(col("x").cast(DecimalType(38, 12))).cast("double").as("sx"),
      sum(col("y").cast(DecimalType(38, 12))).cast("double").as("sy"),
      sum(round(col("x") * col("x"), 12).cast(DecimalType(38, 12)))
        .cast("double").as("sxx"),
      sum(round(col("x") * col("y"), 12).cast(DecimalType(38, 12)))
        .cast("double").as("sxy"),
      sum(round(col("y") * col("y"), 12).cast(DecimalType(38, 12)))
        .cast("double").as("syy"))
    val beta = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    m.select(col("n").as("n_docs"), col("n_tokens"), col("vocab"),
      round(beta, 6).as("beta"),
      round(exp((col("sy") - beta * col("sx")) / col("n")), 6).as("k_coef"),
      round(pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
        ((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }

  val q247Sql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |doclen AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1),
      |firsts AS (SELECT min(doc_id) AS fd FROM tok GROUP BY term),
      |newterms AS (SELECT fd AS doc_id, count(*) AS n_new FROM firsts GROUP BY 1),
      |curve AS (
      |  SELECT d.doc_id,
      |    sum(d.n_tok) OVER (ORDER BY d.doc_id) AS cum_tok,
      |    sum(coalesce(n.n_new, 0)) OVER (ORDER BY d.doc_id) AS cum_vocab
      |  FROM doclen d LEFT JOIN newterms n ON d.doc_id = n.doc_id),
      |pts AS (
      |  SELECT round(ln(CAST(cum_tok AS DOUBLE)), 12) AS x,
      |    round(ln(CAST(cum_vocab AS DOUBLE)), 12) AS y,
      |    cum_tok, cum_vocab
      |  FROM curve),
      |m AS (
      |  SELECT count(*) AS n,
      |    CAST(max(cum_tok) AS BIGINT) AS n_tokens,
      |    CAST(max(cum_vocab) AS BIGINT) AS vocab,
      |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(round(y * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS syy
      |  FROM pts)
      |SELECT n AS n_docs, n_tokens, vocab,
      |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
      |  round(exp((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n), 6) AS k_coef,
      |  round(power(n * sxy - sx * sy, 2)
      |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
      |FROM m""".stripMargin

  // --------------------------------------------------------------- q249
  /** TextRank damping / restart (PageRank's classic pair). */
  val TextRankDamping = 0.85
  val TextRankRestart = 0.15
  /** Corpus-count floor for a word to enter the graph. */
  val TextRankMinCount = 5L
  val TextRankTopK = 50
  val TextRankRounds = 3

  /** TextRank corpus keyword extraction (Mihalcea & Tarau) — the
    * reference's PageRank engine turned on LANGUAGE: words that
    * co-occur adjacently become an undirected weighted graph, and the
    * stationary walk scores rank words by how centrally they sit in
    * the corpus' phrase structure — the graph-theoretic answer to the
    * same question q145's RAKE heuristic and q48's TF-IDF answer by
    * counting. Damping 0.85, weighted transitions w/Σw (q152's
    * weighted-rank semantics on the word graph).
    *
    * Shape for 100 TB: tokenize + adjacent-bigram explode partial-agg
    * to the O(vocab²-bounded, phrase-sparse) edge frame — the only
    * corpus-sized exchanges; the rank loop then runs entirely on the
    * vocabulary graph (per round ONE equi-join + partial-agged sum,
    * q01's loop shape with words for URLs), per-round state
    * localCheckpoint'ed; transition fractions are 12-dp-gridded
    * DECIMAL sums so both engines add identical rationals. */
  def q249TextRank(spark: SparkSession, sfDir: String): DataFrame = {
    val w = split(col("text"), " ")
    val docs = Tables.documents(spark, sfDir)
    val pairsArr = transform(sequence(lit(1), size(w) - 1),
      i => struct(element_at(w, i).as("a"), element_at(w, i + 1).as("b")))
    val nodes = graft.Checkpoints.materialize(docs
      .select(explode(w).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= TextRankMinCount)
      .select(col("term").as("word")))
    val und = graft.Checkpoints.materialize(docs.filter(size(w) >= 2)
      .select(explode(pairsArr).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
      .join(nodes.select(col("word").as("a")), Seq("a"), "left_semi")
      .join(nodes.select(col("word").as("b")), Seq("b"), "left_semi")
      .select(least(col("a"), col("b")).as("x"),
        greatest(col("a"), col("b")).as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).cast("double").as("w")))
    val edges = und.select(col("x").as("src"), col("y").as("dst"), col("w"))
      .unionAll(und.select(col("y").as("src"), col("x").as("dst"), col("w")))
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val eside = graft.Checkpoints.materialize(edges.join(outw, Seq("src"))
      .select(col("src"), col("dst"), (col("w") / col("outw")).as("frac")))
    var prev = nodes.select(col("word"), lit(1.0).as("score"))
    for (_ <- 1 to TextRankRounds) {
      prev = graft.Checkpoints.rotate(eside
        .join(prev.select(col("word").as("src"), col("score")), Seq("src"))
        .groupBy(col("dst"))
        .agg(round(lit(TextRankRestart) + lit(TextRankDamping) *
          sum(round(col("frac") * col("score"), 12)
            .cast(DecimalType(38, 12))).cast("double"), 12).as("score"))
        .select(col("dst").as("word"), col("score")), prev)
    }
    prev.orderBy(round(col("score"), 6).desc, col("word"))
      .limit(TextRankTopK)
      .select(col("word"), round(col("score"), 6).as("score"))
  }

  val q249Sql: String = {
    val rounds = new StringBuilder("r0 AS (SELECT word, 1.0 AS score FROM nodes)")
    var prev = "r0"
    for (i <- 1 to TextRankRounds) {
      rounds.append(s""",
        |r$i AS (
        |  SELECT e.dst AS word,
        |    round($TextRankRestart + $TextRankDamping * CAST(sum(CAST(round(e.w / o.outw * p.score, 12) AS DECIMAL(38,12))) AS DOUBLE), 12) AS score
        |  FROM edges e JOIN outw o ON e.src = o.src JOIN $prev p ON e.src = p.word
        |  GROUP BY 1)""".stripMargin)
      prev = s"r$i"
    }
    s"""WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |adj AS (
      |  SELECT w[i] AS a, w[i+1] AS b
      |  FROM tok, unnest(generate_series(1, len(w) - 1)) AS t(i)
      |  WHERE len(w) >= 2),
      |cnt AS (
      |  SELECT term, count(*) AS c FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |    FROM documents) GROUP BY 1),
      |nodes AS (SELECT term AS word FROM cnt WHERE c >= $TextRankMinCount),
      |und AS (
      |  SELECT CASE WHEN a < b THEN a ELSE b END AS x,
      |    CASE WHEN a < b THEN b ELSE a END AS y, count(*) AS w
      |  FROM adj
      |  WHERE a <> b AND a IN (SELECT word FROM nodes)
      |    AND b IN (SELECT word FROM nodes)
      |  GROUP BY 1, 2),
      |edges AS (
      |  SELECT x AS src, y AS dst, CAST(w AS DOUBLE) AS w FROM und
      |  UNION ALL
      |  SELECT y AS src, x AS dst, CAST(w AS DOUBLE) AS w FROM und),
      |outw AS (SELECT src, sum(w) AS outw FROM edges GROUP BY 1),
      |${rounds.toString}
      |SELECT word, round(score, 6) AS score
      |FROM $prev
      |ORDER BY round(score, 6) DESC, word LIMIT $TextRankTopK""".stripMargin
  }

  // --------------------------------------------------------------- q255
  /** Report rows for counts 1..cap (the smoothing regime; higher
    * counts are reliable as-is). */
  val GoodTuringRCap = 10L

  /** Good–Turing frequency-of-frequencies smoothing over word 4-grams
    * — the third leg of the LM-estimation family (q81 add-one, q245
    * Kneser–Ney): S(r) = #grams seen exactly r times, the adjusted
    * count r* = (r+1)·S(r+1)/S(r), and the headline P(unseen) =
    * S(1)/N that tells a decontamination or novelty pipeline how much
    * probability mass the NEXT corpus shard will spend on 4-grams
    * never seen in this one. 4-grams (not unigrams) because the
    * fixture's closed vocabulary saturates word counts — the sparse
    * regime where Good–Turing is meaningful lives at n-gram level
    * (p_unseen ≈ 0.88 at sf0.001, 0.67 at sf0.1).
    *
    * Shape for 100 TB: one gram explode partial-aggs to gram counts
    * (grams ride the exchange as the portable 64-bit (hlo, hhi) md5
    * pair — q22's convention — never ~25-byte strings), counts
    * re-aggregate to the O(max count) frequency-of-frequencies frame,
    * and everything after runs on ≤ cap rows with two 1-row
    * broadcasts. */
  def q255GoodTuring(spark: SparkSession, sfDir: String): DataFrame = {
    val w = split(col("text"), " ")
    val gramsArr = transform(sequence(lit(1), size(w) - 3),
      i => concat_ws(" ", element_at(w, i), element_at(w, i + 1),
        element_at(w, i + 2), element_at(w, i + 3)))
    val cnt = Tables.documents(spark, sfDir, spreadScan = true)
      .filter(size(w) >= 4)
      .select(explode(gramsArr).as("g"))
      .select(MF.hash32(col("g")).as("hlo"), MF.hash32b(col("g")).as("hhi"))
      .groupBy(col("hlo"), col("hhi")).agg(count(lit(1)).as("r"))
    val fof = graft.Checkpoints.materialize(cnt
      .groupBy(col("r")).agg(count(lit(1)).as("s_r")))
    val tot = fof.agg(sum(col("r") * col("s_r")).as("n_grams"),
      sum(col("s_r")).as("vocab"))
    val s1 = fof.filter(col("r") === 1L)
      .agg(coalesce(sum(col("s_r")), lit(0L)).as("s1"))
    fof.filter(col("r") <= GoodTuringRCap)
      .join(fof.select((col("r") - 1).as("r"), col("s_r").as("s_next")),
        Seq("r"), "left")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(s1))
      .select(col("r"), col("s_r"),
        round((col("r") + 1) * coalesce(col("s_next"), lit(0L))
          .cast("double") / col("s_r"), 6).as("r_star"),
        col("n_grams"), col("vocab"),
        round(col("s1").cast("double") / col("n_grams"), 6).as("p_unseen"))
      .orderBy(col("r"))
  }

  val q255Sql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |grams AS (
      |  SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS g
      |  FROM tok, unnest(generate_series(1, len(w) - 3)) AS t(i)
      |  WHERE len(w) >= 4),
      |cnt AS (
      |  SELECT ${Sql.hash32("g")} AS hlo, ${Sql.hash32OfHexAt("md5(g)", 9)} AS hhi,
      |    count(*) AS r
      |  FROM grams GROUP BY 1, 2),
      |fof AS (SELECT r, count(*) AS s_r FROM cnt GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(r * s_r) AS BIGINT) AS n_grams,
      |    CAST(sum(s_r) AS BIGINT) AS vocab
      |  FROM fof),
      |s1 AS (
      |  SELECT CAST(coalesce(sum(s_r), 0) AS BIGINT) AS s1
      |  FROM fof WHERE r = 1),
      |capped AS (SELECT * FROM fof WHERE r <= $GoodTuringRCap)
      |SELECT c.r, c.s_r,
      |  round(CAST((c.r + 1) * coalesce(nx.s_r, 0) AS DOUBLE) / c.s_r, 6) AS r_star,
      |  t.n_grams, t.vocab,
      |  round(CAST(s1.s1 AS DOUBLE) / t.n_grams, 6) AS p_unseen
      |FROM capped c LEFT JOIN fof nx ON nx.r = c.r + 1
      |CROSS JOIN tot t CROSS JOIN s1
      |ORDER BY c.r""".stripMargin

  // --------------------------------------------------------------- q260
  /** RRF constant (Cormack et al.'s 60), per-system candidate depth,
    * fused report size, BM25 parameters, and the fixed query terms. */
  val RrfK = 60
  val RrfCandidates = 200
  val RrfTopK = 20
  val RrfBm25K1 = 1.2
  val RrfBm25B = 0.75
  val RrfQueryTerms = Seq("join", "filter")

  /** Reciprocal-rank fusion of two retrieval systems — the standard
    * hybrid-search combiner (Cormack–Clarke–Büttcher): a lexical BM25
    * ranking for a fixed query and a document-quality prior ranking
    * (length, the q41-family signal) each nominate their top-C
    * candidates; a doc scores Σ 1/(k + rankᵢ) over the lists it
    * appears in, and the fused top-k is the retrieval set a RAG or
    * training-data-selection pipeline actually consumes. Absent ranks
    * contribute nothing (reported as −1), so neither system can veto
    * the other's strong candidates.
    *
    * Shape for 100 TB: each system reduces corpus-side to its top-C by
    * (6-dp score, doc_id) — a TakeOrdered, never a global rank window
    * over the doc axis; ranks are row_numbers over the C-row bounded
    * frames, the fusion is a C-vs-C full outer join, and the RRF sum
    * is an exact small-rational grid both engines round identically. */
  def q260RrfFusion(spark: SparkSession, sfDir: String): DataFrame = {
    val w = split(col("text"), " ")
    val dl = graft.Checkpoints.materialize(Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"), size(w).cast("long").as("dlen"),
        col("text")))
    val stats = dl.agg(count(lit(1)).as("nd"),
      (sum(col("dlen")).cast("double") / count(lit(1))).as("avgdl"))
    val qArr = array(RrfQueryTerms.map(lit): _*)
    val tf = dl
      .select(col("doc_id"), col("dlen"),
        explode(filter(split(col("text"), " "),
          x => array_contains(qArr, x))).as("term"))
      .groupBy(col("doc_id"), col("dlen"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val bmScore = round(
      log((col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
        * col("tf") * (lit(RrfBm25K1) + 1.0)
        / (col("tf") + lit(RrfBm25K1) * (lit(1.0) - lit(RrfBm25B)
          + lit(RrfBm25B) * col("dlen") / col("avgdl"))), 12)
    val bm = tf.join(broadcast(df), Seq("term")).crossJoin(broadcast(stats))
      .select(col("doc_id"), bmScore.as("s"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("s").cast(DecimalType(38, 12))).cast("double"), 6)
        .as("score"))
    val bmTop = bm.orderBy(col("score").desc, col("doc_id"))
      .limit(RrfCandidates)
      .withColumn("ra", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("ra"))
    val qTop = dl.select(col("doc_id"), col("n_chars"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .limit(RrfCandidates)
      .withColumn("rb", row_number()
        .over(Window.orderBy(col("n_chars").desc, col("doc_id"))))
      .select(col("doc_id"), col("rb"))
    bmTop.join(qTop, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("ra"), lit(-1)).as("bm25_rank"),
        coalesce(col("rb"), lit(-1)).as("quality_rank"),
        round(coalesce(lit(1.0) / (lit(RrfK) + col("ra")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("rb")), lit(0.0)), 6)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(RrfTopK)
  }

  val q260Sql: String = {
    val terms = RrfQueryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH tok AS (
      |  SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents),
      |dl AS (SELECT doc_id, n_chars, len(w) AS dlen FROM tok),
      |stats AS (
      |  SELECT count(*) AS nd, CAST(sum(dlen) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(w) AS term FROM tok)
      |  WHERE term IN ($terms) GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |bm AS (
      |  SELECT t.doc_id,
      |    round(CAST(sum(CAST(round(
      |      ln((s.nd - d.df + 0.5) / (d.df + 0.5) + 1.0)
      |        * t.tf * ($RrfBm25K1 + 1.0)
      |        / (t.tf + $RrfBm25K1 * (1.0 - $RrfBm25B + $RrfBm25B * l.dlen / s.avgdl)), 12)
      |      AS DECIMAL(38,12))) AS DOUBLE), 6) AS score
      |  FROM tf t JOIN df d USING (term) JOIN dl l USING (doc_id) CROSS JOIN stats s
      |  GROUP BY 1),
      |bmtop AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS ra
      |  FROM (SELECT * FROM bm ORDER BY score DESC, doc_id LIMIT $RrfCandidates)),
      |qtop AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rb
      |  FROM (SELECT doc_id, n_chars FROM dl ORDER BY n_chars DESC, doc_id LIMIT $RrfCandidates))
      |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
      |  coalesce(a.ra, -1) AS bm25_rank, coalesce(b.rb, -1) AS quality_rank,
      |  round(coalesce(1.0 / ($RrfK + a.ra), 0.0)
      |    + coalesce(1.0 / ($RrfK + b.rb), 0.0), 6) AS rrf
      |FROM bmtop a FULL OUTER JOIN qtop b ON a.doc_id = b.doc_id
      |ORDER BY rrf DESC, doc_id LIMIT $RrfTopK""".stripMargin
  }

  // --------------------------------------------------------------- q275
  /** Minimum adjacent-bigram occurrences and pairs kept. */
  val G2MinSupport = 5
  val G2TopK = 50

  /** Dunning log-likelihood-ratio (G²) collocations over ADJACENT word
    * bigrams — the significance-tested complement to q90's PMI (which
    * scores doc-level co-occurrence and over-rewards rare pairs): G²
    * asks how strongly the bigram's 2×2 contingency table rejects
    * independence, so high-count collocations rank by evidence, not
    * lift. Dunning's entropy form over row/column marginals uses only
    * S(x) = x·ln(x) of INTEGER counts:
    * G² = 2·(S(k₁₁)+S(k₁₂)+S(k₂₁)+S(k₂₂) − S(r₁) − S(n−r₁) − S(c₁)
    *         − S(n−c₁) + S(n)).
    * Pairs below [[G2MinSupport]] occurrences are dropped; top
    * [[G2TopK]] by round(,6)-gridded G² (the q48 rank-after-grid
    * convention, (w1, w2) tiebreak).
    *
    * Shape for 100 TB: ONE bigram explode partial-aggs to the
    * (w1, w2, n11) type frame — the only corpus-sized exchange (q245's
    * shape); marginals and the 1-row total are re-aggregations of that
    * frame joined back by key (AQE broadcasts them when small, shuffles
    * when vocabulary-scale — either is linear); the support filter runs
    * BEFORE the marginal joins; the G² math is a single per-row
    * expression with fixed evaluation order, and top-k is a
    * TakeOrdered. */
  def q275Collocations(spark: SparkSession, sfDir: String): DataFrame = {
    val w = split(col("text"), " ")
    val pairs = transform(sequence(lit(1), size(w) - 1),
      i => struct(element_at(w, i).as("w1"), element_at(w, i + 1).as("w2")))
    val big = graft.Checkpoints.materialize(Tables.documents(spark, sfDir, spreadScan = true)
      .filter(size(w) >= 2)
      .select(explode(pairs).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n11")))
    val leftM = big.groupBy(col("w1")).agg(sum(col("n11")).as("r1"))
    val rightM = big.groupBy(col("w2")).agg(sum(col("n11")).as("c1"))
    val tot = big.agg(sum(col("n11")).as("n"))
    def S(x: Column): Column =
      when(x > 0, x.cast("double") * log(x.cast("double"))).otherwise(lit(0.0))
    val cells = big.filter(col("n11") >= G2MinSupport)
      .join(leftM, "w1").join(rightM, "w2").crossJoin(broadcast(tot))
      .withColumn("n12", col("r1") - col("n11"))
      .withColumn("n21", col("c1") - col("n11"))
      .withColumn("n22", col("n") - col("r1") - col("c1") + col("n11"))
    val g2 = round(lit(2.0) * (S(col("n11")) + S(col("n12")) + S(col("n21"))
      + S(col("n22")) - S(col("r1")) - S(col("n") - col("r1"))
      - S(col("c1")) - S(col("n") - col("c1")) + S(col("n"))), 6)
    val top = cells.select(col("w1"), col("w2"), col("n11"), g2.as("g2"))
      .orderBy(col("g2").desc, col("w1"), col("w2")).limit(G2TopK)
    val win = Window.orderBy(col("g2").desc, col("w1"), col("w2"))
    top.withColumn("rank", row_number().over(win))
      .select(col("rank"), col("w1"), col("w2"), col("n11"), col("g2"))
      .orderBy(col("rank"))
  }

  val q275Sql: String = {
    def S(x: String): String =
      s"(CASE WHEN $x > 0 THEN $x * ln(CAST($x AS DOUBLE)) ELSE 0.0 END)"
    s"""WITH big AS MATERIALIZED (
  SELECT w[i] AS w1, w[i+1] AS w2, count(*) AS n11
  FROM (SELECT string_split(text, ' ') AS w FROM documents),
    UNNEST(range(1, len(w))) AS t(i)
  GROUP BY 1, 2),
tot AS (SELECT CAST(sum(n11) AS BIGINT) AS n FROM big),
left_m AS (SELECT w1, CAST(sum(n11) AS BIGINT) AS r1 FROM big GROUP BY 1),
right_m AS (SELECT w2, CAST(sum(n11) AS BIGINT) AS c1 FROM big GROUP BY 1),
cells AS (
  SELECT b.w1, b.w2, b.n11, l.r1, r.c1, t.n,
    l.r1 - b.n11 AS n12, r.c1 - b.n11 AS n21,
    t.n - l.r1 - r.c1 + b.n11 AS n22
  FROM big b JOIN left_m l ON b.w1 = l.w1
  JOIN right_m r ON b.w2 = r.w2 CROSS JOIN tot t
  WHERE b.n11 >= $G2MinSupport),
scored AS (
  SELECT w1, w2, n11,
    round(2.0 * (${S("n11")} + ${S("n12")} + ${S("n21")} + ${S("n22")}
      - ${S("r1")} - ${S("(n - r1)")} - ${S("c1")} - ${S("(n - c1)")}
      + ${S("n")}), 6) AS g2
  FROM cells),
ranked AS (
  SELECT w1, w2, n11, g2,
    row_number() OVER (ORDER BY g2 DESC, w1, w2) AS rank
  FROM scored)
SELECT rank, w1, w2, n11, g2 FROM ranked WHERE rank <= $G2TopK ORDER BY rank"""
  }

  // --------------------------------------------------------------- q286
  /** Burrows' Delta stylometric distance between the 20 `source`
    * registers (Burrows 2002, the standard authorship-attribution
    * measure): per (source, term) relative frequencies of the shared
    * vocabulary are z-scored ACROSS sources (so every term counts
    * equally regardless of raw rate — the move that makes Delta a
    * register fingerprint instead of a topic signal), and
    * Delta(a,b) = mean_t |z_a(t) − z_b(t)|; all source pairs ranked
    * most-similar-first. The corpus-level sibling of q82's
    * distribution drift: q82 compares one split against another,
    * this places ALL provenance groups in a common stylometric space.
    *
    * Shape for 100 TB: ONE tokenize pass collapses the corpus to the
    * O(sources × vocab) count frame (localCheckpoint'ed); the dense
    * rf grid, the per-term moments, the z-scores, and the
    * O(sources²) pair distances all live on that tiny frame —
    * vocabulary here is the top-frequency function words (the fixture
    * vocab is already bounded), never the open vocabulary; per-term
    * sums are 12dp-gridded DECIMAL. */
  def q286BurrowsDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val cnts = graft.Checkpoints.materialize(Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c")))
    val tot = cnts.groupBy(col("source")).agg(sum(col("c")).as("t"))
    val vocab = cnts.select(col("term")).distinct()
    val rf = graft.Checkpoints.materialize(cnts.select(col("source")).distinct()
      .crossJoin(broadcast(vocab))
      .join(broadcast(tot), "source")
      .join(cnts, Seq("source", "term"), "left")
      .select(col("source"), col("term"),
        (coalesce(col("c"), lit(0L)) / col("t").cast("double")).as("rf")))
    val mom = rf.groupBy(col("term")).agg(
      (dec12(col("rf")) / count(lit(1))).as("mu"),
      (dec12(col("rf") * col("rf")) / count(lit(1))).as("m2"))
    val z = rf.join(broadcast(mom), "term")
      .filter(col("m2") - col("mu") * col("mu") > 0)
      .select(col("source"), col("term"),
        ((col("rf") - col("mu")) / sqrt(col("m2") - col("mu") * col("mu"))).as("z"))
    val za = z.select(col("source").as("sa"), col("term"), col("z").as("za"))
    val zb = z.select(col("source").as("sb"), col("term"), col("z").as("zb"))
    val delta = za.join(zb, "term").filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg((dec12(abs(col("za") - col("zb"))) / count(lit(1))).as("delta"))
    val wr = Window.orderBy(col("delta"), col("sa"), col("sb"))
    delta.withColumn("rank", row_number().over(wr).cast("long"))
      .select(col("sa"), col("sb"), round(col("delta"), 6).as("delta"), col("rank"))
      .orderBy(col("rank"))
  }

  val q286Sql: String =
    """WITH tok AS MATERIALIZED (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
cnts AS MATERIALIZED (SELECT source, term, count(*) AS c FROM tok GROUP BY 1, 2),
tot AS (SELECT source, sum(c) AS t FROM cnts GROUP BY 1),
vocab AS (SELECT DISTINCT term FROM cnts),
rf AS MATERIALIZED (
  SELECT s.source, v.term,
    coalesce(c.c, 0) / CAST(t.t AS DOUBLE) AS rf
  FROM (SELECT DISTINCT source FROM cnts) s
  CROSS JOIN vocab v
  JOIN tot t ON t.source = s.source
  LEFT JOIN cnts c ON c.source = s.source AND c.term = v.term),
mom AS MATERIALIZED (
  SELECT term,
    CAST(sum(CAST(round(rf, 12) AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mu,
    CAST(sum(CAST(round(rf * rf, 12) AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS m2
  FROM rf GROUP BY 1),
z AS MATERIALIZED (
  SELECT r.source, r.term, (r.rf - m.mu) / sqrt(m.m2 - m.mu * m.mu) AS z
  FROM rf r JOIN mom m USING (term) WHERE m.m2 - m.mu * m.mu > 0),
delta AS (
  SELECT a.source AS sa, b.source AS sb,
    CAST(sum(CAST(round(abs(a.z - b.z), 12) AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS delta
  FROM z a JOIN z b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2),
ranked AS (
  SELECT sa, sb, delta,
    CAST(row_number() OVER (ORDER BY delta, sa, sb) AS BIGINT) AS rank
  FROM delta)
SELECT sa, sb, round(delta, 6) AS delta, rank FROM ranked ORDER BY rank"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q286_burrows_delta" -> q286BurrowsDelta,
    "q275_collocations" -> q275Collocations,
    "q260_rrf_fusion" -> q260RrfFusion,
    "q255_good_turing" -> q255GoodTuring,
    "q247_heaps" -> q247Heaps,
    "q249_textrank" -> q249TextRank,
    "q183_bpe_merges" -> q183BpeMerges,
    "q176_dp_release" -> q176DpRelease,
    "q167_heavy_hitters" -> q167HeavyHitters,
    "q162_zipf" -> q162Zipf,
    "q154_cls_report" -> q154ClsReport,
    "q144_balanced_sample" -> q144BalancedSample,
    "q145_rake" -> q145Rake,
    "q138_weighted_quantiles" -> q138WeightedQuantiles,
    "q120_kmv_setops" -> q120KmvSetops,
    "q113_readability" -> q113Readability,
    "q106_jsonl_io" -> q106JsonlIo,
    "q100_boilerplate" -> q100Boilerplate,
    "q95_entropy" -> q95Entropy,
    "q94_mad" -> q94Mad,
    "q92_postings" -> q92Postings,
    "q90_pmi" -> q90Pmi,
    "q83_hll" -> q83Hll,
    "q84_split" -> q84Split,
    "q88_mixture" -> q88Mixture,
    "q81_perplexity" -> q81Perplexity,
    "q82_drift" -> q82Drift,
    "q73_bm25" -> q73Bm25,
    "q74_weighted_sample" -> q74WeightedSample,
    "q56_countmin" -> q56Countmin,
    "q57_corr" -> q57Corr,
    "q49_kmv_distinct" -> q49KmvDistinct,
    "q50_quantiles" -> q50Quantiles,
    "q67_hist_quantiles" -> q67HistQuantiles,
    "q51_pivot" -> q51Pivot,
    "q40_langid" -> q40LangId,
    "q41_quality" -> q41Quality,
    "q42_tokens" -> q42Tokens,
    "q43_fingerprint" -> q43Fingerprint,
    "q44_pii_scrub" -> q44PiiScrub,
    "q45_salted_tokens" -> q45SaltedTokens,
    "q46_repetition" -> q46Repetition,
    "q47_stratified_sample" -> q47StratifiedSample,
    "q48_tfidf" -> q48Tfidf)

  val oracles: Map[String, String] = Map(
    "q286_burrows_delta" -> q286Sql,
    "q275_collocations" -> q275Sql,
    "q260_rrf_fusion" -> q260Sql,
    "q255_good_turing" -> q255Sql,
    "q247_heaps" -> q247Sql,
    "q249_textrank" -> q249Sql,
    "q183_bpe_merges" -> q183Sql,
    "q176_dp_release" -> q176Sql,
    "q167_heavy_hitters" -> q167Sql,
    "q162_zipf" -> q162Sql,
    "q154_cls_report" -> q154Sql,
    "q144_balanced_sample" -> q144Sql,
    "q145_rake" -> q145Sql,
    "q138_weighted_quantiles" -> q138Sql,
    "q120_kmv_setops" -> q120Sql,
    "q113_readability" -> q113Sql,
    "q106_jsonl_io" -> q106Sql,
    "q100_boilerplate" -> q100Sql,
    "q95_entropy" -> q95Sql,
    "q94_mad" -> q94Sql,
    "q92_postings" -> q92Sql,
    "q90_pmi" -> q90Sql,
    "q83_hll" -> q83Sql,
    "q84_split" -> q84Sql,
    "q88_mixture" -> q88Sql,
    "q40_langid" -> q40Sql,
    "q41_quality" -> q41Sql,
    "q42_tokens" -> q42Sql,
    "q43_fingerprint" -> q43Sql,
    "q44_pii_scrub" -> q44Sql,
    "q45_salted_tokens" -> q45Sql,
    "q46_repetition" -> q46Sql,
    "q47_stratified_sample" -> q47Sql,
    "q48_tfidf" -> q48Sql,
    "q73_bm25" -> q73Sql,
    "q74_weighted_sample" -> q74Sql,
    "q81_perplexity" -> q81Sql,
    "q82_drift" -> q82Sql,
    "q49_kmv_distinct" -> q49Sql,
    "q50_quantiles" -> q50Sql,
    "q67_hist_quantiles" -> q67Sql,
    "q51_pivot" -> q51Sql,
    "q56_countmin" -> q56Sql,
    "q57_corr" -> q57Sql)
}
