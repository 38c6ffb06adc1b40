package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{MathFunctions => MF}
import graft.oracle.Sql

/** Training-pipeline assembly operators (SURVEY §2.E): sequence
  * packing, the composed quality gate, distributed PCA by power
  * iteration, and dataloader shard-parity auditing — the steps between
  * a filtered corpus and a training run.
  */
object PipelineQueries {

  /** Tokens per training sequence (context window). */
  val PackLen = 2048

  // --------------------------------------------------------------- q203
  /** Sequence-packing census — GPT-style concat-and-cut: within each
    * source shard, documents are concatenated in doc_id order and the
    * token stream is cut every [[PackLen]] tokens. Per document: its
    * first/last pack, how many packs it spans, and whether a cut falls
    * inside it (the attention-masking / document-bleed accounting a
    * pretraining dataloader needs).
    *
    * Shape for 100 TB: packing is PER SOURCE SHARD (the realistic
    * layout — a global concat order would serialize ingestion), so the
    * running offset is a window partitioned by source: parallel across
    * shards, one shuffle on source. Token counts are in-row; nothing
    * corpus-scale crosses the exchange twice. */
  def q203SeqPacking(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Assemble.seqPacking(
        Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).as("nt")),
        col("doc_id"), col("source"), col("nt"), PackLen.toLong)
      .withColumnRenamed("shard", "source")

  val q203Sql: String =
    s"""WITH docs AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |packed AS (
      |  SELECT doc_id, source, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
      |  FROM docs)
      |SELECT doc_id, source, n_tokens,
      |  CAST((cum - n_tokens) // $PackLen AS BIGINT) AS first_pack,
      |  CAST((cum - 1) // $PackLen AS BIGINT) AS last_pack,
      |  CAST((cum - 1) // $PackLen - (cum - n_tokens) // $PackLen + 1 AS BIGINT) AS n_packs,
      |  CAST(CASE WHEN (cum - 1) // $PackLen > (cum - n_tokens) // $PackLen
      |       THEN 1 ELSE 0 END AS INTEGER) AS is_split
      |FROM packed ORDER BY doc_id""".stripMargin

  /** Quality-gate thresholds (shared with the oracle text). */
  val GateMinWords = 50
  val GateMaxWords = 1000
  val GateMinStop = 0.04
  val GateMinWl = 3.0
  val GateMaxWl = 8.0
  val GateMinDistinct = 0.3

  // --------------------------------------------------------------- q204
  /** Composed quality gate — the C4/FineWeb-style keep/drop decision
    * assembled from four independent rules (length band, stopword
    * floor over the union stop list, word-length band, lexical
    * diversity floor), reported as a per-source funnel: how many docs
    * pass each rule, how many pass ALL, and the final keep rate. The
    * per-rule counts are what a curation run tunes against — a single
    * combined boolean would hide which rule is doing the cutting.
    *
    * Shape for 100 TB: every rule is an in-row expression over ONE
    * tokenization; the only exchange is the partial-agged
    * groupBy(source) census — map-only otherwise. */
  def q204QualityGate(spark: SparkSession, sfDir: String): DataFrame = {
    val stopAll = TextQueries.StopEn ++ TextQueries.StopEs ++
      TextQueries.StopFr ++ TextQueries.StopDe
    val w = split(col("text"), " ")
    val nWords = size(w)
    val avgWl = (length(col("text")) - (size(w) - 1)).cast("double") / nWords.cast("double")
    val stopR = TextQueries.hitRatio(w, stopAll)
    val distinctR = size(array_distinct(w)).cast("double") / nWords.cast("double")
    val rLen = nWords >= GateMinWords && nWords <= GateMaxWords
    val rStop = stopR >= GateMinStop
    val rWl = avgWl >= GateMinWl && avgWl <= GateMaxWl
    val rDiv = distinctR >= GateMinDistinct
    Tables.documents(spark, sfDir)
      .select(col("source"), rLen.as("r_len"), rStop.as("r_stop"),
        rWl.as("r_wl"), rDiv.as("r_div"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("r_len").cast("long")).as("pass_len"),
        sum(col("r_stop").cast("long")).as("pass_stop"),
        sum(col("r_wl").cast("long")).as("pass_wl"),
        sum(col("r_div").cast("long")).as("pass_div"),
        sum((col("r_len") && col("r_stop") && col("r_wl") && col("r_div"))
          .cast("long")).as("n_keep"))
      .withColumn("keep_rate",
        round(col("n_keep").cast("double") / col("n_docs"), 6))
      .orderBy(col("source"))
  }

  val q204Sql: String = {
    val stopAll = TextQueries.StopEn ++ TextQueries.StopEs ++
      TextQueries.StopFr ++ TextQueries.StopDe
    val w = "string_split(text, ' ')"
    val stopR = TextQueries.hitRatioSql(w, stopAll)
    s"""WITH scored AS (
      |  SELECT source,
      |    (len($w) >= $GateMinWords AND len($w) <= $GateMaxWords) AS r_len,
      |    ($stopR >= $GateMinStop) AS r_stop,
      |    (CAST(length(text) - (len($w) - 1) AS DOUBLE) / len($w) >= $GateMinWl
      |     AND CAST(length(text) - (len($w) - 1) AS DOUBLE) / len($w) <= $GateMaxWl) AS r_wl,
      |    (CAST(len(list_distinct($w)) AS DOUBLE) / len($w) >= $GateMinDistinct) AS r_div
      |  FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN r_len THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
      |  CAST(sum(CASE WHEN r_stop THEN 1 ELSE 0 END) AS BIGINT) AS pass_stop,
      |  CAST(sum(CASE WHEN r_wl THEN 1 ELSE 0 END) AS BIGINT) AS pass_wl,
      |  CAST(sum(CASE WHEN r_div THEN 1 ELSE 0 END) AS BIGINT) AS pass_div,
      |  CAST(sum(CASE WHEN r_len AND r_stop AND r_wl AND r_div THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
      |  round(CAST(sum(CASE WHEN r_len AND r_stop AND r_wl AND r_div THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS keep_rate
      |FROM scored GROUP BY source ORDER BY source""".stripMargin
  }

  /** Power-iteration rounds. */
  val PcaRounds = 3
  /** Embedding dimensionality (the fixture's; a caller passes its own
    * via the facade). */
  val PcaDim = 64

  // --------------------------------------------------------------- q205
  /** Distributed PCA by power iteration — the top principal component
    * of the (uncentered) embedding second-moment matrix, with the
    * Rayleigh-quotient eigenvalue estimate and the variance share it
    * explains, per round (the convergence trace).
    *
    * The 100 TB-correct matvec: y = Σᵢ xᵢ(xᵢᵀv) never materializes the
    * d×d moment matrix — each round the corpus explodes to (row, dim,
    * value), the per-row dot joins the BROADCAST O(d) vector frame and
    * partial-aggs per row, and y partial-aggs per dim; the state that
    * crosses rounds is a d-row frame, localCheckpoint'ed so the loop
    * plan stays shallow (LinkRank's discipline). Every per-row term is
    * 1e-6-gridded and decimal-summed — bit-identical in any partition
    * order, so the oracle replays all rounds exactly. */
  def q205PcaPower(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Spectral.pcaTopComponent(
      Tables.load(spark, sfDir, "embeddings"),
      col("vec_id"), col("embedding"), PcaDim, PcaRounds)

  val q205Sql: String = {
    // the 1e-6 grid is floor(x*1e6 + 0.5) — the SAME double expression
    // Spark compiles (operators.Spectral.g6), so grid decisions agree
    // even within an ulp of a .5e-6 boundary (the r9 half-ulp cell;
    // decimal `round` was only empirically identical)
    def gsum(e: String): String =
      s"CAST(sum(CAST(floor(($e) * 1e6 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e6"
    val v0 = s"(floor((1.0 / sqrt($PcaDim.0)) * 1e6 + 0.5) / 1e6)"
    def round_(r: Int, prevV: String): String =
      s"""dots$r AS (
         |  SELECT vec_id, ${gsum("x * v")} AS dot
         |  FROM exploded JOIN $prevV USING (j) GROUP BY vec_id),
         |y$r AS (
         |  SELECT j, ${gsum("x * dot")} AS y
         |  FROM exploded JOIN dots$r USING (vec_id) GROUP BY j),
         |ln$r AS (
         |  SELECT ${gsum("v * y")} AS lambda,
         |    ${gsum("y * y")} AS ynorm2
         |  FROM y$r JOIN $prevV USING (j)),
         |v$r AS (SELECT j, floor((y / sqrt((SELECT ynorm2 FROM ln$r))) * 1e6 + 0.5) / 1e6 AS v FROM y$r)""".stripMargin
    s"""WITH pos AS (
      |  SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS j
      |  FROM embeddings),
      |exploded AS MATERIALIZED (
      |  SELECT vec_id, CAST(j - 1 AS INTEGER) AS j, CAST(embedding[j] AS DOUBLE) AS x
      |  FROM pos),
      |trace AS (
      |  SELECT ${gsum("x * x")} AS trace
      |  FROM exploded),
      |v0 AS (SELECT j, $v0 AS v FROM (SELECT DISTINCT j FROM exploded)),
      |${round_(1, "v0")},
      |${round_(2, "v1")},
      |${round_(3, "v2")}
      |SELECT r AS round, lambda,
      |  floor((lambda / (SELECT trace FROM trace)) * 1e6 + 0.5) / 1e6 AS explained_share
      |FROM (
      |  SELECT 1 AS r, lambda FROM ln1
      |  UNION ALL SELECT 2, lambda FROM ln2
      |  UNION ALL SELECT 3, lambda FROM ln3)
      |ORDER BY round""".stripMargin
  }

  /** Dataloader shard count. */
  val NShards = 16

  // --------------------------------------------------------------- q206
  /** Dataloader shard-parity audit — documents hash-assigned to
    * [[NShards]] shards (content-id hash, the q43 portable-md5
    * discipline), with the per-shard balance statistics verified
    * before a distributed training run: doc count, token mass, distinct
    * languages, and the heaviest language's share (a skewed shard
    * starves or biases its data-parallel rank).
    *
    * Shape for 100 TB: shard id is per-row arithmetic; two partial-
    * agged aggregations ((shard, lang), then shard) produce the O(S)
    * report. */
  def q206ShardParity(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Assemble.shardParity(
        Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).as("nt")),
        col("doc_id"), col("lang"), col("nt"), NShards)
      .withColumnRenamed("n_groups", "n_langs")
      .withColumnRenamed("top_group_share", "top_lang_share")

  val q206Sql: String =
    s"""WITH docs AS (
      |  SELECT ${Sql.hash32("CAST(doc_id AS VARCHAR)")} % $NShards AS shard,
      |    lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |bsl AS (
      |  SELECT shard, lang, count(*) AS n, CAST(sum(n_tokens) AS BIGINT) AS tok
      |  FROM docs GROUP BY 1, 2)
      |SELECT shard, CAST(sum(n) AS BIGINT) AS n_docs,
      |  CAST(sum(tok) AS BIGINT) AS n_tokens,
      |  count(*) AS n_langs,
      |  round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top_lang_share
      |FROM bsl GROUP BY shard ORDER BY shard""".stripMargin

  /** Target-encoding folds and smoothing mass. */
  val TeFolds = 5
  val TeSmooth = 10

  // --------------------------------------------------------------- q208
  /** Leakage-safe target encoding — the categorical featurizer of
    * every tabular-ML pipeline: each (category, fold) gets the
    * smoothed mean target of the category computed over the OTHER
    * folds only (K-fold out-of-fold encoding — a row never sees its
    * own target), with m-estimate shrinkage toward the global mean.
    * Encodes order priority by order value, folds by orderkey mod K.
    *
    * Shape for 100 TB: ONE partial-agged groupBy(category, fold)
    * collapses the corpus; per-category totals re-aggregate that O(C·K)
    * frame; "other folds" = total − own (no second pass, no K-way
    * self-join); the global mean is a 1-row broadcast. Sums are
    * DECIMAL(38,6) end-to-end — one double division per output row. */
  def q208TargetEncoding(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Assemble.targetEncoding(Tables.orders(spark, sfDir),
      col("o_orderpriority"), pmod(col("o_orderkey"), lit(TeFolds.toLong)),
      col("o_totalprice"), TeSmooth.toDouble)

  val q208Sql: String =
    s"""WITH rows_ AS (
      |  SELECT o_orderpriority AS category, o_orderkey % $TeFolds AS fold,
      |    o_totalprice AS y
      |  FROM orders),
      |bcf AS (
      |  SELECT category, fold, count(*) AS n,
      |    sum(CAST(y AS DECIMAL(38,6))) AS s
      |  FROM rows_ GROUP BY 1, 2),
      |bc AS (
      |  SELECT category, CAST(sum(n) AS BIGINT) AS n_tot, sum(s) AS s_tot
      |  FROM bcf GROUP BY 1),
      |g AS (
      |  SELECT CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS gmean
      |  FROM rows_)
      |SELECT category, fold, n AS n_rows,
      |  round((CAST(s_tot - s AS DOUBLE) + $TeSmooth.0 * gmean)
      |    / (CAST(n_tot - n AS DOUBLE) + $TeSmooth.0), 6) AS encoding
      |FROM bcf JOIN bc USING (category) CROSS JOIN g
      |ORDER BY category, fold""".stripMargin

  /** Token budget per padded batch. */
  val BatchBudget = 8192

  // --------------------------------------------------------------- q210
  /** Pad-batching waste census — the OTHER batching strategy beside
    * q203's concat-packing: documents are bucketed to the next power
    * of two of their token count, batches of a fixed token budget are
    * filled with same-bucket sequences (uniform shape → no cross-doc
    * attention bleed), and the report quantifies what that costs:
    * per-bucket doc count, real vs padded token mass, batch count, and
    * padding-waste ratio — the utilization tradeoff a training
    * framework weighs against packing.
    *
    * Shape for 100 TB: the bucket id is in-row integer/log2 math
    * (exact at power-of-two boundaries); ONE partial-agged
    * groupBy(bucket) produces the O(log max-length) report. */
  def q210PadBatching(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Assemble.padBatching(
      Tables.documents(spark, sfDir)
        .select(size(split(col("text"), " ")).as("nt")),
      col("nt"), BatchBudget.toLong)

  val q210Sql: String =
    s"""WITH docs AS (
      |  SELECT n_tokens,
      |    CAST(power(2.0, ceil(log2(CAST(n_tokens AS DOUBLE)))) AS BIGINT) AS bucket
      |  FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |        FROM documents)),
      |agg AS (
      |  SELECT bucket, count(*) AS n_docs,
      |    CAST(sum(n_tokens) AS BIGINT) AS real_tokens
      |  FROM docs GROUP BY 1)
      |SELECT bucket, n_docs, real_tokens,
      |  CAST(n_docs * bucket AS BIGINT) AS padded_tokens,
      |  CAST(ceil(CAST(n_docs AS DOUBLE) /
      |    greatest(floor(CAST($BatchBudget AS DOUBLE) / bucket), 1.0)) AS BIGINT) AS n_batches,
      |  round(1.0 - CAST(real_tokens AS DOUBLE) / CAST(n_docs * bucket AS DOUBLE), 6) AS pad_waste
      |FROM agg ORDER BY bucket""".stripMargin

  /** Ring geometry (shared with the oracle text). */
  val RingNodes = 16
  val RingVnodes = 8

  // --------------------------------------------------------------- q213
  /** Consistent-hashing ring census — the data-placement primitive
    * behind shard maps, caches, and crawler work assignment: documents
    * hash onto a ring of [[RingNodes]] nodes × [[RingVnodes]] virtual
    * nodes (clockwise-successor rule), and the census reports, per
    * node, its load AND how many of its documents move when one node
    * is added — measuring the 1/(n+1) minimal-disruption property
    * instead of asserting it. q206 shows mod-hash balance; this is the
    * scheme that stays balanced when the cluster RESIZES (mod-hash
    * remaps ~all keys; the ring remaps ~1/n).
    *
    * Shape for 100 TB: the ring is an O(nodes·vnodes) broadcast; each
    * doc meets it in a BroadcastNestedLoopJoin whose 128-row fan-out
    * collapses map-side in the partial aggregate (successor = min
    * vnode-hash ≥ h, wraparound = global min); per-row md5 arithmetic
    * is the q43 portable discipline, so the oracle replays the exact
    * assignment. */
  def q213ConsistentHash(spark: SparkSession, sfDir: String): DataFrame = {
    def ring(nNodes: Int): DataFrame =
      spark.range(nNodes.toLong).select(col("id").as("n"))
        .crossJoin(spark.range(RingVnodes.toLong).select(col("id").as("v")))
        .select(col("n"),
          MF.hash32(concat(lit("n"), col("n").cast("string"),
            lit("#v"), col("v").cast("string"))).as("vh"))
    def assign(docs: DataFrame, ringDf: DataFrame, outCol: String): DataFrame = {
      val sel = docs.crossJoin(broadcast(ringDf))
        .groupBy(col("doc_id"), col("h"))
        .agg(min(when(col("vh") >= col("h"), col("vh"))).as("ge"),
          min(col("vh")).as("wrap"))
        .select(col("doc_id"), coalesce(col("ge"), col("wrap")).as("vh"))
      sel.join(broadcast(ringDf), "vh")
        .select(col("doc_id"), col("n").as(outCol))
    }
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), MF.hash32(col("doc_id").cast("string")).as("h"))
    val a16 = assign(docs, ring(RingNodes), "node")
    val a17 = assign(docs, ring(RingNodes + 1), "node17")
    a16.join(a17, "doc_id")
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("node") =!= col("node17"), 1L).otherwise(0L)).as("n_remapped"))
      .select(col("node"), col("n_docs"), col("n_remapped"),
        round(col("n_remapped").cast("double") / col("n_docs"), 6).as("remap_rate"))
      .orderBy(col("node"))
  }

  val q213Sql: String = {
    def ringCte(name: String, nNodes: Int): String =
      s"""$name AS MATERIALIZED (
         |  SELECT n, ${Sql.hash32("'n' || n || '#v' || v")} AS vh
         |  FROM (SELECT unnest(range(0, $nNodes)) AS n)
         |  CROSS JOIN (SELECT unnest(range(0, $RingVnodes)) AS v))""".stripMargin
    def assignCte(name: String, ring: String, outCol: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT doc_id, r.n AS $outCol
         |  FROM (
         |    SELECT doc_id,
         |      coalesce(min(CASE WHEN vh >= h THEN vh END), min(vh)) AS vh
         |    FROM docs CROSS JOIN $ring GROUP BY doc_id) s
         |  JOIN $ring r USING (vh))""".stripMargin
    s"""WITH ${ringCte("ring16", RingNodes)},
      |${ringCte("ring17", RingNodes + 1)},
      |docs AS MATERIALIZED (
      |  SELECT doc_id, ${Sql.hash32("CAST(doc_id AS VARCHAR)")} AS h FROM documents),
      |${assignCte("a16", "ring16", "node")},
      |${assignCte("a17", "ring17", "node17")}
      |SELECT node, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN node <> node17 THEN 1 ELSE 0 END) AS BIGINT) AS n_remapped,
      |  round(CAST(sum(CASE WHEN node <> node17 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS remap_rate
      |FROM a16 JOIN a17 USING (doc_id)
      |GROUP BY node ORDER BY node""".stripMargin
  }

  // --------------------------------------------------------------- q216
  /** Unicode-normalization audit — the text-hygiene step before any
    * hash-based dedup: visually identical strings in composed (NFC)
    * vs decomposed (NFD) form hash DIFFERENTLY, so un-normalized text
    * silently defeats q20/q21/q130. The corpus is ASCII, so docs with
    * doc_id%9==0 get a deterministic decomposed-accent suffix appended
    * (the q44 injection convention), then `graft_nfc` — a native
    * codegen'd Catalyst expression wrapping the same Unicode NFC that
    * DuckDB's nfc_normalize implements — normalizes, and the census
    * reports per source: docs touched, code points saved by
    * composition, and the normalized share.
    *
    * Shape for 100 TB: normalization is per-row compiled work inside
    * whole-stage codegen (a UDF would break the codegen span); ONE
    * partial-agged groupBy(source). */
  def q216UnicodeNorm(spark: SparkSession, sfDir: String): DataFrame = {
    // decomposed (NFD) accents — combining marks U+0301/U+0308, NOT
    // precomposed letters, or there would be nothing to normalize
    val injected = when(pmod(col("doc_id"), lit(9)) === 0,
      concat(col("text"), lit(" cafe\u0301 nai\u0308ve Zu\u0308rich")))
      .otherwise(col("text"))
    Tables.documents(spark, sfDir)
      .select(col("source"), injected.as("raw"))
      .select(col("source"), col("raw"),
        call_function("graft_nfc", col("raw")).as("norm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("norm") =!= col("raw"), 1L).otherwise(0L))
          .as("n_denormalized"),
        sum(length(col("raw")) - length(col("norm"))).as("cp_saved"))
      .select(col("source"), col("n_docs"), col("n_denormalized"),
        col("cp_saved"),
        round(col("n_denormalized").cast("double") / col("n_docs"), 6)
          .as("denorm_share"))
      .orderBy(col("source"))
  }

  val q216Sql: String =
    """WITH injected AS (
      |  SELECT source,
      |    (CASE WHEN doc_id % 9 = 0
      |          THEN text || ' cafe' || chr(769) || ' nai' || chr(776) || 've Zu' || chr(776) || 'rich'
      |          ELSE text END) AS raw
      |  FROM documents),
      |normed AS (
      |  SELECT source, raw, nfc_normalize(raw) AS norm FROM injected)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN norm <> raw THEN 1 ELSE 0 END) AS BIGINT) AS n_denormalized,
      |  CAST(sum(length(raw) - length(norm)) AS BIGINT) AS cp_saved,
      |  round(CAST(sum(CASE WHEN norm <> raw THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS denorm_share
      |FROM normed GROUP BY source ORDER BY source""".stripMargin

  /** Lateness bucket edges in seconds (shared with the oracle). */
  val LateBuckets: Seq[Long] = Seq(0L, 60L, 600L, 3600L)

  // --------------------------------------------------------------- q218
  /** Out-of-orderness / watermark audit — the measurement that SETS a
    * streaming watermark instead of guessing it: per user stream (in
    * event_id arrival order), an event's lateness is how far its
    * timestamp lags the maximum timestamp already seen; the census
    * buckets lateness (on-time, <1m, <10m, <1h, ≥1h) with cumulative
    * shares — the p99 bucket edge IS the watermark to configure, and
    * everything past it is the data a tighter watermark would drop.
    *
    * Shape for 100 TB: the running max is a window PARTITIONED BY
    * user (parallel across streams — a global arrival order would
    * serialize, and real watermarks are per-partition anyway); the
    * census is an O(buckets) partial-agg. */
  def q218WatermarkAudit(spark: SparkSession, sfDir: String): DataFrame = {
    // the fixture's event_id order IS timestamp order (zero lateness
    // everywhere) — a deterministic hash permutation of the ids stands
    // in for the arrival log of a distributed collector (the q44/q216
    // injection convention: synthesize the phenomenon, audit it for real)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"),
        MF.hash32(col("event_id").cast("string")).as("arr"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("arr"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val late = ev
      .withColumn("run_max", max(col("ts")).over(w))
      // integer div: an ns delta can exceed 2^53, where double
      // division would round before the floor
      .select(expr("(run_max - ts) div 1000000000").as("late_s"))
    // fold ASCENDING so the largest edge's test ends up outermost —
    // a descending fold would wrap `>= 0` around everything and send
    // every event to bucket 0
    val bucket = LateBuckets.foldLeft(lit(-1)) { (acc, edge) =>
      when(col("late_s") >= edge, lit(LateBuckets.indexOf(edge))).otherwise(acc)
    }
    val census = late.select(bucket.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_events"))
    val total = census.agg(sum(col("n_events")).as("n_total"))
    val cw = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census.crossJoin(broadcast(total))
      .withColumn("cum", sum(col("n_events")).over(cw))
      .select(col("bucket"),
        element_at(lit(LateBuckets.toArray), col("bucket") + 1).as("edge_s"),
        col("n_events"),
        round(col("n_events").cast("double") / col("n_total"), 6).as("share"),
        round(col("cum").cast("double") / col("n_total"), 6).as("cum_share"))
      .orderBy(col("bucket"))
  }

  val q218Sql: String = {
    val edges = LateBuckets
    val bucketExpr = edges.zipWithIndex.reverse
      .map { case (e, i) => s"WHEN late_s >= $e THEN $i" }
      .mkString("(CASE ", " ", " ELSE -1 END)")
    val edgeList = edges.mkString("[", ", ", "]")
    s"""WITH ev AS (
      |  SELECT user_id, event_id, ${Sql.hash32("CAST(event_id AS VARCHAR)")} AS arr,
      |    epoch_ns(CAST(ts AS TIMESTAMP)) AS tsn FROM events),
      |late AS (
      |  SELECT CAST((max(tsn) OVER (PARTITION BY user_id ORDER BY arr, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tsn)
      |    // 1000000000 AS BIGINT) AS late_s
      |  FROM ev),
      |census AS (
      |  SELECT $bucketExpr AS bucket, count(*) AS n_events
      |  FROM late GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS n_total FROM census)
      |SELECT bucket, CAST($edgeList[bucket + 1] AS BIGINT) AS edge_s, n_events,
      |  round(CAST(n_events AS DOUBLE) / n_total, 6) AS share,
      |  round(CAST(sum(n_events) OVER (ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / n_total, 6) AS cum_share
      |FROM census CROSS JOIN tot ORDER BY bucket""".stripMargin
  }

  // --------------------------------------------------------------- q225
  /** Epoch-shuffle quality audit — distributed training shuffles each
    * epoch by sorting on hash(epoch, id) (a seeded permutation without
    * any global random state); this audit PROVES the epochs are
    * decorrelated instead of assuming it: per source shard, the exact
    * Spearman rank correlation between the epoch-1 and epoch-2 orders
    * (ρ = 1 − 6Σd²/(n(n²−1)), all integer until the division) — a
    * broken seed scheme (same hash both epochs) would score 1.0, a
    * healthy shuffle ≈ 0.
    *
    * Shape for 100 TB: ranks are windows PARTITIONED BY source (the
    * shard a dataloader actually shuffles within); Σd² partial-aggs
    * per shard; O(shards) output. */
  def q225EpochShuffle(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        MF.hash32(concat(lit("e1#"), col("doc_id").cast("string"))).as("h1"),
        MF.hash32(concat(lit("e2#"), col("doc_id").cast("string"))).as("h2"))
    val w1 = Window.partitionBy(col("source")).orderBy(col("h1"), col("doc_id"))
    val w2 = Window.partitionBy(col("source")).orderBy(col("h2"), col("doc_id"))
    docs
      .withColumn("r1", row_number().over(w1))
      .withColumn("r2", row_number().over(w2))
      .select(col("source"),
        ((col("r1") - col("r2")) * (col("r1") - col("r2"))).cast("long").as("d2"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("d2")).as("sum_d2"))
      .select(col("source"), col("n_docs"), col("sum_d2"),
        round(lit(1.0) - (lit(6L) * col("sum_d2")).cast("double") /
          (col("n_docs") * (col("n_docs") * col("n_docs") - 1L)).cast("double"), 6)
          .as("rho"))
      .orderBy(col("source"))
  }

  val q225Sql: String =
    s"""WITH docs AS (
      |  SELECT doc_id, source,
      |    ${Sql.hash32("'e1#' || CAST(doc_id AS VARCHAR)")} AS h1,
      |    ${Sql.hash32("'e2#' || CAST(doc_id AS VARCHAR)")} AS h2
      |  FROM documents),
      |ranked AS (
      |  SELECT source,
      |    row_number() OVER (PARTITION BY source ORDER BY h1, doc_id) AS r1,
      |    row_number() OVER (PARTITION BY source ORDER BY h2, doc_id) AS r2
      |  FROM docs),
      |agg AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2
      |  FROM ranked GROUP BY source)
      |SELECT source, n_docs, sum_d2,
      |  round(1.0 - CAST(6 * sum_d2 AS DOUBLE) /
      |    CAST(n_docs * (n_docs * n_docs - 1) AS DOUBLE), 6) AS rho
      |FROM agg ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q239
  /** k-anonymity threshold: a quasi-identifier class smaller than this
    * re-identifies its members. */
  val KAnonK = 5L
  /** Account-balance band width for the quasi-identifier. */
  val KAnonBalBand = 1000.0

  /** k-anonymity audit over the customer table — the privacy census a
    * release gate runs BEFORE q176's DP noise or q44's PII scrub can
    * be trusted: with quasi-identifiers (nation, market segment,
    * $1000 balance band), how many customers sit in classes smaller
    * than k=[[KAnonK]]? The histogram over class sizes (n_classes,
    * n_rows, row share, below-k flag per size) is exactly the table a
    * suppression/generalization pass is tuned against — on the
    * fixture ~32% of customers are singletons under this QI, i.e. the
    * released triple alone re-identifies them.
    *
    * Shape for 100 TB: one partial-agged groupBy(QI) to O(classes)
    * rows, localCheckpoint'ed for its two consumers (the size census
    * and the 1-row total), then a groupBy(class_size) over O(classes)
    * — the corpus is read once and every exchange is
    * aggregate-sized. */
  def q239KAnonymity(spark: SparkSession, sfDir: String): DataFrame = {
    val cls = graft.Checkpoints.materialize(Tables.customer(spark, sfDir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / lit(KAnonBalBand)).cast("long").as("bal_band"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
      .agg(count(lit(1)).as("class_size")))
    val total = cls.agg(sum(col("class_size")).as("n_total"))
    cls.groupBy(col("class_size"))
      .agg(count(lit(1)).as("n_classes"), sum(col("class_size")).as("n_rows"))
      .crossJoin(broadcast(total))
      .select(col("class_size"), col("n_classes"), col("n_rows"),
        round(col("n_rows").cast("double") / col("n_total"), 6).as("row_share"),
        when(col("class_size") < KAnonK, 1).otherwise(0).as("below_k"))
      .orderBy(col("class_size"))
  }

  val q239Sql: String =
    s"""WITH cls AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / $KAnonBalBand) AS BIGINT) AS bal_band,
      |    count(*) AS class_size
      |  FROM customer GROUP BY 1, 2, 3),
      |total AS (SELECT sum(class_size) AS n_total FROM cls)
      |SELECT class_size, count(*) AS n_classes,
      |  CAST(sum(class_size) AS BIGINT) AS n_rows,
      |  round(CAST(sum(class_size) AS DOUBLE) / any_value(t.n_total), 6) AS row_share,
      |  CASE WHEN class_size < $KAnonK THEN 1 ELSE 0 END AS below_k
      |FROM cls CROSS JOIN total t
      |GROUP BY class_size ORDER BY class_size""".stripMargin

  // --------------------------------------------------------------- q268
  /** Power-iteration rounds per component and terms reported. */
  val LsaRounds = 4
  val LsaTopTerms = 8

  /** Two-component LSA (truncated SVD of the TF-IDF doc-term matrix)
    * by DEFLATED power iteration — the topic-structure summary between
    * q48's per-doc TF-IDF vectors and q205's dense-embedding PCA: the
    * top right-singular vectors of the SPARSE doc-term matrix are the
    * corpus' dominant term axes ("topics"), and the second component
    * is found by re-orthogonalizing against the first every round
    * (q209's deflation on the term space). Reports each component's
    * top terms by |loading| and its singular value σ = ‖A·v‖.
    *
    * Shape for 100 TB: the matvec AᵀA·v is TWO partial-agged sparse
    * joins per round (doc-side then term-side — nnz-linear, never a
    * d×d or n×n materialization; q205's audit on a sparse matrix);
    * projections and norms are 1-row broadcasts; per-round state
    * localCheckpoint'ed; every term 12-dp-gridded into DECIMAL sums
    * so the oracle replays all rounds exactly; top terms via
    * TakeOrdered, never a vocab-wide rank window. */
  def q268LsaTopics(spark: SparkSession, sfDir: String): DataFrame = {
    val dec12 = DecimalType(38, 12)
    val tf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val tfidf = {
      val nd = tf.agg(countDistinct(col("doc_id")).as("n"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      graft.Checkpoints.materialize(tf.join(df, Seq("term")).crossJoin(broadcast(nd))
        .select(col("doc_id"), col("term"),
          round(col("tf") * log(col("n").cast("double") / col("df") + 1.0), 12)
            .as("a")))
    }
    val terms = graft.Checkpoints.materialize(tfidf.select(col("term")).distinct())
    val v0 = terms.crossJoin(broadcast(terms.agg(count(lit(1)).as("nt"))))
      .select(col("term"),
        round(lit(1.0) / sqrt(col("nt").cast("double")), 12).as("v"))
    def powerLoop(deflateAgainst: Option[DataFrame]): DataFrame = {
      // the round's u and w checkpoints: only its own step reads them
      val scratch = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val freeScratch: DataFrame => Boolean = _ => {
        scratch.foreach(graft.Checkpoints.free)
        scratch.clear()
        false
      }
      val (v, _) = graft.Checkpoints.iterate(v0, LsaRounds, freeScratch) { v =>
        val u = graft.Checkpoints.materialize(tfidf.join(v, Seq("term"))
          .groupBy(col("doc_id"))
          .agg(sum(round(col("a") * col("v"), 12).cast(dec12))
            .cast("double").as("u")))
        var w = graft.Checkpoints.materialize(tfidf.join(u, Seq("doc_id"))
          .groupBy(col("term"))
          .agg(sum(round(col("a") * col("u"), 12).cast(dec12))
            .cast("double").as("w")))
        scratch += u += w
        deflateAgainst.foreach { v1f =>
          val v1 = v1f.select(col("term"), col("v").as("v1"))
          val pr = w.join(v1, Seq("term"))
            .agg(sum(round(col("w") * col("v1"), 12).cast(dec12))
              .cast("double").as("pr"))
          w = graft.Checkpoints.materialize(w.join(v1, Seq("term"), "left")
            .crossJoin(broadcast(pr))
            .select(col("term"),
              round(col("w") - col("pr") * coalesce(col("v1"), lit(0.0)), 12)
                .as("w")))
          scratch += w
        }
        val nrm = w.agg(sqrt(sum(round(col("w") * col("w"), 12).cast(dec12))
          .cast("double")).as("n"))
        w.crossJoin(broadcast(nrm))
          .select(col("term"), round(col("w") / col("n"), 12).as("v"))
      }
      v
    }
    def sigma(v: DataFrame): DataFrame =
      tfidf.join(v, Seq("term"))
        .groupBy(col("doc_id"))
        .agg(sum(round(col("a") * col("v"), 12).cast(dec12))
          .cast("double").as("u"))
        .agg(sqrt(sum(round(col("u") * col("u"), 12).cast(dec12))
          .cast("double")).as("s"))
    val vc1 = powerLoop(None)
    val vc2 = powerLoop(Some(vc1))
    def top(comp: Int, v: DataFrame): DataFrame =
      v.crossJoin(broadcast(sigma(v)))
        .orderBy(abs(col("v")).desc, col("term")).limit(LsaTopTerms)
        .select(lit(comp).as("component"), col("term"),
          round(col("v"), 6).as("loading"), round(col("s"), 6).as("sigma"))
    top(1, vc1).unionByName(top(2, vc2))
      .orderBy(col("component"), abs(col("loading")).desc, col("term"))
  }

  val q268Sql: String = {
    def rounds(comp: Int, v0: String, deflate: Boolean): (String, String) = {
      val sb = new StringBuilder
      var prev = v0
      for (r <- 1 to LsaRounds) {
        val (defl, wsrc) =
          if (deflate) (s""",
proj${comp}_$r AS MATERIALIZED (
  SELECT CAST(sum(CAST(round(w.w * v1.v, 12) AS DECIMAL(38,12))) AS DOUBLE) AS pr
  FROM w${comp}_$r w JOIN vc1 v1 USING (term)),
wd${comp}_$r AS MATERIALIZED (
  SELECT w.term, round(w.w - (SELECT pr FROM proj${comp}_$r) * coalesce(v1.v, 0.0), 12) AS w
  FROM w${comp}_$r w LEFT JOIN vc1 v1 USING (term))""", s"wd${comp}_$r")
          else ("", s"w${comp}_$r")
        sb ++= s""",
u${comp}_$r AS MATERIALIZED (
  SELECT a.doc_id, CAST(sum(CAST(round(a.a * p.v, 12) AS DECIMAL(38,12))) AS DOUBLE) AS u
  FROM tfidf a JOIN $prev p USING (term) GROUP BY 1),
w${comp}_$r AS MATERIALIZED (
  SELECT a.term, CAST(sum(CAST(round(a.a * u.u, 12) AS DECIMAL(38,12))) AS DOUBLE) AS w
  FROM tfidf a JOIN u${comp}_$r u USING (doc_id) GROUP BY 1)$defl,
nrm${comp}_$r AS MATERIALIZED (
  SELECT sqrt(CAST(sum(CAST(round(w * w, 12) AS DECIMAL(38,12))) AS DOUBLE)) AS n
  FROM $wsrc),
v${comp}_$r AS MATERIALIZED (
  SELECT term, round(w / (SELECT n FROM nrm${comp}_$r), 12) AS v FROM $wsrc)"""
        prev = s"v${comp}_$r"
      }
      (sb.toString, prev)
    }
    def sig(name: String, vc: String): String =
      s"""$name AS (
  SELECT sqrt(CAST(sum(CAST(round(u * u, 12) AS DECIMAL(38,12))) AS DOUBLE)) AS s
  FROM (SELECT a.doc_id, CAST(sum(CAST(round(a.a * p.v, 12) AS DECIMAL(38,12))) AS DOUBLE) AS u
        FROM tfidf a JOIN $vc p USING (term) GROUP BY 1) q)"""
    val (s1, last1) = rounds(1, "v0a", deflate = false)
    val (s2, last2) = rounds(2, "v0b", deflate = true)
    s"""WITH tf AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY 1, 2),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
tfidf AS MATERIALIZED (
  SELECT t.doc_id, t.term,
    round(t.tf * ln(CAST(n.n AS DOUBLE) / d.df + 1.0), 12) AS a
  FROM tf t JOIN df d USING (term) CROSS JOIN nd n),
terms AS (SELECT DISTINCT term FROM tfidf),
ntm AS (SELECT count(*) AS nt FROM terms),
v0a AS (SELECT term, round(1.0 / sqrt((SELECT CAST(nt AS DOUBLE) FROM ntm)), 12) AS v FROM terms)$s1,
vc1 AS MATERIALIZED (SELECT term, v FROM $last1),
${sig("sig1", "vc1")},
v0b AS (SELECT term, round(1.0 / sqrt((SELECT CAST(nt AS DOUBLE) FROM ntm)), 12) AS v FROM terms)$s2,
vc2 AS MATERIALIZED (SELECT term, v FROM $last2),
${sig("sig2", "vc2")},
ranked AS (
  SELECT 1 AS component, term, round(v, 6) AS loading,
    round((SELECT s FROM sig1), 6) AS sigma,
    row_number() OVER (ORDER BY abs(v) DESC, term) AS rk
  FROM vc1
  UNION ALL
  SELECT 2, term, round(v, 6),
    round((SELECT s FROM sig2), 6),
    row_number() OVER (ORDER BY abs(v) DESC, term)
  FROM vc2)
SELECT component, term, loading, sigma FROM ranked
WHERE rk <= $LsaTopTerms ORDER BY component, abs(loading) DESC, term"""
  }

  // --------------------------------------------------------------- q279
  /** Cross-shard quantile normalization (the microarray-era
    * harmonizer applied to corpus curation): every source's n_chars
    * distribution is mapped onto the REFERENCE source's empirical
    * quantile function (reference = largest source, deterministic
    * tie-break), so per-shard quality thresholds mean the same thing
    * on every shard — the fix for "source A's median is source B's
    * p90" before any global quality gate (q204) mixes shards. Midrank
    * probe p per (source, value) group; reference order statistic at
    * i = p·(n_ref−1) by linear interpolation between the bracketing
    * order stats. Output: per (source, decile) census — n_docs, mean
    * raw value, mean mapped value (the reference maps to itself —
    * the identity sanity row).
    *
    * Shape for 100 TB: the corpus collapses in ONE partial-agged pass
    * to (source, value, count) — every window and join after runs on
    * O(distinct values) VALUE-LEVEL frames (the q161 histogram-rank
    * discipline: per-doc rank windows would force one task per
    * source); the reference's order-stat intervals are a broadcast
    * range join (O(distinct) rows); means are count-weighted sums on
    * the value level, the mapped mean 12dp-gridded DECIMAL. */
  def q279QuantileNorm(spark: SparkSession, sfDir: String): DataFrame = {
    val vals = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val wsrc = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wv = graft.Checkpoints.materialize(vals
      .withColumn("cb", coalesce(sum(col("c")).over(wsrc), lit(0L)))
      .withColumn("nsrc", sum(col("c")).over(Window.partitionBy(col("source")))))
    val ref = wv.select(col("source").as("rsource"), col("nsrc").as("na"))
      .distinct().orderBy(col("na").desc, col("rsource")).limit(1)
    val a = wv.join(broadcast(ref), col("source") === col("rsource"))
      .select(col("v").as("av"), col("cb").as("acb"), col("c").as("ac"))
    val probes = wv.crossJoin(broadcast(ref))
      .select(col("source"), col("v"), col("c"),
        when(col("nsrc") === 1, lit(0.5))
          .otherwise((col("cb") + (col("c") + 1) / lit(2.0) - 1.0)
            / (col("nsrc") - 1)).as("p"),
        col("na"))
    val idx = probes
      .withColumn("i", col("p") * (col("na") - 1))
      .withColumn("ilo", floor(col("i")).cast("long"))
      .withColumn("ihi", least(ceil(col("i")).cast("long"), col("na") - 1))
    val mapped = idx
      .join(broadcast(a.select(col("av").as("lov"), col("acb").as("locb"),
          col("ac").as("loc"))),
        col("ilo") >= col("locb") && col("ilo") < col("locb") + col("loc"))
      .join(broadcast(a.select(col("av").as("hiv"), col("acb").as("hicb"),
          col("ac").as("hic"))),
        col("ihi") >= col("hicb") && col("ihi") < col("hicb") + col("hic"))
      .select(col("source"), col("v"), col("c"), col("p"),
        (col("lov") + (col("i") - col("ilo")) * (col("hiv") - col("lov")))
          .as("m"))
    mapped
      .groupBy(col("source"),
        least(floor(col("p") * 10).cast("long"), lit(9L)).as("decile"))
      .agg(sum(col("c")).as("n_docs"),
        round(sum(col("v") * col("c")).cast("double") / sum(col("c")), 6)
          .as("mean_raw"),
        round(sum(round(col("m") * col("c"), 12).cast(DecimalType(38, 12)))
          .cast("double") / sum(col("c")), 6).as("mean_mapped"))
      .orderBy(col("source"), col("decile"))
  }

  val q279Sql: String =
    """WITH vals AS MATERIALIZED (
  SELECT source, n_chars AS v, count(*) AS c
  FROM documents GROUP BY 1, 2),
wv AS MATERIALIZED (
  SELECT source, v, c,
    coalesce(sum(c) OVER (PARTITION BY source ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
    sum(c) OVER (PARTITION BY source) AS nsrc
  FROM vals),
ref AS (
  SELECT source AS rsource, nsrc AS na
  FROM wv GROUP BY 1, 2 ORDER BY nsrc DESC, rsource LIMIT 1),
a AS MATERIALIZED (
  SELECT w.v AS av, w.cb AS acb, w.c AS ac
  FROM wv w JOIN ref r ON w.source = r.rsource),
probes AS MATERIALIZED (
  SELECT w.source, w.v, w.c,
    CASE WHEN w.nsrc = 1 THEN 0.5
         ELSE (w.cb + (w.c + 1) / 2.0 - 1.0) / (w.nsrc - 1)
    END AS p, r.na
  FROM wv w CROSS JOIN ref r),
idx AS (
  SELECT source, v, c, p, p * (na - 1) AS i,
    CAST(floor(p * (na - 1)) AS BIGINT) AS ilo,
    least(CAST(ceil(p * (na - 1)) AS BIGINT), na - 1) AS ihi
  FROM probes),
mapped AS (
  SELECT x.source, x.v, x.c, x.p,
    lo.av + (x.i - x.ilo) * (hi.av - lo.av) AS m
  FROM idx x
  JOIN a lo ON x.ilo >= lo.acb AND x.ilo < lo.acb + lo.ac
  JOIN a hi ON x.ihi >= hi.acb AND x.ihi < hi.acb + hi.ac)
SELECT source, least(CAST(floor(p * 10) AS BIGINT), 9) AS decile,
  CAST(sum(c) AS BIGINT) AS n_docs,
  round(CAST(sum(v * c) AS DOUBLE) / sum(c), 6) AS mean_raw,
  round(CAST(sum(CAST(round(m * c, 12) AS DECIMAL(38,12))) AS DOUBLE)
    / sum(c), 6) AS mean_mapped
FROM mapped GROUP BY 1, 2 ORDER BY 1, 2"""

  // --------------------------------------------------------------- q280
  /** Annotation budget for the allocation plan. */
  val NeymanBudget = 1000

  /** Neyman (optimal) stratified-sampling allocation vs proportional —
    * the survey-statistics planner for any label/eval budget over a
    * heterogeneous corpus (strata = language): n_h ∝ N_h·σ_h minimizes
    * the stratified-mean variance for a fixed total budget
    * [[NeymanBudget]]; integerized by largest-remainder (exact-total,
    * deterministic (remainder, lang) tie-break); per stratum the
    * report carries N_h, σ_h, both allocations, and the per-stratum
    * variance term (N_h/N)²σ_h²/n_h under each — the Σ of which is
    * what Neyman provably minimizes (the spec asserts ≤).
    *
    * Shape for 100 TB: one partial-agged moment pass (int64 Σx, Σx²)
    * to O(strata) rows; everything after is closed-form arithmetic
    * with 1-row broadcast totals and a rank window over O(strata). */
  def q280NeymanAllocation(spark: SparkSession, sfDir: String): DataFrame = {
    val sd = graft.Checkpoints.materialize(Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("nh"),
        sum(col("n_chars")).as("s1"),
        sum(col("n_chars") * col("n_chars")).as("s2"))
      .select(col("lang"), col("nh"),
        sqrt(greatest(col("s2").cast("double") / col("nh")
          - (col("s1").cast("double") / col("nh"))
            * (col("s1").cast("double") / col("nh")), lit(0.0))).as("sigma")))
    val tot = sd.agg(sum(col("nh")).as("n"),
      sum(round(col("nh") * col("sigma"), 12).cast(DecimalType(38, 12)))
        .cast("double").as("wsum"))
    val alloc = sd.crossJoin(broadcast(tot))
      .select(col("lang"), col("nh"), col("sigma"), col("n"),
        (lit(NeymanBudget) * col("nh") * col("sigma") / col("wsum"))
          .as("neyman_raw"),
        (lit(NeymanBudget) * col("nh").cast("double") / col("n"))
          .as("prop_raw"))
      .withColumn("nfloor", floor(col("neyman_raw")).cast("long"))
      .withColumn("rem", col("neyman_raw") - floor(col("neyman_raw")))
    val flo = graft.Checkpoints.materialize(alloc)
    val short = flo.agg((lit(NeymanBudget.toLong) - sum(col("nfloor"))).as("k"))
    val rw = Window.orderBy(col("rem").desc, col("lang"))
    val nAlloc = col("nfloor") +
      when(row_number().over(rw) <= col("k"), 1L).otherwise(0L)
    flo.crossJoin(broadcast(short))
      .select(col("lang"), col("nh"), col("sigma"), col("n"),
        col("prop_raw"), col("neyman_raw"), col("nfloor"), col("rem"), col("k"))
      .withColumn("neyman_alloc", nAlloc)
      .select(col("lang"), col("nh"), round(col("sigma"), 6).as("sigma"),
        round(col("prop_raw"), 6).as("prop_alloc"),
        col("neyman_alloc"),
        round(col("sigma") * col("sigma")
          * (col("nh").cast("double") / col("n"))
          * (col("nh").cast("double") / col("n")) / col("neyman_alloc"), 12)
          .as("var_term"),
        round(col("sigma") * col("sigma")
          * (col("nh").cast("double") / col("n"))
          * (col("nh").cast("double") / col("n")) / col("prop_raw"), 12)
          .as("var_term_prop"))
      .orderBy(col("lang"))
  }

  val q280Sql: String =
    s"""WITH strata AS MATERIALIZED (
  SELECT lang, count(*) AS nh,
    CAST(sum(n_chars) AS BIGINT) AS s1,
    CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
  FROM documents GROUP BY 1),
sd AS MATERIALIZED (
  SELECT lang, nh,
    sqrt(greatest(CAST(s2 AS DOUBLE) / nh
      - (CAST(s1 AS DOUBLE) / nh) * (CAST(s1 AS DOUBLE) / nh), 0.0)) AS sigma
  FROM strata),
tot AS (SELECT CAST(sum(nh) AS BIGINT) AS n,
  CAST(sum(CAST(round(nh * sigma, 12) AS DECIMAL(38,12))) AS DOUBLE) AS wsum
  FROM sd),
flo AS MATERIALIZED (
  SELECT s.lang, s.nh, s.sigma, t.n,
    $NeymanBudget * s.nh * s.sigma / t.wsum AS neyman_raw,
    $NeymanBudget * CAST(s.nh AS DOUBLE) / t.n AS prop_raw,
    CAST(floor($NeymanBudget * s.nh * s.sigma / t.wsum) AS BIGINT) AS nfloor,
    $NeymanBudget * s.nh * s.sigma / t.wsum
      - floor($NeymanBudget * s.nh * s.sigma / t.wsum) AS rem
  FROM sd s CROSS JOIN tot t),
short AS (SELECT $NeymanBudget - CAST(sum(nfloor) AS BIGINT) AS k FROM flo),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rr FROM flo)
SELECT r.lang, r.nh, round(r.sigma, 6) AS sigma,
  round(r.prop_raw, 6) AS prop_alloc,
  r.nfloor + (CASE WHEN r.rr <= s.k THEN 1 ELSE 0 END) AS neyman_alloc,
  round(r.sigma * r.sigma * (CAST(r.nh AS DOUBLE) / r.n) * (CAST(r.nh AS DOUBLE) / r.n)
    / (r.nfloor + (CASE WHEN r.rr <= s.k THEN 1 ELSE 0 END)), 12) AS var_term,
  round(r.sigma * r.sigma * (CAST(r.nh AS DOUBLE) / r.n) * (CAST(r.nh AS DOUBLE) / r.n)
    / r.prop_raw, 12) AS var_term_prop
FROM ranked r CROSS JOIN short s ORDER BY r.lang"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q279_quantile_norm" -> q279QuantileNorm,
    "q280_neyman_alloc" -> q280NeymanAllocation,
    "q268_lsa_topics" -> q268LsaTopics,
    "q239_kanonymity" -> q239KAnonymity,
    "q203_seq_packing" -> q203SeqPacking,
    "q204_quality_gate" -> q204QualityGate,
    "q205_pca_power" -> q205PcaPower,
    "q206_shard_parity" -> q206ShardParity,
    "q208_target_encoding" -> q208TargetEncoding,
    "q213_consistent_hash" -> q213ConsistentHash,
    "q216_unicode_norm" -> q216UnicodeNorm,
    "q218_watermark_audit" -> q218WatermarkAudit,
    "q225_epoch_shuffle" -> q225EpochShuffle,
    "q210_pad_batching" -> q210PadBatching)

  val oracles: Map[String, String] = Map(
    "q279_quantile_norm" -> q279Sql,
    "q280_neyman_alloc" -> q280Sql,
    "q268_lsa_topics" -> q268Sql,
    "q239_kanonymity" -> q239Sql,
    "q203_seq_packing" -> q203Sql,
    "q204_quality_gate" -> q204Sql,
    "q205_pca_power" -> q205Sql,
    "q206_shard_parity" -> q206Sql,
    "q208_target_encoding" -> q208Sql,
    "q213_consistent_hash" -> q213Sql,
    "q216_unicode_norm" -> q216Sql,
    "q218_watermark_audit" -> q218Sql,
    "q225_epoch_shuffle" -> q225Sql,
    "q210_pad_batching" -> q210Sql)

}
