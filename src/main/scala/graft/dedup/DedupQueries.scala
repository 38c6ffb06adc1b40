package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.{MathFunctions => MF, VectorFunctions => VF}
import graft.oracle.Sql

/** Deduplication suite (SURVEY §2.C q20–q24) over the documents table.
  *
  * The synthetic corpus has no duplicates, so each query runs on a
  * deterministically augmented corpus: exact copies (doc_id%15==0 →
  * +[[DedupQueries.ExactDupOffset]]) and near-duplicates with appended
  * marker tokens (doc_id%10==0 → +[[DedupQueries.NearDupOffset]]).
  * Both sides (Spark / DuckDB oracle) build the identical corpus.
  *
  * Scale posture: every operator is a band/bucket join — candidates
  * come from groupBy(bucket key) equality joins, NEVER an O(n²) cross
  * join. Signatures are integer arithmetic over md5 (portable) and all
  * transforms are built-in codegen'd expressions.
  */
object DedupQueries {

  private[graft] val NearDupSuffix = " graft dup marker tokens"

  /** Synthetic-duplicate id offsets — the single owner for every
    * augmented corpus (documents here and in q62, embeddings below) and
    * the specs that classify rows by id range. 1e9/2e9 sit far above
    * any real doc_id/vec_id at any scale factor (ids are dense row
    * numbers; even a 10000× scale-up stays under 1e9), so a synthetic
    * id can never collide with a real row — the r5 +100000 offsets
    * would have collided once real ids reached 100000. */
  private[graft] val NearDupOffset: Long = 1000000000L
  private[graft] val ExactDupOffset: Long = 2000000000L
  /** q130's formatting-mangled twins (case/whitespace/punctuation). */
  private[graft] val NormDupOffset: Long = 3000000000L

  // -------------------------------------------------- shared: corpus
  private def corpus(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    d.unionAll(
        d.filter(pmod(col("doc_id"), lit(10)) === 0)
          .select((col("doc_id") + NearDupOffset).as("doc_id"),
            concat(col("text"), lit(NearDupSuffix)).as("text")))
      .unionAll(
        d.filter(pmod(col("doc_id"), lit(15)) === 0)
          .select((col("doc_id") + ExactDupOffset).as("doc_id"), col("text")))
  }

  private val corpusCte: String =
    s"""corpus AS MATERIALIZED (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + $NearDupOffset AS doc_id, text || '$NearDupSuffix' AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + $ExactDupOffset AS doc_id, text FROM documents WHERE doc_id % 15 = 0)"""

  // ------------------------------------------- shared: word shingles
  /** Word 3-gram shingles; docs under 3 words shingle to [text]. */
  private def shingleCol(text: Column): Column = {
    val w = split(text, " ")
    when(size(w) >= 3,
      transform(sequence(lit(1), size(w) - 2),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))
      .otherwise(array(text))
  }

  private def shingleSql(text: String): String =
    s"""(CASE WHEN len(string_split($text, ' ')) >= 3
      THEN list_transform(range(1, len(string_split($text, ' ')) - 1),
             i -> string_split($text, ' ')[i] || ' ' || string_split($text, ' ')[i+1] || ' ' || string_split($text, ' ')[i+2])
      ELSE [$text] END)"""

  /** Exploded (doc_id, sh) with the 32-bit shingle hash, as a CTE. */
  private val shingleHashCte: String =
    s"""sh AS MATERIALIZED (
  SELECT doc_id, ${Sql.hash32OfHex("md5(s.sh)")} AS h
  FROM (SELECT doc_id, unnest(${shingleSql("text")}) AS sh FROM corpus) s)"""

  /** Composed exploded (doc_id, h) shingle hashes — the reference
    * formulation the compiled kernels are pinned against (MinhashSpec);
    * not on the query path anymore. */
  private[graft] def shingleHashes(c: DataFrame): DataFrame =
    c.select(col("doc_id"), explode(shingleCol(col("text"))).as("sh"))
      .select(col("doc_id"), MF.hash32(col("sh")).as("h"))

  // ---------------------------------------------------------------- q20
  /** Exact dedup: hash-group on md5(text), canonical = min(doc_id). */
  def q20DedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    corpus(spark, sfDir)
      .withColumn("fp", md5(col("text")))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  val q20Sql: String =
    s"""WITH $corpusCte
SELECT doc_id,
  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
  (doc_id <> min(doc_id) OVER (PARTITION BY md5(text))) AS is_dup
FROM corpus ORDER BY doc_id"""

  // ------------------------------------------------- q21 MinHash-LSH
  /** Signature width — single owner is the compiled kernel (its output
    * array length MUST match the element_at slicing below; a mismatch
    * would read past the array and yield null signatures silently). */
  val K: Int = graft.plans.MinhashMath.K // 12 minhash functions
  val Bands = 4 // x 3 rows per band

  /** Composed (doc_id, mh0..mh11) signatures from exploded hashes —
    * kernel pin only (MinhashSpec). */
  private[graft] def signaturesComposed(hashes: DataFrame): DataFrame =
    hashes.groupBy(col("doc_id"))
      .agg(min(MF.universalHash(col("h"), 0)).as("mh0"),
        (1 until K).map(j => min(MF.universalHash(col("h"), j)).as(s"mh$j")): _*)

  /** (doc_id, mh0..mh11) minhash signatures via the compiled
    * graft_minhash kernel: one map-only pass per document — no shingle
    * explode, no 300×-row exchange (the r4-early memoized-explode
    * version still shuffled every trigram once per session; at 100 TB
    * that exchange IS the cost). Shared by q21/q23/q25 blocking,
    * memoized once per session. */
  private def cachedSignatures(spark: SparkSession, sfDir: String): DataFrame =
    graft.SessionCache.cached(spark, s"minhash-sigs:$sfDir")(
      corpus(spark, sfDir)
        .select(col("doc_id"), call_function("graft_minhash", col("text")).as("mhs"))
        .select(col("doc_id") +:
          (0 until K).map(j => element_at(col("mhs"), j + 1).as(s"mh$j")): _*))

  private val signaturesCte: String = {
    val mins = (0 until K)
      .map(j => s"min(${Sql.universalHash("h", j)}) AS mh$j").mkString(", ")
    s"""sigs AS MATERIALIZED (SELECT doc_id, $mins FROM sh GROUP BY doc_id)"""
  }

  /** (doc_id, band, key): band key = concat of 3 minhash values. */
  private[graft] def bands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(array((0 until Bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", col(s"mh${3 * b}"), col(s"mh${3 * b + 1}"), col(s"mh${3 * b + 2}")).as("key"))
    }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))

  private val bandsCte: String = {
    val rows = (0 until Bands).map { b =>
      s"SELECT doc_id, $b AS band, (mh${3 * b} || '_' || mh${3 * b + 1} || '_' || mh${3 * b + 2}) AS key FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""bands AS MATERIALIZED (\n  $rows)"""
  }

  /** Candidate pairs: equal (band, key), a < b, distinct. */
  private val candCte: String =
    """cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)"""

  private[graft] def candidates(bandsDf: DataFrame): DataFrame = {
    val a = bandsDf.select(col("doc_id").as("da"), col("band"), col("key"))
    val b = bandsDf.select(col("doc_id").as("db"), col("band"), col("key"))
    a.join(b, Seq("band", "key")).filter(col("da") < col("db"))
      .select(col("da"), col("db")).distinct()
  }

  /** MinHash-LSH near-dup pairs with estimated Jaccard = matching
    * signature fraction. Band-bucket join — no cross join anywhere. */
  def q21MinHashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = cachedSignatures(spark, sfDir)
    val cand = candidates(bands(sigs))
    val sa = sigs.toDF("da" +: (0 until K).map(j => s"a$j"): _*)
    val sb = sigs.toDF("db" +: (0 until K).map(j => s"b$j"): _*)
    val matches = (0 until K)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(sa, "da").join(sb, "db")
      .select(col("da"), col("db"),
        round(matches.cast("double") / K, 6).as("est_jaccard"))
      .orderBy(col("da"), col("db"))
  }

  val q21Sql: String = {
    val matches = (0 until K)
      .map(j => s"(CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $corpusCte,
$shingleHashCte,
$signaturesCte,
$bandsCte,
$candCte
SELECT c.da, c.db, round(CAST(($matches) AS DOUBLE) / $K, 6) AS est_jaccard
FROM cand c JOIN sigs sa ON sa.doc_id = c.da JOIN sigs sb ON sb.doc_id = c.db
ORDER BY c.da, c.db"""
  }

  // ----------------------------------------------------- q22 SimHash
  /** 64 bits carried as two non-negative 32-bit halves (lo = bits 0-31,
    * hi = bits 32-63): a single 64-bit sum would put bit 63 in the sign
    * bit, where Spark/DuckDB literal and shift semantics diverge; two
    * halves are plain portable long arithmetic on both engines. */
  val SimBits = 64
  val SimBands = 4 // x 16-bit keys
  /** Manku/Jain/Sarma (WWW'07) shape: 64-bit simhash, 4 blocks of 16
    * bits, hamming <= 3 — exact-match banding then guarantees every
    * qualifying pair shares at least one intact block (pigeonhole),
    * and 16-bit keys keep bucket cardinality growing with the corpus
    * (the r2 8-bit keys capped at 256 buckets → O(n²/256) pairing). */
  val MaxHamming = 3

  /** (doc_id, simlo, simhi) via the compiled graft_simhash kernel —
    * one map-only pass per document (the composed build below exploded
    * every token through a 64-sum aggregation exchange). */
  private[graft] def simhashSigNative(spark: SparkSession, sfDir: String): DataFrame =
    corpus(spark, sfDir)
      .select(col("doc_id"), call_function("graft_simhash", col("text")).as("sh"))
      .select(col("doc_id"), col("sh.simlo").as("simlo"), col("sh.simhi").as("simhi"))

  /** Composed (doc_id, simlo, simhi) signature build — kernel pin only
    * (SimhashKernelSpec); DedupAnnSpec's banding properties also run
    * over it. */
  private[graft] def simhashSig(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = corpus(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), MF.hash32(col("w")).as("hlo"), MF.hash32b(col("w")).as("hhi"))
    val sums = tok.groupBy(col("doc_id")).agg(
      sum(when(col("hlo").bitwiseAND(1) === 1, 1).otherwise(-1)).as("lo0"),
      ((1 until 32).map(i =>
        sum(when(shiftright(col("hlo"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"lo$i")) ++
       (0 until 32).map(i =>
        sum(when(shiftright(col("hhi"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"hi$i"))): _*)
    def half(p: String): Column = (0 until 32)
      .map(i => when(col(s"$p$i") >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("doc_id"), half("lo").as("simlo"), half("hi").as("simhi"))
  }

  /** (doc_id, simlo, simhi, band, key): 4 × 16-bit blocking keys. */
  private[graft] def simhashBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), col("simlo"), col("simhi"),
      explode(array((0 until SimBands).map { b =>
        val src = if (b < 2) col("simlo") else col("simhi")
        struct(lit(b).as("band"),
          shiftright(src, 16 * (b % 2)).bitwiseAND(65535).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simlo"), col("simhi"),
        col("bk.band").as("band"), col("bk.key").as("key"))

  /** 64-bit SimHash over word tokens + 16-bit-band candidate join +
    * hamming filter. */
  def q22SimHash(spark: SparkSession, sfDir: String): DataFrame = {
    // deferUnpersist: the returned frame reads sig twice (both sides of
    // the band join); the harness drain frees it after the action.
    val sig = graft.Checkpoints.deferUnpersist(simhashSigNative(spark, sfDir).cache())
    val bandsDf = simhashBands(sig)
    val a = bandsDf.select(col("doc_id").as("da"), col("simlo").as("loa"),
      col("simhi").as("hia"), col("band"), col("key"))
    val b = bandsDf.select(col("doc_id").as("db"), col("simlo").as("lob"),
      col("simhi").as("hib"), col("band"), col("key"))
    a.join(b, Seq("band", "key")).filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        expr("bit_count(loa ^ lob) + bit_count(hia ^ hib)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= MaxHamming)
      .orderBy(col("da"), col("db"))
  }

  val q22Sql: String = {
    val sums = ((0 until 32).map(i =>
        s"sum(CASE WHEN (hlo >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS lo$i") ++
      (0 until 32).map(i =>
        s"sum(CASE WHEN (hhi >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS hi$i")).mkString(", ")
    def half(p: String) = (0 until 32)
      .map(i => s"(CASE WHEN $p$i >= 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    val bandRows = (0 until SimBands).map { b =>
      val src = if (b < 2) "simlo" else "simhi"
      s"SELECT doc_id, simlo, simhi, $b AS band, ($src >> ${16 * (b % 2)}) & 65535 AS key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH $corpusCte,
tok AS MATERIALIZED (
  SELECT doc_id, ${Sql.hash32OfHexAt("md5(t.w)", 1)} AS hlo, ${Sql.hash32OfHexAt("md5(t.w)", 9)} AS hhi
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus) t),
sums AS MATERIALIZED (SELECT doc_id, $sums FROM tok GROUP BY doc_id),
sig AS MATERIALIZED (SELECT doc_id, (${half("lo")}) AS simlo, (${half("hi")}) AS simhi FROM sums),
sbands AS MATERIALIZED (
  $bandRows),
pairs AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
    bit_count(xor(a.simlo, b.simlo)) + bit_count(xor(a.simhi, b.simhi)) AS hamming
  FROM sbands a JOIN sbands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT da, db, hamming FROM pairs WHERE hamming <= $MaxHamming ORDER BY da, db"""
  }

  // --------------------------------------------- q23 n-gram Jaccard
  /** Exact 3-gram Jaccard over the LSH candidate pairs (blocked — the
    * expensive set intersection only runs on band-matched pairs).
    * Shingles are compared by their 32-bit portable hash, not the
    * string: the pair join then shuffles 8-byte keys instead of ~60-byte
    * trigram strings (~4× less shuffle IO; the oracle hashes
    * identically, and a within-doc collision needs ~2^16 distinct
    * shingles per doc — orders of magnitude above real documents). */
  def q23NgramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    // per-doc sorted distinct shingle-hash SET as one in-row array
    // (compiled kernel): the set never leaves its row, so the exact
    // intersection is a merge-walk on the two candidate arrays —
    // the r4-early formulation exploded both sets and re-grouped the
    // matches (two shuffles of every shingle of every candidate doc).
    val sets = graft.Checkpoints.deferUnpersist(
      corpus(spark, sfDir)
        .select(col("doc_id"), call_function("graft_shingle_set", col("text")).as("s"))
        .select(col("doc_id"), col("s"), size(col("s")).as("n"))
        .cache())
    val cand = candidates(bands(cachedSignatures(spark, sfDir)))
    val sa = sets.toDF("da", "sa", "na")
    val sb = sets.toDF("db", "sb", "nb")
    val inter = call_function("graft_intersect_count", col("sa"), col("sb"))
    cand.join(sa, "da").join(sb, "db")
      .withColumn("inter", inter)
      .select(col("da"), col("db"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("da"), col("db"))
  }

  val q23Sql: String =
    s"""WITH $corpusCte,
shd AS MATERIALIZED (
  SELECT DISTINCT doc_id, ${Sql.hash32OfHex("md5(s.sh)")} AS sh
  FROM (SELECT doc_id, unnest(${shingleSql("text")}) AS sh FROM corpus) s),
sh AS MATERIALIZED (SELECT doc_id, sh AS h FROM shd),
$signaturesCte,
$bandsCte,
$candCte,
cnt AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.da, c.db, count(*) AS inter
  FROM cand c JOIN shd a ON a.doc_id = c.da JOIN shd b ON b.doc_id = c.db AND b.sh = a.sh
  GROUP BY c.da, c.db)
SELECT c.da, c.db,
  round(CAST(coalesce(i.inter, 0) AS DOUBLE) /
        CAST(na.n + nb.n - coalesce(i.inter, 0) AS DOUBLE), 6) AS jaccard
FROM cand c LEFT JOIN inter i ON i.da = c.da AND i.db = c.db
JOIN cnt na ON na.doc_id = c.da JOIN cnt nb ON nb.doc_id = c.db
ORDER BY c.da, c.db"""

  // ------------------------------------------ q24 embedding near-dup
  val EmbDims = 64
  val CodeBits = 8 // per band
  val EmbBands = 4 // independent hyperplane sets, union of band matches
  val CosThreshold = 0.99

  /** Embedding-cosine near-dup: multi-band hyperplane LSH blocking
    * (4 bands × 8 sign bits, each band its own hyperplane set; a
    * candidate matches on ANY band), cosine only on candidates,
    * threshold 0.99. Multi-band fixes both scale failures of a single
    * 8-bit code: 4×2^8 buckets per band level keeps buckets ~n/1024,
    * and the OR over bands restores the recall a single band loses
    * (P[all 4 bands split a true pair] ≈ (1-(1-θ/π)^8)^4). Near-dups
    * are injected (vec_id%10==0 → +[[NearDupOffset]], slight
    * deterministic perturbation). */
  /** (vec_id, v, nrm): base embeddings plus injected near-dups, with
    * the L2 norm precomputed once per vector (pair scoring is then one
    * dot product per pair). */
  private[graft] def embCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
    val perturbed = e.filter(pmod(col("vec_id"), lit(10)) === 0)
      .select((col("vec_id") + NearDupOffset).as("vec_id"),
        transform(col("v"), (x, i) =>
          x * lit(1.01) + (pmod(i, lit(5)) - 2).cast("double") * lit(0.001)).as("v"))
    e.unionAll(perturbed).withColumn("nrm", VF.norm(col("v")))
  }

  /** (vec_id, band, key): 4 independent 8-bit hyperplane band codes —
    * ONE fused kernel call per vector (band b = planes [8b, 8b+8), same
    * codes as the r4 per-band emission, pinned by VectorKernelSpec). */
  private[graft] def embBands(vc: DataFrame): DataFrame =
    vc.select(col("vec_id"),
        posexplode(VF.lshBands(col("v"), EmbDims, CodeBits, EmbBands)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("key"))

  def q24EmbeddingDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val vc = graft.Checkpoints.deferUnpersist(embCorpus(spark, sfDir).cache())
    val banded = embBands(vc)
    val cand = banded.toDF("va", "band", "key")
      .join(banded.toDF("vb", "band", "key"), Seq("band", "key"))
      .filter(col("va") < col("vb"))
      .select(col("va"), col("vb")).distinct()
    cand.join(vc.toDF("va", "va_v", "na"), "va")
      .join(vc.toDF("vb", "vb_v", "nb"), "vb")
      .select(col("va"), col("vb"),
        round(VF.cosineByNorm(col("va_v"), col("vb_v"), col("na"), col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= CosThreshold)
      .orderBy(col("va"), col("vb"))
  }

  val q24Sql: String = {
    val pert = s"list_transform(range(1, len(embedding) + 1), i -> CAST(embedding[i] AS DOUBLE) * 1.01 + CAST(((i - 1) % 5) - 2 AS DOUBLE) * 0.001)"
    val bandRows = (0 until EmbBands).map { b =>
      s"SELECT vec_id, $b AS band, ${Sql.lshCode("v", EmbDims, CodeBits, CodeBits * b)} AS key FROM vc"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ed AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
vc0 AS (
  SELECT vec_id, v FROM ed
  UNION ALL
  SELECT vec_id + $NearDupOffset AS vec_id, $pert AS v
  FROM embeddings WHERE vec_id % 10 = 0),
vc AS MATERIALIZED (SELECT vec_id, v, ${Sql.listNorm("v")} AS nrm FROM vc0),
banded AS MATERIALIZED (
  $bandRows),
cand AS MATERIALIZED (
  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
pairs AS (
  SELECT c.va, c.vb, round(${Sql.listCosineByNorm("a.v", "b.v", "a.nrm", "b.nrm")}, 6) AS cosine
  FROM cand c JOIN vc a ON a.vec_id = c.va JOIN vc b ON b.vec_id = c.vb)
SELECT va, vb, cosine FROM pairs WHERE cosine >= $CosThreshold ORDER BY va, vb"""
  }

  // ---------------------------------------------------------------- q25
  val CcIters = 8

  /** Near-dup clusters: connected components over the LSH candidate
    * pairs via iterative min-label propagation (round cap 8 — far
    * beyond the tiny cluster diameters here, with early exit on
    * convergence; both engines reach the identical fixed point). The
    * canonical doc of each cluster is its minimum id — the "keep one
    * per near-dup group" primitive of a training-data pipeline. */
  def q25DupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = candidates(bands(cachedSignatures(spark, sfDir)))
    val und = cand.select(col("da").as("a"), col("db").as("b"))
      .unionAll(cand.select(col("db").as("a"), col("da").as("b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the FULL corpus as init (not ConnectedComponents.run's edge-derived
    // vertex set): isolated docs become their own singleton clusters
    val init = corpus(spark, sfDir)
      .select(col("doc_id").as("id"), col("doc_id").as("lbl"))
    val (labels, _) = graft.graph.ConnectedComponents.propagate(und, init, CcIters)
    und.unpersist()
    graft.Checkpoints.deferFree(labels)
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster"),
        (col("id") === col("lbl")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  val q25Sql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH $corpusCte,
$shingleHashCte,
$signaturesCte,
$bandsCte,
$candCte,
e2 AS MATERIALIZED (SELECT da AS a, db AS b FROM cand UNION ALL SELECT db AS a, da AS b FROM cand),
l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS lbl FROM corpus),
"""
    for (k <- 1 to CcIters) {
      val p = s"l${k - 1}"
      sb ++= s"""l$k AS MATERIALIZED (
  SELECT v.id, least(v.lbl, coalesce(m.ml, v.lbl)) AS lbl
  FROM $p v LEFT JOIN (
    SELECT e2.a AS mid, min(p.lbl) AS ml FROM e2 JOIN $p p ON e2.b = p.id GROUP BY e2.a) m
  ON v.id = m.mid),
"""
    }
    sb ++= s"""final AS (SELECT id, lbl FROM l$CcIters)
SELECT id AS doc_id, lbl AS cluster, (id = lbl) AS is_canonical
FROM final ORDER BY doc_id"""
    sb.toString
  }

  // ---------------------------------------------------------------- q26
  val BenchMod = 50 // every 50th doc plays the held-out benchmark
  val ContaminationMax = 0.5

  /** Hard cap on the broadcast benchmark union set: 4M shingle hashes
    * ≈ 32 MB of longs resident on every executor — comfortably inside
    * a broadcast. The map-only decontamination shape is only correct
    * while the held-out slice is SMALL; this makes that contract loud
    * instead of letting an oversized "benchmark" OOM the driver. */
  val MaxBenchShingles: Long = 4L << 20

  /** The held-out slice's union shingle-hash set as ONE sorted
    * broadcastable row — GUARDED: before the `collect_list` that
    * funnels every shingle into a single row, a cheap map-only scalar
    * aggregate bounds the set size (Σ per-doc set sizes ≥ |union|) and
    * fails loudly over the cap. The pre-check costs one O(1)-row job
    * over the benchmark slice only and, crucially, cannot itself OOM —
    * it never materializes the union. A conservative bound can
    * false-trip on heavily overlapping slices; the error says so and
    * names the fallback (the shd⋈bset join shape of q26Sql, which
    * scales to any benchmark size at the price of shuffling the
    * training shingles). */
  private[graft] def benchUnionSet(benchSets: DataFrame,
                                   cap: Long = MaxBenchShingles): DataFrame = {
    val bound = benchSets
      .agg(coalesce(sum(size(col("s")).cast("long")), lit(0L))).first().getLong(0)
    if (bound > cap) throw new IllegalArgumentException(
      s"graft decontamination: the held-out slice carries $bound shingle hashes " +
        s"(upper bound on the union set) > cap $cap. Broadcasting it risks a " +
        "driver/executor OOM — shrink the benchmark slice, raise the cap if the " +
        "cluster affords the memory, or decontaminate via an exploded " +
        "shingle-hash equi-join against the benchmark set instead of the " +
        "broadcast merge-walk.")
    benchSets.agg(sort_array(array_distinct(flatten(collect_list(col("s"))))).as("bs"))
  }

  /** Per-train-doc overlap scoring of `trainSets(doc_id, s)` against the
    * guarded benchmark union set — the map-only core shared by q26 and
    * the Graft facade. */
  private[graft] def decontaminateSets(trainSets: DataFrame, benchSets: DataFrame,
                                       cap: Long = MaxBenchShingles): DataFrame = {
    val frac = round(col("n_overlap").cast("double") / col("n_shingles"), 6)
    trainSets
      .crossJoin(broadcast(benchUnionSet(benchSets, cap)))
      .select(col("doc_id"), size(col("s")).as("n_shingles"),
        call_function("graft_intersect_count", col("s"), col("bs")).as("n_overlap"))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        frac.as("overlap_frac"), (frac > ContaminationMax).as("contaminated"))
  }

  /** Benchmark decontamination — the train/eval hygiene check a
    * pretraining pipeline runs before training: for every training
    * document, the fraction of its 3-gram shingles that appear
    * ANYWHERE in the held-out benchmark slice (doc_id % 50 == 0).
    * Shape for 100 TB: the benchmark's union shingle-hash set is ONE
    * sorted array built by a tree aggregation over the (small)
    * benchmark slice and broadcast; each training doc then scores
    * itself with a compiled merge-walk against its own in-row set —
    * map-only over the training corpus, no join on the big side. The
    * slice size is contract-checked against [[MaxBenchShingles]]
    * (see [[benchUnionSet]]). */
  def q26Decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val sets = Tables.documents(spark, sfDir)
      .select(col("doc_id"), call_function("graft_shingle_set", col("text")).as("s"))
    val isBench = pmod(col("doc_id"), lit(BenchMod)) === 0
    decontaminateSets(sets.filter(!isBench), sets.filter(isBench))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q27
  /** Join-shape decontamination — the fallback [[benchUnionSet]]'s
    * guard points at, as a first-class verified operator: the exploded
    * training shingle hashes equi-join the benchmark's distinct hash
    * set, then re-group per doc. Identical output to q26 (same schema,
    * same values — the driver hashes both against the same oracle), but
    * the scale contract inverts: works for ANY benchmark size (nothing
    * is broadcast or collected) at the price of shuffling the training
    * corpus's shingles — choose q26's broadcast merge-walk while the
    * held-out slice is small, this once it isn't. */
  private[graft] def decontaminateJoinSets(trainSets: DataFrame,
                                           benchSets: DataFrame): DataFrame = {
    val bset = benchSets.select(explode(col("s")).as("h")).distinct()
    val overlaps = trainSets.select(col("doc_id"), explode(col("s")).as("h"))
      .join(bset, "h")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("o"))
    val frac = round(col("n_overlap").cast("double") / col("n_shingles"), 6)
    trainSets.select(col("doc_id"), size(col("s")).as("n_shingles"))
      .join(overlaps, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("o"), lit(0L)).as("n_overlap"))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        frac.as("overlap_frac"), (frac > ContaminationMax).as("contaminated"))
  }

  def q27DecontaminateJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val sets = Tables.documents(spark, sfDir)
      .select(col("doc_id"), call_function("graft_shingle_set", col("text")).as("s"))
    val isBench = pmod(col("doc_id"), lit(BenchMod)) === 0
    decontaminateJoinSets(sets.filter(!isBench), sets.filter(isBench))
      .orderBy(col("doc_id"))
  }

  /** Bloom-filter decontamination — the middle path between q26's
    * exact broadcast set (bounded by [[MaxBenchShingles]]) and q27's
    * full shuffle join: the benchmark shingle hashes fold into a
    * fixed-size Bloom sketch (`bloom_filter_agg`, `numBits` bounds the
    * broadcast NO MATTER how many shingles the benchmark holds), and
    * every training doc probes it map-only via `might_contain`. One-
    * sided error: NO false negatives (every truly contaminated doc is
    * flagged), false positives inflate `n_overlap` by ~fpp — so the
    * contaminated flag is a SUPERSET of the exact one, which is the
    * conservative direction train/eval hygiene wants. Spec-gated
    * (DecontaminateBloomSpec) rather than driver-gated: a Bloom
    * sketch's bit pattern isn't replayable in the DuckDB oracle. */
  private[graft] def decontaminateBloomSets(trainSets: DataFrame,
                                            benchSets: DataFrame,
                                            numBits: Long = 8L << 20): DataFrame = {
    // one O(1)-row driver scalar (the dangling-mass pattern): the
    // sketch is `numBits/8` bytes regardless of benchmark size, and
    // might_contain requires a CONSTANT sketch — embed it as a literal.
    // estimatedNumItems scales WITH numBits (numBits/8 ≈ the ~8
    // bits/item regime of the default 1M-items/8M-bits pairing) so a
    // caller shrinking the sketch keeps a hash-function count tuned to
    // its size instead of one pinned to the default's load factor.
    val bf: Array[Byte] = benchSets.select(explode(col("s")).as("h"))
      .agg(call_function("graft_bloom_agg", col("h"),
        lit(math.max(1L, numBits / 8)), lit(numBits)).as("bf"))
      .first().getAs[Array[Byte]](0)
    val frac = round(col("n_overlap").cast("double") / col("n_shingles"), 6)
    trainSets
      .select(col("doc_id"), size(col("s")).as("n_shingles"),
        call_function("graft_bloom_count_contains", lit(bf), col("s"))
          .as("n_overlap"))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        frac.as("overlap_frac"), (frac > ContaminationMax).as("contaminated"))
  }

  val q26Sql: String =
    s"""WITH sh AS (
  SELECT doc_id, unnest(${shingleSql("text")}) AS g FROM documents),
shd AS MATERIALIZED (SELECT DISTINCT doc_id, ${Sql.hash32OfHex("md5(g)")} AS h FROM sh),
bset AS MATERIALIZED (SELECT DISTINCT h FROM shd WHERE doc_id % $BenchMod = 0),
cnt AS (SELECT doc_id, count(*) AS n FROM shd WHERE doc_id % $BenchMod <> 0 GROUP BY doc_id),
ov AS (
  SELECT s.doc_id, count(*) AS o FROM shd s JOIN bset b ON s.h = b.h
  WHERE s.doc_id % $BenchMod <> 0 GROUP BY s.doc_id)
SELECT c.doc_id, c.n AS n_shingles, coalesce(o.o, 0) AS n_overlap,
  round(CAST(coalesce(o.o, 0) AS DOUBLE) / c.n, 6) AS overlap_frac,
  (round(CAST(coalesce(o.o, 0) AS DOUBLE) / c.n, 6) > $ContaminationMax) AS contaminated
FROM cnt c LEFT JOIN ov o ON o.doc_id = c.doc_id
ORDER BY c.doc_id"""

  // ---------------------------------------------------------------- q54
  /** Edit-distance prefix length: O(n·m) DP cost is bounded to
    * 80×80 per pair regardless of document size. */
  val EditPrefix = 80

  /** Fuzzy matching: exact Levenshtein distance over the LSH-BLOCKED
    * candidate pairs only — the two-stage shape fuzzy joins need at
    * 100 TB (edit distance on all pairs is O(n²·len²); on banded
    * candidates it's O(|cand|·prefix²), and the prefix cap bounds the
    * per-pair DP). Spark's codegen'd `levenshtein` ≡ DuckDB's
    * `levenshtein` (classic unit-cost DP) on the same prefixes;
    * similarity = 1 − dist/max(len). */
  def q54EditDistance(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = candidates(bands(cachedSignatures(spark, sfDir)))
    val c = corpus(spark, sfDir)
    val ta = c.select(col("doc_id").as("da"),
      substring(col("text"), 1, EditPrefix).as("ta"))
    val tb = c.select(col("doc_id").as("db"),
      substring(col("text"), 1, EditPrefix).as("tb"))
    val dist = levenshtein(col("ta"), col("tb"))
    cand.join(ta, "da").join(tb, "db")
      .select(col("da"), col("db"), dist.as("edit_dist"),
        round(lit(1.0) - dist.cast("double")
          / greatest(length(col("ta")), length(col("tb"))), 6).as("prefix_sim"))
      .orderBy(col("da"), col("db"))
  }

  val q54Sql: String =
    s"""WITH $corpusCte,
$shingleHashCte,
$signaturesCte,
$bandsCte,
$candCte,
pre AS (SELECT doc_id, substr(text, 1, $EditPrefix) AS p FROM corpus)
SELECT da, db,
  levenshtein(a.p, b.p) AS edit_dist,
  round(1.0 - CAST(levenshtein(a.p, b.p) AS DOUBLE)
    / greatest(length(a.p), length(b.p)), 6) AS prefix_sim
FROM cand JOIN pre a ON da = a.doc_id JOIN pre b ON db = b.doc_id
ORDER BY da, db"""

  /** Portable-Bloom sketch size (bits) and hash count for q28. At the
    * fixture's benchmark-slice load (~10⁵–10⁶ distinct shingles) the
    * 8M-bit / 5-hash point sits in the classic ~8-bits-per-item regime
    * (fpp ≈ 10⁻⁴–10⁻² — q295 audits the sizing theory); the sketch is
    * 1 MB broadcast to every executor REGARDLESS of benchmark size. */
  val PBloomBits: Long = 8L << 20
  val PBloomK: Int = 5

  /** Bloom decontamination over the PORTABLE sketch
    * (plans.BloomKernelMath.pbloomBuild — bit positions are the repo's
    * universal-hash family, public integer arithmetic): the benchmark's
    * distinct shingle hashes fold into a fixed-size bitset built once
    * driver-side (the element set rides the same [[MaxBenchShingles]]
    * cap as q26's union set), embedded as a literal, and every training
    * doc probes it map-only with the compiled O(k)-bit-test kernel.
    * One-sided error: NO false negatives; false positives inflate
    * `n_overlap` by ~fpp, so the contaminated flag is a SUPERSET of the
    * exact one — the conservative direction train/eval hygiene wants.
    * Because the positions are portable arithmetic, the DuckDB oracle
    * replays every membership DECISION (false positives included)
    * exactly — this row is hash-gated like any other, closing r9's one
    * ungated key. */
  private[graft] def decontaminatePortableBloomSets(
      trainSets: DataFrame, benchSets: DataFrame,
      numBits: Long = PBloomBits, k: Int = PBloomK): DataFrame = {
    val elems = benchUnionSet(benchSets).first().getSeq[Long](0).toArray
    val blob = graft.plans.BloomKernelMath.pbloomBuild(elems, numBits, k)
    val frac = round(col("n_overlap").cast("double") / col("n_shingles"), 6)
    trainSets
      .select(col("doc_id"), size(col("s")).as("n_shingles"),
        call_function("graft_pbloom_hits", lit(blob), col("s")).as("n_overlap"))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        frac.as("overlap_frac"), (frac > ContaminationMax).as("contaminated"))
  }

  /** The Bloom path as a DRIVER-GATED row (r10): q26's schema and
    * threshold, n_overlap counted through the portable sketch. */
  def q28DecontaminateBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val sets = Tables.documents(spark, sfDir)
      .select(col("doc_id"), call_function("graft_shingle_set", col("text")).as("s"))
    val isBench = pmod(col("doc_id"), lit(BenchMod)) === 0
    decontaminatePortableBloomSets(sets.filter(!isBench), sets.filter(isBench))
      .orderBy(col("doc_id"))
  }

  /** Oracle twin of the portable-Bloom probe: the benchmark's SET
    * positions as a materialized table, a training shingle hits iff
    * ALL k of its positions are present — identical integer arithmetic
    * (Sql.universalHash), so false positives replay too. */
  val q28Sql: String = {
    def posOf(i: Int) = s"(${Sql.universalHash("h", i)} % $PBloomBits)"
    val bposSelects = (1 to PBloomK)
      .map(i => s"SELECT ${posOf(i)} AS pos FROM bset").mkString("\n    UNION ALL ")
    val allSet = (1 to PBloomK)
      .map(i => s"${posOf(i)} IN (SELECT pos FROM bpos)").mkString("\n    AND ")
    s"""WITH sh AS (
  SELECT doc_id, unnest(${shingleSql("text")}) AS g FROM documents),
shd AS MATERIALIZED (SELECT DISTINCT doc_id, ${Sql.hash32OfHex("md5(g)")} AS h FROM sh),
bset AS MATERIALIZED (SELECT DISTINCT h FROM shd WHERE doc_id % $BenchMod = 0),
bpos AS MATERIALIZED (
  SELECT DISTINCT pos FROM (
    $bposSelects)),
cnt AS (SELECT doc_id, count(*) AS n FROM shd WHERE doc_id % $BenchMod <> 0 GROUP BY doc_id),
ov AS (
  SELECT s.doc_id, count(*) AS o FROM shd s
  WHERE s.doc_id % $BenchMod <> 0
    AND $allSet
  GROUP BY s.doc_id)
SELECT c.doc_id, c.n AS n_shingles, coalesce(o.o, 0) AS n_overlap,
  round(CAST(coalesce(o.o, 0) AS DOUBLE) / c.n, 6) AS overlap_frac,
  (round(CAST(coalesce(o.o, 0) AS DOUBLE) / c.n, 6) > $ContaminationMax) AS contaminated
FROM cnt c LEFT JOIN ov o ON o.doc_id = c.doc_id
ORDER BY c.doc_id"""
  }

  // --------------------------------------------- q104 containment
  /** Asymmetric shingle containment over the LSH candidate pairs —
    * Jaccard's sibling for SUB-document duplication: a short doc fully
    * quoted inside a long one scores containment ≈ 1 while its Jaccard
    * stays low (the union is dominated by the long doc), so a
    * Jaccard-only dedup pass ships near-verbatim quotes as "novel"
    * text. cont_a = |A∩B|/|A|, cont_b = |A∩B|/|B|, containment =
    * max — the trigger for quote/subset handling in a training-data
    * pipeline. Same blocked shape as q23: compiled in-row shingle
    * sets, merge-walk intersection, candidates only (never all-pairs). */
  def q104Containment(spark: SparkSession, sfDir: String): DataFrame = {
    val sets = graft.Checkpoints.deferUnpersist(
      corpus(spark, sfDir)
        .select(col("doc_id"), call_function("graft_shingle_set", col("text")).as("s"))
        .select(col("doc_id"), col("s"), size(col("s")).as("n"))
        .cache())
    val cand = candidates(bands(cachedSignatures(spark, sfDir)))
    val sa = sets.toDF("da", "sa", "na")
    val sb = sets.toDF("db", "sb", "nb")
    val inter = call_function("graft_intersect_count", col("sa"), col("sb"))
    cand.join(sa, "da").join(sb, "db")
      .withColumn("inter", inter)
      .select(col("da"), col("db"),
        round(col("inter").cast("double") / col("na").cast("double"), 6).as("cont_a"),
        round(col("inter").cast("double") / col("nb").cast("double"), 6).as("cont_b"),
        round(greatest(
          col("inter").cast("double") / col("na").cast("double"),
          col("inter").cast("double") / col("nb").cast("double")), 6).as("containment"))
      .orderBy(col("da"), col("db"))
  }

  val q104Sql: String =
    s"""WITH $corpusCte,
shd AS MATERIALIZED (
  SELECT DISTINCT doc_id, ${Sql.hash32OfHex("md5(s.sh)")} AS sh
  FROM (SELECT doc_id, unnest(${shingleSql("text")}) AS sh FROM corpus) s),
sh AS MATERIALIZED (SELECT doc_id, sh AS h FROM shd),
$signaturesCte,
$bandsCte,
$candCte,
cnt AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
inter AS (
  SELECT c.da, c.db, count(*) AS inter
  FROM cand c JOIN shd a ON a.doc_id = c.da JOIN shd b ON b.doc_id = c.db AND b.sh = a.sh
  GROUP BY c.da, c.db)
SELECT c.da, c.db,
  round(CAST(coalesce(i.inter, 0) AS DOUBLE) / CAST(na.n AS DOUBLE), 6) AS cont_a,
  round(CAST(coalesce(i.inter, 0) AS DOUBLE) / CAST(nb.n AS DOUBLE), 6) AS cont_b,
  round(greatest(CAST(coalesce(i.inter, 0) AS DOUBLE) / CAST(na.n AS DOUBLE),
                 CAST(coalesce(i.inter, 0) AS DOUBLE) / CAST(nb.n AS DOUBLE)), 6) AS containment
FROM cand c LEFT JOIN inter i ON i.da = c.da AND i.db = c.db
JOIN cnt na ON na.doc_id = c.da JOIN cnt nb ON nb.doc_id = c.db
ORDER BY c.da, c.db"""

  // --------------------------------------------- q108 n-gram decontamination
  /** 8-word grams; benchmark slice = doc_id ≡ 0 (mod 7). 7 ∤ 10⁹, so
    * the synthetic dup offsets (+1e9/+2e9) shift residues — a bench
    * doc's near/exact twin lands in TRAIN, which is exactly the leak
    * this operator exists to catch. */
  val NgramDecontN = 8
  val NgramDecontMod = 7
  val NgramDecontMax = 0.3

  /** N-GRAM-level decontamination — the GPT-3/LLaMA-style method,
    * complementing the whole-document matchers (q26/q27 minhash-set,
    * q28 Bloom): a training doc is contaminated to the degree its
    * word 8-grams appear ANYWHERE in the held-out benchmark slice,
    * catching partial leaks (a quoted benchmark question inside an
    * otherwise-novel page) that document-level similarity dilutes
    * below threshold. Output per train doc: gram volume, benchmark-hit
    * volume, contamination ratio, and the ≥[[NgramDecontMax]] flag.
    *
    * Shape for 100 TB: one tokenization per side; the train gram
    * stream is aggregated to per-doc-distinct (doc, gram, occ) rows
    * map-side before its only exchange; the benchmark union-gram set
    * joins by SHUFFLE (q27's any-benchmark-size posture — broadcast is
    * q26's separately-guarded variant), and the join carries gram
    * rows, never text. */
  def q108NgramDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val c = corpus(spark, sfDir)
    // grams + 64-bit portable hash pairs from the compiled one-pass
    // kernel (plans/GramHash) — gram strings never exist as column
    // values; the explode and every exchange carry 16-byte pairs.
    // Whole-text fallback under N words = the shingle convention the
    // oracle's ELSE branch mirrors.
    def hashed(df: DataFrame): DataFrame = df
      .select(col("doc_id"),
        explode(call_function("graft_gram_hashes", col("text"), lit(NgramDecontN))).as("gh"))
      .select(col("doc_id"), col("gh.hlo").as("hlo"), col("gh.hhi").as("hhi"))
    val bench = hashed(c.filter(pmod(col("doc_id"), lit(NgramDecontMod)) === 0))
      .select(col("hlo"), col("hhi")).distinct()
    val train = c.filter(pmod(col("doc_id"), lit(NgramDecontMod)) =!= 0)
    // two consumers (hits, totals) — cache or the gram subtree runs twice
    val pg = graft.Checkpoints.deferUnpersist(hashed(train)
      .groupBy(col("doc_id"), col("hlo"), col("hhi")).agg(count(lit(1)).as("occ"))
      .cache())
    val hits = pg.join(bench, Seq("hlo", "hhi"), "left_semi")
      .groupBy(col("doc_id")).agg(sum(col("occ")).as("hit_grams"))
    val tot = pg.groupBy(col("doc_id")).agg(sum(col("occ")).as("n_grams"))
    val ratio = coalesce(col("hit_grams"), lit(0L)).cast("double") / col("n_grams")
    train.select(col("doc_id"))
      .join(tot, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("hit_grams"), lit(0L)).as("hit_grams"),
        round(ratio, 6).as("contamination"),
        (ratio >= NgramDecontMax).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  val q108Sql: String = {
    val n = NgramDecontN
    def gramsSql(src: String): String =
      s"""SELECT doc_id,
    unnest(CASE WHEN len(t) >= $n
         THEN list_transform(range(1, len(t) - ${n - 1} + 1),
                i -> array_to_string(t[i:i+${n - 1}], ' '))
         ELSE [array_to_string(t, ' ')] END) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $src)"""
    s"""WITH $corpusCte,
bench AS MATERIALIZED (
  SELECT DISTINCT ${Sql.hash32OfHexAt("md5(g)", 1)} AS hlo,
    ${Sql.hash32OfHexAt("md5(g)", 9)} AS hhi
  FROM (${gramsSql(s"(SELECT * FROM corpus WHERE doc_id % $NgramDecontMod = 0)")})),
train AS (SELECT * FROM corpus WHERE doc_id % $NgramDecontMod <> 0),
pg AS MATERIALIZED (
  SELECT doc_id, ${Sql.hash32OfHexAt("md5(g)", 1)} AS hlo,
    ${Sql.hash32OfHexAt("md5(g)", 9)} AS hhi, count(*) AS occ
  FROM (${gramsSql("train")}) GROUP BY 1, 2, 3),
hits AS (
  SELECT doc_id, CAST(sum(occ) AS BIGINT) AS hit_grams
  FROM pg JOIN bench USING (hlo, hhi) GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_grams FROM pg GROUP BY doc_id)
SELECT t.doc_id, tt.n_grams,
  coalesce(h.hit_grams, 0) AS hit_grams,
  round(CAST(coalesce(h.hit_grams, 0) AS DOUBLE) / tt.n_grams, 6) AS contamination,
  (CAST(coalesce(h.hit_grams, 0) AS DOUBLE) / tt.n_grams) >= $NgramDecontMax AS contaminated
FROM train t
JOIN tot tt ON tt.doc_id = t.doc_id
LEFT JOIN hits h ON h.doc_id = t.doc_id
ORDER BY t.doc_id"""
  }

  // --------------------------------------------------------------- q117
  /** Survivorship (golden-record selection) — the step a dedup
    * pipeline runs AFTER q25's clustering: inside each near-dup
    * cluster, keep the best representative instead of q25's min-id
    * convention. Policy: longest text wins (most content survives),
    * ties to the smallest doc_id — deterministic and engine-neutral.
    * Emits the full decision table (doc, cluster, the survivor it
    * defers to, whether it survives), i.e. the keep/drop list a
    * training-data build consumes.
    *
    * Shape for 100 TB: q25's band-bucket candidate generation and
    * min-label loop (never all-pairs), then ONE window over clusters —
    * partition key is the cluster label, frame height is the cluster
    * size (bounded by duplication multiplicity, not corpus size). */
  def q117Survivor(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = candidates(bands(cachedSignatures(spark, sfDir)))
    val und = cand.select(col("da").as("a"), col("db").as("b"))
      .unionAll(cand.select(col("db").as("a"), col("da").as("b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val init = corpus(spark, sfDir)
      .select(col("doc_id").as("id"), col("doc_id").as("lbl"))
    val (labels, _) = graft.graph.ConnectedComponents.propagate(und, init, CcIters)
    und.unpersist()
    graft.Checkpoints.deferFree(labels)
    val len = corpus(spark, sfDir)
      .select(col("doc_id"), length(col("text")).as("n_chars"))
    val byCluster = Window.partitionBy(col("cluster"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster"))
      .join(len, "doc_id")
      .withColumn("survivor_id", first(col("doc_id")).over(byCluster))
      .select(col("doc_id"), col("cluster"), col("n_chars"),
        col("survivor_id"), (col("doc_id") === col("survivor_id")).as("is_survivor"))
      .orderBy(col("doc_id"))
  }

  val q117Sql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH $corpusCte,
$shingleHashCte,
$signaturesCte,
$bandsCte,
$candCte,
e2 AS MATERIALIZED (SELECT da AS a, db AS b FROM cand UNION ALL SELECT db AS a, da AS b FROM cand),
l0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS lbl FROM corpus),
"""
    for (k <- 1 to CcIters) {
      val p = s"l${k - 1}"
      sb ++= s"""l$k AS MATERIALIZED (
  SELECT v.id, least(v.lbl, coalesce(m.ml, v.lbl)) AS lbl
  FROM $p v LEFT JOIN (
    SELECT e2.a AS mid, min(p.lbl) AS ml FROM e2 JOIN $p p ON e2.b = p.id GROUP BY e2.a) m
  ON v.id = m.mid),
"""
    }
    sb ++= s"""final AS (SELECT id, lbl FROM l$CcIters),
len AS (SELECT doc_id, length(text) AS n_chars FROM corpus),
j AS (
  SELECT f.id AS doc_id, f.lbl AS cluster, len.n_chars
  FROM final f JOIN len ON f.id = len.doc_id)
SELECT doc_id, cluster, n_chars,
  first_value(doc_id) OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS survivor_id,
  (doc_id = first_value(doc_id) OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id)) AS is_survivor
FROM j ORDER BY doc_id"""
    sb.toString
  }

  // --------------------------------------------------------------- q130
  /** Normalization-aware exact dedup — the CCNet/RefinedWeb first pass
    * that raw-hash dedup (q20) misses: text canonicalizes (casefold,
    * strip non-alphanumerics, collapse whitespace, trim) BEFORE
    * hashing, so formatting-only twins (re-encoded pages, shouting
    * mirrors, trailing punctuation) collapse into one group. The
    * corpus gains deterministic mangled twins (doc_id%12==0 →
    * +[[NormDupOffset]], uppercased + padded + bang-suffixed) that raw
    * md5 provably does NOT catch — the output carries both verdicts
    * (`is_dup` on the normalized key, `is_dup_raw` on q20's raw key)
    * so the gate pins the normalization's added recall, not just its
    * group structure.
    *
    * Shape for 100 TB: identical to q20 — normalization is map-side
    * codegen'd string work; one hash groupBy on the 128-bit key. */
  def q130NormDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val mangled = base.filter(pmod(col("doc_id"), lit(12)) === 0)
      .select((col("doc_id") + NormDupOffset).as("doc_id"),
        concat(lit("  "), upper(col("text")), lit("  !!")).as("text"))
    val all = corpus(spark, sfDir).unionByName(mangled)
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    val wNorm = Window.partitionBy(col("fp_norm"))
    val wRaw = Window.partitionBy(col("fp_raw"))
    all
      .withColumn("fp_norm", md5(norm))
      .withColumn("fp_raw", md5(col("text")))
      .withColumn("canonical_id", min(col("doc_id")).over(wNorm))
      .withColumn("raw_canonical", min(col("doc_id")).over(wRaw))
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"),
        (col("doc_id") =!= col("raw_canonical")).as("is_dup_raw"))
      .orderBy(col("doc_id"))
  }

  val q130Sql: String =
    s"""WITH $corpusCte,
aug AS (
  SELECT doc_id, text FROM corpus
  UNION ALL
  SELECT doc_id + $NormDupOffset AS doc_id, '  ' || upper(text) || '  !!' AS text
  FROM documents WHERE doc_id % 12 = 0),
keyed AS (
  SELECT doc_id,
    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp_norm,
    md5(text) AS fp_raw
  FROM aug)
SELECT doc_id,
  min(doc_id) OVER (PARTITION BY fp_norm) AS canonical_id,
  (doc_id <> min(doc_id) OVER (PARTITION BY fp_norm)) AS is_dup,
  (doc_id <> min(doc_id) OVER (PARTITION BY fp_raw)) AS is_dup_raw
FROM keyed ORDER BY doc_id"""

  // --------------------------------------------------------------- q139
  /** Fellegi–Sunter-style field weights (fixed log-odds-shaped
    * integers so the score is exact): agreement / disagreement. */
  val LkLang = (15, -10)
  val LkSource = (8, -4)
  val LkLen = (10, -6)
  val LkPrefix = (20, -12)
  /** Classification thresholds on the integer score. */
  val LkMatchMin = 35
  val LkPossibleMin = 10
  /** Prefix-edit-distance agreement bound (on [[EditPrefix]] chars). */
  val LkEditMax = 8

  /** Record-linkage scoring (Fellegi–Sunter shape) — entity resolution
    * as block-then-score: the LSH candidate pairs (q21's band-bucket
    * blocks, never all-pairs) score on four field comparisons — lang
    * equality, source equality, length ratio ≥ 0.9 (integer
    * cross-multiplication), and prefix edit distance ≤ [[LkEditMax]]
    * (q54's bounded DP) — each contributing a fixed integer
    * agreement/disagreement weight; the summed score classifies into
    * match / possible / non_match. Synthetic corpus twins map to their
    * base document's attributes via the id-offset arithmetic.
    *
    * Shape for 100 TB: candidate generation is the banded join;
    * attribute lookup is two hash joins against the corpus frame;
    * scoring is per-pair integer arithmetic — exact hash, no floats
    * until the emitted length_ratio diagnostic. */
  def q139Linkage(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = candidates(bands(cachedSignatures(spark, sfDir)))
    val baseId = when(col("doc_id") >= ExactDupOffset, col("doc_id") - ExactDupOffset)
      .when(col("doc_id") >= NearDupOffset, col("doc_id") - NearDupOffset)
      .otherwise(col("doc_id"))
    val attrs = corpus(spark, sfDir)
      .select(col("doc_id"), baseId.as("base_id"),
        length(col("text")).as("len"),
        substring(col("text"), 1, EditPrefix).as("pre"))
      .join(Tables.documents(spark, sfDir)
          .select(col("doc_id").as("base_id"), col("lang"), col("source")),
        "base_id")
    val a = attrs.select(col("doc_id").as("da"), col("lang").as("lang_a"),
      col("source").as("src_a"), col("len").as("len_a"), col("pre").as("pre_a"))
    val b = attrs.select(col("doc_id").as("db"), col("lang").as("lang_b"),
      col("source").as("src_b"), col("len").as("len_b"), col("pre").as("pre_b"))
    val scored = cand.join(a, "da").join(b, "db")
      .withColumn("agr_lang", when(col("lang_a") === col("lang_b"),
        LkLang._1).otherwise(LkLang._2))
      .withColumn("agr_source", when(col("src_a") === col("src_b"),
        LkSource._1).otherwise(LkSource._2))
      .withColumn("agr_len",
        when(lit(10) * least(col("len_a"), col("len_b"))
          >= lit(9) * greatest(col("len_a"), col("len_b")),
          LkLen._1).otherwise(LkLen._2))
      .withColumn("edit", levenshtein(col("pre_a"), col("pre_b")))
      .withColumn("agr_prefix", when(col("edit") <= LkEditMax,
        LkPrefix._1).otherwise(LkPrefix._2))
      .withColumn("score",
        col("agr_lang") + col("agr_source") + col("agr_len") + col("agr_prefix"))
    scored.select(col("da"), col("db"), col("agr_lang"), col("agr_source"),
        col("agr_len"), col("agr_prefix"), col("score"),
        when(col("score") >= LkMatchMin, lit("match"))
          .when(col("score") >= LkPossibleMin, lit("possible"))
          .otherwise(lit("non_match")).as("class"))
      .orderBy(col("da"), col("db"))
  }

  val q139Sql: String =
    s"""WITH $corpusCte,
$shingleHashCte,
$signaturesCte,
$bandsCte,
$candCte,
attrs AS (
  SELECT c.doc_id, length(c.text) AS len, substr(c.text, 1, $EditPrefix) AS pre,
    d.lang, d.source
  FROM corpus c JOIN documents d ON d.doc_id =
    (CASE WHEN c.doc_id >= $ExactDupOffset THEN c.doc_id - $ExactDupOffset
          WHEN c.doc_id >= $NearDupOffset THEN c.doc_id - $NearDupOffset
          ELSE c.doc_id END)),
scored AS (
  SELECT da, db,
    (CASE WHEN a.lang = b.lang THEN ${LkLang._1} ELSE ${LkLang._2} END) AS agr_lang,
    (CASE WHEN a.source = b.source THEN ${LkSource._1} ELSE ${LkSource._2} END) AS agr_source,
    (CASE WHEN 10 * least(a.len, b.len) >= 9 * greatest(a.len, b.len)
          THEN ${LkLen._1} ELSE ${LkLen._2} END) AS agr_len,
    (CASE WHEN levenshtein(a.pre, b.pre) <= $LkEditMax
          THEN ${LkPrefix._1} ELSE ${LkPrefix._2} END) AS agr_prefix
  FROM cand JOIN attrs a ON da = a.doc_id JOIN attrs b ON db = b.doc_id)
SELECT da, db, agr_lang, agr_source, agr_len, agr_prefix,
  (agr_lang + agr_source + agr_len + agr_prefix) AS score,
  (CASE WHEN agr_lang + agr_source + agr_len + agr_prefix >= $LkMatchMin THEN 'match'
        WHEN agr_lang + agr_source + agr_len + agr_prefix >= $LkPossibleMin THEN 'possible'
        ELSE 'non_match' END) AS class
FROM scored
ORDER BY da, db"""

  // --------------------------------------------------------------- q149
  /** Jaccard threshold as an exact rational (3/5 = 0.6). */
  val SetSimNum = 3
  val SetSimDen = 5

  /** Exact threshold set-similarity join (AllPairs/PPJoin prefix
    * filtering) — the similarity join with a COMPLETENESS guarantee
    * that LSH (q21/q23) trades away: every pair with Jaccard ≥ 0.6 is
    * found, no recall loss. Each doc's sorted shingle-hash set keeps
    * only its PREFIX (n − ⌈t·n⌉ + 1 smallest hashes — the pigeonhole
    * theorem: two sets at J ≥ t MUST share a prefix element under any
    * global token order); candidates come from an equi-join on prefix
    * hashes with the length filter den·min ≥ num·max (J ≥ t forces
    * compatible sizes), then the exact merge-walk intersection
    * verifies den·∩ ≥ num·∪ — ALL integer arithmetic, no float
    * threshold.
    *
    * Shape for 100 TB: the exchange carries prefix hashes (a t-governed
    * FRACTION of each set), candidates are equality-join buckets (never
    * all-pairs), and verification is the compiled in-row merge walk on
    * the candidate pairs only — the published AllPairs plan, made
    * relational. */
  def q149SetSimJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val sets = graft.Checkpoints.deferUnpersist(
      corpus(spark, sfDir)
        .select(col("doc_id"), call_function("graft_shingle_set", col("text")).as("s"))
        .select(col("doc_id"), col("s"), size(col("s")).as("n"))
        .cache())
    // p = n − ⌈t·n⌉ + 1, with ⌈num·n/den⌉ = (num·n + den − 1) div den
    val prefLen = (col("n") - expr(s"($SetSimNum * n + ${SetSimDen - 1}) div $SetSimDen")
      + 1).cast("int")
    val pref = sets.select(col("doc_id"), col("n"),
      explode(slice(col("s"), lit(1), prefLen)).as("h"))
    val cand = pref.select(col("doc_id").as("da"), col("n").as("pna"), col("h"))
      .join(pref.select(col("doc_id").as("db"), col("n").as("pnb"), col("h")), "h")
      .filter(col("da") < col("db") &&
        lit(SetSimDen) * least(col("pna"), col("pnb"))
          >= lit(SetSimNum) * greatest(col("pna"), col("pnb")))
      .select(col("da"), col("db")).distinct()
    val sa = sets.toDF("da", "sa", "na")
    val sb = sets.toDF("db", "sb", "nb")
    cand.join(sa, "da").join(sb, "db")
      .withColumn("inter",
        call_function("graft_intersect_count", col("sa"), col("sb")))
      .filter(lit(SetSimDen) * col("inter")
        >= lit(SetSimNum) * (col("na") + col("nb") - col("inter")))
      .select(col("da"), col("db"), col("na"), col("nb"), col("inter"),
        round(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter")).cast("double"), 6).as("jaccard"))
      .orderBy(col("da"), col("db"))
  }

  val q149Sql: String =
    s"""WITH $corpusCte,
shd AS MATERIALIZED (
  SELECT DISTINCT doc_id, ${Sql.hash32OfHex("md5(s.sh)")} AS h
  FROM (SELECT doc_id, unnest(${shingleSql("text")}) AS sh FROM corpus) s),
cnt AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
ranked AS (
  SELECT shd.doc_id, h, n,
    row_number() OVER (PARTITION BY shd.doc_id ORDER BY h) AS rn
  FROM shd JOIN cnt ON shd.doc_id = cnt.doc_id),
pref AS (
  SELECT doc_id, h, n FROM ranked
  WHERE rn <= n - (($SetSimNum * n + ${SetSimDen - 1}) // $SetSimDen) + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM pref a JOIN pref b ON a.h = b.h AND a.doc_id < b.doc_id
  WHERE $SetSimDen * least(a.n, b.n) >= $SetSimNum * greatest(a.n, b.n)),
inter AS (
  SELECT c.da, c.db, count(*) AS inter
  FROM cand c JOIN shd a ON a.doc_id = c.da JOIN shd b ON b.doc_id = c.db AND b.h = a.h
  GROUP BY c.da, c.db)
SELECT i.da, i.db, na.n AS na, nb.n AS nb, i.inter,
  round(CAST(i.inter AS DOUBLE) / CAST(na.n + nb.n - i.inter AS DOUBLE), 6) AS jaccard
FROM inter i JOIN cnt na ON na.doc_id = i.da JOIN cnt nb ON nb.doc_id = i.db
WHERE $SetSimDen * i.inter >= $SetSimNum * (na.n + nb.n - i.inter)
ORDER BY i.da, i.db"""

  // --------------------------------------------------------------- q157
  /** LSH recall/precision against exact ground truth — q65's tuning
    * loop brought to the DEDUP path: q21's banded MinHash candidates
    * are scored against q149's exact threshold join (every pair with
    * true Jaccard ≥ 0.6), quantifying what the 4-band×3-row config
    * actually buys — recall (how many true near-dup pairs the bands
    * catch), precision (how much of the candidate budget is wasted),
    * and the candidate-set cost. This is the number that decides a
    * band/row retune, measured instead of assumed.
    *
    * Shape for 100 TB: both sides are the already-audited banded /
    * prefix-filtered joins; the comparison is two hash semi-joins on
    * (da, db) plus scalar counts. */
  def q157LshRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = candidates(bands(cachedSignatures(spark, sfDir)))
    val truth = q149SetSimJoin(spark, sfDir).select(col("da"), col("db"))
    val nCand = cand.count()
    val nTruth = truth.count()
    val hit = truth.join(cand, Seq("da", "db"), "left_semi").count()
    val spark2 = spark
    import spark2.implicits._
    Seq((nCand, nTruth, hit)).toDF("n_candidates", "n_true_pairs", "n_hit")
      .select(col("n_candidates"), col("n_true_pairs"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_true_pairs"), 6).as("recall"),
        round(col("n_hit").cast("double") / col("n_candidates"), 6)
          .as("precision"))
  }

  val q157Sql: String =
    s"""WITH $corpusCte,
shd AS MATERIALIZED (
  SELECT DISTINCT doc_id, ${Sql.hash32OfHex("md5(s.sh)")} AS h
  FROM (SELECT doc_id, unnest(${shingleSql("text")}) AS sh FROM corpus) s),
sh AS MATERIALIZED (SELECT doc_id, h FROM shd),
$signaturesCte,
$bandsCte,
$candCte,
cnt AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
ranked AS (
  SELECT shd.doc_id, h, n,
    row_number() OVER (PARTITION BY shd.doc_id ORDER BY h) AS rn
  FROM shd JOIN cnt ON shd.doc_id = cnt.doc_id),
pref AS (
  SELECT doc_id, h, n FROM ranked
  WHERE rn <= n - (($SetSimNum * n + ${SetSimDen - 1}) // $SetSimDen) + 1),
scand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM pref a JOIN pref b ON a.h = b.h AND a.doc_id < b.doc_id
  WHERE $SetSimDen * least(a.n, b.n) >= $SetSimNum * greatest(a.n, b.n)),
sinter AS (
  SELECT c.da, c.db, count(*) AS inter
  FROM scand c JOIN shd a ON a.doc_id = c.da JOIN shd b ON b.doc_id = c.db AND b.h = a.h
  GROUP BY c.da, c.db),
truth AS (
  SELECT i.da, i.db FROM sinter i
  JOIN cnt na ON na.doc_id = i.da JOIN cnt nb ON nb.doc_id = i.db
  WHERE $SetSimDen * i.inter >= $SetSimNum * (na.n + nb.n - i.inter)),
stats AS (
  SELECT (SELECT count(*) FROM cand) AS n_candidates,
    (SELECT count(*) FROM truth) AS n_true_pairs,
    (SELECT count(*) FROM truth t JOIN cand c ON t.da = c.da AND t.db = c.db) AS n_hit)
SELECT n_candidates, n_true_pairs, n_hit,
  round(CAST(n_hit AS DOUBLE) / n_true_pairs, 6) AS recall,
  round(CAST(n_hit AS DOUBLE) / n_candidates, 6) AS precision
FROM stats"""

  // --------------------------------------------------------------- q174
  /** Semantic dedup, cluster-scoped (the SemDeDup recipe, Abbas et al.
    * 2023): k-means partitions the embedding corpus (q36's Lloyd
    * engine, same seed/rounding fences), then near-duplicates are
    * detected ONLY within each cluster — pairwise cosine at q24's
    * [[CosThreshold]] bar — and every duplicate records its canonical
    * survivor (the minimum lower id it matches). q24 blocks by LSH
    * bucket; this blocks by learned cluster, the variant that also
    * catches paraphrase-distance pairs a random-hyperplane bucket can
    * split. Runs on the same dup-injected corpus so both rows audit
    * the same ground truth.
    *
    * Shape for 100 TB: the quadratic is confined INSIDE clusters
    * (SemDeDup's actual design — cluster count scales with corpus so
    * cluster size stays bounded; add a size cap or recursive split for
    * skewed clusters); the cluster build is q36's broadcast-centroid
    * loop; the survivor pick is one partial-agged min per duplicate. */
  def q174SemDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ann.AnnQueries
    val corpus = graft.Checkpoints.deferUnpersist(
      embCorpus(spark, sfDir).cache())
    val assign = AnnQueries.kmeansFit(corpus.select(col("vec_id"), col("v")),
      AnnQueries.KmK, AnnQueries.KmIters, EmbDims, seed = 2)
    val a = graft.Checkpoints.deferUnpersist(assign
      .select(col("vec_id"), col("cid"))
      .join(corpus, "vec_id")
      .select(col("vec_id"), col("cid"), col("v"), col("nrm"))
      .cache())
    val pairs = a.toDF("da", "cid", "va_v", "na")
      .join(a.toDF("db", "cid", "vb_v", "nb"), "cid")
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        round(VF.cosineByNorm(col("va_v"), col("vb_v"), col("na"), col("nb")), 6)
          .as("cosine"))
      .filter(col("cosine") >= CosThreshold)
    val dupOf = pairs.groupBy(col("db").as("vec_id"))
      .agg(min(col("da")).as("dup_of"))
    a.select(col("vec_id"), col("cid").as("cluster"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dup_of"),
        col("dup_of").isNotNull.as("is_dup"))
      .orderBy(col("vec_id"))
  }

  val q174Sql: String = {
    val pert = s"list_transform(range(1, len(embedding) + 1), i -> CAST(embedding[i] AS DOUBLE) * 1.01 + CAST(((i - 1) % 5) - 2 AS DOUBLE) * 0.001)"
    s"""WITH ed AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
vc0 AS (
  SELECT vec_id, v FROM ed
  UNION ALL
  SELECT vec_id + $NearDupOffset AS vec_id, $pert AS v
  FROM embeddings WHERE vec_id % 10 = 0),
vc AS MATERIALIZED (SELECT vec_id, v, ${Sql.listNorm("v")} AS nrm FROM vc0),
${graft.ann.AnnQueries.kmeansSqlChain("vc", graft.ann.AnnQueries.KmK, graft.ann.AnnQueries.KmIters, EmbDims, seed = 2)},
pairs AS (
  SELECT fa.vec_id AS da, fb.vec_id AS db,
    round(${Sql.listCosineByNorm("va.v", "vb.v", "va.nrm", "vb.nrm")}, 6) AS cosine
  FROM fin fa JOIN fin fb ON fa.cid = fb.cid AND fa.vec_id < fb.vec_id
  JOIN vc va ON va.vec_id = fa.vec_id JOIN vc vb ON vb.vec_id = fb.vec_id),
dup AS (
  SELECT db AS vec_id, min(da) AS dup_of FROM pairs
  WHERE cosine >= $CosThreshold GROUP BY db)
SELECT f.vec_id, f.cid AS cluster, d.dup_of, d.dup_of IS NOT NULL AS is_dup
FROM fin f LEFT JOIN dup d ON f.vec_id = d.vec_id
ORDER BY f.vec_id"""
  }

  /** Long-gram length for substring-level duplication. */
  val SharedGramN = 8
  /** Document-frequency cap: grams in more docs than this are
    * boilerplate (q100's territory), not pair evidence. */
  val SharedDfCap = 16
  /** Emitted pair budget. */
  val SharedTopK = 50

  // --------------------------------------------------------------- q242
  /** Shared long-n-gram doc pairs — SUBSTRING-level duplication (the
    * Lee et al. exact-substring signal): two documents sharing many
    * distinct word [[SharedGramN]]-grams contain literally copied
    * passages even when whole-doc MinHash (q21) scores them apart;
    * containment = shared / min(grams) reads 1.0 for a full copy or a
    * quoted-inside-a-longer-doc subset. Pair candidates come from the
    * inverted gram index restricted to grams with 2 ≤ df ≤
    * [[SharedDfCap]] — the df cap bounds every gram's pair fan-out at
    * df², so the join is NEVER all-pairs and corpus-frequent
    * boilerplate grams (q100's series) are excluded by construction.
    * Grams ride exchanges as the compiled kernel's 64-bit (hlo, hhi)
    * hash pairs, never ~50-byte strings.
    *
    * Shape for 100 TB: one kernel pass + per-doc-distinct partial
    * agg, one df census, a df-capped self-join, O(pairs) census,
    * top-K. */
  def q242SharedNgrams(spark: SparkSession, sfDir: String): DataFrame = {
    val pg = graft.Checkpoints.deferUnpersist(corpus(spark, sfDir)
      .filter(size(split(col("text"), " ")) >= SharedGramN)
      .select(col("doc_id"),
        explode(call_function("graft_gram_hashes", col("text"), lit(SharedGramN)))
          .as("gh"))
      .select(col("doc_id"), col("gh.hlo").as("hlo"), col("gh.hhi").as("hhi"))
      .distinct()
      .cache()) // feeds doc totals, the df census AND both join sides
    val doctot = pg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val keep = pg.groupBy(col("hlo"), col("hhi")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= SharedDfCap)
      .select(col("hlo"), col("hhi"))
    val kept = pg.join(keep, Seq("hlo", "hhi"), "left_semi")
    val pairs = kept.select(col("hlo"), col("hhi"), col("doc_id").as("doc_a"))
      .join(kept.select(col("hlo"), col("hhi"), col("doc_id").as("doc_b")),
        Seq("hlo", "hhi"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("shared"))
    pairs
      .join(broadcast(doctot.select(col("doc_id").as("doc_a"),
        col("n_grams").as("grams_a"))), Seq("doc_a"))
      .join(broadcast(doctot.select(col("doc_id").as("doc_b"),
        col("n_grams").as("grams_b"))), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared"), col("grams_a"),
        col("grams_b"),
        round(col("shared").cast("double")
          / least(col("grams_a"), col("grams_b")), 6).as("containment"))
      .orderBy(col("shared").desc, col("doc_a"), col("doc_b"))
      .limit(SharedTopK)
  }

  val q242Sql: String =
    s"""WITH $corpusCte,
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
      |grams AS MATERIALIZED (
      |  SELECT DISTINCT doc_id,
      |    ${Sql.hash32OfHexAt("md5(g)", 1)} AS hlo,
      |    ${Sql.hash32OfHexAt("md5(g)", 9)} AS hhi
      |  FROM (SELECT doc_id,
      |    unnest(list_transform(range(1, greatest(len(t) - ${SharedGramN - 1}, 0) + 1),
      |      i -> array_to_string(t[i:i+${SharedGramN - 1}], ' '))) AS g
      |  FROM toks)),
      |doctot AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
      |keep AS (
      |  SELECT hlo, hhi FROM grams GROUP BY hlo, hhi
      |  HAVING count(*) BETWEEN 2 AND $SharedDfCap),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      |  FROM grams a JOIN keep USING (hlo, hhi) JOIN grams b USING (hlo, hhi)
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT p.doc_a, p.doc_b, p.shared, ta.n_grams AS grams_a,
      |  tb.n_grams AS grams_b,
      |  round(CAST(p.shared AS DOUBLE) / least(ta.n_grams, tb.n_grams), 6)
      |    AS containment
      |FROM pairs p JOIN doctot ta ON p.doc_a = ta.doc_id
      |  JOIN doctot tb ON p.doc_b = tb.doc_id
      |ORDER BY p.shared DESC, p.doc_a, p.doc_b LIMIT $SharedTopK""".stripMargin

  // --------------------------------------------------------------- q285
  /** Top-k budget for the blocked tf-idf cosine pair join. */
  val TfidfPairTopK = 50

  /** Blocked tf-idf cosine similarity join — the WEIGHTED-vector
    * sibling of q149's set-Jaccard AllPairs join and the EXACT lexical
    * complement to q21's MinHash-LSH candidates: document pairs scored
    * by the cosine of their L2-normalized tf-idf vectors (q48's
    * weighting, ln((N+1)/(df+1))), blocked by `source` — the standard
    * entity-resolution discipline (q139's blocking) that a 100 TB
    * similarity join always starts with: provenance blocks bound the
    * quadratic to Σ_b |block_b|² and score EXACTLY inside each block.
    * Top [[TfidfPairTopK]] pairs by (cosine desc, da, db).
    *
    * Shape for 100 TB: ONE tokenize pass collapses to the (doc, term,
    * tf) frame (localCheckpoint'ed — it feeds df and the weighting);
    * df rides a broadcast; the pair scores come from a postings
    * self-join on (source, term) whose products collapse map-side
    * into per-pair partial sums (12dp-gridded, carried as scaled
    * int64 — shuffle-order free, a long add per wedge row) — a wedge
    * row never rides an exchange un-aggregated; the top-k is a
    * TakeOrdered, never a global sort. Cross-block recall is q21's
    * LSH job, by design. */
  def q285TfidfCosine(spark: SparkSession, sfDir: String): DataFrame = {
    def dec12(c: Column): Column =
      sum(round(c, 12).cast(DecimalType(38, 12))).cast("double")
    val docs = Tables.documents(spark, sfDir, spreadScan = true)
      .select(col("doc_id"), col("source"), col("text"))
    val tf = graft.Checkpoints.deferFree(docs
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint())
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = graft.Checkpoints.deferFree(tf
      .join(broadcast(dfq), "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("source"), col("term"),
        (col("tf") * log((col("n") + 1.0) / (col("df") + 1.0))).as("w"))
      .localCheckpoint())
    val nrm = w.groupBy(col("doc_id"))
      .agg(sqrt(dec12(col("w") * col("w"))).as("nm"))
    val wn = graft.Checkpoints.deferFree(w.join(nrm, "doc_id")
      .filter(col("nm") > 0)
      .select(col("doc_id"), col("source"), col("term"),
        (col("w") / col("nm")).as("wn"))
      .localCheckpoint())
    // the product terms are 1e-12-gridded via floor(x·10¹² + 0.5) and
    // carried as SCALED INT64 through the wedge-heavy aggregation —
    // q79's discipline: a long add per wedge row instead of a
    // BigDecimal (28s → ~8s warm at sf0.1). The oracle computes the
    // IDENTICAL floor expression (r10): the grid is the operator's
    // definition on both sides, so agreement is exact by construction
    // even within an ulp of a .5e-12 boundary — not merely empirical
    // as when the oracle used decimal round(,12)
    val ti = floor(col("wa") * col("wb") * lit(1e12) + lit(0.5)).cast("long")
    // the b-side is the O(docs × bounded-vocab) normalized-postings
    // frame — BROADCAST it so the wedge stream is generated map-side
    // with no sort/shuffle of wedge rows (q274's wedge discipline;
    // at larger block sizes the planner's size check would fall back
    // to the bucketed sort-merge path)
    // the checkpointed postings frame lands in ~2 partitions (small
    // bytes), so the wedge generation + scaled-int64 partial agg — the
    // query's entire compute — ran on 2 cores (profiled 7.1 s wall at
    // 11.6 s task-time, sf0.1). Spread the STREAM side BY doc_id so
    // every core generates wedges AND every (da, db) pair stays inside
    // one task — the partial agg fully collapses pairs before the
    // exchange (round-robin was measured 26 → 164 MB shuffle because
    // a pair's per-term products scattered across tasks).
    val pairs = wn
      .repartition(wn.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("source"), col("term"), col("doc_id").as("da"), col("wn").as("wa"))
      .join(broadcast(wn.select(col("source"), col("term"), col("doc_id").as("db"),
        col("wn").as("wb"))), Seq("source", "term"))
      .filter(col("da") < col("db"))
      .groupBy(col("source"), col("da"), col("db"))
      .agg(sum(ti).as("ti_sum"))
      .select(col("source"), col("da"), col("db"),
        (col("ti_sum").cast("double") / lit(1e12)).as("cosine"))
    val top = pairs
      .orderBy(col("cosine").desc, col("da"), col("db")).limit(TfidfPairTopK)
    val wr = Window.orderBy(col("cosine").desc, col("da"), col("db"))
    top.withColumn("rank", row_number().over(wr))
      .select(col("rank"), col("source"), col("da"), col("db"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("rank"))
  }

  val q285Sql: String =
    s"""WITH tok AS MATERIALIZED (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS MATERIALIZED (
  SELECT doc_id, source, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
df AS MATERIALIZED (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
w AS MATERIALIZED (
  SELECT tf.doc_id, tf.source, tf.term,
    tf.tf * ln((n.n + 1.0) / (df.df + 1.0)) AS w
  FROM tf JOIN df USING (term) CROSS JOIN n),
nrm AS MATERIALIZED (
  SELECT doc_id, sqrt(CAST(sum(CAST(round(w * w, 12) AS DECIMAL(38,12))) AS DOUBLE)) AS nm
  FROM w GROUP BY 1),
wn AS MATERIALIZED (
  SELECT w.doc_id, w.source, w.term, w.w / nrm.nm AS wn
  FROM w JOIN nrm USING (doc_id) WHERE nrm.nm > 0),
pairs AS MATERIALIZED (
  -- SAME grid expression as the engine's scaled-int64 hot path
  -- (floor(x*1e12 + 0.5), r10 ADVICE): the grid is the operator's
  -- DEFINITION on both sides, not an approximation of decimal round —
  -- products within an ulp of a .5e-12 boundary can no longer diverge
  SELECT a.source, a.doc_id AS da, b.doc_id AS db,
    CAST(sum(CAST(floor(a.wn * b.wn * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS cosine
  FROM wn a JOIN wn b ON a.source = b.source AND a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3),
ranked AS (
  SELECT source, da, db, cosine,
    row_number() OVER (ORDER BY cosine DESC, da, db) AS rank
  FROM pairs)
SELECT rank, source, da, db, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= $TfidfPairTopK ORDER BY rank"""

  // --------------------------------------------------------------- q298
  /** EM rounds and comparison-prefix width for Fellegi–Sunter. */
  val LkEmRounds = 5
  val LkEmPrefix = 8

  /** Fellegi–Sunter EM — WHERE q139's match weights come from: the
    * Winkler EM that estimates per-field agreement probabilities
    * m (among true matches) and u (among non-matches) plus the match
    * prevalence p, UNSUPERVISED, from nothing but the pattern counts
    * of blocked candidate pairs. Comparison vector = (source equal,
    * length within 10%, 8-char prefix equal) over same-`lang` blocked
    * pairs; E-step scores P(M|pattern), M-step reweights — after
    * [[LkEmRounds]] rounds the all-agree pattern carries posterior
    * ≈0.79 and the final per-pattern match weight ln((Πm)/(Πu)) is
    * the decision score q139 hard-codes. The 0/1 exponents make every
    * pow() exact, so the whole EM is IEEE-identical cross-engine.
    *
    * Shape for 100 TB: candidate generation is BLOCKED (lang here;
    * q139's banded signatures in production — the EM never sees raw
    * pairs anyway); ONE pass collapses candidates to the 2³-row
    * pattern-count frame, and all [[LkEmRounds]] EM rounds run on
    * those 8 rows with 12dp-gridded DECIMAL sums — corpus size only
    * ever touches the first collapse. */
  def q298LinkageEm(spark: SparkSession, sfDir: String): DataFrame = {
    def dec12(c: Column): Column =
      sum(round(c, 12).cast(DecimalType(38, 12))).cast("double")
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).as("len"),
        substring(col("text"), 1, LkEmPrefix).as("pre"))
    val a = d.select(col("lang"), col("doc_id").as("da"), col("source").as("sa"),
      col("len").as("la"), col("pre").as("pa"))
    val b = d.select(col("lang"), col("doc_id").as("db"), col("source").as("sb"),
      col("len").as("lb"), col("pre").as("pb"))
    val pat = graft.Checkpoints.deferFree(a.join(b, "lang")
      .filter(col("da") < col("db"))
      .select(
        when(col("sa") === col("sb"), 1L).otherwise(0L).as("g1"),
        when(lit(10) * least(col("la"), col("lb")) >=
          lit(9) * greatest(col("la"), col("lb")), 1L).otherwise(0L).as("g2"),
        when(col("pa") === col("pb"), 1L).otherwise(0L).as("g3"))
      .groupBy(col("g1"), col("g2"), col("g3")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint())
    var em = spark.range(1).select(lit(0.05).as("p"),
      lit(0.9).as("m1"), lit(0.9).as("m2"), lit(0.9).as("m3"),
      lit(0.3).as("u1"), lit(0.3).as("u2"), lit(0.3).as("u3"))
      .localCheckpoint()
    def fac(prob: Column, g: Column): Column =
      when(g === 1L, prob).otherwise(lit(1.0) - prob)
    def post: Column = {
      val num = col("p") * fac(col("m1"), col("g1")) *
        fac(col("m2"), col("g2")) * fac(col("m3"), col("g3"))
      val den = (lit(1.0) - col("p")) * fac(col("u1"), col("g1")) *
        fac(col("u2"), col("g2")) * fac(col("u3"), col("g3"))
      num / (num + den)
    }
    var scored: DataFrame = null
    for (_ <- 1 to LkEmRounds) {
      val g = pat.crossJoin(broadcast(em))
        .select(col("g1"), col("g2"), col("g3"), col("cnt"), post.as("g"))
      scored = if (scored == null) g.localCheckpoint()
               else graft.Checkpoints.rotate(g, scored)
      val ne = scored.agg(
        round(dec12(col("cnt") * col("g")) / dec12(col("cnt")), 12).as("p"),
        round(dec12(col("cnt") * col("g") * col("g1")) /
          dec12(col("cnt") * col("g")), 12).as("m1"),
        round(dec12(col("cnt") * col("g") * col("g2")) /
          dec12(col("cnt") * col("g")), 12).as("m2"),
        round(dec12(col("cnt") * col("g") * col("g3")) /
          dec12(col("cnt") * col("g")), 12).as("m3"),
        round(dec12(col("cnt") * (lit(1.0) - col("g")) * col("g1")) /
          dec12(col("cnt") * (lit(1.0) - col("g"))), 12).as("u1"),
        round(dec12(col("cnt") * (lit(1.0) - col("g")) * col("g2")) /
          dec12(col("cnt") * (lit(1.0) - col("g"))), 12).as("u2"),
        round(dec12(col("cnt") * (lit(1.0) - col("g")) * col("g3")) /
          dec12(col("cnt") * (lit(1.0) - col("g"))), 12).as("u3"))
      em = graft.Checkpoints.rotate(ne, em)
    }
    def wfac(m: Column, u: Column, g: Column): Column =
      fac(m, g) / fac(u, g)
    val out = scored.crossJoin(broadcast(em))
      .select(col("g1"), col("g2"), col("g3"), col("cnt"),
        round(col("g"), 6).as("posterior"),
        round(log(wfac(col("m1"), col("u1"), col("g1")) *
          wfac(col("m2"), col("u2"), col("g2")) *
          wfac(col("m3"), col("u3"), col("g3"))), 6).as("match_weight"))
      .orderBy(col("g1").desc, col("g2").desc, col("g3").desc)
    graft.Checkpoints.deferFree(scored)
    graft.Checkpoints.deferFree(em)
    out
  }

  val q298Sql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH d AS MATERIALIZED (
  SELECT doc_id, lang, source, length(text) AS len,
    substr(text, 1, $LkEmPrefix) AS pre FROM documents),
cand AS MATERIALIZED (
  SELECT
    CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS g1,
    CASE WHEN 10 * least(a.len, b.len) >= 9 * greatest(a.len, b.len) THEN 1 ELSE 0 END AS g2,
    CASE WHEN a.pre = b.pre THEN 1 ELSE 0 END AS g3
  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id),
pat AS MATERIALIZED (
  SELECT g1, g2, g3, CAST(count(*) AS BIGINT) AS cnt FROM cand GROUP BY 1, 2, 3),
em0 AS (SELECT 0.05 AS p, 0.9 AS m1, 0.9 AS m2, 0.9 AS m3,
               0.3 AS u1, 0.3 AS u2, 0.3 AS u3),
"""
    def fac(p: String, g: String) = s"(CASE WHEN $g = 1 THEN $p ELSE 1 - $p END)"
    val num = s"(e.p * ${fac("e.m1", "g1")} * ${fac("e.m2", "g2")} * ${fac("e.m3", "g3")})"
    val den = s"((1 - e.p) * ${fac("e.u1", "g1")} * ${fac("e.u2", "g2")} * ${fac("e.u3", "g3")})"
    def ds(t: String) = s"CAST(sum(CAST(round($t, 12) AS DECIMAL(38,12))) AS DOUBLE)"
    for (r <- 1 to LkEmRounds) {
      sb ++= s"""g$r AS MATERIALIZED (
  SELECT pat.g1, pat.g2, pat.g3, pat.cnt, $num / ($num + $den) AS g
  FROM pat CROSS JOIN em${r - 1} e),
em$r AS (
  SELECT
    round(${ds("cnt * g")} / ${ds("cnt")}, 12) AS p,
    round(${ds("cnt * g * g1")} / ${ds("cnt * g")}, 12) AS m1,
    round(${ds("cnt * g * g2")} / ${ds("cnt * g")}, 12) AS m2,
    round(${ds("cnt * g * g3")} / ${ds("cnt * g")}, 12) AS m3,
    round(${ds("cnt * (1 - g) * g1")} / ${ds("cnt * (1 - g)")}, 12) AS u1,
    round(${ds("cnt * (1 - g) * g2")} / ${ds("cnt * (1 - g)")}, 12) AS u2,
    round(${ds("cnt * (1 - g) * g3")} / ${ds("cnt * (1 - g)")}, 12) AS u3
  FROM g$r),
"""
    }
    sb.setLength(sb.length - 2)
    def wf(m: String, u: String, g: String) =
      s"(${fac(s"(SELECT $m FROM em$LkEmRounds)", g)} / ${fac(s"(SELECT $u FROM em$LkEmRounds)", g)})"
    sb ++= s"""
SELECT g1, g2, g3, cnt, round(g, 6) AS posterior,
  round(ln(${wf("m1", "u1", "g1")} * ${wf("m2", "u2", "g2")} * ${wf("m3", "u3", "g3")}), 6) AS match_weight
FROM g$LkEmRounds ORDER BY g1 DESC, g2 DESC, g3 DESC"""
    sb.toString
  }

  /** q308 knobs: accept threshold on the 6-dp grid, length-band block. */
  val JwThreshold = 0.8
  val JwLenBand = 1

  /** Rows above which the (exploded) vocabulary index stops
    * BROADCASTING and falls back to the planner's shuffle join —
    * CoCitation.BroadcastMaxEdges' discipline for the linkage keys. A
    * dictionary is Heaps-law bounded so the gate should never trip on
    * text, but "should" is not a plan property: ~4M short-string rows
    * ≈ 150 MB is the outer edge of a sane executor broadcast. */
  val VocabBroadcastMax: Long = 4L << 20

  /** Eagerly materialize `df` (cheap count, single substantiation for
    * both the gate and the join) and broadcast it only while it is
    * broadcast-sized. Blocks are deferred to the per-query drain. */
  private def sizeGatedBroadcast(df: DataFrame): DataFrame = {
    val cp = graft.Checkpoints.deferFree(df.localCheckpoint())
    if (cp.count() <= VocabBroadcastMax) broadcast(cp) else cp
  }

  // --------------------------------------------------------------- q308
  /** Fuzzy dictionary lookup via Jaro–Winkler — the OOV-repair shape a
    * text pipeline runs after tokenization (map noisy/typo'd tokens
    * onto the known vocabulary): each document contributes one
    * deterministically CORRUPTED token (position doc_id mod len
    * substituted with letter (doc_id·7) mod 26 — the q288/q44
    * deterministic-twin convention, since the synthetic corpus has no
    * real typos), and the repair scores it against the frequent-token
    * vocabulary with the compiled [[graft.plans.JaroWinklerExpr]]
    * kernel, keeping the best match at jw ≥ [[JwThreshold]]. The
    * oracle's scorer is DuckDB's NATIVE `jaro_winkler_similarity` —
    * two independent implementations of the textbook algorithm must
    * agree on every 6-dp-gridded score for the hash gate to pass
    * (q54's edit-distance discipline, upgraded from a re-derivation to
    * a native-function twin).
    *
    * Scale shape (r11 — the r10 plan was the round's one scale-killer):
    * the vocabulary census partial-aggs the corpus; each probe then
    * EXPLODES to its ±[[JwLenBand]] length-bucket keys (3 rows) and
    * EQUI-joins them against length(vtok) — a BroadcastHashJoin, where
    * the r10 inequality predicate (abs(len−len) ≤ 1) forced a
    * BroadcastNestedLoopJoin that re-scanned the whole vocabulary per
    * probe row. Candidate enumeration is now hash-bucketed (a probe
    * touches only its three length slices — identical candidate SET,
    * since a vocab token's length matches exactly one key, so no
    * dedup pass is needed), and the JW kernel runs on candidates only.
    * The vocabulary frame is broadcast while it is broadcast-sized
    * ([[VocabBroadcastMax]]; Heaps' law says it stays so, the gate
    * makes that a measured fact, not an assumption) and degrades to
    * the planner's shuffle join beyond. Best-match is a per-doc window
    * over the candidate slice. No corpus-sized exchange anywhere: the
    * only shuffles are the census and the final sort. */
  def q308JwLinkage(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("ts"))
      .filter(size(col("ts")) > 0)
    val base = toks
      .select(col("doc_id"),
        element_at(col("ts"), (pmod(col("doc_id"), size(col("ts"))) + 1).cast("int"))
          .as("tok"))
      .filter(length(col("tok")) >= 4)
    val noisy = base.select(col("doc_id"),
      expr("concat(substr(tok, 1, cast(doc_id % length(tok) as int)), " +
        "chr(97 + cast((doc_id * 7) % 26 as int)), " +
        "substr(tok, cast(doc_id % length(tok) as int) + 2))").as("noisy"))
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")).as("vtok"))
      .filter(length(col("vtok")) >= 4)
      .groupBy(col("vtok")).agg(count(lit(1)).as("match_n"))
    val cand = noisy
      .select(col("doc_id"), col("noisy"),
        explode(sequence(length(col("noisy")) - JwLenBand,
          length(col("noisy")) + JwLenBand)).as("blk"))
      .join(sizeGatedBroadcast(vocab.withColumn("blk", length(col("vtok")))),
        Seq("blk"))
      .withColumn("jw", round(expr("graft_jaro_winkler(noisy, vtok)"), 6))
      .filter(col("jw") >= JwThreshold)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("jw").desc, col("vtok"))
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("noisy"), col("vtok").as("match_tok"),
        col("jw"), col("match_n"))
      .orderBy(col("doc_id"))
  }

  val q308Sql: String =
    s"""WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
pick AS (
  SELECT doc_id, ts[CAST(doc_id % len(ts) AS INT) + 1] AS tok
  FROM toks WHERE len(ts) > 0),
base AS (SELECT doc_id, tok FROM pick WHERE length(tok) >= 4),
noisy AS (
  SELECT doc_id,
    substr(tok, 1, CAST(doc_id % length(tok) AS INT)) ||
    chr(97 + CAST((doc_id * 7) % 26 AS INT)) ||
    substr(tok, CAST(doc_id % length(tok) AS INT) + 2) AS noisy
  FROM base),
vocab AS (
  SELECT tok AS vtok, count(*) AS match_n FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
  WHERE length(tok) >= 4 GROUP BY 1),
cand AS (
  SELECT n.doc_id, n.noisy, v.vtok, v.match_n,
    round(jaro_winkler_similarity(n.noisy, v.vtok), 6) AS jw
  FROM noisy n JOIN vocab v ON abs(length(n.noisy) - length(v.vtok)) <= $JwLenBand),
hits AS (SELECT * FROM cand WHERE jw >= $JwThreshold),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY jw DESC, vtok) AS rk
  FROM hits)
SELECT doc_id, noisy, vtok AS match_tok, jw, CAST(match_n AS BIGINT) AS match_n
FROM ranked WHERE rk = 1 ORDER BY doc_id"""

  /** q309 accept threshold (edit operations). */
  val DlMax = 2

  // --------------------------------------------------------------- q309
  /** Transposition-aware typo repair via FULL Damerau–Levenshtein —
    * q308's integer-exact sibling, and the measured argument for why a
    * dedup/linkage stack needs DL next to plain Levenshtein: half the
    * corrupted tokens here are adjacent-swap typos ("teh" class, the
    * commonest human error), which DL prices at 1 while Levenshtein
    * says 2 — the emitted `transposed` flag (dl < lev) is the audit.
    * Corruption alternates deterministically by doc parity (even →
    * adjacent swap at position doc_id mod (len−1); odd → q308's
    * substitution), the q288/q44 twin convention. Scoring is the
    * compiled [[graft.plans.DamerauExpr]] kernel (Lowrance–Wagner,
    * unrestricted — "CA"→"ABC" = 2, not OSA's 3) against DuckDB's
    * NATIVE `damerau_levenshtein`; distances are integers, so the gate
    * has no float grid at all.
    *
    * Scale shape (r11): SYMSPELL equi-join blocking — both sides
    * explode to their ≤[[DlMax]]-deletion neighborhoods
    * ([[graft.plans.SymSpellMath]]: DL(a,b) ≤ k ⇒ the neighborhoods
    * intersect, transpositions included — exhaustively verified in the
    * spec), hash-join on the shared variant, dedup to distinct
    * (probe, vocab) pairs, THEN run the compiled DL kernel on
    * candidates only, ±1 length-band post-filter preserving the r10
    * candidate semantics exactly (the winner of the per-doc argmin
    * window is unchanged: every band pair with dl ≤ DlMax is covered
    * by the blocking, pairs beyond can never pass the final filter).
    * This replaces the r10 BroadcastNestedLoopJoin — whole-vocabulary
    * scan per probe — with work proportional to true near-matches:
    * kernel invocations drop from |probes|·|band slice| to |collided
    * pairs|. The exploded vocabulary index (the SymSpell dictionary a
    * single-node implementation precomputes; ~L²/2 variants per token,
    * Heaps-bounded overall) is broadcast while broadcast-sized
    * ([[VocabBroadcastMax]]), shuffle-joined beyond. Only the census,
    * the pair dedup, and the final sort shuffle. */
  def q309DlLinkage(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("ts"))
      .filter(size(col("ts")) > 0)
    val base = toks
      .select(col("doc_id"),
        element_at(col("ts"), (pmod(col("doc_id"), size(col("ts"))) + 1).cast("int"))
          .as("tok"))
      .filter(length(col("tok")) >= 4)
    val noisy = base.select(col("doc_id"), expr(
      """CASE WHEN doc_id % 2 = 0 THEN
        |  concat(substr(tok, 1, cast(doc_id % (length(tok)-1) as int)),
        |         substr(tok, cast(doc_id % (length(tok)-1) as int) + 2, 1),
        |         substr(tok, cast(doc_id % (length(tok)-1) as int) + 1, 1),
        |         substr(tok, cast(doc_id % (length(tok)-1) as int) + 3))
        |ELSE
        |  concat(substr(tok, 1, cast(doc_id % length(tok) as int)),
        |         chr(97 + cast((doc_id * 7) % 26 as int)),
        |         substr(tok, cast(doc_id % length(tok) as int) + 2))
        |END""".stripMargin).as("noisy"))
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")).as("vtok"))
      .filter(length(col("vtok")) >= 4)
      .groupBy(col("vtok")).agg(count(lit(1)).as("match_n"))
    val vocabIdx = vocab.select(col("vtok"),
      explode(expr(s"graft_deletes(vtok, $DlMax)")).as("blk"))
    val cand = noisy
      .select(col("doc_id"), col("noisy"),
        explode(expr(s"graft_deletes(noisy, $DlMax)")).as("blk"))
      .join(sizeGatedBroadcast(vocabIdx), Seq("blk"))
      .filter(abs(length(col("noisy")) - length(col("vtok"))) <= 1)
      .select(col("doc_id"), col("noisy"), col("vtok"))
      .distinct() // pairs collide on every shared variant; score once
      .withColumn("dl", expr("graft_damerau(noisy, vtok)"))
      .withColumn("lev", levenshtein(col("noisy"), col("vtok")).cast("long"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("dl"), col("vtok"))
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1 && col("dl") <= DlMax)
      .select(col("doc_id"), col("noisy"), col("vtok").as("match_tok"),
        col("dl"), col("lev"), (col("dl") < col("lev")).as("transposed"))
      .orderBy(col("doc_id"))
  }

  val q309Sql: String =
    s"""WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
pick AS (
  SELECT doc_id, ts[CAST(doc_id % len(ts) AS INT) + 1] AS tok
  FROM toks WHERE len(ts) > 0),
base AS (SELECT doc_id, tok FROM pick WHERE length(tok) >= 4),
noisy AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN
      substr(tok, 1, CAST(doc_id % (length(tok)-1) AS INT)) ||
      substr(tok, CAST(doc_id % (length(tok)-1) AS INT) + 2, 1) ||
      substr(tok, CAST(doc_id % (length(tok)-1) AS INT) + 1, 1) ||
      substr(tok, CAST(doc_id % (length(tok)-1) AS INT) + 3)
    ELSE
      substr(tok, 1, CAST(doc_id % length(tok) AS INT)) ||
      chr(97 + CAST((doc_id * 7) % 26 AS INT)) ||
      substr(tok, CAST(doc_id % length(tok) AS INT) + 2)
    END AS noisy
  FROM base),
vocab AS (
  SELECT tok AS vtok, count(*) AS match_n FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
  WHERE length(tok) >= 4 GROUP BY 1),
cand AS (
  SELECT n.doc_id, n.noisy, v.vtok,
    CAST(damerau_levenshtein(n.noisy, v.vtok) AS BIGINT) AS dl,
    CAST(levenshtein(n.noisy, v.vtok) AS BIGINT) AS lev
  FROM noisy n JOIN vocab v ON abs(length(n.noisy) - length(v.vtok)) <= 1),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY dl, vtok) AS rk
  FROM cand)
SELECT doc_id, noisy, vtok AS match_tok, dl, lev, (dl < lev) AS transposed
FROM ranked WHERE rk = 1 AND dl <= $DlMax ORDER BY doc_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q309_dl_linkage" -> q309DlLinkage,
    "q308_jw_linkage" -> q308JwLinkage,
    "q298_linkage_em" -> q298LinkageEm,
    "q285_tfidf_cosine" -> q285TfidfCosine,
    "q242_shared_ngrams" -> q242SharedNgrams,
    "q174_semdedup" -> q174SemDedup,
    "q157_lsh_recall" -> q157LshRecall,
    "q149_setsim_join" -> q149SetSimJoin,
    "q139_linkage" -> q139Linkage,
    "q130_norm_dedup" -> q130NormDedup,
    "q117_survivor" -> q117Survivor,
    "q108_ngram_decontaminate" -> q108NgramDecontaminate,
    "q104_containment" -> q104Containment,
    "q54_edit_distance" -> q54EditDistance,
    "q28_decontaminate_bloom" -> q28DecontaminateBloom,
    "q20_dedup_exact" -> q20DedupExact,
    "q21_minhash_lsh" -> q21MinHashLsh,
    "q22_simhash" -> q22SimHash,
    "q23_ngram_jaccard" -> q23NgramJaccard,
    "q24_embedding_dedup" -> q24EmbeddingDedup,
    "q25_dup_clusters" -> q25DupClusters,
    "q26_decontaminate" -> q26Decontaminate,
    "q27_decontaminate_join" -> q27DecontaminateJoin)

  val oracles: Map[String, String] = Map(
    "q309_dl_linkage" -> q309Sql,
    "q308_jw_linkage" -> q308Sql,
    "q298_linkage_em" -> q298Sql,
    "q285_tfidf_cosine" -> q285Sql,
    "q242_shared_ngrams" -> q242Sql,
    "q174_semdedup" -> q174Sql,
    "q157_lsh_recall" -> q157Sql,
    "q149_setsim_join" -> q149Sql,
    "q139_linkage" -> q139Sql,
    "q130_norm_dedup" -> q130Sql,
    "q117_survivor" -> q117Sql,
    "q108_ngram_decontaminate" -> q108Sql,
    "q104_containment" -> q104Sql,
    "q20_dedup_exact" -> q20Sql,
    "q21_minhash_lsh" -> q21Sql,
    "q22_simhash" -> q22Sql,
    "q23_ngram_jaccard" -> q23Sql,
    "q24_embedding_dedup" -> q24Sql,
    "q25_dup_clusters" -> q25Sql,
    "q26_decontaminate" -> q26Sql,
    // the join shape computes the identical result; one oracle, two
    // physical strategies hash-pinned to it
    "q27_decontaminate_join" -> q26Sql,
    "q28_decontaminate_bloom" -> q28Sql,
    "q54_edit_distance" -> q54Sql)
}
