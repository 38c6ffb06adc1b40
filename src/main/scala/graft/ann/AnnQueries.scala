package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.{Graft, Tables}
import graft.functions.{VectorFunctions => VF}
import graft.oracle.Sql

/** Similarity search (SURVEY §2.D q30–q32) over the embeddings table.
  *
  * Query set: vec_id % 25 == 0. k = 5 neighbors. Ordering is always on
  * round(cosine, 6) DESC with vec_id tiebreak so both engines rank
  * identically.
  *
  * Scale posture:
  *  - q30 brute force: the QUERY set is broadcast (small side), the
  *    base table streams — no shuffle of the big side; top-k per query
  *    runs through rank()<=k which Spark rewrites to WindowGroupLimit
  *    (partial per-partition top-k before the shuffle).
  *  - q31 LSH: 8 bands x 4 hyperplane-sign bits — candidates come from
  *    a band-equality join, never a cross join.
  *  - q32 IVF: KCents fixed coarse centroids (deterministic hash top-k
  *    of ids), vectors assigned to nearest centroid once; queries probe
  *    their nprobe=4 nearest centroid buckets only.
  */
object AnnQueries {

  val K = 5
  val QueryMod = 25
  /** q30's query side is broadcast — the fixture (every 25th id) grows
    * with n and would outgrow the broadcast at 100×, so the query set
    * is additionally capped at id < QueryCap (≤200 queries). At the
    * test SFs every id is under the cap, so results are unchanged. */
  val QueryCap = 5000
  /** Fixed centroid count, independent of n: the r2 fixture
    * (vec_id%50==0) made k grow with the corpus, so the broadcast
    * assignment crossJoin was O(n·n/50). With k constant the broadcast
    * side is constant-size and assignment is O(n·k). */
  val KCents = 64
  /** r9: 4 → 32, adopting q99's measured frontier operating point (the
    * frontier exists precisely to move the default off the r6 guess):
    * recall@5 0.48 → 0.85 at sf0.01 — the only swept config clearing
    * the ≥0.8 bar — for avg candidates/query 31.4 → 245.8 (~7.8×, still
    * ~11% of the corpus at this KCents; candidate volume stays
    * KCents-partition-bounded at any scale, and a larger corpus raises
    * KCents, not the probed fraction's absolute cost per query). */
  val NProbe = 32
  val Dims = 64
  /** r9: 8 → 16 bands of 4 bits (32 → 64 planes), the best LSH point
    * on q99's frontier: recall@5 0.58 → 0.70 at sf0.01 for avg
    * candidates/query 156.8 → 187.9 (1.2× — new bands mostly re-find
    * the same near neighbors, so the union grows sublinearly). The
    * swept grid tops out at 0.71 for LSH — the ≥0.8 operating point is
    * IVF's (NProbe above); the LSH row stays at its own frontier
    * optimum as the streaming-friendly (build-free) alternative. */
  val LshBits = 64
  val LshBandBits = 4
  val LshBandCount = 16

  /** (vec_id, v, nrm): the norm is precomputed ONCE per vector so every
    * pairwise score below is a single dot product, not three. */
  private def vecs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", VF.norm(col("v")))

  private val vecsCte =
    "ed0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),\n" +
      s"ed AS MATERIALIZED (SELECT vec_id, v, ${Sql.listNorm("v")} AS nrm FROM ed0)"

  // ---------------------------------------------------------------- q30
  /** Brute-force cosine top-k: broadcast query set x full table. */
  def q30KnnBrute(spark: SparkSession, sfDir: String): DataFrame = {
    val e = vecs(spark, sfDir)
    val q = e.filter(pmod(col("vec_id"), lit(QueryMod)) === 0 && col("vec_id") < QueryCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id"))
    broadcast(q).join(e, col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(VF.cosineByNorm(col("qv"), col("v"), col("qn"), col("nrm")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("vec_id").as("neighbor"), col("rank"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  val q30Sql: String =
    s"""WITH $vecsCte,
qs AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM ed WHERE vec_id % $QueryMod = 0 AND vec_id < $QueryCap),
scored AS (
  SELECT q.qid, e.vec_id, round(${Sql.listCosineByNorm("q.qv", "e.v", "q.qn", "e.nrm")}, 6) AS cosine
  FROM qs q JOIN ed e ON q.qid <> e.vec_id),
ranked AS (
  SELECT qid, vec_id, cosine,
    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
  FROM scored)
SELECT qid, vec_id AS neighbor, rank, cosine FROM ranked
WHERE rank <= $K ORDER BY qid, rank"""

  // ---------------------------------------------------------------- q31
  /** LSH ANN: 32 hyperplane-sign bits split into 8 bands of 4; a
    * candidate shares at least one band with the query. Top-k among
    * candidates only. The band keys come from ONE fused kernel call per
    * vector (planes [4b, 4b+4) per band — identical keys to shifting a
    * single 32-bit code, which is what the oracle still does), and the
    * coded frame is cached so the two join sides don't each re-run the
    * scan + kernel. */
  /** The per-config coded frame (vec_id, v, nrm, bands), cached. */
  private def codedFor(spark: SparkSession, sfDir: String,
                       bandBits: Int, bandCount: Int): DataFrame =
    graft.Checkpoints.cache(vecs(spark, sfDir)
      .withColumn("bands", VF.lshBands(col("v"), Dims, bandBits, bandCount)))

  /** LSH candidate pairs for any (bandBits, bandCount) config: THIN
    * distinct (qid, vec_id) rows — the band join and dedup shuffle
    * 16-byte pairs, never the 64-dim vectors (those are joined back
    * from the cached coded frame at scoring time). Planes
    * [b·bits, (b+1)·bits) per band, so q31's fixed config is the
    * (LshBandBits, LshBandCount) instance of this. */
  private def lshPairs(coded: DataFrame,
                       capQueries: Boolean = false): DataFrame = {
    val bandsOf = (idCol: String) =>
      coded.select(col("vec_id").as(idCol), posexplode(col("bands")))
        .select(col(idCol), col("pos").as("band"), col("col").as("key"))
    val qb0 = bandsOf("qid").filter(pmod(col("qid"), lit(QueryMod)) === 0)
    val qb = if (capQueries) qb0.filter(col("qid") < QueryCap) else qb0
    val eb = bandsOf("vec_id")
    qb.join(eb, Seq("band", "key"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"))
      .distinct()
  }

  /** Exact cosine top-[[K]] over thin (qid, vec_id) candidate pairs;
    * vectors come from `base` (vec_id, v, nrm — pass a CACHED frame). */
  private def topKOf(base: DataFrame, cand: DataFrame): DataFrame = {
    val q = base.select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val e = base.select(col("vec_id"), col("v"), col("nrm"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id"))
    cand.join(q, "qid").join(e, "vec_id")
      .select(col("qid"), col("vec_id"),
        round(VF.cosineByNorm(col("qv"), col("v"), col("qn"), col("nrm")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("qid"), col("vec_id").as("neighbor"), col("rank"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  def q31KnnLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val coded = codedFor(spark, sfDir, LshBandBits, LshBandCount)
    topKOf(coded.select(col("vec_id"), col("v"), col("nrm")), lshPairs(coded))
  }

  val q31Sql: String = {
    // per-band plane-offset codes (the q99-validated formulation) —
    // at 64 planes a single shifted BIGINT code would ride its sign
    // bit; band b reads planes [4b, 4b+4) directly, identical keys
    val bandRows = (0 until LshBandCount)
      .map(b => s"SELECT vec_id, v, nrm, $b AS band, " +
        s"${Sql.lshCode("v", Dims, LshBandBits, LshBandBits * b)} AS key FROM ed")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $vecsCte,
bands AS MATERIALIZED (
  $bandRows),
cand AS (
  SELECT DISTINCT q.vec_id AS qid, q.v AS qv, q.nrm AS qn, e.vec_id, e.v, e.nrm
  FROM bands q JOIN bands e ON q.band = e.band AND q.key = e.key
  WHERE q.vec_id % $QueryMod = 0 AND q.vec_id <> e.vec_id),
scored AS (
  SELECT qid, vec_id, round(${Sql.listCosineByNorm("qv", "v", "qn", "nrm")}, 6) AS cosine FROM cand),
ranked AS (
  SELECT qid, vec_id, cosine,
    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
  FROM scored)
SELECT qid, vec_id AS neighbor, rank, cosine FROM ranked
WHERE rank <= $K ORDER BY qid, rank"""
  }

  // ---------------------------------------------------------------- q32
  /** IVF ANN: KCents coarse centroids drawn as a deterministic hash
    * top-k of the ids (portable: same universal hash on both engines;
    * Spark executes orderBy+limit as TakeOrderedAndProject — a
    * distributed partial top-k, no global sort). Every vector joins its
    * nearest centroid's bucket (broadcast of a CONSTANT-size centroid
    * set → O(n·k) assignment); queries probe their NProbe nearest centroids
    * and search only those buckets. */
  /** Shared IVF index build: (cents, assigned), both cached for the
    * duration of the calling query's action — so a multi-config sweep
    * (q99) pays the O(n·k) assignment ONCE across its nprobe configs. */
  private def ivfParts(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val e = vecs(spark, sfDir)
    // 64 rows, but each broadcast consumer would re-run the full-scan
    // top-k behind it — cache so the scan happens once.
    val cents = graft.Checkpoints.cache(e
      .orderBy(graft.functions.MathFunctions.universalHash(col("vec_id"), 1), col("vec_id"))
      .limit(KCents)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn")))
    // assignment: nearest centroid per vector (broadcast centroids)
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cid"))
    // The assignment feeds BOTH the probe derivation and the final
    // bucket join; without materialization the O(n·k) crossJoin+window
    // subplan executes once per consumer (no ReusedExchange across the
    // two — the consumers project different columns). Cache it once;
    // the harness drain unpersists after the caller's action.
    val assigned = graft.Checkpoints.cache(
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("v"), col("nrm"), col("cid"),
          round(VF.cosineByNorm(col("v"), col("cv"), col("nrm"), col("cn")), 6).as("ccos"))
        .withColumn("arank", row_number().over(wAssign))
        .filter(col("arank") === 1)
        .select(col("vec_id"), col("v"), col("nrm"), col("cid")))
    (cents, assigned)
  }

  /** IVF candidate pairs for any nprobe: queries probe their `nprobe`
    * nearest of the [[KCents]] coarse centroids and pair with those
    * buckets' members. Returns THIN (qid, vec_id) rows. */
  private def ivfCand(cents: DataFrame, assigned: DataFrame,
                      nprobe: Int,
                      capQueries: Boolean = false): DataFrame = {
    // probes: nprobe nearest centroids per query
    val probes0 = assigned.filter(pmod(col("vec_id"), lit(QueryMod)) === 0)
    val probes = (if (capQueries) probes0.filter(col("vec_id") < QueryCap) else probes0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      .crossJoin(broadcast(cents))
      .select(col("qid"), col("qv"), col("qn"), col("cid"),
        round(VF.cosineByNorm(col("qv"), col("cv"), col("qn"), col("cn")), 6).as("ccos"))
      .withColumn("prank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("cid"))))
      .filter(col("prank") <= nprobe)
      .select(col("qid"), col("cid"))
    probes.join(assigned.select(col("vec_id"), col("cid")), Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"))
  }

  def q32IvfKnn(spark: SparkSession, sfDir: String): DataFrame = {
    val (cents, assigned) = ivfParts(spark, sfDir)
    topKOf(assigned.select(col("vec_id"), col("v"), col("nrm")),
      ivfCand(cents, assigned, NProbe))
  }

  val q32Sql: String =
    s"""WITH $vecsCte,
cents AS MATERIALIZED (
  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM ed
  ORDER BY ${Sql.universalHash("vec_id", 1)}, vec_id LIMIT $KCents),
assigned AS MATERIALIZED (
  SELECT vec_id, v, nrm, cid FROM (
    SELECT e.vec_id, e.v, e.nrm, c.cid,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY round(${Sql.listCosineByNorm("e.v", "c.cv", "e.nrm", "c.cn")}, 6) DESC, c.cid) AS arank
    FROM ed e CROSS JOIN cents c)
  WHERE arank = 1),
probes AS (
  SELECT qid, qv, qn, cid FROM (
    SELECT q.vec_id AS qid, q.v AS qv, q.nrm AS qn, c.cid,
      row_number() OVER (PARTITION BY q.vec_id
        ORDER BY round(${Sql.listCosineByNorm("q.v", "c.cv", "q.nrm", "c.cn")}, 6) DESC, c.cid) AS prank
    FROM ed q CROSS JOIN cents c WHERE q.vec_id % $QueryMod = 0)
  WHERE prank <= $NProbe),
scored AS (
  SELECT p.qid, a.vec_id, round(${Sql.listCosineByNorm("p.qv", "a.v", "p.qn", "a.nrm")}, 6) AS cosine
  FROM probes p JOIN assigned a ON a.cid = p.cid AND p.qid <> a.vec_id),
ranked AS (
  SELECT qid, vec_id, cosine,
    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
  FROM scored)
SELECT qid, vec_id AS neighbor, rank, cosine FROM ranked
WHERE rank <= $K ORDER BY qid, rank"""

  // ---------------------------------------------------------------- q33
  /** Int8 embedding quantization (the storage path at 100 TB: 4x
    * smaller vectors for IVF cells): per-vector absmax scale,
    * q = round(v/scale*127), reconstruction-error stats.
    *
    * The transform/zip_with/aggregate lambdas here run interpreted, but
    * over a FIXED 64-element vector with O(1) arithmetic per element —
    * ~256 interpreted steps per row, no quadratic blowup, no sketch
    * deserialization per step (the cases that forced kernels elsewhere:
    * graft_winnow, graft_lsh_code, graft_bloom_count_contains). Measured: q33 is among the
    * cheapest bench rows (~0.2s warm at sf0.1), so a kernel would buy
    * nothing observable. */
  def q33Quantize(spark: SparkSession, sfDir: String): DataFrame = {
    val e = vecs(spark, sfDir)
    val mx = aggregate(transform(col("v"), x => abs(x)), lit(0.0),
      (acc, x) => greatest(acc, x))
    val withScale = e.withColumn("scale", mx)
    val recon = transform(col("v"),
      x => round(x / col("scale") * 127.0, 0) * col("scale") / 127.0)
    val absErr = zip_with(col("v"), recon, (a, b) => abs(a - b))
    // fixed-point micro-units via floor(x*1e6 + 0.5): quantization-error
    // maxima land exactly on round(,6) grid boundaries where Spark's
    // decimal HALF_UP and DuckDB's binary rounding disagree — the floor
    // form is the same double arithmetic on both engines, no boundary.
    def um(c: Column): Column = floor(c * 1e6 + 0.5).cast("long")
    withScale.select(col("vec_id"),
        um(col("scale")).as("scale_um"),
        um(aggregate(absErr, lit(0.0), (acc, x) => greatest(acc, x))).as("max_abs_err_um"),
        um(aggregate(absErr, lit(0.0), (acc, x) => acc + x) / size(col("v"))).as("mean_abs_err_um"))
      .orderBy(col("vec_id"))
  }

  val q33Sql: String = {
    val mx = "list_reduce(list_transform(v, x -> abs(x)), (a, b) -> greatest(a, b))"
    val recon = "list_transform(v, x -> round(x / scale * 127.0, 0) * scale / 127.0)"
    s"""WITH $vecsCte,
scaled AS (SELECT vec_id, v, $mx AS scale FROM ed),
errs AS (
  SELECT vec_id, scale,
    list_transform(range(1, len(v) + 1), i -> abs(v[i] - ($recon)[i])) AS ae,
    len(v) AS d
  FROM scaled)
SELECT vec_id,
  CAST(floor(scale * 1e6 + 0.5) AS BIGINT) AS scale_um,
  CAST(floor(list_reduce(ae, (a, b) -> greatest(a, b)) * 1e6 + 0.5) AS BIGINT) AS max_abs_err_um,
  CAST(floor(list_reduce(ae, (a, b) -> a + b) / d * 1e6 + 0.5) AS BIGINT) AS mean_abs_err_um
FROM errs ORDER BY vec_id"""
  }

  // ---------------------------------------------------------------- q36
  val KmK = 8
  val KmIters = 3

  /** One Lloyd assignment pass: nearest centroid per vector by squared
    * L2 (round(,6) then cid tie-break so both engines pick identically).
    * Shape for 100 TB: centroids broadcast (K×d doubles), so scoring is
    * map-only; the arg-min is a groupBy(vec_id) min_by with MAP-SIDE
    * partial aggregation — each task reduces its n·K scored rows to one
    * row per local vector before any exchange (vs. a window over the
    * full n·K, which shuffles and sorts everything). */
  private[graft] def kmAssign(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cid"),
        round(VF.dist2(col("v"), col("cv")), 6).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cid"), col("v")), struct(col("d2"), col("cid"))).as("m"),
        min(struct(col("d2"), col("cid"))).as("dm"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.v").as("v"),
        col("dm.d2").as("d2"))

  /** Distributed k-means (Lloyd): the centroid REFINEMENT a real IVF
    * index build runs after a seed draw like q32's — KmK seeds from the
    * deterministic hash top-k, KmIters assign→mean rounds, output the
    * final per-vector assignment. The per-centroid mean is a single
    * groupBy with 64 algebraic column sums (partial aggregation, no
    * explode of n·d element rows); centroid components are rounded to
    * the 1e-6 grid each round so float summation-order drift cannot
    * propagate into the next round's arg-min on either engine. */
  /** Generic Lloyd fit over `e0(vec_id, v: array<double>)` of
    * dimension `dims`: hash-seeded centroids, `iters` assign/mean
    * rounds, final per-vector assignment (vec_id, v, cid, d2). */
  private[graft] def kmeansFit(e0: DataFrame, k: Int, iters: Int,
                               dims: Int, seed: Int): DataFrame = {
    val e = graft.Checkpoints.cache(e0)
    // k rows; checkpointed to keep the iteration plan shallow
    val (cents, _) = graft.Checkpoints.iterate(e
        .orderBy(graft.functions.MathFunctions.universalHash(col("vec_id"), seed), col("vec_id"))
        .limit(k)
        .select(col("vec_id").as("cid"), col("v").as("cv")), iters) { cents =>
      kmAssign(e, cents)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("cnt"),
          (1 to dims).map(i => sum(element_at(col("v"), i)).as(s"s$i")): _*)
        .select(col("cid"),
          array((1 to dims).map(i => round(col(s"s$i") / col("cnt"), 6)): _*).as("cv"))
    }
    kmAssign(e, cents)
  }

  def q36KMeans(spark: SparkSession, sfDir: String): DataFrame =
    kmeansFit(vecs(spark, sfDir).select(col("vec_id"), col("v")),
        KmK, KmIters, Dims, seed = 2)
      .select(col("vec_id"), col("cid").as("cluster"), col("d2").as("dist2"))
      .orderBy(col("vec_id"))

  /** DuckDB twin of [[kmeansFit]] as a CTE chain over `src(vec_id, v)`
    * of `dims` dims: seeds c0 → `iters` assign/mean rounds → final
    * assignment `fin(vec_id, cid, d2)`. q36 instantiates it on the raw
    * embeddings; q174 on the dup-injected corpus. */
  private[graft] def kmeansSqlChain(src: String, k: Int, iters: Int,
                                    dims: Int, seed: Int): String = {
    val meanList = (1 to dims).map(i => s"round(sum(v[$i]) / count(*), 6)")
      .mkString("[", ", ", "]")
    val sb = new StringBuilder
    sb ++= s"c0 AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM $src ORDER BY ${Sql.universalHash("vec_id", seed)}, vec_id LIMIT $k),\n"
    for (kk <- 1 to iters) {
      val p = s"c${kk - 1}"
      sb ++= s"""a$kk AS MATERIALIZED (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY round(${Sql.listDist2("e.v", "c.cv")}, 6), c.cid) AS ar
    FROM $src e CROSS JOIN $p c) WHERE ar = 1),
c$kk AS MATERIALIZED (SELECT cid, $meanList AS cv FROM a$kk GROUP BY cid),
"""
    }
    sb ++= s"""fin AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT e.vec_id, c.cid, round(${Sql.listDist2("e.v", "c.cv")}, 6) AS d2,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY round(${Sql.listDist2("e.v", "c.cv")}, 6), c.cid) AS ar
    FROM $src e CROSS JOIN c$iters c) WHERE ar = 1)"""
    sb.toString
  }

  val q36Sql: String =
    s"WITH $vecsCte,\n" + kmeansSqlChain("ed", KmK, KmIters, Dims, seed = 2) +
      "\nSELECT vec_id, cid AS cluster, d2 AS dist2 FROM fin ORDER BY vec_id"

  // ---------------------------------------------------------------- q65
  /** ANN recall@k — the measurement that turns q31/q32 from "claims to
    * approximate" into approximations with a number: each method's
    * top-k joined against q30's exact ground truth, recall = hit
    * fraction per query point, plus the micro-averaged summary row
    * (qid = −1, totals over all queries). This is the tuning loop's
    * metric: more bands/bits (q31) or a higher nprobe (q32) must move
    * THIS column, measured, not asserted. Pure equi-joins + counts over
    * three already-deterministic top-k frames ⇒ fully oracle-replayable.
    *
    * Scale shape: the per-method hit count is a join on (qid, neighbor)
    * between two k·|queries|-row frames — ANN outputs, never the
    * embedding table — so the recall audit costs nothing at 100 TB
    * (run it over a sampled query panel exactly like this fixture's). */
  def q65AnnRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = q30KnnBrute(spark, sfDir).select(col("qid"), col("neighbor"))
    val lsh = q31KnnLsh(spark, sfDir).select(col("qid"), col("neighbor"))
    val ivf = q32IvfKnn(spark, sfDir).select(col("qid"), col("neighbor"))
    def hits(m: DataFrame, as: String): DataFrame =
      exact.join(m, Seq("qid", "neighbor"))
        .groupBy(col("qid")).agg(count(lit(1)).as(as))
    val per = exact.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
      .join(hits(lsh, "lh"), Seq("qid"), "left")
      .join(hits(ivf, "ih"), Seq("qid"), "left")
      .select(col("qid"), col("n_exact"),
        coalesce(col("lh"), lit(0L)).as("lsh_hits"),
        coalesce(col("ih"), lit(0L)).as("ivf_hits"))
    val summary = per.agg(sum(col("n_exact")).as("n_exact"),
        sum(col("lsh_hits")).as("lsh_hits"), sum(col("ivf_hits")).as("ivf_hits"))
      .select(lit(-1L).as("qid"), col("n_exact"), col("lsh_hits"), col("ivf_hits"))
    per.unionAll(summary)
      .select(col("qid"), col("n_exact"), col("lsh_hits"), col("ivf_hits"),
        round(col("lsh_hits").cast("double") / col("n_exact"), 6).as("lsh_recall"),
        round(col("ivf_hits").cast("double") / col("n_exact"), 6).as("ivf_recall"))
      .orderBy(col("qid"))
  }

  /** The three ANN oracles composed as CTEs (DuckDB allows a full
    * WITH…SELECT as a CTE body), then the same join-count arithmetic. */
  val q65Sql: String =
    s"""WITH exact AS MATERIALIZED ($q30Sql),
lshq AS MATERIALIZED ($q31Sql),
ivfq AS MATERIALIZED ($q32Sql),
base AS (SELECT qid, count(*) AS n_exact FROM exact GROUP BY qid),
lh AS (SELECT e.qid, count(*) AS lh FROM exact e
       JOIN lshq l ON e.qid = l.qid AND e.neighbor = l.neighbor GROUP BY e.qid),
ih AS (SELECT e.qid, count(*) AS ih FROM exact e
       JOIN ivfq v ON e.qid = v.qid AND e.neighbor = v.neighbor GROUP BY e.qid),
per AS (
  SELECT b.qid, b.n_exact,
    coalesce(lh.lh, 0) AS lsh_hits, coalesce(ih.ih, 0) AS ivf_hits
  FROM base b LEFT JOIN lh USING (qid) LEFT JOIN ih USING (qid)),
allrows AS (
  SELECT qid, n_exact, lsh_hits, ivf_hits FROM per
  UNION ALL
  SELECT -1, CAST(sum(n_exact) AS BIGINT), CAST(sum(lsh_hits) AS BIGINT),
    CAST(sum(ivf_hits) AS BIGINT) FROM per)
SELECT qid, n_exact, lsh_hits, ivf_hits,
  round(CAST(lsh_hits AS DOUBLE) / n_exact, 6) AS lsh_recall,
  round(CAST(ivf_hits AS DOUBLE) / n_exact, 6) AS ivf_recall
FROM allrows ORDER BY qid"""

  // ---------------------------------------------------------------- q99
  /** The swept LSH configs (bandBits, bandCount) and IVF probe counts —
    * one frontier row each. Chosen to span the cost/recall curve from
    * q31/q32's production points to a ≥0.8-recall operating point. */
  val FrontierLsh: Seq[(Int, Int)] = Seq((4, 8), (4, 16), (4, 24), (6, 16), (8, 24))
  val FrontierProbes: Seq[Int] = Seq(4, 8, 16, 24, 32)

  /** ANN cost/recall frontier — q65 generalized from "measure the two
    * production configs" to the full tuning sweep: every LSH
    * (bandBits × bands) config and IVF nprobe setting gets one row with
    * its measured recall@[[K]] against q30's exact ground truth AND its
    * candidate-set cost (avg candidates scored per query — the thing a
    * config actually costs at 100 TB, where recall is bought with
    * candidate volume). The sweep shares one coded/assigned build where
    * possible (ivfParts runs once across the three nprobe rows), every
    * per-config stat is a 1-row broadcast aggregate, and the output is
    * a ~|configs|-row frame — the frontier itself costs candidate
    * generation, not extra passes.
    *
    * Scale shape: identical to q65 — the audit runs over a sampled
    * query panel (capped like q30), so the frontier is re-measurable at
    * any corpus size for the same bounded cost; the chosen operating
    * point is then a measured trade, not a guess. */
  def q99AnnFrontier(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val exact = graft.Checkpoints.cache(
      q30KnnBrute(spark, sfDir).select(col("qid"), col("neighbor")))
    val (cents, assigned) = ivfParts(spark, sfDir)
    // one cached vector base serves every config's scoring join
    val base = assigned.select(col("vec_id"), col("v"), col("nrm"))
    // r12 (verdict item 5): the r11 form built per-config stats plans —
    // 10 configs × (hits + cost 1-row aggregates, each with its own
    // broadcast exchange and cand cache) ran as ~148 overlapping jobs
    // whose 53 s of stage wall packed into ~10 s only because the
    // scheduler could overlap them; the scheduler floor dominated. ONE
    // cfg-tagged candidate union now feeds a single top-K window
    // (partitioned by (cfg, qid) — per-config partitions are
    // independent, so ranks are bit-identical to the per-config
    // windows), one hits groupBy(cfg) and one cost groupBy(cfg):
    // a handful of jobs, same counts, same output rows.
    //
    // The configs themselves share work (this is the fusion that cuts
    // the job count, not just the stats): band b of an n-band 4-bit
    // code reads planes [4b, 4b+4) regardless of n (VectorKernelSpec
    // pins lshBands ≡ per-band lshCode), so the (4,8)/(4,16)/(4,24)
    // candidate sets are all derivable from ONE 24-band band join —
    // a pair is a (4,B) candidate iff its MINIMAL matching band < B.
    // Likewise the five IVF configs share one probe window at
    // max(nprobe): a pair is an np-candidate iff its probe rank ≤ np.
    def bandsOf(coded: DataFrame, idCol: String): DataFrame =
      coded.select(col("vec_id").as(idCol), posexplode(col("bands")))
        .select(col(idCol), col("pos").as("band"), col("col").as("key"))
    val lshFrames = FrontierLsh.groupBy(_._1).toSeq.map {
      case (bits, cfgs) =>
        val bandCounts = cfgs.map(_._2)
        val coded = codedFor(spark, sfDir, bits, bandCounts.max)
        val qb = bandsOf(coded, "qid")
          .filter(pmod(col("qid"), lit(QueryMod)) === 0 && col("qid") < QueryCap)
        val minBand = qb.join(bandsOf(coded, "vec_id"), Seq("band", "key"))
          .filter(col("qid") =!= col("vec_id"))
          .groupBy(col("qid"), col("vec_id")).agg(min(col("band")).as("minb"))
        val cfgArr = array(bandCounts.map(bn =>
          when(col("minb") < bn, lit(s"lsh_${bits}x$bn"))): _*)
        minBand.select(explode(cfgArr).as("cfg"), col("qid"), col("vec_id"))
          .filter(col("cfg").isNotNull)
    }
    val maxNp = FrontierProbes.max
    val probesAll = assigned.filter(pmod(col("vec_id"), lit(QueryMod)) === 0 &&
        col("vec_id") < QueryCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      .crossJoin(broadcast(cents))
      .select(col("qid"), col("cid"),
        round(VF.cosineByNorm(col("qv"), col("cv"), col("qn"), col("cn")), 6).as("ccos"))
      .withColumn("prank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("cid"))))
      .filter(col("prank") <= maxNp)
      .select(col("qid"), col("cid"), col("prank"))
    val ivfCfgArr = array(FrontierProbes.map(np =>
      when(col("prank") <= np, lit(f"ivf_np$np%02d"))): _*)
    val ivfFrame = probesAll
      .join(assigned.select(col("vec_id"), col("cid")), Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .select(explode(ivfCfgArr).as("cfg"), col("qid"), col("vec_id"))
      .filter(col("cfg").isNotNull)
    val candAll = graft.Checkpoints.cache((lshFrames :+ ivfFrame).reduce(_ unionAll _))
    val q = base.select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("cfg"), col("qid"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val topk = candAll.join(q, "qid").join(base, "vec_id")
      .select(col("cfg"), col("qid"), col("vec_id"),
        round(VF.cosineByNorm(col("qv"), col("v"), col("qn"), col("nrm")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("cfg"), col("qid"), col("vec_id").as("neighbor"))
    val hits = topk.join(exact, Seq("qid", "neighbor"))
      .groupBy(col("cfg")).agg(count(lit(1)).as("hits0"))
    val cost = candAll.groupBy(col("cfg")).agg(count(lit(1)).as("cand0"))
    val tot = exact.agg(count(lit(1)).as("total_exact"))
    // a config with an empty candidate or hit set still gets its row
    // (the r11 per-config 1-row aggregates could never be empty)
    val cfgs = (FrontierLsh.map { case (bits, bands) => s"lsh_${bits}x$bands" } ++
      FrontierProbes.map(np => f"ivf_np$np%02d")).toDF("cfg")
    cfgs.join(hits, Seq("cfg"), "left").join(cost, Seq("cfg"), "left")
      .crossJoin(broadcast(tot))
      .select(col("cfg"),
        coalesce(col("hits0"), lit(0L)).as("hits"),
        coalesce(col("cand0"), lit(0L)).as("total_cand"),
        col("total_exact"))
      .select(col("cfg"), expr(s"total_exact div $K").as("n_queries"),
        round(col("hits").cast("double") / col("total_exact"), 6).as("recall_at_5"),
        round(col("total_cand").cast("double") * K / col("total_exact"), 6).as("avg_cand"),
        col("hits"), col("total_exact"), col("total_cand"))
      .orderBy(col("cfg"))
  }

  /** q99's own copy of the vector CTE under names that cannot collide
    * with the `ed0`/`ed` that q30Sql re-declares inside the embedded
    * `exact0` CTE (DuckDB rejects the duplicate alias). */
  private val fedCte =
    "fed0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),\n" +
      s"fed AS MATERIALIZED (SELECT vec_id, v, ${Sql.listNorm("v")} AS nrm FROM fed0)"

  private def lshFrontierCtes(pfx: String, bits: Int, bands: Int): String = {
    val bandRows = (0 until bands).map(b =>
      s"SELECT vec_id, $b AS band, ${Sql.lshCode("v", Dims, bits, b * bits)} AS key FROM fed")
      .mkString("\n  UNION ALL\n  ")
    s"""${pfx}b AS MATERIALIZED (
  $bandRows),
${pfx}c AS MATERIALIZED (
  SELECT DISTINCT q.vec_id AS qid, e.vec_id
  FROM ${pfx}b q JOIN ${pfx}b e ON q.band = e.band AND q.key = e.key
  WHERE q.vec_id % $QueryMod = 0 AND q.vec_id < $QueryCap AND q.vec_id <> e.vec_id)"""
  }

  private def ivfFrontierCtes(pfx: String, np: Int): String =
    s"""${pfx}p AS MATERIALIZED (
  SELECT qid, cid FROM (
    SELECT q.vec_id AS qid, c.cid,
      row_number() OVER (PARTITION BY q.vec_id
        ORDER BY round(${Sql.listCosineByNorm("q.v", "c.cv", "q.nrm", "c.cn")}, 6) DESC, c.cid) AS prank
    FROM fed q CROSS JOIN cents c WHERE q.vec_id % $QueryMod = 0 AND q.vec_id < $QueryCap)
  WHERE prank <= $np),
${pfx}c AS MATERIALIZED (
  SELECT p.qid, a.vec_id FROM ${pfx}p p JOIN assigned a ON a.cid = p.cid AND p.qid <> a.vec_id)"""

  private def frontierStatSql(pfx: String, cfg: String): String =
    s"""${pfx}t AS (
  SELECT qid, vec_id FROM (
    SELECT c.qid, c.vec_id,
      row_number() OVER (PARTITION BY c.qid
        ORDER BY round(${Sql.listCosineByNorm("q.v", "e.v", "q.nrm", "e.nrm")}, 6) DESC, c.vec_id) AS rank
    FROM ${pfx}c c JOIN fed q ON q.vec_id = c.qid JOIN fed e ON e.vec_id = c.vec_id)
  WHERE rank <= $K),
${pfx}s AS (
  SELECT '$cfg' AS cfg,
    (SELECT count(*) FROM exact) AS total_exact,
    (SELECT count(*) FROM exact x JOIN ${pfx}t t ON x.qid = t.qid AND x.neighbor = t.vec_id) AS hits,
    (SELECT count(*) FROM ${pfx}c) AS total_cand)"""

  val q99Sql: String = {
    val lshParts = FrontierLsh.zipWithIndex.map { case ((bits, bands), i) =>
      val pfx = s"l$i"
      (lshFrontierCtes(pfx, bits, bands) + ",\n" +
        frontierStatSql(pfx, s"lsh_${bits}x$bands"), s"${pfx}s")
    }
    val ivfParts0 = FrontierProbes.zipWithIndex.map { case (np, i) =>
      val pfx = s"v$i"
      (ivfFrontierCtes(pfx, np) + ",\n" +
        frontierStatSql(pfx, f"ivf_np$np%02d"), s"${pfx}s")
    }
    val all = lshParts ++ ivfParts0
    s"""WITH $fedCte,
exact0 AS MATERIALIZED ($q30Sql),
exact AS (SELECT qid, neighbor FROM exact0),
cents AS MATERIALIZED (
  SELECT vec_id AS cid, v AS cv, nrm AS cn FROM fed
  ORDER BY ${Sql.universalHash("vec_id", 1)}, vec_id LIMIT $KCents),
assigned AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY round(${Sql.listCosineByNorm("e.v", "c.cv", "e.nrm", "c.cn")}, 6) DESC, c.cid) AS arank
    FROM fed e CROSS JOIN cents c)
  WHERE arank = 1),
${all.map(_._1).mkString(",\n")},
stats AS (
  ${all.map(s => s"SELECT * FROM ${s._2}").mkString("\n  UNION ALL\n  ")})
SELECT cfg, total_exact // $K AS n_queries,
  round(CAST(hits AS DOUBLE) / total_exact, 6) AS recall_at_5,
  round(CAST(total_cand AS DOUBLE) * $K / total_exact, 6) AS avg_cand,
  hits, total_exact, total_cand
FROM stats ORDER BY cfg"""
  }

  // --------------------------------------------------------------- q131
  /** Hard negatives emitted per query for triplet mining. */
  val NegK = 3

  /** Triplet mining for contrastive training — per anchor (q30's query
    * set), the hardest positive (nearest SAME-label vector) and the
    * [[NegK]] hardest negatives (nearest DIFFERENT-label vectors), with
    * the triplet margin pos_cos − neg_cos. Negative margins are
    * exactly the triplets a contrastive loss learns from; mining them
    * is a corpus-scale join problem, not a model problem.
    *
    * Shape for 100 TB: one scored frame (broadcast anchors × base,
    * q30's no-big-side-shuffle shape) feeds BOTH selections — the
    * positive and negative ranks are WindowGroupLimit windows over the
    * same partitioning, so per-partition top-k runs before any
    * exchange; at larger scale the scored frame swaps for q31/q32's
    * banded candidates with identical downstream shape. */
  def q131Triplets(spark: SparkSession, sfDir: String): DataFrame = {
    val e = vecs(spark, sfDir)
      .join(Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label")),
        "vec_id")
    val q = e.filter(pmod(col("vec_id"), lit(QueryMod)) === 0 && col("vec_id") < QueryCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("label").as("qlabel"))
    val scored = broadcast(q).join(e, col("qid") =!= col("vec_id"))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
        round(VF.cosineByNorm(col("qv"), col("v"), col("qn"), col("nrm")), 6)
          .as("cosine"))
    val byQ = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val pos = scored.filter(col("label") === col("qlabel"))
      .withColumn("prank", row_number().over(byQ))
      .filter(col("prank") === 1)
      .select(col("qid"), col("vec_id").as("pos_id"), col("cosine").as("pos_cos"))
    val neg = scored.filter(col("label") =!= col("qlabel"))
      .withColumn("rank", row_number().over(byQ))
      .filter(col("rank") <= NegK)
      .select(col("qid"), col("rank"), col("vec_id").as("neg_id"),
        col("cosine").as("neg_cos"))
    neg.join(pos, "qid")
      .select(col("qid"), col("rank"), col("pos_id"), col("neg_id"),
        col("pos_cos"), col("neg_cos"),
        round(col("pos_cos") - col("neg_cos"), 6).as("margin"))
      .orderBy(col("qid"), col("rank"))
  }

  val q131Sql: String =
    s"""WITH $vecsCte,
el AS (SELECT ed.vec_id, v, nrm, label FROM ed JOIN embeddings USING (vec_id)),
qs AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, label AS qlabel
       FROM el WHERE vec_id % $QueryMod = 0 AND vec_id < $QueryCap),
scored AS MATERIALIZED (
  SELECT q.qid, q.qlabel, e.vec_id, e.label,
    round(${Sql.listCosineByNorm("q.qv", "e.v", "q.qn", "e.nrm")}, 6) AS cosine
  FROM qs q JOIN el e ON q.qid <> e.vec_id),
pos AS (
  SELECT qid, vec_id AS pos_id, cosine AS pos_cos FROM (
    SELECT qid, vec_id, cosine,
      row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS prank
    FROM scored WHERE label = qlabel)
  WHERE prank = 1),
neg AS (
  SELECT qid, rank, vec_id AS neg_id, cosine AS neg_cos FROM (
    SELECT qid, vec_id, cosine,
      row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
    FROM scored WHERE label <> qlabel)
  WHERE rank <= $NegK)
SELECT n.qid, n.rank, p.pos_id, n.neg_id, p.pos_cos, n.neg_cos,
  round(p.pos_cos - n.neg_cos, 6) AS margin
FROM neg n JOIN pos p ON n.qid = p.qid
ORDER BY n.qid, n.rank"""

  // --------------------------------------------------------------- q160
  /** Retrieval ranking metrics — NDCG@K, reciprocal rank and
    * precision@K of q30's brute-force run, judged against the label
    * column as binary relevance (neighbor label == query label). This
    * is the metric layer a retrieval/RAG pipeline runs over every
    * index build: q65/q157 measure whether the ANN index finds the
    * same NEIGHBORS as brute force; this row measures whether the
    * ranking finds the right CLASS, which is what the downstream
    * consumer actually pays for. IDCG uses the corpus-truth ideal:
    * min(|same-label| − 1, K) relevant items in the top positions, so
    * a query whose class has fewer than K other members is not
    * penalized for the impossible.
    *
    * Shape for 100 TB: the run frame is |queries|·K rows — label
    * joins stream the big labels table past the broadcast run; the
    * per-query aggregation and the O(K) IDCG lookup are tiny. */
  def q160Ndcg(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"))
    val labcnt = labels.groupBy(col("label")).agg(count(lit(1)).as("n_lab"))
    val run = broadcast(q30KnnBrute(spark, sfDir))
      .join(labels.select(col("vec_id").as("qid"), col("label").as("qlab")), "qid")
      .join(labels.select(col("vec_id").as("neighbor"), col("label").as("nlab")),
        "neighbor")
      .join(broadcast(labcnt), col("qlab") === col("label"))
    // the query key carries its label through the per-query aggregate;
    // a query's relevant total is its class size minus itself
    Graft.rankMetrics(run, struct(col("qid"), col("qlab")), col("rank"),
        when(col("qlab") === col("nlab"), 1.0).otherwise(0.0), col("n_lab") - 1, K)
      .select(col("qid.qid").as("qid"), col("qid.qlab").as("label"), col("n_rel"),
        col("p_at_k"), col("rr"), col("ndcg"))
      .orderBy(col("qid"))
  }

  val q160Sql: String =
    s"""WITH $vecsCte,
qs AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM ed WHERE vec_id % $QueryMod = 0 AND vec_id < $QueryCap),
scored AS (
  SELECT q.qid, e.vec_id, round(${Sql.listCosineByNorm("q.qv", "e.v", "q.qn", "e.nrm")}, 6) AS cosine
  FROM qs q JOIN ed e ON q.qid <> e.vec_id),
run AS (
  SELECT qid, vec_id AS neighbor, rank FROM (
    SELECT qid, vec_id,
      row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
    FROM scored) WHERE rank <= $K),
lab AS (SELECT vec_id, label FROM embeddings),
labcnt AS (SELECT label, count(*) AS n_lab FROM lab GROUP BY label),
j AS (
  SELECT r.qid, ql.label AS qlab, r.rank,
    CASE WHEN ql.label = nl.label THEN 1.0 ELSE 0.0 END AS rel
  FROM run r JOIN lab ql ON r.qid = ql.vec_id
             JOIN lab nl ON r.neighbor = nl.vec_id),
per AS (
  SELECT qid, qlab, sum(rel / log2(rank + 1)) AS dcg,
    CAST(sum(rel) AS BIGINT) AS hits,
    min(CASE WHEN rel = 1.0 THEN rank END) AS first_rel
  FROM j GROUP BY qid, qlab),
ik AS (
  SELECT g1.k AS k, sum(1.0 / log2(g2.i + 1)) AS idcg
  FROM generate_series(1, $K) g1(k), generate_series(1, $K) g2(i)
  WHERE g2.i <= g1.k GROUP BY g1.k),
ide AS (
  SELECT p.*, least(c.n_lab - 1, $K) AS ideal_k
  FROM per p JOIN labcnt c ON p.qlab = c.label)
SELECT qid, qlab AS label, hits AS n_rel,
  round(CAST(hits AS DOUBLE) / $K, 6) AS p_at_k,
  round(coalesce(1.0 / first_rel, 0.0), 6) AS rr,
  round(coalesce(d.dcg / ik.idcg, 0.0), 6) AS ndcg
FROM ide d LEFT JOIN ik ON d.ideal_k = ik.k
ORDER BY qid"""

  // --------------------------------------------------------------- q166
  /** PQ geometry: 8 subspaces × 8 dims, 8 centroids each, 2 Lloyd
    * rounds from the hash-seeded draw (seed distinct from q36's so the
    * two codebooks differ). */
  val PqSubs = 8
  val PqSubDim: Int = Dims / PqSubs
  val PqK = 8
  val PqIters = 2
  val PqSeed = 3

  /** Product-quantization codebook build — the memory-side scale path
    * of ANN at 100 TB (q33 shrinks floats to int8; PQ shrinks each
    * vector to [[PqSubs]] byte CODES, a 64× compression that makes a
    * billion-vector index RAM-resident): the 64-dim space splits into
    * [[PqSubs]] orthogonal 8-dim subspaces, each fitted with its own
    * [[PqK]]-centroid Lloyd codebook (q36's machinery with the
    * subspace as part of the key — ONE distributed loop trains all 8
    * codebooks simultaneously, not 8 sequential fits). Emits the
    * codebook census: per (subspace, centroid) population and mean
    * residual distortion — the quality report an index build publishes
    * before committing a codebook.
    *
    * Shape for 100 TB: the subspace explode is map-side (8 rows of
    * 8-dim slices per vector, same bytes as the source row); each
    * round is one broadcast-centroid argmin + one partial-agged
    * groupBy(m, cid) with 8 algebraic sums; centroid components are
    * rounded to the 1e-6 grid each round (q36's drift fence). */
  /** Generic PQ codebook fit over `e0(vec_id, v: array<double>)`:
    * `nSubs` subspaces of `dims/nSubs` components, each Lloyd-fitted
    * with `k` centroids for `iters` rounds from the hash-seeded draw.
    * ONE distributed loop trains all subspace codebooks (the subspace
    * index rides the key). Returns the codebook census
    * (m, cid, n_vecs, mean_d2). */
  private[graft] def pqFit(e0: DataFrame, dims: Int, nSubs: Int, k: Int,
                           iters: Int, seed: Int): DataFrame = {
    val subDim = dims / nSubs
    val e = e0.select(col("vec_id"), col("v"))
    val subs = graft.Checkpoints.cache(e
      .select(col("vec_id"), explode(sequence(lit(0), lit(nSubs - 1))).as("m"),
        col("v"))
      .select(col("m"), col("vec_id"),
        slice(col("v"), col("m") * subDim + 1, lit(subDim)).as("sv")))
    val seedIds = e
      .orderBy(graft.functions.MathFunctions.universalHash(col("vec_id"), seed),
        col("vec_id"))
      .limit(k).select(col("vec_id").as("seed_id"))
    def assign(cents: DataFrame): DataFrame =
      subs.join(broadcast(cents), Seq("m"))
        .select(col("m"), col("vec_id"), col("sv"), col("cid"),
          round(VF.dist2(col("sv"), col("cv")), 6).as("d2"))
        .groupBy(col("m"), col("vec_id"))
        .agg(min_by(struct(col("cid"), col("sv")), struct(col("d2"), col("cid"))).as("mm"),
          min(struct(col("d2"), col("cid"))).as("dm"))
        .select(col("m"), col("vec_id"), col("mm.cid").as("cid"),
          col("mm.sv").as("sv"), col("dm.d2").as("d2"))
    // nSubs·k rows; checkpointed to keep the loop plan shallow
    val (cents, _) = graft.Checkpoints.iterate(
        subs.join(broadcast(seedIds), col("vec_id") === col("seed_id"))
          .select(col("m"), col("vec_id").as("cid"), col("sv").as("cv")), iters) { cents =>
      assign(cents)
        .groupBy(col("m"), col("cid"))
        .agg(count(lit(1)).as("cnt"),
          (1 to subDim).map(i => sum(element_at(col("sv"), i)).as(s"s$i")): _*)
        .select(col("m"), col("cid"),
          array((1 to subDim).map(i => round(col(s"s$i") / col("cnt"), 6)): _*)
            .as("cv"))
    }
    // d2 is 6dp-gridded per row, so the census mean must be an exact
    // DECIMAL sum + one division — a double avg() is association-order
    // dependent and flipped a boundary cell at sf0.1 (0.0872505).
    assign(cents)
      .groupBy(col("m"), col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("d2").cast(org.apache.spark.sql.types.DataTypes
            .createDecimalType(38, 6))).cast("double") / count(lit(1)), 6)
          .as("mean_d2"))
  }

  def q166Pq(spark: SparkSession, sfDir: String): DataFrame =
    pqFit(vecs(spark, sfDir), Dims, PqSubs, PqK, PqIters, PqSeed)
      .orderBy(col("m"), col("cid"))

  val q166Sql: String = {
    val meanList = (1 to PqSubDim).map(i => s"round(sum(sv[$i]) / count(*), 6)")
      .mkString("[", ", ", "]")
    val sb = new StringBuilder
    sb ++= s"WITH $vecsCte,\n"
    sb ++= s"""subs AS MATERIALIZED (
  SELECT t.m, vec_id, list_slice(v, t.m * $PqSubDim + 1, t.m * $PqSubDim + $PqSubDim) AS sv
  FROM ed, generate_series(0, ${PqSubs - 1}) t(m)),
seeds AS (SELECT vec_id FROM ed ORDER BY ${Sql.universalHash("vec_id", PqSeed)}, vec_id LIMIT $PqK),
c0 AS MATERIALIZED (
  SELECT s.m, s.vec_id AS cid, s.sv AS cv FROM subs s JOIN seeds ON s.vec_id = seeds.vec_id),
"""
    for (k <- 1 to PqIters + 1) {
      val p = s"c${k - 1}"
      sb ++= s"""a$k AS MATERIALIZED (
  SELECT m, vec_id, sv, cid, d2 FROM (
    SELECT s.m, s.vec_id, s.sv, c.cid, round(${Sql.listDist2("s.sv", "c.cv")}, 6) AS d2,
      row_number() OVER (PARTITION BY s.m, s.vec_id
        ORDER BY round(${Sql.listDist2("s.sv", "c.cv")}, 6), c.cid) AS ar
    FROM subs s JOIN $p c ON s.m = c.m) WHERE ar = 1)"""
      if (k <= PqIters)
        sb ++= s""",
c$k AS MATERIALIZED (
  SELECT m, cid, $meanList AS cv FROM a$k GROUP BY m, cid),
"""
      else sb ++= "\n"
    }
    sb ++= s"""SELECT m, cid, count(*) AS n_vecs,
  round(CAST(sum(CAST(d2 AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS mean_d2
FROM a${PqIters + 1} GROUP BY m, cid ORDER BY m, cid"""
    sb.toString
  }

  // --------------------------------------------------------------- q190
  /** Embedding-space class separability — the representation-quality
    * report run before training on (or retrieving with) an embedding
    * column: per label, the mean cosine of members to their OWN
    * centroid (cohesion) vs the mean pairwise cosine between DISTINCT
    * centroids (global confusion), and the margin between the two. A
    * collapsing embedding (margin → 0) fails retrieval and triplet
    * mining no matter how good the downstream model is — this row is
    * the early warning. Centroid components land on the 1e-6 grid
    * (q36's fence) and member cosines are grid-rounded before the
    * decimal mean, so both engines agree exactly.
    *
    * Shape for 100 TB: one partial-agged groupBy(label) with 64
    * algebraic sums builds the centroids; members join them broadcast;
    * the inter-centroid pass is O(labels²) on a tiny frame. */
  def q190ClassSeparability(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), VF.toDouble(col("embedding")).as("v"))
    val cents = e.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        (1 to Dims).map(i => sum(element_at(col("v"), i)).as(s"s$i")): _*)
      .select(col("label"), col("n_vecs"),
        array((1 to Dims).map(i => round(col(s"s$i") / col("n_vecs"), 6)): _*)
          .as("cv"))
      .withColumn("cn", VF.norm(col("cv")))
    intraFrame(e, cents)
  }

  /** Cohesion/confusion aggregation of q190 (split out for
    * readability). */
  private def intraFrame(e: DataFrame, cents: DataFrame): DataFrame = {
    def gd(c: Column) = round(c, 6).cast(org.apache.spark.sql.types.DecimalType(38, 6))
    val intra = e.join(broadcast(cents), "label")
      .groupBy(col("label"))
      .agg(max(col("n_vecs")).as("n_vecs"),
        sum(gd(VF.cosineByNorm(col("v"), col("cv"), VF.norm(col("v")), col("cn"))))
          .cast("double").as("cs"))
      .select(col("label"), col("n_vecs"),
        round(col("cs") / col("n_vecs"), 6).as("intra_cos"))
    val pairs = cents.select(col("label").as("la"), col("cv").as("ca"), col("cn").as("na"))
      .crossJoin(broadcast(cents.select(col("label").as("lb"), col("cv").as("cb"),
        col("cn").as("nb"))))
      .filter(col("la") < col("lb"))
      .agg(sum(gd(VF.cosineByNorm(col("ca"), col("cb"), col("na"), col("nb"))))
        .cast("double").as("ss"), count(lit(1)).as("np"))
      .select(round(col("ss") / col("np"), 6).as("inter_cos"))
    intra.crossJoin(broadcast(pairs))
      .select(col("label"), col("n_vecs"), col("intra_cos"), col("inter_cos"),
        round(col("intra_cos") - col("inter_cos"), 6).as("margin"))
      .orderBy(col("label"))
  }

  val q190Sql: String = {
    val meanList = (1 to Dims).map(i => s"round(sum(v[$i]) / count(*), 6)")
      .mkString("[", ", ", "]")
    def gs(e: String) = s"CAST(round($e, 6) AS DECIMAL(38,6))"
    s"""WITH $vecsCte,
el AS (SELECT e.vec_id, e.v, e.nrm, m.label FROM ed e JOIN embeddings m USING (vec_id)),
cents AS MATERIALIZED (
  SELECT label, count(*) AS n_vecs, $meanList AS cv
  FROM el GROUP BY label),
cn AS MATERIALIZED (SELECT label, n_vecs, cv, ${Sql.listNorm("cv")} AS cnn FROM cents),
intra AS (
  SELECT e.label, max(c.n_vecs) AS n_vecs,
    CAST(sum(${gs(Sql.listCosineByNorm("e.v", "c.cv", "e.nrm", "c.cnn"))}) AS DOUBLE) AS cs
  FROM el e JOIN cn c ON e.label = c.label GROUP BY e.label),
inter AS (
  SELECT CAST(sum(${gs(Sql.listCosineByNorm("a.cv", "b.cv", "a.cnn", "b.cnn"))}) AS DOUBLE) AS ss,
    count(*) AS np
  FROM cn a JOIN cn b ON a.label < b.label)
SELECT i.label, i.n_vecs, round(i.cs / i.n_vecs, 6) AS intra_cos,
  round(x.ss / x.np, 6) AS inter_cos,
  round(round(i.cs / i.n_vecs, 6) - round(x.ss / x.np, 6), 6) AS margin
FROM intra i CROSS JOIN inter x ORDER BY i.label"""
  }

  // --------------------------------------------------------------- q227
  /** k-NN classification accuracy on the embedding labels — the
    * labeled-corpus quality check ("do embeddings place same-label
    * vectors near each other?") that complements q190's geometric
    * margins with a DECISION-level metric: each query-panel vector is
    * classified by the majority label of its [[K]] exact
    * nearest neighbors (self excluded — leave-one-out), ties broken by
    * total cosine then label; per true label: panel size, correct
    * votes, accuracy.
    *
    * Shape for 100 TB: reuses q30's panel discipline — the broadcast
    * query panel keeps the exact pass bounded at any corpus size; the
    * vote is a window over O(panel × K) rows; output O(labels). */
  def q227KnnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val knn = q30KnnBrute(spark, sfDir)
    val votes = knn
      .join(labels.withColumnRenamed("vec_id", "neighbor")
        .withColumnRenamed("label", "nlabel"), "neighbor")
      .groupBy(col("qid"), col("nlabel"))
      .agg(count(lit(1)).as("n_votes"),
        sum(col("cosine").cast(DecimalType(38, 6))).cast("double").as("vote_cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("n_votes").desc, col("vote_cos").desc, col("nlabel"))
    val predicted = votes.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("qid"), col("nlabel").as("predicted"))
    predicted
      .join(labels.withColumnRenamed("vec_id", "qid"), "qid")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_panel"),
        sum(when(col("predicted") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n_panel"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_panel"), 6).as("accuracy"))
      .orderBy(col("label"))
  }

  val q227Sql: String =
    s"""WITH $vecsCte,
qs AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM ed WHERE vec_id % $QueryMod = 0 AND vec_id < $QueryCap),
scored AS (
  SELECT q.qid, e.vec_id, round(${Sql.listCosineByNorm("q.qv", "e.v", "q.qn", "e.nrm")}, 6) AS cosine
  FROM qs q JOIN ed e ON q.qid <> e.vec_id),
ranked AS (
  SELECT qid, vec_id, cosine,
    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
  FROM scored),
knn AS MATERIALIZED (
  SELECT qid, vec_id AS neighbor, cosine FROM ranked WHERE rank <= $K),
votes AS (
  SELECT k.qid, l.label AS nlabel, count(*) AS n_votes,
    CAST(sum(CAST(k.cosine AS DECIMAL(38,6))) AS DOUBLE) AS vote_cos
  FROM knn k JOIN embeddings l ON l.vec_id = k.neighbor
  GROUP BY 1, 2),
predicted AS (
  SELECT qid, nlabel AS predicted FROM (
    SELECT qid, nlabel,
      row_number() OVER (PARTITION BY qid
        ORDER BY n_votes DESC, vote_cos DESC, nlabel) AS rk
    FROM votes) WHERE rk = 1)
SELECT l.label, count(*) AS n_panel,
  CAST(sum(CASE WHEN p.predicted = l.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
  round(CAST(sum(CASE WHEN p.predicted = l.label THEN 1 ELSE 0 END) AS DOUBLE)
    / count(*), 6) AS accuracy
FROM predicted p JOIN embeddings l ON l.vec_id = p.qid
GROUP BY l.label ORDER BY l.label""".stripMargin

  // ---------------------------------------------------------------- q266
  /** MMR relevance/diversity mix, candidate depth, picks. The two
    * weights are SEPARATE literal constants so both engines expand the
    * identical doubles (1 − 0.7 is not 0.3 in IEEE). */
  val MmrLambda = 0.7
  val MmrDiversity = 0.3
  val MmrCandidates = 24
  val MmrPicks = 8

  /** Maximal Marginal Relevance diversified retrieval (Carbonell &
    * Goldstein) — the DEDUP-AWARE top-k: plain cosine top-k (q30)
    * returns near-duplicates of the best hit; MMR greedily picks
    * argmax λ·rel(c) − (1−λ)·max_sim(c, selected), so each pick is
    * relevant AND far from what's already chosen — the retrieval set a
    * RAG context window or a diverse training batch actually wants.
    * Reports pick order, relevance, the similarity-to-selected at pick
    * time, and the MMR score.
    *
    * Shape for 100 TB: relevance reduces the corpus to a top-C
    * TakeOrdered candidate frame (C is the knob; the corpus never
    * meets itself); the greedy loop then runs k−1 rounds of a
    * (≤C × ≤k) broadcast pair scoring + a 1-row argmax — bounded work
    * independent of corpus size, the q183 per-round-argmax shape. */
  def q266Mmr(spark: SparkSession, sfDir: String): DataFrame = {
    val e = vecs(spark, sfDir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val cand = graft.Checkpoints.materialize(e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("v"), col("nrm"),
        round(VF.cosineByNorm(col("qv"), col("v"), col("qn"), col("nrm")), 6)
          .as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(MmrCandidates))
    var r = 1
    val (sel, _) = graft.Checkpoints.iterate(cand
        .orderBy(col("rel").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("v"), col("nrm"), col("rel"),
          lit(1).as("pick"), col("rel").as("mmr"), lit(0.0).as("max_sim")),
        MmrPicks - 1) { sel =>
      r += 1
      val s = sel.select(col("vec_id").as("sid"), col("v").as("sv"),
        col("nrm").as("sn"))
      val mmrScore = round(lit(MmrLambda) * col("rel")
        - lit(MmrDiversity) * col("max_sim"), 6)
      val pick = cand
        .join(sel.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .crossJoin(broadcast(s))
        .groupBy(col("vec_id"), col("v"), col("nrm"), col("rel"))
        .agg(max(round(VF.cosineByNorm(col("v"), col("sv"), col("nrm"),
          col("sn")), 6)).as("max_sim"))
        .select(col("vec_id"), col("v"), col("nrm"), col("rel"),
          lit(r).as("pick"), mmrScore.as("mmr"), col("max_sim"))
        .orderBy(mmrScore.desc, col("vec_id")).limit(1)
      sel.unionByName(pick)
    }
    sel.select(col("pick"), col("vec_id"), col("rel"),
      round(col("max_sim"), 6).as("max_sim"), col("mmr"))
      .orderBy(col("pick"))
  }

  val q266Sql: String = {
    def paircos(a: String, b: String): String =
      s"round(${Sql.listCosineByNorm(s"$a.v", s"$b.v", s"$a.nrm", s"$b.nrm")}, 6)"
    val sb = new StringBuilder
    sb ++= s"""WITH $vecsCte,
q AS (SELECT v AS qv, nrm AS qn FROM ed WHERE vec_id = 0),
cand AS MATERIALIZED (
  SELECT e.vec_id, e.v, e.nrm,
    round(${Sql.listCosineByNorm("e.v", "q.qv", "e.nrm", "q.qn")}, 6) AS rel
  FROM ed e CROSS JOIN q WHERE e.vec_id <> 0
  ORDER BY rel DESC, vec_id LIMIT $MmrCandidates),
sel1 AS MATERIALIZED (
  SELECT vec_id, v, nrm, rel, 1 AS pick, rel AS mmr, 0.0 AS max_sim
  FROM cand ORDER BY rel DESC, vec_id LIMIT 1)"""
    var prev = "sel1"
    for (r <- 2 to MmrPicks) {
      sb ++= s""",
rest$r AS MATERIALIZED (
  SELECT c.vec_id, c.v, c.nrm, c.rel,
    max(${paircos("c", "s")}) AS max_sim
  FROM cand c JOIN $prev s ON true
  WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
  GROUP BY c.vec_id, c.v, c.nrm, c.rel),
pick$r AS MATERIALIZED (
  SELECT vec_id, v, nrm, rel, $r AS pick,
    round($MmrLambda * rel - $MmrDiversity * max_sim, 6) AS mmr, max_sim
  FROM rest$r
  ORDER BY round($MmrLambda * rel - $MmrDiversity * max_sim, 6) DESC, vec_id LIMIT 1),
sel$r AS MATERIALIZED (
  SELECT * FROM $prev UNION ALL SELECT * FROM pick$r)"""
      prev = s"sel$r"
    }
    sb ++= s"""
SELECT pick, vec_id, rel, round(max_sim, 6) AS max_sim, mmr
FROM $prev ORDER BY pick"""
    sb.toString
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q266_mmr" -> q266Mmr,
    "q227_knn_classify" -> q227KnnClassify,
    "q190_class_separability" -> q190ClassSeparability,
    "q166_pq" -> q166Pq,
    "q160_ndcg" -> q160Ndcg,
    "q131_triplets" -> q131Triplets,
    "q99_ann_frontier" -> q99AnnFrontier,
    "q30_knn_brute" -> q30KnnBrute,
    "q31_knn_lsh" -> q31KnnLsh,
    "q32_ivf_knn" -> q32IvfKnn,
    "q33_quantize" -> q33Quantize,
    "q36_kmeans" -> q36KMeans,
    "q65_ann_recall" -> q65AnnRecall)

  val oracles: Map[String, String] = Map(
    "q266_mmr" -> q266Sql,
    "q227_knn_classify" -> q227Sql,
    "q190_class_separability" -> q190Sql,
    "q166_pq" -> q166Sql,
    "q160_ndcg" -> q160Sql,
    "q131_triplets" -> q131Sql,
    "q99_ann_frontier" -> q99Sql,
    "q30_knn_brute" -> q30Sql,
    "q31_knn_lsh" -> q31Sql,
    "q32_ivf_knn" -> q32Sql,
    "q33_quantize" -> q33Sql,
    "q36_kmeans" -> q36Sql,
    "q65_ann_recall" -> q65Sql)
}
