package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.MathFunctions

/** Iterative LinkRank / TrustRank on DataFrames.
  *
  * Semantics re-express the reference exactly
  * (LinkRankComputation.java:192-296, TrustRankComputation.java:214-329):
  * with the default superstepCount=10 the Giraph job performs 9
  * synchronous score updates
  *   v' = (1-d)/N + d * (Σ_{w→v} v_w/outdeg(w) + danglingTerm)
  * where the dangling mass D = Σ score of zero-out-degree vertices from
  * the PREVIOUS step; danglingTerm = D/N for LinkRank, and for
  * TrustRank D/|trusted| applied ONLY to trusted vertices (trusted =
  * initial score within 1e-3 of 1.0). Afterwards scores are normalized
  * through a log-normal CDF (LinkRankComputation.java:213-256): with
  * l = ln(v), mu = mean(l), sigma = population stdev (1e-10 when 0),
  * final = Phi_{mu,sigma}(l) * scale.
  *
  * Scale posture (100 TB / 1000 executors):
  *  - edges+outdeg are joined once, hash-partitioned on src, cached;
  *    every iteration's join reuses that partitioning (no re-shuffle of
  *    the big edge table);
  *  - the per-iteration contribution aggregation is a groupBy(dst) with
  *    map-side partial aggregation;
  *  - dangling mass is a 1-row aggregate broadcast into the same job —
  *    never a per-row join;
  *  - rounds run through [[VertexLoop.iterate]] (on a real cluster swap
  *    in checkpoint-to-DFS).
  */
object LinkRank {

  /** @param init (id, score) — one row per vertex, initial scores
    *             (uniform 1.0 per LinkRankVertexUniformInputFormat).
    * @param edges (src, dst) — cleaned (deduped) directed edges.
    * @return (id, score) — normalized scores in [0, scale], unrounded.
    */
  def run(spark: SparkSession, edges: DataFrame, init: DataFrame,
          iters: Int = 9, damping: Double = 0.85, scale: Double = 10.0,
          trustedMode: Boolean = false,
          cacheKey: Option[String] = None,
          tol: Option[Double] = None): DataFrame =
    runCounted(spark, edges, init, iters, damping, scale, trustedMode,
      cacheKey, tol)._1

  /** [[run]] plus the number of score updates actually performed.
    *
    * `tol` enables convergence halting: the loop stops once
    * max|v' − v| < tol, with `iters` as the round budget. The
    * reference's halting authority is the master compute
    * (LinkRankVertexMasterCompute.java:40-54), which schedules a FIXED
    * superstep count — so the oracle-verified default stays
    * tol=None/iters=9. At 100× data a fixed count is a guess (the
    * damped update contracts by `damping` per round regardless of n,
    * but the needed accuracy depends on downstream use); tolerance is
    * the scale-correct generalization, same shape as q25's
    * convergence-stop. Cost: one O(1)-row max-aggregate job per round
    * on the already-checkpointed snapshot.
    *
    * `normalize = false` skips the log-normal CDF and returns the RAW
    * damped iterate — the representation a warm start needs: feeding a
    * previous raw result back as `init` after an edge delta starts the
    * loop near the new fixed point, so `tol` halts in far fewer rounds
    * than a cold uniform init (normalized scores live on the [0,scale]
    * CDF grid, nowhere near the raw fixed point, and would warm-start
    * WORSE than uniform). LinkRankSpec has the convergence-count
    * property; the reference has no counterpart (every Giraph job
    * re-ranks from scratch) — this is the incremental-operations path
    * a 100 TB graph needs when one crawl batch lands.
    */
  def runCounted(spark: SparkSession, edges: DataFrame, init: DataFrame,
                 iters: Int = 9, damping: Double = 0.85, scale: Double = 10.0,
                 trustedMode: Boolean = false,
                 cacheKey: Option[String] = None,
                 tol: Option[Double] = None,
                 normalize: Boolean = true): (DataFrame, Int) = {

    // one scalar job per round on the materialized snapshot
    val converged: DataFrame => Boolean = tol.fold((_: DataFrame) => false) { eps =>
      ranks => {
        val d = ranks.agg(max(col("delta"))).first()
        d.isNullAt(0) || d.getDouble(0) < eps // null = empty graph
      }
    }
    // delta is only carried (and paid for) in tolerance mode
    val (ranks, rounds, vmap, eod, n) = dampedLoop(spark, edges, init, iters,
      damping, trustedMode, cacheKey, converged,
      s => if (tol.isDefined) Seq(abs(s - col("score")).as("delta")) else Nil)

    if (!normalize) // raw damped scores (warm-start food)
      return (release(spark, ranks, vmap, eod, cacheKey), rounds)

    // Log-normal CDF normalization — two explicit passes (sum, then
    // squared deviations) so the oracle's CTE arithmetic is identical.
    // The string id comes back via one final join against the mapping.
    val logs = ranks.join(vmap, "vid")
      .select(col("id"), log(col("score")).as("l"))
      .localCheckpoint()
    graft.Checkpoints.free(ranks) // logs is materialized; last iter's blocks can go
    val mu = logs.agg(sum(col("l"))).first().getDouble(0) / n
    val sig0 = math.sqrt(
      logs.agg(sum((col("l") - lit(mu)) * (col("l") - lit(mu)))).first().getDouble(0) / n)
    val sigma = if (sig0 == 0.0) 1e-10 else sig0

    val out = logs.select(col("id"),
      (MathFunctions.normalCdf(col("l"), lit(mu), lit(sigma)) * lit(scale)).as("score"))
    // `out` still reads logs' blocks lazily — free them at the harness
    // drain after the caller's action, not now.
    graft.Checkpoints.deferFree(logs)
    if (cacheKey.isEmpty) {
      eod.unpersist() // session-cached eod/vmap are shared, caller-owned
      graft.Checkpoints.free(vmap) // logs is materialized; the id map can go
    }
    (out, rounds)
  }

  /** [[runCounted]]'s and [[runTrace]]'s damped loop: the id map, the
    * edge side and the loop init (with the loop constants N and the
    * dangling divisor), then up to `iters` updates through
    * [[VertexLoop.iterate]]. Snapshots carry
    * (vid, dangling, trusted, score) plus `extra(score')`.
    *
    * Every update is checkpointed: the next step's dangling-mass
    * broadcast subplan reads the snapshot too, so an unmaterialized
    * chain would be recomputed once per consumer — measured worse than
    * the extra materialization barrier (batching every 3 steps was
    * tried and reverted).
    *
    * @return (last snapshot, rounds, vmap, eod, N) */
  private def dampedLoop(spark: SparkSession, edges: DataFrame, init: DataFrame,
                         iters: Int, damping: Double, trustedMode: Boolean,
                         cacheKey: Option[String], stop: DataFrame => Boolean,
                         extra: Column => Seq[Column])
      : (DataFrame, Int, DataFrame, DataFrame, Double) = {
    // The edge list is consumed by outdeg, the join base, and (via the
    // caller's init) the vertex set. Pass an already-cached frame
    // (WebGraph.cachedEdges) so the derivation runs once per session —
    // the loop does not persist/unpersist it, the cache is caller-owned.
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))

    // Dense long vertex ids: web URLs are long strings, and every
    // iteration shuffles on the vertex key — mapping to an 8-byte
    // surrogate once (and back once at the end) shrinks every
    // iteration's shuffle/sort keys. With cacheKey set, (vmap, eod) are
    // loop-invariant per GRAPH, not per run — q01/q02/q10 all rank the
    // same page graph, so the id mapping and the joined edge side build
    // once per session.
    val vmap = vmapFor(spark, init.select(col("id")), cacheKey)
    val eod = eodFor(spark, edges, vmap, cacheKey)

    // Vertex frame with loop-invariant flags, keyed by vid.
    val base = init.join(outdeg.withColumnRenamed("src", "id"), Seq("id"), "left")
      .join(vmap, "id")
      .select(col("vid"), col("score"),
        col("od").isNull.as("dangling"),
        (if (trustedMode) abs(col("score") - 1.0) < 1e-3 else lit(false)).as("trusted"))
      .repartition(col("vid"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // One pass for both loop constants.
    val cnts = base.agg(count(lit(1)),
      coalesce(sum(when(col("trusted"), 1L).otherwise(0L)), lit(0L))).first()
    val n = cnts.getLong(0).toDouble
    val divisor = if (trustedMode) cnts.getLong(1).toDouble else n
    val dTerm =
      if (trustedMode) when(col("trusted"), col("ds") / lit(divisor)).otherwise(lit(0.0))
      else col("ds") / lit(n)

    val (ranks, rounds) = VertexLoop.iterate(base, iters, stop) { cp =>
      dampedStep(cp.select(col("vid"), col("dangling"), col("trusted"), col("score")),
        eod, damping, col("score") / col("od"), lit((1.0 - damping) / n), dTerm) { s =>
        Seq(col("vid"), col("dangling"), col("trusted"), s.as("score")) ++ extra(s)
      }
    }
    (ranks, rounds, vmap, eod, n)
  }

  /** One synchronous damped update of `ranks(vid, dangling, score, …)`
    * over the loop-invariant edge side `eod(svid, dvid, …)`:
    *   score' = teleport + d · (Σ_{u→v} edgeContrib + dangling)
    * `edgeContrib` is evaluated per edge after the score join
    * (score / od for the uniform walk); `teleport` and `dangling` per
    * vertex, with the previous snapshot's dangling mass as `ds`. The
    * dangling mass is a 1-row aggregate cross-joined in (a broadcast
    * nested loop of one row), so the whole update is ONE job — no
    * driver round-trip between reading D and applying it. `out` maps
    * score' to the output columns. */
  private[graph] def dampedStep(ranks: DataFrame, eod: DataFrame, damping: Double,
                                edgeContrib: Column, teleport: Column,
                                dangling: Column)
                               (out: Column => Seq[Column]): DataFrame = {
    val dang = ranks.filter(col("dangling"))
      .agg(coalesce(sum(col("score")), lit(0.0)).as("ds"))
    val contribs = eod
      .join(ranks.select(col("vid"), col("score")), eod("svid") === col("vid"))
      .groupBy(col("dvid")).agg(sum(edgeContrib).as("contrib"))
      .withColumnRenamed("dvid", "cid")
    val newScore = teleport +
      lit(damping) * (coalesce(col("contrib"), lit(0.0)) + dangling)
    ranks
      .join(contribs, col("vid") === col("cid"), "left")
      .crossJoin(broadcast(dang))
      .select(out(newScore): _*)
  }

  /** The raw (id, score) result of a damped loop. The last snapshot's
    * blocks are freed at the caller's drain, after its action; without
    * a `cacheKey` the run-local edge side goes now and the id map at
    * the drain. */
  private[graph] def release(spark: SparkSession, ranks: DataFrame, vmap: DataFrame,
                             eod: DataFrame, cacheKey: Option[String]): DataFrame = {
    val out = ranks.join(vmap, "vid").select(col("id"), col("score"))
    graft.Checkpoints.deferFree(ranks)
    if (cacheKey.isEmpty) {
      eod.unpersist()
      graft.Checkpoints.deferCleanup(spark)(() => graft.Checkpoints.free(vmap))
    }
    out
  }

  /** The loop-invariant edge side (svid, dvid, od): edges joined with
    * out-degrees, both endpoints mapped to 8-byte surrogate ids,
    * hash-partitioned on svid ONCE so every iteration's contribution
    * join reuses the partitioning. Shared across every rank-family loop
    * on the same graph (LinkRank / TrustRank / PPR) via SessionCache
    * when `cacheKey` is set. */
  private[graph] def eodFor(spark: SparkSession, edges: DataFrame,
                            vmap: DataFrame,
                            cacheKey: Option[String]): DataFrame = {
    def build: DataFrame = VertexLoop
      .vidEdges(edges.join(edges.groupBy(col("src")).agg(count(lit(1)).as("od")), "src"), vmap)
      .select(col("svid"), col("dvid"), col("od"))
      .repartition(col("svid"))
    cacheKey match {
      case Some(k) => graft.SessionCache.cached(spark, s"rank-eod:$k")(build)
      case None => build.persist(StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** Dense long surrogate ids for a vertex set `ids(id)` → (id, vid).
    * Checkpointed so monotonically_increasing_id is assigned exactly
    * once (a recompute could reassign); shared by both rank backends,
    * and across queries of the same graph via SessionCache when
    * `cacheKey` is set. */
  private[graph] def vmapFor(spark: SparkSession, ids: DataFrame,
                             cacheKey: Option[String]): DataFrame = {
    def build: DataFrame = ids
      .repartition(col("id"))
      .withColumn("vid", monotonically_increasing_id())
      .localCheckpoint()
    cacheKey match {
      case Some(k) => graft.SessionCache.cached(spark, s"rank-vmap:$k")(build)
      case None => build
    }
  }

  /** Uniform-1.0 init over the vertex set of `edges`
    * (LinkRankVertexUniformInputFormat: score 1.0, NOT 1/N). */
  def uniformInit(edges: DataFrame): DataFrame =
    WebGraph.vertices(edges).withColumn("score", lit(1.0))

  /** Per-round convergence trace of the damped loop — the
    * observability product an operator watches instead of the scores:
    * for each round k, the dangling mass redistributed INTO the round
    * (Σ score of out-degree-0 vertices of r_{k−1}), the L1 step size
    * Σ|r_k − r_{k−1}| (the quantity a tolerance halt like q97's
    * thresholds), and the total raw mass Σ r_k. Same loop shape as
    * [[run]] (surrogate ids, loop-invariant cached edge side, one live
    * checkpoint); the trace costs ONE extra 1-row aggregate per round,
    * and the returned frame is O(iters) rows assembled on the driver.
    */
  def runTrace(spark: SparkSession, edges: DataFrame, init: DataFrame,
               iters: Int = 9, damping: Double = 0.85,
               cacheKey: Option[String] = None): DataFrame = {
    val trace = Seq.newBuilder[(Double, Double, Double)]
    val (ranks, _, vmap, eod, _) = dampedLoop(spark, edges, init, iters, damping,
      trustedMode = false, cacheKey,
      stop = { cp =>
        val st = cp.agg(max(col("ds")), sum(col("delta")), sum(col("score"))).first()
        trace += ((st.getDouble(0), st.getDouble(1), st.getDouble(2)))
        false
      },
      extra = s => Seq(abs(s - col("score")).as("delta"), col("ds")))
    // the trace is driver-side rows: nothing reads the loop state again
    graft.Checkpoints.free(ranks)
    if (cacheKey.isEmpty) {
      eod.unpersist()
      graft.Checkpoints.free(vmap)
    }
    import spark.implicits._
    trace.result().zipWithIndex
      .map { case ((ds, l1, mass), k) => (k + 1, ds, l1, mass) }
      .toDF("round", "raw_ds", "raw_l1", "raw_mass")
      .select(col("round"),
        round(col("raw_ds"), 6).as("dangling_mass"),
        round(col("raw_l1"), 6).as("l1_delta"),
        round(col("raw_mass"), 6).as("total_mass"))
  }
}
