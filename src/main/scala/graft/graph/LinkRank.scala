package graft.graph

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  * Scale posture (100 TB / 1000 executors): the rounds run on
  * [[DampedRank]], one Spark job each —
  *  - edges are mapped once per graph into CSR partitions
  *    hash-partitioned on the source vid (out-degrees counted inside
  *    each partition) and co-partitioned with the vertex scores (no
  *    re-shuffle of the big edge table);
  *  - a round's contributions are summed per destination inside each
  *    edge partition, so its one shuffle carries one block per
  *    (edge partition, vertex partition) pair;
  *  - the dangling mass (and the tolerance / trace scalars) come back
  *    with the action that materializes the round — never a per-row
  *    join or a second job;
  *  - each round is local-checkpointed and the previous one released
  *    (on a real cluster swap in checkpoint-to-DFS).
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
    * convergence-stop. Cost: none — max|v' − v| comes back with the
    * round's one job.
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
    val halt: (DampedRank.Stats, DampedRank.Stats) => Boolean =
      tol.fold((_: DampedRank.Stats, _: DampedRank.Stats) => false) { eps =>
        (_, st) => st.n == 0 || st.maxDelta < eps // n = 0: the empty graph
      }
    val (run, vmap) = dampedLoop(spark, edges, init, iters, damping, trustedMode,
      cacheKey)(halt)

    if (!normalize) // raw damped scores (warm-start food)
      return (release(spark, run, vmap, cacheKey), run.rounds)

    // Log-normal CDF normalization — two explicit passes (sum, then
    // squared deviations) so the oracle's CTE arithmetic is identical.
    // The string id comes back via one final join against the mapping.
    val n = run.first.n.toDouble
    val logs = graft.Checkpoints.materialize(run.frame.join(vmap, "vid")
      .select(col("id"), log(col("score")).as("l")))
    run.free() // logs is materialized; the loop's blocks can go
    val mu = logs.agg(sum(col("l"))).first().getDouble(0) / n
    val sig0 = math.sqrt(
      logs.agg(sum((col("l") - lit(mu)) * (col("l") - lit(mu)))).first().getDouble(0) / n)
    val sigma = if (sig0 == 0.0) 1e-10 else sig0

    val out = logs.select(col("id"),
      (MathFunctions.normalCdf(col("l"), lit(mu), lit(sigma)) * lit(scale)).as("score"))
    if (cacheKey.isEmpty) graft.Checkpoints.free(vmap) // session-cached vmaps are shared
    (out, run.rounds)
  }

  /** [[runCounted]]'s and [[runTrace]]'s damped loop on [[DampedRank]]:
    * the id map, the CSR edge side (freed after the loop unless it is
    * the session's), and up to `iters` updates from `init` — uniform
    * restart, or TrustRank's dangling mass split over the trusted
    * vertices (initial score within 1e-3 of 1.0). `stop` sees each
    * round's scalars; they ride the round's one job.
    * @return (the run, vmap) */
  private def dampedLoop(spark: SparkSession, edges: DataFrame, init: DataFrame,
                         iters: Int, damping: Double, trustedMode: Boolean,
                         cacheKey: Option[String])
                        (stop: (DampedRank.Stats, DampedRank.Stats) => Boolean)
      : (DampedRank.Result, DataFrame) = {
    // Dense long vertex ids: web URLs are long strings, and every round
    // shuffles on the vertex key — mapping to an 8-byte surrogate once
    // (and back once at the end) shrinks every round's shuffle. With
    // cacheKey set, the id map and the edge side are loop-invariant per
    // GRAPH, not per run — q01/q02/q10 all rank the same page graph, so
    // both build once per session.
    val vmap = vmapFor(spark, init.select(col("id")), cacheKey)
    val csr = csrFor(spark, edges, vmap, cacheKey)
    val trusted = when(abs(col("score") - 1.0) < 1e-3, 1.0).otherwise(0.0).as("p")
    val state = init.join(vmap, "id")
      .select(Seq(col("vid"), col("score").cast("double")) ++
        (if (trustedMode) Seq(trusted) else Nil): _*)
    val run = DampedRank.run(csr, state, damping, iters) { first =>
      val n = first.n.toDouble
      // TrustRank: p = 1 on trusted vertices, Σp = |trusted|
      if (trustedMode)
        DampedRank.Restart((1.0 - damping) / n, 0.0, 0.0,
          if (first.pSum > 0) 1.0 / first.pSum else 0.0)
      else DampedRank.Restart((1.0 - damping) / n, 0.0, 1.0 / n, 0.0)
    }(stop)
    if (cacheKey.isEmpty) csr.unpersist(blocking = false)
    (run, vmap)
  }

  /** The raw (id, score) result of a damped run. The run's blocks are
    * freed at the caller's drain, after its action (a run-local id map
    * is released there too, as a [[graft.Checkpoints.materialize]]d
    * frame). */
  private[graph] def release(spark: SparkSession, run: DampedRank.Result, vmap: DataFrame,
                             cacheKey: Option[String]): DataFrame = {
    val out = run.frame.join(vmap, "vid").select(col("id"), col("score"))
    graft.Checkpoints.deferCleanup(spark)(() => run.free())
    out
  }

  /** The loop-invariant edge side as [[DampedRank]] CSR partitions:
    * every edge with both endpoints mapped to 8-byte surrogate ids
    * (svid, dvid), out-degrees counted per source inside the partition
    * (an edge whose dst is not in `vmap` keeps a null dvid, so it still
    * counts). Shared across every rank-family loop on the same graph
    * (LinkRank / TrustRank / PPR) via SessionCache when `cacheKey` is
    * set; otherwise the caller unpersists it. */
  private[graph] def csrFor(spark: SparkSession, edges: DataFrame, vmap: DataFrame,
                            cacheKey: Option[String]): RDD[DampedRank.EdgePart] =
    DampedRank.edgesFor(spark, cacheKey.map(k => s"rank-eod:$k")) {
      VertexLoop.vidEdges(edges, vmap, dstJoin = "left").select(col("svid"), col("dvid"))
    }

  /** Dense long surrogate ids for a vertex set `ids(id)` → (id, vid).
    * Checkpointed so monotonically_increasing_id is assigned exactly
    * once (a recompute could reassign); shared by both rank backends,
    * and across queries of the same graph via SessionCache when
    * `cacheKey` is set (otherwise released at the next drain). */
  private[graph] def vmapFor(spark: SparkSession, ids: DataFrame,
                             cacheKey: Option[String]): DataFrame = {
    def mapped: DataFrame = ids
      .repartition(col("id"))
      .withColumn("vid", monotonically_increasing_id())
    cacheKey match {
      case Some(k) => graft.SessionCache.cached(spark, s"rank-vmap:$k")(mapped.localCheckpoint())
      case None => graft.Checkpoints.materialize(mapped)
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
    * thresholds), and the total raw mass Σ r_k. Same loop as [[run]]
    * ([[DampedRank]]); the trace's scalars come back with each round's
    * one job, and the returned frame is O(iters) rows assembled on the
    * driver.
    */
  def runTrace(spark: SparkSession, edges: DataFrame, init: DataFrame,
               iters: Int = 9, damping: Double = 0.85,
               cacheKey: Option[String] = None): DataFrame = {
    val trace = Seq.newBuilder[(Double, Double, Double)]
    val (run, vmap) = dampedLoop(spark, edges, init, iters, damping,
      trustedMode = false, cacheKey) { (prev, st) =>
      trace += ((prev.dangling, st.l1Delta, st.mass))
      false
    }
    // the trace is driver-side rows: nothing reads the loop state again
    run.free()
    if (cacheKey.isEmpty) graft.Checkpoints.free(vmap)
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
