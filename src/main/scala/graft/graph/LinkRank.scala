package graft.graph

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
  * Scale posture (100 TB / 1000 executors): load, rounds and dump run
  * on [[DampedRank]] as one RDD dataflow —
  *  - one job builds the id map (string ids numbered inside their hash
  *    partition), the CSR edge side (out-degrees counted inside each
  *    partition) and the run's vertex side, all co-partitioned (no
  *    re-shuffle of the big edge table, no DataFrame join);
  *  - each round is one job: contributions are summed per destination
  *    inside each edge partition, so its one shuffle carries one block
  *    per (edge partition, vertex partition) pair;
  *  - the dangling mass, the tolerance / trace scalars and Σ ln s come
  *    back with the action that materializes the round — never a
  *    per-row join or a second job;
  *  - each round is local-checkpointed and the previous one released
  *    (on a real cluster swap in checkpoint-to-DFS);
  *  - the normalization costs one σ job; the output zips the id map's
  *    partitions with the last iterate.
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
    val run = dampedLoop(spark, edges, init, iters, damping, trustedMode, cacheKey)(halt)
    val raw = release(spark, run)
    if (!normalize) // raw damped scores (warm-start food)
      return (raw, run.rounds)

    // Log-normal CDF normalization in the oracle's two passes: μ from
    // Σ ln s, which came back with the last round's job, then σ from
    // Σ(ln s − μ)² in one job over the final scores.
    val n = run.first.n.toDouble
    val mu = run.last.logSum / n
    val sig0 = math.sqrt(run.logDeviation(mu) / n)
    val sigma = if (sig0 == 0.0) 1e-10 else sig0
    val out = raw.select(col("id"),
      (MathFunctions.normalCdf(log(col("score")), lit(mu), lit(sigma)) * lit(scale)).as("score"))
    (out, run.rounds)
  }

  /** [[runCounted]]'s and [[runTrace]]'s damped loop on [[DampedRank]]:
    * the id map and the CSR edge side (memoized per graph under
    * `cacheKey`), and up to `iters` updates from `init` — uniform
    * restart, or TrustRank's dangling mass split over the trusted
    * vertices (initial score within 1e-3 of 1.0). `stop` sees each
    * round's scalars; they ride the round's one job. */
  private def dampedLoop(spark: SparkSession, edges: DataFrame, init: DataFrame,
                         iters: Int, damping: Double, trustedMode: Boolean,
                         cacheKey: Option[String])
                        (stop: (DampedRank.Stats, DampedRank.Stats) => Boolean)
      : DampedRank.Result = {
    // Dense long vertex ids: web URLs are long strings, and every round
    // shuffles on the vertex key — mapping to an 8-byte surrogate once
    // (and back by position at the end) shrinks every round's shuffle.
    // With cacheKey set, the id map and the edge side are loop-invariant
    // per GRAPH, not per run — q01/q02/q10 all rank the same page graph,
    // so both build once per session.
    val trusted = when(abs(col("score") - 1.0) < 1e-3, 1.0).otherwise(0.0).as("p")
    val state = init.select(Seq(col("id"), col("score").cast("double")) ++
      (if (trustedMode) Seq(trusted) else Nil): _*)
    DampedRank.run(spark, edges.select(col("src"), col("dst")), state, damping, iters,
      idKey = cacheKey.map(k => s"rank-vmap:$k"), edgeKey = cacheKey.map(k => s"rank-eod:$k")) {
      first =>
        val n = first.n.toDouble
        // TrustRank: p = 1 on trusted vertices, Σp = |trusted|
        if (trustedMode)
          DampedRank.Restart((1.0 - damping) / n, 0.0, 0.0,
            if (first.pSum > 0) 1.0 / first.pSum else 0.0)
        else DampedRank.Restart((1.0 - damping) / n, 0.0, 1.0 / n, 0.0)
    }(stop)
  }

  /** The raw (id, score) result of a damped run. The run's blocks are
    * freed at the caller's drain, after its action. */
  private[graph] def release(spark: SparkSession, run: DampedRank.Result): DataFrame = {
    graft.Checkpoints.deferCleanup(spark)(() => run.free())
    run.frame
  }

  /** The `(id, vid)` view of the rank family's id map for a vertex set
    * `ids(id)`: vids are dense per partition and stable across reads.
    * Shared across queries of the same graph via SessionCache when
    * `cacheKey` is set (the `rank-vmap:` memo the rank loops use),
    * otherwise released at the next drain.
    *
    * The view carries no size statistics, so joins against it would be
    * planned blind and re-planned by AQE as stages finish, in an order
    * that varies run to run. It is hinted for broadcast exactly when
    * the planner's estimate of `ids` is under the broadcast threshold. */
  private[graph] def vmapFor(spark: SparkSession, ids: DataFrame,
                             cacheKey: Option[String]): DataFrame = {
    val view = DampedRank.idFrame(spark,
      DampedRank.idMap(spark, cacheKey.map(k => s"rank-vmap:$k"), ids),
      ids.schema.head.dataType)
    val small = ids.queryExecution.optimizedPlan.stats.sizeInBytes <=
      spark.sessionState.conf.autoBroadcastJoinThreshold
    if (small) broadcast(view) else view
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
    val run = dampedLoop(spark, edges, init, iters, damping,
      trustedMode = false, cacheKey) { (prev, st) =>
      trace += ((prev.dangling, st.l1Delta, st.mass))
      false
    }
    // the trace is driver-side rows: nothing reads the loop state again
    run.free()
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
