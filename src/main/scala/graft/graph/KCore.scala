package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling over an undirected edge
  * frame: repeatedly delete every vertex whose degree among SURVIVING
  * vertices is below k — what remains is the k-core, the standard
  * "dense backbone" extraction (spam farms cluster in high cores;
  * low-core pages are periphery).
  *
  * Implementation is DEGREE-DECREMENT peeling (r10): the state frame
  * carries (vertex, live degree); a round filters the sub-k vertices
  * out and subtracts, from each survivor, its edge count INTO the
  * just-removed set — identical by induction to recomputing full
  * degrees over the surviving subgraph every round (the unrolled shape
  * the oracle runs), but the per-round work is proportional to the
  * edges INCIDENT TO REMOVED VERTICES, not to the whole graph: after
  * the first cut, rounds touch a shrinking frontier (the removed set is
  * typically a few percent), and AQE broadcast-joins it against the
  * edge frame. The r9 shape re-scanned and re-aggregated ALL surviving
  * edges every round — 2 semi-joins + a full groupBy × rounds — which
  * is what made q89 the single most expensive cold key on the loaded
  * driver host (173 s).
  *
  * Scale shape: one full-degree aggregation up front; each round is one
  * equi-join of the edge frame against the (small) removed set plus a
  * left join of two vertex-level frames — hash-partitioned, partial
  * aggregation, nothing collected; one checkpointed snapshot live at a
  * time. Peeling is monotone (the survivor set only shrinks), so the
  * fixed point is reached when a round deletes nothing — and from there
  * every further round is the identity, making a budget-R run
  * result-identical to exactly-R unrolled rounds (the q66 equality
  * argument the q89 oracle leans on). Convergence needs at most
  * "peeling depth" rounds — small on real graphs (degrees collapse
  * geometrically), bounded by the budget for adversarial chains.
  *
  * The loop is hand-written, not [[graft.Checkpoints.iterate]]: its
  * first state `deg0` is read again after the loop by the final
  * all-vertices join, and `iterate` frees every snapshot but the last.
  */
object KCore {

  /** Survivors of k-core peeling over `und(a, b)` — an UNDIRECTED
    * symmetric edge frame (both orientations present, no self-loops).
    *
    * @return (id, in_core, core_deg) for every vertex of `und`:
    *         core_deg is the vertex's degree within the core
    *         (0 when peeled). */
  def run(und: DataFrame, k: Int, maxIters: Int): DataFrame = {
    // hash-partition the edge frame on the per-round join key ONCE:
    // und arrives partitioned by its distinct's (a,b) key, so without
    // this every round's delta join re-exchanges ALL edges to align on
    // `b` (measured: the per-round edge shuffle dominated q89's 200 MB
    // shuffle volume at sf0.1). Persisted partitioning is reused by
    // every round's join; only the small removed set shuffles per round.
    val e = graft.Checkpoints.cache(und.select(col("a"), col("b"))
      .repartition(col("b")))
    // full degrees once (symmetric frame: every vertex appears as `a`);
    // the loop maintains them incrementally from here
    val deg0 = graft.Checkpoints.materialize(e.groupBy(col("a")).agg(count(lit(1)).as("deg")))
    var cur = deg0
    var aliveN = cur.count()
    var rounds = 0
    var converged = false
    while (rounds < maxIters && !converged) {
      val removed = cur.filter(col("deg") < lit(k.toLong))
      val surv = cur.filter(col("deg") >= lit(k.toLong))
      // survivors lose one degree per edge into the removed set
      val delta = e.join(removed.select(col("a").as("b")), Seq("b"))
        .groupBy(col("a")).agg(count(lit(1)).as("d"))
      val next = surv.join(delta, Seq("a"), "left")
        .select(col("a"),
          (col("deg") - coalesce(col("d"), lit(0L))).as("deg"))
      val cp = graft.Checkpoints.materialize(next)
      // deg0's blocks outlive the loop (the final all-vertices join
      // reads them until drain) — free only loop snapshots
      if (!(cur eq deg0)) graft.Checkpoints.free(cur)
      cur = cp
      rounds += 1
      val n = cur.count() // one job on the materialized checkpoint
      converged = n == aliveN
      aliveN = n
    }
    val out = deg0.select(col("a").as("id"))
      .join(cur.select(col("a").as("id"), lit(true).as("in_core"),
        col("deg").as("core_deg")), Seq("id"), "left")
      .select(col("id"), coalesce(col("in_core"), lit(false)).as("in_core"),
        coalesce(col("core_deg"), lit(0L)).as("core_deg"))
    e.unpersist()
    out
  }
}
