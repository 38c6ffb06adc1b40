package graft.graph

import org.apache.spark.graphx.{Edge, Graph, TripletFields}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.MathFunctions

/** GraphX backend for LinkRank — the BASELINE-named canonical approach
  * ("GraphX PageRank algorithm"), kept semantically identical to the
  * DataFrame engine (graft.graph.LinkRank): same 9-update damped rule
  * with dangling redistribution, same log-normal CDF normalization.
  * GraphXLinkRankSpec asserts both backends agree on the reference's
  * gold fixtures and on the derived sf graph.
  *
  * When to prefer which: both run one Spark job per round with the
  * edge side co-partitioned and built once. The DataFrame engine is the
  * driver-verified default: its prologue and epilogue are Catalyst
  * plans that share the session's id map and CSR edge side with the
  * rest of a query, and its kernel ([[DampedRank]]) also carries the
  * trusted (TrustRank), personalized (Ppr) and weighted variants and
  * the tolerance halt. This backend demonstrates the same loop as
  * GraphX's Pregel-style message passing (aggregateMessages + a
  * per-step dangling scalar) for uniform LinkRank only, and is the
  * kernel's cross-backend check.
  */
object GraphXLinkRank {

  /** @param edges (src, dst) cleaned string-id edges
    * @param cacheKey when set, the string→long vertex-id mapping is the
    *                 session-shared one (LinkRank.vmapFor) — a session
    *                 that already ranked the same graph through the
    *                 DataFrame engine contributes its id map for free
    * @return (id, score) normalized like LinkRank.run */
  def run(spark: SparkSession, edges: DataFrame,
          iters: Int = 9, damping: Double = 0.85,
          scale: Double = 10.0,
          cacheKey: Option[String] = None): DataFrame = {

    // string ids -> dense longs on the DataFrame side: two Catalyst
    // equi-joins against the checkpointed mapping (hash exchanges on
    // 8-byte-suffixed keys, broadcastable when small) replace the r3
    // string-keyed RDD joins, which shuffled the full string edge list
    // twice with no shared partitioner.
    val vmap = LinkRank.vmapFor(spark, WebGraph.vertices(edges), cacheKey)

    val edgeRdd: RDD[Edge[Unit]] = VertexLoop.vidEdges(edges, vmap)
      .select(col("svid"), col("dvid")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))

    val n = vmap.count().toDouble
    // fromEdges only creates vertices that touch an edge; our vertex
    // set equals src ∪ dst, so that is exactly the id set.
    val graph = Graph.fromEdges(edgeRdd, 1.0,
      StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
    val outDeg = graph.outDegrees // (id, deg>0) pairs only
    val degGraph = graph.outerJoinVertices(outDeg) {
      (_, _, d) => d.getOrElse(0)
    }
    // Loop-invariant topology, built ONCE: the out-degree moves onto the
    // EDGE attribute (one triplet pass), so iterations ship only the
    // 8-byte score per vertex — not (score, deg) — and the message is
    // srcScore / edgeDeg, the DF engine's exact division. The static
    // dangling vertex set (co-partitioned with every VertexRDD of this
    // graph) drives the per-step dangling fold as a zip join.
    val topo = degGraph.mapTriplets(
      (t: org.apache.spark.graphx.EdgeTriplet[Int, Unit]) => t.srcAttr,
      TripletFields.Src)
    val danglingV = degGraph.vertices.filter(_._2 == 0).mapValues(_ => ())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nDangling = danglingV.count().toDouble // materializes degGraph too

    var g: Graph[Double, Int] = topo.mapVertices((_, _) => 1.0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Dangling mass by exact algebraic recurrence instead of a per-step
    // score fold: every dangling vertex's next score is
    // (1-d)/n + d*(msg + D/n), so
    //   D' = nD*((1-d)/n + d*D/n) + d*Σ_{dangling v} msg(v),
    // and the Σ term rides the SAME action that materializes the step's
    // messages (a zip join against the static dangling set) — ONE job
    // per iteration, down from r4's two (vertex fold + next-step
    // materialize). Init 1.0 ⇒ D_0 = nD. Distributing the sum this way
    // reassociates float additions at ~1e-16 relative — far inside the
    // 1e-9 cross-backend pin and the oracle's round(6) grid.
    var dangling = nDangling
    var laggedG: Option[Graph[Double, Int]] = None
    var laggedM: Option[org.apache.spark.graphx.VertexRDD[Double]] = None
    for (_ <- 1 to iters) {
      val msgs = g.aggregateMessages[Double](
        ctx => ctx.sendToDst(ctx.srcAttr / ctx.attr.toDouble),
        _ + _, TripletFields.Src)
        .persist(StorageLevel.MEMORY_AND_DISK)
      // the step's ONE action: materializes msgs (and with it this
      // step's vertex shipment) and returns the dangling-bound message
      // mass for the recurrence
      val sd = msgs.innerJoin(danglingV)((_, m, _) => m).map(_._2)
        .fold(0.0)(_ + _)
      laggedG.foreach(_.unpersist(blocking = false))
      laggedM.foreach(_.unpersist(blocking = false))
      val dTerm = dangling / n
      laggedG = Some(g)
      laggedM = Some(msgs)
      g = g.outerJoinVertices(msgs) { (_, _, m) =>
        (1.0 - damping) / n + damping * (m.getOrElse(0.0) + dTerm)
      }.persist(StorageLevel.MEMORY_AND_DISK)
      dangling = nDangling * ((1.0 - damping) / n + damping * dTerm) +
        damping * sd
    }

    // log-normal CDF normalization — same two-pass arithmetic as the
    // DataFrame engine (LinkRankComputation.java:213-256).
    val logs = g.vertices.map { case (id, score) => (id, math.log(score)) }
      .persist(StorageLevel.MEMORY_AND_DISK)
    val mu = logs.map(_._2).fold(0.0)(_ + _) / n // materializes g + logs
    laggedG.foreach(_.unpersist(blocking = false))
    laggedM.foreach(_.unpersist(blocking = false))
    danglingV.unpersist(blocking = false)
    // the fromEdges graph's blocks (mapTriplets built NEW edge
    // partitions for topo, so the originals are now dead weight)
    graph.unpersist(blocking = false)
    val sig0 = math.sqrt(logs.map(l => (l._2 - mu) * (l._2 - mu)).fold(0.0)(_ + _) / n)
    val sigma = if (sig0 == 0.0) 1e-10 else sig0

    // id mapping back on the DataFrame side: a Catalyst equi-join on the
    // 8-byte surrogate key (broadcastable when the vertex set is small)
    // instead of an RDD join that would shuffle both sides with no
    // shared partitioner.
    import spark.implicits._
    val out = logs.toDF("vid", "l")
      .join(vmap, "vid")
      .select(col("id"),
        (MathFunctions.normalCdf(col("l"), lit(mu), lit(sigma)) * lit(scale)).as("score"))
    // logs is materialized (mu/sigma folds); the final graph can go now.
    g.unpersist(blocking = false)
    // `out` still reads logs AND vmap lazily — the checkpointed mapping
    // in particular must stay live until the caller's action completes:
    // a recomputed monotonically_increasing_id could reassign ids and
    // silently mis-join scores to urls. Freed at the harness drain
    // (session-cached vmaps are shared — SessionCache owns those).
    graft.Checkpoints.deferCleanup(spark) { () =>
      logs.unpersist(blocking = false)
      if (cacheKey.isEmpty) graft.Checkpoints.free(vmap)
    }
    out
  }
}
