package graft.graph

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Strongly connected components of a directed string-id graph, via
  * GraphX's SCC (the coloring/peeling Pregel formulation — forward
  * reach ∩ backward reach from per-round pivots, finalized components
  * removed between rounds). q66 covers the UNDIRECTED notion; this is
  * the directed one — mutual reachability, the link-analysis
  * prerequisite for condensation-DAG reasoning (rank flows between
  * SCCs, cycles trap it inside).
  *
  * The component label GraphX emits is the lowest surrogate vertex id
  * in the component; surrogate assignment (monotonically_increasing_id)
  * is partitioning-dependent, so the caller-visible label is re-derived
  * as the MINIMUM STRING id per component — deterministic however the
  * longs were dealt. Component membership itself is
  * assignment-independent.
  *
  * Scale: vertex ids travel as 8-byte longs through the iterations
  * (GraphXLinkRank's argument); the string ids appear only in the two
  * boundary equi-joins against the checkpointed mapping and the final
  * min-agg, all broadcastable when the vertex set is host-scale.
  */
object Scc {

  /** @param edges  (src, dst) directed string-id edges
    * @param numIter outer-iteration budget for GraphX's SCC loop; must
    *                cover the peeling depth (each round finalizes at
    *                least the current pivot's component)
    * @return (id, scc, scc_size): scc = min string id of the component
    */
  def run(spark: SparkSession, edges: DataFrame, numIter: Int,
          cacheKey: Option[String] = None): DataFrame = {
    val vmap = LinkRank.vmapFor(spark, WebGraph.vertices(edges), cacheKey)
    val edgeRdd = VertexLoop.vidEdges(edges, vmap)
      .select(col("svid"), col("dvid")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val graph = Graph.fromEdges(edgeRdd, (),
      StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
    val scc = graph.stronglyConnectedComponents(numIter)

    import spark.implicits._
    val comp = scc.vertices.toDF("vid", "comp")
    // surrogate component label -> canonical min STRING id, then sizes;
    // both aggs run on the vertex-scale frame.
    val labeled = comp.join(vmap, "vid").select(col("id"), col("comp"))
    val canon = labeled.groupBy(col("comp")).agg(min(col("id")).as("scc"))
    val out = labeled.join(canon, "comp")
      .select(col("id"), col("scc"))
    val sizes = out.groupBy(col("scc")).agg(count(lit(1)).as("scc_size"))
    val res = out.join(sizes, "scc").select(col("id"), col("scc"), col("scc_size"))
    graft.Checkpoints.deferCleanup(spark) { () =>
      scc.unpersist(blocking = false)
      graph.unpersist(blocking = false)
    }
    res
  }
}
