package graft

import org.apache.spark.sql.functions._
import graft.graph.WebGraph

/** r12 optimization-round contracts:
  *  - bounded-graph edge broadcasts are SIZE-GATED (r11 verdict item 7):
  *    under the gate the wedge joins broadcast, past it they fall back
  *    to the planner's shuffle strategy — same rows either way;
  *  - q34's GraphX rank output is session-memoized (verdict item 6) so
  *    a warm session reads the memo instead of re-running Pregel.
  */
class R12OptSpec extends GraftSpec {

  test("Triangles broadcastEdges is size-gated: BHJ under, shuffle join past") {
    // other suites may have cached an identical wedge subtree — the
    // CacheManager would then swap an InMemoryRelation in ABOVE the
    // joins and hide them from this plan-string assert (seen in the
    // full-suite run); start from a clean cache
    spark.catalog.clearCache()
    SessionCache.clear(spark)
    val edges = WebGraph.cachedHostEdges(spark, sfDir)
      .select(col("src"), col("dst"))
    val under = graft.graph.Triangles.run(edges, broadcastEdges = true)
      .queryExecution.executedPlan.toString
    assert(under.contains("BroadcastHashJoin"),
      s"fixture host graph is under the gate — wedge joins must broadcast:\n$under")
    // pin Spark's own size-based broadcast off while planning past the
    // gate: the fixture is tiny, so without the pin the planner would
    // broadcast it by itself and the assert would measure that, not
    // the gate
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val past = try graft.graph.Triangles.run(edges, broadcastEdges = true,
        maxBroadcastEdges = 1L)
      .queryExecution.executedPlan.toString
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    assert(!past.contains("BroadcastHashJoin"),
      s"past the gate the explicit broadcast hint must vanish:\n$past")
    // same result either side of the gate (the gate is a plan property,
    // never a semantics property)
    val a = graft.graph.Triangles.run(edges, broadcastEdges = true)
      .orderBy("id").collect().toSeq
    val b = graft.graph.Triangles.run(edges, broadcastEdges = true,
      maxBroadcastEdges = 1L).orderBy("id").collect().toSeq
    assert(a == b, "gate fallback changed the triangle census")
  }

  test("q34 graphx rank is session-memoized: warm call touches no GraphX job") {
    SessionCache.clear(spark)
    val cold = queries.GraphQueries.q34GraphxRank(spark, sfDir)
    cold.write.format("noop").mode("overwrite").save()
    Checkpoints.drain(spark)
    assert(SessionCache.contains(spark, s"graphx-rank:page:$sfDir"),
      "cold q34 run must build the session memo")
    val builds0 = SessionCache.builds.get()
    val warm = queries.GraphQueries.q34GraphxRank(spark, sfDir)
    warm.write.format("noop").mode("overwrite").save()
    Checkpoints.drain(spark)
    assert(SessionCache.builds.get() == builds0,
      "warm q34 run must hit the memo, not rebuild it")
  }
}
