package graft

import org.apache.spark.sql.functions._

/** Block-manager hygiene: iterative operators must not leave one block
  * set per iteration behind (the r2 bench showed ~6× session-wide
  * slowdown from exactly that). Persistent-RDD count is the observable:
  * a 9-iteration rank run may keep O(1) live checkpoints plus session
  * caches, never O(iters).
  */
class BlockHygieneSpec extends GraftSpec {

  private def persistentRdds: Int = spark.sparkContext.getPersistentRDDs.size

  test("LinkRank run leaves O(1) persistent RDDs after drain, not O(iters)") {
    val edges = graph.WebGraph.edges(spark, sfDir)
    val before = persistentRdds
    // no cacheKey: everything the run materializes is run-local
    val out = graph.LinkRank.run(spark, edges, graph.LinkRank.uniformInit(edges))
    assert(out.count() > 0)
    val during = persistentRdds
    Checkpoints.drain(spark)
    val after = persistentRdds
    // 9 iterations would have left >= 9 checkpoint RDDs before the fix.
    // Live set while the result is readable: logs checkpoint (+ nothing
    // from the loop); after drain the run contributes nothing.
    assert(during - before <= 3, s"rank run leaked: before=$before during=$during")
    assert(after - before <= 0, s"drain left blocks: before=$before after=$after")
  }

  test("q25 label propagation converges early and frees per-round checkpoints") {
    val sp = spark
    import sp.implicits._
    // two 3-chains: converge in 2 rounds, far below an 8-round cap
    val und0 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L))
      .toDF("a", "b")
    val und = und0.unionAll(und0.select(col("b").as("a"), col("a").as("b")))
    val init = und.select(col("a").as("id")).unionAll(und.select(col("b").as("id")))
      .distinct().withColumn("lbl", col("id"))
    val before = persistentRdds
    val (labels, rounds) = graph.ConnectedComponents.propagate(und, init, maxIters = 8)
    assert(rounds < 8, s"expected early convergence, ran $rounds rounds")
    val got = labels.select(col("id"), col("lbl")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
    Checkpoints.free(labels)
    assert(persistentRdds - before <= 0,
      s"label loop leaked: before=$before after=${persistentRdds}")
  }

  test("every VertexLoop engine frees its loop state at drain (no cacheKey)") {
    val edges = graph.WebGraph.edges(spark, sfDir).localCheckpoint()
    val wedges = edges.withColumn("w", lit(1L))
    val verts = graph.WebGraph.vertices(edges)
    val seeds = verts.orderBy(col("id")).limit(3)
    val engines: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "WeightedRank" -> (() => graph.WeightedRank.run(spark, wedges,
        graph.LinkRank.uniformInit(edges), iters = 3)),
      "Ppr" -> (() => graph.Ppr.run(spark, edges, seeds, iters = 3)),
      "Katz" -> (() => graph.Katz.run(spark, edges, iters = 3)),
      "Sssp" -> (() => graph.Sssp.run(wedges, verts, seeds, maxIters = 3)),
      "LabelPropagation" -> (() => graph.LabelPropagation.run(edges,
        seeds.withColumn("lbl", lit(1L)), maxIters = 3)),
      "Bfs" -> (() => graph.Bfs.run(edges, verts, seeds, maxIters = 3)),
      "MultiBfs" -> (() => graph.MultiBfs.run(edges, seeds, maxIters = 3)),
      "LinkRank.runTrace" -> (() => graph.LinkRank.runTrace(spark, edges,
        graph.LinkRank.uniformInit(edges), iters = 3)),
      "LinkRank.runCounted(tol)" -> (() => graph.LinkRank.runCounted(spark, edges,
        graph.LinkRank.uniformInit(edges), iters = 3, tol = Some(1e-12))._1))
    for ((name, run) <- engines) {
      val before = persistentRdds
      assert(run().count() > 0, s"$name returned no rows")
      Checkpoints.drain(spark)
      assert(persistentRdds <= before,
        s"$name leaked: before=$before after=$persistentRdds")
    }
    Checkpoints.free(edges)
  }

  test("the damped-rank kernel frees its CSR, vertex and score RDDs (cacheKey)") {
    val edges = graph.WebGraph.edges(spark, sfDir).localCheckpoint()
    val verts = graph.WebGraph.vertices(edges)
    val first = verts.orderBy(col("id")).first().getString(0)
    val trusted = verts.withColumn("score", when(col("id") === first, 1.0).otherwise(0.0))
    val seeds = verts.orderBy(col("id")).limit(3)
    val key = Some("hygiene")
    val engines: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "TrustRank" -> (() => graph.LinkRank.run(spark, edges, trusted, iters = 3,
        trustedMode = true, cacheKey = key)),
      "Ppr" -> (() => graph.Ppr.run(spark, edges, seeds, iters = 3, cacheKey = key)))
    for ((name, run) <- engines) {
      SessionCache.clear(spark)
      val before = persistentRdds
      assert(run().count() > 0, s"$name returned no rows")
      assert(SessionCache.contains(spark, "rank-eod:hygiene"), s"$name built no shared CSR")
      Checkpoints.drain(spark)
      SessionCache.clear(spark)
      assert(persistentRdds <= before,
        s"$name leaked: before=$before after=$persistentRdds")
    }
    Checkpoints.free(edges)
  }
}
