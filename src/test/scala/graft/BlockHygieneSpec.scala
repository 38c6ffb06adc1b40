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
    // Live set while the result is readable: the run-local id map, the
    // vertex side and the last iterate; after drain the run contributes
    // nothing.
    assert(during - before <= 3, s"rank run leaked: before=$before during=$during")
    assert(after - before <= 0, s"drain left blocks: before=$before after=$after")
  }

  test("runCounted's output answers two actions before drain and leaks nothing after it") {
    // the output zips the id map's blocks with the last iterate's (no
    // checkpointed logs frame): both must stay readable until drain
    val edges = graph.WebGraph.edges(spark, sfDir).localCheckpoint()
    val init = graph.LinkRank.uniformInit(edges)
    val vertices = init.count()
    for (key <- Seq(None, Some("hygiene-out"))) {
      SessionCache.clear(spark)
      val before = persistentRdds
      val (out, rounds) = graph.LinkRank.runCounted(spark, edges, init, cacheKey = key)
      assert(rounds == 9)
      assert(out.count() == vertices, s"cacheKey=$key: first action")
      val scores = out.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(scores.size == vertices, s"cacheKey=$key: second action")
      assert(scores.values.forall(s => s >= 0.0 && s <= 10.0), s"cacheKey=$key")
      Checkpoints.drain(spark)
      SessionCache.clear(spark)
      assert(persistentRdds <= before,
        s"cacheKey=$key leaked: before=$before after=$persistentRdds")
    }
    Checkpoints.free(edges)
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

  test("Graft.logregFit leaves no per-round coefficient checkpoint after drain") {
    val sp = spark
    import sp.implicits._
    val df = (0 until 40).map(i => (i.toDouble, if (i % 3 == 0 || i > 30) 1.0 else 0.0))
      .toDF("x", "y")
    val before = persistentRdds
    assert(Graft.logregFit(df, col("x"), col("y"), iters = 4).collect().length == 1)
    Checkpoints.drain(spark)
    assert(persistentRdds <= before,
      s"logregFit leaked: before=$before after=$persistentRdds")
  }

  test("the walk-corpus memo stays readable after a drain (q151, drain, q240)") {
    // q151 builds the memo from Graft.randomWalks' materialized adjacency
    // and step frontiers; the drain releases those checkpoints, so q240
    // must read the memo's own persisted copy, not their lineage
    val q151 = SparkEntry.queries("q151_random_walks")
    val q240 = SparkEntry.queries("q240_walk_pmi")
    SessionCache.clear(spark)
    try {
      assert(q151(spark, sfDir).count() > 0)
      Checkpoints.drain(spark)
      val builds = SessionCache.builds.get()
      val afterDrain = q240(spark, sfDir).collect().toSeq
      assert(SessionCache.builds.get() === builds, "q240 rebuilt a memo q151 built")
      Checkpoints.drain(spark)
      SessionCache.clear(spark)
      val fresh = q240(spark, sfDir).collect().toSeq
      assert(afterDrain.nonEmpty)
      assert(afterDrain === fresh)
    } finally SessionCache.clear(spark)
  }

  test("Checkpoints.iterate: one live snapshot, stop ends the loop, drain frees the last") {
    val before = persistentRdds
    val init = spark.range(100).toDF("x").persist()
    assert(init.count() == 100)
    var initCachedAtFirstStep: Option[Boolean] = None
    val live = scala.collection.mutable.ArrayBuffer.empty[Int]
    val (last, rounds) = Checkpoints.iterate(init, maxRounds = 10, stop = { s =>
      live += persistentRdds
      s.agg(max(col("x"))).first().getLong(0) >= 103
    }) { s =>
      if (initCachedAtFirstStep.isEmpty) initCachedAtFirstStep = Some(init.storageLevel.isValid)
      s.select((col("x") + 1).as("x"))
    }
    assert(initCachedAtFirstStep.contains(false), "init still cached once its checkpoint exists")
    assert(rounds == 4, s"stop fires after the 4th round, ran $rounds")
    assert(live == Seq.fill(4)(before + 1), s"live persistent RDDs per round: $live")
    assert(last.agg(min(col("x")), max(col("x"))).first() ==
      org.apache.spark.sql.Row(4L, 103L))
    Checkpoints.drain(spark)
    assert(persistentRdds <= before, s"last snapshot survived drain: $before -> $persistentRdds")
  }

  test("every VertexLoop engine frees its loop state at drain (no cacheKey)") {
    val edges = graph.WebGraph.edges(spark, sfDir).localCheckpoint()
    val wedges = edges.withColumn("w", lit(1L))
    val verts = graph.WebGraph.vertices(edges)
    val seeds = verts.orderBy(col("id")).limit(3)
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dims = vecs.select(size(col("v"))).first().getInt(0)
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
        graph.LinkRank.uniformInit(edges), iters = 3, tol = Some(1e-12))._1),
      "Hits" -> (() => graph.Hits.run(spark, edges, iters = 3)),
      "Salsa" -> (() => graph.Salsa.run(spark, edges, iters = 3)),
      "Graft.kmeans" -> (() => Graft.kmeans(vecs, col("vec_id"), col("v"), k = 4, dims = dims)),
      "Graft.pqCodebook" -> (() => Graft.pqCodebook(vecs, col("vec_id"), col("v"),
        dims = dims, nSubs = 2, k = 4)))
    for ((name, run) <- engines) {
      val before = persistentRdds
      assert(run().count() > 0, s"$name returned no rows")
      Checkpoints.drain(spark)
      assert(persistentRdds <= before,
        s"$name leaked: before=$before after=$persistentRdds")
    }
    Checkpoints.free(edges)
  }

  // Persistent RDDs after the action, before drain, at sf0.001 (session
  // memos included): one loop snapshot plus the run's loop-invariant
  // frames. A loop that kept every round's blocks would hold one more
  // per round.
  private val heldBeforeDrain = Seq(
    "q183_bpe_merges" -> 1, "q214_matching" -> 4, "q266_mmr" -> 2, "q268_lsa_topics" -> 4)

  for ((key, held) <- heldBeforeDrain)
    test(s"$key holds $held persistent RDDs before drain and none after it") {
      SessionCache.clear(spark)
      Checkpoints.drain(spark)
      val before = persistentRdds
      val out = SparkEntry.queries(key)(spark, sfDir)
      assert(out.collect().nonEmpty, s"$key returned no rows")
      val during = persistentRdds - before
      Checkpoints.drain(spark)
      SessionCache.clear(spark)
      assert(during == held, s"$key held $during persistent RDDs before drain, pinned at $held")
      assert(persistentRdds <= before, s"$key leaked: before=$before after=$persistentRdds")
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
