package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, when}

/** Counts Spark jobs launched by a block of driver code, with a settle
  * loop after the action so async listener delivery can't undercount. */
object JobMeter {
  private val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile private var installed = false

  private def install(spark: SparkSession): Unit = synchronized {
    if (!installed) {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
      installed = true
    }
  }

  private def settled(): Long = {
    var prev = -1L; var cur = jobs.get(); var spins = 0
    while (cur != prev && spins < 40) {
      prev = cur; Thread.sleep(150); cur = jobs.get(); spins += 1
    }
    cur
  }

  def measure(spark: SparkSession)(body: => Unit): Long = {
    install(spark)
    val before = settled()
    body
    settled() - before
  }
}

/** Job-count audit for the iterative loops: the marginal jobs PER
  * ROUND are pinned exactly (measured as a delta between two round
  * budgets of the same engine call, so one-time setup cancels out),
  * and the end-to-end driver rows get absolute ceilings. Each extra
  * job per round is a full scheduler round-trip that multiplies at
  * 100 TB — a regression from 1 to 2 jobs/step doubles the loop's
  * fixed cost and trips these exactly.
  */
class JobCountSpec extends GraftSpec {

  private def jobsOf(body: => org.apache.spark.sql.DataFrame): Long = {
    SessionCache.clear(spark)
    val n = JobMeter.measure(spark) {
      body.write.format("noop").mode("overwrite").save()
    }
    Checkpoints.drain(spark)
    n
  }

  test("GraphX rank loop: exactly ONE job per additional iteration (the r5 property)") {
    val edges = graph.WebGraph.cachedEdges(spark, sfDir)
    edges.count() // edge memo built outside both measurements
    def jobsAt(iters: Int): Long = {
      val n = JobMeter.measure(spark) {
        graph.GraphXLinkRank.run(spark, edges, iters = iters)
          .write.format("noop").mode("overwrite").save()
      }
      Checkpoints.drain(spark)
      n
    }
    val j3 = jobsAt(3)
    val j9 = jobsAt(9)
    info(s"graphx jobs: iters=3 -> $j3, iters=9 -> $j9")
    assert(j9 - j3 == 6L,
      s"marginal cost must be exactly 1 job/iteration, got ${(j9 - j3) / 6.0}")
    SessionCache.clear(spark)
  }

  // The DataFrame rank family runs its rounds on graph.DampedRank: ONE
  // job per round (local edge scan + one contribution shuffle + the
  // action that materializes the round and returns its scalars). AQE
  // stays on for the session — it still plans the one-time prologue
  // (id map, CSR edge side, vertex side) and epilogue joins; the loop
  // body is a fixed RDD dataflow it never re-plans. Pinned exactly so a
  // second pass per round (say a separate halt or trace aggregate)
  // trips at 2/round.
  private def marginal(name: String)(run: Int => org.apache.spark.sql.DataFrame): Unit = {
    def jobsAt(iters: Int): Long = {
      val n = JobMeter.measure(spark) {
        run(iters).write.format("noop").mode("overwrite").save()
      }
      Checkpoints.drain(spark)
      n
    }
    val j3 = jobsAt(3)
    val j9 = jobsAt(9)
    info(s"$name jobs: iters=3 -> $j3, iters=9 -> $j9")
    assert(j9 - j3 == 6L,
      s"$name: marginal cost must be exactly 1 job/round, got ${(j9 - j3) / 6.0}")
    SessionCache.clear(spark)
  }

  test("DataFrame rank loop: fixed marginal jobs per additional iteration") {
    val edges = graph.WebGraph.cachedEdges(spark, sfDir)
    val init = graph.LinkRank.uniformInit(edges)
    edges.count()
    marginal("LinkRank.run")(iters => graph.LinkRank.run(spark, edges, init, iters = iters))
  }

  test("rank loop with tol, runTrace and Ppr: exactly ONE job per additional round") {
    val edges = graph.WebGraph.cachedEdges(spark, sfDir)
    val init = graph.LinkRank.uniformInit(edges)
    val seeds = graph.WebGraph.vertices(edges).orderBy("id").limit(3)
    edges.count()
    // tol 0.0 never halts: every budgeted round runs its halt test
    marginal("runCounted(tol)")(iters => graph.LinkRank.runCounted(spark, edges, init,
      iters = iters, tol = Some(0.0))._1)
    marginal("runTrace")(iters => graph.LinkRank.runTrace(spark, edges, init, iters = iters))
    marginal("Ppr")(iters => graph.Ppr.run(spark, edges, seeds, iters = iters))
  }

  // Absolute ceilings for one rank call, load and dump included: the
  // kernel builds the id map, the CSR and the vertex side in one job
  // and the log-normal epilogue adds one σ job to the output's, so a
  // run costs its rounds plus a handful (13 jobs at 9 rounds when
  // pinned: the init frame's distinct, the load, 9 rounds, σ, output).
  test("LinkRank.runCounted without cacheKey: at most iters + 6 jobs in total") {
    SessionCache.clear(spark)
    val edges = graph.WebGraph.cachedEdges(spark, sfDir)
    val init = graph.LinkRank.uniformInit(edges)
    edges.count()
    val n = JobMeter.measure(spark) {
      graph.LinkRank.runCounted(spark, edges, init)._1
        .write.format("noop").mode("overwrite").save()
    }
    Checkpoints.drain(spark)
    SessionCache.clear(spark)
    info(s"runCounted jobs at 9 rounds: $n")
    assert(n <= 9 + 6, s"runCounted ran $n jobs for 9 rounds")
  }

  test("TrustRank on a warm cacheKey memo: 13 jobs in total (pinned)") {
    SessionCache.clear(spark)
    val edges = graph.WebGraph.cachedEdges(spark, sfDir)
    val verts = graph.WebGraph.vertices(edges)
    val first = verts.orderBy(col("id")).first().getString(0)
    val trusted = verts.withColumn("score", when(col("id") === first, 1.0).otherwise(0.0))
    val key = Some("jobcount")
    // the LinkRank run builds the id map and CSR memos; TrustRank reads them
    graph.LinkRank.run(spark, edges, graph.LinkRank.uniformInit(edges), cacheKey = key)
      .write.format("noop").mode("overwrite").save()
    Checkpoints.drain(spark)
    assert(SessionCache.contains(spark, "rank-vmap:jobcount"))
    assert(SessionCache.contains(spark, "rank-eod:jobcount"))
    // the init frame's distinct, the vertex side, 9 rounds, σ, output
    val n = JobMeter.measure(spark) {
      graph.LinkRank.run(spark, edges, trusted, trustedMode = true, cacheKey = key)
        .write.format("noop").mode("overwrite").save()
    }
    Checkpoints.drain(spark)
    SessionCache.clear(spark)
    info(s"warm TrustRank jobs: $n")
    assert(n == 13L, s"warm TrustRank ran $n jobs, pinned at 13")
  }

  // Absolute ceilings for the multi-round driver rows: measured-at-pin
  // (35 / 35 / 65 at sf0.001) + headroom for fixture drift, far below
  // the 2x that a jobs-per-round regression would cost.
  test("q66 connected components: bounded total jobs") {
    assert(jobsOf(SparkEntry.queries("q66_components")(spark, sfDir)) <= 45)
  }

  test("q69 BFS: bounded total jobs") {
    assert(jobsOf(SparkEntry.queries("q69_bfs_reach")(spark, sfDir)) <= 45)
  }

  test("q89 k-core: bounded total jobs") {
    assert(jobsOf(SparkEntry.queries("q89_kcore")(spark, sfDir)) <= 80)
  }
}
