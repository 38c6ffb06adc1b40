package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.dedup.DedupQueries
import graft.graph.WebGraph
import graft.queries.{GraphQueries, SpectralQueries}

/** One broadcast policy (graft.Broadcasts): every size-gated hint graft
  * puts on a frame it built follows `spark.sql.autoBroadcastJoinThreshold`.
  * Each site runs twice — at the default threshold its small fixture
  * frame is broadcast, with the threshold at −1 nothing is — and the
  * join strategy never changes the rows.
  */
class BroadcastPolicySpec extends GraftSpec {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** Rows, the planned and the executed (post-AQE) plan of the frame
    * `site` builds, from empty caches: a cached subtree built by an
    * earlier run (or suite) would carry that run's strategy into this
    * plan. */
  private def run(site: => DataFrame): (Seq[Row], String, String) = {
    spark.catalog.clearCache()
    SessionCache.clear(spark)
    val df = site
    val planned = df.queryExecution.executedPlan.toString
    val rows = df.collect().toSeq
    (rows, planned, df.queryExecution.executedPlan.toString)
  }

  /** `op` is the broadcast join the site plans under the threshold. The
    * default-threshold assert reads the PLANNED strategy (graft's hint):
    * at run time AQE may broadcast a small fixture stage by itself. */
  private def policy(name: String, op: String = "BroadcastHashJoin")
                    (site: => DataFrame): Unit =
    test(s"$name: broadcast under the default threshold, none at -1, same rows") {
      val (under, underPlan, _) = run(site)
      val (off, offPlanned, offRan) = withConf(Threshold -> "-1")(run(site))
      Checkpoints.drain(spark)
      assert(underPlan.contains(op), s"$name must plan a $op:\n$underPlan")
      Seq(offPlanned, offRan).foreach { plan =>
        assert(!plan.contains(op) && !plan.contains("BroadcastHashJoin"),
          s"$name must not broadcast at $Threshold=-1:\n$plan")
      }
      assert(under.nonEmpty && under == off, s"$name rows changed with the strategy")
    }

  test("fits: a threshold <= 0 never fits, a positive one bounds the bytes") {
    withConf(Threshold -> "-1") { assert(!Broadcasts.fits(spark, 0)) }
    withConf(Threshold -> "0") { assert(!Broadcasts.fits(spark, 0)) }
    withConf(Threshold -> "1000") {
      assert(Broadcasts.fits(spark, 1000))
      assert(!Broadcasts.fits(spark, 1001))
      // one long column: 8 bytes of row overhead + 8 of value
      val longs = spark.range(10).toDF("x")
      assert(Broadcasts.fitsRows(longs, 62) && !Broadcasts.fitsRows(longs, 63))
    }
  }

  // an RDD-backed frame carries no size statistics (nor do graft's own
  // checkpoints), so only the measured size can plan the broadcast
  policy("Graft.triangles") {
    val e = WebGraph.cachedHostEdges(spark, sfDir)
    Graft.triangles(spark.createDataFrame(e.rdd, e.schema), col("src"), col("dst"))
      .orderBy(col("id"))
  }
  policy("q274 co-citation")(GraphQueries.q274Cocitation(spark, sfDir))
  policy("q291 triads")(GraphQueries.q291Triads(spark, sfDir))
  policy("q308 JW linkage")(DedupQueries.q308JwLinkage(spark, sfDir))
  policy("q309 DL linkage")(DedupQueries.q309DlLinkage(spark, sfDir))
  policy("q209 Fiedler")(SpectralQueries.q209Fiedler(spark, sfDir))
  // q214's joins run inside its round checkpoints and its output is
  // literal census rows, so the plans checked are those of every query
  // execution the run makes
  test("q214 matching: broadcast under the default threshold, none at -1, same rows") {
    def traced(): (Seq[Row], Seq[String]) = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                      ns: Long): Unit = plans.add(qe.executedPlan.toString)
        def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                      e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        val (rows, planned, ran) = run(GraphQueries.q214Matching(spark, sfDir))
        org.apache.spark.GraftInternals.settle(spark.sparkContext)
        (rows, Seq(planned, ran) ++ plans.toArray(Array.empty[String]))
      } finally spark.listenerManager.unregister(listener)
    }
    val (under, underPlans) = traced()
    val (off, offPlans) = withConf(Threshold -> "-1")(traced())
    Checkpoints.drain(spark)
    assert(underPlans.exists(_.contains("BroadcastHashJoin")),
      s"q214 must broadcast its vertex frames:\n${underPlans.mkString("\n")}")
    offPlans.foreach { plan =>
      assert(!plan.contains("BroadcastHashJoin"), s"q214 must not broadcast at $Threshold=-1:\n$plan")
    }
    assert(under.nonEmpty && under == off, "q214 rows changed with the strategy")
  }

  // the broadcast merge-walk is a cross join against the one-row union
  // set; past the threshold the join shape broadcasts nothing
  policy("Graft.decontaminate", op = "BroadcastNestedLoopJoin") {
    val docs = Tables.documents(spark, sfDir)
    val isBench = pmod(col("doc_id"), lit(DedupQueries.BenchMod)) === 0
    Graft.decontaminate(docs.filter(!isBench), col("doc_id"), col("text"),
      docs.filter(isBench), col("text")).orderBy(col("doc_id"))
  }
}
