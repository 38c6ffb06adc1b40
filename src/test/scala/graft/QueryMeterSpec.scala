package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** The query meter reads exact counts the moment `measure` returns (no
  * settle loop, no sleep), tags the body's jobs with its key, and
  * reports memo builds, memo hits and failed footer reads. */
class QueryMeterSpec extends GraftSpec {

  private def sc = spark.sparkContext

  test("a 2-partition count reads exactly 1 job and 1 stage of 2 tasks") {
    val (n, m) = QueryMeter.measure(spark, "qm-count")(sc.parallelize(1 to 10, 2).count())
    assert(n == 10L)
    assert(m.jobs == 1L)
    assert(m.stages.map(_.tasks) == Seq(2))
    assert(m.shuffleWriteRecords == 0L)
  }

  test("reduceByKey over known keys reads its exact shuffle-write record count") {
    // slices [a a b b] and [b c c d]: map-side combine writes one record
    // per distinct key per slice, 2 + 3
    val pairs = Seq("a", "a", "b", "b", "b", "c", "c", "d").map(_ -> 1)
    val (out, m) = QueryMeter.measure(spark, "qm-shuffle") {
      sc.parallelize(pairs, 2).reduceByKey(_ + _).collect().toMap
    }
    assert(out == Map("a" -> 2, "b" -> 3, "c" -> 2, "d" -> 1))
    assert(m.jobs == 1L)
    assert(m.stages.size == 2)
    assert(m.shuffleWriteRecords == 5L)
    assert(m.shuffleWriteBytes > 0L && m.shuffleReadBytes > 0L)
  }

  test("jobs inside measure carry its key as job group; the caller's group comes back") {
    sc.setJobGroup("qm-outer", "outer")
    try {
      val before = sc.statusTracker.getJobIdsForGroup("qX").length
      QueryMeter.measure(spark, "qX") {
        sc.parallelize(1 to 4, 2).count()
        sc.parallelize(1 to 4, 2).map(_ * 2).collect()
      }
      assert(sc.statusTracker.getJobIdsForGroup("qX").length - before == 2)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "qm-outer")
      assert(sc.getLocalProperty("spark.job.description") == "outer")
      val outer = sc.statusTracker.getJobIdsForGroup("qm-outer").length
      QueryMeter.measure(spark, "qm-after")(sc.parallelize(1 to 4, 2).count())
      sc.parallelize(1 to 4, 2).count()
      org.apache.spark.GraftInternals.settle(sc)
      assert(sc.statusTracker.getJobIdsForGroup("qX").length - before == 2)
      assert(sc.statusTracker.getJobIdsForGroup("qm-outer").length == outer + 1)
    } finally sc.clearJobGroup()
  }

  test("a memo build reads builds = 1; its rerun reads hits = 1") {
    SessionCache.clear(spark)
    def memo(): Long = SessionCache.cached(spark, "qm-memo")(spark.range(5).toDF("x")).count()
    try {
      val (_, build) = QueryMeter.measure(spark, "qm-build")(memo())
      assert((build.memoBuilds, build.memoHits) == ((1L, 0L)))
      val (_, hit) = QueryMeter.measure(spark, "qm-hit")(memo())
      assert((hit.memoBuilds, hit.memoHits) == ((0L, 1L)))
    } finally SessionCache.clear(spark)
  }

  test("a footer read of a missing path bumps the failure count by 1") {
    val (n, m) = QueryMeter.measure(spark, "qm-footer") {
      Tables.rowGroups(spark, "/nonexistent/graft/qm.parquet")
    }
    assert(n == Int.MaxValue)
    assert(m.footerFailures == 1L)
    assert(m.jobs == 0L)
  }

  test("releasing local checkpoints logs no lineage WARN (rank run + drain)") {
    val lines = new AtomicInteger(0)
    val appender = new AbstractAppender("qm-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("was locally checkpointed")) lines.incrementAndGet()
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    appender.start()
    root.addAppender(appender, null, null)
    ctx.updateLoggers()
    try {
      // control: Spark's own unpersist of a local checkpoint logs it
      val warned = sc.parallelize(1 to 10, 2).localCheckpoint()
      warned.count()
      warned.unpersist()
      assert(lines.get() == 1, "the capture must see Spark's WARN")
      lines.set(0)

      val quiet = sc.parallelize(1 to 10, 2).localCheckpoint()
      quiet.count()
      Checkpoints.release(quiet)
      assert(!sc.getPersistentRDDs.contains(quiet.id))
      Checkpoints.release(quiet) // a second release is a no-op

      val edges = graph.WebGraph.edges(spark, sfDir)
      graph.LinkRank.run(spark, edges, graph.LinkRank.uniformInit(edges))
        .write.format("noop").mode("overwrite").save()
      Checkpoints.drain(spark)
      assert(lines.get() == 0, s"${lines.get()} lineage WARN lines")
    } finally {
      root.removeAppender("qm-capture")
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
