package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Counts shuffle-WRITE records across completed stages. Records (not
  * bytes) because they are a pure function of the plan + data —
  * compression and serialization noise can't move them — so budgets can
  * be asserted tightly. */
object ShuffleMeter {
  private val records = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile private var installed = false

  private def install(spark: SparkSession): Unit = synchronized {
    if (!installed) {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
          records.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
      })
      installed = true
    }
  }

  /** Listener events drain asynchronously; poll until the counter is
    * quiet for two consecutive reads. */
  private def settled(): Long = {
    var prev = -1L
    var cur = records.get()
    var spins = 0
    while (cur != prev && spins < 40) {
      prev = cur; Thread.sleep(150); cur = records.get(); spins += 1
    }
    cur
  }

  /** Shuffle-write records attributable to `body`'s jobs. */
  def measure(spark: SparkSession)(body: => Unit): Long = {
    install(spark)
    val before = settled()
    body
    settled() - before
  }
}

/** The 100 TB scale posture as a FAILING BUILD instead of an argument:
  * every driver query's shuffle-write record count at sf0.001, run
  * cold (session memos cleared), must stay within 3× its committed
  * budget (`bench/shuffle_budgets.json`) — a refactor that
  * reintroduces a corpus-sized exchange (like the 300× row inflation
  * the r4 kernel pass removed) fails here instead of surviving until a
  * bench reader notices. The recorded budgets make the map-only claims
  * concrete: fingerprint/sampling/split/scoring rows shuffle ≤ ~2
  * records per OUTPUT row (the final deterministic orderBy is their
  * only exchange), never corpus × features. Operators with budget 0
  * (none today, but the strongest contract available) must stay at
  * exactly zero. Regenerate after an intentional plan change with
  * SPARK_GRAFT_FULL_TESTS=1 SPARK_GRAFT_RECORD_BUDGETS=1
  * sbt "testOnly graft.ShuffleBudgetSpec" — the record path refuses to
  * run without SPARK_GRAFT_FULL_TESTS=1 and names the @SlowSuite
  * suites a default run skips.
  */
@SlowSuite
class ShuffleBudgetSpec extends GraftSpec {

  private val budgetPath = java.nio.file.Paths.get("bench/shuffle_budgets.json")
  private val recordMode = sys.env.get("SPARK_GRAFT_RECORD_BUDGETS").contains("1")
  private val fullTests = sys.env.get("SPARK_GRAFT_FULL_TESTS").contains("1")

  /** The @SlowSuite classes on the test classpath — what a default
    * (non-full) test run skips. */
  private def slowSuites: Seq[String] = {
    val root = new java.io.File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val pkg = new java.io.File(root, "graft")
    Option(pkg.listFiles).toSeq.flatten.map(_.getName)
      .filter(n => n.endsWith(".class") && !n.contains("$"))
      .map(n => Class.forName("graft." + n.stripSuffix(".class"), false, getClass.getClassLoader))
      .filter(_.isAnnotationPresent(classOf[SlowSuite]))
      .map(_.getSimpleName).sorted
  }

  private def parseBudgets(): Map[String, Long] = {
    val text = new String(java.nio.file.Files.readAllBytes(budgetPath), "UTF-8")
    "\"(q[0-9a-z_]+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  test("every driver query stays within its committed shuffle-record budget (sf0.001, cold)") {
    if (recordMode && !fullTests) {
      val skipped = slowSuites.mkString(", ")
      println(s"ShuffleBudgetSpec: a default run skips the SlowSuite suites: $skipped")
      fail("refusing to re-record shuffle budgets without SPARK_GRAFT_FULL_TESTS=1 " +
        s"(a default run skips the SlowSuite suites: $skipped)")
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
    // other suites' cached blocks can force mid-query RDD eviction +
    // stage RECOMPUTATION, which re-executes shuffle writes and
    // double-counts records (seen: q34 at 2.07x alone-budget inside
    // the full suite) — start from an empty block manager
    spark.sparkContext.getPersistentRDDs.values
      .foreach(r => try r.unpersist(blocking = true) catch { case _: Throwable => () })
    // per-key leak gate: after its drain and a memo clear, every key
    // must leave the persistent RDDs as the loop found them; a leak is
    // named and then released, so the next key is judged on its own
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val leaks = Seq.newBuilder[String]
    val measured = names.map { n =>
      SessionCache.clear(spark)
      val recs = ShuffleMeter.measure(spark) {
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      Checkpoints.drain(spark)
      SessionCache.clear(spark)
      val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !baseline(id) }
      if (left.nonEmpty) {
        leaks += s"$n: ${left.size} persistent RDDs left after drain"
        left.values.foreach(_.unpersist(blocking = true))
      }
      n -> recs
    }

    if (recordMode) {
      val json = measured.map { case (n, r) => s"""  "$n": $r""" }
        .mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.createDirectories(budgetPath.getParent)
      java.nio.file.Files.write(budgetPath, json.getBytes("UTF-8"))
      info(s"recorded ${measured.size} budgets to $budgetPath")
    } else {
      assert(java.nio.file.Files.exists(budgetPath),
        s"$budgetPath missing — record it with SPARK_GRAFT_RECORD_BUDGETS=1")
      val budgets = parseBudgets()
      val missing = names.filterNot(budgets.contains)
      assert(missing.isEmpty,
        s"no committed shuffle budget for: $missing — re-record budgets")
      val violations = measured.flatMap { case (n, recs) =>
        val b = budgets(n)
        // 3x headroom: records are per stage EXECUTION, and memory
        // pressure can recompute a stage once (~2x worst observed);
        // the gate's target is the corpus-sized-exchange class
        // (10x-300x), which 3x still catches with a wide margin
        if (b == 0L && recs != 0L)
          Some(s"$n: map-only budget 0 but shuffled $recs records")
        else if (b > 0L && recs > 3L * b)
          Some(s"$n: $recs records > 3x budget $b")
        else None
      }
      assert(violations.isEmpty, "shuffle budget violations:\n" + violations.mkString("\n"))
    }
    val leaked = leaks.result()
    assert(leaked.isEmpty, s"${leaked.size} of ${names.size} keys leak blocks:\n" +
      leaked.mkString("\n"))
  }
}
