package graft

/** r11/r12 optimization-round contracts:
  *  - Tables.load spreads single-row-group scans to session parallelism
  *    ONLY for consumers that opt in (`spreadScan = true`, r12: the r11
  *    blanket spread taxed ~250 trivial keys per fact scan) and leaves
  *    every default load un-spread;
  *  - the spread gate reads parquet FOOTER row groups, not RDD
  *    partitions (r11 ADVICE: byte-range splits of one huge row group
  *    parallelize the plan, not the data);
  *  - a failed footer read is not memoized (a transient IO error must
  *    not pin the gate for the life of the JVM);
  *  - the spread is transparent to predicate pushdown (filters still
  *    reach the parquet scan through the Repartition);
  *  - TempDirs.ephemeral yields a writable per-run scratch dir and
  *    prefers tmpfs when the host has one.
  */
class R11OptSpec extends GraftSpec {

  test("opt-in scans spread to defaultParallelism; default loads untouched") {
    val p = spark.sparkContext.defaultParallelism
    assert(Tables.lineitem(spark, sfDir, spreadScan = true)
      .rdd.getNumPartitions >= p,
      "single-row-group lineitem scan must be spread to session parallelism when asked")
    assert(Tables.documents(spark, sfDir, spreadScan = true)
      .rdd.getNumPartitions >= p,
      "single-row-group documents scan must be spread to session parallelism when asked")
    // default loads carry NO spread exchange (r12: the exchange is pure
    // tax on trivial consumers and on dimension tables riding broadcasts)
    for (t <- Seq("lineitem", "documents", "nation")) {
      val plan = Tables.load(spark, sfDir, t)
        .queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("roundrobin"),
        s"default $t load must not carry the spread exchange")
    }
  }

  test("pushdown and pruning survive the spread exchange") {
    import org.apache.spark.sql.functions._
    val df = Tables.lineitem(spark, sfDir, spreadScan = true)
      .filter(col("l_quantity") > 40).select(col("l_orderkey"))
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("Exchange roundrobinpartitioning") ||
      plan.toLowerCase.contains("roundrobin"),
      s"spreadScan=true must add the round-robin exchange on this fixture:\n$plan")
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(l_quantity,40"),
      s"quantity filter must reach the scan through Repartition:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("l_comment"),
      "column pruning must reach the scan through Repartition")
  }

  test("a failed row-group footer read is not memoized") {
    val d = TempDirs.ephemeral("graft_rowgroups_")
    val path = d.resolve("t").toString
    try {
      assert(Tables.rowGroups(spark, path) == Int.MaxValue,
        "a path that does not exist yet must read as unknown")
      spark.range(10).coalesce(1).write.parquet(path)
      assert(Tables.rowGroups(spark, path) == 1,
        "once written, the same path must report its real row groups")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }

  test("TempDirs.withEphemeral deletes its dir when the body throws") {
    var seen: java.nio.file.Path = null
    val e = intercept[IllegalStateException] {
      TempDirs.withEphemeral("graft_spec_throw_") { d =>
        seen = d
        java.nio.file.Files.createDirectories(d.resolve("sub"))
        java.nio.file.Files.write(d.resolve("sub").resolve("f"), Array[Byte](1))
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(seen != null && !java.nio.file.Files.exists(seen), s"$seen was left behind")
    val kept = TempDirs.withEphemeral("graft_spec_ok_") { d => seen = d; 7 }
    assert(kept == 7 && !java.nio.file.Files.exists(seen))
  }

  test("TempDirs.ephemeral is writable and prefers tmpfs when present") {
    val d = TempDirs.ephemeral("graft_spec_")
    try {
      val f = d.resolve("probe")
      java.nio.file.Files.write(f, Array[Byte](1, 2, 3))
      assert(java.nio.file.Files.size(f) == 3)
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")) &&
        java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")) &&
        sys.env.get("SPARK_GRAFT_TMPDIR").isEmpty)
        assert(d.startsWith("/dev/shm"), s"expected tmpfs scratch dir, got $d")
    } finally {
      java.nio.file.Files.deleteIfExists(d.resolve("probe"))
      java.nio.file.Files.deleteIfExists(d)
    }
  }
}
