package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, forcing FULL materialization through the noop
  * sink (a bare count() would let Catalyst prune the expensive
  * projection columns). Failures are reported in an "errors" object and
  * EXCLUDED from timings — a broken query can never improve the total.
  *
  * Output contract (r12 — the r11 verdict's #1 item): exactly ONE JSON
  * line containing the COMPLETE per-query map (every key, full names,
  * no truncation, no `queries_omitted`), printed as the final stdout
  * line AND written verbatim to SPARK_GRAFT_BENCH_OUT
  * (default bench/last_bench.json). The printed line and the file are
  * byte-identical; the file is the artifact of record if any log
  * wrapper cuts the stdout line. build.sbt sets
  * `outputStrategy := StdoutOutput` so the forked JVM's stdout reaches
  * the caller raw, with no sbt `[info] ` prefix in front of the line.
  *
  * Protocol (r12 — re-simplified after the r11 prior-guided protocol
  * proved unsound across hosts/core counts: a 32-core prior made every
  * 8-core run-1 look "noisy". No cross-run priors of any kind now):
  *
  *  1. **warm** (`queries` / `value`): one pass over every key, session
  *     memos retained across queries, as in a real analytics session
  *     running the whole suite. This pass ALWAYS runs to completion —
  *     it is the artifact's contract. A key whose run 1 BUILT a
  *     [[SessionCache]] memo paid a one-time build, so it gets one
  *     immediate build-free resample (min of the two) — publishing a
  *     build as "warm" would overstate every memo-builder.
  *  2. **cold** (`cold_queries`): structurally-cold timings
  *     (SessionCache.clear before the run, so the query pays its own
  *     one-time builds). Mode `auto` (default) measures ONLY the
  *     memo-touching keys found in (1) — for every other key cold ≡
  *     warm by construction. Each key runs cold once (repetition only
  *     strips host noise, which the budget does not afford).
  *     `total_cold` sums measured cold timings plus the WARM timing of
  *     every key not measured cold (= its structural cold cost).
  *     `SPARK_GRAFT_COLD=all` measures every key cold (min-of-RUNS);
  *     `=0` skips the pass.
  *  3. **resample** (min-of-2 floor, leftover budget): with whatever
  *     budget remains, keys are re-run in descending warm-time order
  *     and the min published — the slowest keys are where a single
  *     noisy sample distorts the total most. Memo-touching keys are
  *     excluded here after a cold pass (it cleared the session's memos;
  *     a rebuild would pollute the sample and min() would just discard
  *     it); with `SPARK_GRAFT_COLD=0` their memos are still live, so
  *     they are resampled like every other key. `n_resampled` reports
  *     how many samples phases 1.5 and 3 took.
  *
  * Phases 2–3 are time-boxed: SPARK_GRAFT_BUDGET_S (default 1200) is
  * the wall budget for the WHOLE run measured from main() entry. The
  * warm pass is never truncated; the cold pass stops at 0.92·budget
  * (skips counted in `n_cold_skipped`); the resample pass stops at
  * 0.97·budget. A partial cold map beats a timed-out rc with no
  * artifact at all.
  *
  * Env knobs: SPARK_GRAFT_ONLY=q23_ngram_jaccard,q32_ivf_knn restricts
  * the query set; SPARK_GRAFT_RUNS=3 sets min-of-N for the =all modes;
  * SPARK_GRAFT_COLD=auto|all|0 picks the cold mode (default auto);
  * SPARK_GRAFT_WARM=all gives every key min-of-RUNS in the warm pass
  * (local tuning runs where the budget is yours);
  * SPARK_GRAFT_BUDGET_S sets the wall budget.
  *
  * Layers (always on): `layers` maps every key to what its FIRST warm
  * run cost, read by [[QueryMeter]] (the run is the key's Spark job
  * group): `wall_s`, `jobs`, `stages`, `task_s`, `gc_s` (task GC),
  * `shuffle_write_mb`, `shuffle_read_mb`, `spill_mb` (disk), the
  * [[SessionCache]] memos it built (`memo_builds`) or hit
  * (`memo_hits`), the persistent RDDs the session holds after the
  * key's drain (`rdds_held`, session memos included) and the parquet
  * footers [[Tables]] failed to read (`footer_failures`). Later runs
  * are not metered: they read memos the first one built.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val t0Wall = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - t0Wall) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    val coldMode = sys.env.getOrElse("SPARK_GRAFT_COLD", "auto") // auto|all|0|1
    val warmMode = sys.env.getOrElse("SPARK_GRAFT_WARM", "auto") // auto|all
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BUDGET_S", "1200").toDouble
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/last_bench.json")
    val spark = GraftSession.local(cpus, cpus)

    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))

    def once(name: String): Either[String, Double] = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      } finally Checkpoints.drain(spark) // session stays block-clean per run
    }

    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    def mb(bytes: Long): Double = math.round(bytes / 10485.76) / 100.0
    def layer(m: QueryMeter.Reading, rddsHeld: Int): String =
      s"""{"wall_s":${r3(m.wallS)},"jobs":${m.jobs},"stages":${m.stages.size},""" +
        s""""task_s":${r3(m.taskS)},"gc_s":${r3(m.gcS)},""" +
        s""""shuffle_write_mb":${mb(m.shuffleWriteBytes)},"shuffle_read_mb":${mb(m.shuffleReadBytes)},""" +
        s""""spill_mb":${mb(m.spillBytes)},"memo_builds":${m.memoBuilds},"memo_hits":${m.memoHits},""" +
        s""""rdds_held":$rddsHeld,"footer_failures":${m.footerFailures}}"""

    // ---- Phase 1: warm (always complete; memo builders get one
    // build-free resample so no published warm number is build-polluted).
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val touched = scala.collection.mutable.LinkedHashSet.empty[String]
    val warm = scala.collection.mutable.LinkedHashMap.empty[String, Either[String, Double]]
    names.foreach { name =>
      val (first, m) = QueryMeter.measure(spark, name)(once(name))
      if (m.memoBuilds + m.memoHits > 0) touched += name
      layers(name) = layer(m, spark.sparkContext.getPersistentRDDs.size)
      // builds-only (not hits): a run that merely HIT an already-built
      // memo is a clean warm sample and needs no re-run
      val builtThis = m.memoBuilds > 0
      val extra =
        if (warmMode == "all" && elapsedS < 0.7 * budgetS) (2 to runs)
        else if (builtThis && first.isRight) Seq(2) // one build-free sample
        else Seq.empty
      val rs = first +: extra.map(_ => once(name))
      val oks = rs.collect { case Right(t) => t }
      warm(name) = if (oks.nonEmpty) Right(oks.min) else rs.head
    }

    // ---- Phase 1.5: resample the memo-TOUCHING keys while their memos
    // are still live (after the cold pass their re-runs would pay
    // rebuilds, so this is their only chance at a second clean sample —
    // without it each memo key publishes ONE unfiltered sample and a
    // single host-noise window prints as a fake regression; r12a saw
    // untouched q119 publish 16.4 s vs 3.9 s isolated this way).
    // Slowest first, boxed at 0.5·budget so the cold pass always fits.
    var memoResampled = 0
    warm.collect { case (n, Right(t)) if touched(n) => n -> t }
      .toSeq.sortBy(-_._2).foreach { case (n, t) =>
        if (elapsedS < 0.5 * budgetS) {
          once(n) match {
            case Right(t2) =>
              memoResampled += 1
              if (t2 < t) warm(n) = Right(t2)
            case Left(_) => ()
          }
        }
      }

    // ---- Phase 2: cold (mode-restricted, budget-boxed at 0.92·budget).
    val coldNames = coldMode match {
      case "0" => Seq.empty
      case "all" | "1" => names
      case _ => names.filter(touched) // auto: memo-touching keys only
    }
    val coldRuns = if (coldMode == "all" || coldMode == "1") runs else 1
    var coldSkipped = 0
    val cold = coldNames.flatMap { n =>
      if (elapsedS > 0.92 * budgetS) { coldSkipped += 1; None }
      else {
        val rs = (1 to coldRuns).map { _ =>
          SessionCache.clear(spark)
          once(n)
        }
        val oks = rs.collect { case Right(t) => t }
        Some(n -> (if (oks.nonEmpty) Right(oks.min) else rs.head))
      }
    }
    if (cold.nonEmpty) SessionCache.clear(spark)
    val coldOk = cold.collect { case (n, Right(t)) => n -> t }.toMap

    // ---- Phase 3: resample (min-of-2 floor with leftover budget,
    // slowest first). After a cold pass only memo-free keys: it dropped
    // the session's memos, so a memo key's re-run would pay a rebuild.
    // Without one the memos are live and a re-run is a clean warm sample.
    var resampled = 0
    val resampleOrder = warm.collect {
      case (n, Right(t)) if coldMode == "0" || !touched(n) => n -> t
    }.toSeq.sortBy(-_._2)
    resampleOrder.foreach { case (n, t) =>
      if (elapsedS < 0.97 * budgetS) {
        once(n) match {
          case Right(t2) =>
            resampled += 1
            if (t2 < t) warm(n) = Right(t2)
          case Left(_) => () // keep the successful first sample
        }
      }
    }

    def obj(xs: Seq[(String, Either[String, Double])]): (String, Double, Int) = {
      val ok = xs.collect { case (n, Right(t)) => n -> t }
      (ok.map { case (k, v) => s""""$k":${r3(v)}""" }.mkString("{", ",", "}"),
        ok.map(_._2).sum, ok.size)
    }
    val results = warm.toSeq
    val (qs, total, nOk) = obj(results)
    val (cqs, _, _) = obj(cold)
    // total_cold: measured cold timings + the warm timing of every key
    // not measured cold (cold ≡ warm for the memo-free; a budget-skipped
    // memo key contributes its warm floor and is counted in
    // n_cold_skipped so the reader knows the figure is a lower bound).
    val warmOk = results.collect { case (n, Right(t)) => n -> t }.toMap
    val coldTotal = names.map(n => coldOk.getOrElse(n, warmOk.getOrElse(n, 0.0))).sum
    // cold failures keyed distinctly: a query can fail cold yet succeed
    // warm (it stays in `queries`; the cold error is still reported),
    // and duplicate JSON keys would make n_err disagree with the parsed
    // object.
    val errs = results.collect { case (n, Left(m)) => n -> m } ++
      cold.collect { case (n, Left(m)) => s"$n (cold)" -> m }
    val es = errs.map { case (k, v) => s"${Verify.jsonString(k)}:${Verify.jsonString(v)}" }
      .mkString("{", ",", "}")
    val coldPart = if (cold.nonEmpty || coldMode != "0")
      s""""cold_queries":$cqs,"total_cold":${r3(coldTotal)},"cold_mode":"$coldMode","n_cold":${cold.size},"n_cold_skipped":$coldSkipped,"""
    else ""
    val layersPart = layers.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,$coldPart"layers":$layersPart,"n_resampled":${resampled + memoResampled},"errors":$es,"n_ok":$nOk,"n_err":${errs.size},"wall_s":${math.round(elapsedS)},"sf":"$sfDir"}"""
    // The COMPLETE line is both the stdout contract and the file
    // artifact, byte-identical — no compact/truncated variant exists
    // any more (r01–r11 all parsed as null because the printed line was
    // truncated to the slowest ~120 keys and wrapped by sbt's logger).
    try {
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // file write is best-effort; stdout is the contract
    spark.sparkContext.setLogLevel("ERROR")
    println(line)
    spark.stop()
  }
}
