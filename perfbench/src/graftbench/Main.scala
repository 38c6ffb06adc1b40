package graftbench

import scala.collection.mutable
import org.apache.spark.BusSettle
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Graft, GraftSession, SessionCache}
import graft.graph.LinkRank

/** Benchmark driver: one process, one driver thread, one closed-loop
  * client issuing graft calls back to back.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --dir <scratch dir> --cores <k> [--spans <file>]
  *
  * The last stdout line is the result JSON; earlier `{"info": …}` lines
  * describe the inputs and the passes. Exit code 1 when any operator call
  * or output check failed. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = Workloads.byName(opts.getOrElse("workload", "")).getOrElse {
      System.err.println(s"unknown workload: ${opts.getOrElse("workload", "")}")
      sys.exit(2)
    }
    val b = new Bench(workload, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", opts("dir"), opts("cores").toInt, opts.get("spans"))
    sys.exit(b.run())
  }
}

/** Figures of one pass. `layer` holds the per-layer readings. */
final case class PassStats(seconds: Double, peakMb: Double, traced: Boolean, layer: Map[String, Double])

final class Bench(wl: Workload, val seed: Long, seconds: Double, trace: Boolean,
                  val dir: String, val cores: Int, spansFile: Option[String]) {
  val SetupReps = 3
  val GoldTolerance = 1e-3
  val MinPasses = if (trace) 2 else 1

  var spark: SparkSession = _
  var tracer: Tracer = _
  private var storage: StorageMeter = _
  private val jobs = new JobMeter
  private val spanLog = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  /** Readings of the current pass, beyond the span times. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  private var excludedNs = 0L
  private var untimedDepth = 0

  private val born = System.nanoTime()
  private def clock: Double = (System.nanoTime() - born) / 1e9

  def path(name: String): String = new java.io.File(dir, name).getPath

  def info(kind: String, fields: Seq[(String, Any)]): Unit =
    println(Json.obj(Seq("info" -> Json.obj(Seq("kind" -> kind) ++ fields))).text)

  /** Runs `body` off the clock: set-up and pass times exclude it. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    untimedDepth += 1
    try body
    finally {
      untimedDepth -= 1
      if (untimedDepth == 0) excludedNs += System.nanoTime() - t0
    }
  }

  /** One operator call into graft, inside a span named after its layer. */
  def op[T](span: String)(body: => T): T = tracer(span) { attempted += 1; body }

  /** One output check, off the clock. A false result or an exception
    * counts as a failed operation. */
  def check(what: String)(ok: => Boolean): Unit = untimed {
    attempted += 1
    val good = try ok catch {
      case e: Throwable => System.err.println(s"check '$what' threw: $e"); false
    }
    if (!good) { failed += 1; System.err.println(s"FAILED check: $what") }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def startSession(): Unit = {
    spark = GraftSession.local(cores, cores)
    tracer = new Tracer(spark.sparkContext)
    storage = new StorageMeter
    spark.sparkContext.addSparkListener(storage)
  }

  private def counter(name: String): Long =
    try SessionCache.getClass.getMethod(name).invoke(SessionCache)
      .asInstanceOf[java.util.concurrent.atomic.AtomicLong].get()
    catch { case _: Throwable => -1L }

  /** Blocks freed asynchronously are gone before the next pass starts. */
  private def settleStorage(): Unit = {
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 2000000000L
    BusSettle(sc)
    while (storage.currentBytes > 0 && System.nanoTime() < deadline) {
      Thread.sleep(5)
      BusSettle(sc)
    }
  }

  private def pass(i: Int, traced: Boolean): PassStats = {
    val sc = spark.sparkContext
    SessionCache.clear(spark)
    settleStorage()
    val baseline = sc.getPersistentRDDs.size
    layer.clear()
    tracer.pass = i
    tracer.enabled = traced
    if (traced) { jobs.clear(); sc.addSparkListener(jobs) }
    val (builds0, touches0) = (counter("builds"), counter("touches"))
    storage.reset()
    val excluded0 = excludedNs
    val t0 = System.nanoTime()
    try tracer("pass") {
      wl.pass(this, i)
      op("checkpoints.drain")(Graft.drain(spark))
    } catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"pass $i failed: $e")
        e.printStackTrace()
    }
    val secs = (System.nanoTime() - t0 - (excludedNs - excluded0)) / 1e9
    BusSettle(sc)
    val peakMb = storage.peakBytes / 1048576.0
    val builds = counter("builds") - builds0
    layer("sessioncache.builds") = builds
    layer("sessioncache.hits") = counter("touches") - touches0 - builds
    SessionCache.clear(spark)
    layer("checkpoints.blocks_leaked") = sc.getPersistentRDDs.size - baseline
    if (traced) {
      BusSettle(sc)
      sc.removeSparkListener(jobs)
      layer ++= Layers.fromSpans(tracer.of(i), jobs, secs, layer.getOrElse(_, 0.0))
    }
    tracer.enabled = false
    layer("checkpoints.drain_s") = tracer.of(i).find(_.name == "checkpoints.drain").fold(0.0)(_.seconds)
    if (spansFile.isDefined && traced) tracer.of(i).foreach(s => spanLog += Json.obj(Seq(
      "name" -> s.name, "id" -> s.id, "parent" -> s.parent, "pass" -> s.pass,
      "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9)).text)
    System.err.println(f"[$clock%.1f] pass $i%d: $secs%.3f s, peak $peakMb%.1f MB${if (traced) " (traced)" else ""}")
    PassStats(secs, peakMb, traced, layer.toMap)
  }

  /** LinkRank's reference answers on two fixtures, through the same call
    * the workloads use. The tolerance is the one graft's own specs hold
    * these fixtures to: the log-normal normalization runs through an erf
    * approximation, so {a→b, b→c, a→c} lands 7.8e-4 from the reference c
    * and {a↔b} at 5.000000005. */
  private def goldFixtures(): Unit = {
    val session = spark
    import session.implicits._
    def ranks(edges: Seq[(String, String)]): Map[String, Double] = {
      val e = edges.toDF("src", "dst")
      val r = LinkRank.run(spark, e, LinkRank.uniformInit(e)).collect()
        .map(x => x.getString(0) -> x.getDouble(1)).toMap
      Graft.drain(spark)
      r
    }
    def near(r: Map[String, Double], want: Map[String, Double]): Boolean = {
      val ok = r.keySet == want.keySet && want.forall { case (k, v) => math.abs(r(k) - v) < GoldTolerance }
      if (!ok) System.err.println(s"gold: got $r, want $want")
      ok
    }
    check("gold: LinkRank on a->b, b->c, a->c")(near(ranks(Seq("a" -> "b", "b" -> "c", "a" -> "c")),
      Map("a" -> 1.3515060339386287, "b" -> 4.144902009567587, "c" -> 9.06389778197704)))
    check("gold: LinkRank on a<->b")(near(ranks(Seq("a" -> "b", "b" -> "a")), Map("a" -> 5.0, "b" -> 5.0)))
  }

  def run(): Int = {
    val setups = mutable.ArrayBuffer.empty[Double]
    val fingerprints = mutable.ArrayBuffer.empty[String]
    for (rep <- 0 until SetupReps) {
      if (spark != null) spark.stop()
      excludedNs = 0L
      val t0 = System.nanoTime()
      startSession()
      fingerprints += wl.generate(this)
      wl.prepare(this)
      setups += (System.nanoTime() - t0 - excludedNs) / 1e9
      System.err.println(f"[$clock%.1f] set-up $rep%d: ${setups.last}%.3f s")
    }
    check("inputs: every set-up generated the same inputs")(fingerprints.distinct.size == 1)
    val warmup = pass(-1, traced = false).seconds
    if (wl.ranks) goldFixtures()

    // A fixed pass count per (workload, --seconds): a count that depended
    // on how fast the passes ran would mix one- and two-pass medians.
    val count = math.max(MinPasses, math.round(seconds / wl.nominalPassSeconds).toInt)
    val passes = (0 until count).map(i => pass(i, traced = trace && i % 2 == 1))

    if (trace) info("inputs", wl.describe(this))
    val timed = passes.filterNot(_.traced)
    val passS = Stats.median(timed.map(_.seconds))
    info("passes", Seq("fingerprint" -> fingerprints.head, "setup_s" -> Json.arr(setups),
      "warmup_pass_s" -> warmup,
      "pass_s" -> Json.arr(timed.map(_.seconds)), "untraced_passes" -> timed.size,
      "traced_passes" -> (passes.size - timed.size), "rows_per_pass" -> wl.rows,
      "attempted" -> attempted, "failed" -> failed))
    spansFile.foreach { f =>
      val w = new java.io.PrintWriter(f)
      try spanLog.foreach(w.println) finally w.close()
    }
    spark.stop()

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", Stats.median(setups.toSeq), "s"),
        ("pass_s", passS, "s"),
        ("rows_per_s", wl.rows / passS, "1/s"),
        ("peak_storage_mb", Stats.median(timed.map(_.peakMb)), "MB"))
      else {
        val traced = passes.filter(_.traced)
        val tracedS = Stats.median(traced.map(_.seconds))
        Layers.names.map { case (name, unit) =>
          val v = name match {
            case "trace_overhead_frac" => tracedS / passS - 1.0
            case "passes" => traced.size.toDouble
            case _ => Stats.median(traced.map(_.layer.getOrElse(name, 0.0)))
          }
          (name, v, unit)
        }
      }
    println(Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) => n -> Json.obj(Seq("value" -> v, "unit" -> u)) }))).text)
    if (failed == 0) 0 else 1
  }
}

object Stats {
  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Minimal JSON rendering for the result and info lines. */
object Json {
  final case class Raw(text: String)
  def arr(xs: Iterable[Double]): Raw = Raw(xs.map(render).mkString("[", ", ", "]"))
  def obj(fields: Seq[(String, Any)]): Raw =
    Raw(fields.map { case (k, v) => s"${quote(k)}: ${render(v)}" }.mkString("{", ", ", "}"))
  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def render(v: Any): String = v match {
    case Raw(t) => t
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case s => quote(s.toString)
  }
}
