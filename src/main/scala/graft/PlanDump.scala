package graft
import java.nio.file.{Files, Paths}

/** Optimization-round tooling: dump `.explain("formatted")` for declared
  * queries to files (plans/rNN/<query>_<tag>.txt) so plan-shape claims in
  * OPTIMIZATION_rNN.md are checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> [q01_linkrank,...]
  * (no query list = all declared queries). SPARK_GRAFT_SF_DIR picks the
  * data dir (default sf0.1 — plan shape, not timing, so any SF works).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val only = if (args.length > 2)
      args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
    else Set.empty[String]
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.local(cpus, cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
      .foreach { name =>
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
            txt.getBytes("UTF-8"))
          println(s"[plandump] $name ok")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        } finally Checkpoints.drain(spark)
      }
    spark.stop()
  }
}
