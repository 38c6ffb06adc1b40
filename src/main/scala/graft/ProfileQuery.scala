package graft

/** Optimization-round tooling (guide §1/§7): run declared queries under
  * [[QueryMeter]] and print, per run, its totals and its slowest stages'
  * wall time, task time, GC, shuffle read/write, input and spill — the
  * Spark-UI stage view as text, since the bench runs with the UI
  * disabled.
  *
  * Usage: runMain graft.ProfileQuery q79_adamic_adar[,q189_als_sweep] [runs]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val runs = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, cpus)
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- names; r <- 1 to runs) {
      val (_, m) = QueryMeter.measure(spark, name) {
        try SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        finally Checkpoints.drain(spark)
      }
      val ss = m.stages
      println(f"== $name run $r: wall ${m.wallS}%.2f s, jobs ${m.jobs}, " +
        f"stages ${ss.size}, stage-wall ${ss.map(_.wallMs).sum / 1e3}%.2f s, " +
        f"task-time ${m.taskS}%.2f s, gc ${m.gcS}%.2f s, " +
        f"shuffleW ${m.shuffleWriteBytes / 1048576.0}%.1f MB")
      ss.sortBy(-_.wallMs).take(14).foreach { s =>
        println(f"   stage ${s.name}%-80s wall ${s.wallMs}%6d ms task ${s.taskMs}%6d ms " +
          f"gc ${s.gcMs}%5d tasks ${s.tasks}%4d shR ${s.shuffleReadBytes / 1024}%8d KB " +
          f"shW ${s.shuffleWriteBytes / 1024}%8d KB in ${s.inputBytes / 1024}%8d KB " +
          f"spill ${s.spillBytes / 1024}%6d KB")
      }
    }
    spark.stop()
  }
}
