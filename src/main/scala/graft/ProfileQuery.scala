package graft
import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap

/** Optimization-round tooling (guide §1/§7): run declared queries with a
  * stage-metrics listener and print, per run, every job/stage's wall
  * time, task time, shuffle read/write and GC — the Spark-UI stage view
  * as text, since the bench runs with the UI disabled.
  *
  * Usage: runMain graft.ProfileQuery q79_adamic_adar[,q189_als_sweep] [runs]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object ProfileQuery {

  private final class StageMeter extends SparkListener {
    case class S(name: String, wallMs: Long, taskMs: Long, gcMs: Long,
                 tasks: Int, shRead: Long, shWrite: Long, spill: Long,
                 input: Long, out: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[S]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    private val jobStart = TrieMap.empty[Int, (Long, String)]
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobStart(j.jobId) = (j.time,
        Option(j.properties).map(_.getProperty("spark.job.description", "")).getOrElse(""))
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      jobStart.remove(j.jobId).foreach { case (t0, d) =>
        jobs.add((j.jobId, j.time - t0, d))
      }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      stages.add(S(si.name.takeWhile(_ != '\n').take(80),
        (for { a <- si.completionTime; b <- si.submissionTime } yield a - b).getOrElse(-1L),
        m.executorRunTime, m.jvmGCTime, si.numTasks,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val runs = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, cpus)
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- names; r <- 1 to runs) {
      val meter = new StageMeter
      spark.sparkContext.addSparkListener(meter)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Checkpoints.drain(spark)
      Thread.sleep(300) // let listener events drain
      spark.sparkContext.removeSparkListener(meter)
      import scala.jdk.CollectionConverters._
      val ss = meter.stages.asScala.toSeq
      println(f"== $name run $r: wall $wall%.2f s, jobs ${meter.jobs.size}, " +
        f"stages ${ss.size}, stage-wall ${ss.map(_.wallMs).sum / 1e3}%.2f s, " +
        f"task-time ${ss.map(_.taskMs).sum / 1e3}%.2f s, gc ${ss.map(_.gcMs).sum / 1e3}%.2f s, " +
        f"shuffleW ${ss.map(_.shWrite).sum / 1048576.0}%.1f MB")
      ss.sortBy(-_.wallMs).take(14).foreach { s =>
        println(f"   stage ${s.name}%-80s wall ${s.wallMs}%6d ms task ${s.taskMs}%6d ms " +
          f"gc ${s.gcMs}%5d tasks ${s.tasks}%4d shR ${s.shRead / 1024}%8d KB " +
          f"shW ${s.shWrite / 1024}%8d KB in ${s.input / 1024}%8d KB spill ${s.spill / 1024}%6d KB")
      }
    }
    spark.stop()
  }
}
