package graft

import org.apache.spark.{GraftInternals, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** What a block of driver code costs Spark, from one listener per
  * SparkContext: its jobs, each completed stage (wall, tasks, task and
  * GC time, shuffle write bytes and records, shuffle read bytes, disk
  * spill, input), its wall time, the [[SessionCache]] memos it built or
  * hit, and the parquet footers [[Tables]] failed to read.
  *
  * The listener is attached by the first [[measure]] on a context and
  * records only while a measurement is open. The listener bus is settled
  * before and after the body (every event posted so far is delivered),
  * so a reading is complete the moment [[measure]] returns. Measurements
  * do not nest or overlap: one open measurement per context.
  */
object QueryMeter {

  /** One completed stage: the first line of its call site; times in ms,
    * sizes in bytes. */
  final case class Stage(name: String, wallMs: Long, tasks: Int, taskMs: Long, gcMs: Long,
                         shuffleWriteBytes: Long, shuffleWriteRecords: Long,
                         shuffleReadBytes: Long, spillBytes: Long, inputBytes: Long)

  /** The jobs and stages one [[measure]] body ran, with their sums. */
  final case class Reading(wallS: Double, jobs: Long, stages: Seq[Stage],
                           memoBuilds: Long, memoHits: Long, footerFailures: Long) {
    private def sum(f: Stage => Long): Long = stages.iterator.map(f).sum
    def taskS: Double = sum(_.taskMs) / 1e3
    def gcS: Double = sum(_.gcMs) / 1e3
    def shuffleWriteBytes: Long = sum(_.shuffleWriteBytes)
    def shuffleWriteRecords: Long = sum(_.shuffleWriteRecords)
    def shuffleReadBytes: Long = sum(_.shuffleReadBytes)
    def spillBytes: Long = sum(_.spillBytes)
  }

  private final class Listener extends SparkListener {
    private var open = false
    private var jobs = 0L
    private var stages = List.empty[Stage]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (open) jobs += 1
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (open) {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages ::= Stage(si.name.takeWhile(_ != '\n').take(80),
          (for { a <- si.completionTime; b <- si.submissionTime } yield a - b).getOrElse(-1L),
          si.numTasks, m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled, m.inputMetrics.bytesRead)
      }
    }

    def start(): Unit = synchronized { open = true; jobs = 0L; stages = Nil }

    /** The jobs started and stages completed since [[start]]. */
    def stop(): (Long, Seq[Stage]) = synchronized {
      open = false
      (jobs, stages.reverse)
    }
  }

  private var attached: Option[(SparkContext, Listener)] = None

  private def listenerOf(sc: SparkContext): Listener = synchronized {
    attached.collect { case (c, l) if c eq sc => l }.getOrElse {
      val l = new Listener
      sc.addSparkListener(l)
      attached = Some(sc -> l)
      l
    }
  }

  /** The job-group properties `SparkContext.setJobGroup` sets. */
  private val groupProps =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  /** Runs `body` with `key` as its job group (the caller's group is
    * restored after) and returns its value and what it cost. */
  def measure[T](spark: SparkSession, key: String)(body: => T): (T, Reading) = {
    val sc = spark.sparkContext
    val meter = listenerOf(sc)
    GraftInternals.settle(sc)
    val builds = SessionCache.builds.get()
    val touches = SessionCache.touches.get()
    val footers = Tables.footerFailures.get()
    val group = groupProps.map(p => p -> sc.getLocalProperty(p))
    meter.start()
    val t0 = System.nanoTime()
    val out =
      try {
        sc.setJobGroup(key, key)
        body
      } catch { case e: Throwable => meter.stop(); throw e }
      finally group.foreach { case (p, v) => sc.setLocalProperty(p, v) }
    val wallS = (System.nanoTime() - t0) / 1e9
    GraftInternals.settle(sc)
    val (jobs, stages) = meter.stop()
    val built = SessionCache.builds.get() - builds
    (out, Reading(wallS, jobs, stages, built, SessionCache.touches.get() - touches - built,
      Tables.footerFailures.get() - footers))
  }
}
