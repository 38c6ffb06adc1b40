package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** RDD block bytes held in block-manager memory, with a resettable
  * high-water mark. Attached in every run: it only reads block updates.
  * Unpersisting an RDD drops its blocks without per-block events, so
  * that event clears the RDD's blocks here. */
final class StorageMeter extends SparkListener {
  private val sizes = mutable.HashMap.empty[(Int, Int), Long]
  @volatile private var current = 0L
  @volatile private var high = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    i.blockId.asRDDId.foreach { b =>
      val key = (b.rddId, b.splitIndex)
      val now = if (i.storageLevel.isValid) i.memSize else 0L
      current += now - sizes.getOrElse(key, 0L)
      if (now == 0L) sizes.remove(key) else sizes(key) = now
      high = math.max(high, current)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    sizes.keys.filter(_._1 == e.rddId).toList.foreach(k => current -= sizes.remove(k).get)
  }

  def reset(): Unit = synchronized { high = current }
  def peakBytes: Long = high
  def currentBytes: Long = current
}

/** Listener sums for the jobs of one span. */
final class JobSums {
  var jobs = 0
  var taskNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  /** (call site of the job's result stage, duration ms) per finished job. */
  val durations = mutable.ArrayBuffer.empty[(String, Long)]
}

/** Sums job, task, GC, shuffle and spill figures per Spark job group.
  * Only attached for traced passes. */
final class JobMeter extends SparkListener {
  val byGroup = mutable.HashMap.empty[String, JobSums]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, String, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith(Tracer.GroupPrefix)).foreach { group =>
      e.stageIds.foreach(stageGroup(_) = group)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobStart(e.jobId) = (group, site, e.time)
      byGroup.getOrElseUpdate(group, new JobSums).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (group, site, t0) =>
      byGroup(group).durations += ((site, e.time - t0))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (group <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = byGroup.getOrElseUpdate(group, new JobSums)
      s.taskNs += m.executorRunTime * 1000000L
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
    }
  }

  def clear(): Unit = synchronized { byGroup.clear(); stageGroup.clear(); jobStart.clear() }
}

/** One timed call into a layer. `parent` is -1 for a top-level span. */
final case class Span(id: Int, name: String, parent: Int, pass: Int, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around the benchmark's calls into graft. When tracing
  * is on, each span runs under its own Spark job group so the
  * [[JobMeter]] can attribute jobs to it; spans are kept in memory and
  * written out when the run ends. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  var enabled = false
  var pass = -1

  def apply[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), pass, System.nanoTime())
    spans += s
    stack = s :: stack
    if (enabled) sc.setJobGroup(Tracer.group(s.id), name)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      if (enabled) stack.headOption match {
        case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Spans of pass `p`. */
  def of(p: Int): Seq[Span] = spans.filter(_.pass == p).toSeq
}

object Tracer {
  val GroupPrefix = "graftbench-"
  def group(id: Int): String = GroupPrefix + id
}
