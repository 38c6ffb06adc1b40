package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — specs
  * run in a single forked JVM, see build.sbt).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(cores = 4, shufflePartitions = 8)
  val sfDir = "/root/testdata/sf0.001"
}

abstract class GraftSpec extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir

  /** Run `body` with the session settings `kv`, then restore each key's
    * previous value (or unset it). */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
