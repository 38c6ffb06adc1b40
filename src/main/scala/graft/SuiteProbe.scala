package graft

/** Optimization-round diagnostic (guide §7): replay the bench's warm
  * pass (one run per key, same sorted order) and print, per key, the
  * session-health counters the UI would show — wall, cumulative GC
  * delta, live persisted RDDs, storage blocks/bytes, JVM threads.
  * Finds WHICH query poisons the session when in-suite timings diverge
  * from isolated ones (q123 1.8 s isolated vs 120 s in-suite).
  *
  * Usage: runMain graft.SuiteProbe [firstN|fromKey,toKey]
  */
object SuiteProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val all = SparkEntry.queries.keys.toSeq.sorted
    val names = args.headOption match {
      case Some(s) if s.contains(",") =>
        val Array(a, b) = s.split(",", 2)
        all.dropWhile(_ != a).takeWhile(_ <= b) // inclusive range by order
      case Some(n) => all.take(n.toInt)
      case None => all
    }
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val sc = spark.sparkContext
    println("key,wall_s,gc_delta_ms,live_rdds,storage_mb,threads,shuffle_dirs_mb")
    var prevGc = gcMs
    val blockmgrDirs = new java.io.File("/tmp").listFiles()
      .filter(f => f.getName.startsWith("blockmgr-") && f.isDirectory)
    def duMb(): Long = try {
      blockmgrDirs.map { d =>
        def walk(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
          else f.length()
        walk(d)
      }.sum / 1048576
    } catch { case _: Throwable => -1L }
    for (name <- names) {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"$name,ERR,${e.getClass.getSimpleName}") }
      finally Checkpoints.drain(spark)
      val wall = (System.nanoTime() - t0) / 1e9
      val gcNow = gcMs
      val storageMb = sc.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum / 1048576
      println(f"$name,$wall%.2f,${gcNow - prevGc},${sc.getPersistentRDDs.size}," +
        f"$storageMb,${Thread.activeCount()},${duMb()}")
      prevGc = gcNow
    }
    spark.stop()
  }
}
