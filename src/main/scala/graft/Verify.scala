package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `s` as a JSON string literal: quote, backslash and ALL control
    * chars (< 0x20) escaped — a tab or CR in builder-authored SQL or in
    * an error message would otherwise make a JSON reader reject the
    * whole file. Bench's `errors` object uses it too. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, cpus)
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: SPARK_GRAFT_ONLY=q73_bm25,q74_... runs a
    // subset. Unset (the driver's invocation) runs everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // repartition(1) (not coalesce): the upstream plan keeps full
      // parallelism; only the final small result funnels to one file.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally Checkpoints.drain(spark) // free per-query checkpoint/cache blocks
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
