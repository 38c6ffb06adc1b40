package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}

import scala.util.control.NonFatal

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (see TESTDATA.md). All readers are plain parquet scans so column
  * pruning + predicate pushdown reach the file level.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Parquet row groups per table path — the EFFECTIVE split count of a
    * scan (a row group is the atomic unit that can produce rows: Spark
    * byte-range-splits a huge single-row-group file into many
    * partitions of which only ONE emits rows, so `rdd.getNumPartitions`
    * overstates parallelism exactly where it matters — r11 ADVICE).
    * Footer reads are driver-side metadata, done once per path per JVM.
    * A failed read logs one WARN naming the path and answers
    * `Int.MaxValue` (unknown ⇒ assume splittable) WITHOUT memoizing it,
    * so a transient IO error cannot pin "no spread" for the life of the
    * JVM. */
  private val rowGroupCounts =
    scala.collection.concurrent.TrieMap.empty[String, Int]
  private[graft] def rowGroups(spark: SparkSession, path: String): Int =
    rowGroupCounts.getOrElse(path, try {
      val conf = spark.sessionState.newHadoopConf()
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).filter(f => f.isFile &&
            f.getPath.getName.endsWith(".parquet"))
        else Array(fs.getFileStatus(p))
      val n = files.map { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try rd.getRowGroups.size finally rd.close()
      }.sum
      rowGroupCounts(path) = n
      n
    } catch {
      case NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"row-group count of $path unread, assuming a splittable scan: $e")
        Int.MaxValue
    })

  /** Spread a freshly-scanned frame to the session's parallelism when
    * the scan itself cannot (guide §2.5 "input skew: one huge
    * unsplittable file … repartition immediately after the read").
    * The driver fixtures are SINGLE-ROW-GROUP parquet files — Spark
    * cannot subdivide a row group, so every scan otherwise feeds its
    * first map/partial-aggregate stage from ONE task while the other
    * cores idle (measured: q255's gram hashing ran 5.3 s wall at
    * 5.1 s task-time — one thread). OPT-IN per consumer since r12: the
    * r11 blanket form levied a +0.1–0.6 s exchange on every fact scan
    * of ~250 trivial keys to win seconds on ~10 compute-heavy ones
    * (r11 verdict item 4) — only the heavy map/partial-agg consumers
    * ask for it now. A production corpus has thousands of row groups,
    * so the guard keeps this exchange OUT of the plan exactly when the
    * scan parallelizes by itself (gated on FOOTER row groups, not RDD
    * partitions — byte-range splits of one row group parallelize the
    * plan, not the data); round-robin so no key skew can concentrate
    * rows. Pushdown/pruning are unaffected (Catalyst pushes filters
    * and projections through Repartition to the scan). */
  private def spread(spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    if (rowGroups(spark, path) >= p) df else df.repartition(p)
  }

  def load(spark: SparkSession, sfDir: String, name: String,
           spreadScan: Boolean = false): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val raw = spark.read.parquet(path)
    if (spreadScan) spread(spark, raw, path) else raw
  }

  def lineitem(spark: SparkSession, sfDir: String,
               spreadScan: Boolean = false): DataFrame =
    load(spark, sfDir, "lineitem", spreadScan)
  def orders(spark: SparkSession, sfDir: String,
             spreadScan: Boolean = false): DataFrame =
    load(spark, sfDir, "orders", spreadScan)
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  /** The event log, with `ts` ALWAYS a nanosecond-epoch bigint.
    *
    * The generator has shipped `ts` two ways: TIMESTAMP(NANOS) parquet
    * (read as a ns bigint via nanosAsLong — Spark's vectorized reader
    * has no nanos timestamp type) and, since r8, plain TIMESTAMP(µs)
    * (read as TIMESTAMP_NTZ). Normalizing the µs form to a ns bigint
    * here keeps every consumer and every DuckDB oracle identical
    * across both vintages: downstream `ts div 1000` yields epoch µs,
    * and DuckDB's `epoch_ns(ts)` (µs·1000 on TIMESTAMP input, exact ns
    * on TIMESTAMP_NS input) matches by construction. The cast runs
    * inside the scan projection — column pruning and pushdown on every
    * OTHER column are unaffected. Under the session's UTC time zone the
    * NTZ→LTZ cast is value-preserving. */
  def events(spark: SparkSession, sfDir: String,
             spreadScan: Boolean = false): DataFrame = {
    val raw = load(spark, sfDir, "events", spreadScan)
    raw.schema("ts").dataType match {
      case LongType => raw
      case _ => raw.withColumn(
        "ts", (unix_micros(col("ts").cast(TimestampType)) * 1000L).cast(LongType))
    }
  }

  /** Raw, un-normalized events frame — the schema a file-stream source
    * over events.parquet must declare (q98/q111 readStream). */
  def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String,
                spreadScan: Boolean = false): DataFrame =
    load(spark, sfDir, "documents", spreadScan)
  def embeddings(spark: SparkSession, sfDir: String,
                 spreadScan: Boolean = false): DataFrame =
    load(spark, sfDir, "embeddings", spreadScan)

  /** DERIVED partsupp fixture (SURVEY §5 pattern — deterministic and
    * SQL-expressible on both engines; the driver testdata ships no
    * partsupp table, which locked out TPC-H Q2/Q9/Q11/Q16/Q20's join
    * shapes): every part gets 4 suppliers spread across the supplier
    * key space — ps_suppkey = (p_partkey + i·(S div 4)) mod S for
    * i ∈ 0..3, S = |supplier| (keys are 0-based dense, like TPC-H's
    * own 4-supplier spread) — with integer-derived availqty and a
    * 2-decimal supplycost (exact in a double; both engines compute
    * the identical integer % then one division by 100).
    *
    * Shape: map-side over the part scan (a 4-way explode against a
    * 1-row broadcast supplier count) — at any SF this materializes
    * nothing and carries 4·|part| rows into whatever join consumes
    * it. The oracle replays the same derivation as a CTE
    * ([[graft.queries.PartsuppQueries.PsCte]]). */
  /** DERIVED lineitem shipping columns (SURVEY §5 pattern, the
    * partsupp precedent): the driver testdata ships no l_shipmode /
    * l_shipinstruct / l_commitdate / l_receiptdate, which locked out
    * TPC-H Q12's late-line census and Q19's full predicate. Each is an
    * integer formula on (l_orderkey, l_linenumber) — deterministic,
    * map-side over the scan, replayed verbatim by the oracle CTE
    * ([[graft.queries.TpchQueries.ShipCte]]): mode/instruct index a
    * literal array, commit = ship + (h mod 61 − 30) days (a promise
    * within ±30 d of the ship date), receipt = ship + (h mod 30 + 1)
    * days (delivery 1–30 d after shipping) — so "late" lines
    * (commit < receipt) exist at every SF without skewing any base
    * column. */
  def lineitemShip(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val modes = array(Seq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK",
      "MAIL", "FOB").map(lit): _*)
    val instr = array(Seq("DELIVER IN PERSON", "COLLECT COD", "NONE",
      "TAKE BACK RETURN").map(lit): _*)
    lineitem(spark, sfDir)
      .withColumn("l_shipmode", element_at(modes,
        (pmod(col("l_orderkey") * 7L + col("l_linenumber"), lit(7L)) + 1L)
          .cast("int")))
      .withColumn("l_shipinstruct", element_at(instr,
        (pmod(col("l_orderkey") + col("l_linenumber") * 3L, lit(4L)) + 1L)
          .cast("int")))
      .withColumn("l_commitdate", date_add(col("l_shipdate").cast("date"),
        (pmod(col("l_orderkey") * 5L + col("l_linenumber") * 7L, lit(61L)) - 30L)
          .cast("int")))
      .withColumn("l_receiptdate", date_add(col("l_shipdate").cast("date"),
        (pmod(col("l_orderkey") * 11L + col("l_linenumber") * 13L, lit(30L)) + 1L)
          .cast("int")))
  }

  /** DERIVED p_container (same §5 pattern; Q19's container predicate
    * needs it): TPC-H's 40-value domain reconstructed as
    * size-class × container-type with independent integer hashes, so a
    * brand×container×size bracket keeps the original's selectivity
    * shape. Oracle twin: [[graft.queries.TpchQueries.ContainerCte]]. */
  def partContainer(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val sizes = array(Seq("SM", "MED", "LG", "JUMBO", "WRAP").map(lit): _*)
    val kinds = array(Seq("CASE", "BOX", "BAG", "JAR", "PKG", "PACK",
      "CAN", "DRUM").map(lit): _*)
    part(spark, sfDir).withColumn("p_container",
      concat(
        element_at(sizes, (pmod(col("p_partkey") * 19L, lit(5L)) + 1L).cast("int")),
        lit(" "),
        element_at(kinds, (pmod(col("p_partkey") * 23L, lit(8L)) + 1L).cast("int"))))
  }

  def partsupp(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val sc = supplier(spark, sfDir).agg(count(lit(1)).as("s"))
    part(spark, sfDir).select(col("p_partkey"))
      .crossJoin(broadcast(sc))
      .select(col("p_partkey"), col("s"),
        explode(array(lit(0L), lit(1L), lit(2L), lit(3L))).as("i"))
      .select(col("p_partkey").as("ps_partkey"),
        pmod(col("p_partkey") + col("i") * expr("s div 4"), col("s"))
          .as("ps_suppkey"))
      .select(col("ps_partkey"), col("ps_suppkey"),
        (pmod(col("ps_partkey") * 31L + col("ps_suppkey") * 17L, lit(9991L)) + 1L)
          .as("ps_availqty"),
        ((pmod(col("ps_partkey") * 131L + col("ps_suppkey") * 1009L, lit(99900L))
          + 100L).cast("double") / lit(100.0)).as("ps_supplycost"))
  }
}
