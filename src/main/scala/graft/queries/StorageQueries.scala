package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Graft, Tables}
import graft.functions.{MathFunctions => MF}
import graft.functions.MathFunctions.{asD, dsum}

/** Storage-layout / IO-format operators (SURVEY §2.B scan family,
  * split out of RelationalQueries in r9): JSON schema-on-read (q52),
  * hive-partitioned scans with pruning (q58), dynamic partition
  * pruning (q72), Z-order clustering (q86), small-file compaction
  * planning (q112), CSV round-trip (q122), schema-merge evolution
  * (q179), zonemap skipping (q181), ORC round-trip (q184) and
  * malformed-CSV rescue (q194). Oracle-fidelity rules are
  * RelationalQueries' (see its doc). */
object StorageQueries {


  // ---------------------------------------------------------------- q52
  /** Semi-structured extraction — schema-on-read over the events'
    * JSON `props` payload: `from_json` with an explicit struct schema
    * (typed, null-safe, codegen'd JSON parse — one pass per row, no
    * regex), then a plain typed aggregation. At 100 TB the parse cost
    * dominates, so it runs exactly once per row inside the scan
    * projection and only the two extracted longs reach the exchange;
    * a malformed payload yields null (counted, not crashed). Oracle:
    * DuckDB's native `->>` JSON extraction.
    *
    * CONTRACT (cross-engine parity): the fixture's `props.k` is always
    * a JSON INTEGER. On a string-encoded ("7") or fractional (7.5) k
    * the engines diverge by design — Spark's `from_json` with LongType
    * yields null for both, while DuckDB's `CAST(->> AS BIGINT)` coerces
    * '7' to 7 and errors on '7.5'. A fixture change that emits k as
    * text or a fraction must also normalize one side (e.g. DuckDB
    * `json_extract(props, 'k')` with an explicit type check). */
  def q52Json(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    Tables.events(spark, sfDir)
      .select(col("event_type"), from_json(col("props"), schema)("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        round(sum(col("k")).cast("double") / count(col("k")), 6).as("avg_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  val q52Sql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(props->>'k' AS BIGINT) AS k FROM events)
      |SELECT event_type, count(*) AS n_events,
      |  count(k) AS n_with_k, CAST(sum(k) AS BIGINT) AS sum_k,
      |  round(CAST(sum(k) AS DOUBLE) / count(k), 6) AS avg_k,
      |  min(k) AS min_k, max(k) AS max_k
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q58
  /** First day of the window the partition-pruned scan reads. */
  val PruneFrom = "1995-03-01"
  val PruneTo = "1995-03-08"

  /** Partitioned layout + partition-pruned scan — the directory-level
    * twin of q18's bucketed layout, and the single biggest 100 TB
    * lever: orders are written ONCE per session as a
    * `partitionBy(o_orderdate)`-style date-partitioned table, and the
    * window query reads ONLY the matching directories (the date
    * predicate resolves against partition VALUES at planning time —
    * `PartitionFilters` in the scan, zero data files opened outside
    * the window; plan-asserted in ScaleOpsSpec). The driver row
    * hash-verifies the write→partitioned-read→aggregate path against
    * the plain-parquet oracle. */
  /** Date-partitioned orders as a session catalog table, written once
    * per (session, sfDir) — q58's static-pruning scan and q72's
    * dynamic-pruning join share the layout. */
  private def partOrdersTable(spark: SparkSession, sfDir: String): String = {
    val sfx = RelationalQueries.pathKey(sfDir)
    val tbl = s"graft_part_orders_$sfx"
    if (!spark.catalog.tableExists(tbl)) {
      // per-process path: two graft JVMs on one host (a test run beside
      // a verify run) must not overwrite each other's layout mid-scan —
      // a shared path left this session's cached file listing pointing
      // at files another JVM had just replaced (FILE_NOT_EXIST)
      val pid = java.lang.ProcessHandle.current().pid()
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_partitions_${sfx}_$pid").toString
      Tables.orders(spark, sfDir)
        .withColumn("o_date", to_date(col("o_orderdate")))
        // co-locate each date before the partitioned write: without
        // this every one of the W input tasks opens a writer for every
        // date it sees — W × |dates| tiny files (measured ~80k at
        // sf0.1, a 34 s build); repartitioned, each date lands in one
        // task → |dates| files. THE small-files discipline a 100 TB
        // partitioned write lives or dies by.
        .repartition(col("o_date"))
        .write.mode("overwrite").partitionBy("o_date")
        .option("path", s"$tmp/orders").saveAsTable(tbl)
    }
    // the layout build above is a once-per-session disk materialization
    // exactly like a SessionCache memo — register the dependency so the
    // bench's memo-touch detection treats q58/q72/q86-family warm
    // numbers correctly (the 1-row frame is the marker, not the data)
    graft.SessionCache.cached(spark, s"pq-table:$tbl") {
      spark.range(1).toDF("one")
    }
    tbl
  }

  def q58PartitionedScan(spark: SparkSession, sfDir: String): DataFrame = {
    val tbl = partOrdersTable(spark, sfDir)
    spark.table(tbl)
      .filter(col("o_date") >= lit(PruneFrom) && col("o_date") < lit(PruneTo))
      .groupBy(col("o_date").cast("string").as("day"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        asD(dsum(col("o_totalprice"))).as("revenue"))
      .orderBy(col("day"), col("o_orderpriority"))
  }

  val q58Sql: String =
    s"""SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day, o_orderpriority,
      |  count(*) AS n_orders,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue
      |FROM orders
      |WHERE CAST(o_orderdate AS DATE) >= DATE '$PruneFrom'
      |  AND CAST(o_orderdate AS DATE) < DATE '$PruneTo'
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q72
  /** Dynamic partition pruning — the RUNTIME twin of q58's
    * planning-time pruning, and the lever that matters when the date
    * set is data-dependent: the fact side (the q58 date-partitioned
    * orders table) joins a dim frame whose filter — "Mondays only" —
    * selects the dates, and Spark prunes the fact scan's partitions
    * with a DynamicPruningSubquery fed by the dim's broadcast (the
    * fact directories for other weekdays are never opened; ScaleOpsSpec
    * plan-asserts `dynamicpruning` in the scan's PartitionFilters).
    * The dim derives from the RAW parquet (a separate source), so the
    * optimizer cannot constant-fold the date set at planning time. */
  def q72DynamicPruning(spark: SparkSession, sfDir: String): DataFrame = {
    val tbl = partOrdersTable(spark, sfDir)
    val mondays = Tables.orders(spark, sfDir)
      .select(to_date(col("o_orderdate")).as("d")).distinct()
      .filter(dayofweek(col("d")) === 2)
    spark.table(tbl)
      .join(broadcast(mondays), col("o_date") === col("d"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        asD(dsum(col("o_totalprice"))).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  val q72Sql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue
      |FROM orders
      |WHERE isodow(CAST(o_orderdate AS DATE)) = 1
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q86
  /** Z-value bit budget: each dimension range-normalized to 8 bits,
    * top 8 of the 16-bit interleave as the bucket id — so a bucket is
    * a 16-cell × 16-cell rectangle of the normalized grid at ANY scale
    * factor (absolute-value interleaving would let whichever dimension
    * has fewer active bits degenerate to full-range stripes). */
  val ZDimBits = 8
  val ZBucketShift = 8

  /** Z-order (Morton) multi-dimensional clustering over orders — the
    * data-layout operator behind OPTIMIZE ZORDER-style file skipping
    * at 100 TB: range-bucket each dimension (customer, order-day) to
    * [[ZDimBits]] bits off its global min/max, interleave the bits,
    * and the z-value prefix buckets are tight RECTANGLES in both
    * dimensions — min/max footer stats then prune scans filtered on
    * EITHER column, where a single-column sort only ever prunes one.
    * The emitted per-bucket stats ARE the skipping audit: every
    * bucket's customer span and day span stay bounded instead of one
    * dimension degenerating to the full range (AnalyticsOpsSpec holds
    * the mean span under the range). Interleave = 3 shift-or-mask
    * steps per dimension (the classic magic-number spread), all exact
    * int64 bit ops on both engines; the min/max normalizers are one
    * O(1)-row broadcast scalar, then map-only until the per-bucket
    * partial agg. All-integer pipeline ⇒ exact cross-engine hash. */
  def q86Zorder(spark: SparkSession, sfDir: String): DataFrame = {
    def spread(v: Column): Column = { // 8-bit input → even bit positions
      val s1 = (v.bitwiseOR(shiftleft(v, 4))).bitwiseAND(lit(0x0F0FL))
      val s2 = (s1.bitwiseOR(shiftleft(s1, 2))).bitwiseAND(lit(0x3333L))
      (s2.bitwiseOR(shiftleft(s2, 1))).bitwiseAND(lit(0x5555L))
    }
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1992-01-01")))
          .cast("long").as("day"))
    val bounds = o.agg(
      min(col("o_custkey")).as("c_lo"), max(col("o_custkey")).as("c_hi"),
      min(col("day")).as("d_lo"), max(col("day")).as("d_hi"))
    // custkey arithmetic forced to 64-bit: in the column's native 32-bit
    // type (custkey > ~8.4M at large SF) Spark would silently wrap where
    // DuckDB raises, breaking the cross-engine gate.
    val xb = expr(s"((CAST(o_custkey AS BIGINT) - c_lo) * ${1L << ZDimBits})" +
      s" div (CAST(c_hi AS BIGINT) - c_lo + 1)")
    val yb = expr(s"((day - d_lo) * ${1L << ZDimBits}) div (d_hi - d_lo + 1)")
    val z = spread(col("xb")).bitwiseOR(shiftleft(spread(col("yb")), 1))
    o.crossJoin(broadcast(bounds))
      .select(col("o_custkey"), col("day"), xb.as("xb"), yb.as("yb"))
      .select(col("o_custkey"), col("day"),
        shiftrightunsigned(z, ZBucketShift).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_custkey")).as("min_cust"), max(col("o_custkey")).as("max_cust"),
        (max(col("day")) - min(col("day"))).as("day_span"))
      .orderBy(col("bucket"))
  }

  val q86Sql: String = {
    def spread(v: String): String = {
      val s1 = s"(($v | ($v << 4)) & 3855)"
      val s2 = s"(($s1 | ($s1 << 2)) & 13107)"
      s"(($s2 | ($s2 << 1)) & 21845)"
    }
    val cells = 1L << ZDimBits
    s"""WITH o AS (
      |  SELECT o_custkey,
      |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day
      |  FROM orders),
      |bounds AS (
      |  SELECT min(o_custkey) AS c_lo, max(o_custkey) AS c_hi,
      |    min(day) AS d_lo, max(day) AS d_hi FROM o),
      |nb AS (
      |  SELECT o_custkey, day,
      |    ((CAST(o_custkey AS BIGINT) - c_lo) * $cells)
      |      // (CAST(c_hi AS BIGINT) - c_lo + 1) AS xb,
      |    ((day - d_lo) * $cells) // (d_hi - d_lo + 1) AS yb
      |  FROM o CROSS JOIN bounds),
      |zed AS (
      |  SELECT o_custkey, day,
      |    (${spread("xb")} | (${spread("yb")} << 1)) >> $ZBucketShift AS bucket
      |  FROM nb)
      |SELECT bucket, count(*) AS n_orders,
      |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
      |  max(day) - min(day) AS day_span
      |FROM zed GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // --------------------------------------------------------------- q112
  /** Compaction bin capacity (bytes of text per planned output file). */
  val CompactTargetBytes = 65536L

  /** Small-file compaction planner — the table-maintenance operator a
    * 100 TB lakehouse runs continuously: given per-file sizes (each
    * document plays a file, n_chars its bytes), plan per-source output
    * bins of ~[[CompactTargetBytes]] by next-fit over a
    * largest-first ordering: files sort by (size DESC, id), and a
    * file's bin is its running-total START offset divided by the
    * capacity. Emits the plan summary per (source, bin): file count,
    * bytes, largest member, fill ratio — what a compaction executor
    * would consume as its work list.
    *
    * Shape for 100 TB: the frame is file METADATA (one row per file,
    * never file contents), one hash shuffle on source; the prefix sum
    * runs inside each source's sorted partition; output is
    * O(total bytes / capacity) rows. A source whose listing alone
    * exceeds a partition gets range-split by the same rule applied per
    * directory shard. */
  def q112Compaction(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("cum", sum(col("n_chars")).over(w))
      .withColumn("bin", expr(s"(cum - n_chars) div $CompactTargetBytes"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_chars")).as("bytes"),
        max(col("n_chars")).as("largest_file"),
        round(sum(col("n_chars")).cast("double") / CompactTargetBytes, 6)
          .as("fill_ratio"))
      .orderBy(col("source"), col("bin"))
  }

  val q112Sql: String =
    s"""WITH f AS (
      |  SELECT source, doc_id, n_chars,
      |    sum(n_chars) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM documents)
      |SELECT source, CAST((cum - n_chars) // $CompactTargetBytes AS BIGINT) AS bin,
      |  count(*) AS n_files, CAST(sum(n_chars) AS BIGINT) AS bytes,
      |  max(n_chars) AS largest_file,
      |  round(CAST(sum(n_chars) AS DOUBLE) / $CompactTargetBytes, 6) AS fill_ratio
      |FROM f GROUP BY source, bin
      |ORDER BY source, bin""".stripMargin

  // --------------------------------------------------------------- q122
  /** CSV source/sink round-trip under the oracle gate — q106's
    * fidelity contract for the OTHER interchange format pipelines
    * still ingest: the normalized event log (bigint ts, JSON-bearing
    * `props` full of commas, quotes, and braces — a real quoting
    * stress) is written as quoted/escaped CSV, read back through the
    * CSV source with an explicit schema, and aggregated per type with
    * a content checksum (Σ hash32(props)) beside exact decimal value
    * sums. A hash match proves the writer/reader round-trips every
    * row bit-exactly (quoting, escaping, null-vs-empty, double
    * formatting); the oracle computes the same aggregates from the
    * original parquet. Scale shape: write and read are parallel per
    * split; the aggregate is one partial-agged groupBy. */
  def q122CsvIo(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    graft.TempDirs.withEphemeral("graft_q122_") { tmp =>
      val dir = tmp.resolve("events_csv").toString
      // \N null sentinel: CSV can't otherwise distinguish null from ""
      ev.write.mode("overwrite")
        .option("header", "true").option("nullValue", "\\N")
        .csv(dir)
      graft.Checkpoints.materialize(spark.read.schema(ev.schema)
        .option("header", "true").option("nullValue", "\\N")
        .csv(dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          // Σ(ts mod p): int64-safe per-row timestamp fingerprint (a raw
          // Σts over ~1e18 ns values would overflow the bigint)
          sum(expr("ts % 1000000007")).as("ts_mod_sum"),
          asD(dsum(col("value"))).as("total_value"),
          sum(MF.hash32(col("props"))).as("props_checksum"))
        .orderBy(col("event_type")))
    }
  }

  val q122Sql: String =
    s"""SELECT event_type, count(*) AS n_events,
      |  CAST(sum(epoch_ns(ts) % 1000000007) AS BIGINT) AS ts_mod_sum,
      |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_value,
      |  CAST(sum(${graft.oracle.Sql.hash32OfHex("md5(props)")}) AS BIGINT) AS props_checksum
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q179
  /** Schema-evolution merge read — the lakehouse behavior every
    * long-lived dataset hits (a column added mid-history): the engine
    * WRITES two deterministic parquet batches with different schemas
    * (v1: orders without priority; v2: adds o_orderpriority) under one
    * dataset root partitioned by batch, then reads the root back with
    * `mergeSchema` — old files surface the new column as NULL — and
    * reports the per-batch census (rows, priority nulls, value sum).
    * The oracle never sees the temp files: it recomputes the merged
    * RESULT from the source table directly (union-by-name with NULL
    * fill), which is exactly the contract schema merge must satisfy.
    *
    * Shape for 100 TB: the split/write is a one-pass partitioned
    * append; the merged scan prunes on the partition column and pays
    * one footer-merge planning step; the census is a 2-group
    * aggregate. */
  def q179SchemaMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
    graft.TempDirs.withEphemeral("graft_q179_") { dir =>
      val tmp = dir.toString
      ord.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$tmp/batch=1")
      ord.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$tmp/batch=2")
      val merged = spark.read.option("mergeSchema", "true")
        .option("basePath", tmp).parquet(s"$tmp/batch=1", s"$tmp/batch=2")
      graft.Checkpoints.materialize(merged.groupBy(col("batch"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L))
            .as("null_priority"),
          countDistinct(col("o_orderpriority")).as("n_priorities"),
          asD(dsum(col("o_totalprice"))).as("total_value"))
        .orderBy(col("batch")))
    }
  }

  val q179Sql: String =
    """WITH merged AS (
      |  SELECT 1 AS batch, o_orderkey, o_totalprice,
      |    CAST(NULL AS VARCHAR) AS o_orderpriority
      |  FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL BY NAME
      |  SELECT 2 AS batch, o_orderkey, o_totalprice, o_orderpriority
      |  FROM orders WHERE o_orderkey % 2 = 1)
      |SELECT batch, count(*) AS n_rows,
      |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS null_priority,
      |  count(DISTINCT o_orderpriority) AS n_priorities,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_value
      |FROM merged GROUP BY batch ORDER BY batch""".stripMargin

  // --------------------------------------------------------------- q181
  /** Zone-map block width (rows of the clustered key per block) and
    * the audited predicate range. */
  val ZoneRows = 256L
  val ZonePredLo = 50000.0
  val ZonePredHi = 100000.0

  /** Zone-map skipping audit — the storage-layout math behind q58's
    * partition pruning and q86's Z-order, made explicit: blocks of
    * [[ZoneRows]] consecutive order keys carry (min, max) of
    * o_totalprice; a range predicate can SKIP every block whose
    * [min, max] misses it. Emits the per-block zone map with its hit
    * flag — the spec and any reader can compute the skip ratio and
    * compare layouts (price is uncorrelated with key order here, so
    * hit rates are near 1: the measured argument FOR re-clustering
    * by the predicate column).
    *
    * Shape for 100 TB: one partial-agged groupBy(block) over the
    * scan — the same pass a writer makes when it collects footer
    * statistics. */
  def q181Zonemaps(spark: SparkSession, sfDir: String): DataFrame =
    Graft.zoneMaps(Tables.orders(spark, sfDir), expr(s"o_orderkey div $ZoneRows"),
        col("o_totalprice"), ZonePredLo, ZonePredHi)
      .withColumnRenamed("min_v", "min_price")
      .withColumnRenamed("max_v", "max_price")
      .orderBy(col("block"))

  val q181Sql: String =
    s"""SELECT o_orderkey // $ZoneRows AS block, count(*) AS n_rows,
      |  round(min(o_totalprice), 6) AS min_price,
      |  round(max(o_totalprice), 6) AS max_price,
      |  (round(max(o_totalprice), 6) >= $ZonePredLo
      |    AND round(min(o_totalprice), 6) <= $ZonePredHi) AS hit
      |FROM orders GROUP BY 1 ORDER BY block""".stripMargin

  // --------------------------------------------------------------- q184
  /** ORC round-trip census — the second columnar format a warehouse
    * speaks (Spark bundles native ORC vectorized read/write): events
    * written as ORC, read back, and fingerprinted per type with the
    * q122 checksum discipline (mod-sum timestamps, decimal value sums,
    * hashed payloads). DuckDB cannot read ORC, so — like q179 — the
    * oracle recomputes the census from the SOURCE table: equality
    * proves the round trip preserved every row and value.
    *
    * Shape for 100 TB: one write pass, one scan + partial-agged
    * census; ORC predicate pushdown and column pruning apply to the
    * read-back exactly as parquet's do. */
  def q184OrcIo(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    graft.TempDirs.withEphemeral("graft_q184_") { tmp =>
      val dir = tmp.resolve("events_orc").toString
      ev.write.mode("overwrite").orc(dir)
      graft.Checkpoints.materialize(spark.read.orc(dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("ts % 1000000007")).as("ts_mod_sum"),
          asD(dsum(col("value"))).as("total_value"),
          sum(MF.hash32(col("props"))).as("props_checksum"))
        .orderBy(col("event_type")))
    }
  }

  val q184Sql: String =
    s"""SELECT event_type, count(*) AS n_events,
      |  CAST(sum(epoch_ns(ts) % 1000000007) AS BIGINT) AS ts_mod_sum,
      |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_value,
      |  CAST(sum(${graft.oracle.Sql.hash32OfHex("md5(props)")}) AS BIGINT) AS props_checksum
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q194
  /** Every k-th CSV line is deliberately corrupted in the round trip. */
  val CsvCorruptMod = 7

  /** Malformed-input audit — the ingestion-robustness behavior every
    * production loader needs: the engine writes a CSV export in which
    * every [[CsvCorruptMod]]-th row is DELIBERATELY mangled (a
    * non-numeric key), reads it back PERMISSIVE with a
    * `_corrupt_record` rescue column (the malformed row survives as
    * raw text instead of killing the job or silently vanishing), and
    * reports the per-status census: parsed vs rescued rows and the
    * value mass that survived. The oracle recomputes the expected
    * census from the source and the deterministic corruption rule —
    * the contract a rescue column must satisfy.
    *
    * Shape for 100 TB: one export pass, one PERMISSIVE scan, a 2-row
    * census; the rescue column costs nothing on well-formed rows. */
  def q194MalformedCsv(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
    graft.TempDirs.withEphemeral("graft_q194_") { tmp =>
      val dir = tmp.resolve("orders_csv").toString
      // the corruption must be STRUCTURAL (wrong token count): a mere
      // type-cast failure nulls the field without flagging the record
      ord.select(
          when(pmod(col("o_orderkey"), lit(CsvCorruptMod)) === 0,
            concat_ws(",", col("o_orderkey"), col("o_totalprice"),
              lit("UNEXPECTED_TRAILING_FIELD")))
            .otherwise(concat_ws(",", col("o_orderkey"), col("o_totalprice")))
            .as("value"))
        .write.mode("overwrite").text(dir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_totalprice",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("_corrupt_record",
          org.apache.spark.sql.types.StringType)))
      // reference EVERY schema column: CSV column pruning skips token
      // parsing for unused columns, and unparsed tokens can't flag the
      // record — a pruned read would report everything as clean
      graft.Checkpoints.materialize(spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(dir)
        .select(when(col("_corrupt_record").isNull, "parsed").otherwise("rescued")
          .as("status"), col("o_orderkey"), col("o_totalprice"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_rows"),
          sum(pmod(col("o_orderkey"), lit(97L))).as("key_checksum"),
          asD(dsum(coalesce(col("o_totalprice"), lit(0.0)))).as("value_mass"))
        .orderBy(col("status")))
    }
  }

  val q194Sql: String =
    s"""SELECT (CASE WHEN o_orderkey % $CsvCorruptMod = 0 THEN 'rescued'
      |              ELSE 'parsed' END) AS status,
      |  count(*) AS n_rows,
      |  CAST(sum(o_orderkey % 97) AS BIGINT) AS key_checksum,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS value_mass
      |FROM orders GROUP BY 1 ORDER BY status""".stripMargin

  /** Range buckets (the target partition count of the audited sort). */
  val RangeBuckets = 32
  /** Hash-sample 1-in-N rows for boundary estimation. */
  val RangeSampleMod = 100

  // --------------------------------------------------------------- q238
  /** Range-partitioner balance audit — the question behind every
    * 100 TB global sort / repartitionByRange: boundaries computed
    * from a SAMPLE (here a deterministic 1-in-[[RangeSampleMod]] hash
    * sample, rank-split into [[RangeBuckets]] equi-depth cuts) are
    * only as balanced as the sample is representative; this measures
    * the ACTUAL rows landing in each range bucket and the skew ratio
    * vs the ideal n/B — the pre-flight report that tells you whether
    * the sort will straggle before you pay for it. sf0.01 measures
    * max skew ≈ 3× on the event-time key: real sampling error, the
    * point of the audit.
    *
    * Shape for 100 TB: the sample pass is a pushed filter; the
    * boundary sort touches only sample rows (a cluster deployment
    * bounds it further with per-partition reservoirs, the
    * RangePartitioner trick — the audit's boundary rule is the same
    * rank arithmetic); assignment is a broadcast 31-value array probed
    * map-side; ONE groupBy(bucket) partial-agg ends it. */
  def q238PartitionBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = Tables.events(spark, sfDir)
      .select(col("ts").as("k"), col("event_id"))
    val smp = keyed
      .filter(pmod(MF.hash32(concat(lit("rs:"), col("event_id").cast("string"))),
        lit(RangeSampleMod)) === 0)
      .select(col("k"))
    val sc = smp.agg(count(lit(1)).as("sn"))
    val ranked = smp
      .withColumn("r", row_number().over(Window.orderBy(col("k"))))
    val bnd = ranked.crossJoin(broadcast(sc))
      .withColumn("step", greatest(expr(s"sn div $RangeBuckets"), lit(1L)))
      .filter(pmod(col("r"), col("step")) === 0
        && expr(s"r div step") < RangeBuckets)
      .agg(sort_array(collect_list(col("k"))).as("bs"))
    val tot = keyed.agg(count(lit(1)).as("nt"))
    keyed.crossJoin(broadcast(bnd))
      .select((size(filter(col("bs"), b => b <= col("k"))) + 1)
        .cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_rows"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_rows"),
        round(col("n_rows").cast("double") * RangeBuckets / col("nt"), 6)
          .as("skew_ratio"))
      .orderBy(col("bucket"))
  }

  val q238Sql: String = {
    val h = graft.oracle.Sql.hash32("('rs:' || CAST(event_id AS VARCHAR))")
    s"""WITH keyed AS (SELECT epoch_ns(ts) AS k, event_id FROM events),
      |smp AS MATERIALIZED (SELECT k FROM keyed WHERE $h % $RangeSampleMod = 0),
      |scount AS (SELECT count(*) AS sn FROM smp),
      |ranked AS (SELECT k, row_number() OVER (ORDER BY k) AS r FROM smp),
      |bnd AS MATERIALIZED (
      |  SELECT list(k ORDER BY k) AS bs FROM ranked CROSS JOIN scount
      |  WHERE r % greatest(sn // $RangeBuckets, 1) = 0
      |    AND r // greatest(sn // $RangeBuckets, 1) < $RangeBuckets),
      |assigned AS (
      |  SELECT len(list_filter((SELECT bs FROM bnd), b -> b <= k)) + 1 AS bucket
      |  FROM keyed),
      |census AS (SELECT bucket, count(*) AS n_rows FROM assigned GROUP BY bucket),
      |tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS nt FROM census)
      |SELECT bucket, n_rows,
      |  round(CAST(n_rows AS DOUBLE) * $RangeBuckets / nt, 6) AS skew_ratio
      |FROM census CROSS JOIN tot ORDER BY bucket""".stripMargin
  }

  // --------------------------------------------------------------- q295
  /** Bloom hash count and the bit-width sweep. */
  val BloomFprK = 4
  val BloomFprMs: Seq[Long] = Seq(1024L, 4096L, 16384L)

  /** Bloom-filter false-positive calibration — measured FPR vs the
    * (1 − (1−1/m)^{kn})^k theory across a bit-width sweep, the sizing
    * audit that should run BEFORE anyone trusts a q126-style Bloom
    * semi-join or q28-style decontamination pass at a new scale:
    * members are customer keys, probes a disjoint key family (prefix
    * namespacing), membership bits from the portable md5-based
    * universal-hash family (Sql-twinned integer arithmetic — unlike
    * q28's kernel sketch, every bit here replays in DuckDB, so this
    * one IS hash-gated). Load factor and bits-set ride along; at
    * sf0.01, m=1024 sits near saturation and the measured FPR visibly
    * tracks the theory curve.
    *
    * Shape for 100 TB: members/probes each scan once; bit positions
    * are map-side k-way explodes; the "filter" is the distinct
    * (m, pos) frame — O(m) per width, joined 4× (hash semi-join per
    * probe hash) — never a driver-side bitmap. */
  def q295BloomFpr(spark: SparkSession, sfDir: String): DataFrame = {
    val ms = spark.range(1).select(explode(
      array(BloomFprMs.map(lit): _*)).as("m"))
    val keys = Tables.customer(spark, sfDir)
      .select(concat(lit("c:"), col("c_custkey").cast("string")).as("key"))
    val probes = Tables.customer(spark, sfDir)
      .select(concat(lit("p:"), col("c_custkey").cast("string")).as("key"))
    val mpos = graft.Checkpoints.materialize(keys.crossJoin(broadcast(ms))
      .select(col("m"), explode(array((0 until BloomFprK).map { j =>
        pmod(MF.universalHash(MF.hash32(col("key")), j), col("m"))
      }: _*)).as("pos"))
      .distinct())
    val nmem = keys.agg(count(lit(1)).as("n_members"))
    val ppos = probes.crossJoin(broadcast(ms))
      .select(col("key") +: col("m") +: (0 until BloomFprK).map { j =>
        pmod(MF.universalHash(MF.hash32(col("key")), j), col("m")).as(s"p$j")
      }: _*)
    val hits = (0 until BloomFprK).foldLeft(ppos) { (df, j) =>
      val r = mpos.select(col("m").as("rm"), col("pos").as(s"b$j"))
      df.join(r, df("m") === r("rm") && df(s"p$j") === r(s"b$j"), "left_semi")
    }
    // left_semi chain drops misses entirely — count survivors per m
    val meas = ppos.groupBy(col("m")).agg(count(lit(1)).as("n_probes"))
      .join(hits.groupBy(col("m")).agg(count(lit(1)).as("n_fp")), Seq("m"), "left")
      .select(col("m"), col("n_probes"), coalesce(col("n_fp"), lit(0L)).as("n_fp"))
    val bits = mpos.groupBy(col("m")).agg(count(lit(1)).as("bits_set"))
    meas.join(bits, "m").crossJoin(broadcast(nmem))
      .select(col("m"), col("n_members"), col("bits_set"),
        round(col("bits_set") / col("m").cast("double"), 6).as("load_factor"),
        round(col("n_fp") / col("n_probes").cast("double"), 6).as("fpr_measured"),
        round(pow(lit(1.0) - pow(lit(1.0) - lit(1.0) / col("m"),
          lit(BloomFprK) * col("n_members").cast("double")), lit(BloomFprK)), 6)
          .as("fpr_theory"))
      .orderBy(col("m"))
  }

  val q295Sql: String = {
    val mlist = BloomFprMs.mkString("[", ", ", "]")
    def uhm(k: Int): String =
      s"${graft.oracle.Sql.universalHash(graft.oracle.Sql.hash32("key"), k)} % m"
    val posUnion = (0 until BloomFprK).map { j =>
      s"SELECT m, ${uhm(j)} AS pos FROM keys CROSS JOIN (SELECT unnest($mlist) AS m)"
    }.mkString("\n  UNION ALL ")
    s"""WITH keys AS MATERIALIZED (
  SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS key FROM customer),
probes AS MATERIALIZED (
  SELECT 'p:' || CAST(c_custkey AS VARCHAR) AS key FROM customer),
mpos AS MATERIALIZED (
  SELECT DISTINCT m, pos FROM ($posUnion)),
nmem AS (SELECT count(*) AS n FROM keys),
ppos AS MATERIALIZED (
  SELECT key, m, ${uhm(0)} AS p0, ${uhm(1)} AS p1, ${uhm(2)} AS p2, ${uhm(3)} AS p3
  FROM probes CROSS JOIN (SELECT unnest($mlist) AS m)),
hits AS (
  SELECT pp.key, pp.m,
    (CASE WHEN b0.pos IS NOT NULL AND b1.pos IS NOT NULL
           AND b2.pos IS NOT NULL AND b3.pos IS NOT NULL THEN 1 ELSE 0 END) AS fp
  FROM ppos pp
  LEFT JOIN mpos b0 ON b0.m = pp.m AND b0.pos = pp.p0
  LEFT JOIN mpos b1 ON b1.m = pp.m AND b1.pos = pp.p1
  LEFT JOIN mpos b2 ON b2.m = pp.m AND b2.pos = pp.p2
  LEFT JOIN mpos b3 ON b3.m = pp.m AND b3.pos = pp.p3),
meas AS (
  SELECT m, count(*) AS n_probes, CAST(sum(fp) AS BIGINT) AS n_fp FROM hits GROUP BY m),
bits AS (SELECT m, count(*) AS bits_set FROM mpos GROUP BY m)
SELECT s.m, n.n AS n_members, b.bits_set,
  round(b.bits_set / CAST(s.m AS DOUBLE), 6) AS load_factor,
  round(s.n_fp / CAST(s.n_probes AS DOUBLE), 6) AS fpr_measured,
  round(pow(1.0 - pow(1.0 - 1.0 / s.m, $BloomFprK * CAST(n.n AS DOUBLE)), $BloomFprK), 6) AS fpr_theory
FROM meas s CROSS JOIN nmem n JOIN bits b ON s.m = b.m
ORDER BY s.m"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q295_bloom_fpr" -> q295BloomFpr,
    "q238_partition_balance" -> q238PartitionBalance,
    "q194_malformed_csv" -> q194MalformedCsv,
    "q184_orc_io" -> q184OrcIo,
    "q181_zonemaps" -> q181Zonemaps,
    "q179_schema_merge" -> q179SchemaMerge,
    "q122_csv_io" -> q122CsvIo,
    "q112_compaction" -> q112Compaction,
    "q86_zorder" -> q86Zorder,
    "q52_json" -> q52Json,
    "q58_partitioned_scan" -> q58PartitionedScan,
    "q72_dynamic_pruning" -> q72DynamicPruning)

  val oracles: Map[String, String] = Map(
    "q295_bloom_fpr" -> q295Sql,
    "q238_partition_balance" -> q238Sql,
    "q194_malformed_csv" -> q194Sql,
    "q184_orc_io" -> q184Sql,
    "q181_zonemaps" -> q181Sql,
    "q179_schema_merge" -> q179Sql,
    "q122_csv_io" -> q122Sql,
    "q112_compaction" -> q112Sql,
    "q86_zorder" -> q86Sql,
    "q52_json" -> q52Sql,
    "q58_partitioned_scan" -> q58Sql,
    "q72_dynamic_pruning" -> q72Sql)
}
