package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.{Graft, Tables}
import graft.functions.{MathFunctions => MF}
import graft.functions.MathFunctions.{asD, dsum, grid6}

/** Relational / analytics core (SURVEY §2.B).
  *
  * Oracle-fidelity rules (see SURVEY §4):
  *  - money sums go through DECIMAL(38,6) so they are exact and
  *    independent of Spark's parallel summation order, then are cast
  *    back to double and rounded to 6 dp — the DuckDB SQL does the
  *    identical decimal cast;
  *  - event timestamps are nanosecond parquet; Spark truncates to
  *    microseconds on read, so the SQL casts ts to microsecond
  *    TIMESTAMP before any arithmetic;
  *  - every result has a total order (ORDER BY on output columns).
  */
object RelationalQueries {


  // ---------------------------------------------------------------- q11
  /** TPC-H Q1-style pricing summary. Filter reaches the parquet scan
    * (PushedFilters), aggregation is partial (map-side combine). */
  def q11PricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        asD(dsum(col("l_quantity"))).as("sum_qty"),
        asD(dsum(col("l_extendedprice"))).as("sum_base_price"),
        asD(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price"),
        round(dsum(col("l_quantity")).cast("double") / count(lit(1)), 6).as("avg_qty"),
        round(dsum(col("l_extendedprice")).cast("double") / count(lit(1)), 6).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q11Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_qty,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_base_price,
      |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_disc_price,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS avg_price,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q12
  /** Top-10 customers by order revenue. Dims (customer, nation) are
    * broadcast; the only shuffle is the groupBy on o_custkey. */
  def q12TopCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(dsum(col("o_totalprice")).as("rev"), count(lit(1)).as("order_count"))
    // customer is O(rows·SF) — not a bounded dim, so no forced broadcast
    // (AQE/autoBroadcastJoinThreshold decides); nation is bounded (25).
    rev
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
      .orderBy(col("rev").desc, col("c_custkey"))
      .limit(10)
      .select(col("c_custkey"), col("c_name"), col("n_name").as("nation"),
        asD(col("rev")).as("revenue"), col("order_count"))
  }

  val q12Sql: String =
    """SELECT c_custkey, c_name, n_name AS nation,
      |  round(CAST(rev AS DOUBLE), 6) AS revenue, order_count
      |FROM (
      |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev,
      |         count(*) AS order_count
      |  FROM orders GROUP BY o_custkey) r
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY rev DESC, c_custkey
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q13
  /** Revenue share of each region per order year (join + conditional
    * agg + window share). Share division happens in double on both
    * sides after exact decimal sums. */
  def q13MarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val joined = o
      .join(broadcast(Tables.customer(spark, sfDir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)), col("n_regionkey") === col("r_regionkey"))
      .select(year(col("o_orderdate")).as("o_year"), col("r_name"), col("o_totalprice"),
        when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(lit(0.0)).as("filled_price"))
    val byRegion = joined.groupBy(col("o_year"), col("r_name"))
      .agg(dsum(col("o_totalprice")).as("rev"), dsum(col("filled_price")).as("filled_rev"))
    val w = Window.partitionBy(col("o_year"))
    byRegion
      .withColumn("year_rev", sum(col("rev")).over(w))
      .select(col("o_year"), col("r_name"),
        asD(col("rev")).as("revenue"),
        asD(col("filled_rev")).as("filled_revenue"),
        round(col("rev").cast("double") / col("year_rev").cast("double"), 6).as("share"))
      .orderBy(col("o_year"), col("r_name"))
  }

  val q13Sql: String =
    """WITH by_region AS (
      |  SELECT year(o_orderdate) AS o_year, r_name,
      |    sum(CAST(o_totalprice AS DECIMAL(38,6))) AS rev,
      |    sum(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END AS DECIMAL(38,6))) AS filled_rev
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2)
      |SELECT o_year, r_name,
      |  round(CAST(rev AS DOUBLE), 6) AS revenue,
      |  round(CAST(filled_rev AS DOUBLE), 6) AS filled_revenue,
      |  round(CAST(rev AS DOUBLE) / CAST(sum(rev) OVER (PARTITION BY o_year) AS DOUBLE), 6) AS share
      |FROM by_region
      |ORDER BY o_year, r_name""".stripMargin

  // ---------------------------------------------------------------- q17
  /** As-of join — the temporal operator Spark has no native node for
    * (DuckDB does: the oracle IS an ASOF LEFT JOIN): attribute every
    * `error` event to the same user's most recent strictly-preceding
    * `click`. Implemented by composition (preference (a) of the custom-
    * operator ladder): tag both sides, one window over (user, time),
    * `last(click, ignoreNulls)` over the strictly-preceding frame.
    * Scale shape: ONE hash shuffle on user_id + an in-partition sort —
    * no range-join candidate explosion, no per-key driver loop; at
    * 100 TB this is the as-of plan you want (the sort is the same one
    * any per-key temporal semantics needs). (user_id, ts) collisions
    * are absent in the data, so the strictly-preceding frame and
    * DuckDB's `>` comparator agree exactly. */
  def q17AsofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"))
      .filter(col("event_type").isin("click", "error"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isClick = col("event_type") === "click"
    ev
      .withColumn("click_id",
        last(when(isClick, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_ts_us",
        last(when(isClick, col("ts_us")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("click_id"),
        (col("ts_us") - col("click_ts_us")).as("gap_us"))
      .orderBy(col("event_id"))
  }

  val q17Sql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events WHERE event_type IN ('click', 'error')),
      |errors AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'error'),
      |clicks AS (SELECT event_id AS click_id, user_id, ts_us AS click_ts_us
      |           FROM ev WHERE event_type = 'click')
      |SELECT e.event_id, e.user_id, c.click_id, e.ts_us - c.click_ts_us AS gap_us
      |FROM errors e ASOF LEFT JOIN clicks c
      |  ON e.user_id = c.user_id AND e.ts_us > c.click_ts_us
      |ORDER BY e.event_id""".stripMargin

  // ---------------------------------------------------------------- q18
  /** Bucketed co-located join — the storage-layout variant of the
    * headline join: orders and customer are written ONCE per session as
    * bucketed+sorted tables on the join key (16 buckets), and the join
    * reads them back through the catalog. With matching bucketing on
    * both sides Spark's sort-merge join consumes the buckets in place —
    * no Exchange on either input (plan-asserted in ScaleOpsSpec with
    * broadcast disabled); at 100 TB this is how a fact table joined
    * daily on the same key amortizes its shuffle to zero. This driver
    * row hash-verifies the whole bucketed write→catalog→read→join path
    * against the plain-parquet oracle. */
  /** Session-table / tmpdir suffix for the layout queries (q18/q58):
    * the sanitized FULL source path, not its hashCode — two distinct
    * sfDirs can never silently reuse each other's cached table (a
    * hashCode collision would). Mutating the data under an sfDir
    * mid-session still reuses the session's table, like every other
    * session memo. */
  private[queries] def pathKey(sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9]", "_")

  def q18BucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val sfx = pathKey(sfDir)
    val (to, tc) = (s"graft_bko_$sfx", s"graft_bkc_$sfx")
    if (!spark.catalog.tableExists(to) || !spark.catalog.tableExists(tc)) {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_buckets_${sfx}_${java.lang.ProcessHandle.current().pid()}").toString
      Tables.orders(spark, sfDir).write.mode("overwrite")
        .bucketBy(16, "o_custkey").sortBy("o_custkey")
        .option("path", s"$tmp/orders").saveAsTable(to)
      Tables.customer(spark, sfDir).write.mode("overwrite")
        .bucketBy(16, "c_custkey").sortBy("c_custkey")
        .option("path", s"$tmp/customer").saveAsTable(tc)
    }
    spark.table(to)
      .join(spark.table(tc), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), asD(dsum(col("o_totalprice"))).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  val q18Sql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q19
  /** Bin granularity and interval padding for the range join: alert
    * intervals are [hour − 15 min, hour + 75 min] around busy hours. */
  val RjBinUs = 3600000000L
  val RjLoPadUs = 900000000L
  val RjHiPadUs = 4500000000L

  /** UNKEYED point-in-interval range join, bin-bucketed — the join
    * class Spark has no shuffle strategy for (a bare `ts BETWEEN lo
    * AND hi` predicate compiles to BroadcastNestedLoopJoin: every
    * point × every interval). The scale-safe shape: quantize both
    * sides to fixed time bins — an interval explodes to the bins it
    * overlaps (≤3 here, bounded by interval span / bin), a point maps
    * to exactly ONE bin — equi-join on the bin, then the residual
    * range filter. Each (point, interval) pair meets in exactly one
    * bin, so no post-join dedup is needed. The join is a plain hash
    * shuffle on `bin` that scales to any number of intervals; at
    * 100 TB the bin width tunes fan-out vs bucket size exactly like
    * an LSH band. Intervals here are derived from the data (hours
    * whose error count exceeds 1.5× the hourly average — SF-relative
    * by construction), points are the click events.
    * Oracle: DuckDB's native IEJoin on the raw BETWEEN predicate —
    * same pairs, different physical strategy on each engine. */
  def q19RangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("value"),
        expr("ts div 1000").as("ts_us"))
    val hr = ev.filter(col("event_type") === "error")
      .groupBy(expr(s"ts_us div $RjBinUs").as("h"))
      .agg(count(lit(1)).as("c"))
    val thr = hr.agg(avg(col("c")).as("avg_c")) // 1 row, broadcast below
    val iv = hr.crossJoin(broadcast(thr))
      .filter(col("c").cast("double") > lit(1.5) * col("avg_c"))
      .select((col("h") * RjBinUs).as("wstart_us"),
        (col("h") * RjBinUs - RjLoPadUs).as("lo_us"),
        (col("h") * RjBinUs + RjHiPadUs).as("hi_us"))
    val ivBinned = iv.withColumn("bin",
      explode(sequence(expr(s"lo_us div $RjBinUs"), expr(s"hi_us div $RjBinUs"))))
    val clicks = ev.filter(col("event_type") === "click")
      .withColumn("bin", expr(s"ts_us div $RjBinUs"))
    ivBinned.join(clicks, Seq("bin"))
      .filter(col("ts_us").between(col("lo_us"), col("hi_us")))
      .groupBy(col("wstart_us"), col("lo_us"), col("hi_us"))
      .agg(count(lit(1)).as("n_clicks"),
        countDistinct(col("user_id")).as("n_users"),
        asD(dsum(col("value"))).as("click_value"))
      .orderBy(col("wstart_us"))
  }

  val q19Sql: String =
    s"""WITH ev AS (
      |  SELECT user_id, event_type, value,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |hr AS (
      |  SELECT ts_us // $RjBinUs AS h, count(*) AS c
      |  FROM ev WHERE event_type = 'error' GROUP BY 1),
      |iv AS (
      |  SELECT h * $RjBinUs AS wstart_us,
      |         h * $RjBinUs - $RjLoPadUs AS lo_us,
      |         h * $RjBinUs + $RjHiPadUs AS hi_us
      |  FROM hr WHERE CAST(c AS DOUBLE) > 1.5 * (SELECT avg(c) FROM hr))
      |SELECT wstart_us, lo_us, hi_us, count(*) AS n_clicks,
      |  count(DISTINCT user_id) AS n_users,
      |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS click_value
      |FROM iv JOIN ev ON event_type = 'click' AND ts_us BETWEEN lo_us AND hi_us
      |GROUP BY wstart_us, lo_us, hi_us
      |ORDER BY wstart_us""".stripMargin

  // ---------------------------------------------------------------- q38
  /** Multi-level aggregate: ROLLUP over (year, region) — detail rows,
    * per-year subtotals, and the grand total in one pass. Spark
    * expands the grouping sets BEFORE the exchange, so partial
    * aggregation still combines map-side and the extra levels cost one
    * ~3× row expansion of the AGGREGATED frame, not a second scan —
    * the same plan holds at 100 TB. Grouping-null markers are
    * projected to sentinel values (-1 / 'ALL') on both engines so the
    * hash compare never depends on engine null conventions. */
  def q38Rollup(spark: SparkSession, sfDir: String): DataFrame = {
    val joined = Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)), col("n_regionkey") === col("r_regionkey"))
      .select(year(col("o_orderdate")).as("o_year"), col("r_name"), col("o_totalprice"))
    joined.rollup(col("o_year"), col("r_name"))
      .agg(count(lit(1)).as("n_orders"), asD(dsum(col("o_totalprice"))).as("revenue"))
      .select(
        (when(col("o_year").isNull, 2).otherwise(0) +
          when(col("r_name").isNull, 1).otherwise(0)).as("gid"),
        coalesce(col("o_year"), lit(-1)).as("o_year"),
        coalesce(col("r_name"), lit("ALL")).as("region"),
        col("n_orders"), col("revenue"))
      .orderBy(col("gid"), col("o_year"), col("region"))
  }

  val q38Sql: String =
    """WITH j AS (
      |  SELECT year(o_orderdate) AS o_year, r_name, o_totalprice
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey),
      |r AS (
      |  SELECT o_year, r_name, count(*) AS n_orders,
      |    round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue
      |  FROM j GROUP BY ROLLUP (o_year, r_name))
      |SELECT
      |  (CASE WHEN o_year IS NULL THEN 2 ELSE 0 END)
      |    + (CASE WHEN r_name IS NULL THEN 1 ELSE 0 END) AS gid,
      |  coalesce(o_year, -1) AS o_year,
      |  coalesce(r_name, 'ALL') AS region,
      |  n_orders, revenue
      |FROM r
      |ORDER BY gid, o_year, region""".stripMargin

  // ---------------------------------------------------------------- q59
  /** Relational set operations — INTERSECT / EXCEPT as first-class
    * distributed operators (Spark compiles both to hash aggregations +
    * a left-semi/anti join — partial-agged, no sort): which customers
    * placed filled orders in BOTH 1995 and 1996 (retention), and which
    * churned (1995 EXCEPT 1996), summarized per nation. */
  def q59SetOps(spark: SparkSession, sfDir: String): DataFrame = {
    def buyers(yr: Int) = Tables.orders(spark, sfDir)
      .filter(year(col("o_orderdate")) === yr && col("o_orderstatus") === "F")
      .select(col("o_custkey"))
    val retained = buyers(1995).intersect(buyers(1996))
      .withColumn("cohort", lit("retained"))
    val churned = buyers(1995).except(buyers(1996))
      .withColumn("cohort", lit("churned"))
    retained.unionAll(churned)
      .join(broadcast(Tables.customer(spark, sfDir)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("cohort"), col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("cohort"), col("nationkey"))
  }

  val q59Sql: String =
    """WITH b95 AS (SELECT o_custkey FROM orders
      |             WHERE year(o_orderdate) = 1995 AND o_orderstatus = 'F'),
      |b96 AS (SELECT o_custkey FROM orders
      |        WHERE year(o_orderdate) = 1996 AND o_orderstatus = 'F'),
      |cohorts AS (
      |  SELECT o_custkey, 'retained' AS cohort FROM (SELECT * FROM b95 INTERSECT SELECT * FROM b96)
      |  UNION ALL
      |  SELECT o_custkey, 'churned' AS cohort FROM (SELECT * FROM b95 EXCEPT SELECT * FROM b96))
      |SELECT cohort, c_nationkey AS nationkey, count(*) AS n_customers
      |FROM cohorts JOIN customer ON o_custkey = c_custkey
      |GROUP BY cohort, nationkey
      |ORDER BY cohort, nationkey""".stripMargin

  // ---------------------------------------------------------------- q75
  /** Salt fan-out for the skew-join demonstration. */
  val SkewSalts = 8

  /** Skew-mitigated fact⋈dim join — the manual twin of AQE's skew-join
    * split, as a first-class operator: the fact side (events) tags each
    * row with salt = hash(event_id) mod [[SkewSalts]], the dim side
    * (customer⋈nation, small) replicates [[SkewSalts]] ways via an
    * in-row `explode(sequence(...))`, and the equi-join runs on
    * (key, salt) — so ONE hot key spreads over [[SkewSalts]] shuffle
    * partitions instead of hot-spotting one reducer. The salted join is
    * value-identical to the plain join (each fact row still meets
    * exactly one dim copy), so the oracle replays the UNSALTED join —
    * the gate itself proves salting is semantics-preserving. Post-join
    * the per-nation rollup is a partial-agged groupBy.
    *
    * At 100 TB: this is the shape for whale keys that AQE can't split
    * (e.g. a sort-merge join forced by a non-shuffle-joinable plan, or
    * pre-AQE engines); the dim-side replication cost is |dim|×salts
    * rows — bounded, broadcast-sized — while the fact side stays
    * map-only. With AQE on, `spark.sql.adaptive.skewJoin` does this
    * split adaptively; the operator documents the explicit form. */
  def q75SkewJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val fact = Tables.events(spark, sfDir)
      .select(col("user_id"), col("value"),
        pmod(MF.hash32(col("event_id").cast("string")), lit(SkewSalts)).as("salt"))
    val dim = Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"),
        explode(sequence(lit(0), lit(SkewSalts - 1))).as("salt"))
    fact.join(dim,
        fact("user_id") === dim("c_custkey") && fact("salt") === dim("salt"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"), asD(dsum(col("value"))).as("total_value"))
      .orderBy(col("n_name"))
  }

  val q75Sql: String =
    """SELECT n_name, count(*) AS n_events,
      |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_value
      |FROM events
      |JOIN customer ON user_id = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q76
  /** CUBE over (order year, priority) — all four grouping sets
    * (detail, per-year, per-priority, grand total) in one pass,
    * completing the grouping-sets family q38's ROLLUP opened. Same
    * scale shape: Spark expands grouping sets BEFORE the exchange, so
    * partial aggregation combines map-side and the exchange carries
    * the ~4× AGGREGATED frame, never a re-scan per level. Sentinel
    * projection (-1 / 'ALL') keeps the hash gate independent of
    * engine grouping-null conventions (the q38 convention). */
  def q76Cube(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .select(year(col("o_orderdate")).as("o_year"), col("o_orderpriority"),
        col("o_totalprice"))
      .cube(col("o_year"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), asD(dsum(col("o_totalprice"))).as("revenue"))
      .select(
        (when(col("o_year").isNull, 2).otherwise(0) +
          when(col("o_orderpriority").isNull, 1).otherwise(0)).as("gid"),
        coalesce(col("o_year"), lit(-1)).as("o_year"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("revenue"))
      .orderBy(col("gid"), col("o_year"), col("priority"))
  }

  val q76Sql: String =
    """WITH r AS (
      |  SELECT year(o_orderdate) AS o_year, o_orderpriority, count(*) AS n_orders,
      |    round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue
      |  FROM orders GROUP BY CUBE (o_year, o_orderpriority))
      |SELECT
      |  (CASE WHEN o_year IS NULL THEN 2 ELSE 0 END)
      |    + (CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS gid,
      |  coalesce(o_year, -1) AS o_year,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  n_orders, revenue
      |FROM r
      |ORDER BY gid, o_year, priority""".stripMargin

  // ---------------------------------------------------------------- q93
  /** Nanoseconds per day — cohort/offset days are pure integer
    * division on the nanosecond ts (q85's no-calendar convention). */
  private val DayNs = 86400L * 1000000000L

  /** Daily cohort retention matrix — the product-analytics staple
    * beside q53's funnel: users are cohorted by first-activity day,
    * and cell (cohort, offset) counts how many of them were active
    * `offset` days later, with retention = the share of the cohort.
    * Offset 0 is the cohort size itself (retention 1.0 by definition —
    * kept, it's the matrix diagonal readers expect). Daily grain keeps
    * the fixture non-trivial (at ~2 events/user/day a user skips a
    * given day ~10% of the time, so off-diagonal cells are genuinely
    * < 1.0; weekly grain saturates to all-1.0 on this log).
    *
    * Shape for 100 TB: the event stream collapses to DISTINCT
    * (user, day) pairs in one partial-agged pass (the exchange
    * carries user-day rows, never events); first-day is a min-agg
    * re-aggregation of that frame on the same user_id partitioning;
    * the matrix is days² cells — O(1)-sized output however large the
    * log. All-integer counts; one float share per cell. */
  def q93Retention(spark: SparkSession, sfDir: String): DataFrame = {
    val uw = Tables.events(spark, sfDir)
      .select(col("user_id"), expr(s"ts div $DayNs").as("day"))
      .distinct()
    val first = uw.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
    val sizes = first.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_users"))
    uw.join(first, "user_id")
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("offset_days"))
      .agg(count(lit(1)).as("active_users"))
      .join(broadcast(sizes), "cohort")
      .select(col("cohort"), col("offset_days"), col("cohort_users"),
        col("active_users"),
        round(col("active_users").cast("double") / col("cohort_users"), 6)
          .as("retention"))
      .orderBy(col("cohort"), col("offset_days"))
  }

  val q93Sql: String =
    s"""WITH uw AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // $DayNs AS day FROM events),
first AS (
  SELECT user_id, min(day) AS cohort FROM uw GROUP BY user_id),
sizes AS (
  SELECT cohort, count(*) AS cohort_users FROM first GROUP BY cohort),
cells AS (
  SELECT f.cohort, uw.day - f.cohort AS offset_days, count(*) AS active_users
  FROM uw JOIN first f ON uw.user_id = f.user_id
  GROUP BY f.cohort, uw.day - f.cohort)
SELECT c.cohort, c.offset_days, s.cohort_users, c.active_users,
  round(CAST(c.active_users AS DOUBLE) / s.cohort_users, 6) AS retention
FROM cells c JOIN sizes s ON c.cohort = s.cohort
ORDER BY c.cohort, c.offset_days"""

  // ---------------------------------------------------------------- q101
  /** Buckets for the local-skyline prune phase. */
  val SkyBuckets = 32

  /** 2-D skyline (Pareto front) of orders on (totalprice ↑, orderdate ↑):
    * the orders no other order beats on both price and recency — the
    * dominance query (multi-criteria "best" set) OLAP engines ship as a
    * first-class operator and Spark has no node for. Composed from
    * windows (custom-operator ladder preference (a)):
    *
    * Phase 1 prunes LOCALLY: points are hash-bucketed, and each
    * bucket's skyline is computed with a partitioned window (sort by
    * price DESC, date DESC; a point survives iff its date beats the
    * running max over strictly-preceding rows). Dominance is transitive
    * and global skyline points can never be dominated, so the union of
    * local skylines contains exactly the global skyline plus a small
    * residue — the scale trick: the UNPARTITIONED phase-2 window runs
    * on ~|skyline|·buckets survivors, never the corpus (a naive global
    * window would funnel 100 TB through one partition).
    *
    * Points are first made DISTINCT (identical (price, date) pairs
    * carry an n_orders count), which makes the running-max strictness
    * test exactly the ≥/≥-with-one-strict dominance definition. */
  def q101Skyline(spark: SparkSession, sfDir: String): DataFrame = {
    val pts = Tables.orders(spark, sfDir)
      .select(col("o_totalprice").as("price"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("date_us"))
      .groupBy(col("price"), col("date_us")).agg(count(lit(1)).as("n_orders"))
    def survivors(df: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec) =
      df.withColumn("mp", max(col("date_us")).over(
          w.orderBy(col("price").desc, col("date_us").desc)
            .rowsBetween(Window.unboundedPreceding, -1)))
        .filter(col("mp").isNull || col("date_us") > col("mp"))
        .drop("mp")
    val local = survivors(
      pts.withColumn("b", pmod(hash(col("price"), col("date_us")), lit(SkyBuckets))),
      Window.partitionBy(col("b"))).drop("b")
    survivors(local, Window.partitionBy())
      .orderBy(col("price").desc, col("date_us"))
  }

  val q101Sql: String =
    """WITH pts AS (
      |  SELECT o_totalprice AS price, epoch_us(o_orderdate) AS date_us,
      |    count(*) AS n_orders
      |  FROM orders GROUP BY 1, 2),
      |sky AS (
      |  SELECT price, date_us, n_orders,
      |    max(date_us) OVER (ORDER BY price DESC, date_us DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mp
      |  FROM pts)
      |SELECT price, date_us, n_orders FROM sky
      |WHERE mp IS NULL OR date_us > mp
      |ORDER BY price DESC, date_us""".stripMargin

  // ---------------------------------------------------------------- q102
  val BasketMinSupport = 5
  val BasketTopK = 50

  /** Market-basket association mining over order baskets: which part
    * BRAND pairs co-occur in an order far beyond chance? Per-order
    * distinct brands (lineitem joined to the broadcast part dim), pair
    * counts c_ab, per-brand counts c_a, and
    * lift = c_ab·N / (c_a·c_b) — the recommender/affinity primitive.
    * Pairs under [[BasketMinSupport]] orders are dropped; top
    * [[BasketTopK]] by round(6)-gridded lift (rank-after-grid, q48
    * convention).
    *
    * Shape for 100 TB: the dim join is broadcast; the pair self-join
    * runs WITHIN an order key (bounded basket size ⇒ bounded fan-out,
    * never corpus×corpus); everything downstream of the per-order
    * distinct is counts of (brand) and (brand, brand) rows — a
    * vocabulary-sized frame. Lift's integer cross-multiplication stays
    * in int64 inside the one double division. */
  def q102Basket(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val pt = Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand"))
    val ob = li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
      .distinct()
    val n = ob.select(col("ok")).distinct().agg(count(lit(1)).as("n"))
    val ca = ob.groupBy(col("brand")).agg(count(lit(1)).as("c"))
    val pairs = ob.as("x").join(ob.as("y"),
        col("x.ok") === col("y.ok") && col("x.brand") < col("y.brand"))
      .select(col("x.brand").as("a"), col("y.brand").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= BasketMinSupport)
    val lift = round((col("c_ab") * col("n")).cast("double")
      / (col("c_a") * col("c_b")).cast("double"), 6)
    val top = pairs
      .join(broadcast(ca.select(col("brand").as("a"), col("c").as("c_a"))), "a")
      .join(broadcast(ca.select(col("brand").as("b"), col("c").as("c_b"))), "b")
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"), lift.as("lift"))
      .orderBy(col("lift").desc, col("a"), col("b")).limit(BasketTopK)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("lift").desc, col("a"), col("b"))))
      .select(col("rank"), col("a"), col("b"), col("c_ab"), col("lift"))
      .orderBy(col("rank"))
  }

  val q102Sql: String =
    s"""WITH ob AS (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |nn AS (SELECT count(DISTINCT ok) AS n FROM ob),
      |ca AS (SELECT brand, count(*) AS c FROM ob GROUP BY brand),
      |pairs AS (
      |  SELECT x.brand AS a, y.brand AS b, count(*) AS c_ab
      |  FROM ob x JOIN ob y ON x.ok = y.ok AND x.brand < y.brand
      |  GROUP BY 1, 2 HAVING count(*) >= $BasketMinSupport),
      |scored AS (
      |  SELECT p.a, p.b, p.c_ab,
      |    round(CAST(p.c_ab * nn.n AS DOUBLE) / CAST(x.c * y.c AS DOUBLE), 6) AS lift
      |  FROM pairs p
      |  JOIN ca x ON x.brand = p.a JOIN ca y ON y.brand = p.b
      |  CROSS JOIN nn),
      |ranked AS (
      |  SELECT a, b, c_ab, lift,
      |    row_number() OVER (ORDER BY lift DESC, a, b) AS rank
      |  FROM scored)
      |SELECT rank, a, b, c_ab, lift FROM ranked
      |WHERE rank <= $BasketTopK ORDER BY rank""".stripMargin

  // --------------------------------------------------------------- q114
  /** Winsorized (clipped) robust statistics per part brand — the
    * outlier-tolerant aggregation feature pipelines use where a raw
    * mean is skew-dominated: exact nearest-rank P05/P95 bounds per
    * brand via integer rank arithmetic (lo = ⌈n/20⌉, hi = ⌈19n/20⌉ —
    * no float percentile, so both engines pick the identical element),
    * then every price clips into [p05, p95] before the mean.
    *
    * Shape for 100 TB: ONE hash shuffle on brand; rank, bounds (a
    * conditional window agg — the bound value rides the same sorted
    * partition, no second pass), clip, and the final partial-agged
    * mean all stay in that partition. Decimal sums keep the means
    * order-independent. */
  def q114Winsorize(spark: SparkSession, sfDir: String): DataFrame = {
    val byBrand = Window.partitionBy(col("p_brand"))
    val ordered = byBrand.orderBy(col("p_retailprice"), col("p_partkey"))
    Tables.part(spark, sfDir)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
      .withColumn("rn", row_number().over(ordered))
      .withColumn("n", count(lit(1)).over(byBrand))
      .withColumn("p05", max(when(col("rn") === expr("(n + 19) div 20"),
        col("p_retailprice"))).over(byBrand))
      .withColumn("p95", max(when(col("rn") === expr("(19 * n + 19) div 20"),
        col("p_retailprice"))).over(byBrand))
      .withColumn("clipped",
        least(greatest(col("p_retailprice"), col("p05")), col("p95")))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        max(col("p05")).as("p05"), max(col("p95")).as("p95"),
        round(dsum(col("p_retailprice")).cast("double") / count(lit(1)), 6)
          .as("mean_raw"),
        round(dsum(col("clipped")).cast("double") / count(lit(1)), 6)
          .as("mean_winsor"))
      .orderBy(col("p_brand"))
  }

  val q114Sql: String =
    """WITH r AS (
      |  SELECT p_brand, p_retailprice,
      |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey) AS rn,
      |    count(*) OVER (PARTITION BY p_brand) AS n
      |  FROM part),
      |b AS (
      |  SELECT p_brand, p_retailprice, n,
      |    max(CASE WHEN rn = (n + 19) // 20 THEN p_retailprice END)
      |      OVER (PARTITION BY p_brand) AS p05,
      |    max(CASE WHEN rn = (19 * n + 19) // 20 THEN p_retailprice END)
      |      OVER (PARTITION BY p_brand) AS p95
      |  FROM r)
      |SELECT p_brand, count(*) AS n_parts, max(p05) AS p05, max(p95) AS p95,
      |  round(CAST(sum(CAST(p_retailprice AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS mean_raw,
      |  round(CAST(sum(CAST(least(greatest(p_retailprice, p05), p95) AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS mean_winsor
      |FROM b GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // --------------------------------------------------------------- q123
  /** Unpivot (melt) — q51's pivot run in reverse, the wide→long
    * reshape feature stores need before a union or a generic
    * per-measure pipeline: lineitem's four numeric measures unpivot
    * into (measure, value) rows via `stack`, then aggregate per
    * (returnflag, measure).
    *
    * Shape for 100 TB: `stack` is a map-side constant-factor (4×)
    * row generator feeding a partial aggregation — the exchange
    * carries flags × measures rows, never the melted corpus. The
    * wrong plan here (unioning four full scans) reads the table four
    * times; the unpivot reads it once. */
  def q123Unpivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .selectExpr("l_returnflag",
        """stack(4,
          |  'quantity', l_quantity,
          |  'extendedprice', l_extendedprice,
          |  'discount', l_discount,
          |  'tax', l_tax) AS (measure, value)""".stripMargin)
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(count(lit(1)).as("n"), asD(dsum(col("value"))).as("total"))
      .orderBy(col("l_returnflag"), col("measure"))

  val q123Sql: String =
    """WITH m AS (
      |  SELECT l_returnflag, 'quantity' AS measure, l_quantity AS value FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'discount', l_discount FROM lineitem
      |  UNION ALL SELECT l_returnflag, 'tax', l_tax FROM lineitem)
      |SELECT l_returnflag, measure, count(*) AS n,
      |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS total
      |FROM m GROUP BY l_returnflag, measure
      |ORDER BY l_returnflag, measure""".stripMargin

  // --------------------------------------------------------------- q124
  /** SCD type-2 dimension build — the lakehouse history-table op: each
    * user's event stream collapses into versioned state intervals
    * (consecutive runs of the same event_type), with `valid_from` /
    * `valid_to` (next version's start, NULL while current) and a
    * version number. The gaps-and-islands change-flag + running-sum
    * idiom; `valid_to` rides a lead() over the per-user version frame.
    *
    * Shape for 100 TB: ONE hash shuffle on user_id — change flags,
    * version ids, the island aggregation, and the lead() all stay in
    * that sorted partition (the island frame re-partitions by the
    * same key, so AQE coalesces it into the same exchange); output is
    * O(state changes), the natural size of an SCD2 dimension. */
  def q124Scd2(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val byVersion = Window.partitionBy(col("user_id")).orderBy(col("version"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byUser).isNull ||
          lag(col("event_type"), 1).over(byUser) =!= col("event_type"), 1)
          .otherwise(0))
      .withColumn("version", sum(col("chg")).over(byUser))
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("event_type")).as("state"), // constant within the island
        count(lit(1)).as("n_events"),
        expr("min(ts) div 1000").as("valid_from_us"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(byVersion))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select(col("user_id"), col("version"), col("state"), col("n_events"),
        col("valid_from_us"), col("valid_to_us"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  val q124Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id, event_type
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, ts_us, event_id, event_type,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |              OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |versioned AS (
      |  SELECT user_id, ts_us, event_type,
      |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS version
      |  FROM flagged),
      |islands AS (
      |  SELECT user_id, version, min(event_type) AS state, count(*) AS n_events,
      |    min(ts_us) AS valid_from_us
      |  FROM versioned GROUP BY user_id, version)
      |SELECT user_id, version, state, n_events, valid_from_us,
      |  lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version) AS valid_to_us,
      |  (lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version) IS NULL) AS is_current
      |FROM islands
      |ORDER BY user_id, version""".stripMargin

  // --------------------------------------------------------------- q126
  /** Bloom-filter bits for the semijoin sketch: fixed 1 Mbit ⇒ a
    * ~128 KB broadcast no matter how large the filtered dim grows. */
  val SemijoinBloomBits: Long = 1L << 20

  /** Bloom semijoin reduction — the classic distributed-join
    * optimization (and what Spark's own runtime row-level filtering
    * does when stats allow): revenue of lineitems belonging to URGENT
    * orders, computed by folding the qualifying orderkeys into a
    * FIXED-SIZE Bloom sketch ([[SemijoinBloomBits]]), prefiltering the
    * fact table map-only against it, and only then running the exact
    * semi join that removes the ~fpp false positives. No false
    * negatives ⇒ bit-identical to the plain join (the oracle replays
    * the plain join), but the exchange carries only survivors.
    *
    * Shape for 100 TB: the sketch is O(1)-sized by construction
    * (q28's argument) and built by one partial-agged pass over the
    * dim; the fact-side probe is a compiled whole-stage filter AT THE
    * SCAN (no join machinery for the ~99% of rows a selective dim
    * rejects); the residual semi join shuffles only what survived.
    * This is the join-strategy piece a 1000-executor plan wants when
    * the dim is too big to broadcast whole but its KEY SET fits a
    * sketch. */
  def q126BloomSemijoin(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val pre = Graft.bloomSemijoin(
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice")),
      col("l_orderkey"), urgent, col("o_orderkey"), SemijoinBloomBits)
    pre.join(urgent, pre("l_orderkey") === urgent("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        asD(dsum(col("l_extendedprice"))).as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  val q126Sql: String =
    """SELECT l_returnflag, count(*) AS n_items,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------- q129
  /** Single-pass column profiler over `orders` — the data-quality
    * sweep (null ratios, cardinalities, ranges) every ingest gate runs
    * before a table enters a pipeline: one aggregation computes
    * per-column null counts, exact distinct counts, and numeric
    * min/max (timestamps as epoch-µs), then the 1×N stats row unpivots
    * to one row per column.
    *
    * Shape for 100 TB: one pass; the multi-column count(DISTINCT)
    * plans as Catalyst's expand (×|columns| rows into a partial agg) —
    * the standard exact plan; at extreme scale each count_distinct
    * swaps for q83's HLL sketch with the same shape. The unpivot is on
    * a 1-row frame. */
  def q129Profile(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    def nulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nu_$c")
    val stats = o.agg(
      count(lit(1)).as("n_rows"),
      nulls("o_orderkey"), nulls("o_custkey"), nulls("o_orderstatus"),
      nulls("o_totalprice"), nulls("o_orderdate"), nulls("o_orderpriority"),
      countDistinct(col("o_orderkey")).as("nd_o_orderkey"),
      countDistinct(col("o_custkey")).as("nd_o_custkey"),
      countDistinct(col("o_orderstatus")).as("nd_o_orderstatus"),
      countDistinct(col("o_totalprice")).as("nd_o_totalprice"),
      countDistinct(col("o_orderdate")).as("nd_o_orderdate"),
      countDistinct(col("o_orderpriority")).as("nd_o_orderpriority"),
      min(col("o_orderkey")).cast("double").as("mn_o_orderkey"),
      max(col("o_orderkey")).cast("double").as("mx_o_orderkey"),
      min(col("o_custkey")).cast("double").as("mn_o_custkey"),
      max(col("o_custkey")).cast("double").as("mx_o_custkey"),
      round(min(col("o_totalprice")), 6).as("mn_o_totalprice"),
      round(max(col("o_totalprice")), 6).as("mx_o_totalprice"),
      // o_orderdate is TIMESTAMP_NTZ on disk; under the session's UTC
      // zone the NTZ→LTZ cast is value-preserving (Tables.events doc)
      unix_micros(min(col("o_orderdate")).cast("timestamp")).cast("double")
        .as("mn_o_orderdate"),
      unix_micros(max(col("o_orderdate")).cast("timestamp")).cast("double")
        .as("mx_o_orderdate"))
    stats.selectExpr("n_rows",
      """stack(6,
        |  'o_orderkey',      nu_o_orderkey,      nd_o_orderkey,      mn_o_orderkey,      mx_o_orderkey,
        |  'o_custkey',       nu_o_custkey,       nd_o_custkey,       mn_o_custkey,       mx_o_custkey,
        |  'o_orderstatus',   nu_o_orderstatus,   nd_o_orderstatus,   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'o_totalprice',    nu_o_totalprice,    nd_o_totalprice,    mn_o_totalprice,    mx_o_totalprice,
        |  'o_orderdate',     nu_o_orderdate,     nd_o_orderdate,     mn_o_orderdate,     mx_o_orderdate,
        |  'o_orderpriority', nu_o_orderpriority, nd_o_orderpriority, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |) AS (column_name, n_nulls, n_distinct, min_num, max_num)""".stripMargin)
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_num"), col("max_num"))
      .orderBy(col("column_name"))
  }

  val q129Sql: String =
    """WITH s AS (
      |  SELECT count(*) AS n_rows,
      |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nu1,
      |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nu2,
      |    sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nu3,
      |    sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nu4,
      |    sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS nu5,
      |    sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nu6,
      |    count(DISTINCT o_orderkey) AS nd1, count(DISTINCT o_custkey) AS nd2,
      |    count(DISTINCT o_orderstatus) AS nd3, count(DISTINCT o_totalprice) AS nd4,
      |    count(DISTINCT o_orderdate) AS nd5, count(DISTINCT o_orderpriority) AS nd6,
      |    CAST(min(o_orderkey) AS DOUBLE) AS mn1, CAST(max(o_orderkey) AS DOUBLE) AS mx1,
      |    CAST(min(o_custkey) AS DOUBLE) AS mn2, CAST(max(o_custkey) AS DOUBLE) AS mx2,
      |    round(min(o_totalprice), 6) AS mn4, round(max(o_totalprice), 6) AS mx4,
      |    CAST(epoch_us(min(o_orderdate)) AS DOUBLE) AS mn5,
      |    CAST(epoch_us(max(o_orderdate)) AS DOUBLE) AS mx5
      |  FROM orders)
      |SELECT 'o_orderkey' AS column_name, n_rows, CAST(nu1 AS BIGINT) AS n_nulls,
      |  nd1 AS n_distinct, mn1 AS min_num, mx1 AS max_num FROM s
      |UNION ALL SELECT 'o_custkey', n_rows, CAST(nu2 AS BIGINT), nd2, mn2, mx2 FROM s
      |UNION ALL SELECT 'o_orderstatus', n_rows, CAST(nu3 AS BIGINT), nd3, NULL, NULL FROM s
      |UNION ALL SELECT 'o_totalprice', n_rows, CAST(nu4 AS BIGINT), nd4, mn4, mx4 FROM s
      |UNION ALL SELECT 'o_orderdate', n_rows, CAST(nu5 AS BIGINT), nd5, mn5, mx5 FROM s
      |UNION ALL SELECT 'o_orderpriority', n_rows, CAST(nu6 AS BIGINT), nd6, NULL, NULL FROM s
      |ORDER BY column_name""".stripMargin

  // --------------------------------------------------------------- q133
  /** Calendar day (2024-01) splitting base from delta — the last ~6
    * days of the fixture arrive as the "new partition". */
  val IncrSplitDay = 24

  /** Incremental aggregate maintenance — the materialized-view update
    * path: yesterday's aggregate state (events BEFORE day
    * [[IncrSplitDay]]) merges with the fresh partition's partial
    * aggregate via pure ALGEBRAIC combination (counts add, decimal
    * sums add, min/min, max/max; the mean derives after the merge) —
    * the full-recompute oracle proves merge ≡ recompute. At 100 TB
    * this is the difference between re-reading the corpus daily and
    * reading one day: the exchange carries |types| merged rows, and
    * each side's partial agg is map-side combined. */
  def q133IncrAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"),
        expr("ts div 86400000000000").as("day"))
    def part(p: Column => Column): DataFrame =
      ev.filter(p(col("day")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sv"),
          min(col("value")).as("mn"), max(col("value")).as("mx"))
    val cut = lit(19723 + IncrSplitDay) // epoch day of 2024-01-01 + split offset
    part(_ < cut).unionByName(part(_ >= cut))
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_events"), sum(col("sv")).as("sv"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"))
      .select(col("event_type"), col("n_events"),
        asD(col("sv")).as("total_value"),
        round(col("mn"), 6).as("min_value"), round(col("mx"), 6).as("max_value"),
        round(col("sv").cast("double") / col("n_events"), 6).as("avg_value"))
      .orderBy(col("event_type"))
  }

  val q133Sql: String =
    """SELECT event_type, count(*) AS n_events,
      |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_value,
      |  round(min(value), 6) AS min_value, round(max(value), 6) AS max_value,
      |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS avg_value
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q140
  /** Number of independent AMS tug-of-war estimators. */
  val AmsM = 64

  /** Self-join size (second frequency moment F₂) estimation by the
    * AMS tug-of-war sketch — the query-optimizer diagnostic that
    * prices a join BEFORE running it: each of [[AmsM]] estimators keeps
    * one running signed sum Sⱼ = Σ_rows sign_j(key) (±1 signs from the
    * j-th universal hash of the portable key hash), and Sⱼ² is an
    * unbiased estimate of F₂ = Σ_k f(k)² = |R ⋈ R| on the join key.
    * The output carries every estimator (j, s_j, est_j), the mean
    * estimate, the EXACT F₂, and the relative error — the sketch is
    * deterministic (pure hash signs), so DuckDB replays it bit-for-bit.
    *
    * Shape for 100 TB: sketch state is O(M) longs per partition (the
    * explode is map-side, partial-agged per j before the exchange — the
    * shuffle carries M×partitions rows); the exact F₂ (gate-only, the
    * thing the sketch replaces at scale) is one count-then-sum
    * aggregation. */
  def q140JoinSize(spark: SparkSession, sfDir: String): DataFrame = {
    val p = MF.HashP
    val keyed = Tables.lineitem(spark, sfDir)
      .select(MF.hash32(col("l_partkey").cast("string")).as("h"))
    // One pass, AmsM parallel accumulators: estimator j's signed sum is
    // its own sum column in a single global aggregate (map-side partial
    // agg of M longs) instead of exploding every row ×AmsM and hash-
    // aggregating a |rows|·M stream on j (guide §2.3 "aggregate before
    // you shuffle" — measured 4.4 s → sub-second at sf0.1). The per-row
    // sign term is the identical integer expression, so every s_j is
    // bit-identical to the exploded form the oracle replays.
    def signJ(j: Int): Column =
      lit(1L) - lit(2L) * pmod(
        pmod((lit(1103515245L) + lit(12345L) * lit(j)) * col("h")
          + pmod(lit(1013904223L) + lit(2654435761L) * lit(j), lit(p)), lit(p)),
        lit(2))
    val sRow = keyed.agg(
      sum(signJ(1)).as("s_1"),
      (2 to AmsM).map(j => sum(signJ(j)).as(s"s_$j")): _*)
    val sj = sRow.select(explode(array((1 to AmsM).map(j =>
        struct(lit(j).as("j"), col(s"s_$j").as("s_j"))): _*)).as("e"))
      .select(col("e.j").as("j"), col("e.s_j").as("s_j"))
      .withColumn("est_j", col("s_j") * col("s_j"))
    val exact = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("f"))
      .agg(sum(col("f") * col("f")).as("f2_exact"))
    val meanEst = sj.agg(sum(col("est_j")).as("est_sum"))
    sj.crossJoin(broadcast(exact)).crossJoin(broadcast(meanEst))
      .select(col("j"), col("s_j"), col("est_j"), col("f2_exact"),
        round(col("est_sum").cast("double") / AmsM, 6).as("mean_est"),
        round(abs(col("est_sum").cast("double") / AmsM - col("f2_exact"))
          / col("f2_exact"), 6).as("rel_err"))
      .orderBy(col("j"))
  }

  val q140Sql: String = {
    val p = MF.HashP
    val a0 = 1103515245L
    val b0 = 1013904223L
    s"""WITH keyed AS (
      |  SELECT ${graft.oracle.Sql.hash32OfHex("md5(CAST(l_partkey AS VARCHAR))")} AS h
      |  FROM lineitem),
      |signs AS (
      |  SELECT j, (1 - 2 * ((((($a0 + 12345 * j) * h
      |    + (($b0 + 2654435761 * j) % $p)) % $p) % 2))) AS sign
      |  FROM keyed, generate_series(1, $AmsM) AS t(j)),
      |sj AS (
      |  SELECT j, CAST(sum(sign) AS BIGINT) AS s_j FROM signs GROUP BY j),
      |exact AS (
      |  SELECT CAST(sum(f * f) AS BIGINT) AS f2_exact FROM
      |    (SELECT count(*) AS f FROM lineitem GROUP BY l_partkey)),
      |msum AS (SELECT sum(s_j * s_j) AS est_sum FROM sj)
      |SELECT j, s_j, s_j * s_j AS est_j, f2_exact,
      |  round(CAST(est_sum AS DOUBLE) / $AmsM, 6) AS mean_est,
      |  round(abs(CAST(est_sum AS DOUBLE) / $AmsM - f2_exact) / f2_exact, 6) AS rel_err
      |FROM sj CROSS JOIN exact CROSS JOIN msum
      |ORDER BY j""".stripMargin
  }

  // --------------------------------------------------------------- q143
  /** Insert-row id offset — above the dedup corpus offsets (1e9–3e9),
    * same single-owner rationale (DedupQueries doc). */
  val MergeInsertOffset = 4000000000L

  /** CDC merge/upsert — MERGE INTO semantics (the lakehouse apply-
    * changes op Spark SQL itself lacks without a table format): a
    * deterministic change feed (updates for doc_id%9=0, deletes for
    * %21=0, inserts at +[[MergeInsertOffset]] for %13=0) applies onto
    * the documents snapshot by latest-version-wins per key, delete
    * rows tombstoning the key. Emits the merged snapshot with an
    * audit `op` column.
    *
    * Shape for 100 TB: ONE hash shuffle on the key; the latest-wins
    * row_number and the tombstone filter ride that partition — the
    * standard shuffle-merge plan every table format (Delta/Iceberg/
    * Hudi) executes under MERGE. The feed is usually ≪ base, so AQE
    * can also broadcast it; semantics are identical. */
  def q143MergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val updates = d.filter(pmod(col("doc_id"), lit(9)) === 0)
      .select(col("doc_id"), lit(1L).as("version"), lit("U").as("op"),
        concat(col("text"), lit(" [rev2]")).as("text"))
    val deletes = d.filter(pmod(col("doc_id"), lit(21)) === 0)
      .select(col("doc_id"), lit(2L).as("version"), lit("D").as("op"),
        lit(null).cast("string").as("text"))
    val inserts = d.filter(pmod(col("doc_id"), lit(13)) === 0)
      .select((col("doc_id") + MergeInsertOffset).as("doc_id"),
        lit(1L).as("version"), lit("I").as("op"),
        concat(lit("new "), col("text")).as("text"))
    val feed = updates.unionByName(deletes).unionByName(inserts)
    Graft.mergeLatestWins(d, col("doc_id"), col("text"),
        feed, col("doc_id"), col("version"), col("op"), col("text"))
      .select(col("key").as("doc_id"), col("version"), col("op"),
        length(col("payload")).as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Twin of q143's change feed: CTE `feed(doc_id, version, op, text)`. */
  private val mergeFeedCte: String =
    s"""feed AS (
  SELECT doc_id, 1 AS version, 'U' AS op, text || ' [rev2]' AS text
  FROM documents WHERE doc_id % 9 = 0
  UNION ALL
  SELECT doc_id, 2, 'D', NULL FROM documents WHERE doc_id % 21 = 0
  UNION ALL
  SELECT doc_id + $MergeInsertOffset, 1, 'I', 'new ' || text
  FROM documents WHERE doc_id % 13 = 0)"""

  val q143Sql: String =
    s"""WITH base AS (
      |  SELECT doc_id, 0 AS version, 'B' AS op, text FROM documents),
      |$mergeFeedCte,
      |merged AS (
      |  SELECT doc_id, version, op, text,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY version DESC, op) AS rn
      |  FROM (SELECT * FROM base UNION ALL SELECT * FROM feed))
      |SELECT doc_id, CAST(version AS BIGINT) AS version, op,
      |  length(text) AS n_chars
      |FROM merged WHERE rn = 1 AND op <> 'D'
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q150
  /** Snapshot diff / reconciliation — the audit that runs AFTER q143's
    * merge (did the apply do exactly what the feed said?): a full
    * outer join of the base snapshot against the merged snapshot on
    * the key classifies every row as added / deleted / changed /
    * unchanged, and the per-class summary carries row counts plus an
    * order-independent Σkey checksum on each side — the table-diff
    * every CDC pipeline closes its loop with.
    *
    * Shape for 100 TB: ONE full-outer hash join on the key (both
    * sides partition the same way) into a partial-agged 4-row
    * summary — the standard reconciliation plan. */
  def q150TableDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("bid"), length(col("text")).as("blen"))
    val merged = q143MergeUpsert(spark, sfDir)
      .select(col("doc_id").as("mid"), col("n_chars").as("mlen"))
    base.join(merged, col("bid") === col("mid"), "full_outer")
      .select(
        when(col("bid").isNull, lit("added"))
          .when(col("mid").isNull, lit("deleted"))
          .when(col("blen") =!= col("mlen"), lit("changed"))
          .otherwise(lit("unchanged")).as("change_class"),
        coalesce(col("bid"), lit(0L)).as("bk"),
        coalesce(col("mid"), lit(0L)).as("mk"))
      .groupBy(col("change_class"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("bk")).as("base_key_sum"), sum(col("mk")).as("merged_key_sum"))
      .orderBy(col("change_class"))
  }

  val q150Sql: String =
    s"""WITH base AS (SELECT doc_id AS bid, length(text) AS blen FROM documents),
      |$mergeFeedCte,
      |merged0 AS (
      |  SELECT doc_id, op, text,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY version DESC, op) AS rn
      |  FROM (SELECT doc_id, 0 AS version, 'B' AS op, text FROM documents
      |        UNION ALL SELECT * FROM feed)),
      |merged AS (
      |  SELECT doc_id AS mid, length(text) AS mlen FROM merged0
      |  WHERE rn = 1 AND op <> 'D'),
      |classified AS (
      |  SELECT (CASE WHEN bid IS NULL THEN 'added'
      |               WHEN mid IS NULL THEN 'deleted'
      |               WHEN blen <> mlen THEN 'changed'
      |               ELSE 'unchanged' END) AS change_class,
      |    coalesce(bid, 0) AS bk, coalesce(mid, 0) AS mk
      |  FROM base FULL OUTER JOIN merged ON bid = mid)
      |SELECT change_class, count(*) AS n_rows,
      |  CAST(sum(bk) AS BIGINT) AS base_key_sum,
      |  CAST(sum(mk) AS BIGINT) AS merged_key_sum
      |FROM classified GROUP BY change_class
      |ORDER BY change_class""".stripMargin

  // --------------------------------------------------------------- q163
  /** One relationship row of the referential-integrity audit: per-key
    * child counts left-joined against the parent's key set. Orphans are
    * NON-NULL child keys with no parent (SQL FK semantics: a null FK is
    * absent, not broken — reported separately as null_rows). */
  def fkAudit(rel: String, child: DataFrame, fk: String,
              parent: DataFrame, pk: String): DataFrame = {
    val ck = child.groupBy(col(fk).as("k")).agg(count(lit(1)).as("nrows"))
    val pk0 = parent.select(col(pk).as("k")).distinct()
      .withColumn("hit", lit(1))
    ck.join(pk0, Seq("k"), "left")
      .agg(sum(col("nrows")).as("child_rows"),
        count(lit(1)).as("child_keys"),
        coalesce(sum(when(col("k").isNull, col("nrows"))), lit(0L)).as("null_rows"),
        coalesce(sum(when(col("hit").isNull && col("k").isNotNull, 1L)), lit(0L))
          .as("orphan_keys"),
        coalesce(sum(when(col("hit").isNull && col("k").isNotNull, col("nrows"))),
          lit(0L)).as("orphan_rows"))
      .select(lit(rel).as("relationship"), col("child_rows"), col("child_keys"),
        col("null_rows"), col("orphan_keys"), col("orphan_rows"),
        round(col("orphan_rows").cast("double") / col("child_rows"), 6)
          .as("orphan_rate"))
  }

  /** Referential-integrity audit across the star schema — the data
    * contract check a warehouse runs after every load: for each FK
    * relationship, how many child rows/keys exist, how many are null,
    * and how many point at a parent that is not there. Seven
    * relationships, one 7-row report.
    *
    * Shape for 100 TB: each relationship aggregates the child side to
    * DISTINCT keys first (partial-agged map-side combine — the join
    * never sees child rows), then left-joins the parent key set. The
    * parents are parquet scans with size statistics, so Spark's
    * threshold picks each strategy: broadcast for the O(1) dims
    * (nation, region), shuffle-on-key for the SF-scaled parents once
    * they outgrow it. The union is of 1-row aggregates. */
  def q163FkIntegrity(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val supp = Tables.supplier(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)
    Seq(
      fkAudit("customer.c_nationkey->nation", cust, "c_nationkey", nat, "n_nationkey"),
      fkAudit("lineitem.l_orderkey->orders", li, "l_orderkey", ord, "o_orderkey"),
      fkAudit("lineitem.l_partkey->part", li, "l_partkey",
        Tables.part(spark, sfDir), "p_partkey"),
      fkAudit("lineitem.l_suppkey->supplier", li, "l_suppkey", supp, "s_suppkey"),
      fkAudit("nation.n_regionkey->region", nat, "n_regionkey",
        Tables.region(spark, sfDir), "r_regionkey"),
      fkAudit("orders.o_custkey->customer", ord, "o_custkey", cust, "c_custkey"),
      fkAudit("supplier.s_nationkey->nation", supp, "s_nationkey", nat, "n_nationkey")
    ).reduce(_ unionByName _).orderBy(col("relationship"))
  }

  private def fkAuditSql(rel: String, child: String, fk: String,
                         parent: String, pk: String): String =
    s"""SELECT '$rel' AS relationship,
       |  CAST(sum(nrows) AS BIGINT) AS child_rows,
       |  count(*) AS child_keys,
       |  CAST(coalesce(sum(CASE WHEN k IS NULL THEN nrows END), 0) AS BIGINT) AS null_rows,
       |  CAST(coalesce(sum(CASE WHEN hit IS NULL AND k IS NOT NULL THEN 1 END), 0) AS BIGINT) AS orphan_keys,
       |  CAST(coalesce(sum(CASE WHEN hit IS NULL AND k IS NOT NULL THEN nrows END), 0) AS BIGINT) AS orphan_rows,
       |  round(CAST(coalesce(sum(CASE WHEN hit IS NULL AND k IS NOT NULL THEN nrows END), 0) AS DOUBLE)
       |    / sum(nrows), 6) AS orphan_rate
       |FROM (SELECT $fk AS k, count(*) AS nrows FROM $child GROUP BY $fk) c
       |LEFT JOIN (SELECT DISTINCT $pk AS pk2, 1 AS hit FROM $parent) p ON c.k = p.pk2""".stripMargin

  val q163Sql: String =
    Seq(
      fkAuditSql("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      fkAuditSql("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      fkAuditSql("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      fkAuditSql("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      fkAuditSql("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
      fkAuditSql("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      fkAuditSql("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey")
    ).mkString("", "\nUNION ALL\n", "\nORDER BY relationship")

  // --------------------------------------------------------------- q168
  /** A lineitem is "late" when it shipped this many days past the
    * order date. */
  val WaitLateDays = 60

  /** Suppliers who kept orders waiting — the TPC-H Q21 shape adapted
    * to this schema (shipdate vs orderdate + [[WaitLateDays]], final
    * 'F' orders): for each finished multi-supplier order, find the
    * supplier who was the SOLE late shipper (everyone else delivered
    * on time), and count such orders per supplier. The classic
    * EXISTS / NOT-EXISTS correlated-subquery composition, expressed as
    * one left-semi and one left-anti join.
    *
    * Shape for 100 TB: every join — lineitem⋈orders, the semi (some
    * other supplier exists) and the anti (no other LATE supplier) —
    * keys on l_orderkey, so all four frames shuffle once onto the same
    * partitioning and AQE can chain them without re-exchange; the
    * late/pair frames are pre-aggregated to DISTINCT (orderkey,
    * suppkey) before the correlates, and the supplier name join is a
    * broadcast-scale dimension lookup. */
  def q168WaitingSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    val fo = Tables.orders(spark, sfDir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val late = li.join(fo, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $WaitLateDays DAYS"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
    val pairs = li.select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .distinct()
    val cand = late.as("w")
      .join(pairs.as("o"), expr("w.ok = o.ok AND w.sk <> o.sk"), "left_semi")
      .as("w")
      .join(late.as("l"), expr("w.ok = l.ok AND w.sk <> l.sk"), "left_anti")
    cand.groupBy(col("sk")).agg(count(lit(1)).as("numwait"))
      .join(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey"), col("s_name")), col("sk") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  val q168Sql: String =
    s"""WITH fo AS (
      |  SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'),
      |late AS (
      |  SELECT DISTINCT l.l_orderkey AS ok, l.l_suppkey AS sk
      |  FROM lineitem l JOIN fo ON l.l_orderkey = fo.o_orderkey
      |  WHERE l.l_shipdate > fo.o_orderdate + INTERVAL $WaitLateDays DAY),
      |pairs AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
      |cand AS (
      |  SELECT w.ok, w.sk FROM late w
      |  WHERE EXISTS (SELECT 1 FROM pairs o WHERE o.ok = w.ok AND o.sk <> w.sk)
      |    AND NOT EXISTS (SELECT 1 FROM late l2 WHERE l2.ok = w.ok AND l2.sk <> w.sk))
      |SELECT s.s_name, count(*) AS numwait
      |FROM cand JOIN supplier s ON cand.sk = s.s_suppkey
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s.s_name""".stripMargin

  // --------------------------------------------------------------- q180
  /** Per-reducer row cap the salting plan targets. */
  val SaltCap = 1000L

  /** Skew salting plan — the PLANNING step ahead of q75's salted
    * execution: from the key histogram, which keys overflow a
    * [[SaltCap]]-row reducer and what salt fan-out each needs
    * (factor = ⌈n/cap⌉, the per-salt load after splitting). Emitting
    * the plan as data is how a pipeline framework decides
    * per-key strategy (broadcast / salt-k / leave alone) instead of
    * hardcoding one global knob.
    *
    * Shape for 100 TB: ONE partial-agged groupBy(key) histogram; the
    * plan math is per-row arithmetic on the O(keys) aggregate. */
  def q180SaltPlan(spark: SparkSession, sfDir: String): DataFrame =
    Graft.saltPlan(Tables.events(spark, sfDir), col("event_type"), SaltCap)
      .withColumnRenamed("key", "event_type")
      .orderBy(col("event_type"))

  val q180Sql: String =
    s"""SELECT event_type, count(*) AS n_rows,
      |  (count(*) + $SaltCap - 1) // $SaltCap AS salt_factor,
      |  (count(*) + ((count(*) + $SaltCap - 1) // $SaltCap) - 1)
      |    // ((count(*) + $SaltCap - 1) // $SaltCap) AS rows_per_salt,
      |  ((count(*) + $SaltCap - 1) // $SaltCap) > 1 AS needs_salt
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q193
  /** TPC-H Q3 cutoff date (both filters pivot on it). */
  val ShipPrioDate = "1998-06-01"

  /** Shipping-priority query — TPC-H Q3 on this schema: revenue of
    * not-yet-shipped lineitems of BUILDING-segment orders placed
    * before [[ShipPrioDate]], grouped per order, top 10 by revenue.
    * The canonical 3-way join + filter + aggregate + TakeOrdered every
    * SQL engine is graded on; revenue sums are DECIMAL(38,6)-exact.
    *
    * Shape for 100 TB: customer⋈orders broadcasts the filtered
    * segment dimension; orders⋈lineitem shuffles on the order key
    * with both date filters PUSHED to the scans; the top 10 is a
    * TakeOrdered, never a global sort. */
  def q193ShippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val ord = Tables.orders(spark, sfDir)
      .filter(expr(s"o_orderdate < TIMESTAMP_NTZ '$ShipPrioDate'"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val li = Tables.lineitem(spark, sfDir)
      .filter(expr(s"l_shipdate > TIMESTAMP_NTZ '$ShipPrioDate'"))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("rev_dec"))
      .select(col("l_orderkey"), asD(col("rev_dec")).as("revenue"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
  }

  val q193Sql: String =
    s"""SELECT l.l_orderkey,
      |  round(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue,
      |  epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) AS o_orderdate_us,
      |  o.o_orderpriority
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < TIMESTAMP '$ShipPrioDate'
      |  AND l.l_shipdate > TIMESTAMP '$ShipPrioDate'
      |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
      |ORDER BY revenue DESC, l.l_orderkey LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q254
  /** Benford first-digit probabilities log10(1 + 1/d), 6-dp grid —
    * shared literal constants so both engines expand the identical
    * expected counts. */
  val BenfordP: Seq[(Int, Double)] = Seq(
    1 -> 0.30103, 2 -> 0.176091, 3 -> 0.124939, 4 -> 0.09691,
    5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992, 8 -> 0.051153,
    9 -> 0.045757)
  /** Chi-square critical value, df = 8, alpha .05. */
  val BenfordChi2Crit = 15.507313

  /** Benford's-law first-digit audit of event values — the forensic
    * data-quality screen (fabricated, clipped, or unit-mixed numeric
    * columns bend the leading-digit curve long before any magnitude
    * statistic moves): observed vs log10(1+1/d) expected counts per
    * digit 1–9 plus the chi-square conformance call. The leading digit
    * is taken from the EXACT micro-unit integer (round(value·10⁶) as
    * int64 → first character of its decimal string), never from
    * float log10 arithmetic whose off-by-ulp at exact powers of 10
    * would flip a digit cross-engine (q109's bucket lesson).
    *
    * Shape for 100 TB: one map-side digit projection + a 9-bucket
    * partial agg — the exchange carries ≤9 rows per partition; the
    * chi-square is a 9-term gridded DECIMAL sum against a broadcast
    * literal table. */
  def q254Benford(spark: SparkSession, sfDir: String): DataFrame = {
    val digits = Tables.events(spark, sfDir)
      .filter(col("value") > 0)
      .select(round(col("value") * lit(1000000.0)).cast("long").as("i"))
      .filter(col("i") > 0)
      .select(substring(col("i").cast("string"), 1, 1).cast("long").as("digit"))
    val obs = digits.groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val expLits = BenfordP.map { case (d, p) =>
      struct(lit(d.toLong).as("digit"), lit(p).as("p")) }
    val expDf = spark.range(1).select(explode(array(expLits: _*)).as("e"))
      .select(col("e.digit").as("digit"), col("e.p").as("p"))
    val tot = obs.agg(sum(col("n_obs")).as("n"))
    val cells = graft.Checkpoints.materialize(expDf
      .join(obs, Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("n"), round(col("n") * col("p"), 6).as("n_exp")))
    val chi = cells.agg(
      sum(grid6((col("n_obs") - col("n_exp")) * (col("n_obs") - col("n_exp"))
        / col("n_exp"))).as("chi2d"))
    cells.crossJoin(broadcast(chi))
      .select(col("digit"), col("n_obs"), col("n_exp"),
        round(col("n_obs").cast("double") / col("n"), 6).as("obs_share"),
        round(col("chi2d").cast("double"), 6).as("chi2"),
        (col("chi2d").cast("double") > BenfordChi2Crit).as("nonconforming"))
      .orderBy(col("digit"))
  }

  val q254Sql: String = {
    val plist = BenfordP.map { case (d, p) => s"($d, $p)" }.mkString(", ")
    s"""WITH micro AS (
      |  SELECT CAST(round(value * 1000000) AS BIGINT) AS i
      |  FROM events WHERE value > 0),
      |digits AS (
      |  SELECT CAST(substr(CAST(i AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM micro WHERE i > 0),
      |obs AS (SELECT digit, count(*) AS n_obs FROM digits GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs),
      |exp AS (SELECT digit, CAST(p AS DOUBLE) AS p
      |  FROM (VALUES $plist) AS t(digit, p)),
      |cells AS (
      |  SELECT e.digit, coalesce(o.n_obs, 0) AS n_obs, t.n,
      |    round(t.n * e.p, 6) AS n_exp
      |  FROM exp e LEFT JOIN obs o ON e.digit = o.digit CROSS JOIN tot t),
      |chi AS (
      |  SELECT CAST(sum(CAST(round((n_obs - n_exp) * (n_obs - n_exp) / n_exp, 6)
      |    AS DECIMAL(38,6))) AS DOUBLE) AS chi2
      |  FROM cells)
      |SELECT c.digit, c.n_obs, c.n_exp,
      |  round(CAST(c.n_obs AS DOUBLE) / c.n, 6) AS obs_share,
      |  round(ch.chi2, 6) AS chi2, ch.chi2 > $BenfordChi2Crit AS nonconforming
      |FROM cells c CROSS JOIN chi ch
      |ORDER BY c.digit""".stripMargin
  }

  // --------------------------------------------------------------- q264
  /** Arbitrary GROUPING SETS — the third grouping-set shape beside
    * q38's ROLLUP (prefix chain) and q76's CUBE (power set): the
    * PAIRWISE-MARGINALS report ((status, year), (status, priority),
    * (year, priority)) that neither shorthand can express — exactly
    * the contingency slices a dashboard refresh computes, in ONE pass.
    *
    * Shape for 100 TB: the grouping-set expansion happens BEFORE the
    * exchange and partial aggregation still combines map-side (the
    * q76 property) — one scan, one shuffle of expanded partial rows,
    * never three separate jobs; grouping nulls are projected to
    * sentinels so the cross-engine hash is null-convention-free. */
  def q264GroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.orders(spark, sfDir).select(
      col("o_orderstatus").as("status"), col("o_orderpriority").as("priority"),
      year(col("o_orderdate")).cast("long").as("yr"),
      col("o_totalprice").as("price"))
    base.groupingSets(
      Seq(Seq(col("status"), col("yr")),
        Seq(col("status"), col("priority")),
        Seq(col("yr"), col("priority"))),
      col("status"), col("priority"), col("yr"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("price").cast(DecimalType(38, 6))).cast("double"), 6)
          .as("revenue"))
      .select(coalesce(col("status"), lit("(all)")).as("status"),
        coalesce(col("priority"), lit("(all)")).as("priority"),
        coalesce(col("yr"), lit(-1L)).as("yr"),
        col("n_orders"), col("revenue"))
      .orderBy(col("status"), col("priority"), col("yr"))
  }

  val q264Sql: String =
    """WITH base AS (
      |  SELECT o_orderstatus AS status, o_orderpriority AS priority,
      |    CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    o_totalprice AS price
      |  FROM orders)
      |SELECT coalesce(status, '(all)') AS status,
      |  coalesce(priority, '(all)') AS priority,
      |  coalesce(yr, -1) AS yr,
      |  count(*) AS n_orders,
      |  round(CAST(sum(CAST(price AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue
      |FROM base
      |GROUP BY GROUPING SETS ((status, yr), (status, priority), (yr, priority))
      |ORDER BY status, priority, yr""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q264_grouping_sets" -> q264GroupingSets,
    "q254_benford" -> q254Benford,
    "q193_shipping_priority" -> q193ShippingPriority,
    "q180_salt_plan" -> q180SaltPlan,
    "q168_waiting_suppliers" -> q168WaitingSuppliers,
    "q163_fk_integrity" -> q163FkIntegrity,
    "q150_table_diff" -> q150TableDiff,
    "q143_merge_upsert" -> q143MergeUpsert,
    "q140_join_size" -> q140JoinSize,
    "q133_incr_agg" -> q133IncrAgg,
    "q129_profile" -> q129Profile,
    "q123_unpivot" -> q123Unpivot,
    "q124_scd2" -> q124Scd2,
    "q126_bloom_semijoin" -> q126BloomSemijoin,
    "q114_winsorize" -> q114Winsorize,
    "q101_skyline" -> q101Skyline,
    "q102_basket" -> q102Basket,
    "q93_retention" -> q93Retention,
    "q75_skew_join" -> q75SkewJoin,
    "q76_cube" -> q76Cube,
    "q11_pricing_summary" -> q11PricingSummary,
    "q12_top_customers" -> q12TopCustomers,
    "q13_market_share" -> q13MarketShare,
    "q17_asof_join" -> q17AsofJoin,
    "q18_bucketed_join" -> q18BucketedJoin,
    "q19_range_join" -> q19RangeJoin,
    "q38_rollup" -> q38Rollup,
    "q59_setops" -> q59SetOps)

  val oracles: Map[String, String] = Map(
    "q264_grouping_sets" -> q264Sql,
    "q254_benford" -> q254Sql,
    "q193_shipping_priority" -> q193Sql,
    "q180_salt_plan" -> q180Sql,
    "q168_waiting_suppliers" -> q168Sql,
    "q163_fk_integrity" -> q163Sql,
    "q150_table_diff" -> q150Sql,
    "q143_merge_upsert" -> q143Sql,
    "q140_join_size" -> q140Sql,
    "q133_incr_agg" -> q133Sql,
    "q129_profile" -> q129Sql,
    "q123_unpivot" -> q123Sql,
    "q124_scd2" -> q124Sql,
    "q126_bloom_semijoin" -> q126Sql,
    "q114_winsorize" -> q114Sql,
    "q101_skyline" -> q101Sql,
    "q102_basket" -> q102Sql,
    "q93_retention" -> q93Sql,
    "q11_pricing_summary" -> q11Sql,
    "q12_top_customers" -> q12Sql,
    "q13_market_share" -> q13Sql,
    "q17_asof_join" -> q17Sql,
    "q18_bucketed_join" -> q18Sql,
    "q19_range_join" -> q19Sql,
    "q38_rollup" -> q38Sql,
    "q59_setops" -> q59Sql,
    "q75_skew_join" -> q75Sql,
    "q76_cube" -> q76Sql)
}
