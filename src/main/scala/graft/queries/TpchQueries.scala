package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.MathFunctions.{asD, dsum}

/** The remaining canonical TPC-H join shapes (SURVEY §2.B): Q5 local
  * supplier volume, Q10 returned-item report, Q14 promotion effect,
  * Q18 large-volume orders. Together with q11 (Q1), q193 (Q3) and
  * q168 (Q21) they cover the benchmark's signature physical plans —
  * the multi-way snowflake join with a colocation predicate, the
  * filtered fact→dim top-K report, the fact⋈fact ratio, and the
  * agg-then-self-semijoin — each with the plan a 100 TB cluster
  * wants: filters pushed to the scans, bounded dims broadcast,
  * partial aggregation map-side, top-K as TakeOrdered (never a
  * global sort).
  *
  * Oracle-fidelity rules are RelationalQueries' (SURVEY §4): money
  * through DECIMAL(38,6), timestamps emitted as epoch-µs integers,
  * every result totally ordered.
  */
object TpchQueries {

  private def rev: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** Q5 window + region (both sides of every predicate are lit here so
    * the spec and the oracle share them). */
  val Q5Region = "ASIA"
  val Q5From = "1996-01-01"
  val Q5Until = "1998-01-01"

  // --------------------------------------------------------------- q195
  /** TPC-H Q5 — revenue by nation where the ordering customer and the
    * line's supplier are in the SAME nation of one region (the
    * benchmark's "local supplier volume" colocation join).
    *
    * Plan for 100 TB: region⋈nation collapses to a ≤25-row nation
    * allowlist; supplier joins it and the joined (s_suppkey,
    * s_nationkey, n_name) frame is BROADCAST (TPC-H supplier is
    * SF·10k — the smallest non-constant table; at SF where it
    * outgrows the broadcast ceiling AQE falls back to a shuffle join
    * without a plan rewrite). The fact side joins orders (date filter
    * pushed to the scan) on l_orderkey, customer on o_custkey — the
    * only two shuffles — and the colocation predicate
    * c_nationkey = s_nationkey rides the broadcast join as a second
    * equi-key, never a post-filter on a wider join. */
  def q195LocalVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val regionNations = Tables.nation(spark, sfDir)
      .join(Tables.region(spark, sfDir).filter(col("r_name") === Q5Region),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val supp = Tables.supplier(spark, sfDir)
      .join(regionNations, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(Q5From).cast("timestamp") &&
        col("o_orderdate") < lit(Q5Until).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), rev.as("line_rev"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(asD(dsum(col("line_rev"))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q195Sql: String =
    s"""SELECT n_name,
      |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue,
      |  count(*) AS n_lines
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = '$Q5Region'
      |  AND o_orderdate >= TIMESTAMP '$Q5From 00:00:00'
      |  AND o_orderdate < TIMESTAMP '$Q5Until 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** Q10 quarter (6 months in this fixture's 6.5-year span so the
    * report is non-degenerate at sf0.001). */
  val Q10From = "1996-01-01"
  val Q10Until = "1996-07-01"
  val Q10TopK = 20

  // --------------------------------------------------------------- q196
  /** TPC-H Q10 — top-20 customers by revenue lost to returned items in
    * one window (the churn-triage report).
    *
    * Plan for 100 TB: BOTH filters (l_returnflag = 'R', the order-date
    * window) are pushed to their parquet scans; the orderkey join and
    * the custkey aggregation are the only corpus-scale shuffles; the
    * aggregated O(customers-with-returns) frame joins customer and the
    * broadcast 25-row nation dim; top-20 is a TakeOrdered, never a
    * global sort. */
  def q196ReturnedItems(spark: SparkSession, sfDir: String): DataFrame = {
    val ret = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), rev.as("line_rev"))
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(Q10From).cast("timestamp") &&
        col("o_orderdate") < lit(Q10Until).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    ret.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(dsum(col("line_rev")).as("lost_dec"), count(lit(1)).as("n_returns"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .orderBy(col("lost_dec").desc, col("c_custkey"))
      .limit(Q10TopK)
      .select(col("c_custkey"), col("c_name"), col("n_name").as("nation"),
        asD(col("lost_dec")).as("lost_revenue"), col("n_returns"),
        round(col("c_acctbal"), 6).as("acctbal"))
  }

  val q196Sql: String =
    s"""SELECT c_custkey, c_name, n_name AS nation,
      |  round(CAST(lost_dec AS DOUBLE), 6) AS lost_revenue, n_returns,
      |  round(c_acctbal, 6) AS acctbal
      |FROM (
      |  SELECT o_custkey,
      |    sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS lost_dec,
      |    count(*) AS n_returns
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'R'
      |    AND o_orderdate >= TIMESTAMP '$Q10From 00:00:00'
      |    AND o_orderdate < TIMESTAMP '$Q10Until 00:00:00'
      |  GROUP BY o_custkey) r
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY lost_dec DESC, c_custkey LIMIT $Q10TopK""".stripMargin

  /** Q14 month. */
  val Q14From = "1996-03-01"
  val Q14Until = "1996-04-01"

  // --------------------------------------------------------------- q197
  /** TPC-H Q14 — promotion effect: the share of one month's revenue
    * earned by PROMO-type parts.
    *
    * Plan for 100 TB: the ship-date window is pushed to the lineitem
    * scan (a month of a multi-year corpus — partition pruning
    * territory on a date-partitioned layout, cf. q58); part joins on
    * partkey projected to 2 columns. part is SF·200k — too big to
    * force-broadcast at every SF, so the join is left to
    * AQE/autoBroadcastJoinThreshold; with the window filter applied
    * first the fact side is already a month, not the corpus. The
    * conditional sum folds into the SAME partial aggregate as the
    * total — one pass, one 1-row result, no second scan. */
  def q197PromoShare(spark: SparkSession, sfDir: String): DataFrame = {
    val month = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(Q14From).cast("timestamp") &&
        col("l_shipdate") < lit(Q14Until).cast("timestamp"))
      .select(col("l_partkey"), rev.as("line_rev"))
    month
      .join(Tables.part(spark, sfDir).select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        dsum(when(col("p_type") === "PROMO", col("line_rev")).otherwise(lit(0.0)))
          .as("promo_dec"),
        dsum(col("line_rev")).as("total_dec"),
        count(lit(1)).as("n_lines"))
      .select(
        round(lit(100.0) * col("promo_dec").cast("double") /
          col("total_dec").cast("double"), 6).as("promo_pct"),
        asD(col("promo_dec")).as("promo_revenue"),
        asD(col("total_dec")).as("total_revenue"),
        col("n_lines"))
  }

  val q197Sql: String =
    s"""SELECT
      |  round(100.0 * CAST(promo_dec AS DOUBLE) / CAST(total_dec AS DOUBLE), 6) AS promo_pct,
      |  round(CAST(promo_dec AS DOUBLE), 6) AS promo_revenue,
      |  round(CAST(total_dec AS DOUBLE), 6) AS total_revenue,
      |  n_lines
      |FROM (
      |  SELECT
      |    sum(CAST(CASE WHEN p_type = 'PROMO'
      |          THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(38,6))) AS promo_dec,
      |    sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS total_dec,
      |    count(*) AS n_lines
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '$Q14From 00:00:00'
      |    AND l_shipdate < TIMESTAMP '$Q14Until 00:00:00') t""".stripMargin

  /** Q18 quantity threshold (509 qualifying orders at sf0.001 — deep
    * enough for a meaningful top-100, sparse enough that the semijoin
    * side is genuinely small). */
  val Q18MinQty = 120.0
  val Q18TopK = 100

  // --------------------------------------------------------------- q198
  /** TPC-H Q18 — large-volume orders: orders whose total line quantity
    * exceeds a threshold, with their customer and value (the
    * aggregate-then-semijoin benchmark shape).
    *
    * Plan for 100 TB: ONE partial-agged groupBy(l_orderkey) computes
    * total quantity; the HAVING filter shrinks it to the rare heavy
    * tail BEFORE any join, so the joins back to orders and customer
    * move only qualifying keys (AQE broadcasts the filtered side when
    * it fits — the optimizer's call, not a hardcoded hint, since the
    * tail's size is threshold-dependent). Top-100 is a TakeOrdered. */
  def q198BigOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val heavy = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("qty_dec"))
      .filter(col("qty_dec") > lit(Q18MinQty))
    heavy
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .orderBy(col("qty_dec").desc, col("l_orderkey"))
      .limit(Q18TopK)
      .select(col("l_orderkey").as("o_orderkey"), col("c_custkey"), col("c_name"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
        round(col("o_totalprice"), 6).as("o_totalprice"),
        asD(col("qty_dec")).as("total_qty"))
  }

  val q198Sql: String =
    s"""SELECT o_orderkey, c_custkey, c_name,
      |  epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS o_orderdate_us,
      |  round(o_totalprice, 6) AS o_totalprice,
      |  round(CAST(qty_dec AS DOUBLE), 6) AS total_qty
      |FROM (
      |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(38,6))) AS qty_dec
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING sum(CAST(l_quantity AS DECIMAL(38,6))) > $Q18MinQty) h
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY qty_dec DESC, o_orderkey LIMIT $Q18TopK""".stripMargin

  /** Q6 window and band (shared with the oracle text). */
  val Q6From = "1996-01-01"
  val Q6Until = "1997-01-01"
  val Q6MinDisc = 0.05
  val Q6MaxDisc = 0.07
  val Q6MaxQty = 24.0

  // --------------------------------------------------------------- q211
  /** TPC-H Q6 — forecasting revenue change: the revenue that would
    * have been kept by eliminating small discounts on low-quantity
    * lines in one year (the canonical single-table selective scan).
    *
    * Plan for 100 TB: ALL THREE predicates (date window, discount
    * band, quantity cap) push to the parquet scan — on a
    * date-partitioned layout this is partition pruning plus row-group
    * skipping via min/max stats (the q181 zone-map math); what
    * survives feeds ONE map-side partial aggregate into a 1-row
    * result. No join, no wide shuffle — the cheapest possible shape,
    * and the benchmark's test that an engine doesn't pay for what it
    * doesn't read. */
  def q211RevenueChange(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(Q6From).cast("timestamp") &&
        col("l_shipdate") < lit(Q6Until).cast("timestamp") &&
        col("l_discount") >= Q6MinDisc && col("l_discount") <= Q6MaxDisc &&
        col("l_quantity") < Q6MaxQty)
      .agg(asD(dsum(col("l_extendedprice") * col("l_discount")))
          .as("revenue_effect"),
        count(lit(1)).as("n_lines"))

  val q211Sql: String =
    s"""SELECT
      |  round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue_effect,
      |  count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '$Q6From 00:00:00'
      |  AND l_shipdate < TIMESTAMP '$Q6Until 00:00:00'
      |  AND l_discount >= $Q6MinDisc AND l_discount <= $Q6MaxDisc
      |  AND l_quantity < $Q6MaxQty""".stripMargin

  /** Q4 window and lateness threshold (days). */
  val Q4From = "1996-01-01"
  val Q4Until = "1996-07-01"
  val Q4LateDays = 60

  // --------------------------------------------------------------- q215
  /** TPC-H Q4 — order priority checking: per priority, how many of a
    * window's orders had at least one LATE line (shipped more than
    * [[Q4LateDays]] days after the order date; the fixture has no
    * commit/receipt dates, so lateness is ship-vs-order — same
    * correlated-EXISTS shape as the original).
    *
    * Plan for 100 TB: the EXISTS compiles to a LEFT SEMI join on
    * orderkey whose extra condition (l_shipdate > o_orderdate + 60d)
    * rides the join — each order is emitted AT MOST ONCE no matter how
    * many late lines it has, so no distinct and no fan-out ever
    * reaches the aggregate; the date window is pushed to the orders
    * scan; the census is an O(priorities) partial-agg. */
  def q215PriorityCheck(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(Q4From).cast("timestamp") &&
        col("o_orderdate") < lit(Q4Until).cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $Q4LateDays DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val q215Sql: String =
    s"""SELECT o_orderpriority, count(*) AS n_late_orders
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '$Q4From 00:00:00'
      |  AND o_orderdate < TIMESTAMP '$Q4Until 00:00:00'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL $Q4LateDays DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Q7 window and report size. */
  val Q7From = "1996-01-01"
  val Q7Until = "1998-01-01"
  val Q7TopK = 10

  // --------------------------------------------------------------- q217
  /** TPC-H Q7 shape — cross-nation trade flows: revenue shipped from a
    * supplier nation to a DIFFERENT customer nation per year, top-K
    * flows (the original fixes one nation pair; ranking all pairs
    * keeps the identical join tree and is scale-factor-robust — the
    * fixed pair can be empty at small SF).
    *
    * Plan for 100 TB: the two nation attaches are ONE broadcast dim
    * joined twice under different aliases; supplier broadcasts (SF·10k
    * — the Q5 argument); the fact side shuffles only on orderkey and
    * custkey; the pair aggregate is O(nations²·years); top-K is a
    * TakeOrdered. */
  def q217TradeFlows(spark: SparkSession, sfDir: String): DataFrame = {
    val nation = Tables.nation(spark, sfDir)
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(Q7From).cast("timestamp") &&
        col("l_shipdate") < lit(Q7Until).cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate").cast("timestamp")).as("yr"), rev.as("line_rev"))
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("yr"))
      .agg(dsum(col("line_rev")).as("rev_dec"), count(lit(1)).as("n_lines"))
      .orderBy(col("rev_dec").desc, col("supp_nation"), col("cust_nation"), col("yr"))
      .limit(Q7TopK)
      .select(col("supp_nation"), col("cust_nation"), col("yr"),
        asD(col("rev_dec")).as("revenue"), col("n_lines"))
  }

  val q217Sql: String =
    s"""SELECT supp_nation, cust_nation, yr,
      |  round(CAST(rev_dec AS DOUBLE), 6) AS revenue, n_lines
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    year(CAST(l_shipdate AS TIMESTAMP)) AS yr,
      |    sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS rev_dec,
      |    count(*) AS n_lines
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE n1.n_name <> n2.n_name
      |    AND l_shipdate >= TIMESTAMP '$Q7From 00:00:00'
      |    AND l_shipdate < TIMESTAMP '$Q7Until 00:00:00'
      |  GROUP BY 1, 2, 3) t
      |ORDER BY rev_dec DESC, supp_nation, cust_nation, yr LIMIT $Q7TopK""".stripMargin

  // --------------------------------------------------------------- q219
  /** TPC-H Q13 — customer order-count distribution: how many customers
    * placed exactly k orders, INCLUDING the zero-order customers only
    * an OUTER join can see (the benchmark's outer-join + double
    * aggregation shape).
    *
    * Plan for 100 TB: orders partial-aggs to per-customer counts
    * FIRST (never a row-level outer join of two fact tables), the
    * customer LEFT join fills the zeros, and the second aggregate runs
    * on the O(distinct counts) frame. */
  def q219CustDist(spark: SparkSession, sfDir: String): DataFrame = {
    val perCust = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c_count"))
    Tables.customer(spark, sfDir).select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("c_count"), lit(0L)).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q219Sql: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey) t
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Q22 dormancy cutoff: a customer is dormant if they have placed no
    * order since this date (the fixture's every-customer-orders density
    * makes the original's "never ordered" empty at every SF). */
  val Q22Cutoff = "2000-01-01"

  // --------------------------------------------------------------- q220
  /** TPC-H Q22 shape — dormant high-value accounts: customers with an
    * above-average positive balance and NO order since [[Q22Cutoff]]
    * (the anti-join + scalar-average-subquery shape), reported per
    * nation.
    *
    * Plan for 100 TB: the balance average is a 1-row broadcast; the
    * NOT EXISTS is a LEFT ANTI join against the date-filtered (pushed)
    * orders projection; nation is a broadcast dim; the census is an
    * O(nations) partial-agg. */
  def q220Dormant(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    // decimal-exact mean: a float avg is partition-order-dependent in
    // the last ulp and the > comparison sits right on it
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg((dsum(col("c_acctbal")).cast("double") / count(lit(1))).as("abar"))
    val recent = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(Q22Cutoff).cast("timestamp"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("abar"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_custs"),
        asD(dsum(col("c_acctbal"))).as("total_bal"))
      .orderBy(col("nation"))
  }

  val q220Sql: String =
    s"""SELECT n_name AS nation, count(*) AS n_custs,
      |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_bal
      |FROM customer c JOIN nation ON c_nationkey = n_nationkey
      |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / count(*)
      |                   FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders
      |    WHERE o_custkey = c.c_custkey
      |      AND o_orderdate >= TIMESTAMP '$Q22Cutoff 00:00:00')
      |GROUP BY n_name ORDER BY nation""".stripMargin

  /** Q15 quarter. */
  val Q15From = "1996-01-01"
  val Q15Until = "1996-04-01"

  // --------------------------------------------------------------- q221
  /** TPC-H Q15 — top supplier(s): the supplier(s) whose quarterly
    * shipped revenue equals the maximum (the scalar-max-subquery
    * shape; emitting ALL argmax rows, not top-1, is the point of the
    * original's view formulation).
    *
    * Plan for 100 TB: revenue partial-aggs per supplier; the max is a
    * 1-row broadcast re-joined to the same O(suppliers) aggregate —
    * the fact is scanned ONCE; the supplier dim attaches by broadcast. */
  def q221TopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    // localCheckpoint: the aggregate feeds BOTH the max subquery and
    // the argmax filter — without materialization each branch re-scans
    // the fact (2 lineitem scans; the plan spec pins 1)
    val bySupp = graft.Checkpoints.materialize(Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(Q15From).cast("timestamp") &&
        col("l_shipdate") < lit(Q15Until).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(dsum(rev).as("rev_dec")))
    val maxRev = bySupp.agg(max(col("rev_dec")).as("rmax"))
    bySupp.crossJoin(broadcast(maxRev))
      .filter(col("rev_dec") === col("rmax"))
      .join(broadcast(Tables.supplier(spark, sfDir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        asD(col("rev_dec")).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  val q221Sql: String =
    s"""WITH rev AS (
      |  SELECT l_suppkey,
      |    sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS rev_dec
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '$Q15From 00:00:00'
      |    AND l_shipdate < TIMESTAMP '$Q15Until 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name,
      |  round(CAST(rev_dec AS DOUBLE), 6) AS total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** Q17 small-quantity fraction of the per-part average. */
  val Q17Frac = 0.2

  // --------------------------------------------------------------- q222
  /** TPC-H Q17 — small-quantity-order revenue: revenue of lines whose
    * quantity is below [[Q17Frac]]× their part's average quantity (the
    * correlated-scalar-aggregate shape: "compared to ITS OWN part's
    * average").
    *
    * Plan for 100 TB: the correlated subquery decorrelates into ONE
    * partial-agged per-part average joined back on partkey — the fact
    * is scanned twice (avg pass + filter pass), never once per part;
    * the threshold comparison is in-row after the join; the result is
    * a 1-row aggregate. */
  def q222SmallQty(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val avgQty = li.groupBy(col("l_partkey"))
      .agg((dsum(col("l_quantity")).cast("double") / count(lit(1))).as("qbar"))
    li.join(avgQty, "l_partkey")
      .filter(col("l_quantity") < lit(Q17Frac) * col("qbar"))
      .agg(asD(dsum(col("l_extendedprice"))).as("small_qty_revenue"),
        count(lit(1)).as("n_lines"))
  }

  val q222Sql: String =
    s"""SELECT
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS small_qty_revenue,
      |  count(*) AS n_lines
      |FROM lineitem l JOIN (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS qbar
      |  FROM lineitem GROUP BY l_partkey) a USING (l_partkey)
      |WHERE l.l_quantity < $Q17Frac * qbar""".stripMargin

  /** Q19-shape brackets: (brand, size lo..hi, quantity lo..hi). Wider
    * than TPC-H's so every SF (incl. sf0.001's 200 parts) matches. */
  val Q19Brackets: Seq[(String, Int, Int, Double, Double)] = Seq(
    ("Brand#12", 1, 15, 1.0, 15.0),
    ("Brand#23", 1, 25, 10.0, 30.0),
    ("Brand#3", 1, 35, 20.0, 40.0))

  // --------------------------------------------------------------- q233
  /** TPC-H Q19 shape — discounted revenue under an OR of three
    * multi-column conjunctive brackets spanning BOTH join sides (the
    * fixture lacks Q19's container/shipmode columns; brand × size ×
    * quantity models the identical scan shape). The benchmark's test
    * of disjunction handling: a naive engine evaluates the OR only
    * post-join; the right plan FACTORS each side's disjuncts and
    * pushes them into both parquet scans — the part scan prunes on
    * OR(brand∧size brackets), the lineitem scan on OR(quantity
    * bands) — so the join moves only potentially-matching rows, with
    * the residual cross-side predicate evaluated on the join output.
    * W36PlanSpec asserts both pushed disjunctions against the
    * physical plan.
    *
    * Plan for 100 TB: two pruned scans, one partkey equi-join (part
    * side prunable to the 3 brands — broadcastable at most SFs, AQE's
    * call), ONE map-side partial aggregate into a 1-row result. */
  def q233BracketScan(spark: SparkSession, sfDir: String): DataFrame = {
    val pred = Q19Brackets.map { case (b, slo, shi, qlo, qhi) =>
      col("p_brand") === b && col("p_size") >= slo && col("p_size") <= shi &&
        col("l_quantity") >= qlo && col("l_quantity") <= qhi
    }.reduce(_ || _)
    Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_quantity"), rev.as("line_rev"))
      .join(Tables.part(spark, sfDir)
          .select(col("p_partkey"), col("p_brand"), col("p_size")),
        col("l_partkey") === col("p_partkey"))
      .filter(pred)
      .agg(asD(dsum(col("line_rev"))).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val q233Sql: String = {
    val brackets = Q19Brackets.map { case (b, slo, shi, qlo, qhi) =>
      s"(p_brand = '$b' AND p_size BETWEEN $slo AND $shi" +
        s" AND l_quantity >= $qlo AND l_quantity <= $qhi)"
    }.mkString("\n   OR ")
    s"""SELECT
      |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE $brackets""".stripMargin
  }

  /** The derived lineitem ship columns as a DuckDB CTE body — the
    * oracle twin of [[graft.Tables.lineitemShip]] (same integer
    * formulas; list literals are 1-indexed in DuckDB, matching
    * element_at). Compose as `WITH $ShipCte ...`. */
  val ShipCte: String =
    """lineitem_ship AS (
      |  SELECT l.*,
      |    (['REG AIR','AIR','RAIL','SHIP','TRUCK','MAIL','FOB'])[CAST((l_orderkey*7 + l_linenumber) % 7 AS INT) + 1] AS l_shipmode,
      |    (['DELIVER IN PERSON','COLLECT COD','NONE','TAKE BACK RETURN'])[CAST((l_orderkey + l_linenumber*3) % 4 AS INT) + 1] AS l_shipinstruct,
      |    CAST(l_shipdate AS DATE) + CAST((l_orderkey*5 + l_linenumber*7) % 61 - 30 AS INT) AS l_commitdate,
      |    CAST(l_shipdate AS DATE) + CAST((l_orderkey*11 + l_linenumber*13) % 30 + 1 AS INT) AS l_receiptdate
      |  FROM lineitem l)""".stripMargin

  /** Oracle twin of [[graft.Tables.partContainer]]. */
  val ContainerCte: String =
    """part_container AS (
      |  SELECT p.*,
      |    (['SM','MED','LG','JUMBO','WRAP'])[CAST((p_partkey*19) % 5 AS INT) + 1] || ' ' ||
      |    (['CASE','BOX','BAG','JAR','PKG','PACK','CAN','DRUM'])[CAST((p_partkey*23) % 8 AS INT) + 1] AS p_container
      |  FROM part p)""".stripMargin

  /** Q8 parameters: the ASIA market (shared with Q5), one of its five
    * nations as the share subject, ECONOMY parts, a two-year window. */
  val Q8Region = "ASIA"
  val Q8Nation = "NATION_12"
  val Q8Type = "ECONOMY"
  val Q8From = "1996-01-01"
  val Q8Until = "1998-01-01"

  // --------------------------------------------------------------- q303
  /** TPC-H Q8 — national market share: of all ECONOMY-part revenue
    * sold into the ASIA market (market = the ordering CUSTOMER's
    * region) in each order year, the fraction supplied by NATION_12's
    * suppliers. The benchmark's "two nation roles" snowflake — nation
    * joins the fact twice, once through customer (as a FILTER) and
    * once through supplier (as a GROUP dimension) — which q13's
    * region-share report does not exercise.
    *
    * Plan for 100 TB: the customer-side region restriction collapses
    * to a ≤25-key nation allowlist riding the customer join;
    * supplier⋈nation is a broadcast (SF·10k, the Q5 argument) so the
    * supplier-nation tag never shuffles the fact; part is pruned to
    * the type before its join; orders carries the pushed date window.
    * Shuffles: lineitem⋈part, lineitem⋈orders, orders⋈customer — the
    * three fact-sized equi-joins, nothing else; the share is a
    * conditional sum inside ONE O(years) aggregate, never a self-join
    * of two subtotals. */
  def q303NationShare(spark: SparkSession, sfDir: String): DataFrame = {
    val regionNations = Tables.nation(spark, sfDir)
      .join(Tables.region(spark, sfDir).filter(col("r_name") === Q8Region),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val custIn = Tables.customer(spark, sfDir)
      .join(broadcast(regionNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(Q8From).cast("timestamp") &&
        col("o_orderdate") < lit(Q8Until).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
      .join(custIn, col("o_custkey") === col("c_custkey"))
    val suppNation = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        rev.as("volume"))
      .join(Tables.part(spark, sfDir).filter(col("p_type") === Q8Type)
          .select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        dsum(when(col("supp_nation") === Q8Nation, col("volume"))
          .otherwise(lit(0.0))).as("nrev"),
        dsum(col("volume")).as("trev"))
      .select(col("o_year"),
        round(col("nrev").cast("double") / col("trev").cast("double"), 6)
          .as("mkt_share"),
        asD(col("nrev")).as("nation_rev"),
        asD(col("trev")).as("total_rev"))
      .orderBy(col("o_year"))
  }

  val q303Sql: String =
    s"""SELECT year(o_orderdate) AS o_year,
      |  round(CAST(sum(CASE WHEN n2.n_name = '$Q8Nation' THEN CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(38,6)) ELSE CAST(0.0 AS DECIMAL(38,6)) END) AS DOUBLE)
      |      / CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(38,6))) AS DOUBLE), 6) AS mkt_share,
      |  round(CAST(sum(CASE WHEN n2.n_name = '$Q8Nation' THEN CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(38,6)) ELSE CAST(0.0 AS DECIMAL(38,6)) END) AS DOUBLE), 6) AS nation_rev,
      |  round(CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_rev
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey AND p_type = '$Q8Type'
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |JOIN region ON n1.n_regionkey = r_regionkey AND r_name = '$Q8Region'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '$Q8From' AND o_orderdate < TIMESTAMP '$Q8Until'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Q12 parameters: two scrutinized ship modes, a two-year receipt
    * window. */
  val Q12Modes = Seq("MAIL", "SHIP")
  val Q12From = "1996-01-01"
  val Q12Until = "1998-01-01"

  // --------------------------------------------------------------- q304
  /** TPC-H Q12 — shipping-mode / order-priority census over LATE lines
    * (commit date already missed when the goods arrived:
    * l_commitdate < l_receiptdate), on the derived ship columns
    * ([[graft.Tables.lineitemShip]], §5 fixture pattern — the r9
    * verdict's last fixture-blocked TPC-H shape class). Tests the
    * date-sandwich predicate (ship < commit < receipt, receipt in
    * window) plus a conditional two-way census off a fact⋈fact join.
    *
    * Plan for 100 TB: every ship-column predicate is a map-side
    * expression over the lineitem scan (the derivation is arithmetic
    * on scan columns — nothing joins before the filter); the ~2/7 ×
    * late × window survivor set joins orders on the orderkey, and the
    * priority split is a conditional sum in ONE O(modes) aggregate. */
  def q304ShipmodePriority(spark: SparkSession, sfDir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitemShip(spark, sfDir)
      .filter(col("l_shipmode").isin(Q12Modes: _*) &&
        col("l_commitdate") < col("l_receiptdate") &&
        col("l_shipdate").cast("date") < col("l_commitdate") &&
        col("l_receiptdate") >= lit(Q12From).cast("date") &&
        col("l_receiptdate") < lit(Q12Until).cast("date"))
      .select(col("l_orderkey"), col("l_shipmode"))
      .join(Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_shipmode"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_shipmode"))
  }

  val q304Sql: String =
    s"""WITH $ShipCte
      |SELECT l_shipmode,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem_ship JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipmode IN (${Q12Modes.map(m => s"'$m'").mkString(",")})
      |  AND l_commitdate < l_receiptdate
      |  AND CAST(l_shipdate AS DATE) < l_commitdate
      |  AND l_receiptdate >= DATE '$Q12From' AND l_receiptdate < DATE '$Q12Until'
      |GROUP BY l_shipmode ORDER BY l_shipmode""".stripMargin

  /** Q19 full brackets: (brand, container size-class, container kinds,
    * qty lo..hi, size lo..hi). Bands are wider than TPC-H's (and
    * Brand#24 stands in for the fixture-absent Brand#34) so sf0.01's
    * 2000 parts keep every bracket populated. */
  val Q19Full: Seq[(String, String, Seq[String], Double, Double, Int, Int)] = Seq(
    ("Brand#12", "SM", Seq("CASE", "BOX", "PACK", "PKG"), 1.0, 15.0, 1, 10),
    ("Brand#23", "MED", Seq("BAG", "BOX", "PKG", "PACK"), 10.0, 25.0, 1, 20),
    ("Brand#24", "LG", Seq("CASE", "BOX", "PACK", "PKG"), 20.0, 35.0, 1, 30))

  // --------------------------------------------------------------- q305
  /** TPC-H Q19 — discounted revenue, the FULL predicate: q233 models
    * the bracket-scan shape on native columns; this is the complete
    * original over the derived p_container
    * ([[graft.Tables.partContainer]]) and ship columns — three
    * brand × container × quantity × size conjunctive brackets OR'd,
    * under a common shipmode/shipinstruct restriction, per-brand
    * census.
    *
    * Plan for 100 TB: the common restriction (mode ∈ {AIR, REG AIR},
    * instruct = DELIVER IN PERSON, qty within the union band) is
    * map-side over the lineitem scan BEFORE the join — ~7% of the fact
    * survives; the part side prunes to OR(brand ∧ size ∧ container)
    * (three brands — broadcastable at most SFs, AQE's call); the
    * residual cross-side bracket predicate evaluates on the join
    * output; ONE O(brands) aggregate. */
  def q305ContainerRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val bracket = Q19Full.map { case (b, sz, kinds, qlo, qhi, slo, shi) =>
      col("p_brand") === b &&
        col("p_container").isin(kinds.map(k => s"$sz $k"): _*) &&
        col("l_quantity") >= qlo && col("l_quantity") <= qhi &&
        col("p_size") >= slo && col("p_size") <= shi
    }.reduce(_ || _)
    val qtyLo = Q19Full.map(_._4).min
    val qtyHi = Q19Full.map(_._5).max
    Tables.lineitemShip(spark, sfDir)
      .filter(col("l_shipmode").isin("AIR", "REG AIR") &&
        col("l_shipinstruct") === "DELIVER IN PERSON" &&
        col("l_quantity") >= qtyLo && col("l_quantity") <= qtyHi)
      .select(col("l_partkey"), col("l_quantity"), rev.as("line_rev"))
      .join(Tables.partContainer(spark, sfDir)
          .select(col("p_partkey"), col("p_brand"), col("p_size"),
            col("p_container")),
        col("l_partkey") === col("p_partkey"))
      .filter(bracket)
      .groupBy(col("p_brand"))
      .agg(asD(dsum(col("line_rev"))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("p_brand"))
  }

  val q305Sql: String = {
    val brackets = Q19Full.map { case (b, sz, kinds, qlo, qhi, slo, shi) =>
      s"(p_brand = '$b' AND p_container IN (${kinds.map(k => s"'$sz $k'").mkString(",")})" +
        s" AND l_quantity >= $qlo AND l_quantity <= $qhi" +
        s" AND p_size BETWEEN $slo AND $shi)"
    }.mkString("\n    OR ")
    s"""WITH $ShipCte,
      |$ContainerCte
      |SELECT p_brand,
      |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE), 6) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem_ship JOIN part_container ON p_partkey = l_partkey
      |WHERE l_shipmode IN ('AIR','REG AIR') AND l_shipinstruct = 'DELIVER IN PERSON'
      |  AND ($brackets)
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q303_nation_share" -> q303NationShare,
    "q304_shipmode_priority" -> q304ShipmodePriority,
    "q305_container_revenue" -> q305ContainerRevenue,
    "q233_bracket_scan" -> q233BracketScan,
    "q195_local_volume" -> q195LocalVolume,
    "q196_returned_items" -> q196ReturnedItems,
    "q197_promo_share" -> q197PromoShare,
    "q198_big_orders" -> q198BigOrders,
    "q211_tpch_q6" -> q211RevenueChange,
    "q215_priority_check" -> q215PriorityCheck,
    "q217_trade_flows" -> q217TradeFlows,
    "q219_custdist" -> q219CustDist,
    "q220_dormant" -> q220Dormant,
    "q221_top_supplier" -> q221TopSupplier,
    "q222_small_qty" -> q222SmallQty)

  val oracles: Map[String, String] = Map(
    "q303_nation_share" -> q303Sql,
    "q304_shipmode_priority" -> q304Sql,
    "q305_container_revenue" -> q305Sql,
    "q233_bracket_scan" -> q233Sql,
    "q195_local_volume" -> q195Sql,
    "q196_returned_items" -> q196Sql,
    "q197_promo_share" -> q197Sql,
    "q198_big_orders" -> q198Sql,
    "q211_tpch_q6" -> q211Sql,
    "q215_priority_check" -> q215Sql,
    "q217_trade_flows" -> q217Sql,
    "q219_custdist" -> q219Sql,
    "q220_dormant" -> q220Sql,
    "q221_top_supplier" -> q221Sql,
    "q222_small_qty" -> q222Sql)
}
