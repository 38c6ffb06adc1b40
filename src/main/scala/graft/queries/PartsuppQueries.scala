package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.MathFunctions.{asD, dsum}

/** The partsupp-dependent TPC-H join shapes — Q2, Q9, Q11, Q16, Q20 —
  * over the DERIVED partsupp fixture ([[graft.Tables.partsupp]];
  * SURVEY §5). These five are the benchmark's remaining distinct
  * physical shapes the engine had not exercised: the correlated-min
  * decorrelation (Q2), the multi-way profit rollup joining two fact
  * tables on a composite key (Q9), the scalar-fraction HAVING over a
  * grouped value (Q11), the distinct-count census behind an anti-join
  * (Q16), and the nested semi-join chain with a correlated aggregate
  * threshold (Q20).
  *
  * Oracle-fidelity rules are TpchQueries' (SURVEY §4): money through
  * DECIMAL(38,6), fraction thresholds as integer cross-multiplication
  * (never decimal×double), every result totally ordered. Each oracle
  * embeds [[PsCte]] — the partsupp derivation as a recursive-free CTE
  * DuckDB replays exactly (integer arithmetic + one division by 100).
  */
object PartsuppQueries {


  /** The partsupp derivation as a DuckDB CTE prefix — the oracle twin
    * of [[graft.Tables.partsupp]] (same integer formulas). */
  val PsCte: String =
    """WITH scount AS (SELECT count(*) AS s FROM supplier),
      |ps0 AS (
      |  SELECT p_partkey AS ps_partkey, (p_partkey + i.i * (s // 4)) % s AS ps_suppkey
      |  FROM part CROSS JOIN scount CROSS JOIN (VALUES (0),(1),(2),(3)) AS i(i)),
      |partsupp AS (
      |  SELECT ps_partkey, ps_suppkey,
      |    (ps_partkey * 31 + ps_suppkey * 17) % 9991 + 1 AS ps_availqty,
      |    CAST((ps_partkey * 131 + ps_suppkey * 1009) % 99900 + 100 AS DOUBLE) / 100.0 AS ps_supplycost
      |  FROM ps0)""".stripMargin

  /** Q2 parameters: the ASIA region (shared with Q5/q195), an ECONOMY
    * part in a mid size band (a range, not TPC-H's single size, so the
    * report is non-degenerate at sf0.001's 200 parts). */
  val Q2Region = "ASIA"
  val Q2Type = "ECONOMY"
  val Q2SizeLo = 10
  val Q2SizeHi = 20
  val Q2TopK = 100

  // --------------------------------------------------------------- q228
  /** TPC-H Q2 — minimum-cost supplier: for each qualifying part, the
    * region supplier(s) offering it at the region's minimum supplycost
    * (the benchmark's correlated-scalar-min shape).
    *
    * Plan for 100 TB: the correlated subquery decorrelates into ONE
    * per-part min over the region-restricted partsupp — never a
    * per-part probe. region⋈nation⋈supplier collapses to a broadcast
    * (supplier is SF·10k, the Q5 argument); partsupp joins it map-side,
    * and the joined frame is localCheckpoint'ed because it feeds BOTH
    * the min aggregate and the argmin filter-join (one derivation, two
    * consumers). The part attach joins only argmin rows; top-K is a
    * TakeOrdered, never a global sort. All-min-cost suppliers are
    * emitted (the original's semantics), not an arbitrary top-1. */
  def q228MinCostSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val regionSupp = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
          .join(Tables.region(spark, sfDir).filter(col("r_name") === Q2Region),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val rs = graft.Checkpoints.materialize(Tables.partsupp(spark, sfDir)
      .join(broadcast(regionSupp), col("ps_suppkey") === col("s_suppkey"))
      .select(col("ps_partkey"), col("ps_supplycost"), col("s_suppkey"),
        col("s_name"), col("s_acctbal"), col("n_name")))
    val minCost = rs.groupBy(col("ps_partkey"))
      .agg(min(col("ps_supplycost")).as("min_cost"))
    rs.join(minCost, Seq("ps_partkey"))
      .filter(col("ps_supplycost") === col("min_cost"))
      .join(Tables.part(spark, sfDir)
          .filter(col("p_size") >= Q2SizeLo && col("p_size") <= Q2SizeHi &&
            col("p_type") === Q2Type)
          .select(col("p_partkey"), col("p_brand"), col("p_type")),
        col("ps_partkey") === col("p_partkey"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(Q2TopK)
      .select(round(col("s_acctbal"), 6).as("s_acctbal"), col("s_name"),
        col("n_name"), col("p_partkey"), col("p_brand"), col("p_type"),
        round(col("ps_supplycost"), 6).as("supplycost"))
  }

  val q228Sql: String = PsCte +
    s""",
      |region_supp AS (
      |  SELECT s_suppkey, s_name, s_acctbal, n_name
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = '$Q2Region'),
      |rs AS (
      |  SELECT ps_partkey, ps_supplycost, s_suppkey, s_name, s_acctbal, n_name
      |  FROM partsupp JOIN region_supp ON ps_suppkey = s_suppkey),
      |mc AS (SELECT ps_partkey, min(ps_supplycost) AS min_cost FROM rs GROUP BY 1)
      |SELECT round(s_acctbal, 6) AS s_acctbal, s_name, n_name, p_partkey,
      |  p_brand, p_type, round(ps_supplycost, 6) AS supplycost
      |FROM rs JOIN mc ON rs.ps_partkey = mc.ps_partkey AND rs.ps_supplycost = mc.min_cost
      |JOIN part ON p_partkey = rs.ps_partkey
      |WHERE p_size BETWEEN $Q2SizeLo AND $Q2SizeHi AND p_type = '$Q2Type'
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT $Q2TopK""".stripMargin

  /** Q9 part-name color filter. */
  val Q9Color = "red"

  // --------------------------------------------------------------- q229
  /** TPC-H Q9 — product-type profit rollup: per (supplier nation,
    * order year), the profit on '[[Q9Color]]' parts — revenue minus
    * supplycost·quantity — the benchmark's multi-way join-agg
    * centerpiece (two fact-sized inputs meet on the composite
    * (partkey, suppkey) key).
    *
    * Plan for 100 TB: the part-name filter lands FIRST (map-side on
    * the part scan) and the lineitem⋈part join shrinks the fact to the
    * color slice before anything else; partsupp joins on the composite
    * key (4·|part| rows — the same shuffle family as the fact, never a
    * fan-out since (ps_partkey, ps_suppkey) is unique); orders joins on
    * orderkey for the year; supplier⋈nation broadcasts. The derived
    * fixture gives every part 4 of S suppliers, so only lines whose
    * (l_partkey, l_suppkey) pair falls in them contribute — exactly
    * the inner-join semantics of the original, at a deterministic
    * ~4/S match rate (documented, non-degenerate at every SF). */
  def q229ProductProfit(spark: SparkSession, sfDir: String): DataFrame = {
    val redParts = Tables.part(spark, sfDir)
      .filter(col("p_name").contains(Q9Color)).select(col("p_partkey"))
    val suppNation = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val amount = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      col("ps_supplycost") * col("l_quantity")
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .join(redParts, col("l_partkey") === col("p_partkey"))
      .join(Tables.partsupp(spark, sfDir),
        col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
      .join(Tables.orders(spark, sfDir)
          .select(col("o_orderkey"),
            year(col("o_orderdate").cast("timestamp")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(dsum(amount).as("profit_dec"), count(lit(1)).as("n_lines"))
      .select(col("nation"), col("o_year"), asD(col("profit_dec")).as("profit"),
        col("n_lines"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q229Sql: String = PsCte +
    s"""
      |SELECT nation, o_year, round(CAST(sum_profit AS DOUBLE), 6) AS profit, n_lines FROM (
      |  SELECT n_name AS nation, year(CAST(o_orderdate AS TIMESTAMP)) AS o_year,
      |    sum(CAST(l_extendedprice * (1.0 - l_discount) - ps_supplycost * l_quantity AS DECIMAL(38,6))) AS sum_profit,
      |    count(*) AS n_lines
      |  FROM lineitem
      |  JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      |  JOIN part ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE p_name LIKE '%$Q9Color%'
      |  GROUP BY 1, 2) t
      |ORDER BY nation, o_year DESC""".stripMargin

  /** Q11 parameters: two nations' suppliers; threshold =
    * [[Q11MeanMult]]× the MEAN per-part stock value. TPC-H's own
    * fraction scales 1/SF precisely because a fixed total-fraction
    * goes degenerate as the part count grows (0.005 of total emptied
    * the report at sf0.1); a mean multiple is SF-invariant and keeps
    * the scalar-subquery HAVING shape. Integer cross-multiplied in
    * DECIMAL on both engines. */
  val Q11Nations = Seq("NATION_3", "NATION_7")
  val Q11MeanMult = 2L

  // --------------------------------------------------------------- q230
  /** TPC-H Q11 — important stock identification: parts whose stock
    * value (supplycost·availqty) held by two nations' suppliers
    * exceeds a fixed fraction of those nations' total (the
    * grouped-HAVING-over-scalar-subquery shape).
    *
    * Plan for 100 TB: the nation filter collapses supplier to a
    * broadcast; partsupp joins it map-side; ONE partial-agged
    * groupBy(ps_partkey) produces the per-part values, and the total
    * is re-aggregated FROM that O(parts) frame (localCheckpoint'ed —
    * one corpus pass, two consumers) as a 1-row broadcast. The
    * threshold test cross-multiplies by [[Q11Den]] in DECIMAL — exact,
    * no decimal×double coercion on either engine. */
  def q230ImportantStock(spark: SparkSession, sfDir: String): DataFrame = {
    val natSupp = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
          .filter(col("n_name").isin(Q11Nations: _*))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val byPart = graft.Checkpoints.materialize(Tables.partsupp(spark, sfDir)
      .join(broadcast(natSupp), col("ps_suppkey") === col("s_suppkey"))
      .groupBy(col("ps_partkey"))
      .agg(dsum(col("ps_supplycost") * col("ps_availqty")).as("value_dec")))
    val total = byPart.agg(sum(col("value_dec")).as("total"),
      count(lit(1)).as("np"))
    byPart.crossJoin(broadcast(total))
      .filter(col("value_dec") * col("np") > col("total") * lit(Q11MeanMult))
      .select(col("ps_partkey"), asD(col("value_dec")).as("stock_value"))
      .orderBy(col("stock_value").desc, col("ps_partkey"))
  }

  val q230Sql: String = PsCte +
    s""",
      |natps AS (
      |  SELECT ps_partkey, CAST(ps_supplycost * ps_availqty AS DECIMAL(38,6)) AS v
      |  FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name IN (${Q11Nations.map(n => s"'$n'").mkString(", ")})),
      |byp AS (SELECT ps_partkey, sum(v) AS value_dec FROM natps GROUP BY 1),
      |tot AS (SELECT sum(value_dec) AS total, count(*) AS np FROM byp)
      |SELECT ps_partkey, round(CAST(value_dec AS DOUBLE), 6) AS stock_value
      |FROM byp CROSS JOIN tot
      |WHERE value_dec * np > total * $Q11MeanMult
      |ORDER BY stock_value DESC, ps_partkey""".stripMargin

  /** Q16 parameters: excluded brand / type prefix, the 8-size list,
    * and the complaints proxy (suppliers in arrears — the fixture has
    * no s_comment, so 'Customer Complaints' is modeled as a negative
    * account balance; same NOT-IN anti-join shape). */
  val Q16Brand = "Brand#13"
  val Q16TypePrefix = "PROMO"
  val Q16Sizes = Seq(3, 9, 14, 19, 23, 36, 45, 49)

  // --------------------------------------------------------------- q231
  /** TPC-H Q16 — parts/supplier relationship: how many distinct
    * suppliers can provide each qualifying (brand, type, size), with
    * complained-about suppliers excluded (the distinct-count census
    * behind a NOT-IN anti-join).
    *
    * Plan for 100 TB: the part predicate trio (brand ≠, type NOT
    * LIKE, size IN) is map-side on the part scan; partsupp joins the
    * filtered slice on partkey; the NOT IN compiles to a broadcast
    * LEFT ANTI join against the O(complainers) key list; the
    * distinct-count aggregation runs in Spark's standard two-phase
    * (partial distinct → merge) — never a row-level collect. */
  def q231SupplierCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = Tables.part(spark, sfDir)
      .filter(col("p_brand") =!= Q16Brand &&
        !col("p_type").startsWith(Q16TypePrefix) &&
        col("p_size").isin(Q16Sizes: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val complainers = Tables.supplier(spark, sfDir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    Tables.partsupp(spark, sfDir)
      .join(parts, col("ps_partkey") === col("p_partkey"))
      .join(broadcast(complainers), col("ps_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  val q231Sql: String = PsCte +
    s"""
      |SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
      |FROM partsupp JOIN part ON p_partkey = ps_partkey
      |WHERE p_brand <> '$Q16Brand' AND p_type NOT LIKE '$Q16TypePrefix%'
      |  AND p_size IN (${Q16Sizes.mkString(", ")})
      |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** Q20 parameters: the ship-year window and the part-name prefix. */
  val Q20From = "1996-01-01"
  val Q20Until = "1997-01-01"
  val Q20Color = "red"

  // --------------------------------------------------------------- q232
  /** TPC-H Q20 — potential part promotion: suppliers holding excess
    * stock (availqty > half the year's shipped quantity) of
    * '[[Q20Color]]%' parts (the benchmark's nested semi-join chain:
    * supplier ∈ partsupp ∈ {parts} with a correlated aggregate
    * threshold).
    *
    * Plan for 100 TB: the correlated sum decorrelates into ONE
    * partial-agged groupBy(l_partkey, l_suppkey) over the date-pushed
    * lineitem scan; the inner join of partsupp against it implements
    * the original's NULL-excluding comparison (no shipments → no row);
    * the part-name filter rides a partkey equi-join; the availqty
    * threshold cross-multiplies by 2 in DECIMAL (exact); the final
    * supplier attach is a semi-join via distinct suppkeys with the
    * 25-row nation dim broadcast. */
  def q232PartPromotion(spark: SparkSession, sfDir: String): DataFrame = {
    val shipped = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(Q20From).cast("timestamp") &&
        col("l_shipdate") < lit(Q20Until).cast("timestamp"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(dsum(col("l_quantity")).as("qty"))
    val redParts = Tables.part(spark, sfDir)
      .filter(col("p_name").startsWith(Q20Color)).select(col("p_partkey"))
    val cands = Tables.partsupp(spark, sfDir)
      .join(redParts, col("ps_partkey") === col("p_partkey"))
      .join(shipped,
        col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
      .filter((col("ps_availqty") * 2L).cast(DecimalType(38, 6)) > col("qty"))
      .select(col("ps_suppkey")).distinct()
    Tables.supplier(spark, sfDir)
      .join(cands, col("s_suppkey") === col("ps_suppkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_suppkey"))
  }

  val q232Sql: String = PsCte +
    s""",
      |shipped AS (
      |  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(38,6))) AS qty
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '$Q20From 00:00:00'
      |    AND l_shipdate < TIMESTAMP '$Q20Until 00:00:00'
      |  GROUP BY 1, 2),
      |cands AS (
      |  SELECT DISTINCT ps_suppkey
      |  FROM partsupp
      |  JOIN part ON p_partkey = ps_partkey
      |  JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      |  WHERE p_name LIKE '$Q20Color%' AND CAST(ps_availqty AS DECIMAL(38,6)) * 2 > qty)
      |SELECT s_suppkey, s_name, n_name
      |FROM supplier JOIN cands ON s_suppkey = ps_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY s_suppkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q228_min_cost_supplier" -> q228MinCostSupplier,
    "q229_product_profit" -> q229ProductProfit,
    "q230_important_stock" -> q230ImportantStock,
    "q231_supplier_census" -> q231SupplierCensus,
    "q232_part_promotion" -> q232PartPromotion)

  val oracles: Map[String, String] = Map(
    "q228_min_cost_supplier" -> q228Sql,
    "q229_product_profit" -> q229Sql,
    "q230_important_stock" -> q230Sql,
    "q231_supplier_census" -> q231Sql,
    "q232_part_promotion" -> q232Sql)
}
