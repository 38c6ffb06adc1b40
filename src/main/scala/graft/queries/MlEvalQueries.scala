package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.{Graft, Tables}
import graft.functions.{MathFunctions => MF}
import graft.functions.MathFunctions.{asD, dec12, dsum, grid6}
import graft.oracle.Sql

/** ML training & evaluation loop (SURVEY §2.B ML-eval family, split
  * out of RelationalQueries in r9): correlation/inequality metrics
  * (q127/q128), feature engineering (q147/q148), the A/B + calibration
  * + AUC evaluation suite (q155/q156/q161), RFM segmentation (q178),
  * Markov attribution (q182), the GLM/tree/ALS fits (q185-q189), PSI
  * drift (q192) and the decile lift table (q226). Oracle-fidelity
  * rules are RelationalQueries' (see its doc). */
object MlEvalQueries {


  // --------------------------------------------------------------- q226
  /** Decile lift / cumulative-gain table — the campaign-targeting view
    * of a propensity score (q156 asks calibrated?, q161 discriminates?,
    * q188 where to cut?; this answers "how much better than random is
    * targeting the top k deciles?"): users ranked by activity (the
    * q186 predictor — the fitted logistic is monotone in it, so the
    * ranking is the model's), binned by frozen activity deciles
    * (q192's percentile identity), and read TOP-DOWN with cumulative
    * conversion rate, lift over the base rate, and capture share.
    *
    * Shape for 100 TB: ONE partial-agged per-user pass, a 9-value
    * percentile broadcast, an O(bins) census; the cumulative window
    * runs on ≤10 rows. Integer counts until the final divisions. */
  def q226LiftTable(spark: SparkSession, sfDir: String): DataFrame = {
    val lu = labeledUsers(spark, sfDir)
    val qs = array((1 to 9).map(i => lit(i / 10.0)): _*)
    val th = lu.agg(percentile(col("x"), qs).as("t"))
    val binned = lu.crossJoin(broadcast(th))
      .withColumn("bin",
        (1 to 9).map(i => when(col("x") > round(col("t")(i - 1), 6), 1)
          .otherwise(0)).reduce(_ + _) + 1)
    val census = binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("y").cast("long")).as("n_conv"))
    val tot = census.agg(sum(col("n_users")).as("tu"), sum(col("n_conv")).as("tc"))
    val w = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census.crossJoin(broadcast(tot))
      .withColumn("cum_users", sum(col("n_users")).over(w))
      .withColumn("cum_conv", sum(col("n_conv")).over(w))
      .select(col("bin"), col("n_users"), col("n_conv"),
        round(col("n_conv").cast("double") / col("n_users"), 6).as("conv_rate"),
        col("cum_users"), col("cum_conv"),
        round((col("cum_conv") * col("tu")).cast("double")
          / (col("cum_users") * col("tc")).cast("double"), 6).as("lift"),
        round(col("cum_conv").cast("double") / col("tc"), 6).as("capture"))
      .orderBy(col("bin").desc)
  }

  def q226Sql: String = {
    val bins = (1 to 9).map(i =>
      s"(CASE WHEN x > round(t[$i], 6) THEN 1 ELSE 0 END)").mkString("\n      + ")
    s"""WITH $labeledUsersSql,
      |th AS (
      |  SELECT quantile_cont(x, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS t
      |  FROM per_user),
      |binned AS (
      |  SELECT y, 1 + $bins AS bin
      |  FROM per_user CROSS JOIN th),
      |census AS (
      |  SELECT bin, count(*) AS n_users,
      |    CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS n_conv
      |  FROM binned GROUP BY bin),
      |tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS tu,
      |  CAST(sum(n_conv) AS BIGINT) AS tc FROM census),
      |cum AS (
      |  SELECT bin, n_users, n_conv,
      |    CAST(sum(n_users) OVER (ORDER BY bin DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users,
      |    CAST(sum(n_conv) OVER (ORDER BY bin DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_conv
      |  FROM census)
      |SELECT bin, n_users, n_conv,
      |  round(CAST(n_conv AS DOUBLE) / n_users, 6) AS conv_rate,
      |  cum_users, cum_conv,
      |  round(CAST(cum_conv * tu AS DOUBLE) / CAST(cum_users * tc AS DOUBLE), 6) AS lift,
      |  round(CAST(cum_conv AS DOUBLE) / tc, 6) AS capture
      |FROM cum CROSS JOIN tot ORDER BY bin DESC""".stripMargin
  }

  // --------------------------------------------------------------- q127
  /** Spearman rank correlation between l_quantity and l_discount per
    * return flag — the monotone-association screen (feature vs label)
    * run before model fitting. Both variables are LOW-CARDINALITY, so
    * the whole computation runs on the joint contingency table: one
    * partial-agged groupBy(flag, qty, disc) collapses the corpus to
    * |flags|·|qty|·|disc| cells; average tie-ranks come from the value
    * MARGINALS (avg rank of value v = #less + (#eq+1)/2 — doubled to
    * stay integer), and the Pearson-on-ranks moments are
    * count-weighted sums over the cell frame in DECIMAL(38) (n·rᵪ·rᵧ
    * products overflow int64 at corpus scale; decimals keep both
    * engines exact), with one double division + sqrt at the end.
    *
    * Shape for 100 TB: the ONLY corpus-sized operation is the first
    * partial-agged groupBy; ranks never touch a per-row window (the
    * q118 concern does not even arise — the marginal frames are
    * O(distinct values)). */
  def q127Spearman(spark: SparkSession, sfDir: String): DataFrame =
    Graft.spearman(Tables.lineitem(spark, sfDir),
        col("l_returnflag"), col("l_quantity"), col("l_discount"))
      .withColumnRenamed("group", "flag")
      .orderBy(col("flag"))

  val q127Sql: String =
    """WITH joint AS (
      |  SELECT l_returnflag AS flag, l_quantity AS x, l_discount AS y, count(*) AS n
      |  FROM lineitem GROUP BY 1, 2, 3),
      |rx AS (
      |  SELECT flag, x,
      |    2 * coalesce(sum(cnt) OVER (PARTITION BY flag ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt + 1 AS r2x
      |  FROM (SELECT flag, x, sum(n) AS cnt FROM joint GROUP BY flag, x)),
      |ry AS (
      |  SELECT flag, y,
      |    2 * coalesce(sum(cnt) OVER (PARTITION BY flag ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt + 1 AS r2y
      |  FROM (SELECT flag, y, sum(n) AS cnt FROM joint GROUP BY flag, y)),
      |cells AS (
      |  SELECT j.flag, j.n, rx.r2x, ry.r2y
      |  FROM joint j JOIN rx ON j.flag = rx.flag AND j.x = rx.x
      |               JOIN ry ON j.flag = ry.flag AND j.y = ry.y),
      |mom AS (
      |  SELECT flag, sum(n) AS nn,
      |    sum(CAST(n * r2x AS DECIMAL(38,0))) AS sx,
      |    sum(CAST(n * r2y AS DECIMAL(38,0))) AS sy,
      |    sum(CAST(n AS DECIMAL(38,0)) * CAST(r2x AS DECIMAL(38,0)) * CAST(r2x AS DECIMAL(38,0))) AS sxx,
      |    sum(CAST(n AS DECIMAL(38,0)) * CAST(r2y AS DECIMAL(38,0)) * CAST(r2y AS DECIMAL(38,0))) AS syy,
      |    sum(CAST(n AS DECIMAL(38,0)) * CAST(r2x AS DECIMAL(38,0)) * CAST(r2y AS DECIMAL(38,0))) AS sxy
      |  FROM cells GROUP BY flag)
      |SELECT flag, CAST(nn AS BIGINT) AS n,
      |  round(CAST(CAST(nn AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
      |    / sqrt(CAST(CAST(nn AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)
      |         * CAST(CAST(nn AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE)), 6) AS spearman_rho
      |FROM mom
      |ORDER BY flag""".stripMargin

  // --------------------------------------------------------------- q128
  /** Spend width of the Gini rank buckets (q118's pattern). */
  val GiniBucketWidth = 10000.0

  /** Gini coefficient of customer-spend concentration per market
    * segment — the inequality/skew diagnostic (is 1% of customers 90%
    * of revenue?) that also sizes skew-mitigation choices. Formula
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over spend sorted ascending
    * with rank i — but the rank comes from q118's scale-out machinery
    * (fixed spend-range buckets → tiny cumulative-offset frame →
    * within-bucket row_number), NEVER a corpus-height window. All
    * moments are exact decimals; one double division at the end.
    *
    * Covers customers WITH orders (spend > 0 support; the zero-spend
    * tail would need the customer dim's complement — a different
    * question). */
  def q128Gini(spark: SparkSession, sfDir: String): DataFrame = {
    val spend = Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_custkey"))
      .agg(dsum(col("o_totalprice")).as("spend"))
      .withColumn("bucket",
        expr(s"cast(floor(spend / $GiniBucketWidth) as bigint)"))
    val counts = spend.groupBy(col("c_mktsegment"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val offsets = counts.withColumn("off",
      coalesce(sum(col("cnt")).over(
        Window.partitionBy(col("c_mktsegment")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val ranked = spend
      .join(broadcast(offsets.select(col("c_mktsegment"), col("bucket"), col("off"))),
        Seq("c_mktsegment", "bucket"))
      .withColumn("rnk", col("off") + row_number().over(
        Window.partitionBy(col("c_mktsegment"), col("bucket"))
          .orderBy(col("spend"), col("o_custkey"))))
    ranked.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend")).as("sx"),
        sum(col("spend") * col("rnk").cast(DecimalType(38, 6))).as("sxr"))
      .select(col("c_mktsegment"), col("n_customers"),
        asD(col("sx")).as("total_spend"),
        round((lit(2) * col("sxr") - (col("n_customers") + 1) * col("sx"))
          .cast("double")
          / (col("n_customers") * col("sx")).cast("double"), 6).as("gini"))
      .orderBy(col("c_mktsegment"))
  }

  val q128Sql: String =
    """WITH spend AS (
      |  SELECT c_mktsegment, o_custkey,
      |    sum(CAST(o_totalprice AS DECIMAL(38,6))) AS spend
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_mktsegment, o_custkey),
      |ranked AS (
      |  SELECT c_mktsegment, spend,
      |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY spend, o_custkey) AS rnk
      |  FROM spend)
      |SELECT c_mktsegment, count(*) AS n_customers,
      |  round(CAST(sum(spend) AS DOUBLE), 6) AS total_spend,
      |  round(CAST(2 * sum(spend * CAST(rnk AS DECIMAL(38,6))) - (count(*) + 1) * sum(spend) AS DOUBLE)
      |      / CAST(count(*) * sum(spend) AS DOUBLE), 6) AS gini
      |FROM ranked GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // --------------------------------------------------------------- q147
  /** Rolling-feature lookback (days). */
  val LagFeatDays = 7

  /** Per-user daily lag features — the feature-engineering pass a
    * daily model trains on: for every user-day with activity, the
    * previous day's count, the trailing-[[LagFeatDays]]-day sum, and
    * days since the previous active day. Features compute on the
    * ZERO-FILLED user×day grid (a silent day is a 0, not a missing
    * row — else lag(1) reads the wrong day), but only observed
    * (active) rows emit.
    *
    * Shape for 100 TB: corpus → one partial-agged groupBy(user, day);
    * the grid is users × span (the natural feature-matrix size), all
    * windows partition by user over O(span) rows. */
  def q147LagFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("cnt"))
    val span = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = daily.select(col("user_id")).distinct()
      .crossJoin(broadcast(span))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val filled = grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val feat = filled
      .withColumn("prev_1d", coalesce(lag(col("cnt"), 1).over(byUser), lit(0L)))
      .withColumn("prev_7d", coalesce(sum(col("cnt")).over(
        byUser.rowsBetween(-LagFeatDays, -1)), lit(0L)))
      .withColumn("prev_active_day",
        last(when(col("cnt") > 0, col("day")), ignoreNulls = true)
          .over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("days_since_prev",
        coalesce(col("day") - col("prev_active_day"), lit(-1L)))
    feat.filter(col("cnt") > 0)
      .select(col("user_id"), col("day"), col("cnt").as("n_events"),
        col("prev_1d"), col("prev_7d"), col("days_since_prev"))
      .orderBy(col("user_id"), col("day"))
  }

  val q147Sql: String =
    s"""WITH daily AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
      |grid AS (
      |  SELECT u.user_id, g.day
      |  FROM (SELECT DISTINCT user_id FROM daily) u,
      |    (SELECT unnest(generate_series(d0, d1)) AS day FROM span) g),
      |filled AS (
      |  SELECT grid.user_id, grid.day, coalesce(daily.cnt, 0) AS cnt
      |  FROM grid LEFT JOIN daily
      |    ON grid.user_id = daily.user_id AND grid.day = daily.day),
      |feat AS (
      |  SELECT user_id, day, cnt,
      |    coalesce(lag(cnt) OVER w, 0) AS prev_1d,
      |    coalesce(sum(cnt) OVER (PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN $LagFeatDays PRECEDING AND 1 PRECEDING), 0) AS prev_7d,
      |    last_value(CASE WHEN cnt > 0 THEN day END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY day
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_active_day
      |  FROM filled WINDOW w AS (PARTITION BY user_id ORDER BY day))
      |SELECT user_id, day, cnt AS n_events,
      |  CAST(prev_1d AS BIGINT) AS prev_1d, CAST(prev_7d AS BIGINT) AS prev_7d,
      |  coalesce(day - prev_active_day, -1) AS days_since_prev
      |FROM feat WHERE cnt > 0
      |ORDER BY user_id, day""".stripMargin

  // --------------------------------------------------------------- q148
  /** Item-item co-engagement similarity — the bipartite-projection /
    * collaborative-filtering primitive ("users who did X also did Y"):
    * the user×event-type bipartite graph projects onto item pairs via
    * a self-join on user over DISTINCT (user, item) rows; cosine =
    * co/√(nₐ·n_b) and Jaccard = co/(nₐ+n_b−co) from exact integer
    * counts, one double op each at the end.
    *
    * Shape for 100 TB: the distinct pass is one partial-agged
    * shuffle on user; the projection joins within user partitions
    * (per-user item fan-out is bounded by the catalog, not the event
    * count — the recsys-standard plan); item marginals are a tiny
    * broadcast frame. */
  def q148ItemSimilarity(spark: SparkSession, sfDir: String): DataFrame = {
    val ui = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type")).distinct()
    val marg = ui.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val co = ui.select(col("user_id"), col("event_type").as("ia"))
      .join(ui.select(col("user_id"), col("event_type").as("ib")), "user_id")
      .filter(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("co"))
    co.join(broadcast(marg.select(col("event_type").as("ia"), col("n").as("na"))), "ia")
      .join(broadcast(marg.select(col("event_type").as("ib"), col("n").as("nb"))), "ib")
      .select(col("ia"), col("ib"), col("co"), col("na"), col("nb"),
        round(col("co").cast("double")
          / sqrt(col("na").cast("double") * col("nb")), 6).as("cosine"),
        round(col("co").cast("double") / (col("na") + col("nb") - col("co")), 6)
          .as("jaccard"))
      .orderBy(col("ia"), col("ib"))
  }

  val q148Sql: String =
    """WITH ui AS (SELECT DISTINCT user_id, event_type FROM events),
      |marg AS (SELECT event_type, count(*) AS n FROM ui GROUP BY event_type),
      |co AS (
      |  SELECT a.event_type AS ia, b.event_type AS ib, count(*) AS co
      |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT ia, ib, co, na.n AS na, nb.n AS nb,
      |  round(CAST(co AS DOUBLE) / sqrt(CAST(na.n AS DOUBLE) * nb.n), 6) AS cosine,
      |  round(CAST(co AS DOUBLE) / (na.n + nb.n - co), 6) AS jaccard
      |FROM co JOIN marg na ON ia = na.event_type JOIN marg nb ON ib = nb.event_type
      |ORDER BY ia, ib""".stripMargin

  // --------------------------------------------------------------- q155
  /** Two-proportion A/B significance test — the experimentation
    * primitive that closes the loop on every split/mixture operator:
    * users hash into arms A/B (q47's no-RNG determinism), the metric
    * is LAST-DAY purchase conversion (≥1 purchase on the fixture's
    * final calendar day — the raw any-purchase flag saturates at 100%
    * on this event volume, and a saturated metric has zero variance
    * to test), and the two-sided
    * two-proportion z-test scores the difference with the pooled
    * standard error. The synthetic assignment is independent of
    * behavior, so the expected verdict is NOT significant — a
    * detector that fires here is broken (the spec asserts it).
    *
    * Shape for 100 TB: one partial-agged pass to per-user conversion
    * flags (the exchange carries users, not events), then a 2-row
    * aggregate; z is a handful of IEEE double ops off exact integer
    * counts — deterministic across engines. */
  /** Last fixture day (2024-01-30) as an epoch day — the conversion
    * window. */
  val AbLastDay = 19752L

  def q155AbTest(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
          expr("ts div 86400000000000") === AbLastDay, 1L).otherwise(0L))
        .as("converted"))
      .withColumn("arm",
        when(pmod(MF.hash32(concat(lit("ab:"), col("user_id").cast("string"))),
          lit(2)) === 0, "A").otherwise("B"))
    val arms = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("x"))
    val a = arms.filter(col("arm") === "A")
      .select(col("n").as("na"), col("x").as("xa"))
    val b = arms.filter(col("arm") === "B")
      .select(col("n").as("nb"), col("x").as("xb"))
    a.crossJoin(b)
      .withColumn("pa", col("xa").cast("double") / col("na"))
      .withColumn("pb", col("xb").cast("double") / col("nb"))
      .withColumn("pp", (col("xa") + col("xb")).cast("double")
        / (col("na") + col("nb")))
      .withColumn("z",
        (col("pa") - col("pb")) / sqrt(col("pp") * (lit(1.0) - col("pp"))
          * (lit(1.0) / col("na") + lit(1.0) / col("nb"))))
      .select(col("na"), col("nb"), col("xa"), col("xb"),
        round(col("pa"), 6).as("pa"), round(col("pb"), 6).as("pb"),
        round(col("z"), 6).as("z"),
        (abs(col("z")) > 1.959964).as("significant"))
  }

  val q155Sql: String = {
    val h = Sql.hash32OfHex("md5('ab:' || CAST(user_id AS VARCHAR))")
    s"""WITH per_user AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase'
      |             AND epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 = $AbLastDay
      |             THEN 1 ELSE 0 END) AS converted,
      |    (CASE WHEN $h % 2 = 0 THEN 'A' ELSE 'B' END) AS arm
      |  FROM events GROUP BY user_id),
      |arms AS (
      |  SELECT arm, count(*) AS n, CAST(sum(converted) AS BIGINT) AS x
      |  FROM per_user GROUP BY arm),
      |ab AS (
      |  SELECT a.n AS na, b.n AS nb, a.x AS xa, b.x AS xb
      |  FROM (SELECT * FROM arms WHERE arm = 'A') a,
      |       (SELECT * FROM arms WHERE arm = 'B') b),
      |calc AS (
      |  SELECT na, nb, xa, xb,
      |    CAST(xa AS DOUBLE) / na AS pa, CAST(xb AS DOUBLE) / nb AS pb,
      |    CAST(xa + xb AS DOUBLE) / (na + nb) AS pp
      |  FROM ab)
      |SELECT na, nb, xa, xb, round(pa, 6) AS pa, round(pb, 6) AS pb,
      |  round((pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)), 6) AS z,
      |  (abs((pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))) > 1.959964) AS significant
      |FROM calc""".stripMargin
  }

  // --------------------------------------------------------------- q156
  /** (user_id, n_ev, converted): each user's event count and whether
    * they purchased on the last day (q155's outcome) — the predictor
    * and outcome of q156, q161 and q273. */
  private def perUserConversion(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        max(when(col("event_type") === "purchase" &&
          expr("ts div 86400000000000") === AbLastDay, 1L).otherwise(0L))
          .as("converted"))

  /** Twin of [[perUserConversion]]: CTE `per_user`. */
  private val perUserCte: String =
    s"""per_user AS (
  SELECT user_id, count(*) AS n_ev,
    max(CASE WHEN event_type = 'purchase'
             AND epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 = $AbLastDay
             THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id)"""

  /** Calibration / reliability curve — the audit run on any score a
    * pipeline thresholds: the predictor is each user's activity SHARE
    * OF THE MOST ACTIVE user (p̂ = n_ev / max_ev — scale-invariant,
    * so the decile bins populate at every SF, and a RATIONAL with
    * denominator max_ev, so bin means are exact), the outcome is
    * q155's last-day conversion, and each decile bin reports
    * predicted vs observed with the calibration gap — what a
    * Platt/isotonic fix would consume.
    *
    * Shape for 100 TB: one partial-agged pass to per-user rows, a
    * 1-row broadcast max, one tiny groupBy(bin); nothing event-level
    * crosses twice. */
  def q156Calibration(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = perUserConversion(spark, sfDir)
    val mx = perUser.agg(max(col("n_ev")).as("max_ev"))
    perUser.crossJoin(broadcast(mx))
      .withColumn("bin", expr("least((n_ev * 10) div max_ev, 9)"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_users"),
        round(sum(col("n_ev")).cast("double") / (max(col("max_ev")) * count(lit(1))), 6)
          .as("mean_predicted"),
        round(sum(col("converted")).cast("double") / count(lit(1)), 6)
          .as("observed_rate"))
      .withColumn("calib_gap",
        round(col("observed_rate") - col("mean_predicted"), 6))
      .orderBy(col("bin"))
  }

  val q156Sql: String =
    s"""WITH $perUserCte,
      |mx AS (SELECT max(n_ev) AS max_ev FROM per_user),
      |binned AS (
      |  SELECT n_ev, converted, max_ev,
      |    least((n_ev * 10) // max_ev, 9) AS bin
      |  FROM per_user CROSS JOIN mx)
      |SELECT bin, count(*) AS n_users,
      |  round(CAST(sum(n_ev) AS DOUBLE) / (max(max_ev) * count(*)), 6) AS mean_predicted,
      |  round(CAST(sum(converted) AS DOUBLE) / count(*), 6) AS observed_rate,
      |  round(round(CAST(sum(converted) AS DOUBLE) / count(*), 6)
      |      - round(CAST(sum(n_ev) AS DOUBLE) / (max(max_ev) * count(*)), 6), 6) AS calib_gap
      |FROM binned GROUP BY bin
      |ORDER BY bin""".stripMargin

  // --------------------------------------------------------------- q161
  /** ROC AUC of the activity predictor — completes the evaluation
    * family: q155 tests whether arms differ, q156 asks whether the
    * score is CALIBRATED, this asks whether it DISCRIMINATES (does a
    * more-active user convert more often, regardless of scale?). Same
    * predictor (per-user event count) and outcome (q155's last-day
    * purchase flag) as q156, so the three rows read as one report.
    *
    * AUC is computed by the tie-aware Mann-Whitney identity on the
    * SCORE HISTOGRAM, never on per-user ranks: a global rank() over
    * all users is a single-partition sort at 100 TB, but
    * AUC = Σ_s pos_s·(cum_neg_<s + neg_s/2) / (P·N) needs only
    * groupBy(score) counts plus a cumulative window over the O(distinct
    * scores) histogram — and halves are exact in binary floating point,
    * so both engines agree bit-for-bit before the final division.
    *
    * Shape for 100 TB: one partial-agged groupBy(user), one
    * groupBy(score) re-aggregation, a window over O(scores) rows. */
  def q161Auc(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.auc(perUserConversion(spark, sfDir), col("n_ev"), col("converted"))
  }

  val q161Sql: String =
    s"""WITH $perUserCte,
      |hist AS (
      |  SELECT n_ev, CAST(sum(converted) AS BIGINT) AS pos,
      |    CAST(sum(1 - converted) AS BIGINT) AS neg
      |  FROM per_user GROUP BY n_ev),
      |cum AS (
      |  SELECT pos, neg, CAST(coalesce(sum(neg) OVER (ORDER BY n_ev
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cneg
      |  FROM hist)
      |SELECT CAST(sum(pos) AS BIGINT) AS n_pos, CAST(sum(neg) AS BIGINT) AS n_neg,
      |  count(*) AS n_scores,
      |  round(sum(pos * (cneg + neg / 2.0)) / (sum(pos) * sum(neg)), 6) AS auc
      |FROM cum""".stripMargin

  // --------------------------------------------------------------- q178
  /** RFM segmentation — the classic customer-base census (recency /
    * frequency / monetary quintile scores): per user, days since last
    * event, event count, and rounded value sum; each dimension scored
    * 1–5 against its own exact quintile thresholds; the report is the
    * (r, f, m) segment census with per-segment means. Dimensions are
    * put on the 1e-6 grid BEFORE thresholding and thresholds rounded
    * too, so the boundary comparisons are exact-grid equality in both
    * engines (q50's percentile ≡ quantile_cont identity).
    *
    * Shape for 100 TB: one partial-agged groupBy(user); thresholds
    * are ONE 12-value percentile aggregate broadcast back; the census
    * groupBy runs on ≤125 segment keys. */
  def q178Rfm(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(max(expr("ts div 86400000000000")).as("last_day"),
        count(lit(1)).as("freq"),
        asD(dsum(col("value"))).as("mon"))
    val maxDay = perUser.agg(max(col("last_day")).as("max_day"))
    val rfm = perUser.crossJoin(broadcast(maxDay))
      .select(col("user_id"), (col("max_day") - col("last_day")).as("rec"),
        col("freq"), col("mon"))
    val qs = array(lit(0.2), lit(0.4), lit(0.6), lit(0.8))
    val th = rfm.agg(percentile(col("rec"), qs).as("tr"),
      percentile(col("freq"), qs).as("tf"), percentile(col("mon"), qs).as("tm"))
    def score(x: Column, t: Column): Column =
      (1 to 4).map(i => when(x > round(t(i - 1), 6), 1).otherwise(0))
        .reduce(_ + _) + 1
    rfm.crossJoin(broadcast(th))
      .select(col("user_id"), col("rec"), col("freq"), col("mon"),
        score(col("rec").cast("double"), col("tr")).as("r_score"),
        score(col("freq").cast("double"), col("tf")).as("f_score"),
        score(col("mon"), col("tm")).as("m_score"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"),
        round(avg(col("rec")), 6).as("avg_recency"),
        round(avg(col("freq")), 6).as("avg_freq"),
        round(avg(col("mon")), 6).as("avg_monetary"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  val q178Sql: String =
    s"""WITH per_user AS (
      |  SELECT user_id,
      |    max(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS last_day,
      |    count(*) AS freq,
      |    round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS mon
      |  FROM events GROUP BY user_id),
      |rfm AS (
      |  SELECT user_id,
      |    (SELECT max(last_day) FROM per_user) - last_day AS rec, freq, mon
      |  FROM per_user),
      |th AS (
      |  SELECT quantile_cont(rec, [0.2, 0.4, 0.6, 0.8]) AS tr,
      |    quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS tf,
      |    quantile_cont(mon, [0.2, 0.4, 0.6, 0.8]) AS tm
      |  FROM rfm),
      |scored AS (
      |  SELECT user_id, rec, freq, mon,
      |    1 + (CASE WHEN rec > round(tr[1], 6) THEN 1 ELSE 0 END)
      |      + (CASE WHEN rec > round(tr[2], 6) THEN 1 ELSE 0 END)
      |      + (CASE WHEN rec > round(tr[3], 6) THEN 1 ELSE 0 END)
      |      + (CASE WHEN rec > round(tr[4], 6) THEN 1 ELSE 0 END) AS r_score,
      |    1 + (CASE WHEN freq > round(tf[1], 6) THEN 1 ELSE 0 END)
      |      + (CASE WHEN freq > round(tf[2], 6) THEN 1 ELSE 0 END)
      |      + (CASE WHEN freq > round(tf[3], 6) THEN 1 ELSE 0 END)
      |      + (CASE WHEN freq > round(tf[4], 6) THEN 1 ELSE 0 END) AS f_score,
      |    1 + (CASE WHEN mon > round(tm[1], 6) THEN 1 ELSE 0 END)
      |      + (CASE WHEN mon > round(tm[2], 6) THEN 1 ELSE 0 END)
      |      + (CASE WHEN mon > round(tm[3], 6) THEN 1 ELSE 0 END)
      |      + (CASE WHEN mon > round(tm[4], 6) THEN 1 ELSE 0 END) AS m_score
      |  FROM rfm CROSS JOIN th)
      |SELECT r_score, f_score, m_score, count(*) AS n_users,
      |  round(avg(rec), 6) AS avg_recency,
      |  round(avg(freq), 6) AS avg_freq,
      |  round(avg(mon), 6) AS avg_monetary
      |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------------- q182
  /** Touch channels (the fixture's non-purchase event types), pinned
    * like q51's pivot values so the report schema is static. */
  val MarkovChannels = Seq("click", "error", "signup", "view")
  /** Power-iteration budget for the absorbing-chain solve — far past
    * convergence for a ≤7-state chain; both engines run EXACTLY this
    * many rounds so they compare the same partial sums, not a
    * convergence race. */
  val MarkovIters = 24

  /** Markov removal-effect attribution — the data-driven upgrade of
    * q125's last-touch: user journeys (touches up to the first
    * purchase) become a first-order Markov chain over
    * START/channels/CONV/NULL; a channel's credit is how much the
    * chain's START→CONV probability DROPS when the channel is removed
    * (transitions into it re-routed to NULL — the standard removal
    * effect), normalized into shares. The absorbing-chain probability
    * is solved by [[MarkovIters]] unrolled power-iteration rounds.
    *
    * Shape for 100 TB: the corpus-scale work is journeys → transition
    * counts (two per-user windows + a groupBy(src, dst)); the chain
    * itself is O(channels²) — a bounded enum like q171's trace — so
    * the solve runs driver-side on the collected matrix and the
    * oracle replays every scenario's every round as CTEs. */
  def q182MarkovAttribution(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Markov.removalEffects(Tables.events(spark, sfDir),
      col("user_id"), col("ts"), col("event_id"), col("event_type"),
      convType = "purchase", channels = MarkovChannels, iters = MarkovIters)

  val q182Sql: String = {
    val scens = None +: MarkovChannels.map(Some(_))
    val sb = new StringBuilder
    sb ++= s"""WITH ev AS (
  SELECT user_id, event_id, event_type,
    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
  FROM events),
seqd AS (
  SELECT user_id, event_type,
    row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS seq
  FROM ev),
pur AS (SELECT user_id, min(seq) AS pseq FROM seqd
        WHERE event_type = 'purchase' GROUP BY user_id),
tch AS (
  SELECT s.user_id, s.event_type,
    row_number() OVER (PARTITION BY s.user_id ORDER BY s.seq) AS tord,
    lead(s.event_type) OVER (PARTITION BY s.user_id ORDER BY s.seq) AS nxt
  FROM seqd s LEFT JOIN pur p ON s.user_id = p.user_id
  WHERE s.event_type <> 'purchase' AND (p.pseq IS NULL OR s.seq < p.pseq)),
lab AS (
  SELECT u.user_id,
    CASE WHEN p.user_id IS NULL THEN '__null__' ELSE '__conv__' END AS lab
  FROM (SELECT DISTINCT user_id FROM seqd) u
  LEFT JOIN pur p ON u.user_id = p.user_id),
raw AS (
  SELECT '__start__' AS src, event_type AS dst FROM tch WHERE tord = 1
  UNION ALL
  SELECT event_type, nxt FROM tch WHERE nxt IS NOT NULL
  UNION ALL
  SELECT t.event_type, l.lab FROM tch t JOIN lab l ON t.user_id = l.user_id
  WHERE t.nxt IS NULL
  UNION ALL
  SELECT '__start__', l.lab FROM lab l
  LEFT JOIN (SELECT DISTINCT user_id FROM tch) x ON l.user_id = x.user_id
  WHERE x.user_id IS NULL),
trans AS MATERIALIZED (SELECT src, dst, count(*) AS cnt FROM raw GROUP BY src, dst),
"""
    scens.zipWithIndex.foreach { case (c, i) =>
      val redirect = c.map(ch => s"CASE WHEN dst = '$ch' THEN '__null__' ELSE dst END")
        .getOrElse("dst")
      val filt = c.map(ch => s"WHERE src <> '$ch'").getOrElse("")
      sb ++= s"""t_$i AS MATERIALIZED (SELECT src, $redirect AS dst, CAST(sum(cnt) AS DOUBLE) AS cnt
  FROM trans $filt GROUP BY 1, 2),
o_$i AS MATERIALIZED (SELECT src, sum(cnt) AS o FROM t_$i GROUP BY src),
s_$i AS MATERIALIZED (SELECT DISTINCT s FROM (SELECT src AS s FROM t_$i UNION ALL SELECT dst FROM t_$i)),
p_${i}_0 AS (SELECT s, CASE WHEN s = '__conv__' THEN 1.0 ELSE 0.0 END AS p FROM s_$i),
"""
      for (k <- 1 to MarkovIters) {
        sb ++= s"""p_${i}_$k AS MATERIALIZED (
  SELECT st.s, CASE WHEN st.s = '__conv__' THEN 1.0 WHEN st.s = '__null__' THEN 0.0
    ELSE coalesce((SELECT sum(t.cnt / o.o * pp.p)
      FROM t_$i t JOIN o_$i o ON o.src = t.src JOIN p_${i}_${k - 1} pp ON pp.s = t.dst
      WHERE t.src = st.s), 0.0) END AS p
  FROM s_$i st),
"""
      }
    }
    val resRows = MarkovChannels.zipWithIndex.map { case (ch, j) =>
      s"""  SELECT '$ch' AS channel,
    (SELECT p FROM p_0_$MarkovIters WHERE s = '__start__') AS rb,
    (SELECT p FROM p_${j + 1}_$MarkovIters WHERE s = '__start__') AS rr"""
    }.mkString("\n  UNION ALL\n")
    sb ++= s"""res AS (
$resRows),
tot AS (SELECT sum(rb - rr) AS te FROM res)
SELECT channel, round(rb, 6) AS base_pconv, round(rr, 6) AS removed_pconv,
  round(rb - rr, 6) AS removal_effect,
  round((rb - rr) / nullif((SELECT te FROM tot), 0), 6) AS share
FROM res ORDER BY channel"""
    sb.toString
  }

  // --------------------------------------------------------------- q185
  /** Distributed ordinary least squares — price ~ quantity + discount
    * over lineitem, the regression primitive an analytics engine must
    * run without collecting the data: ALL corpus-scale work is ONE
    * partial-agged pass accumulating the 10 second-order moments
    * (each per-row product rounded to the 1e-6 grid and summed as
    * DECIMAL(38,6), so both engines hold bit-identical moments); the
    * 3×3 normal equations then solve by Cramer's rule as scalar
    * expressions on the 1-row moment frame — identical formula text
    * in both engines, so the solve is deterministic too. Emits
    * coefficients, R² and RMSE.
    *
    * Shape for 100 TB: one scan, one 1-row aggregate, O(k³) scalar
    * math. The k-feature generalization keeps the same shape (k²
    * moments, driver-bounded solve). */
  def q185Ols(spark: SparkSession, sfDir: String): DataFrame =
    // spreadScan (r12): the whole query is one moment aggregate directly
    // over the scan — profiled 5.1 s of task time in 3 tasks at sf0.1
    // (single-row-group file), pure partial-agg compute that spreads to
    // every core for a ~0.2 s exchange of three projected columns.
    graft.operators.Glm.olsFit2(Tables.lineitem(spark, sfDir, spreadScan = true),
        col("l_quantity"), col("l_discount"), col("l_extendedprice"))
      .withColumnRenamed("b_x1", "b_quantity")
      .withColumnRenamed("b_x2", "b_discount")

  /** Formula text shared with the oracle; lives in operators.Glm. */
  private def OlsExprs = graft.operators.Glm.OlsExprs

  val q185Sql: String =
    s"""WITH m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(CAST(round(l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx1,
      |    CAST(sum(CAST(round(l_discount, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx2,
      |    CAST(sum(CAST(round(l_extendedprice, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(round(l_quantity * l_quantity, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx11,
      |    CAST(sum(CAST(round(l_quantity * l_discount, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx12,
      |    CAST(sum(CAST(round(l_discount * l_discount, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx22,
      |    CAST(sum(CAST(round(l_quantity * l_extendedprice, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx1y,
      |    CAST(sum(CAST(round(l_discount * l_extendedprice, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx2y,
      |    CAST(sum(CAST(round(l_extendedprice * l_extendedprice, 6) AS DECIMAL(38,6))) AS DOUBLE) AS syy
      |  FROM lineitem),
      |b AS (
      |  SELECT n, sy, sx1y, sx2y, syy,
      |    ${OlsExprs("b0")} AS b0_raw,
      |    ${OlsExprs("b1")} AS b1_raw,
      |    ${OlsExprs("b2")} AS b2_raw
      |  FROM m)
      |SELECT CAST(n AS BIGINT) AS n_rows,
      |  round(b0_raw, 6) AS intercept,
      |  round(b1_raw, 6) AS b_quantity,
      |  round(b2_raw, 6) AS b_discount,
      |  round(1.0 - (syy - b0_raw * sy - b1_raw * sx1y - b2_raw * sx2y)
      |    / (syy - sy * sy / n), 6) AS r2,
      |  round(sqrt((syy - b0_raw * sy - b1_raw * sx1y - b2_raw * sx2y) / n), 6) AS rmse
      |FROM b""".stripMargin

  // --------------------------------------------------------------- q186
  /** IRLS round budget for the logistic fit. */
  val LogregIters = 3

  /** Per-user (activity, converted) training frame shared by the
    * q186/q187/q188 model rows — q155's outcome over q156's
    * predictor. */
  private def labeledUsers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("double").as("x"),
        max(when(col("event_type") === "purchase" &&
          expr("ts div 86400000000000") === AbLastDay, 1.0).otherwise(0.0))
          .as("y"))

  private def labeledUsersSql: String =
    s"""per_user AS MATERIALIZED (
       |  SELECT user_id, CAST(count(*) AS DOUBLE) AS x,
       |    max(CASE WHEN event_type = 'purchase'
       |             AND epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 = $AbLastDay
       |             THEN 1.0 ELSE 0.0 END) AS y
       |  FROM events GROUP BY user_id)""".stripMargin

  /** Distributed logistic regression (conversion ~ activity) by
    * [[LogregIters]] IRLS/Newton rounds — the GLM primitive beside
    * q185's OLS: each round is ONE partial-agged pass accumulating the
    * five weighted working-response moments (per-row terms on the
    * 1e-6 grid, DECIMAL(38,6) sums — bit-identical in both engines),
    * and the 2×2 weighted normal equations solve as scalar expressions
    * with formula text shared verbatim with the oracle. The
    * coefficient state rides a 1-row broadcast frame — no driver
    * round-trip inside the loop. Emits coefficients, mean log-loss and
    * 0.5-threshold accuracy from one final scoring pass.
    *
    * Shape for 100 TB: iters+1 scans, each a map-side expression +
    * 1-row aggregate; nothing else. */
  def q186Logreg(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Glm.logregFit(labeledUsers(spark, sfDir),
        col("x"), col("y"), LogregIters)
      .withColumnRenamed("n_rows", "n_users")
      .withColumnRenamed("b_x", "b_activity")

  /** Shared with the oracle; lives in operators.Glm. */
  private def LogregB1 = graft.operators.Glm.LogregB1

  val q186Sql: String = {
    val sb = new StringBuilder
    sb ++= s"WITH $labeledUsersSql,\nc0 AS (SELECT 0.0 AS b0, 0.0 AS b1),\n"
    for (k <- 1 to LogregIters) {
      val p = s"(1.0 / (1.0 + exp(-(c.b0 + c.b1 * u.x))))"
      val w = s"($p * (1.0 - $p))"
      val z = s"((c.b0 + c.b1 * u.x) + (u.y - $p) / $w)"
      sb ++= s"""m$k AS (
  SELECT CAST(sum(${Sql.grid6(w)}) AS DOUBLE) AS sw,
    CAST(sum(${Sql.grid6(s"$w * u.x")}) AS DOUBLE) AS swx,
    CAST(sum(${Sql.grid6(s"$w * u.x * u.x")}) AS DOUBLE) AS swxx,
    CAST(sum(${Sql.grid6(s"$w * $z")}) AS DOUBLE) AS swz,
    CAST(sum(${Sql.grid6(s"$w * u.x * $z")}) AS DOUBLE) AS swxz
  FROM per_user u CROSS JOIN c${k - 1} c),
c$k AS (SELECT (swz - ($LogregB1) * swx) / sw AS b0, $LogregB1 AS b1 FROM m$k),
"""
    }
    val p = s"(1.0 / (1.0 + exp(-(c.b0 + c.b1 * u.x))))"
    sb ++= s"""fin AS (
  SELECT count(*) AS n_users, max(c.b0) AS b0r, max(c.b1) AS b1r,
    CAST(sum(${Sql.grid6(s"-(u.y * ln($p) + (1.0 - u.y) * ln(1.0 - $p))")}) AS DOUBLE) AS llsum,
    CAST(sum(CASE WHEN ($p >= 0.5) = (u.y = 1.0) THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM per_user u CROSS JOIN c$LogregIters c)
SELECT n_users, round(b0r, 6) AS intercept, round(b1r, 6) AS b_activity,
  round(llsum / n_users, 6) AS mean_logloss,
  round(CAST(hits AS DOUBLE) / n_users, 6) AS accuracy
FROM fin"""
    sb.toString
  }

  // --------------------------------------------------------------- q187
  /** Decision-stump split finder — the inner loop of tree/GBDT
    * training run as a distributed operator: over the (activity,
    * converted) frame, evaluate EVERY candidate threshold's weighted
    * Gini gain from the score histogram's cumulative sums (q161's
    * pattern — a window over O(distinct scores) rows, never a per-row
    * sort) and emit the best split with both leaves' statistics.
    * Ties on gain break toward the smaller threshold; all inputs are
    * integer counts so the gain arithmetic is exact-rational in both
    * engines.
    *
    * Shape for 100 TB: one partial-agged groupBy(user), one
    * groupBy(score) histogram, a tiny cumulative window, a 1-row
    * TakeOrdered. */
  def q187Stump(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = labeledUsers(spark, sfDir)
      .groupBy(col("x")).agg(sum(col("y")).cast("long").as("pos"),
        count(lit(1)).as("n"))
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.agg(sum(col("n")).as("nt"), sum(col("pos")).as("pt"))
    val cum = hist
      .withColumn("nl", sum(col("n")).over(w))
      .withColumn("pl", sum(col("pos")).over(w))
      .crossJoin(broadcast(tot))
      .filter(col("nl") < col("nt")) // a split must leave both sides non-empty
    def gini(p: Column, n: Column): Column =
      lit(2.0) * (p.cast("double") / n) * (lit(1.0) - p.cast("double") / n)
    val gainCol = gini(col("pt"), col("nt")) -
      (col("nl").cast("double") / col("nt")) * gini(col("pl"), col("nl")) -
      ((col("nt") - col("nl")).cast("double") / col("nt")) *
        gini(col("pt") - col("pl"), col("nt") - col("nl"))
    cum.select(col("x").as("split_x"), col("nl").as("n_left"),
        (col("nt") - col("nl")).as("n_right"), col("pl").as("pos_left"),
        (col("pt") - col("pl")).as("pos_right"),
        round(gainCol, 6).as("gini_gain"),
        round(col("pl").cast("double") / col("nl"), 6).as("rate_left"),
        round((col("pt") - col("pl")).cast("double") / (col("nt") - col("nl")), 6)
          .as("rate_right"))
      .orderBy(col("gini_gain").desc, col("split_x")).limit(1)
  }

  val q187Sql: String =
    s"""WITH $labeledUsersSql,
      |hist AS (
      |  SELECT x, CAST(sum(y) AS BIGINT) AS pos, count(*) AS n
      |  FROM per_user GROUP BY x),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(pos) AS BIGINT) AS pt FROM hist),
      |cum AS (
      |  SELECT x, CAST(sum(n) OVER win AS BIGINT) AS nl,
      |    CAST(sum(pos) OVER win AS BIGINT) AS pl, nt, pt
      |  FROM hist CROSS JOIN tot
      |  WINDOW win AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT x AS split_x, nl AS n_left, nt - nl AS n_right,
      |  pl AS pos_left, pt - pl AS pos_right,
      |  round((2.0 * (CAST(pt AS DOUBLE) / nt) * (1.0 - CAST(pt AS DOUBLE) / nt))
      |    - (CAST(nl AS DOUBLE) / nt) * (2.0 * (CAST(pl AS DOUBLE) / nl) * (1.0 - CAST(pl AS DOUBLE) / nl))
      |    - (CAST(nt - nl AS DOUBLE) / nt) * (2.0 * (CAST(pt - pl AS DOUBLE) / (nt - nl)) * (1.0 - CAST(pt - pl AS DOUBLE) / (nt - nl))), 6) AS gini_gain,
      |  round(CAST(pl AS DOUBLE) / nl, 6) AS rate_left,
      |  round(CAST(pt - pl AS DOUBLE) / (nt - nl), 6) AS rate_right
      |FROM cum WHERE nl < nt
      |ORDER BY gini_gain DESC, split_x LIMIT 1""".stripMargin

  // --------------------------------------------------------------- q235
  /** Two AdaBoost rounds of decision stumps — the BOOSTING loop q187's
    * single split feeds (GBDT/AdaBoost training as a distributed
    * operator): round 1 fits the best weighted stump (threshold ×
    * polarity) on uniform weights; misclassified (x, y) cells are
    * up-weighted by e^α (α = ½·ln((1−ε)/ε), round(,12)-gridded) and
    * round 2 refits on the reweighted histogram; each round reports
    * its stump, weighted error, α and the ENSEMBLE's training
    * accuracy so far. The key scale move: weights depend only on the
    * (x, y) CELL, so every round operates on the same O(distinct x)
    * histogram — the corpus is scanned exactly once, k rounds cost
    * O(k · distinct x) arithmetic, zero extra passes.
    *
    * Determinism: round-1 errors are exact integer ratios; round-2
    * weights are n·round(e^±α, 12) products gridded to 1e-6 DECIMAL
    * at aggregation; the argmin orders by (err, x, polarity). */
  def q235BoostRound(spark: SparkSession, sfDir: String): DataFrame = {
    // O(distinct x); feeds both rounds + the acc pass
    val hist = graft.Checkpoints.materialize(labeledUsers(spark, sfDir)
      .groupBy(col("x"))
      .agg(sum(col("y")).cast("long").as("np"),
        (count(lit(1)) - sum(col("y")).cast("long")).as("nn")))
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    /** Best (threshold, polarity) of a weighted histogram
      * (x, wp2, wn2 as 6dp-gridded decimals). */
    def fitStump(wh: DataFrame): DataFrame = {
      val tot = wh.agg(sum(col("wp2")).cast("double").as("wp"),
        sum(col("wn2")).cast("double").as("wn"), max(col("x")).as("mx"))
      val cum = wh
        .withColumn("wpl", sum(col("wp2")).over(w).cast("double"))
        .withColumn("wnl", sum(col("wn2")).over(w).cast("double"))
        .crossJoin(broadcast(tot))
        .filter(col("x") < col("mx"))
      val gt = cum.select(col("x"),
        ((col("wpl") + col("wn") - col("wnl")) / (col("wp") + col("wn")))
          .as("err"), lit("gt").as("pol"))
      val le = cum.select(col("x"),
        ((col("wnl") + col("wp") - col("wpl")) / (col("wp") + col("wn")))
          .as("err"), lit("le").as("pol"))
      gt.unionAll(le).orderBy(col("err"), col("x"), col("pol")).limit(1)
        .select(col("x").as("thr"), col("pol"), col("err"),
          round(lit(0.5) * log((lit(1.0) - col("err")) / col("err")), 12)
            .as("alpha"))
    }

    /** h(x) ∈ {0,1} under stump (thr, pol). */
    def pred(x: Column, thr: Column, pol: Column): Column =
      when(pol === "gt", when(x > thr, 1).otherwise(0))
        .otherwise(when(x <= thr, 1).otherwise(0))

    val s1 = fitStump(hist.select(col("x"), grid6(col("np").cast("double")).as("wp2"),
      grid6(col("nn").cast("double")).as("wn2")))
    val h2 = hist.crossJoin(broadcast(s1)).select(col("x"),
      grid6(col("np").cast("double")
        * round(exp(when(pred(col("x"), col("thr"), col("pol")) === 1,
            -col("alpha")).otherwise(col("alpha"))), 12)).as("wp2"),
      grid6(col("nn").cast("double")
        * round(exp(when(pred(col("x"), col("thr"), col("pol")) === 0,
            -col("alpha")).otherwise(col("alpha"))), 12)).as("wn2"))
    val s2 = fitStump(h2)
    val acc = hist
      .crossJoin(broadcast(s1.select(col("thr").as("t1"), col("pol").as("p1"),
        col("alpha").as("a1"))))
      .crossJoin(broadcast(s2.select(col("thr").as("t2"), col("pol").as("p2"),
        col("alpha").as("a2"))))
      .agg(
        (sum(when(pred(col("x"), col("t1"), col("p1")) === 1, col("np"))
          .otherwise(col("nn"))).cast("double")
          / sum(col("np") + col("nn"))).as("acc1"),
        (sum(when(col("a1") * (pred(col("x"), col("t1"), col("p1")) * 2 - 1)
            + col("a2") * (pred(col("x"), col("t2"), col("p2")) * 2 - 1) > 0,
            col("np")).otherwise(col("nn"))).cast("double")
          / sum(col("np") + col("nn"))).as("acc2"))
    val r1 = s1.crossJoin(broadcast(acc))
      .select(lit(1L).as("round"), col("thr").as("split_x"),
        col("pol").as("polarity"), round(col("err"), 6).as("err"),
        round(col("alpha"), 6).as("alpha"), round(col("acc1"), 6).as("train_acc"))
    val r2 = s2.crossJoin(broadcast(acc))
      .select(lit(2L).as("round"), col("thr").as("split_x"),
        col("pol").as("polarity"), round(col("err"), 6).as("err"),
        round(col("alpha"), 6).as("alpha"), round(col("acc2"), 6).as("train_acc"))
    r1.unionAll(r2).orderBy(col("round"))
  }

  val q235Sql: String = {
    def predSql(x: String, s: String) =
      s"(CASE WHEN $s.pol = 'gt' THEN (CASE WHEN $x > $s.thr THEN 1 ELSE 0 END)" +
        s" ELSE (CASE WHEN $x <= $s.thr THEN 1 ELSE 0 END) END)"
    def fit(src: String, out: String) =
      s"""tot_$out AS (SELECT CAST(sum(wp2) AS DOUBLE) AS wp, CAST(sum(wn2) AS DOUBLE) AS wn, max(x) AS mx FROM $src),
cum_$out AS (
  SELECT x, CAST(sum(wp2) OVER win AS DOUBLE) AS wpl,
    CAST(sum(wn2) OVER win AS DOUBLE) AS wnl, wp, wn
  FROM $src CROSS JOIN tot_$out
  WHERE 1 = 1
  WINDOW win AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
$out AS (
  SELECT x AS thr, pol, err,
    round(0.5 * ln((1.0 - err) / err), 12) AS alpha FROM (
    SELECT x, (wpl + wn - wnl) / (wp + wn) AS err, 'gt' AS pol
    FROM cum_$out WHERE x < (SELECT mx FROM tot_$out)
    UNION ALL
    SELECT x, (wnl + wp - wpl) / (wp + wn) AS err, 'le' AS pol
    FROM cum_$out WHERE x < (SELECT mx FROM tot_$out))
  ORDER BY err, x, pol LIMIT 1)"""
    s"""WITH $labeledUsersSql,
hist AS MATERIALIZED (
  SELECT x, CAST(sum(y) AS BIGINT) AS np, CAST(count(*) - sum(y) AS BIGINT) AS nn
  FROM per_user GROUP BY x),
w1 AS (SELECT x, ${Sql.grid6("CAST(np AS DOUBLE)")} AS wp2, ${Sql.grid6("CAST(nn AS DOUBLE)")} AS wn2 FROM hist),
${fit("w1", "s1")},
w2 AS (
  SELECT h.x,
    ${Sql.grid6(s"CAST(h.np AS DOUBLE) * round(exp(CASE WHEN ${predSql("h.x", "s")} = 1 THEN -s.alpha ELSE s.alpha END), 12)")} AS wp2,
    ${Sql.grid6(s"CAST(h.nn AS DOUBLE) * round(exp(CASE WHEN ${predSql("h.x", "s")} = 0 THEN -s.alpha ELSE s.alpha END), 12)")} AS wn2
  FROM hist h CROSS JOIN s1 s),
${fit("w2", "s2")},
acc AS (
  SELECT
    CAST(sum(CASE WHEN ${predSql("h.x", "s1")} = 1 THEN h.np ELSE h.nn END) AS DOUBLE)
      / sum(h.np + h.nn) AS acc1,
    CAST(sum(CASE WHEN s1.alpha * (2 * ${predSql("h.x", "s1")} - 1)
        + s2.alpha * (2 * ${predSql("h.x", "s2")} - 1) > 0
        THEN h.np ELSE h.nn END) AS DOUBLE) / sum(h.np + h.nn) AS acc2
  FROM hist h CROSS JOIN s1 CROSS JOIN s2)
SELECT 1 AS round, thr AS split_x, pol AS polarity, round(err, 6) AS err,
  round(alpha, 6) AS alpha, round(acc1, 6) AS train_acc
FROM s1 CROSS JOIN acc
UNION ALL
SELECT 2, thr, pol, round(err, 6), round(alpha, 6), round(acc2, 6)
FROM s2 CROSS JOIN acc
ORDER BY round"""
  }

  // --------------------------------------------------------------- q188
  /** Precision-recall sweep — the threshold-tuning curve for the
    * activity predictor (predict positive when x > t): one row per
    * candidate threshold with tp/fp/fn, precision, recall and F1, all
    * from the score histogram's from-the-top cumulative sums (exact
    * integers; q161's no-global-sort shape). The consumer picks an
    * operating point (max F1, precision floor, …) from the curve —
    * the spec asserts the max-F1 point as the canonical read. */
  def q188PrCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = labeledUsers(spark, sfDir)
      .groupBy(col("x")).agg(sum(col("y")).cast("long").as("pos"),
        count(lit(1)).as("n"))
    val above = Window.orderBy(col("x"))
      .rowsBetween(1, Window.unboundedFollowing)
    val tot = hist.agg(sum(col("pos")).as("pt"))
    hist
      .withColumn("tp", coalesce(sum(col("pos")).over(above), lit(0L)))
      .withColumn("pp", coalesce(sum(col("n")).over(above), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("x").as("threshold"), col("tp"),
        (col("pp") - col("tp")).as("fp"), (col("pt") - col("tp")).as("fn"),
        when(col("pp") > 0, round(col("tp").cast("double") / col("pp"), 6))
          .as("precision"),
        round(col("tp").cast("double") / col("pt"), 6).as("recall"),
        when(col("tp") > 0, round(
          lit(2.0) * col("tp") / (lit(2.0) * col("tp") + (col("pp") - col("tp"))
            + (col("pt") - col("tp"))), 6)).otherwise(0.0).as("f1"))
      .orderBy(col("threshold"))
  }

  val q188Sql: String =
    s"""WITH $labeledUsersSql,
      |hist AS (
      |  SELECT x, CAST(sum(y) AS BIGINT) AS pos, count(*) AS n
      |  FROM per_user GROUP BY x),
      |tot AS (SELECT CAST(sum(pos) AS BIGINT) AS pt FROM hist),
      |cum AS (
      |  SELECT x, CAST(coalesce(sum(pos) OVER above, 0) AS BIGINT) AS tp,
      |    CAST(coalesce(sum(n) OVER above, 0) AS BIGINT) AS pp, pt
      |  FROM hist CROSS JOIN tot
      |  WINDOW above AS (ORDER BY x ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
      |SELECT x AS threshold, tp, pp - tp AS fp, pt - tp AS fn,
      |  (CASE WHEN pp > 0 THEN round(CAST(tp AS DOUBLE) / pp, 6) END) AS precision,
      |  round(CAST(tp AS DOUBLE) / pt, 6) AS recall,
      |  (CASE WHEN tp > 0
      |        THEN round(2.0 * tp / (2.0 * tp + (pp - tp) + (pt - tp)), 6)
      |        ELSE 0.0 END) AS f1
      |FROM cum ORDER BY threshold""".stripMargin

  // --------------------------------------------------------------- q189
  /** ALS geometry: rank-2 factors, ridge λ, deterministic hash init. */
  val AlsLambda = 0.1
  val AlsSeedA = 11
  val AlsSeedB = 12

  /** ALS matrix-factorization sweep — one full alternating round of
    * the classic recommender factorization (Koren et al.; Spark's own
    * mllib ALS is this loop at rank 10–200) over the (customer, part,
    * quantity) interaction matrix, rank 2: with item factors fixed,
    * every user's ridge normal equations solve in CLOSED FORM (2×2
    * Cramer as expressions — per-row outer-product terms on the 1e-6
    * grid, DECIMAL sums per user, formula text shared verbatim with
    * the oracle); then the symmetric item update against the new user
    * factors; finally the fit report (n, entities, RMSE after the
    * user half-step and after the full sweep).
    *
    * Shape for 100 TB: two shuffle-on-key aggregations (by user, then
    * by item) and two scoring joins — exactly the data movement one
    * distributed ALS round costs; factors are (entity, f1, f2) rows,
    * never a dense matrix. */
  def q189AlsSweep(spark: SparkSession, sfDir: String): DataFrame = {
    def asDbl(c: Column) = c.cast("double")
    val inter = graft.Checkpoints.cache(
      Tables.lineitem(spark, sfDir, spreadScan = true)
        .join(Tables.orders(spark, sfDir, spreadScan = true),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("i"),
          col("l_quantity").as("r")))
    def initF(id: Column, seed: Int): Column =
      lit(0.5) + pmod(graft.functions.MathFunctions.universalHash(id, seed),
        lit(1000L)).cast("double") / 2000.0
    val vi = inter.select(col("i")).distinct()
      .select(col("i"), initF(col("i"), AlsSeedA).as("f1"),
        initF(col("i"), AlsSeedB).as("f2"))
    // half-step 1: users from fixed items
    def solveSide(joined: DataFrame, key: String): DataFrame =
      joined
        .groupBy(col(key))
        .agg(sum(grid6(col("f1") * col("f1"))).as("a11d"),
          sum(grid6(col("f1") * col("f2"))).as("a12d"),
          sum(grid6(col("f2") * col("f2"))).as("a22d"),
          sum(grid6(col("r") * col("f1"))).as("b1d"),
          sum(grid6(col("r") * col("f2"))).as("b2d"))
        .select(col(key), asDbl(col("a11d")).as("a11"),
          asDbl(col("a12d")).as("a12"), asDbl(col("a22d")).as("a22"),
          asDbl(col("b1d")).as("b1"), asDbl(col("b2d")).as("b2"))
        .select(col(key), expr(AlsF1).as("f1"), expr(AlsF2).as("f2"))
    val uf = graft.Checkpoints.cache(solveSide(inter.join(vi, "i"), "u"))
    // half-step 2: items from the new users
    val vf = graft.Checkpoints.cache(solveSide(
      inter.join(uf.select(col("u"), col("f1"), col("f2")), "u"), "i"))
    val half = inter
      .join(uf.select(col("u"), col("f1").as("uf1"), col("f2").as("uf2")), "u")
      .join(vi.select(col("i"), col("f1").as("if1"), col("f2").as("if2")), "i")
      .agg(sum(grid6((col("r") - (col("uf1") * col("if1") + col("uf2") * col("if2")))
        * (col("r") - (col("uf1") * col("if1") + col("uf2") * col("if2")))))
        .cast("double").as("se_half"), count(lit(1)).as("n1"))
    val full = inter
      .join(uf.select(col("u"), col("f1").as("uf1"), col("f2").as("uf2")), "u")
      .join(vf.select(col("i"), col("f1").as("if1"), col("f2").as("if2")), "i")
      .agg(sum(grid6((col("r") - (col("uf1") * col("if1") + col("uf2") * col("if2")))
        * (col("r") - (col("uf1") * col("if1") + col("uf2") * col("if2")))))
        .cast("double").as("se_full"), count(lit(1)).as("n2"))
    val cnts = inter.agg(count(lit(1)).as("n_interactions"),
      countDistinct(col("u")).as("n_users"), countDistinct(col("i")).as("n_items"))
    cnts.crossJoin(half).crossJoin(full)
      .select(col("n_interactions"), col("n_users"), col("n_items"),
        round(sqrt(col("se_half") / col("n1")), 6).as("rmse_half"),
        round(sqrt(col("se_full") / col("n2")), 6).as("rmse_full"))
  }

  /** Ridge 2×2 closed form, shared verbatim with the oracle:
    * (λI + A) f = b. */
  private val AlsDet =
    s"((${AlsLambda} + a11) * (${AlsLambda} + a22) - a12 * a12)"
  private val AlsF1 = s"((${AlsLambda} + a22) * b1 - a12 * b2) / $AlsDet"
  private val AlsF2 = s"((${AlsLambda} + a11) * b2 - a12 * b1) / $AlsDet"

  val q189Sql: String = {
    def initF(id: String, seed: Int) =
      s"(0.5 + CAST(${Sql.universalHash(id, seed)} % 1000 AS DOUBLE) / 2000.0)"
    def solve(src: String, key: String) =
      s"""SELECT $key,
  ($AlsF1) AS f1, ($AlsF2) AS f2 FROM (
  SELECT $key,
    CAST(sum(${Sql.grid6("f1 * f1")}) AS DOUBLE) AS a11,
    CAST(sum(${Sql.grid6("f1 * f2")}) AS DOUBLE) AS a12,
    CAST(sum(${Sql.grid6("f2 * f2")}) AS DOUBLE) AS a22,
    CAST(sum(${Sql.grid6("r * f1")}) AS DOUBLE) AS b1,
    CAST(sum(${Sql.grid6("r * f2")}) AS DOUBLE) AS b2
  FROM $src GROUP BY $key)"""
    s"""WITH inter AS MATERIALIZED (
  SELECT o.o_custkey AS u, l.l_partkey AS i, l.l_quantity AS r
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
vi AS MATERIALIZED (
  SELECT i, ${initF("i", AlsSeedA)} AS f1, ${initF("i", AlsSeedB)} AS f2
  FROM (SELECT DISTINCT i FROM inter)),
uf AS MATERIALIZED (
  ${solve("(SELECT t.u, t.r, v.f1, v.f2 FROM inter t JOIN vi v ON t.i = v.i)", "u")}),
vf AS MATERIALIZED (
  ${solve("(SELECT t.i, t.r, x.f1, x.f2 FROM inter t JOIN uf x ON t.u = x.u)", "i")}),
half AS (
  SELECT CAST(sum(${Sql.grid6("(t.r - (x.f1 * v.f1 + x.f2 * v.f2)) * (t.r - (x.f1 * v.f1 + x.f2 * v.f2))")}) AS DOUBLE) AS se, count(*) AS n
  FROM inter t JOIN uf x ON t.u = x.u JOIN vi v ON t.i = v.i),
me AS (
  SELECT CAST(sum(${Sql.grid6("(t.r - (x.f1 * v.f1 + x.f2 * v.f2)) * (t.r - (x.f1 * v.f1 + x.f2 * v.f2))")}) AS DOUBLE) AS se, count(*) AS n
  FROM inter t JOIN uf x ON t.u = x.u JOIN vf v ON t.i = v.i),
cnts AS (
  SELECT count(*) AS n_interactions, count(DISTINCT u) AS n_users,
    count(DISTINCT i) AS n_items FROM inter)
SELECT c.n_interactions, c.n_users, c.n_items,
  round(sqrt(h.se / h.n), 6) AS rmse_half,
  round(sqrt(m.se / m.n), 6) AS rmse_full
FROM cnts c CROSS JOIN half h CROSS JOIN me m""".stripMargin
  }

  // --------------------------------------------------------------- q192
  /** PSI smoothing pseudo-count (per bin per period, kills ln(0)). */
  val PsiSmooth = 0.5

  /** Population stability index — THE model-monitoring drift metric
    * (banking/ML-ops standard): the per-user activity feature is
    * binned by the FIRST period's deciles (the trained reference), the
    * second period's population is scored against those frozen bins,
    * and PSI = Σ (p−q)·ln(p/q) with [[PsiSmooth]] pseudo-counts.
    * PSI < 0.1 is calm, 0.1–0.25 drifting, > 0.25 retrain. q82 tracks
    * token-distribution KL per source; this is its numeric-feature,
    * frozen-reference sibling. The time split is the day-range
    * midpoint — a pure function of the data both engines compute.
    *
    * Shape for 100 TB: one partial-agged groupBy(user, period), one
    * 9-value percentile aggregate broadcast back (q178's identity),
    * per-bin census over 10 keys. */
  def q192Psi(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
    val split = ev.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val perUser = ev.crossJoin(broadcast(split))
      .select(col("user_id"), when(col("day") < col("mid"), "a").otherwise("b")
        .as("period"))
      .groupBy(col("user_id"), col("period"))
      .agg(count(lit(1)).cast("double").as("x"))
    val qs = array((1 to 9).map(i => lit(i / 10.0)): _*)
    val th = perUser.filter(col("period") === "a")
      .agg(percentile(col("x"), qs).as("t"))
    val binned = perUser.crossJoin(broadcast(th))
      .withColumn("bin",
        (1 to 9).map(i => when(col("x") > round(col("t")(i - 1), 6), 1)
          .otherwise(0)).reduce(_ + _) + 1)
    val census = binned.groupBy(col("bin"))
      .agg(sum(when(col("period") === "a", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("period") === "b", 1L).otherwise(0L)).as("n_b"))
    val tot = census.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"),
      count(lit(1)).as("nb"))
    val p = (col("n_a") + PsiSmooth) / (col("ta") + lit(PsiSmooth) * col("nb"))
    val q = (col("n_b") + PsiSmooth) / (col("tb") + lit(PsiSmooth) * col("nb"))
    val term = (p - q) * log(p / q)
    val terms = census.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_a"), col("n_b"), round(term, 6).as("psi_term"))
    val psi = terms.agg(round(sum(col("psi_term")), 6).as("psi"))
    terms.crossJoin(broadcast(psi))
      .select(col("bin"), col("n_a"), col("n_b"), col("psi_term"), col("psi"))
      .orderBy(col("bin"))
  }

  val q192Sql: String =
    s"""WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events),
      |split AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev),
      |per_user AS (
      |  SELECT user_id,
      |    CASE WHEN day < (SELECT mid FROM split) THEN 'a' ELSE 'b' END AS period,
      |    CAST(count(*) AS DOUBLE) AS x
      |  FROM ev GROUP BY 1, 2),
      |th AS (
      |  SELECT quantile_cont(x, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS t
      |  FROM per_user WHERE period = 'a'),
      |binned AS (
      |  SELECT period,
      |    1 + (CASE WHEN x > round(t[1], 6) THEN 1 ELSE 0 END)
      |      + (CASE WHEN x > round(t[2], 6) THEN 1 ELSE 0 END)
      |      + (CASE WHEN x > round(t[3], 6) THEN 1 ELSE 0 END)
      |      + (CASE WHEN x > round(t[4], 6) THEN 1 ELSE 0 END)
      |      + (CASE WHEN x > round(t[5], 6) THEN 1 ELSE 0 END)
      |      + (CASE WHEN x > round(t[6], 6) THEN 1 ELSE 0 END)
      |      + (CASE WHEN x > round(t[7], 6) THEN 1 ELSE 0 END)
      |      + (CASE WHEN x > round(t[8], 6) THEN 1 ELSE 0 END)
      |      + (CASE WHEN x > round(t[9], 6) THEN 1 ELSE 0 END) AS bin
      |  FROM per_user CROSS JOIN th),
      |census AS (
      |  SELECT bin,
      |    CAST(sum(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM binned GROUP BY bin),
      |tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb,
      |  count(*) AS nb FROM census),
      |terms AS (
      |  SELECT bin, n_a, n_b,
      |    round(((n_a + $PsiSmooth) / (ta + $PsiSmooth * nb)
      |      - (n_b + $PsiSmooth) / (tb + $PsiSmooth * nb))
      |      * ln(((n_a + $PsiSmooth) / (ta + $PsiSmooth * nb))
      |        / ((n_b + $PsiSmooth) / (tb + $PsiSmooth * nb))), 6) AS psi_term
      |  FROM census CROSS JOIN tot),
      |psi AS (SELECT round(sum(psi_term), 6) AS psi FROM terms)
      |SELECT bin, n_a, n_b, psi_term, (SELECT psi FROM psi) AS psi
      |FROM terms ORDER BY bin""".stripMargin

  /** k for the cross-validation fold split. */
  val CvFolds = 5

  // --------------------------------------------------------------- q237
  /** k-fold cross-validation of the orders regression (spend ~
    * n_orders) by LEAVE-ONE-FOLD-OUT SUBTRACTION — the evaluation
    * loop that tells you whether q185-style coefficients generalize,
    * run WITHOUT k training passes: per-customer (x, y) rows are
    * hash-assigned to folds, each fold's 1e-6-gridded moment partials
    * (n, Σx, Σy, Σx², Σxy) aggregate ONCE, and fold f's training
    * moments are total − fold_f — exact DECIMAL subtraction, so
    * fitting k models costs one corpus pass + O(k) arithmetic. Each
    * fold reports its held-out RMSE from the one scoring join.
    *
    * Shape for 100 TB: one groupBy(customer) partial-agg, one O(k)
    * frame, one broadcast-coefficients scoring pass — k plays no role
    * in data movement. */
  def q237CvFolds(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 6)
    val cust0 = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).cast("double").as("x"),
        sum(col("o_totalprice").cast(dec)).cast("double").as("y"))
      .select(col("x"), col("y"),
        pmod(MF.hash32(concat(lit("cv:"), col("o_custkey").cast("string"))),
          lit(CvFolds)).as("fold"))
    val custCk = graft.Checkpoints.materialize(cust0) // feeds the moment pass AND the scoring join
    val fm = custCk.groupBy(col("fold"))
      .agg(count(lit(1)).as("n"), sum(grid6(col("x"))).as("sx"),
        sum(grid6(col("y"))).as("sy"), sum(grid6(col("x") * col("x"))).as("sxx"),
        sum(grid6(col("x") * col("y"))).as("sxy"))
    val tot = fm.agg(sum(col("n")).as("tn"), sum(col("sx")).as("tsx"),
      sum(col("sy")).as("tsy"), sum(col("sxx")).as("tsxx"),
      sum(col("sxy")).as("tsxy"))
    val beta = fm.crossJoin(broadcast(tot))
      .select(col("fold"), (col("tn") - col("n")).as("n_train"),
        (col("tsx") - col("sx")).cast("double").as("sx"),
        (col("tsy") - col("sy")).cast("double").as("sy"),
        (col("tsxx") - col("sxx")).cast("double").as("sxx"),
        (col("tsxy") - col("sxy")).cast("double").as("sxy"))
      .select(col("fold"), col("n_train"),
        expr("(n_train * sxy - sx * sy) / (n_train * sxx - sx * sx)").as("b1"),
        expr("(sy - (n_train * sxy - sx * sy) / (n_train * sxx - sx * sx) * sx) / n_train")
          .as("b0"))
    custCk.join(broadcast(beta), Seq("fold"))
      .groupBy(col("fold"), col("n_train"), col("b0"), col("b1"))
      .agg(count(lit(1)).as("n_valid"),
        sum(grid6((col("y") - col("b0") - col("b1") * col("x"))
          * (col("y") - col("b0") - col("b1") * col("x")))).as("sse"))
      .select(col("fold"), col("n_train"), col("n_valid"),
        round(col("b0"), 6).as("b0"), round(col("b1"), 6).as("b1"),
        round(sqrt(col("sse").cast("double") / col("n_valid")), 6)
          .as("rmse_valid"))
      .orderBy(col("fold"))
  }

  val q237Sql: String = {
    val h = Sql.hash32("('cv:' || CAST(o_custkey AS VARCHAR))")
    s"""WITH cust AS MATERIALIZED (
      |  SELECT $h % $CvFolds AS fold,
      |    CAST(count(*) AS DOUBLE) AS x,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS y
      |  FROM orders GROUP BY o_custkey),
      |fm AS (
      |  SELECT fold, count(*) AS n, sum(${Sql.grid6("x")}) AS sx, sum(${Sql.grid6("y")}) AS sy,
      |    sum(${Sql.grid6("x * x")}) AS sxx, sum(${Sql.grid6("x * y")}) AS sxy
      |  FROM cust GROUP BY fold),
      |tot AS (SELECT sum(n) AS tn, sum(sx) AS tsx, sum(sy) AS tsy,
      |  sum(sxx) AS tsxx, sum(sxy) AS tsxy FROM fm),
      |tr AS (
      |  SELECT fold, CAST(t.tn - f.n AS BIGINT) AS n_train,
      |    CAST(t.tsx - f.sx AS DOUBLE) AS sx, CAST(t.tsy - f.sy AS DOUBLE) AS sy,
      |    CAST(t.tsxx - f.sxx AS DOUBLE) AS sxx, CAST(t.tsxy - f.sxy AS DOUBLE) AS sxy
      |  FROM fm f CROSS JOIN tot t),
      |beta AS (
      |  SELECT fold, n_train,
      |    (n_train * sxy - sx * sy) / (n_train * sxx - sx * sx) AS b1,
      |    (sy - (n_train * sxy - sx * sy) / (n_train * sxx - sx * sx) * sx) / n_train AS b0
      |  FROM tr)
      |SELECT b.fold, b.n_train, count(*) AS n_valid,
      |  round(b.b0, 6) AS b0, round(b.b1, 6) AS b1,
      |  round(sqrt(CAST(sum(${Sql.grid6("(c.y - b.b0 - b.b1 * c.x) * (c.y - b.b0 - b.b1 * c.x)")}) AS DOUBLE)
      |    / count(*)), 6) AS rmse_valid
      |FROM cust c JOIN beta b ON c.fold = b.fold
      |GROUP BY b.fold, b.n_train, b.b0, b.b1 ORDER BY b.fold""".stripMargin
  }

  // --------------------------------------------------------------- q236
  /** Cohen's kappa for the q40 language detector against the gold
    * lang column — CHANCE-CORRECTED agreement, the statistic q154's
    * precision/recall report does not give (a detector that always
    * answers the majority class can score high accuracy; kappa
    * debits what marginal frequencies alone would earn): the full
    * (gold, detected) confusion census with observed agreement po,
    * expected-by-chance agreement pe = Σ row·col / N², and
    * κ = (po − pe)/(1 − pe) on every row. All counts integer; the
    * three ratios are single double divisions — exact-hash safe.
    *
    * Shape for 100 TB: q40's map-only scorer feeds ONE partial-agged
    * confusion aggregation; marginals and κ live on O(classes²)
    * rows. */
  def q236RaterAgreement(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = graft.Checkpoints.materialize(
      graft.text.TextQueries.q40LangId(spark, sfDir)
        .groupBy(col("lang"), col("detected"))
        .agg(count(lit(1)).as("n"))) // feeds marginals, agreement AND the output
    val rowM = cells.groupBy(col("lang")).agg(sum(col("n")).as("rn"))
    val colM = cells.groupBy(col("detected")).agg(sum(col("n")).as("cn"))
    val nTot = cells.agg(sum(col("n")).as("nt"),
      sum(when(col("lang") === col("detected"), col("n")).otherwise(0L))
        .as("agree"))
    val pe = rowM.join(colM, col("lang") === col("detected"))
      .agg(sum(col("rn") * col("cn")).as("pesum"))
    val po = col("agree").cast("double") / col("nt")
    val peC = col("pesum").cast("double") / (col("nt").cast("double") * col("nt"))
    cells.crossJoin(broadcast(nTot)).crossJoin(broadcast(pe))
      .select(col("lang").as("gold"), col("detected"), col("n"),
        round(po, 6).as("po"), round(peC, 6).as("pe"),
        round((po - peC) / (lit(1.0) - peC), 6).as("kappa"))
      .orderBy(col("gold"), col("detected"))
  }

  val q236Sql: String = {
    import graft.text.TextQueries.{hitRatioSql, StopEn, StopEs, StopFr, StopDe}
    val w = "string_split(text, ' ')"
    s"""WITH r AS (
      |  SELECT doc_id, lang,
      |    ${hitRatioSql(w, StopEn)} AS r_en, ${hitRatioSql(w, StopEs)} AS r_es,
      |    ${hitRatioSql(w, StopFr)} AS r_fr, ${hitRatioSql(w, StopDe)} AS r_de
      |  FROM documents),
      |scored AS (
      |  SELECT lang,
      |    (CASE WHEN greatest(r_en, r_es, r_fr, r_de) < 0.05 THEN 'und'
      |          WHEN r_en = greatest(r_en, r_es, r_fr, r_de) THEN 'en'
      |          WHEN r_es = greatest(r_en, r_es, r_fr, r_de) THEN 'es'
      |          WHEN r_fr = greatest(r_en, r_es, r_fr, r_de) THEN 'fr'
      |          ELSE 'de' END) AS detected
      |  FROM r),
      |cells AS (SELECT lang, detected, count(*) AS n FROM scored GROUP BY lang, detected),
      |marg AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS nt,
      |    CAST(sum(CASE WHEN lang = detected THEN n ELSE 0 END) AS BIGINT) AS agree
      |  FROM cells),
      |pe AS (
      |  SELECT CAST(sum(g.rn * p.cn) AS BIGINT) AS pesum FROM
      |    (SELECT lang, sum(n) AS rn FROM cells GROUP BY lang) g
      |    JOIN (SELECT detected, sum(n) AS cn FROM cells GROUP BY detected) p
      |    ON g.lang = p.detected)
      |SELECT c.lang AS gold, c.detected, c.n,
      |  round(CAST(m.agree AS DOUBLE) / m.nt, 6) AS po,
      |  round(CAST(p.pesum AS DOUBLE) / (CAST(m.nt AS DOUBLE) * m.nt), 6) AS pe,
      |  round((CAST(m.agree AS DOUBLE) / m.nt
      |      - CAST(p.pesum AS DOUBLE) / (CAST(m.nt AS DOUBLE) * m.nt))
      |    / (1.0 - CAST(p.pesum AS DOUBLE) / (CAST(m.nt AS DOUBLE) * m.nt)), 6) AS kappa
      |FROM cells c CROSS JOIN marg m CROSS JOIN pe p
      |ORDER BY gold, detected""".stripMargin
  }

  // --------------------------------------------------------------- q243
  /** Two-sided significance threshold shared with q155. */
  val RankSumZCrit = 1.959964

  /** Mann–Whitney rank-sum test: purchase vs click event values, the
    * NONPARAMETRIC complement to q155's two-proportion z-test — rank-
    * based, so a heavy-tailed or corrupted value distribution cannot
    * fake (or mask) a shift the way it can with a mean-based test.
    * Reports U, the tie-corrected normal-approximation z, and
    * U/(n1·n2) — which IS the AUC of "value separates the two groups"
    * (q161's metric arrived at from the rank side).
    *
    * Shape for 100 TB: ranks are never materialized per row — the pool
    * partial-aggs to one (value, t, t1) frame of O(distinct 6-dp
    * values) rows (the q50 exact-percentile class), a single
    * running-count window over that frame yields every tied rank
    * block's average rank, and the test statistics are one aggregate:
    * each R1 term is an exact multiple of 0.5 (integer cum + (t+1)/2),
    * so the DECIMAL sum is association-free on both engines. */
  def q243RankSum(spark: SparkSession, sfDir: String): DataFrame = {
    val pool = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(round(col("value"), 6).as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("grp"))
    val byv = pool.groupBy(col("v"))
      .agg(count(lit(1)).as("t"), sum(col("grp")).as("t1"))
    val w = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byv.withColumn("cum_before",
      coalesce(sum(col("t")).over(w), lit(0L)))
    val stats = ranked.agg(
      sum(col("t1")).as("n1"),
      sum(col("t") - col("t1")).as("n2"),
      sum((col("t1") * (col("cum_before") + (col("t") + 1) / lit(2.0)))
        .cast(DecimalType(38, 6))).as("r1d"),
      sum((col("t").cast("double") * col("t") * col("t") - col("t"))
        .cast(DecimalType(38, 6))).as("ties"))
    stats
      .withColumn("r1", col("r1d").cast("double"))
      .withColumn("u1", col("r1") - col("n1") * (col("n1") + 1) / lit(2.0))
      .withColumn("sigma", sqrt(col("n1") * col("n2") / lit(12.0)
        * ((col("n1") + col("n2") + 1) - col("ties").cast("double")
          / ((col("n1") + col("n2")) * (col("n1") + col("n2") - lit(1.0))))))
      .select(col("n1"), col("n2"), round(col("u1"), 6).as("u1"),
        round(col("u1") / (col("n1") * col("n2")), 6).as("auc"),
        round((col("u1") - col("n1") * col("n2") / lit(2.0)) / col("sigma"), 6)
          .as("z"),
        (abs((col("u1") - col("n1") * col("n2") / lit(2.0)) / col("sigma"))
          > RankSumZCrit).as("significant"))
  }

  val q243Sql: String =
    s"""WITH pool AS (
      |  SELECT round(value, 6) AS v,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp
      |  FROM events WHERE event_type IN ('purchase', 'click')),
      |byv AS (SELECT v, count(*) AS t, sum(grp) AS t1 FROM pool GROUP BY v),
      |ranked AS (
      |  SELECT v, t, t1,
      |    coalesce(sum(t) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM byv),
      |stats AS (
      |  SELECT CAST(sum(t1) AS BIGINT) AS n1,
      |    CAST(sum(t - t1) AS BIGINT) AS n2,
      |    CAST(sum(CAST(t1 * (cum_before + (t + 1) / 2.0) AS DECIMAL(38,6))) AS DOUBLE) AS r1,
      |    CAST(sum(CAST(CAST(t AS DOUBLE) * t * t - t AS DECIMAL(38,6))) AS DOUBLE) AS ties
      |  FROM ranked),
      |calc AS (
      |  SELECT n1, n2, r1 - n1 * (n1 + 1) / 2.0 AS u1,
      |    sqrt(n1 * n2 / 12.0 * ((n1 + n2 + 1) - ties
      |      / ((n1 + n2) * (n1 + n2 - 1.0)))) AS sigma
      |  FROM stats)
      |SELECT n1, n2, round(u1, 6) AS u1,
      |  round(u1 / (n1 * n2), 6) AS auc,
      |  round((u1 - n1 * n2 / 2.0) / sigma, 6) AS z,
      |  (abs((u1 - n1 * n2 / 2.0) / sigma) > $RankSumZCrit) AS significant
      |FROM calc""".stripMargin

  // --------------------------------------------------------------- q246
  /** Chi-square critical value at df = 4 (5 event types), alpha .05. */
  val KruskalChi2Crit = 9.487729

  /** Kruskal–Wallis H test across ALL five event-type groups — q243's
    * two-sample rank test generalized to k groups (the one-way
    * ANOVA-on-ranks an experimenter reaches for when an A/B/n test has
    * more than two arms and the values are heavy-tailed): per-group
    * mean ranks, the H statistic, its tie-corrected form, and the
    * chi-square significance call at df = k−1.
    *
    * Shape for 100 TB: q243's rank-block engine unchanged — the pool
    * partial-aggs to one (value, group) count frame, collapses to
    * O(distinct 6-dp values) rank blocks (the q50 exact-percentile
    * class), ONE running-count window over that frame prices every
    * tied block's average rank, and the k per-group rank sums are
    * exact multiples of 0.5 carried as association-free DECIMAL sums;
    * the k terms of H are 6-dp-gridded before their own DECIMAL sum,
    * so both engines add the identical rationals. */
  def q246Kruskal(spark: SparkSession, sfDir: String): DataFrame = {
    val pool = Tables.events(spark, sfDir)
      .select(round(col("value"), 6).as("v"), col("event_type").as("grp"))
    val byvg = graft.Checkpoints.materialize(pool
      .groupBy(col("v"), col("grp")).agg(count(lit(1)).as("ng")))
    val w = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)
    val ranked = graft.Checkpoints.materialize(byvg.groupBy(col("v"))
      .agg(sum(col("ng")).as("t"))
      .withColumn("cum_before", coalesce(sum(col("t")).over(w), lit(0L))))
    val rg = graft.Checkpoints.materialize(byvg.join(ranked, Seq("v"))
      .groupBy(col("grp"))
      .agg(sum(col("ng")).as("n_g"),
        sum((col("ng") * (col("cum_before") + (col("t") + 1) / lit(2.0)))
          .cast(DecimalType(38, 6))).as("rgd")))
    val tot = ranked.agg(sum(col("t")).as("n"),
      sum((col("t").cast("double") * col("t") * col("t") - col("t"))
        .cast(DecimalType(38, 6))).as("tiesd"))
    val hs = rg.agg(count(lit(1)).as("k"),
      sum(grid6(col("rgd").cast("double") * col("rgd").cast("double")
        / col("n_g"))).as("stermd"))
    val hRaw = lit(12.0) / (col("n") * (col("n") + lit(1.0))) *
      col("stermd").cast("double") - lit(3.0) * (col("n") + 1)
    val corr = lit(1.0) - col("tiesd").cast("double") /
      (col("n").cast("double") * col("n") * col("n") - col("n"))
    rg.crossJoin(broadcast(hs)).crossJoin(broadcast(tot))
      .select(col("grp"), col("n_g"),
        round(col("rgd").cast("double") / col("n_g"), 6).as("mean_rank"),
        col("n"), col("k"), round(hRaw, 6).as("h"),
        round(hRaw / corr, 6).as("h_corrected"),
        (hRaw / corr > KruskalChi2Crit).as("significant"))
      .orderBy(col("grp"))
  }

  val q246Sql: String =
    s"""WITH pool AS (
      |  SELECT event_type AS grp, round(value, 6) AS v FROM events),
      |byvg AS (SELECT v, grp, count(*) AS ng FROM pool GROUP BY 1, 2),
      |byv AS (SELECT v, CAST(sum(ng) AS BIGINT) AS t FROM byvg GROUP BY 1),
      |ranked AS (
      |  SELECT v, t, coalesce(sum(t) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM byv),
      |rg AS (
      |  SELECT g.grp, CAST(sum(g.ng) AS BIGINT) AS n_g,
      |    CAST(sum(CAST(g.ng * (r.cum_before + (r.t + 1) / 2.0) AS DECIMAL(38,6))) AS DOUBLE) AS r_g
      |  FROM byvg g JOIN ranked r ON g.v = r.v GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(t) AS BIGINT) AS n,
      |    CAST(sum(CAST(CAST(t AS DOUBLE) * t * t - t AS DECIMAL(38,6))) AS DOUBLE) AS ties
      |  FROM ranked),
      |hs AS (
      |  SELECT count(*) AS k,
      |    CAST(sum(CAST(round(r_g * r_g / n_g, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sterm
      |  FROM rg),
      |h AS (
      |  SELECT k, n, ties,
      |    12.0 / (n * (n + 1.0)) * sterm - 3.0 * (n + 1) AS h_raw,
      |    1.0 - ties / (CAST(n AS DOUBLE) * n * n - n) AS corr
      |  FROM hs CROSS JOIN tot)
      |SELECT rg.grp, rg.n_g, round(rg.r_g / rg.n_g, 6) AS mean_rank,
      |  h.n, h.k, round(h.h_raw, 6) AS h,
      |  round(h.h_raw / h.corr, 6) AS h_corrected,
      |  (h.h_raw / h.corr > $KruskalChi2Crit) AS significant
      |FROM rg CROSS JOIN h ORDER BY rg.grp""".stripMargin

  // --------------------------------------------------------------- q250
  /** Bootstrap replicate count. */
  val BootReplicates = 100
  /** Poisson(1) inverse-CDF ladder over u ∈ [0, 10^6): thresholds are
    * ⌊10^6·P(X ≤ k)⌋ for k = 0..5; u past the ladder draws weight 6. */
  val BootLadder: Seq[(Long, Int)] = Seq(
    367879L -> 0, 735759L -> 1, 919699L -> 2, 981012L -> 3,
    996340L -> 4, 999406L -> 5)

  /** Poisson-bootstrap confidence interval for the mean purchase value
    * — THE distributed bootstrap (resampling-with-replacement needs a
    * global sample of known size; Poissonization replaces it with an
    * i.i.d. per-row weight draw, the classic Monte-Carlo trick that
    * makes the bootstrap embarrassingly parallel): every row enters
    * each of the B replicates with a deterministic Poisson(1)-hash
    * weight, each replicate reports its weighted mean, and the 2.5/97.5
    * percentiles of the B means are the CI q155's normal-theory z-test
    * assumes away.
    *
    * Shape for 100 TB: the corpus is read ONCE and exploded ×B map-side
    * (no join — the replicate axis is a `sequence` literal); the only
    * exchange carries B partial sums per map partition, the replicate
    * frame is O(B) rows, and the percentile runs over exactly B values.
    * Weights are pure-hash (q47's convention), so reruns and the oracle
    * replay the identical resample. */
  def q250Bootstrap(spark: SparkSession, sfDir: String): DataFrame = {
    val pool = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), round(col("value"), 6).as("v")))
    val wt = BootLadder.foldRight(lit(6): Column) { case ((thr, k), acc) =>
      when(col("u") < thr, lit(k)).otherwise(acc) }
    // the checkpointed pool lands in few partitions (small filter
    // output), so the ×B explode + per-row md5 draws — the query's
    // entire compute — would run near-single-task; spread it first
    // (r12, q244's fix; the pool is a few hundred KB to exchange)
    val means = pool.repartition(spark.sparkContext.defaultParallelism)
      .select(col("event_id"), col("v"),
        explode(sequence(lit(1), lit(BootReplicates))).as("b"))
      .withColumn("u", MF.hash32(concat(lit("boot:"),
        col("event_id").cast("string"), lit(":"), col("b").cast("string")))
        % lit(1000000L))
      .withColumn("wt", wt)
      .groupBy(col("b"))
      .agg(round(sum(grid6(col("wt") * col("v")))
        .cast("double") / sum(col("wt")), 6).as("m"))
    val base = pool.agg(count(lit(1)).as("n"),
      round(sum(col("v").cast(DecimalType(38, 6))).cast("double")
        / count(lit(1)), 6).as("point_mean"))
    means.agg(
      round(sum(col("m").cast(DecimalType(38, 6))).cast("double")
        / lit(BootReplicates), 6).as("boot_mean"),
      round(percentile(col("m"), lit(0.025)), 6).as("ci_lo"),
      round(percentile(col("m"), lit(0.975)), 6).as("ci_hi"))
      .crossJoin(broadcast(base))
      .select(col("n"), col("point_mean"), col("boot_mean"),
        col("ci_lo"), col("ci_hi"))
  }

  val q250Sql: String = {
    val h = Sql.hash32OfHex(
      "md5('boot:' || CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR))")
    val ladder = BootLadder.map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 6 END")
    s"""WITH pool AS (
      |  SELECT event_id, round(value, 6) AS v FROM events
      |  WHERE event_type = 'purchase'),
      |reps AS (
      |  SELECT p.v, r.b, $h % 1000000 AS u
      |  FROM pool p CROSS JOIN
      |    (SELECT unnest(generate_series(1, $BootReplicates)) AS b) r),
      |w AS (SELECT b, v, $ladder AS wt FROM reps),
      |means AS (
      |  SELECT b,
      |    round(CAST(sum(CAST(round(wt * v, 6) AS DECIMAL(38,6))) AS DOUBLE)
      |      / sum(wt), 6) AS m
      |  FROM w GROUP BY b),
      |base AS (
      |  SELECT count(*) AS n,
      |    round(CAST(sum(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS point_mean
      |  FROM pool)
      |SELECT base.n, base.point_mean,
      |  round(CAST(sum(CAST(m AS DECIMAL(38,6))) AS DOUBLE) / $BootReplicates, 6) AS boot_mean,
      |  round(quantile_cont(m, 0.025), 6) AS ci_lo,
      |  round(quantile_cont(m, 0.975), 6) AS ci_hi
      |FROM means CROSS JOIN base
      |GROUP BY base.n, base.point_mean""".stripMargin
  }

  // --------------------------------------------------------------- q251
  /** Grid cell sizes: price units per x-cell, days per y-cell. */
  val DbscanPriceCell = 20000L
  val DbscanDayCell = 28L
  /** Synchronized min-label propagation rounds (≡ the oracle's
    * unrolled chain; the subcritical grid converges well inside it —
    * the dry-run measured 0 unconverged cells at every SF). */
  val DbscanRounds = 12

  /** Grid-density clustering (DBSCAN's distributed shape) of orders in
    * (price, order-month) space: points land in fixed grid cells, a
    * cell is DENSE if its count clears the 75th percentile of cell
    * counts (a quantile threshold, so the operator self-calibrates at
    * any SF instead of carrying an absolute minPts that degenerates at
    * 10× the data), and clusters are connected components of dense
    * cells under 8-neighbor adjacency — classic GriDBSCAN: density
    * estimation and connectivity both become bounded-cardinality
    * problems. The quantile keeps density subcritical for Moore-
    * neighborhood site percolation (p=0.25 < p_c≈0.407), so the output
    * is MANY clusters, not one blob, at every SF.
    *
    * Shape for 100 TB: the corpus collapses to O(cells) in ONE
    * partial-agged pass (the only corpus-sized exchange); the
    * threshold is a 1-row broadcast percentile; adjacency is an
    * 8-offset explode + equi-join of the O(cells) dense frame (never
    * a distance self-join); the label loop is
    * [[graft.graph.ConnectedComponents.propagate]] on O(cells) rows, at
    * most `DbscanRounds` synchronized rounds. */
  def q251GridDbscan(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.orders(spark, sfDir)
      .groupBy(
        expr(s"CAST(o_totalprice AS BIGINT) div $DbscanPriceCell").as("x"),
        expr("(unix_micros(CAST(o_orderdate AS timestamp)) div 86400000000)" +
          s" div $DbscanDayCell").as("y"))
      .agg(count(lit(1)).as("cnt"))
    val thr = cells.agg(percentile(col("cnt").cast("double"), lit(0.75)).as("t"))
    val dense = graft.Checkpoints.materialize(cells.crossJoin(broadcast(thr))
      .filter(col("cnt").cast("double") > col("t"))
      .select(col("x"), col("y"), col("cnt"),
        (col("x") * 1000000L + col("y")).as("cid")))
    val offs = for { dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0 }
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))
    val adj = graft.Checkpoints.materialize(dense
      .select(col("cid"), explode(array(offs: _*)).as("o"), col("x"), col("y"))
      .select(col("cid"), (col("x") + col("o.dx")).as("nx"),
        (col("y") + col("o.dy")).as("ny"))
      .join(dense.select(col("x").as("nx"), col("y").as("ny"),
        col("cid").as("nid")), Seq("nx", "ny"))
      .select(col("cid"), col("nid")))
    // min-label propagation; it stops early only at the fixed point,
    // where the oracle's remaining unrolled rounds are the identity
    val (labels, _) = graft.graph.ConnectedComponents.propagate(
      adj.select(col("cid").as("a"), col("nid").as("b")),
      dense.select(col("cid").as("id"), col("cid").as("lbl")), DbscanRounds)
    labels.select(col("id").as("cid"), col("lbl")).join(dense, Seq("cid"))
      .groupBy(col("lbl").as("cluster"))
      .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("n_points"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      .orderBy(col("n_points").desc, col("cluster"))
  }

  val q251Sql: String = {
    val rounds = new StringBuilder(
      "l0 AS MATERIALIZED (SELECT cid, cid AS lbl FROM dense)")
    var prev = "l0"
    for (i <- 1 to DbscanRounds) {
      rounds.append(s""",
l$i AS MATERIALIZED (
  SELECT v.cid, least(v.lbl, coalesce(m.ml, v.lbl)) AS lbl
  FROM $prev v LEFT JOIN (
    SELECT a.cid AS mid, min(p.lbl) AS ml
    FROM adj a JOIN $prev p ON a.nid = p.cid GROUP BY a.cid) m
  ON v.cid = m.mid)""")
      prev = s"l$i"
    }
    s"""WITH cells AS (
  SELECT CAST(o_totalprice AS BIGINT) // $DbscanPriceCell AS x,
    epoch_us(o_orderdate) // 86400000000 // $DbscanDayCell AS y,
    count(*) AS cnt
  FROM orders GROUP BY 1, 2),
thr AS (SELECT quantile_cont(CAST(cnt AS DOUBLE), 0.75) AS t FROM cells),
dense AS MATERIALIZED (
  SELECT x, y, cnt, x * 1000000 + y AS cid
  FROM cells CROSS JOIN thr WHERE CAST(cnt AS DOUBLE) > t),
adj AS MATERIALIZED (
  SELECT a.cid, b.cid AS nid
  FROM dense a JOIN dense b
    ON b.x BETWEEN a.x - 1 AND a.x + 1
   AND b.y BETWEEN a.y - 1 AND a.y + 1
   AND a.cid <> b.cid),
${rounds.toString}
SELECT l.lbl AS cluster, count(*) AS n_cells,
  CAST(sum(d.cnt) AS BIGINT) AS n_points,
  min(d.x) AS min_x, max(d.x) AS max_x,
  min(d.y) AS min_y, max(d.y) AS max_y
FROM $prev l JOIN dense d ON l.cid = d.cid
GROUP BY 1 ORDER BY n_points DESC, cluster"""
  }

  // --------------------------------------------------------------- q256
  /** Channel bit assignment, alphabetical: click=1, error=2, signup=4,
    * view=8. */
  val ShapleyChannels: Seq[(String, Int)] =
    Seq("click" -> 1, "error" -> 2, "signup" -> 4, "view" -> 8)

  /** Exact Shapley-value channel attribution — the OTHER canonical
    * attribution beside q182's Markov removal effect: each channel's
    * credit for conversions is its average marginal contribution over
    * all 4! orderings of the channel set (the unique allocation that
    * is efficient, symmetric and dummy-free). Exposure is the set of
    * channels a user touched BEFORE their first purchase (the
    * attribution window — post-conversion noise does not earn credit);
    * the coalition value v(S) counts conversions of users whose whole
    * exposure set fits inside S. With 4 channels the 16 coalition
    * values are exact integers and the 24·φ weights (6,2,2,6) make
    * every Shapley value an exact integer rational — the hash needs no
    * float convention at all until the two final divisions.
    *
    * Shape for 100 TB: the corpus collapses to a ≤16-row (mask →
    * conversions) frame in ONE partial-agged pass over the event scan
    * joined to the O(users) first-purchase frame; everything after is
    * a bounded 16×16 coalition enumeration of broadcast literals. */
  def q256Shapley(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("ts_us")))
    val firstp = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("fp"))
    val before = col("fp").isNull || col("ts_us") < col("fp")
    val maskExpr = ShapleyChannels.map { case (c, b) =>
      max(when(col("event_type") === c && before, 1L).otherwise(0L)) * b
    }.reduce(_ + _)
    val bymask = ev.join(firstp, Seq("user_id"), "left")
      .groupBy(col("user_id"))
      .agg(maskExpr.as("mask"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .groupBy(col("mask")).agg(sum(col("conv")).as("n_conv"))
    val coal = spark.range(16).select(col("id").cast("long").as("s"))
    val v = graft.Checkpoints.materialize(coal
      .join(broadcast(bymask),
        col("mask").bitwiseAND(lit(15L) - col("s")) === 0L,
        "left")
      .groupBy(col("s")).agg(coalesce(sum(col("n_conv")), lit(0L)).as("v")))
    val chan = ShapleyChannels.map { case (c, b) =>
      struct(lit(c).as("channel"), lit(b.toLong).as("bit")) }
    val chanDf = spark.range(1)
      .select(explode(array(chan: _*)).as("c"))
      .select(col("c.channel").as("channel"), col("c.bit").as("bit"))
    val ssize = Seq(1L, 2L, 4L, 8L).map(b =>
      when(col("s").bitwiseAND(lit(b)) === b, 1).otherwise(0)).reduce(_ + _)
    val weight = when(col("ssize") === 0, 6L).when(col("ssize") === 1, 2L)
      .when(col("ssize") === 2, 2L).otherwise(6L)
    val marg = chanDf.join(broadcast(coal),
      col("s").bitwiseAND(col("bit")) === 0L)
      .withColumn("ssize", ssize)
      .join(broadcast(v.select((col("s")).as("sw"), col("v").as("v_with"))),
        col("sw") === (col("s").bitwiseOR(col("bit"))))
      .join(broadcast(v.select(col("s").as("so"), col("v").as("v_without"))),
        col("so") === col("s"))
    val phi = marg.groupBy(col("channel"))
      .agg(sum(weight * (col("v_with") - col("v_without"))).as("phi24"))
    val tot = phi.agg(sum(col("phi24")).as("tot24"))
    val vf = v.filter(col("s") === 15L).select(col("v").as("v_full"))
    val ve = v.filter(col("s") === 0L).select(col("v").as("v_empty"))
    phi.crossJoin(broadcast(tot)).crossJoin(broadcast(vf))
      .crossJoin(broadcast(ve))
      .select(col("channel"), col("phi24"),
        round(col("phi24") / lit(24.0), 6).as("phi"),
        round(col("phi24").cast("double") / col("tot24"), 6).as("share"),
        col("v_full"), col("v_empty"))
      .orderBy(col("channel"))
  }

  val q256Sql: String =
    s"""WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events),
      |firstp AS (
      |  SELECT user_id, min(ts_us) AS fp FROM ev
      |  WHERE event_type = 'purchase' GROUP BY 1),
      |peruser AS (
      |  SELECT e.user_id,
      |    max(CASE WHEN e.event_type = 'click'
      |        AND (f.fp IS NULL OR e.ts_us < f.fp) THEN 1 ELSE 0 END)
      |      + 2 * max(CASE WHEN e.event_type = 'error'
      |        AND (f.fp IS NULL OR e.ts_us < f.fp) THEN 1 ELSE 0 END)
      |      + 4 * max(CASE WHEN e.event_type = 'signup'
      |        AND (f.fp IS NULL OR e.ts_us < f.fp) THEN 1 ELSE 0 END)
      |      + 8 * max(CASE WHEN e.event_type = 'view'
      |        AND (f.fp IS NULL OR e.ts_us < f.fp) THEN 1 ELSE 0 END) AS mask,
      |    max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM ev e LEFT JOIN firstp f USING (user_id) GROUP BY 1),
      |bymask AS (
      |  SELECT mask, CAST(sum(conv) AS BIGINT) AS n_conv FROM peruser GROUP BY 1),
      |coal AS (SELECT unnest(generate_series(0, 15)) AS s),
      |v AS (
      |  SELECT c.s, CAST(coalesce(sum(b.n_conv), 0) AS BIGINT) AS v
      |  FROM coal c LEFT JOIN bymask b ON (b.mask & (15 - c.s)) = 0
      |  GROUP BY 1),
      |chan AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
      |  ('signup', 4), ('view', 8)) AS t(channel, bit)),
      |marg AS (
      |  SELECT ch.channel,
      |    CASE WHEN (c.s & 1 = 1) THEN 1 ELSE 0 END
      |      + CASE WHEN (c.s & 2 = 2) THEN 1 ELSE 0 END
      |      + CASE WHEN (c.s & 4 = 4) THEN 1 ELSE 0 END
      |      + CASE WHEN (c.s & 8 = 8) THEN 1 ELSE 0 END AS ssize,
      |    vs.v AS v_with, vwo.v AS v_without
      |  FROM chan ch JOIN coal c ON (c.s & ch.bit) = 0
      |  JOIN v vs ON vs.s = (c.s | ch.bit) JOIN v vwo ON vwo.s = c.s),
      |phi AS (
      |  SELECT channel,
      |    CAST(sum((CASE ssize WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END)
      |      * (v_with - v_without)) AS BIGINT) AS phi24
      |  FROM marg GROUP BY 1),
      |tot AS (SELECT CAST(sum(phi24) AS BIGINT) AS tot24,
      |  (SELECT v FROM v WHERE s = 15) AS v_full,
      |  (SELECT v FROM v WHERE s = 0) AS v_empty FROM phi)
      |SELECT p.channel, p.phi24,
      |  round(p.phi24 / 24.0, 6) AS phi,
      |  round(CAST(p.phi24 AS DOUBLE) / t.tot24, 6) AS share,
      |  t.v_full, t.v_empty
      |FROM phi p CROSS JOIN tot t ORDER BY p.channel""".stripMargin

  // --------------------------------------------------------------- q257
  /** Kolmogorov–Smirnov critical coefficient c(α) at α = .05. */
  val KsCrit = 1.358

  /** Two-sample Kolmogorov–Smirnov test on purchase-vs-click values —
    * the DISTRIBUTION-shape test beside q243's location test: D =
    * max |F1 − F2| over the pooled support sees variance, skew and
    * bimodality shifts that leave the rank-sum's location statistic
    * untouched. Reports D, the max location, the scaled KS statistic
    * and the c(α)·√((n1+n2)/n1n2) significance call.
    *
    * Shape for 100 TB: q243's rank-block engine again — the pool
    * partial-aggs to O(distinct 6-dp values) (v, t1, t2) blocks, ONE
    * running-count window yields both empirical CDFs, and D is found
    * on the EXACT INTEGER lattice |c1·n2 − c2·n1| (the float division
    * happens once, after the argmax), so the max and its location are
    * deterministic on both engines by construction. */
  def q257KsTest(spark: SparkSession, sfDir: String): DataFrame = {
    val pool = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(round(col("value"), 6).as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("g1"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = graft.Checkpoints.materialize(pool.groupBy(col("v"))
      .agg(sum(col("g1")).as("t1"), sum(lit(1L) - col("g1")).as("t2"))
      .select(col("v"), sum(col("t1")).over(w).as("c1"),
        sum(col("t2")).over(w).as("c2")))
    val n = cum.agg(max(col("c1")).as("n1"), max(col("c2")).as("n2"))
    val dnum = graft.Checkpoints.materialize(cum.crossJoin(broadcast(n))
      .select(col("v"), col("n1"), col("n2"),
        abs(col("c1") * col("n2") - col("c2") * col("n1")).as("dn")))
    val mx = dnum.agg(max(col("dn")).as("dmax"))
    val loc = dnum.crossJoin(broadcast(mx))
      .filter(col("dn") === col("dmax"))
      .agg(min(col("v")).as("d_location"))
    val d = col("dmax").cast("double") / (col("n1") * col("n2"))
    val scale = sqrt((col("n1") + col("n2"))
      / (col("n1").cast("double") * col("n2")))
    n.crossJoin(broadcast(mx)).crossJoin(broadcast(loc))
      .select(col("n1"), col("n2"), round(d, 6).as("d"), col("d_location"),
        round(d / scale, 6).as("ks_stat"),
        (d > lit(KsCrit) * scale).as("significant"))
  }

  val q257Sql: String =
    s"""WITH pool AS (
      |  SELECT round(value, 6) AS v,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g1
      |  FROM events WHERE event_type IN ('purchase', 'click')),
      |byv AS (
      |  SELECT v, CAST(sum(g1) AS BIGINT) AS t1,
      |    CAST(sum(1 - g1) AS BIGINT) AS t2
      |  FROM pool GROUP BY 1),
      |cum AS (
      |  SELECT v,
      |    CAST(sum(t1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1,
      |    CAST(sum(t2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c2
      |  FROM byv),
      |n AS (SELECT max(c1) AS n1, max(c2) AS n2 FROM cum),
      |dnum AS (
      |  SELECT c.v, abs(c.c1 * n.n2 - c.c2 * n.n1) AS dn
      |  FROM cum c CROSS JOIN n),
      |mx AS (SELECT max(dn) AS dmax FROM dnum),
      |loc AS (SELECT min(v) AS d_location FROM dnum CROSS JOIN mx WHERE dn = dmax)
      |SELECT n.n1, n.n2,
      |  round(CAST(mx.dmax AS DOUBLE) / (n.n1 * n.n2), 6) AS d,
      |  loc.d_location,
      |  round(CAST(mx.dmax AS DOUBLE) / (n.n1 * n.n2)
      |    / sqrt((n.n1 + n.n2) / (CAST(n.n1 AS DOUBLE) * n.n2)), 6) AS ks_stat,
      |  (CAST(mx.dmax AS DOUBLE) / (n.n1 * n.n2)
      |    > $KsCrit * sqrt((n.n1 + n.n2) / (CAST(n.n1 AS DOUBLE) * n.n2))) AS significant
      |FROM n CROSS JOIN mx CROSS JOIN loc""".stripMargin

  // --------------------------------------------------------------- q258
  /** BH false-discovery rate and the hypothesis count (24 hour-of-day
    * cells). */
  val BhAlpha = 0.05
  val BhM = 24

  /** Benjamini–Hochberg FDR control over 24 simultaneous hour-of-day
    * purchase-share tests — the multiple-testing correction every
    * metrics dashboard needs and almost none apply: 24 two-sided
    * two-proportion z-tests (is this hour's conversion share off the
    * corpus base rate?) produce 24 p-values; naively, at α=.05 one of
    * them "fires" by luck every morning. BH sorts the p-ladder,
    * finds the largest i with p(i) ≤ i·α/m, and declares everything
    * below it a discovery — bounding the EXPECTED false-discovery
    * share at α instead of the per-test error. On the uniform fixture
    * the correct output is ZERO discoveries at every SF (the audit
    * declines to fire on null data — q254's conforming-result twin).
    *
    * Shape for 100 TB: the corpus collapses to 24 (n, k) cells in ONE
    * partial-agged pass; p-values use the shared A&S erf polynomial
    * (identical Horner ordering both engines); the sort, ladder and
    * cutoff all run on exactly 24 rows. */
  def q258BhFdr(spark: SparkSession, sfDir: String): DataFrame = {
    val byh = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .select(expr("(ts div 3600000000000) % 24").as("hod"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("isp"))
      .groupBy(col("hod"))
      .agg(count(lit(1)).as("nh"), sum(col("isp")).as("kh")))
    val tot = byh.agg((sum(col("kh")).cast("double") / sum(col("nh"))).as("p0"))
    val zv = (col("kh") / col("nh").cast("double") - col("p0")) /
      sqrt(col("p0") * (lit(1.0) - col("p0")) / col("nh"))
    val scored = byh.crossJoin(broadcast(tot))
      .select(col("hod"), col("nh"), col("kh"),
        round(col("kh") / col("nh").cast("double"), 6).as("rate"),
        round(zv, 6).as("zv"),
        round(lit(2.0) * (lit(1.0) - MF.normalCdf(abs(zv), lit(0.0), lit(1.0))), 6)
          .as("p"))
    val ranked = graft.Checkpoints.materialize(scored
      .withColumn("rnk", row_number().over(Window.orderBy(col("p"), col("hod")))))
    val cutoff = ranked.agg(coalesce(max(
      when(col("p") <= col("rnk") * BhAlpha / BhM, col("rnk"))), lit(0))
      .as("kstar"))
    ranked.crossJoin(broadcast(cutoff))
      .select(col("hod"), col("nh"), col("kh"), col("rate"), col("zv"),
        col("p"), col("rnk"),
        round(col("rnk") * BhAlpha / BhM, 6).as("bh_thresh"),
        (col("rnk") <= col("kstar")).as("discovery"))
      .orderBy(col("hod"))
  }

  val q258Sql: String = {
    val z = "((kh / CAST(nh AS DOUBLE) - p0) / sqrt(p0 * (1.0 - p0) / nh))"
    val phi = Sql.normalCdf(s"abs($z)", "0.0", "1.0")
    s"""WITH ev AS (
      |  SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hod,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isp
      |  FROM events),
      |byh AS (
      |  SELECT hod, count(*) AS nh, CAST(sum(isp) AS BIGINT) AS kh
      |  FROM ev GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(kh) AS DOUBLE) / sum(nh) AS p0 FROM byh),
      |scored AS (
      |  SELECT hod, nh, kh, round(kh / CAST(nh AS DOUBLE), 6) AS rate,
      |    round($z, 6) AS zv,
      |    round(2.0 * (1.0 - $phi), 6) AS p
      |  FROM byh CROSS JOIN tot),
      |ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY p, hod) AS rnk FROM scored),
      |cutoff AS (
      |  SELECT coalesce(max(CASE WHEN p <= rnk * $BhAlpha / $BhM THEN rnk END), 0) AS kstar
      |  FROM ranked)
      |SELECT r.hod, r.nh, r.kh, r.rate, r.zv, r.p, r.rnk,
      |  round(r.rnk * $BhAlpha / $BhM, 6) AS bh_thresh,
      |  (r.rnk <= c.kstar) AS discovery
      |FROM ranked r CROSS JOIN cutoff c
      |ORDER BY r.hod""".stripMargin
  }

  // --------------------------------------------------------------- q270
  /** Two-sided z at α=.05, z at power .8, and the relative lift a
    * planned test must detect. */
  val PowerZAlpha = 1.959964
  val PowerZBeta = 0.841621
  val PowerLift = 1.1

  /** A/B-test power analysis — the PLANNING operator in front of
    * q155's z-test, q258's FDR sweep and q269's sequential monitor:
    * for each event type's observed share, the two-proportion sample
    * size n = (z_α + z_β)²·(p(1−p) + p'(1−p'))/δ² needed to detect a
    * 10% relative lift, and how many days of the observed traffic
    * that takes — the number that decides whether an experiment is
    * even worth starting.
    *
    * Shape for 100 TB: two partial-agged aggregates (per-type counts;
    * corpus total + day span) and O(types) closed-form arithmetic on
    * broadcast scalars. */
  def q270PowerAnalysis(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts div 86400000000000").as("day")))
    val tot = ev.agg(count(lit(1)).as("n"),
      countDistinct(col("day")).as("n_days"))
    val share = col("n_type").cast("double") / col("n")
    val shareL = least(share * PowerLift, lit(0.999))
    val delta = round(lit(PowerLift - 1.0) * share, 6)
    val zsum = lit(PowerZAlpha) + lit(PowerZBeta)
    val nReq = ceil(zsum * zsum
      * (round(share, 6) * (lit(1.0) - round(share, 6))
        + shareL * (lit(1.0) - shareL)) / (delta * delta)).cast("long")
    ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_type"))
      .crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_type"),
        round(share, 6).as("share"), delta.as("delta"),
        nReq.as("n_required"),
        ceil(nReq.cast("double") / (col("n").cast("double") / col("n_days")))
          .cast("long").as("days_required"))
      .orderBy(col("event_type"))
  }

  val q270Sql: String =
    s"""WITH tot AS (
      |  SELECT count(*) AS n,
      |    CAST(count(DISTINCT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS BIGINT) AS n_days
      |  FROM events),
      |byt AS (
      |  SELECT event_type, count(*) AS n_type FROM events GROUP BY 1),
      |calc AS (
      |  SELECT b.event_type, b.n_type,
      |    round(CAST(b.n_type AS DOUBLE) / t.n, 6) AS share,
      |    round(${PowerLift - 1.0} * CAST(b.n_type AS DOUBLE) / t.n, 6) AS delta,
      |    least(CAST(b.n_type AS DOUBLE) / t.n * $PowerLift, 0.999) AS sl,
      |    t.n, t.n_days
      |  FROM byt b CROSS JOIN tot t),
      |req AS (
      |  SELECT event_type, n_type, share, delta, n, n_days,
      |    CAST(ceil(($PowerZAlpha + $PowerZBeta) * ($PowerZAlpha + $PowerZBeta)
      |      * (share * (1.0 - share) + sl * (1.0 - sl))
      |      / (delta * delta)) AS BIGINT) AS n_required
      |  FROM calc)
      |SELECT event_type, n_type, share, delta, n_required,
      |  CAST(ceil(CAST(n_required AS DOUBLE) / (CAST(n AS DOUBLE) / n_days)) AS BIGINT) AS days_required
      |FROM req ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q271
  /** Conformal miscoverage level (intervals target 1−α coverage). */
  val ConformalAlpha = 0.1

  /** Split-conformal prediction intervals (Vovk; Angelopoulos–Bates) —
    * DISTRIBUTION-FREE uncertainty for any point model, the modern UQ
    * wrapper q185's OLS lacks: fit on a 50% hash split, take q̂ = the
    * ⌈(n+1)(1−α)⌉-th smallest absolute residual on a 25% calibration
    * split (an EXACT order statistic, not an interpolated quantile —
    * that's what makes the finite-sample guarantee hold), and the
    * interval ŷ ± q̂ covers the held-out 25% test split at ≥ 1−α
    * regardless of the residual distribution. Reports the fit, q̂,
    * and the measured test coverage (0.918 at sf0.01 for target 0.9).
    *
    * Shape for 100 TB: one scan with pushed-down hash folds; moments
    * are exact-integer/gridded DECIMAL sums (x offset to the broadcast
    * min so x² stays exact int64); the order statistic runs on the
    * O(distinct 6-dp residuals) frame (q243's rank-block class), never
    * a corpus-wide sort. */
  def q271Conformal(spark: SparkSession, sfDir: String): DataFrame = {
    val pool0 = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), expr("ts div 1000000000").as("x0"),
        round(col("value"), 6).as("y"),
        (MF.hash32(concat(lit("conf:"), col("event_id").cast("string")))
          % 4).as("fold"))
    val xm = pool0.agg(min(col("x0")).as("xmin"))
    val pool = graft.Checkpoints.materialize(pool0.crossJoin(broadcast(xm))
      .select(col("event_id"), (col("x0") - col("xmin")).as("x"),
        col("y"), col("fold")))
    val tm = pool.filter(col("fold") <= 1)
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 6))).cast("double").as("sx"),
        sum(col("y").cast(DecimalType(38, 6))).cast("double").as("sy"),
        sum((col("x") * col("x")).cast(DecimalType(38, 6)))
          .cast("double").as("sxx"),
        sum(grid6(col("x") * col("y")))
          .cast("double").as("sxy"))
    val bC = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    val fit = tm.select(col("n"), bC.as("b"),
      ((col("sy") - bC * col("sx")) / col("n")).as("a"))
    val resid = round(abs(col("y") - (col("a") + col("b") * col("x"))), 6)
    val cal = pool.filter(col("fold") === 2).crossJoin(broadcast(fit))
      .select(resid.as("r"))
    val caln = cal.agg(count(lit(1)).as("n_cal"))
    val k = caln.select(col("n_cal"),
      ceil((col("n_cal") + 1) * lit(1.0 - ConformalAlpha)).cast("long").as("k"))
    val w = Window.orderBy(col("r"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qhat = cal.groupBy(col("r")).agg(count(lit(1)).as("c"))
      .select(col("r"), sum(col("c")).over(w).as("cc"))
      .crossJoin(broadcast(k))
      .filter(col("cc") >= least(col("k"), col("n_cal")))
      .agg(min(col("r")).as("q"))
    val test = pool.filter(col("fold") === 3)
      .crossJoin(broadcast(fit)).crossJoin(broadcast(qhat))
      .agg(count(lit(1)).as("n_test"),
        sum(when(resid <= col("q"), 1L).otherwise(0L)).as("covered"))
    fit.crossJoin(broadcast(k)).crossJoin(broadcast(qhat))
      .crossJoin(broadcast(test))
      .select(col("n").as("n_train"), col("n_cal"), col("n_test"),
        round(col("b") * lit(3600.0), 6).as("slope_per_hour"),
        round(col("a"), 6).as("intercept_at_start"),
        round(col("q"), 6).as("q_hat"),
        round(col("covered").cast("double") / col("n_test"), 6).as("coverage"),
        lit(1.0 - ConformalAlpha).as("target"))
  }

  val q271Sql: String = {
    val h = Sql.hash32("'conf:' || CAST(event_id AS VARCHAR)")
    s"""WITH pool0 AS (
      |  SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS x0,
      |    round(value, 6) AS y, $h % 4 AS fold
      |  FROM events WHERE event_type = 'purchase'),
      |xm AS (SELECT min(x0) AS xmin FROM pool0),
      |pool AS (SELECT event_id, x0 - xmin AS x, y, fold FROM pool0 CROSS JOIN xm),
      |tm AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(round(x * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      |  FROM pool WHERE fold <= 1),
      |fit AS (
      |  SELECT n,
      |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
      |    (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS a
      |  FROM tm),
      |cal AS (
      |  SELECT round(abs(p.y - (f.a + f.b * p.x)), 6) AS r
      |  FROM pool p CROSS JOIN fit f WHERE p.fold = 2),
      |caln AS (SELECT count(*) AS n_cal FROM cal),
      |k AS (SELECT CAST(ceil((n_cal + 1) * ${1.0 - ConformalAlpha}) AS BIGINT) AS k, n_cal FROM caln),
      |byr AS (SELECT r, count(*) AS c FROM cal GROUP BY 1),
      |cum AS (
      |  SELECT r, CAST(sum(c) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cc
      |  FROM byr),
      |qhat AS (SELECT min(r) AS q FROM cum CROSS JOIN k WHERE cc >= least(k.k, k.n_cal)),
      |test AS (
      |  SELECT count(*) AS n_test,
      |    CAST(sum(CASE WHEN round(abs(p.y - (f.a + f.b * p.x)), 6) <= q.q
      |      THEN 1 ELSE 0 END) AS BIGINT) AS covered
      |  FROM pool p CROSS JOIN fit f CROSS JOIN qhat q WHERE p.fold = 3)
      |SELECT f.n AS n_train, k.n_cal, t.n_test,
      |  round(f.b * 3600.0, 6) AS slope_per_hour,
      |  round(f.a, 6) AS intercept_at_start,
      |  round(q.q, 6) AS q_hat,
      |  round(CAST(t.covered AS DOUBLE) / t.n_test, 6) AS coverage,
      |  CAST(${1.0 - ConformalAlpha} AS DOUBLE) AS target
      |FROM fit f CROSS JOIN k CROSS JOIN qhat q CROSS JOIN test t""".stripMargin
  }

  // --------------------------------------------------------------- q272
  /** CUPED — Controlled-experiment Using Pre-Experiment Data (Deng et
    * al.): the industry-standard A/B variance-reduction trick. Each
    * user's post-period metric is adjusted by their own pre-period
    * behavior, Y' = Y − θ(X − X̄) with θ = cov(X,Y)/var(X), which
    * strips the between-user variance a randomized assignment can't
    * control; the variance reduction IS ρ², so the experiment needs
    * (1−ρ²)× the samples q270 budgeted. On the fixture's memoryless
    * users ρ² ≈ 0.005 — the audit correctly reports that CUPED would
    * NOT help here, which is exactly what it must say before a team
    * bets a launch decision on it.
    *
    * Shape for 100 TB: one partial-agged per-user pass (the midpoint
    * is a 1-row broadcast), then a single 5-moment DECIMAL aggregate
    * and closed-form scalar arithmetic. */
  def q272Cuped(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 6)
    val ts = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        round(col("value"), 6).as("v"))
    val span = ts.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("mid"))
    val peruser = ts.crossJoin(broadcast(span))
      .groupBy(col("user_id"))
      .agg(round(sum(when(col("ts_us") < col("mid"), col("v").cast(dec))
        .otherwise(lit(0).cast(dec))).cast("double"), 6).as("pre"),
        round(sum(when(col("ts_us") >= col("mid"), col("v").cast(dec))
          .otherwise(lit(0).cast(dec))).cast("double"), 6).as("post"))
    val m = peruser.agg(count(lit(1)).as("n"),
      sum(col("pre").cast(dec)).cast("double").as("sx"),
      sum(col("post").cast(dec)).cast("double").as("sy"),
      sum(grid6(col("pre") * col("pre"))).cast("double").as("sxx"),
      sum(grid6(col("pre") * col("post"))).cast("double").as("sxy"),
      sum(grid6(col("post") * col("post"))).cast("double").as("syy"))
    val covN = col("n") * col("sxy") - col("sx") * col("sy")
    val varXN = col("n") * col("sxx") - col("sx") * col("sx")
    val varYN = col("n") * col("syy") - col("sy") * col("sy")
    m.select(col("n").as("n_users"),
      round(covN / varXN, 6).as("theta"),
      round(varYN / (col("n").cast("double") * col("n")), 6).as("var_post"),
      round(varYN / (col("n").cast("double") * col("n"))
        * (lit(1.0) - (covN * covN) / (varXN * varYN)), 6).as("var_adjusted"),
      round((covN * covN) / (varXN * varYN), 6).as("var_reduction"))
  }

  val q272Sql: String =
    """WITH span AS (
      |  SELECT (min(epoch_us(CAST(ts AS TIMESTAMP))) + max(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid
      |  FROM events),
      |peruser AS (
      |  SELECT user_id,
      |    round(CAST(sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) < mid
      |      THEN CAST(round(value, 6) AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE), 6) AS pre,
      |    round(CAST(sum(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= mid
      |      THEN CAST(round(value, 6) AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE), 6) AS post
      |  FROM events CROSS JOIN span GROUP BY 1),
      |m AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CAST(pre AS DECIMAL(38,6))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(post AS DECIMAL(38,6))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(round(pre * pre, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(round(pre * post, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(round(post * post, 6) AS DECIMAL(38,6))) AS DOUBLE) AS syy
      |  FROM peruser)
      |SELECT n AS n_users,
      |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS theta,
      |  round((n * syy - sy * sy) / (CAST(n AS DOUBLE) * n), 6) AS var_post,
      |  round((n * syy - sy * sy) / (CAST(n AS DOUBLE) * n)
      |    * (1.0 - ((n * sxy - sx * sy) * (n * sxy - sx * sy))
      |      / ((n * sxx - sx * sx) * (n * syy - sy * sy))), 6) AS var_adjusted,
      |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
      |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS var_reduction
      |FROM m""".stripMargin

  // --------------------------------------------------------------- q273
  /** Isotonic calibration (PAVA) of q156's reliability curve — the fix
    * q156's docstring promises: the weighted isotonic regression of
    * per-bin observed conversion on the activity-score bins, i.e. the
    * monotone map a scorer would serve instead of raw bin rates. The
    * fit uses the minimax identity
    * iso(i) = max_{j≤i} min_{k≥i} wmean(j..k) (Ayer et al. 1955, the
    * closed form of pool-adjacent-violators), which turns the
    * inherently sequential PAVA pass into three joins on the O(B)=10
    * bin frame; the spec recomputes via the actual PAVA pooling loop —
    * an independent formulation. `pooled` flags bins whose isotonic
    * value differs from the raw rate (a monotonicity violation got
    * pooled away).
    *
    * Shape for 100 TB: identical to q156 up to the bin frame (one
    * partial-agged per-user pass, 1-row broadcast max, tiny
    * groupBy(bin)); the whole isotonic solve then runs on ≤10 rows of
    * integer sums — the O(B³) interval enumeration is a broadcast
    * nested-loop join of three ≤10-row frames, invisible at any SF.
    * Exactness: wmean is one IEEE division of exact integer sums, and
    * min/max over identical doubles agree bit-for-bit cross-engine. */
  def q273Isotonic(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = perUserConversion(spark, sfDir)
    val mx = perUser.agg(max(col("n_ev")).as("max_ev"))
    val bins = graft.Checkpoints.materialize(perUser.crossJoin(broadcast(mx))
      .withColumn("bin", expr("least((n_ev * 10) div max_ev, 9)"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("n_ev")).as("s_ev"),
        sum(col("converted")).as("s_conv"),
        max(col("max_ev")).as("max_ev")))
    val bj = bins.select(col("bin").as("jb"))
    val bk = bins.select(col("bin").as("kb"))
    val bt = bins.select(col("bin").as("tb"), col("n_users").as("tn"),
      col("s_conv").as("tc"))
    val ivals = bj.join(broadcast(bk), col("jb") <= col("kb"))
      .join(broadcast(bt), col("tb").between(col("jb"), col("kb")))
      .groupBy(col("jb"), col("kb"))
      .agg((sum(col("tc")).cast("double") / sum(col("tn"))).as("wmean"))
    val bi = bins.select(col("bin").as("ib"))
    val iso = ivals.join(broadcast(bi),
        col("jb") <= col("ib") && col("kb") >= col("ib"))
      .groupBy(col("jb"), col("ib")).agg(min(col("wmean")).as("m"))
      .groupBy(col("ib").as("bin")).agg(max(col("m")).as("iso_rate"))
    bins.join(broadcast(iso), "bin")
      .select(col("bin"), col("n_users"),
        round(col("s_ev").cast("double") / (col("max_ev") * col("n_users")), 6)
          .as("mean_predicted"),
        round(col("s_conv").cast("double") / col("n_users"), 6)
          .as("observed_rate"),
        round(col("iso_rate"), 6).as("iso_rate"),
        (abs(col("iso_rate") - col("s_conv").cast("double") / col("n_users"))
          > 1e-12).as("pooled"))
      .orderBy(col("bin"))
  }

  val q273Sql: String =
    s"""WITH $perUserCte,
      |mx AS (SELECT max(n_ev) AS max_ev FROM per_user),
      |bins AS MATERIALIZED (
      |  SELECT least((n_ev * 10) // max_ev, 9) AS bin,
      |    count(*) AS n_users,
      |    CAST(sum(n_ev) AS BIGINT) AS s_ev,
      |    CAST(sum(converted) AS BIGINT) AS s_conv,
      |    max(max_ev) AS max_ev
      |  FROM per_user CROSS JOIN mx GROUP BY 1),
      |ivals AS MATERIALIZED (
      |  SELECT j.bin AS j, k.bin AS k,
      |    CAST(sum(t.s_conv) AS DOUBLE) / sum(t.n_users) AS wmean
      |  FROM bins j JOIN bins k ON j.bin <= k.bin
      |  JOIN bins t ON t.bin BETWEEN j.bin AND k.bin
      |  GROUP BY 1, 2),
      |step1 AS (
      |  SELECT v.j, i.bin AS i, min(v.wmean) AS m
      |  FROM ivals v JOIN bins i ON v.j <= i.bin AND v.k >= i.bin
      |  GROUP BY 1, 2),
      |iso AS (SELECT i AS bin, max(m) AS iso_rate FROM step1 GROUP BY 1)
      |SELECT b.bin, b.n_users,
      |  round(CAST(b.s_ev AS DOUBLE) / (b.max_ev * b.n_users), 6) AS mean_predicted,
      |  round(CAST(b.s_conv AS DOUBLE) / b.n_users, 6) AS observed_rate,
      |  round(iso.iso_rate, 6) AS iso_rate,
      |  (abs(iso.iso_rate - CAST(b.s_conv AS DOUBLE) / b.n_users) > 1e-12) AS pooled
      |FROM bins b JOIN iso ON b.bin = iso.bin
      |ORDER BY b.bin""".stripMargin

  // --------------------------------------------------------------- q278
  /** Delete-one-group jackknife for a RATIO estimator (Quenouille /
    * Tukey; Efron–Stein for grouped data) — the uncertainty tool the
    * bootstrap family (q250) doesn't cover: mean-per-unit KPIs like
    * revenue-per-purchase are ratios of two correlated sums, so
    * neither term's SE applies; the delete-one-DAY jackknife gives the
    * bias and standard error of the ratio itself while respecting
    * within-day correlation (days, not events, are the exchangeable
    * units — the cluster-jackknife convention). Reports the plain
    * ratio, the jackknife mean, the bias estimate (D−1)(r̄ − R), and
    * SE = √((D−1)/D · Σ(r_d − r̄)²).
    *
    * Shape for 100 TB: ONE partial-agged pass collapses the corpus to
    * the O(days) frame (counts + DECIMAL(38,6) sums of the 6dp-gridded
    * money column — exact, order-free); everything after runs on ≤D
    * rows with 1-row broadcast totals; the two small double sums grid
    * their terms round(,12) into DECIMAL(38,12) so even the tiny
    * exchanges are association-free. */
  def q278JackknifeRatio(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("ts div 86400000000000").as("day"))
      .agg(count(lit(1)).as("n_d"),
        dsum(round(col("value"), 6)).as("s_d")))
    val tot = daily.agg(sum(col("n_d")).as("n"),
      sum(col("s_d")).cast(DecimalType(38, 6)).as("s"),
      count(lit(1)).as("d"))
    val loo = graft.Checkpoints.materialize(daily.crossJoin(broadcast(tot))
      .select(col("day"),
        ((col("s") - col("s_d")).cast("double") / (col("n") - col("n_d")))
          .as("r"),
        col("n"), col("s"), col("d")))
    val jm = loo.agg((sum(round(col("r"), 12).cast(DecimalType(38, 12)))
      .cast("double") / max(col("d"))).as("rbar"))
    loo.crossJoin(broadcast(jm))
      .agg(max(col("d")).as("n_days"), max(col("n")).as("n_events"),
        round(max(col("s")).cast("double") / max(col("n")), 6).as("ratio"),
        round(max(col("rbar")), 6).as("jack_mean"),
        round((max(col("d")) - 1) * (max(col("rbar"))
          - max(col("s")).cast("double") / max(col("n"))), 6).as("jack_bias"),
        round(sqrt((max(col("d")) - lit(1.0)) / max(col("d"))
          * sum(round((col("r") - col("rbar")) * (col("r") - col("rbar")), 12)
            .cast(DecimalType(38, 12))).cast("double")), 6).as("jack_se"))
  }

  val q278Sql: String =
    s"""WITH daily AS MATERIALIZED (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    count(*) AS n_d,
      |    sum(CAST(round(value, 6) AS DECIMAL(38,6))) AS s_d
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_d) AS BIGINT) AS n, CAST(sum(s_d) AS DECIMAL(38,6)) AS s,
      |               count(*) AS d FROM daily),
      |loo AS MATERIALIZED (
      |  SELECT day, CAST(t.s - s_d AS DOUBLE) / (t.n - n_d) AS r, t.n, t.s, t.d
      |  FROM daily CROSS JOIN tot t),
      |jm AS (SELECT CAST(sum(CAST(round(r, 12) AS DECIMAL(38,12))) AS DOUBLE)
      |         / max(d) AS rbar FROM loo)
      |SELECT max(l.d) AS n_days, CAST(max(l.n) AS BIGINT) AS n_events,
      |  round(CAST(max(l.s) AS DOUBLE) / max(l.n), 6) AS ratio,
      |  round(max(j.rbar), 6) AS jack_mean,
      |  round((max(l.d) - 1) * (max(j.rbar) - CAST(max(l.s) AS DOUBLE) / max(l.n)), 6)
      |    AS jack_bias,
      |  round(sqrt((max(l.d) - 1.0) / max(l.d)
      |    * CAST(sum(CAST(round((l.r - j.rbar) * (l.r - j.rbar), 12)
      |                    AS DECIMAL(38,12))) AS DOUBLE)), 6) AS jack_se
      |FROM loo l CROSS JOIN jm j""".stripMargin

  // --------------------------------------------------------------- q283
  /** Fuzzy c-means cluster count / fuzziness rounds / distance floor
    * (≡ the oracle's unrolled rounds; δ guards the d→0 singularity of
    * the inverse-square membership and is interpolated as the SAME
    * literal into both engines). */
  val FcmClusters = 3
  val FcmRounds = 4
  val FcmDelta = "0.000001"

  /** Fuzzy c-means (Bezdek, m = 2) over order totals — SOFT clustering
    * beside q36's hard k-means: every order belongs to every cluster
    * with membership u_j ∝ 1/(d_j²+δ) (the m=2 closed form — pure
    * rational arithmetic, no libm), centers are the u²-weighted means,
    * so boundary orders split their mass instead of flipping sides
    * (the price-band segmentation read: `mass` says how much demand
    * each band really holds, counting the straddlers fractionally).
    * Deterministic init at the 1/4, 1/2, 3/4 points of the price range
    * (1-row broadcast min/max); [[FcmRounds]] update rounds then a
    * final membership pass against the settled centers.
    *
    * Shape for 100 TB: the corpus collapses in ONE partial-agged pass
    * to the O(distinct cents) value lattice (localCheckpoint'ed — it
    * feeds every round); each round is a broadcast of the c-row center
    * frame onto the lattice, a per-value window sum (12dp-gridded
    * DECIMAL so membership normalizers are association-free), and an
    * O(c)-row aggregate; round count fixed, never data-dependent. */
  def q283FuzzyCmeans(spark: SparkSession, sfDir: String): DataFrame = {
    // the lattice feeds FcmRounds+1 map-side membership passes with no
    // exchange of their own (the normalizer is in-row, below), so it is
    // materialized at the session's full parallelism — an explicit
    // count, because AQE's advisory-size coalescing would collapse this
    // small-bytes/compute-heavy frame to one partition and serialize
    // every round's decimal aggregation behind a single core
    val vals = graft.Checkpoints.materialize(Tables.orders(spark, sfDir)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
      .repartition(spark.sparkContext.defaultParallelism, col("cents")))
    val mm = vals.agg((min(col("cents")) / 100.0).as("lo"),
      (max(col("cents")) / 100.0).as("hi"))
    val centers0 = mm.select(explode(array((1 to FcmClusters).map { j =>
        struct(lit(j).as("j"),
          (col("lo") + (col("hi") - col("lo")) * lit(j * 0.25)).as("c"))
      }: _*)).as("jc"))
      .select(col("jc.j").as("j"), col("jc.c").as("c"))
    // memberships are RATIOS of the inverse-square weights, so a
    // constant rescale is identity math — but it moves the weights
    // from ~1e-10 (where the 12dp grid keeps 2 significant digits)
    // to ~1e2 (12 significant digits); without it the gridded
    // normalizers visibly bias the centers (~3e-5 relative)
    def wgOf(c: Column): Column = {
      val d = col("cents") / 100.0 - c
      round(lit(1.0e12) / (d * d + lit(FcmDelta.toDouble)), 12)
    }
    // The centers collapse to ONE broadcast row (bounded: FcmClusters
    // columns c1..ck), so the membership normalizer is an in-row exact
    // decimal add chain over per-slot weight columns instead of a
    // Window.partitionBy(cents) shuffle+sort of the vals×clusters frame
    // on EVERY round — and every expression stays plain codegen (no
    // interpreted higher-order functions in the hot per-row pass).
    // Same math bit for bit: each slot weight is the identical
    // 12dp-gridded double; DECIMAL(31,12) holds any single weight
    // exactly (wg ≤ 1e12/δ = 1e18 → 19 integer digits) and the
    // unrolled add widens precision per step (32,12 → 33,12 …), so the
    // normalizer equals the old Window DECIMAL(38,12) sum exactly
    // (decimal addition is exact and order-free). Holds to ~10^7
    // clusters before the 38-digit cap.
    def members(cs: DataFrame): DataFrame = {
      val slotCols = (1 to FcmClusters)
        .map(i => max(when(col("j") === i, col("c"))).as(s"c$i"))
      val csRow = cs.agg(slotCols.head, slotCols.tail: _*)
      val wgCols = (1 to FcmClusters).map(i => wgOf(col(s"c$i")).as(s"wg$i"))
      val tot = (1 to FcmClusters)
        .map(i => col(s"wg$i").cast(DecimalType(31, 12)))
        .reduce(_ + _).cast("double")
      vals.crossJoin(broadcast(csRow))
        .select(col("cents") +: col("cnt") +: wgCols: _*)
        .select(col("cents"), col("cnt"),
          explode(array((1 to FcmClusters).map(i =>
            struct(lit(i).as("j"), (col(s"wg$i") / tot).as("u"))): _*)).as("jw"))
        .select(col("cents"), col("cnt"), col("jw.j").as("j"), col("jw.u").as("u"))
    }
    val (centers, _) = graft.Checkpoints.iterate(centers0, FcmRounds) { centers =>
      members(centers).groupBy(col("j"))
        .agg(round(dec12(col("cnt") * col("u") * col("u") * (col("cents") / 100.0)) /
          dec12(col("cnt") * col("u") * col("u")), 12).as("c"))
    }
    val out = members(centers).groupBy(col("j"))
      .agg(round(dec12(col("cnt") * col("u")), 6).as("mass"))
      .join(centers, "j")
      .select(col("j"), round(col("c"), 6).as("center"), col("mass"))
      .orderBy(col("j"))
    out
  }

  val q283Sql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH vals AS MATERIALIZED (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, count(*) AS cnt
  FROM orders GROUP BY 1),
mm AS (SELECT min(cents) / 100.0 AS lo, max(cents) / 100.0 AS hi FROM vals),
c0 AS MATERIALIZED (
"""
    sb ++= (1 to FcmClusters).map { j =>
      s"  SELECT $j AS j, lo + (hi - lo) * ${j * 0.25} AS c FROM mm"
    }.mkString("", "\n  UNION ALL\n", "),\n")
    def roundCtes(r: String, prev: String): String =
      s"""w$r AS MATERIALIZED (
  SELECT v.cents, v.cnt, c.j,
    round(1000000000000.0 / (((v.cents / 100.0) - c.c) * ((v.cents / 100.0) - c.c) + $FcmDelta), 12) AS wg
  FROM vals v CROSS JOIN $prev c),
u$r AS MATERIALIZED (
  SELECT cents, cnt, j,
    wg / CAST(sum(CAST(wg AS DECIMAL(38,12))) OVER (PARTITION BY cents) AS DOUBLE) AS u
  FROM w$r),
"""
    for (r <- 1 to FcmRounds) {
      sb ++= roundCtes(r.toString, s"c${r - 1}")
      sb ++= s"""c$r AS MATERIALIZED (
  SELECT j, round(
    CAST(sum(CAST(round(cnt * u * u * (cents / 100.0), 12) AS DECIMAL(38,12))) AS DOUBLE) /
    CAST(sum(CAST(round(cnt * u * u, 12) AS DECIMAL(38,12))) AS DOUBLE), 12) AS c
  FROM u$r GROUP BY j),
"""
    }
    sb ++= roundCtes("F", s"c$FcmRounds")
    sb.setLength(sb.length - 2)
    sb ++= s"""
SELECT u.j, round(c.c, 6) AS center,
  round(CAST(sum(CAST(round(u.cnt * u.u, 12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS mass
FROM uF u JOIN c$FcmRounds c ON u.j = c.j
GROUP BY u.j, c.c ORDER BY u.j"""
    sb.toString
  }

  // --------------------------------------------------------------- q287
  /** Cochran–Mantel–Haenszel stratified A/B test across day strata —
    * the confounder-adjusted companion to q155's pooled z (pooling
    * across days invites Simpson's paradox when traffic mix shifts;
    * CMH tests the SAME arm split within every day and combines the
    * evidence): per day the 2×2 of (arm × converted-that-day) user
    * counts contributes a = x_A, E = n_A·m₁/n and the hypergeometric
    * V = n_A·n_B·m₁·m₀/(n²(n−1)); χ² = (Σa − ΣE)²/ΣV, plus the
    * Mantel–Haenszel pooled odds ratio Σ(a·d/n)/Σ(b·c/n). On the null
    * fixture χ² stays below 3.84 — the audit correctly refuses a
    * winner (q258/q254's discipline). Arm = q155's hash split.
    *
    * Shape for 100 TB: ONE corpus pass collapses to per-(user, day)
    * conversion flags, a second partial-agg to the O(days × 2) arm
    * frame (localCheckpoint'ed); the 2×2 assembly, the per-stratum
    * rational terms (12dp-gridded DECIMAL), and the final 1-row
    * combine all run on O(days) rows. */
  def q287Cmh(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), expr("ts div 86400000000000").as("day"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
    val arms = graft.Checkpoints.materialize(ud
      .withColumn("arm",
        when(pmod(MF.hash32(concat(lit("ab:"), col("user_id").cast("string"))),
          lit(2)) === 0, "A").otherwise("B"))
      .groupBy(col("day"), col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("x")))
    val t22 = arms.filter(col("arm") === "A")
      .select(col("day"), col("n").as("na"), col("x").as("xa"))
      .join(arms.filter(col("arm") === "B")
        .select(col("day"), col("n").as("nb"), col("x").as("xb")), "day")
      .filter(col("na") + col("nb") >= 2)
    val terms = t22.select(col("xa"),
      (col("na") * (col("xa") + col("xb")) /
        (col("na") + col("nb")).cast("double")).as("e"),
      (col("na") * col("nb").cast("double") * (col("xa") + col("xb")) *
        ((col("na") - col("xa")) + (col("nb") - col("xb"))) /
        ((col("na") + col("nb")).cast("double") * (col("na") + col("nb")) *
          (col("na") + col("nb") - 1))).as("v"),
      (col("xa") * (col("nb") - col("xb")).cast("double") /
        (col("na") + col("nb"))).as("ornum"),
      (col("xb") * (col("na") - col("xa")).cast("double") /
        (col("na") + col("nb"))).as("orden"))
    terms.agg(count(lit(1)).as("n_strata"), sum(col("xa")).as("sum_a"),
        dec12(col("e")).as("sum_e"), dec12(col("v")).as("sum_v"),
        dec12(col("ornum")).as("sor_n"), dec12(col("orden")).as("sor_d"))
      .select(col("n_strata"), col("sum_a"),
        round(col("sum_e"), 6).as("sum_e"), round(col("sum_v"), 6).as("sum_v"),
        round((col("sum_a") - col("sum_e")) * (col("sum_a") - col("sum_e")) /
          col("sum_v"), 6).as("chi2"),
        round(col("sor_n") / col("sor_d"), 6).as("or_mh"))
  }

  val q287Sql: String = {
    val h = Sql.hash32OfHex("md5('ab:' || CAST(user_id AS VARCHAR))")
    s"""WITH ud AS MATERIALIZED (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1, 2),
arms AS MATERIALIZED (
  SELECT day, (CASE WHEN $h % 2 = 0 THEN 'A' ELSE 'B' END) AS arm,
    count(*) AS n, sum(conv) AS x
  FROM ud GROUP BY 1, 2),
t22 AS MATERIALIZED (
  SELECT a.day, a.n AS na, a.x AS xa, b.n AS nb, b.x AS xb
  FROM (SELECT day, n, x FROM arms WHERE arm = 'A') a
  JOIN (SELECT day, n, x FROM arms WHERE arm = 'B') b USING (day)
  WHERE a.n + b.n >= 2),
terms AS (
  SELECT day, xa,
    na * (xa + xb) / CAST(na + nb AS DOUBLE) AS e,
    (na * CAST(nb AS DOUBLE) * (xa + xb) * ((na - xa) + (nb - xb)))
      / (CAST(na + nb AS DOUBLE) * (na + nb) * (na + nb - 1)) AS v,
    xa * CAST(nb - xb AS DOUBLE) / (na + nb) AS ornum,
    xb * CAST(na - xa AS DOUBLE) / (na + nb) AS orden
  FROM t22),
agg AS (
  SELECT count(*) AS n_strata, CAST(sum(xa) AS BIGINT) AS sum_a,
    CAST(sum(CAST(round(e, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sum_e,
    CAST(sum(CAST(round(v, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sum_v,
    CAST(sum(CAST(round(ornum, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sor_n,
    CAST(sum(CAST(round(orden, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sor_d
  FROM terms)
SELECT n_strata, sum_a, round(sum_e, 6) AS sum_e, round(sum_v, 6) AS sum_v,
  round((sum_a - sum_e) * (sum_a - sum_e) / sum_v, 6) AS chi2,
  round(sor_n / sor_d, 6) AS or_mh
FROM agg"""
  }

  // --------------------------------------------------------------- q289
  /** Difference-in-differences over the hash A/B split × a pre/post
    * split at the observed midpoint day — THE canonical
    * parallel-trends causal baseline, completing the experimentation
    * stack's identification ladder (q155 pooled z → q287 stratified
    * CMH → q272 CUPED variance reduction → THIS when treatment turns
    * on at a known date): DiD = (p̄_A,post − p̄_A,pre) − (p̄_B,post −
    * p̄_B,pre) on user-day conversion, SE from the four binomial cells,
    * z = DiD/SE. On the null fixture (nobody treated) |z| < 1.96 —
    * the audit correctly reads "no differential shift" (q258/q287's
    * refuse-to-fire discipline).
    *
    * Shape for 100 TB: one corpus pass → (user, day) flags, a second
    * partial-agg to the FOUR (arm × period) cells; the midpoint is a
    * 1-row broadcast; everything after is 1-row arithmetic. */
  def q289Did(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .groupBy(col("user_id"), expr("ts div 86400000000000").as("day"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv")))
    val mid = ud.agg(expr("(min(day) + max(day)) div 2").as("m"))
    val cells = ud
      .withColumn("arm",
        when(pmod(MF.hash32(concat(lit("ab:"), col("user_id").cast("string"))),
          lit(2)) === 0, "A").otherwise("B"))
      .crossJoin(broadcast(mid))
      .withColumn("post", when(col("day") > col("m"), 1).otherwise(0))
      .groupBy(col("arm"), col("post"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("x"))
    def cell(a: String, p: Int, c: String) =
      max(when(col("arm") === a && col("post") === p, col(c)))
    val p = cells.agg(
      cell("A", 0, "n").as("na0"), cell("A", 0, "x").as("xa0"),
      cell("A", 1, "n").as("na1"), cell("A", 1, "x").as("xa1"),
      cell("B", 0, "n").as("nb0"), cell("B", 0, "x").as("xb0"),
      cell("B", 1, "n").as("nb1"), cell("B", 1, "x").as("xb1"))
    val r = p.select(col("na0"), col("na1"), col("nb0"), col("nb1"),
      (col("xa0") / col("na0").cast("double")).as("pa0"),
      (col("xa1") / col("na1").cast("double")).as("pa1"),
      (col("xb0") / col("nb0").cast("double")).as("pb0"),
      (col("xb1") / col("nb1").cast("double")).as("pb1"))
    val did = (col("pa1") - col("pa0")) - (col("pb1") - col("pb0"))
    val se = sqrt(col("pa0") * (lit(1.0) - col("pa0")) / col("na0")
      + col("pa1") * (lit(1.0) - col("pa1")) / col("na1")
      + col("pb0") * (lit(1.0) - col("pb0")) / col("nb0")
      + col("pb1") * (lit(1.0) - col("pb1")) / col("nb1"))
    r.select(col("na0"), col("na1"), col("nb0"), col("nb1"),
      round(col("pa0"), 6).as("pa0"), round(col("pa1"), 6).as("pa1"),
      round(col("pb0"), 6).as("pb0"), round(col("pb1"), 6).as("pb1"),
      round(did, 6).as("did"), round(se, 6).as("se"),
      round(did / se, 6).as("z"))
  }

  val q289Sql: String = {
    val h = Sql.hash32OfHex("md5('ab:' || CAST(user_id AS VARCHAR))")
    s"""WITH ud AS MATERIALIZED (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1, 2),
mid AS (SELECT (min(day) + max(day)) // 2 AS m FROM ud),
cells AS MATERIALIZED (
  SELECT (CASE WHEN $h % 2 = 0 THEN 'A' ELSE 'B' END) AS arm,
    CASE WHEN day > (SELECT m FROM mid) THEN 1 ELSE 0 END AS post,
    count(*) AS n, sum(conv) AS x
  FROM ud GROUP BY 1, 2),
p AS (
  SELECT
    max(CASE WHEN arm='A' AND post=0 THEN n END) AS na0, max(CASE WHEN arm='A' AND post=0 THEN x END) AS xa0,
    max(CASE WHEN arm='A' AND post=1 THEN n END) AS na1, max(CASE WHEN arm='A' AND post=1 THEN x END) AS xa1,
    max(CASE WHEN arm='B' AND post=0 THEN n END) AS nb0, max(CASE WHEN arm='B' AND post=0 THEN x END) AS xb0,
    max(CASE WHEN arm='B' AND post=1 THEN n END) AS nb1, max(CASE WHEN arm='B' AND post=1 THEN x END) AS xb1
  FROM cells),
r AS (
  SELECT na0, na1, nb0, nb1,
    xa0 / CAST(na0 AS DOUBLE) AS pa0, xa1 / CAST(na1 AS DOUBLE) AS pa1,
    xb0 / CAST(nb0 AS DOUBLE) AS pb0, xb1 / CAST(nb1 AS DOUBLE) AS pb1
  FROM p)
SELECT na0, na1, nb0, nb1,
  round(pa0, 6) AS pa0, round(pa1, 6) AS pa1,
  round(pb0, 6) AS pb0, round(pb1, 6) AS pb1,
  round((pa1 - pa0) - (pb1 - pb0), 6) AS did,
  round(sqrt(pa0*(1.0-pa0)/na0 + pa1*(1.0-pa1)/na1 + pb0*(1.0-pb0)/nb0 + pb1*(1.0-pb1)/nb1), 6) AS se,
  round(((pa1 - pa0) - (pb1 - pb0)) / sqrt(pa0*(1.0-pa0)/na0 + pa1*(1.0-pa1)/na1 + pb0*(1.0-pb0)/nb0 + pb1*(1.0-pb1)/nb1), 6) AS z
FROM r"""
  }

  // --------------------------------------------------------------- q290
  /** Two-way fixed-effects (within) regression of daily user spend on
    * daily activity — the panel-econometrics workhorse q185's pooled
    * OLS is not: demeaning y and x by BOTH user and day (ỹ = y − ȳ_u −
    * ȳ_d + ȳ) absorbs every time-invariant user trait and every
    * common daily shock, so β_fe = Σx̃ỹ/Σx̃² is identified only from
    * WITHIN-user, within-day variation; reported beside the pooled
    * slope — their gap is exactly the confounding the fixed effects
    * absorb. The causal-adjustment sibling of q272 (CUPED uses one
    * pre-period covariate; FE uses the full panel structure).
    *
    * Shape for 100 TB: ONE corpus pass collapses to the (user, day)
    * panel (localCheckpoint'ed — it feeds both mean frames, the
    * moments, and the demeaned pass); user/day mean frames are
    * O(users)/O(days) partial aggs joined back by key; the demeaned
    * products are 12dp-gridded DECIMAL sums; pooled moments are exact
    * int64/DECIMAL until the final closed form. */
  def q290FixedEffects(spark: SparkSession, sfDir: String): DataFrame = {
    val dec6 = DecimalType(38, 6)
    val panel = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .groupBy(col("user_id"), expr("ts div 86400000000000").as("day"))
      .agg(count(lit(1)).as("x"),
        coalesce(sum(when(col("event_type") === "purchase",
          grid6(col("value")))), lit(0).cast(dec6)).as("y")))
    val um = panel.groupBy(col("user_id")).agg(
      (sum(col("x")).cast("double") / count(lit(1))).as("xu"),
      (sum(col("y")).cast("double") / count(lit(1))).as("yu"))
    val dm = panel.groupBy(col("day")).agg(
      (sum(col("x")).cast("double") / count(lit(1))).as("xd"),
      (sum(col("y")).cast("double") / count(lit(1))).as("yd"))
    val gm = panel.agg(
      (sum(col("x")).cast("double") / count(lit(1))).as("xg"),
      (sum(col("y")).cast("double") / count(lit(1))).as("yg"),
      count(lit(1)).as("n"), sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).cast("double").as("sxy"))
    val xt = col("x") - col("xu") - col("xd") + col("xg")
    val yt = col("y").cast("double") - col("yu") - col("yd") + col("yg")
    val tw = panel.join(um, "user_id").join(dm, "day")
      .crossJoin(broadcast(gm.select(col("xg"), col("yg"))))
      .agg(dec12(xt * yt).as("sxy_w"), dec12(xt * xt).as("sxx_w"),
        count(lit(1)).as("n_cells"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("day")).as("n_days"))
    tw.crossJoin(broadcast(gm))
      .select(col("n_cells"), col("n_users"), col("n_days"),
        round((col("sxy") - col("n") * col("xg") * col("yg")) /
          (col("sxx") - col("n") * col("xg") * col("xg")), 6).as("beta_pooled"),
        round(col("sxy_w") / col("sxx_w"), 6).as("beta_fe"))
  }

  val q290Sql: String =
    """WITH panel AS MATERIALIZED (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    count(*) AS x,
    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
      THEN CAST(round(value, 6) AS DECIMAL(38,6)) END), 0) AS DECIMAL(38,6)) AS y
  FROM events GROUP BY 1, 2),
um AS MATERIALIZED (
  SELECT user_id, CAST(sum(x) AS DOUBLE) / count(*) AS xu,
    CAST(sum(y) AS DOUBLE) / count(*) AS yu
  FROM panel GROUP BY 1),
dm AS MATERIALIZED (
  SELECT day, CAST(sum(x) AS DOUBLE) / count(*) AS xd,
    CAST(sum(y) AS DOUBLE) / count(*) AS yd
  FROM panel GROUP BY 1),
gm AS (
  SELECT CAST(sum(x) AS DOUBLE) / count(*) AS xg,
    CAST(sum(y) AS DOUBLE) / count(*) AS yg,
    count(*) AS n,
    CAST(sum(CAST(x AS BIGINT) * x) AS BIGINT) AS sxx,
    CAST(sum(x * y) AS DOUBLE) AS sxy
  FROM panel),
tw AS (
  SELECT
    CAST(sum(CAST(round((p.x - u.xu - d.xd + g.xg) * (CAST(p.y AS DOUBLE) - u.yu - d.yd + g.yg), 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy_w,
    CAST(sum(CAST(round((p.x - u.xu - d.xd + g.xg) * (p.x - u.xu - d.xd + g.xg), 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx_w,
    count(*) AS n_cells, count(DISTINCT p.user_id) AS n_users, count(DISTINCT p.day) AS n_days
  FROM panel p JOIN um u USING (user_id) JOIN dm d USING (day) CROSS JOIN gm g)
SELECT t.n_cells, t.n_users, t.n_days,
  round((g.sxy - g.n * g.xg * g.yg) / (g.sxx - g.n * g.xg * g.xg), 6) AS beta_pooled,
  round(t.sxy_w / t.sxx_w, 6) AS beta_fe
FROM tw t CROSS JOIN gm g"""

  // --------------------------------------------------------------- q292
  /** GBM boosting stages and (dyadic) shrinkage. */
  val GbmStages = 2
  val GbmNu = 0.5

  /** Gradient-boosting rounds (squared loss) on the conversion label —
    * the STAGEWISE-additive mechanics q187's single stump and q235's
    * AdaBoost reweighting sit beside: stage k fits a depth-1 regressor
    * to the CURRENT residuals (split = argmax n_L·r̄_L² + n_R·r̄_R²,
    * the exact SSE-gain identity), then updates F ← F + ν·γ_side with
    * shrinkage ν = 1/2; the output is the model TRAJECTORY — one row
    * per stage with its split, leaf deltas, and train MSE, whose
    * monotone decrease (0.249 → 0.196 → 0.168 at sf0.001) is the
    * boosting contract made visible.
    *
    * Shape for 100 TB: the corpus collapses ONCE to the O(distinct
    * activity) histogram (localCheckpoint'ed); every stage is a
    * 12dp-gridded DECIMAL prefix window + a 1-row TakeOrdered pick
    * broadcast back — stage cost is O(histogram), never O(corpus),
    * and the stage count is a fixed constant. */
  def q292GbmRounds(spark: SparkSession, sfDir: String): DataFrame = {
    def dec12w(c: Column) = round(c, 12).cast(DecimalType(38, 12))
    val hist = graft.Checkpoints.materialize(labeledUsers(spark, sfDir)
      .groupBy(col("x")).agg(count(lit(1)).as("n"),
        sum(col("y")).cast("long").as("p")))
    val f0 = hist.agg((sum(col("p")).cast("double") / sum(col("n"))).as("f0"),
      sum(col("n")).as("nt"))
    val h0 = hist.crossJoin(broadcast(f0.select(col("f0"))))
      .select(col("x"), col("n"), col("p"), col("f0").as("f"))
    val ntF = broadcast(f0.select(col("nt")))
    def mseOf(frame: DataFrame): DataFrame = frame
      .agg(sum(dec12w(col("p") * (lit(1.0) - col("f")) * (lit(1.0) - col("f"))
        + (col("n") - col("p")) * col("f") * col("f"))).cast("double").as("s"))
      .crossJoin(ntF)
      .select(round(col("s") / col("nt"), 6).as("mse"))
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // each stage row materializes EAGERLY: its plan reads the stage's
    // h snapshot, which the next round frees — a lazy plan would chase
    // freed checkpoint blocks at action time
    val stages = scala.collection.mutable.ArrayBuffer(
      graft.Checkpoints.materialize(
        mseOf(h0).select(lit(0).as("stage"), lit(-1.0).as("split_x"),
          lit(0.0).as("gamma_left"), lit(0.0).as("gamma_right"), col("mse"))))
    val picks = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def stageRow(h: DataFrame): Boolean = {
      stages += graft.Checkpoints.materialize(picks.last.crossJoin(mseOf(h))
        .select(lit(picks.size).as("stage"), col("sx").as("split_x"),
          round(col("gl"), 6).as("gamma_left"), round(col("gr"), 6).as("gamma_right"),
          col("mse")))
      false
    }
    graft.Checkpoints.iterate(h0, GbmStages, stageRow) { h =>
      val cum = h
        .withColumn("nl", sum(col("n")).over(w))
        .withColumn("rl", sum(dec12w(col("p") - col("n") * col("f"))).over(w)
          .cast("double"))
      val tot = h.agg(sum(col("n")).as("nt2"),
        sum(dec12w(col("p") - col("n") * col("f"))).cast("double").as("rt"))
      val pick = graft.Checkpoints.materialize(cum.crossJoin(broadcast(tot))
        .filter(col("nl") < col("nt2"))
        .select(col("x"), col("nl"), col("rl"), col("nt2"), col("rt"),
          (col("rl") * col("rl") / col("nl") + (col("rt") - col("rl")) *
            (col("rt") - col("rl")) / (col("nt2") - col("nl"))).as("gain"))
        .orderBy(col("gain").desc, col("x")).limit(1)
        .select(col("x").as("sx"), (col("rl") / col("nl")).as("gl"),
          ((col("rt") - col("rl")) / (col("nt2") - col("nl"))).as("gr")))
      picks += pick
      h.crossJoin(broadcast(pick))
        .select(col("x"), col("n"), col("p"),
          (col("f") + lit(GbmNu) * when(col("x") <= col("sx"), col("gl"))
            .otherwise(col("gr"))).as("f"))
    }
    stages.reduce(_ unionAll _).orderBy(col("stage"))
  }

  val q292Sql: String = {
    def stage(k: Int): String =
      s"""cum$k AS (
  SELECT x, n, p, f,
    CAST(sum(n) OVER w AS BIGINT) AS nl,
    CAST(sum(CAST(round(p - n * f, 12) AS DECIMAL(38,12))) OVER w AS DOUBLE) AS rl
  FROM hist${k - 1}
  WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
tot$k AS (
  SELECT CAST(sum(n) AS BIGINT) AS nt,
    CAST(sum(CAST(round(p - n * f, 12) AS DECIMAL(38,12))) AS DOUBLE) AS rt
  FROM hist${k - 1}),
gain$k AS (
  SELECT c.x, c.nl, c.rl, t.nt, t.rt,
    c.rl * c.rl / c.nl + (t.rt - c.rl) * (t.rt - c.rl) / (t.nt - c.nl) AS gain
  FROM cum$k c CROSS JOIN tot$k t WHERE c.nl < t.nt),
pick$k AS (
  SELECT x AS sx, rl / nl AS gl, (rt - rl) / (nt - nl) AS gr
  FROM gain$k ORDER BY gain DESC, x LIMIT 1),
hist$k AS MATERIALIZED (
  SELECT h.x, h.n, h.p,
    h.f + $GbmNu * (CASE WHEN h.x <= p.sx THEN p.gl ELSE p.gr END) AS f
  FROM hist${k - 1} h CROSS JOIN pick$k p),
mse$k AS (
  SELECT round(CAST(sum(CAST(round(p * (1.0 - f) * (1.0 - f) + (n - p) * f * f, 12) AS DECIMAL(38,12))) AS DOUBLE)
    / (SELECT nt FROM tot$k), 6) AS mse FROM hist$k)"""
    s"""WITH $labeledUsersSql,
hist AS MATERIALIZED (
  SELECT x, count(*) AS n, CAST(sum(y) AS BIGINT) AS p FROM per_user GROUP BY x),
f0 AS (SELECT CAST(sum(p) AS DOUBLE) / sum(n) AS f0,
  CAST(sum(n) AS BIGINT) AS nt FROM hist),
hist0 AS MATERIALIZED (
  SELECT h.x, h.n, h.p, f.f0 AS f FROM hist h CROSS JOIN f0 f),
mse0 AS (
  SELECT round(CAST(sum(CAST(round(p * (1.0 - f) * (1.0 - f) + (n - p) * f * f, 12) AS DECIMAL(38,12))) AS DOUBLE)
    / (SELECT nt FROM f0), 6) AS mse FROM hist0),
${(1 to GbmStages).map(stage).mkString(",\n")}
SELECT 0 AS stage, -1.0 AS split_x, 0.0 AS gamma_left, 0.0 AS gamma_right,
  (SELECT mse FROM mse0) AS mse
UNION ALL
SELECT 1, (SELECT sx FROM pick1), round((SELECT gl FROM pick1), 6),
  round((SELECT gr FROM pick1), 6), (SELECT mse FROM mse1)
UNION ALL
SELECT 2, (SELECT sx FROM pick2), round((SELECT gl FROM pick2), 6),
  round((SELECT gr FROM pick2), 6), (SELECT mse FROM mse2)
ORDER BY stage"""
  }

  // --------------------------------------------------------------- q293
  /** Cliff's delta + common-language effect size between purchase and
    * click values — the EFFECT-SIZE companion to q243's rank-sum TEST
    * (a p-value says "detectable", not "big"; δ = P(X>Y) − P(X<Y)
    * says how large the dominance actually is, scale-free and
    * outlier-immune where Cohen's d is neither): computed EXACTLY on
    * the q243/q257 rank-block engine — pool collapses to the O(distinct
    * 6dp values) frame, one ordered prefix window yields, per value,
    * the opposite-group mass strictly below, and gt/lt/eq are exact
    * integer pair counts (the one float division is the final δ).
    *
    * Shape for 100 TB: identical to q243 — the corpus never sorts
    * globally; value blocks partial-agg map-side, the window runs on
    * the distinct-value frame, pair counts accumulate as DECIMAL(38,0)
    * (int64-safe at any SF). */
  def q293CliffsDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val pool = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(round(col("value"), 6).as("v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("grp"))
    val byv = pool.groupBy(col("v")).agg(sum(col("grp")).as("c1"),
      (count(lit(1)) - sum(col("grp"))).as("c2"))
    val w = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byv
      .withColumn("cum1", coalesce(sum(col("c1")).over(w), lit(0L)))
      .withColumn("cum2", coalesce(sum(col("c2")).over(w), lit(0L)))
    def decCnt(c: Column): Column =
      sum(c.cast(DecimalType(38, 0))).cast("long")
    ranked.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        decCnt(col("c1") * col("cum2")).as("gt"),
        decCnt(col("c2") * col("cum1")).as("lt"),
        decCnt(col("c1") * col("c2")).as("eq"))
      .select(col("n1"), col("n2"), col("gt"), col("lt"), col("eq"),
        round((col("gt") - col("lt")) /
          (col("n1").cast("double") * col("n2")), 6).as("cliffs_delta"),
        round((col("gt") + lit(0.5) * col("eq")) /
          (col("n1").cast("double") * col("n2")), 6).as("cles"))
  }

  val q293Sql: String =
    """WITH pool AS (
  SELECT round(value, 6) AS v,
    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp
  FROM events WHERE event_type IN ('purchase', 'click')),
byv AS (SELECT v, CAST(sum(grp) AS BIGINT) AS c1, CAST(count(*) - sum(grp) AS BIGINT) AS c2
  FROM pool GROUP BY v),
ranked AS (
  SELECT v, c1, c2,
    CAST(coalesce(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum1,
    CAST(coalesce(sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum2
  FROM byv),
agg AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
    CAST(sum(CAST(c1 * cum2 AS DECIMAL(38,0))) AS BIGINT) AS gt,
    CAST(sum(CAST(c2 * cum1 AS DECIMAL(38,0))) AS BIGINT) AS lt,
    CAST(sum(CAST(c1 * c2 AS DECIMAL(38,0))) AS BIGINT) AS eq
  FROM ranked)
SELECT n1, n2, gt, lt, eq,
  round((gt - lt) / (CAST(n1 AS DOUBLE) * n2), 6) AS cliffs_delta,
  round((gt + 0.5 * eq) / (CAST(n1 AS DOUBLE) * n2), 6) AS cles
FROM agg"""

  // --------------------------------------------------------------- q294
  /** Off-policy evaluation (IPS / SNIPS / ESS) of a uniform
    * type-serving policy against the logged traffic — the
    * counterfactual "what would mean event value be if every type
    * were served equally?" that A/B tests answer only by running:
    * importance weights w = π(t)/p̂(t|hour) with the LOGGING
    * propensities Laplace-smoothed hourly type shares (the logging
    * system's model — smoothing is what keeps unlogged actions
    * non-fatal, and is exactly why SNIPS ≠ IPS: self-normalization
    * refunds the weight mass smoothing removes; measured at sf0.001
    * truth 50.05, IPS 49.39, SNIPS 49.88 — the textbook correction);
    * ESS = (Σw)²/Σw² prices the variance cost of the reweighting
    * before anyone trusts the number.
    *
    * Shape for 100 TB: ONE corpus pass collapses to the O(types×24)
    * cell frame (localCheckpoint'ed); propensities, weights, and all
    * four estimator sums are 12dp-gridded DECIMAL algebra on that
    * tiny frame. */
  def q294OffPolicy(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        expr("(ts div 3600000000000) % 24").as("hod"))
      .agg(count(lit(1)).as("n_c"),
        sum(grid6(col("value"))).cast("double").as("sv_c")))
    val hods = cells.groupBy(col("hod")).agg(sum(col("n_c")).as("n_h"))
    val tot = cells.agg(sum(col("n_c")).as("n"),
      countDistinct(col("event_type")).as("n_types"))
    val w = (lit(1.0) / col("n_types")) /
      ((col("n_c") + lit(1.0)) / (col("n_h") + col("n_types")))
    val agg = cells.join(broadcast(hods), "hod").crossJoin(broadcast(tot))
      .select(col("n_c"), col("sv_c"), w.as("w"))
      .agg(sum(grid6(col("sv_c"))).cast("double").as("sv"),
        dec12(col("w") * col("sv_c")).as("swv"),
        dec12(col("w") * col("n_c")).as("sw"),
        dec12(col("w") * col("w") * col("n_c")).as("sww"))
    agg.crossJoin(broadcast(tot))
      .select(col("n"), col("n_types"),
        round(col("sv") / col("n"), 6).as("naive_mean"),
        round(col("swv") / col("n"), 6).as("ips"),
        round(col("swv") / col("sw"), 6).as("snips"),
        round(col("sw") * col("sw") / col("sww"), 6).as("ess"),
        round((col("sw") * col("sw") / col("sww")) / col("n"), 6).as("ess_share"))
  }

  val q294Sql: String =
    """WITH cells AS MATERIALIZED (
  SELECT event_type, (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hod,
    count(*) AS n_c,
    CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sv_c
  FROM events GROUP BY 1, 2),
hods AS (SELECT hod, CAST(sum(n_c) AS BIGINT) AS n_h FROM cells GROUP BY 1),
tot AS (SELECT CAST(sum(n_c) AS BIGINT) AS n, count(DISTINCT event_type) AS n_types FROM cells),
wts AS (
  SELECT c.event_type, c.hod, c.n_c, c.sv_c,
    (1.0 / t.n_types) / ((c.n_c + 1.0) / (h.n_h + t.n_types)) AS w
  FROM cells c JOIN hods h USING (hod) CROSS JOIN tot t),
agg AS (
  SELECT CAST(sum(CAST(round(sv_c, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sv,
    CAST(sum(CAST(round(w * sv_c, 12) AS DECIMAL(38,12))) AS DOUBLE) AS swv,
    CAST(sum(CAST(round(w * n_c, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sw,
    CAST(sum(CAST(round(w * w * n_c, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sww
  FROM wts)
SELECT t.n, t.n_types,
  round(a.sv / t.n, 6) AS naive_mean,
  round(a.swv / t.n, 6) AS ips,
  round(a.swv / a.sw, 6) AS snips,
  round(a.sw * a.sw / a.sww, 6) AS ess,
  round((a.sw * a.sw / a.sww) / t.n, 6) AS ess_share
FROM agg a CROSS JOIN tot t"""

  // --------------------------------------------------------------- q297
  /** IPF (raking) round budget. */
  val RakeRounds = 4

  /** Iterative proportional fitting (raking; Deming–Stephan) of cell
    * weights over the (event_type × hour-of-day) contingency table to
    * UNIFORM type and hour margins — the survey-statistics reweighting
    * that q294's single-margin importance weights generalize: each
    * round divides by the current row margins then the column margins;
    * geometric convergence leaves max row-margin error ≤ 1e-6 after
    * [[RakeRounds]] rounds (reported — the convergence proof rides in
    * the output). The canonical dataset-rebalancing tool when a
    * training mix must hit TWO marginal targets at once.
    *
    * Shape for 100 TB: ONE corpus pass collapses to the O(types×24)
    * cell frame; every round is two tiny margin aggregates joined
    * back (12dp-gridded DECIMAL masses), rounds a fixed constant. */
  def q297Raking(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .groupBy(col("event_type"),
        expr("(ts div 3600000000000) % 24").as("hod"))
      .agg(count(lit(1)).as("n")))
    val tot = broadcast(cells.agg(sum(col("n")).as("n_all"),
      countDistinct(col("event_type")).as("n_t"),
      countDistinct(col("hod")).as("n_h")))
    val (cur, _) = graft.Checkpoints.iterate(cells.select(col("event_type"), col("hod"),
        col("n"), lit(1.0).as("w")), RakeRounds) { cur =>
      val rowm = cur.groupBy(col("event_type"))
        .agg(dec12(col("w") * col("n")).as("mass"))
      val wrStep = cur.join(broadcast(rowm), "event_type").crossJoin(tot)
        .select(col("event_type"), col("hod"), col("n"),
          (col("w") * ((col("n_all").cast("double") / col("n_t")) / col("mass")))
            .as("w"))
      val colm = wrStep.groupBy(col("hod"))
        .agg(dec12(col("w") * col("n")).as("mass"))
      wrStep.join(broadcast(colm), "hod").crossJoin(tot)
        .select(col("event_type"), col("hod"), col("n"),
          round(col("w") * ((col("n_all").cast("double") / col("n_h")) / col("mass")),
            12).as("w"))
    }
    val err = cur.crossJoin(tot)
      .groupBy(col("event_type"), col("n_all"), col("n_t"))
      .agg(dec12(col("w") * col("n")).as("mass"))
      .select(abs(col("mass") / (col("n_all").cast("double") / col("n_t")) - lit(1.0))
        .as("rm"))
      .agg(max(col("rm")).as("row_err_max"))
    val out = cur.crossJoin(broadcast(err))
      .select(col("event_type"), col("hod"), col("n"), round(col("w"), 6).as("w"),
        round(col("row_err_max"), 6).as("row_err_max"))
      .orderBy(col("event_type"), col("hod"))
    out
  }

  val q297Sql: String = {
    def ds(t: String) = s"CAST(sum(CAST(round($t, 12) AS DECIMAL(38,12))) AS DOUBLE)"
    val sb = new StringBuilder
    sb ++= s"""WITH cells AS MATERIALIZED (
  SELECT event_type, (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hod,
    CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_all,
  count(DISTINCT event_type) AS n_t, count(DISTINCT hod) AS n_h FROM cells),
w0 AS MATERIALIZED (SELECT event_type, hod, n, 1.0 AS w FROM cells),
"""
    for (r <- 1 to RakeRounds) {
      sb ++= s"""rowm$r AS (
  SELECT event_type, ${ds("w * n")} AS mass FROM w${r - 1} GROUP BY 1),
wr$r AS MATERIALIZED (
  SELECT c.event_type, c.hod, c.n,
    c.w * ((CAST(t.n_all AS DOUBLE) / t.n_t) / m.mass) AS w
  FROM w${r - 1} c JOIN rowm$r m USING (event_type) CROSS JOIN tot t),
colm$r AS (
  SELECT hod, ${ds("w * n")} AS mass FROM wr$r GROUP BY 1),
w$r AS MATERIALIZED (
  SELECT c.event_type, c.hod, c.n,
    round(c.w * ((CAST(t.n_all AS DOUBLE) / t.n_h) / m.mass), 12) AS w
  FROM wr$r c JOIN colm$r m USING (hod) CROSS JOIN tot t),
"""
    }
    sb.setLength(sb.length - 2)
    sb ++= s"""
, err AS (
  SELECT max(abs(rm - 1.0)) AS row_err_max FROM (
    SELECT ${ds("w * n")}
      / ((SELECT CAST(n_all AS DOUBLE) / n_t FROM tot)) AS rm
    FROM w$RakeRounds GROUP BY event_type))
SELECT f.event_type, f.hod, f.n, round(f.w, 6) AS w,
  round((SELECT row_err_max FROM err), 6) AS row_err_max
FROM w$RakeRounds f ORDER BY f.event_type, f.hod"""
    sb.toString
  }

  // --------------------------------------------------------------- q299
  /** Qini / uplift curve over activity deciles — the targeting view
    * of the A/B stack (q155 says "is there an effect", q270 "how many
    * users", THIS says "WHOM to treat"): users ranked by activity
    * (the q186/q226 propensity ranking), and per cumulative decile
    * qini(d) = x_T(d) − x_C(d)·n_T(d)/n_C(d) — incremental
    * conversions vs a control scaled to the treated volume
    * (Radcliffe). On the null fixture the curve hovers around 0 with
    * no systematic lift — the refuse-to-flatter read (q289/q287's
    * discipline) a real uplift model would have to beat.
    *
    * Deciles are FROZEN ACTIVITY-VALUE deciles (q226/q192's
    * percentile-broadcast binning, decile 1 = most active), not
    * equal-count ntile ranks: ntile needs a total order of every user
    * through one partition — the exact global-sort shape this repo
    * bans — while value-threshold bins are map-side against a 9-value
    * broadcast. Ties collapse into the same bin (an empty decile is
    * possible), which is the honest read for targeting: users with
    * identical activity are indistinguishable to the ranking.
    *
    * Shape for 100 TB: one corpus pass → per-user frame; a 9-value
    * percentile broadcast; map-side binning; cumulative cells are an
    * O(10)-row window. */
  def q299Qini(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("activity"),
        max(when(col("event_type") === "purchase" &&
          expr("ts div 86400000000000") === AbLastDay, 1L).otherwise(0L))
          .as("conv"))
      .withColumn("treated",
        when(pmod(MF.hash32(concat(lit("ab:"), col("user_id").cast("string"))),
          lit(2)) === 0, 1L).otherwise(0L))
    val qs = array((1 to 9).map(i => lit(i / 10.0)): _*)
    val th = perUser.agg(percentile(col("activity"), qs).as("t"))
    val ranked = perUser.crossJoin(broadcast(th))
      .withColumn("decile",
        lit(10) - (1 to 9).map(i =>
          when(col("activity") > round(col("t")(i - 1), 6), 1)
            .otherwise(0)).reduce(_ + _))
    val byDec = ranked.groupBy(col("decile"))
      .agg(sum(col("treated")).as("t"), sum(col("treated") * col("conv")).as("xt"),
        sum(lit(1L) - col("treated")).as("c"),
        sum((lit(1L) - col("treated")) * col("conv")).as("xc"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDec
      .select(col("decile"), sum(col("t")).over(w).as("n_t"),
        sum(col("xt")).over(w).as("x_t"), sum(col("c")).over(w).as("n_c"),
        sum(col("xc")).over(w).as("x_c"))
      .select(col("decile"), col("n_t"), col("x_t"), col("n_c"), col("x_c"),
        round(col("x_t") - col("x_c") * (col("n_t").cast("double") / col("n_c")), 6)
          .as("qini"))
      .orderBy(col("decile"))
  }

  val q299Sql: String = {
    val h = Sql.hash32OfHex("md5('ab:' || CAST(user_id AS VARCHAR))")
    s"""WITH per_user AS MATERIALIZED (
  SELECT user_id, count(*) AS activity,
    max(CASE WHEN event_type = 'purchase'
         AND epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 = $AbLastDay
         THEN 1 ELSE 0 END) AS conv,
    CASE WHEN $h % 2 = 0 THEN 1 ELSE 0 END AS treated
  FROM events GROUP BY user_id),
th AS (
  SELECT quantile_cont(activity, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS t
  FROM per_user),
ranked AS (
  SELECT treated, conv,
    10 - (${(1 to 9).map(i =>
        s"(CASE WHEN activity > round(t[$i], 6) THEN 1 ELSE 0 END)")
        .mkString("\n      + ")}) AS decile
  FROM per_user CROSS JOIN th),
cum AS (
  SELECT decile,
    CAST(sum(sum(treated)) OVER w AS BIGINT) AS n_t,
    CAST(sum(sum(treated * conv)) OVER w AS BIGINT) AS x_t,
    CAST(sum(sum(1 - treated)) OVER w AS BIGINT) AS n_c,
    CAST(sum(sum((1 - treated) * conv)) OVER w AS BIGINT) AS x_c
  FROM ranked GROUP BY decile
  WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT decile, n_t, x_t, n_c, x_c,
  round(x_t - x_c * (CAST(n_t AS DOUBLE) / n_c), 6) AS qini
FROM cum ORDER BY decile"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q297_raking" -> q297Raking,
    "q299_qini" -> q299Qini,
    "q294_offpolicy" -> q294OffPolicy,
    "q292_gbm_rounds" -> q292GbmRounds,
    "q293_cliffs_delta" -> q293CliffsDelta,
    "q289_did" -> q289Did,
    "q290_fixed_effects" -> q290FixedEffects,
    "q287_cmh" -> q287Cmh,
    "q283_fuzzy_cmeans" -> q283FuzzyCmeans,
    "q278_jackknife_ratio" -> q278JackknifeRatio,
    "q273_isotonic" -> q273Isotonic,
    "q271_conformal" -> q271Conformal,
    "q272_cuped" -> q272Cuped,
    "q270_power_analysis" -> q270PowerAnalysis,
    "q257_ks_test" -> q257KsTest,
    "q258_bh_fdr" -> q258BhFdr,
    "q251_grid_dbscan" -> q251GridDbscan,
    "q256_shapley" -> q256Shapley,
    "q246_kruskal" -> q246Kruskal,
    "q250_bootstrap" -> q250Bootstrap,
    "q243_ranksum" -> q243RankSum,
    "q235_boost_round" -> q235BoostRound,
    "q236_rater_agreement" -> q236RaterAgreement,
    "q237_cv_folds" -> q237CvFolds,
    "q226_lift_table" -> q226LiftTable,
    "q192_psi" -> q192Psi,
    "q189_als_sweep" -> q189AlsSweep,
    "q186_logreg" -> q186Logreg,
    "q187_stump" -> q187Stump,
    "q188_pr_curve" -> q188PrCurve,
    "q185_ols" -> q185Ols,
    "q182_markov_attribution" -> q182MarkovAttribution,
    "q178_rfm" -> q178Rfm,
    "q161_auc" -> q161Auc,
    "q155_ab_test" -> q155AbTest,
    "q156_calibration" -> q156Calibration,
    "q147_lag_features" -> q147LagFeatures,
    "q148_item_similarity" -> q148ItemSimilarity,
    "q127_spearman" -> q127Spearman,
    "q128_gini" -> q128Gini)

  val oracles: Map[String, String] = Map(
    "q297_raking" -> q297Sql,
    "q299_qini" -> q299Sql,
    "q294_offpolicy" -> q294Sql,
    "q292_gbm_rounds" -> q292Sql,
    "q293_cliffs_delta" -> q293Sql,
    "q289_did" -> q289Sql,
    "q290_fixed_effects" -> q290Sql,
    "q287_cmh" -> q287Sql,
    "q283_fuzzy_cmeans" -> q283Sql,
    "q278_jackknife_ratio" -> q278Sql,
    "q273_isotonic" -> q273Sql,
    "q271_conformal" -> q271Sql,
    "q272_cuped" -> q272Sql,
    "q270_power_analysis" -> q270Sql,
    "q257_ks_test" -> q257Sql,
    "q258_bh_fdr" -> q258Sql,
    "q251_grid_dbscan" -> q251Sql,
    "q256_shapley" -> q256Sql,
    "q246_kruskal" -> q246Sql,
    "q250_bootstrap" -> q250Sql,
    "q243_ranksum" -> q243Sql,
    "q235_boost_round" -> q235Sql,
    "q236_rater_agreement" -> q236Sql,
    "q237_cv_folds" -> q237Sql,
    "q226_lift_table" -> q226Sql,
    "q192_psi" -> q192Sql,
    "q189_als_sweep" -> q189Sql,
    "q186_logreg" -> q186Sql,
    "q187_stump" -> q187Sql,
    "q188_pr_curve" -> q188Sql,
    "q185_ols" -> q185Sql,
    "q182_markov_attribution" -> q182Sql,
    "q178_rfm" -> q178Sql,
    "q161_auc" -> q161Sql,
    "q155_ab_test" -> q155Sql,
    "q156_calibration" -> q156Sql,
    "q147_lag_features" -> q147Sql,
    "q148_item_similarity" -> q148Sql,
    "q127_spearman" -> q127Sql,
    "q128_gini" -> q128Sql)
}
