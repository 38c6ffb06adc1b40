package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.MathFunctions.{asD, dsum, grid6}

/** Windowed / session analytics (SURVEY §2.B window family, split out
  * of RelationalQueries in r9): ranking windows (q14), sessionization
  * (q15), tumbling/hopping time windows (q16/q71), ordered funnels
  * (q53/q146), concurrency (q105), session paths (q115), rank bins
  * (q118), position attribution (q125), session transitions (q96) and
  * the path-perplexity screen built on them (q223). Oracle-fidelity
  * rules are RelationalQueries' (see its doc). */
object WindowQueries {


  // ---------------------------------------------------------------- q14
  /** Window functions: top-5 customers per nation by account balance
    * with running balance total (rank + cumulative sum). */
  def q14WindowRank(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val order = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    // rank first, filter, THEN the running total: the rank-only window
    // gets Spark's WindowGroupLimit pushdown (per-partition top-5 before
    // the shuffle), and the cumulative sum runs over <=5 rows per nation
    // instead of the whole table. The prefix sum of a prefix is
    // unchanged, so the result is identical.
    c.select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
      .withColumn("bal_rank", row_number().over(order))
      .filter(col("bal_rank") <= 5)
      .withColumn("running_bal",
        asD(sum(col("c_acctbal").cast(DecimalType(38, 6))).over(order)))
      .select(col("c_nationkey"), col("c_custkey"),
        round(col("c_acctbal"), 6).as("acctbal"), col("bal_rank"), col("running_bal"))
      .orderBy(col("c_nationkey"), col("bal_rank"))
  }

  val q14Sql: String =
    """SELECT * FROM (
      |  SELECT c_nationkey, c_custkey,
      |    round(c_acctbal, 6) AS acctbal,
      |    row_number() OVER w AS bal_rank,
      |    round(CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) OVER w AS DOUBLE), 6) AS running_bal
      |  FROM customer
      |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey))
      |WHERE bal_rank <= 5
      |ORDER BY c_nationkey, bal_rank""".stripMargin

  // ---------------------------------------------------------------- q15
  /** Event sessionization: a session breaks after a >30-minute gap.
    * lag + cumulative-flag-sum inside a per-user window — one shuffle
    * on user_id, everything else stays in the sorted partition. */
  def q15Sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    // ts is a nanosecond bigint (see GraftSession nanosAsLong); floor
    // to µs exactly as DuckDB's CAST(ts AS TIMESTAMP) truncates.
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("value"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    val flagged = ev
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > 30L * 60 * 1000000, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
    flagged.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        asD(dsum(col("value"))).as("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val q15Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value FROM events),
      |flagged AS (
      |  SELECT user_id, ts_us, value,
      |    CASE WHEN lag(ts_us) OVER w IS NULL
      |              OR ts_us - lag(ts_us) OVER w > 30*60*1000000 THEN 1 ELSE 0 END AS new_session
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      |sessions AS (
      |  SELECT user_id, ts_us, value,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
      |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS session_value
      |FROM sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------- q16
  /** Tumbling 1-hour window aggregation over the event stream (batch
    * twin of the Structured Streaming pipeline in graft.streaming). */
  def q16TumblingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    ev.select(expr("(ts div 3600000000000) * 3600000000").as("window_start_us"),
        col("event_type"), col("value"))
      .groupBy(col("window_start_us"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), asD(dsum(col("value"))).as("total_value"))
      .orderBy(col("window_start_us"), col("event_type"))
  }

  val q16Sql: String =
    """SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS window_start_us,
      |  event_type, count(*) AS n_events,
      |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q53
  /** Ordered event-funnel analysis (view → click → purchase): how many
    * users reach each stage IN ORDER — a click counts only after the
    * user's first view, a purchase only after that first qualifying
    * click. The product-analytics sequential-pattern operator.
    *
    * Shape: one `min` aggregate per stage, each conditioned on the
    * previous stage's timestamp through an equi-join on user_id — the
    * chain stays hash-partitioned on user_id the whole way (with
    * co-partitioned inputs no stage reshuffles), and each stage's
    * frame only SHRINKS. No window over the full event history, no
    * per-user sort: at 100 TB this is ~3 partial-aggregated
    * shuffles of user-level rows, nothing event-level rides more than
    * the first groupBy. */
  def q53Funnel(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Funnel.stageCounts(
      Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us")),
      col("user_id"), col("event_type"), col("ts_us"),
      Seq("view", "click", "purchase"))

  val q53Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |v AS (SELECT user_id, min(ts_us) AS v_ts FROM ev
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(ts_us) AS c_ts FROM ev e JOIN v ON e.user_id = v.user_id
      |      WHERE event_type = 'click' AND ts_us > v_ts GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(ts_us) AS p_ts FROM ev e JOIN c ON e.user_id = c.user_id
      |      WHERE event_type = 'purchase' AND ts_us > c_ts GROUP BY e.user_id),
      |s AS (
      |  SELECT 0 AS stage, 'all_users' AS step, count(DISTINCT user_id) AS n_users FROM ev
      |  UNION ALL SELECT 1, 'view', count(*) FROM v
      |  UNION ALL SELECT 2, 'click', count(*) FROM c
      |  UNION ALL SELECT 3, 'purchase', count(*) FROM p)
      |SELECT stage, step, n_users,
      |  coalesce(round(CAST(n_users AS DOUBLE)
      |    / CAST(lag(n_users) OVER (ORDER BY stage) AS DOUBLE), 6), 1.0) AS conversion
      |FROM s ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------- q71
  /** Hopping (sliding) window aggregation — 1-hour windows every
    * 15 minutes over the event stream, the overlapping-window twin of
    * q16's tumbling agg and the batch shape of a streaming
    * `window(ts, "1 hour", "15 minutes")`. Spark's native `window()`
    * generator expands each event into its length/slide = 4 covering
    * windows BEFORE the partial aggregation, so the exchange carries
    * (window, type) partial rows — 4× the tumbling agg's aggregate
    * state, never 4× the event stream. Windows are epoch-aligned in
    * the UTC session, so the oracle replays them as integer floor
    * arithmetic on microseconds. */
  def q71SlidingWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(window(timestamp_micros(expr("ts div 1000")),
          "1 hour", "15 minutes").as("w"),
        col("event_type"), col("value"))
      .groupBy(col("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), asD(dsum(col("value"))).as("total_value"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy(col("window_start_us"), col("event_type"))

  val q71Sql: String =
    """WITH exp AS (
      |  SELECT ((epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) - j) * 900000000 AS ws,
      |    event_type, value
      |  FROM events, range(0, 4) t(j))
      |SELECT ws AS window_start_us, event_type, count(*) AS n_events,
      |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_value
      |FROM exp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q96
  /** Events with their session's consecutive event pairs: a session
    * ends at a gap of more than 30 min between a user's consecutive
    * events, ordered by (ts_us, event_id); `to_type` is the next event
    * type in the same session, and a session's last event is dropped.
    * The event_id tiebreaker (r9): µs-truncated timestamps CAN tie
    * within a user at corpus scale, and lag/lead over a tied order is
    * engine-nondeterministic; (ts_us, event_id) is total on both sides.
    * Read by q96, q223 and q259. */
  private[graft] def sessionTransitions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val bySess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_type"),
        col("event_id"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > 30L * 60 * 1000000, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .withColumn("to_type", lead(col("event_type"), 1).over(bySess))
      .filter(col("to_type").isNotNull)
  }

  /** Twin of [[sessionTransitions]] up to the session ids: CTEs
    * `flagged` and `sess(user_id, ts_us, event_type, event_id,
    * session_id)` over an `ev(user_id, ts_us, event_type, event_id)`
    * CTE. */
  private val sessionCtes: String =
    """flagged AS (
  SELECT user_id, ts_us, event_type, event_id,
    CASE WHEN lag(ts_us) OVER w IS NULL
           OR ts_us - lag(ts_us) OVER w > 30 * 60 * 1000000
         THEN 1 ELSE 0 END AS new_session
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
sess AS (
  SELECT user_id, ts_us, event_type, event_id,
    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS session_id
  FROM flagged)"""

  /** In-session event-type transition matrix (first-order Markov
    * chain) — the path-analysis operator over q15's sessions: within
    * each session (same >30-min gap rule), consecutive events form
    * (from_type → to_type) transitions; the matrix gives each source
    * type's empirical next-step distribution (Σ p per from_type = 1),
    * the model behind next-action prediction and anomalous-flow
    * detection.
    *
    * Shape for 100 TB: ONE hash shuffle on user_id; the session flags,
    * cumulative session ids, and the lead() pairing all run inside the
    * same sorted partition (q15's plan — no second exchange for the
    * pairing); transitions partial-agg to a types² frame before the
    * final tiny aggregation. */
  def q96Transitions(spark: SparkSession, sfDir: String): DataFrame = {
    val trans = sessionTransitions(Tables.events(spark, sfDir))
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = Window.partitionBy(col("from_type"))
    trans
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / sum(col("n")).over(totals), 6).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val q96Sql: String =
    s"""WITH ev AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_type, event_id FROM events),
$sessionCtes,
trans AS (
  SELECT event_type AS from_type,
    lead(event_type) OVER (PARTITION BY user_id, session_id ORDER BY ts_us, event_id) AS to_type
  FROM sess),
cnt AS (
  SELECT from_type, to_type, count(*) AS n FROM trans
  WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
SELECT from_type, to_type, n,
  round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
FROM cnt ORDER BY from_type, to_type"""

  // --------------------------------------------------------------- q223
  /** Behavioral path perplexity — q81's language-model idea applied to
    * SESSIONS: every user's event-transition sequence is scored under
    * the global first-order Markov model (q96's sessionized
    * transitions, add-1-smoothed over the observed type set), and the
    * per-user perplexity flags atypical behavior — the bot/fraud/
    * broken-client screen that complements q63's volume anomalies with
    * a SEQUENCE anomaly signal.
    *
    * Shape for 100 TB: the model is O(types²) — built from ONE
    * sessionized pass and broadcast into the scoring join; per-user
    * scores are 1e-6-gridded log terms decimal-summed (q81's
    * discipline); output is one row per user with ≥1 transition. */
  def q223PathPerplexity(spark: SparkSession, sfDir: String): DataFrame = {
    val trans = sessionTransitions(Tables.events(spark, sfDir))
      .select(col("user_id"), col("event_type").as("from_type"), col("to_type"))
    val counts = trans.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTotals = counts.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
    val nTypes = counts.select(col("to_type")).distinct()
      .agg(count(lit(1)).as("t"))
    val model = counts.join(fromTotals, "from_type")
      .crossJoin(broadcast(nTypes))
      .select(col("from_type"), col("to_type"),
        grid6(log((col("n") + 1L).cast("double") / (col("tot") + col("t")).cast("double"))).as("logp"))
    trans.join(broadcast(model), Seq("from_type", "to_type"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_trans"),
        sum(col("logp")).as("ll"))
      .select(col("user_id"), col("n_trans"),
        round(-col("ll").cast("double") / col("n_trans"), 6).as("avg_nll"))
      .withColumn("perplexity", round(exp(col("avg_nll")), 6))
      .orderBy(col("user_id"))
  }

  val q223Sql: String =
    s"""WITH ev AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_type, event_id FROM events),
$sessionCtes,
trans AS MATERIALIZED (
  SELECT user_id, from_type, to_type FROM (
    SELECT user_id, event_type AS from_type,
      lead(event_type) OVER (PARTITION BY user_id, session_id ORDER BY ts_us, event_id) AS to_type
    FROM sess) WHERE to_type IS NOT NULL),
cnt AS (
  SELECT from_type, to_type, count(*) AS n FROM trans GROUP BY 1, 2),
ft AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM cnt GROUP BY 1),
t AS (SELECT count(DISTINCT to_type) AS t FROM cnt),
model AS (
  SELECT from_type, to_type,
    CAST(round(ln(CAST(n + 1 AS DOUBLE) / CAST(tot + t AS DOUBLE)), 6) AS DECIMAL(38,6)) AS logp
  FROM cnt JOIN ft USING (from_type) CROSS JOIN t),
scored AS (
  SELECT user_id, count(*) AS n_trans, sum(logp) AS ll
  FROM trans JOIN model USING (from_type, to_type)
  GROUP BY user_id)
SELECT user_id, n_trans,
  round(-CAST(ll AS DOUBLE) / n_trans, 6) AS avg_nll,
  round(exp(round(-CAST(ll AS DOUBLE) / n_trans, 6)), 6) AS perplexity
FROM scored ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q105
  val ConcSessionUs = 300000000L // each event opens a 5-minute session
  val DayUs = 86400000000L

  /** Peak concurrency per calendar day — the interval/sweep-line
    * operator (capacity planning's "how many sessions were open at
    * once?"): each event opens a [ts, ts+5 min) session; per day, the
    * maximum number of simultaneously open sessions. Classic sweep
    * line: ±1 boundary deltas, running sum, max.
    *
    * Scale shape: intervals are CLIPPED to day windows first (a 5-min
    * session spans ≤2 days, so the clip emits ≤2 pieces per event),
    * which lets the sweep window partition BY DAY — the corpus never
    * funnels through a single global sort partition, and each day's
    * sweep is an in-partition sort of that day's boundaries. End
    * deltas sort before starts at the same instant ([start, end)
    * semantics); tie groups are monotone runs, so the running max is
    * permutation-invariant under equal keys — deterministic on both
    * engines. */
  def q105Concurrency(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(expr("ts div 1000").as("s"))
      .withColumn("e", col("s") + ConcSessionUs)
      .select(col("s"), col("e"),
        expr(s"s div $DayUs").as("d1"), expr(s"(e - 1) div $DayUs").as("d2"))
    val arm1 = ev.select(col("d1").as("day"), col("s").as("t"), lit(1).as("delta"))
    val arm2 = ev.select(col("d1").as("day"),
      least(col("e"), (col("d1") + 1) * DayUs).as("t"), lit(-1).as("delta"))
    val cross = ev.filter(col("d2") > col("d1"))
    val arm3 = cross.select(col("d2").as("day"), (col("d2") * DayUs).as("t"), lit(1).as("delta"))
    val arm4 = cross.select(col("d2").as("day"), col("e").as("t"), lit(-1).as("delta"))
    val deltas = arm1.unionAll(arm2).unionAll(arm3).unionAll(arm4)
    val w = Window.partitionBy(col("day")).orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.withColumn("cur", sum(col("delta")).over(w))
      .groupBy(col("day"))
      .agg(max(col("cur")).as("max_concurrency"),
        expr("count(1) div 2").as("n_sessions"))
      .orderBy(col("day"))
  }

  val q105Sql: String =
    s"""WITH ev0 AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS s,
      |    epoch_us(CAST(ts AS TIMESTAMP)) + $ConcSessionUs AS e
      |  FROM events),
      |ev AS (SELECT s, e, s // $DayUs AS d1, (e - 1) // $DayUs AS d2 FROM ev0),
      |deltas AS (
      |  SELECT d1 AS day, s AS t, 1 AS delta FROM ev
      |  UNION ALL
      |  SELECT d1, least(e, (d1 + 1) * $DayUs), -1 FROM ev
      |  UNION ALL
      |  SELECT d2, d2 * $DayUs, 1 FROM ev WHERE d2 > d1
      |  UNION ALL
      |  SELECT d2, e, -1 FROM ev WHERE d2 > d1),
      |run AS (
      |  SELECT day,
      |    sum(delta) OVER (PARTITION BY day ORDER BY t, delta
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur
      |  FROM deltas)
      |SELECT day, CAST(max(cur) AS BIGINT) AS max_concurrency,
      |  count(*) // 2 AS n_sessions
      |FROM run GROUP BY day ORDER BY day""".stripMargin

  // --------------------------------------------------------------- q115
  val PathPrefixLen = 5
  val PathTopK = 20

  /** Top session paths — the navigation-mining companion to q96's
    * transition matrix: each session's first [[PathPrefixLen]]
    * event types joined into a `a>b>c` path string, counted across
    * sessions, top [[PathTopK]] by (count DESC, path) with the rank
    * emitted. Transitions give the one-step model; paths surface the
    * actual dominant journeys.
    *
    * Shape for 100 TB: q15's single user_id shuffle builds sessions;
    * the prefix rows partial-agg into one path string per session
    * (collect_list is bounded at [[PathPrefixLen]] elements by the rn
    * filter — never an unbounded per-group array); the path frame is
    * ≤ |event types|^len rows, so the final unpartitioned top-k
    * window is O(vocabulary), the q101-phase-2 argument. */
  def q115SessionPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    val bySess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts_us"))
    val prefix = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_type"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > StreamBatchQueries.SessGapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .withColumn("rn", row_number().over(bySess))
      .filter(col("rn") <= PathPrefixLen)
    val paths = prefix.groupBy(col("user_id"), col("session_id"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"),
        count(lit(1)).as("n_steps"))
    val agg = paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"),
        round(sum(col("n_steps")).cast("double") / count(lit(1)), 6).as("avg_len"))
    agg.withColumn("rank",
        row_number().over(Window.orderBy(col("n_sessions").desc, col("path"))))
      .filter(col("rank") <= PathTopK)
      .select(col("rank"), col("path"), col("n_sessions"), col("avg_len"))
      .orderBy(col("rank"))
  }

  val q115Sql: String =
    s"""WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type FROM events),
      |flagged AS (
      |  SELECT user_id, ts_us, event_type,
      |    CASE WHEN lag(ts_us) OVER w IS NULL
      |              OR ts_us - lag(ts_us) OVER w > ${StreamBatchQueries.SessGapUs} THEN 1 ELSE 0 END AS new_session
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      |sess AS (
      |  SELECT user_id, ts_us, event_type,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us) AS BIGINT) AS session_id
      |  FROM flagged),
      |pref AS (
      |  SELECT user_id, session_id, event_type,
      |    row_number() OVER (PARTITION BY user_id, session_id ORDER BY ts_us) AS rn
      |  FROM sess QUALIFY rn <= $PathPrefixLen),
      |paths AS (
      |  SELECT user_id, session_id,
      |    string_agg(event_type, '>' ORDER BY rn) AS path, count(*) AS n_steps
      |  FROM pref GROUP BY user_id, session_id),
      |agg AS (
      |  SELECT path, count(*) AS n_sessions,
      |    round(CAST(sum(n_steps) AS DOUBLE) / count(*), 6) AS avg_len
      |  FROM paths GROUP BY path)
      |SELECT row_number() OVER (ORDER BY n_sessions DESC, path) AS rank,
      |  path, n_sessions, avg_len
      |FROM agg QUALIFY rank <= $PathTopK
      |ORDER BY rank""".stripMargin

  // --------------------------------------------------------------- q118
  /** Price width of the phase-1 range buckets for the global rank. */
  val RankBucketWidth = 1000.0

  /** Equal-frequency decile binning of orders by total price — the
    * discretization primitive behind feature bucketing and monotone
    * calibration — computed with an EXACT global rank that never
    * funnels the corpus through one partition: phase 1 buckets prices
    * into fixed [[RankBucketWidth]] ranges and counts each bucket;
    * phase 2 turns the tiny bucket-count frame into cumulative start
    * offsets (window over O(price range / width) rows); phase 3
    * broadcast-joins the offsets back and ranks WITHIN each bucket
    * (row_number partitioned by bucket), so global_rank = bucket
    * offset + local rank — a total order with no global window. The
    * decile is then pure rank arithmetic, identical in the oracle's
    * single-window formulation.
    *
    * This is the scale-out answer to `ntile()`: same exactness, but
    * the only unpartitioned state is the bucket histogram. */
  def q118RankBins(spark: SparkSession, sfDir: String): DataFrame = {
    val priced = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"),
        expr(s"cast(floor(o_totalprice / $RankBucketWidth) as bigint)").as("bucket"))
    val counts = priced.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    val offsets = counts
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy()))
    val ranked = priced.join(broadcast(offsets.select(col("bucket"), col("off"), col("total"))), "bucket")
      .withColumn("rnk", col("off") + row_number().over(
        Window.partitionBy(col("bucket"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))))
      .withColumn("decile", expr("1 + ((rnk - 1) * 10) div total"))
    ranked.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        asD(dsum(col("o_totalprice"))).as("sum_price"),
        round(dsum(col("o_totalprice")).cast("double") / count(lit(1)), 6)
          .as("avg_price"))
      .orderBy(col("decile"))
  }

  val q118Sql: String =
    """WITH r AS (
      |  SELECT o_totalprice,
      |    row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rnk,
      |    count(*) OVER () AS total
      |  FROM orders)
      |SELECT 1 + ((rnk - 1) * 10) // total AS decile,
      |  count(*) AS n_orders, min(o_totalprice) AS min_price,
      |  max(o_totalprice) AS max_price,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_price,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6) AS avg_price
      |FROM r GROUP BY decile
      |ORDER BY decile""".stripMargin

  // --------------------------------------------------------------- q125
  /** Last-touch attribution — the marketing/product staple: each
    * `purchase` event's value is attributed to the SAME user's most
    * recent preceding non-purchase event type (the "touch"); revenue
    * and purchase counts aggregate per touch channel with an exact
    * decimal share-of-total. Purchases with no preceding touch land in
    * 'none'.
    *
    * Shape for 100 TB: ONE hash shuffle on user_id; the running
    * last-non-purchase state is an ignoreNulls last() over the same
    * sorted partition (no self-join, no as-of re-sort), and the share
    * divides two decimal sums on a |event types|-row frame. */
  def q125Attribution(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val attributed = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(byUser))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("none")).as("touch"))
      .agg(count(lit(1)).as("n_purchases"),
        dsum(col("value")).as("rev_dec"))
    attributed
      .withColumn("total_dec", sum(col("rev_dec")).over(Window.partitionBy()))
      .select(col("touch"), col("n_purchases"),
        asD(col("rev_dec")).as("revenue"),
        round(col("rev_dec").cast("double") / col("total_dec").cast("double"), 6)
          .as("rev_share"))
      .orderBy(col("touch"))
  }

  val q125Sql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
      |    event_type, value
      |  FROM events),
      |touched AS (
      |  SELECT event_type, value,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      |  FROM ev),
      |agg AS (
      |  SELECT coalesce(touch, 'none') AS touch, count(*) AS n_purchases,
      |    sum(CAST(value AS DECIMAL(38,6))) AS rev_dec
      |  FROM touched WHERE event_type = 'purchase' GROUP BY 1)
      |SELECT touch, n_purchases,
      |  round(CAST(rev_dec AS DOUBLE), 6) AS revenue,
      |  round(CAST(rev_dec AS DOUBLE) / CAST(sum(rev_dec) OVER () AS DOUBLE), 6) AS rev_share
      |FROM agg
      |ORDER BY touch""".stripMargin

  // --------------------------------------------------------------- q146
  /** Step-to-step conversion window (µs): 48 h. */
  val FunnelWindowUs = 48L * 3600L * 1000000L

  /** Time-boxed funnel (ClickHouse's windowFunnel semantics beside
    * q53's unbounded chain): view → click → purchase where each step
    * must land within [[FunnelWindowUs]] of the PREVIOUS step —
    * first-touch greedy (the earliest qualifying event per step, q53's
    * convention), so a user who converts slowly counts at the stage
    * where the clock ran out. Emits per-stage user counts, conversion
    * vs previous stage, and the exact average step latency (integer µs
    * sums, one division).
    *
    * Shape for 100 TB: three partial-agged min-aggregations keyed on
    * user (each joined back broadcast-or-hash) — no per-user event
    * arrays, no window over the event stream. */
  def q146WindowFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts_us") > col("v_ts") &&
        col("ts_us") <= col("v_ts") + FunnelWindowUs)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("c_ts"),
        min(col("v_ts")).as("v_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts_us") > col("c_ts") &&
        col("ts_us") <= col("c_ts") + FunnelWindowUs)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("p_ts"),
        min(col("c_ts")).as("c_ts"))
    val all = ev.agg(countDistinct(col("user_id")).as("n"))
      .select(lit(0).as("stage"), lit("all_users").as("step"), col("n"),
        lit(null).cast("double").as("avg_step_latency_s"))
    val sv = v.agg(count(lit(1)).as("n"))
      .select(lit(1).as("stage"), lit("view").as("step"), col("n"),
        lit(null).cast("double").as("avg_step_latency_s"))
    val sc = c.agg(count(lit(1)).as("n"),
        sum(col("c_ts") - col("v_ts")).as("lat"))
      .select(lit(2).as("stage"), lit("click").as("step"), col("n"),
        round(col("lat").cast("double") / col("n") / 1000000.0, 6)
          .as("avg_step_latency_s"))
    val sp = p.agg(count(lit(1)).as("n"),
        sum(col("p_ts") - col("c_ts")).as("lat"))
      .select(lit(3).as("stage"), lit("purchase").as("step"), col("n"),
        round(col("lat").cast("double") / col("n") / 1000000.0, 6)
          .as("avg_step_latency_s"))
    val s = all.unionByName(sv).unionByName(sc).unionByName(sp)
    s.withColumn("conversion",
        coalesce(round(col("n").cast("double")
          / lag(col("n"), 1).over(Window.orderBy(col("stage"))), 6), lit(1.0)))
      .select(col("stage"), col("step"), col("n").as("n_users"),
        col("conversion"), col("avg_step_latency_s"))
      .orderBy(col("stage"))
  }

  val q146Sql: String =
    s"""WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |v AS (SELECT user_id, min(ts_us) AS v_ts FROM ev
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(ts_us) AS c_ts, min(v_ts) AS v_ts
      |      FROM ev e JOIN v ON e.user_id = v.user_id
      |      WHERE event_type = 'click' AND ts_us > v_ts
      |        AND ts_us <= v_ts + $FunnelWindowUs
      |      GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(ts_us) AS p_ts, min(c_ts) AS c_ts
      |      FROM ev e JOIN c ON e.user_id = c.user_id
      |      WHERE event_type = 'purchase' AND ts_us > c_ts
      |        AND ts_us <= c_ts + $FunnelWindowUs
      |      GROUP BY e.user_id),
      |s AS (
      |  SELECT 0 AS stage, 'all_users' AS step, count(DISTINCT user_id) AS n,
      |    CAST(NULL AS DOUBLE) AS lat FROM ev
      |  UNION ALL SELECT 1, 'view', count(*), NULL FROM v
      |  UNION ALL SELECT 2, 'click', count(*),
      |    round(CAST(sum(c_ts - v_ts) AS DOUBLE) / count(*) / 1000000.0, 6) FROM c
      |  UNION ALL SELECT 3, 'purchase', count(*),
      |    round(CAST(sum(p_ts - c_ts) AS DOUBLE) / count(*) / 1000000.0, 6) FROM p)
      |SELECT stage, step, n AS n_users,
      |  coalesce(round(CAST(n AS DOUBLE)
      |    / CAST(lag(n) OVER (ORDER BY stage) AS DOUBLE), 6), 1.0) AS conversion,
      |  lat AS avg_step_latency_s
      |FROM s ORDER BY stage""".stripMargin

  // --------------------------------------------------------------- q252
  /** Top-k sequential rules to report. */
  val SeqMiningTopK = 20

  /** Sequential-pattern mining over per-user clickstreams — frequent
    * event-type TRIGRAMS with session-style support (distinct users
    * exhibiting the pattern) and rule confidence vs their bigram
    * prefix: the PrefixSpan-lite step past q96's Markov transitions
    * (which see only order-1 structure) — a trigram whose confidence
    * beats its prefix's base rate is a genuine order-2 behavioral
    * rule, the thing a recommender or an anomaly model conditions on.
    * Ordering is (ts, event_id) — total, so tied timestamps cannot
    * make the mined patterns nondeterministic (the q223 lesson).
    *
    * Shape for 100 TB: ONE hash shuffle on user_id; trigrams
    * materialize as two lead() columns inside the sorted partition
    * (never an array build or a self-join); supports partial-agg to
    * O(event_type³) rows; top-k is a TakeOrdered. */
  def q252SeqMining(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val tri = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        col("event_type").as("t1"), expr("ts div 1000").as("ts_us"))
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .select(col("user_id"), col("t1"), col("t2"), col("t3")))
    val tsup = tri.filter(col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("user_id")).as("support"))
    val bsup = tri.filter(col("t2").isNotNull)
      .groupBy(col("t1"), col("t2"))
      .agg(countDistinct(col("user_id")).as("bi_support"))
    tsup.join(bsup, Seq("t1", "t2"))
      .select(col("t1"), col("t2"), col("t3"), col("n_occ"), col("support"),
        col("bi_support"),
        round(col("support").cast("double") / col("bi_support"), 6)
          .as("confidence"))
      .orderBy(col("support").desc, col("t1"), col("t2"), col("t3"))
      .limit(SeqMiningTopK)
  }

  val q252Sql: String =
    s"""WITH ev AS (
      |  SELECT user_id, event_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      |  FROM events),
      |tri AS (
      |  SELECT user_id, event_type AS t1,
      |    lead(event_type, 1) OVER w AS t2, lead(event_type, 2) OVER w AS t3
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |tsup AS (
      |  SELECT t1, t2, t3, count(*) AS n_occ,
      |    count(DISTINCT user_id) AS support
      |  FROM tri WHERE t3 IS NOT NULL GROUP BY 1, 2, 3),
      |bsup AS (
      |  SELECT t1, t2, count(DISTINCT user_id) AS bi_support
      |  FROM tri WHERE t2 IS NOT NULL GROUP BY 1, 2)
      |SELECT t.t1, t.t2, t.t3, t.n_occ, t.support, b.bi_support,
      |  round(CAST(t.support AS DOUBLE) / b.bi_support, 6) AS confidence
      |FROM tsup t JOIN bsup b ON t.t1 = b.t1 AND t.t2 = b.t2
      |ORDER BY t.support DESC, t.t1, t.t2, t.t3 LIMIT $SeqMiningTopK""".stripMargin

  // --------------------------------------------------------------- q259
  /** Power-iteration rounds for the stationary distribution (the 5×5
    * chain mixes in far fewer; both engines unroll the same count). */
  val EntropyRatePiRounds = 6

  /** Entropy rate of the session-behavior Markov chain — the single
    * number that says how PREDICTABLE user journeys are: q96 publishes
    * the transition matrix; this weights each row's conditional
    * entropy by the chain's stationary distribution π (6 synchronized
    * power-iteration rounds from uniform — q01's loop engine on a
    * 5-state chain) into H = −Σᵢ πᵢ Σⱼ Pᵢⱼ ln Pᵢⱼ and the walk
    * perplexity e^H — the behavioral twin of q81's text perplexity
    * (4.99 ≈ the 5-state uniform bound on the fixture's near-uniform
    * chain; a real product's journeys sit far lower).
    *
    * Shape for 100 TB: the corpus collapses to the O(types²)
    * transition-count frame through q96's one-shuffle sessionized
    * window pass; everything after — P, π rounds, row entropies, H —
    * runs on ≤ 25 rows with 12-dp-gridded DECIMAL sums. */
  def q259EntropyRate(spark: SparkSession, sfDir: String): DataFrame = {
    val cnt = sessionTransitions(Tables.events(spark, sfDir))
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val rowtot = Window.partitionBy(col("from_type"))
    val trans = graft.Checkpoints.materialize(cnt
      .select(col("from_type"), col("to_type"),
        round(col("n").cast("double") / sum(col("n")).over(rowtot), 12).as("pr")))
    val (pi, _) = graft.Checkpoints.iterate(trans.select(col("from_type").as("st")).distinct()
        .select(col("st"), lit(0.2).as("pi")), EntropyRatePiRounds) { pi =>
      trans
        .join(pi.select(col("st").as("from_type"), col("pi")), Seq("from_type"))
        .groupBy(col("to_type").as("st"))
        .agg(round(sum(round(col("pi") * col("pr"), 12)
          .cast(DecimalType(38, 12))).cast("double"), 12).as("pi"))
    }
    val hrow = trans.groupBy(col("from_type").as("st"))
      .agg(round(-sum(round(col("pr") * log(col("pr")), 12)
        .cast(DecimalType(38, 12))).cast("double"), 12).as("h_row"))
    val joined = graft.Checkpoints.materialize(pi.join(hrow, Seq("st")))
    val hall = joined.agg(round(sum(round(col("pi") * col("h_row"), 12)
      .cast(DecimalType(38, 12))).cast("double"), 6).as("h_rate"))
    joined.crossJoin(broadcast(hall))
      .select(col("st").as("state"), round(col("pi"), 6).as("pi"),
        round(col("h_row"), 6).as("h_row"), col("h_rate"),
        round(exp(col("h_rate")), 6).as("perplexity"))
      .orderBy(col("state"))
  }

  val q259Sql: String = {
    val rounds = new StringBuilder(
      "pi0 AS (SELECT from_type AS st, 0.2 AS pi FROM states)")
    var prev = "pi0"
    for (i <- 1 to EntropyRatePiRounds) {
      rounds.append(s""",
pi$i AS (
  SELECT t.to_type AS st,
    round(CAST(sum(CAST(round(p.pi * t.pr, 12) AS DECIMAL(38,12))) AS DOUBLE), 12) AS pi
  FROM trans t JOIN $prev p ON t.from_type = p.st
  GROUP BY 1)""")
      prev = s"pi$i"
    }
    s"""WITH ev AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type, event_id
  FROM events),
$sessionCtes,
pairs AS (
  SELECT event_type AS from_type,
    lead(event_type) OVER (PARTITION BY user_id, session_id ORDER BY ts_us, event_id) AS to_type
  FROM sess),
cnt AS MATERIALIZED (
  SELECT from_type, to_type, count(*) AS n FROM pairs
  WHERE to_type IS NOT NULL GROUP BY 1, 2),
rowtot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM cnt GROUP BY 1),
trans AS MATERIALIZED (
  SELECT c.from_type, c.to_type, round(c.n / CAST(r.tot AS DOUBLE), 12) AS pr
  FROM cnt c JOIN rowtot r USING (from_type)),
states AS (SELECT DISTINCT from_type FROM trans),
${rounds.toString},
hrow AS (
  SELECT from_type AS st,
    round(-CAST(sum(CAST(round(pr * ln(pr), 12) AS DECIMAL(38,12))) AS DOUBLE), 12) AS h_row
  FROM trans GROUP BY 1),
hall AS (
  SELECT round(CAST(sum(CAST(round(p.pi * h.h_row, 12) AS DECIMAL(38,12))) AS DOUBLE), 6) AS h_rate
  FROM $prev p JOIN hrow h USING (st))
SELECT p.st AS state, round(p.pi, 6) AS pi, round(h.h_row, 6) AS h_row,
  a.h_rate, round(exp(a.h_rate), 6) AS perplexity
FROM $prev p JOIN hrow h USING (st) CROSS JOIN hall a
ORDER BY p.st"""
  }

  // --------------------------------------------------------------- q265
  /** Trailing window width in days (a 7-day WAU). */
  val WindowDistinctDays = 7L

  /** EXACT trailing-7-day distinct active users per day (WAU) — the
    * sliding COUNT(DISTINCT) that naive SQL cannot window (a running
    * distinct over a moving frame double-counts re-appearing users)
    * and sketches only approximate (q120's KMV path): the classic
    * exact rewrite expands each distinct (user, activity-day) to the
    * ≤7 window-end days it covers, and ONE distinct aggregation per
    * (user, window) collapses multi-day users before counting.
    * Reports both n_active (distinct) and n_user_days (the naive sum)
    * — their gap IS the re-appearance mass a naive rollup overstates.
    *
    * Shape for 100 TB: the corpus collapses to distinct (user, day) in
    * one partial-agged pass; the ×7 expansion is map-side `sequence`
    * explode (bounded by the window width, the knob); the exchange
    * carries (user, window) pairs — 7× the user-day frame, never the
    * event stream. */
  def q265WindowDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct())
    val span = ud.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    val expanded = graft.Checkpoints.materialize(ud
      .select(col("user_id"), col("day"),
        explode(sequence(col("day"),
          col("day") + (WindowDistinctDays - 1))).as("win"))
      .crossJoin(broadcast(span))
      .filter(col("win") >= col("dmin") && col("win") <= col("dmax")))
    val winu = expanded.groupBy(col("win"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    val wind = expanded.groupBy(col("win")).agg(count(lit(1)).as("n_user_days"))
    winu.join(wind, Seq("win"))
      .select(col("win").as("day"), col("n_active"), col("n_user_days"))
      .orderBy(col("day"))
  }

  val q265Sql: String =
    s"""WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events),
      |span AS (SELECT min(day) AS dmin, max(day) AS dmax FROM ud),
      |expanded AS (
      |  SELECT u.user_id, u.day, u.day + i AS win
      |  FROM ud u, unnest(generate_series(0, ${WindowDistinctDays - 1})) AS t(i)),
      |winu AS (
      |  SELECT win, count(DISTINCT user_id) AS n_active
      |  FROM expanded CROSS JOIN span WHERE win BETWEEN dmin AND dmax
      |  GROUP BY 1),
      |wind AS (
      |  SELECT win, count(*) AS n_user_days
      |  FROM expanded CROSS JOIN span WHERE win BETWEEN dmin AND dmax
      |  GROUP BY 1)
      |SELECT u.win AS day, u.n_active, d.n_user_days
      |FROM winu u JOIN wind d USING (win)
      |ORDER BY day""".stripMargin

  // --------------------------------------------------------------- q281
  /** Step horizon for the absorption recursion (≡ the oracle's
    * unrolled rounds). */
  val AbsorbSteps = 8

  /** Absorbing-chain conversion probability — the MISSING third leg of
    * the session-Markov family: q96 gives one-step transition
    * probabilities, q259 the chain's entropy rate, q182 the
    * removal-effect attribution; this answers the product question —
    * FROM each state, what is the probability a session reaches
    * 'purchase' within [[AbsorbSteps]] more steps? Purchase is
    * absorbing (p ≡ 1), session end is absorbing failure (p ≡ 0), and
    * p_k(s) = Σ_t P(s→t)·p_{k−1}(t) iterates on the O(|states|²)
    * transition matrix from q96's session transitions (same (ts_us,
    * event_id) total order, '__end' sentinel for terminal events).
    * Output per state: direct-conversion count/probability and the
    * K-step absorption probability (≥ p_direct by construction).
    *
    * Shape for 100 TB: one corpus pass (q96's windowed lead) collapses
    * to the ≤(types+1)² count matrix; the K iterations run on that
    * O(1) frame with 12dp-gridded DECIMAL dot products — the loop
    * costs K tiny local joins regardless of SF. */
  def q281Absorption(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val bySess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val cnts = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_type"), col("event_id"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > 30L * 60 * 1000000, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .withColumn("to_type",
        coalesce(lead(col("event_type"), 1).over(bySess), lit("__end")))
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n")))
    val wf = Window.partitionBy(col("from_type"))
    val probs = graft.Checkpoints.materialize(cnts
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / sum(col("n")).over(wf)).as("p")))
    val states = graft.Checkpoints.materialize(cnts.select(col("from_type").as("s")).distinct())
    val (ph, _) = graft.Checkpoints.iterate(states.select(col("s"),
        when(col("s") === "purchase", lit(1.0)).otherwise(lit(0.0)).as("ph")),
        AbsorbSteps) { ph =>
      states
        .join(probs.filter(col("from_type") =!= "purchase")
            .join(ph.select(col("s").as("to_type"), col("ph").as("pv")),
              "to_type")
            .groupBy(col("from_type"))
            .agg(sum(round(col("p") * col("pv"), 12)
              .cast(DecimalType(38, 12))).cast("double").as("np")),
          col("s") === col("from_type"), "left")
        .select(col("s"),
          when(col("s") === "purchase", lit(1.0))
            .otherwise(coalesce(col("np"), lit(0.0))).as("ph"))
    }
    val direct = cnts.filter(col("to_type") === "purchase")
      .select(col("from_type").as("s"), col("n").as("n_direct"))
    val outdeg = cnts.groupBy(col("from_type").as("s"))
      .agg(sum(col("n")).as("n_out"))
    val pdir = probs.filter(col("to_type") === "purchase")
      .select(col("from_type").as("s"), col("p").as("pd"))
    val out = states
      .join(direct, Seq("s"), "left").join(outdeg, Seq("s"))
      .join(pdir, Seq("s"), "left").join(ph, Seq("s"))
      .select(col("s").as("state"),
        coalesce(col("n_direct"), lit(0L)).as("n_direct"), col("n_out"),
        round(coalesce(col("pd"), lit(0.0)), 6).as("p_direct"),
        round(col("ph"), 6).as("p_hit"))
      .orderBy(col("state"))
    out
  }

  val q281Sql: String = {
    val sb = new StringBuilder
    sb ++= """WITH ev AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_type, event_id FROM events),
flagged AS (
  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
      OR ts_us - lag(ts_us) OVER w > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS ns
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
sess AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged),
trans AS MATERIALIZED (
  SELECT event_type AS from_type,
    coalesce(lead(event_type) OVER (PARTITION BY user_id, session_id
      ORDER BY ts_us, event_id), '__end') AS to_type
  FROM sess),
cnts AS MATERIALIZED (
  SELECT from_type, to_type, count(*) AS n FROM trans GROUP BY 1, 2),
probs AS MATERIALIZED (
  SELECT from_type, to_type, n,
    CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p
  FROM cnts),
states AS MATERIALIZED (SELECT DISTINCT from_type AS s FROM cnts),
p0 AS MATERIALIZED (
  SELECT s, CAST(CASE WHEN s = 'purchase' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS ph
  FROM states)
"""
    for (k <- 1 to AbsorbSteps) {
      sb ++= s""",
p$k AS MATERIALIZED (
  SELECT st.s,
    CASE WHEN st.s = 'purchase' THEN 1.0 ELSE coalesce(r.ph, 0.0) END AS ph
  FROM states st LEFT JOIN (
    SELECT pr.from_type AS s,
      CAST(sum(CAST(round(pr.p * pv.ph, 12) AS DECIMAL(38,12))) AS DOUBLE) AS ph
    FROM probs pr JOIN p${k - 1} pv ON pr.to_type = pv.s
    WHERE pr.from_type <> 'purchase'
    GROUP BY pr.from_type) r ON st.s = r.s)
"""
    }
    sb ++= s"""SELECT st.s AS state,
  CAST(coalesce((SELECT n FROM cnts c WHERE c.from_type = st.s AND c.to_type = 'purchase'), 0) AS BIGINT) AS n_direct,
  CAST((SELECT sum(n) FROM cnts c WHERE c.from_type = st.s) AS BIGINT) AS n_out,
  round(coalesce((SELECT p FROM probs c WHERE c.from_type = st.s AND c.to_type = 'purchase'), 0.0), 6) AS p_direct,
  round(pk.ph, 6) AS p_hit
FROM states st JOIN p$AbsorbSteps pk ON st.s = pk.s ORDER BY st.s"""
    sb.toString
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q281_absorption" -> q281Absorption,
    "q265_window_distinct" -> q265WindowDistinct,
    "q259_entropy_rate" -> q259EntropyRate,
    "q252_seq_mining" -> q252SeqMining,
    "q223_path_perplexity" -> q223PathPerplexity,
    "q146_window_funnel" -> q146WindowFunnel,
    "q125_attribution" -> q125Attribution,
    "q115_session_paths" -> q115SessionPaths,
    "q118_rank_bins" -> q118RankBins,
    "q105_concurrency" -> q105Concurrency,
    "q96_transitions" -> q96Transitions,
    "q14_window_rank" -> q14WindowRank,
    "q15_sessionize" -> q15Sessionize,
    "q16_tumbling_window" -> q16TumblingWindow,
    "q53_funnel" -> q53Funnel,
    "q71_sliding_window" -> q71SlidingWindow)

  val oracles: Map[String, String] = Map(
    "q281_absorption" -> q281Sql,
    "q265_window_distinct" -> q265Sql,
    "q259_entropy_rate" -> q259Sql,
    "q252_seq_mining" -> q252Sql,
    "q223_path_perplexity" -> q223Sql,
    "q146_window_funnel" -> q146Sql,
    "q125_attribution" -> q125Sql,
    "q115_session_paths" -> q115Sql,
    "q118_rank_bins" -> q118Sql,
    "q105_concurrency" -> q105Sql,
    "q96_transitions" -> q96Sql,
    "q14_window_rank" -> q14Sql,
    "q15_sessionize" -> q15Sql,
    "q16_tumbling_window" -> q16Sql,
    "q53_funnel" -> q53Sql,
    "q71_sliding_window" -> q71Sql)
}
