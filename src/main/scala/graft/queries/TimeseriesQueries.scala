package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{MathFunctions => MF}

/** Time-series analytics (SURVEY §2.B timeseries family, split out
  * of RelationalQueries in r9): anomaly scoring (q63), change points
  * (q77), EWMA (q85), ACF (q103), seasonality (q121), cross-
  * correlation (q134), burst detection (q137), time-to-event (q158),
  * seasonal anomalies (q159), forecast backtesting (q173) and the
  * STL-lite decomposition (q191). Oracle-fidelity rules are
  * RelationalQueries' (see its doc). */
object TimeseriesQueries {

  /** Exact, order-independent sum of a 2-dp money double. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(38, 6)))
  private def asD(c: Column): Column = round(c.cast("double"), 6)

  // ---------------------------------------------------------------- q63
  /** Z-score threshold for flagging an hour as anomalous. */
  val AnomalyZ = 2.5

  /** Volume-anomaly detection — the ingest-monitoring operator: flag
    * hours whose event count sits more than [[AnomalyZ]] population
    * standard deviations from that event type's hourly mean (over
    * observed hours). The statistics are ALGEBRAIC (n, Σc, Σc² exact
    * int64 sums, map-side combined, merged by addition across
    * executors — the same sufficient-statistics shape as q57), and
    * the per-type scalar frame joins back broadcast, so the event
    * stream is scanned once and only (type, hour) rows ride
    * exchanges. Variance numerator n·Σc²−(Σc)² stays in exact integer
    * arithmetic; the double math is structurally identical on both
    * engines. */
  def q63Anomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = Tables.events(spark, sfDir)
      .select(col("event_type"), expr(s"(ts div 1000) div ${RelationalQueries.RjBinUs}").as("h"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("c"))
    val stats = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))
    val mean = col("sc").cast("double") / col("n")
    val std =
      sqrt((col("n") * col("scc") - col("sc") * col("sc")).cast("double")) / col("n")
    hourly.join(broadcast(stats), "event_type")
      .withColumn("z", (col("c").cast("double") - mean) / std)
      .filter(abs(col("z")) > AnomalyZ)
      .select(col("event_type"), (col("h") * RelationalQueries.RjBinUs).as("wstart_us"),
        col("c").as("n_events"), round(col("z"), 6).as("z"))
      .orderBy(col("event_type"), col("wstart_us"))
  }

  val q63Sql: String =
    s"""WITH hourly AS (
      |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // ${RelationalQueries.RjBinUs} AS h,
      |    count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS sc,
      |    CAST(sum(c * c) AS BIGINT) AS scc
      |  FROM hourly GROUP BY event_type),
      |z AS (
      |  SELECT hourly.event_type, h, c,
      |    (CAST(c AS DOUBLE) - CAST(sc AS DOUBLE) / n)
      |      / (sqrt(CAST(n * scc - sc * sc AS DOUBLE)) / n) AS z
      |  FROM hourly JOIN stats ON hourly.event_type = stats.event_type)
      |SELECT event_type, h * ${RelationalQueries.RjBinUs} AS wstart_us, c AS n_events, round(z, 6) AS z
      |FROM z WHERE abs(z) > $AnomalyZ
      |ORDER BY event_type, wstart_us""".stripMargin

  // ---------------------------------------------------------------- q77
  /** Jump size that counts as a change point. */
  val JumpMin = 200.0

  /** Per-user change-point detection over the event stream: a change
    * point is a |value − lag(value)| jump above [[JumpMin]] in event-
    * time order. lag/lead breadth over the q15 window shape — ONE hash
    * shuffle on user_id, then everything (lag, jump, flags) stays
    * inside the sorted partition; the output is one aggregated row per
    * user. (user_id, ts) is collision-free in the data, so Spark's
    * window order and DuckDB's agree exactly. */
  def q77Changepoints(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("value"))
      .withColumn("jump", abs(col("value") - lag(col("value"), 1).over(byUser)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("jump") > JumpMin, 1L).otherwise(0L)).as("n_jumps"),
        asD(max(col("jump"))).as("max_jump"))
      .orderBy(col("user_id"))
  }

  val q77Sql: String =
    s"""WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value FROM events),
      |j AS (
      |  SELECT user_id,
      |    abs(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts_us)) AS jump
      |  FROM ev)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CASE WHEN jump > $JumpMin THEN 1 ELSE 0 END) AS BIGINT) AS n_jumps,
      |  round(max(jump), 6) AS max_jump
      |FROM j GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Spike rule: an hour whose count exceeds 4× the smoothed history,
    * evaluated from hour 3 on (the smoother needs a short warm-up). */
  val EwmaSpikeFactor = 4L
  val EwmaWarmupHours = 3

  /** Exponentially-weighted moving average over hourly event volume,
    * α = 1/2 — the trend smoother between q63's global z-score and
    * q77's per-user jumps: s_t = (x_t + s_{t−1})/2, s_0 = x_0, per
    * (event_type, day), plus a spike flag when an hour's raw count
    * exceeds [[EwmaSpikeFactor]]× the smoothed history. The dyadic α
    * makes the whole recursion EXACT INTEGER arithmetic via the closed
    * form s_t = (x_0 + Σ_{i=1..t} 2^{i−1}·x_i) / 2^t: one cumulative
    * window sum of scaled counts, one final division — no libm, no
    * association sensitivity, and the spike test cross-multiplies to
    * stay integral (u_t > 4·(S_t − u_t) ⟺ x_t > 4·s_{t−1}·…). Missing
    * hours enter as true zeros via a (type,day)×24 grid (tiny dim
    * frames; the only full-data pass is the hourly count partial-agg).
    * Hour index is pure integer division on the nanosecond ts — no
    * calendar functions, no timezone surface. */
  def q85Ewma(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts div 86400000000000").as("day"),
        expr("(ts div 3600000000000) % 24").as("hr"))
      .groupBy(col("event_type"), col("day"), col("hr"))
      .agg(count(lit(1)).as("c"))
    val grid = hourly.select(col("event_type"), col("day")).distinct()
      .select(col("event_type"), col("day"),
        explode(sequence(lit(0L), lit(23L))).as("hr"))
    val x = grid.join(hourly, Seq("event_type", "day", "hr"), "left")
      .select(col("event_type"), col("day"), col("hr"),
        coalesce(col("c"), lit(0L)).as("cnt"))
    val u = when(col("hr") === 0, col("cnt"))
      .otherwise(col("cnt") * expr("shiftleft(1L, cast(hr - 1 as int))"))
    val byDay = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("hr")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    x.withColumn("u", u)
      .withColumn("s", sum(col("u")).over(byDay))
      .select(col("event_type"), col("day"), col("hr"), col("cnt"),
        round(col("s").cast("double") / expr("shiftleft(1L, cast(hr as int))"), 6)
          .as("ewma"),
        (col("hr") >= EwmaWarmupHours &&
          col("u") > lit(EwmaSpikeFactor) * (col("s") - col("u"))).as("spike"))
      .orderBy(col("event_type"), col("day"), col("hr"))
  }

  val q85Sql: String =
    s"""WITH hourly AS (
      |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hr, count(*) AS c
      |  FROM events GROUP BY 1, 2, 3),
      |grid AS (
      |  SELECT event_type, day, CAST(h AS BIGINT) AS hr
      |  FROM (SELECT DISTINCT event_type, day FROM hourly)
      |  CROSS JOIN (SELECT unnest(range(0, 24)) AS h)),
      |x AS (
      |  SELECT g.event_type, g.day, g.hr, coalesce(h.c, 0) AS cnt
      |  FROM grid g LEFT JOIN hourly h
      |    ON g.event_type = h.event_type AND g.day = h.day AND g.hr = h.hr),
      |scaled AS (
      |  SELECT event_type, day, hr, cnt,
      |    (CASE WHEN hr = 0 THEN cnt ELSE cnt * (1::BIGINT << CAST(hr - 1 AS INT)) END) AS u
      |  FROM x),
      |summed AS (
      |  SELECT event_type, day, hr, cnt, u,
      |    sum(u) OVER (PARTITION BY event_type, day ORDER BY hr
      |                 ROWS UNBOUNDED PRECEDING) AS s
      |  FROM scaled)
      |SELECT event_type, day, hr, cnt,
      |  round(CAST(s AS DOUBLE) / (1::BIGINT << CAST(hr AS INT)), 6) AS ewma,
      |  (hr >= $EwmaWarmupHours AND u > $EwmaSpikeFactor * (s - u)) AS spike
      |FROM summed ORDER BY event_type, day, hr""".stripMargin

  // ---------------------------------------------------------------- q103
  val AcfMaxLag = 7

  /** Autocorrelation function of the daily event-count series at
    * calendar-day lags 0..[[AcfMaxLag]] — the seasonality probe run
    * before any forecasting/anomaly model (q63/q77/q85's sibling:
    * "does this series repeat weekly?"). Sample ACF with the global
    * mean: r_k = Σ_t (x_t−x̄)(x_{t+k}−x̄) / Σ_t (x_t−x̄)².
    *
    * Exactness: with S = Σx and n the day count, n·x_t − S is an
    * integer, and r_k = Σ(n·x_t−S)(n·x_{t+k}−S) / Σ(n·x_t−S)² — the
    * 1/n² factors cancel — so BOTH sums run in exact int64 (association-
    * free like q79's gridded terms) and the single double division is
    * the only float op, identical on both engines. Lag alignment is by
    * CALENDAR day (a join on day+k), so a missing day shortens the
    * overlap instead of silently misaligning rows.
    *
    * Shape for 100 TB: the corpus-wide work is one partial-agged
    * groupBy(day); everything after runs on the |days|-row series with
    * broadcast scalars. */
  def q103Acf(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(expr("ts div 86400000000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("x"))
    val tot = daily.agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    val cent = daily.crossJoin(broadcast(tot))
      .select(col("day"), (col("n") * col("x") - col("s")).as("c"))
    val joined = cent.as("a").join(cent.as("b"),
        col("b.day") >= col("a.day") && col("b.day") <= col("a.day") + AcfMaxLag)
      .select((col("b.day") - col("a.day")).as("lag"),
        (col("a.c") * col("b.c")).as("p"))
      .groupBy(col("lag")).agg(count(lit(1)).as("n_pairs"), sum(col("p")).as("num"))
    val den = joined.filter(col("lag") === 0).select(col("num").as("den"))
    joined.crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        round(col("num").cast("double") / col("den").cast("double"), 6).as("acf"))
      .orderBy(col("lag"))
  }

  val q103Sql: String =
    s"""WITH daily AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, count(*) AS x
      |  FROM events GROUP BY 1),
      |tot AS (SELECT sum(x) AS s, count(*) AS n FROM daily),
      |cent AS (SELECT day, (tot.n * x - tot.s) AS c FROM daily CROSS JOIN tot),
      |lagp AS (
      |  SELECT b.day - a.day AS lag, count(*) AS n_pairs, sum(a.c * b.c) AS num
      |  FROM cent a JOIN cent b
      |    ON b.day >= a.day AND b.day <= a.day + $AcfMaxLag
      |  GROUP BY 1),
      |den AS (SELECT num AS den FROM lagp WHERE lag = 0)
      |SELECT lag, n_pairs,
      |  round(CAST(num AS DOUBLE) / CAST(den.den AS DOUBLE), 6) AS acf
      |FROM lagp CROSS JOIN den
      |ORDER BY lag""".stripMargin

  // --------------------------------------------------------------- q121
  /** Hour-of-day seasonality strength per event type — ANOVA η² (the
    * between-hour share of total variance of hourly counts): the
    * signal that decides whether a pipeline's load model, anomaly
    * baseline (q63), or trend smoother (q85) needs an hour-of-day
    * term. Cells are hourly counts on the PRESENT (type, day)×24 grid
    * (q85's zero-fill convention), so quiet hours count as real zeros.
    *
    * Exactness: with a constant D days per type, both sums of squares
    * reduce to INTEGER forms — n·SS_hour = 24·Σ_h S_h² − S² and
    * n·SS_tot = n·Q − S² (n = 24D, S_h per-hour sums, Q = Σc²) — so
    * η² is a ratio of int64s with ONE double division at the end: no
    * float summation order anywhere, the q103 centering trick in ANOVA
    * form. Peak hour is an integer argmax (max S_h, ties → min h).
    *
    * Shape for 100 TB: one partial-agged groupBy to hourly cells
    * (the only corpus-scale exchange), then per-type frames of 24·D
    * rows; output is |types| rows. */
  def q121Seasonality(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts div 86400000000000").as("day"),
        expr("(ts div 3600000000000) % 24").as("hr"))
      .groupBy(col("event_type"), col("day"), col("hr"))
      .agg(count(lit(1)).as("c"))
    val grid = hourly.select(col("event_type"), col("day")).distinct()
      .select(col("event_type"), col("day"),
        explode(sequence(lit(0L), lit(23L))).as("hr"))
    val cells = grid.join(hourly, Seq("event_type", "day", "hr"), "left")
      .select(col("event_type"), col("day"), col("hr"),
        coalesce(col("c"), lit(0L)).as("c"))
    val byHour = cells.groupBy(col("event_type"), col("hr"))
      .agg(sum(col("c")).as("sh"), count(lit(1)).as("d"),
        sum(col("c") * col("c")).as("qh"))
    byHour.groupBy(col("event_type"))
      .agg(max(col("d")).as("n_days"), // constant across hours by grid construction
        sum(col("sh")).as("s"), sum(col("qh")).as("q"),
        sum(col("sh") * col("sh")).as("ssh"),
        max(struct(col("sh"), (-col("hr")).as("nh"))).as("peak"))
      .select(col("event_type"), col("n_days"),
        round(when(lit(24L) * col("n_days") * col("q") - col("s") * col("s") === 0, lit(0.0))
          .otherwise((lit(24L) * col("ssh") - col("s") * col("s")).cast("double")
            / (lit(24L) * col("n_days") * col("q") - col("s") * col("s")).cast("double")), 6)
          .as("eta2"),
        (-col("peak.nh")).as("peak_hour"),
        round(col("peak.sh").cast("double") / col("s"), 6).as("peak_share"))
      .orderBy(col("event_type"))
  }

  val q121Sql: String =
    """WITH hourly AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
      |    (epoch_ns(ts) // 3600000000000) % 24 AS hr, count(*) AS c
      |  FROM events GROUP BY 1, 2, 3),
      |grid AS (
      |  SELECT d.event_type, d.day, h.hr
      |  FROM (SELECT DISTINCT event_type, day FROM hourly) d
      |  CROSS JOIN (SELECT unnest(range(0, 24)) AS hr) h),
      |cells AS (
      |  SELECT g.event_type, g.day, g.hr, coalesce(hourly.c, 0) AS c
      |  FROM grid g LEFT JOIN hourly
      |    ON hourly.event_type = g.event_type AND hourly.day = g.day AND hourly.hr = g.hr),
      |byhour AS (
      |  SELECT event_type, hr, CAST(sum(c) AS BIGINT) AS sh,
      |    count(*) AS d, CAST(sum(c * c) AS BIGINT) AS qh
      |  FROM cells GROUP BY event_type, hr),
      |agg AS (
      |  SELECT event_type, max(d) AS n_days,
      |    CAST(sum(sh) AS BIGINT) AS s, CAST(sum(qh) AS BIGINT) AS q,
      |    CAST(sum(sh * sh) AS BIGINT) AS ssh
      |  FROM byhour GROUP BY event_type),
      |peak AS (
      |  SELECT event_type, sh AS peak_sh, hr AS peak_hour FROM (
      |    SELECT event_type, sh, hr,
      |      row_number() OVER (PARTITION BY event_type ORDER BY sh DESC, hr) AS rn
      |    FROM byhour) WHERE rn = 1)
      |SELECT a.event_type, a.n_days,
      |  round(CASE WHEN 24 * a.n_days * a.q - a.s * a.s = 0 THEN 0.0
      |    ELSE CAST(24 * a.ssh - a.s * a.s AS DOUBLE) / CAST(24 * a.n_days * a.q - a.s * a.s AS DOUBLE) END, 6) AS eta2,
      |  p.peak_hour, round(CAST(p.peak_sh AS DOUBLE) / a.s, 6) AS peak_share
      |FROM agg a JOIN peak p ON p.event_type = a.event_type
      |ORDER BY a.event_type""".stripMargin

  // --------------------------------------------------------------- q134
  val CcfMaxLag = 5

  /** Lead–lag cross-correlation between the daily 'click' and
    * 'purchase' series (does activity in one channel PREDICT the
    * other, and at what offset?) — q103's autocorrelation machinery
    * generalized to two series: both series zero-fill onto the common
    * day grid, center via the integer n·x−S trick (no float sums), and
    * ccf(lag) = Σ cₐ[t]·c_b[t+lag] / √(Σcₐ²·Σc_b²) with every sum exact
    * int64 and ONE double division at the end. Negative lags = clicks
    * trailing purchases.
    *
    * Shape for 100 TB: corpus work is one partial-agged
    * groupBy(day, type); everything after lives on O(days) frames. */
  def q134CrossCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(expr("ts div 86400000000000").as("day"), col("event_type"))
    val grid = ev.select(col("day")).distinct()
    def series(t: String): DataFrame = {
      val cnt = ev.filter(col("event_type") === t)
        .groupBy(col("day")).agg(count(lit(1)).as("x"))
      val filled = grid.join(cnt, Seq("day"), "left")
        .select(col("day"), coalesce(col("x"), lit(0L)).as("x"))
      val tot = filled.agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      filled.crossJoin(broadcast(tot))
        .select(col("day"), (col("n") * col("x") - col("s")).as("c"))
    }
    val a = series("click").select(col("day"), col("c").as("ca"))
    val b = series("purchase").select(col("day").as("dayb"), col("c").as("cb"))
    val den = a.agg(sum(col("ca") * col("ca")).as("saa"))
      .crossJoin(b.agg(sum(col("cb") * col("cb")).as("sbb")))
    val pairs = a.join(b,
        col("dayb") >= col("day") - CcfMaxLag &&
          col("dayb") <= col("day") + CcfMaxLag)
      .select((col("dayb") - col("day")).as("lag"),
        (col("ca") * col("cb")).as("p"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("p")).as("num"))
    pairs.crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        round(col("num").cast("double")
          / sqrt(col("saa").cast("double") * col("sbb").cast("double")), 6)
          .as("ccf"))
      .orderBy(col("lag"))
  }

  val q134Sql: String =
    s"""WITH ev AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day, event_type
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |grid AS (SELECT DISTINCT day FROM ev),
      |sa AS (
      |  SELECT g.day, coalesce(c.x, 0) AS x FROM grid g LEFT JOIN
      |    (SELECT day, count(*) AS x FROM ev WHERE event_type = 'click' GROUP BY day) c
      |    ON g.day = c.day),
      |sb AS (
      |  SELECT g.day, coalesce(c.x, 0) AS x FROM grid g LEFT JOIN
      |    (SELECT day, count(*) AS x FROM ev WHERE event_type = 'purchase' GROUP BY day) c
      |    ON g.day = c.day),
      |ta AS (SELECT sum(x) AS s, count(*) AS n FROM sa),
      |tb AS (SELECT sum(x) AS s, count(*) AS n FROM sb),
      |ca AS (SELECT day, (ta.n * x - ta.s) AS c FROM sa CROSS JOIN ta),
      |cb AS (SELECT day, (tb.n * x - tb.s) AS c FROM sb CROSS JOIN tb),
      |den AS (
      |  SELECT (SELECT sum(c * c) FROM ca) AS saa, (SELECT sum(c * c) FROM cb) AS sbb),
      |pairs AS (
      |  SELECT b.day - a.day AS lag, count(*) AS n_pairs, sum(a.c * b.c) AS num
      |  FROM ca a JOIN cb b ON b.day >= a.day - $CcfMaxLag AND b.day <= a.day + $CcfMaxLag
      |  GROUP BY 1)
      |SELECT lag, n_pairs,
      |  round(CAST(num AS DOUBLE) / sqrt(CAST(den.saa AS DOUBLE) * CAST(den.sbb AS DOUBLE)), 6) AS ccf
      |FROM pairs CROSS JOIN den
      |ORDER BY lag""".stripMargin

  // --------------------------------------------------------------- q137
  /** Burst window: a full trailing day of hourly history. */
  val BurstBaselineHours = 24
  /** Burst threshold: rate ≥ 3× the trailing-day mean, and ≥ 5
    * absolute (a 0→2 blip on an empty baseline is not a burst). */
  val BurstFactor = 3
  val BurstMinCount = 5L
  /** The injected incident: every event inside this 3-hour span
    * (2024-01-16 06:00–09:00 UTC, epoch-hours) is replicated
    * [[BurstAmp]]× — the synthetic stream is deliberately uniform, so
    * the fixture overlays a deterministic surge the same way the dedup
    * corpus overlays deterministic twins; the detector must light up
    * exactly there and nowhere else, at every SF (amplification is
    * relative, so the contrast survives any scale-up). */
  val BurstHourStart = 473718L
  val BurstHourEnd = 473720L
  val BurstAmp = 6

  /** Burst-episode detection per event type — the incident/trend
    * detector next to q63's z-score point anomalies: the hourly series
    * ZERO-FILLS onto the full hour grid (a silent hour is a 0, not a
    * missing row — else the trailing baseline silently shortens), an
    * hour bursts when its count is ≥ [[BurstFactor]]× the mean of the
    * preceding [[BurstBaselineHours]] hours (integer
    * cross-multiplication — cnt·24 ≥ 3·Σ₂₄ — no float baseline, full
    * history required), CONSECUTIVE bursting hours merge into episodes
    * (gaps-and-islands), and each episode reports span, peak, volume.
    *
    * Shape for 100 TB: corpus work is one partial-agged
    * groupBy(type, hour) over the amplified stream (the overlay is a
    * map-side constant-factor explode of a 3-hour slice); the grid,
    * rolling window, flags, and islands live on the O(types × hours)
    * hourly frame, partitioned by type. */
  def q137Bursts(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts div 3600000000000").as("hour"))
    val surge = ev
      .filter(col("hour").between(BurstHourStart, BurstHourEnd))
      .select(col("event_type"), col("hour"),
        explode(sequence(lit(1), lit(BurstAmp - 1))).as("copy"))
      .drop("copy")
    val amped = ev.unionByName(surge)
    val hourly = amped.groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("cnt"))
    val span = ev.agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
    val grid = Tables.events(spark, sfDir).select(col("event_type")).distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"))).as("hour"))
    val series = grid.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val byTypeHour = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    val trail = byTypeHour.rowsBetween(-BurstBaselineHours, -1)
    val flagged = series
      .withColumn("base_sum", sum(col("cnt")).over(trail))
      .withColumn("base_n", count(lit(1)).over(trail))
      .withColumn("burst",
        col("base_n") === BurstBaselineHours &&
          col("cnt") * BurstBaselineHours >= lit(BurstFactor) * col("base_sum") &&
          col("cnt") >= BurstMinCount)
    val islands = flagged.filter(col("burst"))
      .withColumn("prev_hour", lag(col("hour"), 1).over(byTypeHour))
      .withColumn("brk",
        when(col("prev_hour").isNull || col("hour") - col("prev_hour") > 1, 1)
          .otherwise(0))
      .withColumn("episode", sum(col("brk")).over(byTypeHour))
    islands.groupBy(col("event_type"), col("episode"))
      .agg(min(col("hour")).as("start_hour"), max(col("hour")).as("end_hour"),
        count(lit(1)).as("n_hours"), max(col("cnt")).as("peak"),
        sum(col("cnt")).as("volume"))
      .orderBy(col("event_type"), col("episode"))
  }

  val q137Sql: String =
    s"""WITH ev AS (
      |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour
      |  FROM events),
      |amped AS (
      |  SELECT event_type, hour FROM ev
      |  UNION ALL
      |  SELECT event_type, hour FROM ev, generate_series(1, ${BurstAmp - 1})
      |  WHERE hour BETWEEN $BurstHourStart AND $BurstHourEnd),
      |hourly AS (SELECT event_type, hour, count(*) AS cnt FROM amped GROUP BY 1, 2),
      |span AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM ev),
      |grid AS (
      |  SELECT t.event_type, g.hour
      |  FROM (SELECT DISTINCT event_type FROM ev) t,
      |    (SELECT unnest(generate_series(h0, h1)) AS hour FROM span) g),
      |series AS (
      |  SELECT grid.event_type, grid.hour, coalesce(hourly.cnt, 0) AS cnt
      |  FROM grid LEFT JOIN hourly
      |    ON grid.event_type = hourly.event_type AND grid.hour = hourly.hour),
      |flagged AS (
      |  SELECT event_type, hour, cnt,
      |    sum(cnt) OVER w AS base_sum, count(*) OVER w AS base_n
      |  FROM series
      |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
      |    ROWS BETWEEN $BurstBaselineHours PRECEDING AND 1 PRECEDING)),
      |bursting AS (
      |  SELECT event_type, hour, cnt FROM flagged
      |  WHERE base_n = $BurstBaselineHours
      |    AND cnt * $BurstBaselineHours >= $BurstFactor * base_sum
      |    AND cnt >= $BurstMinCount),
      |islands AS (
      |  SELECT event_type, hour, cnt,
      |    CAST(sum(CASE WHEN prev_hour IS NULL OR hour - prev_hour > 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY event_type ORDER BY hour) AS BIGINT) AS episode
      |  FROM (SELECT event_type, hour, cnt,
      |          lag(hour) OVER (PARTITION BY event_type ORDER BY hour) AS prev_hour
      |        FROM bursting))
      |SELECT event_type, episode, min(hour) AS start_hour, max(hour) AS end_hour,
      |  count(*) AS n_hours, max(cnt) AS peak, CAST(sum(cnt) AS BIGINT) AS volume
      |FROM islands GROUP BY event_type, episode
      |ORDER BY event_type, episode""".stripMargin

  // --------------------------------------------------------------- q158
  /** Time-to-event (survival) distribution — days from a user's first
    * 'view' to their first subsequent 'purchase', the
    * conversion-latency analysis product teams run beside q53's
    * funnel: per-day-lag histogram of converters plus exact quartiles
    * computed ON the day histogram (q138's value-histogram machinery —
    * the lag domain is O(days), so percentiles never touch a per-user
    * window), with the never-converted population reported as the
    * censored remainder.
    *
    * Shape for 100 TB: two partial-agged min-aggregations per user
    * (view, then qualifying purchase), one tiny groupBy(day lag),
    * cumulative window over O(days) rows. */
  def q158TimeToEvent(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("v_ts"))
    val firstBuy = ev.filter(col("event_type") === "purchase")
      .join(firstView, "user_id")
      .filter(col("ts_us") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("p_ts"),
        min(col("v_ts")).as("v_ts"))
    val lags = firstBuy
      .select(expr("(p_ts - v_ts) div 86400000000").as("tte_days"))
      .groupBy(col("tte_days")).agg(count(lit(1)).as("n"))
    val tot = firstView.agg(count(lit(1)).as("n_viewers"))
      .crossJoin(lags.agg(sum(col("n")).as("n_converted")))
    val cum = lags
      .withColumn("cumn", sum(col("n")).over(Window.orderBy(col("tte_days"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
    cum.select(col("tte_days"), col("n"), col("cumn"),
        col("n_viewers"), col("n_converted"),
        round(col("cumn").cast("double") / col("n_converted"), 6)
          .as("cdf_converted"),
        round(col("n_converted").cast("double") / col("n_viewers"), 6)
          .as("conversion_rate"))
      .orderBy(col("tte_days"))
  }

  val q158Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |fv AS (SELECT user_id, min(ts_us) AS v_ts FROM ev
      |       WHERE event_type = 'view' GROUP BY user_id),
      |fb AS (SELECT e.user_id, min(ts_us) AS p_ts, min(v_ts) AS v_ts
      |       FROM ev e JOIN fv ON e.user_id = fv.user_id
      |       WHERE event_type = 'purchase' AND ts_us > v_ts
      |       GROUP BY e.user_id),
      |lags AS (
      |  SELECT (p_ts - v_ts) // 86400000000 AS tte_days, count(*) AS n
      |  FROM fb GROUP BY 1),
      |tot AS (
      |  SELECT (SELECT count(*) FROM fv) AS n_viewers,
      |    (SELECT CAST(sum(n) AS BIGINT) FROM lags) AS n_converted),
      |cum AS (
      |  SELECT tte_days, n,
      |    CAST(sum(n) OVER (ORDER BY tte_days
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumn
      |  FROM lags)
      |SELECT tte_days, n, cumn, n_viewers, n_converted,
      |  round(CAST(cumn AS DOUBLE) / n_converted, 6) AS cdf_converted,
      |  round(CAST(n_converted AS DOUBLE) / n_viewers, 6) AS conversion_rate
      |FROM cum CROSS JOIN tot
      |ORDER BY tte_days""".stripMargin

  // --------------------------------------------------------------- q159
  /** Seasonal anomaly gate: count·denom ≥ 3·seasonal_sum·1 and ≥ 5. */
  val SeasonalFactor = 3
  val SeasonalMin = 5L

  /** Seasonally-adjusted anomaly detection — q63's z-score flags
    * anything busy, q121 proved the hour term matters; this one flags
    * (type, day, hour) cells that are ≥ [[SeasonalFactor]]× their OWN
    * hour-of-day seasonal mean (integer cross-multiplication:
    * cnt·n_days ≥ 3·Σ_same-hour — no float baseline), so the 9 am
    * spike that happens every day stays quiet and a 3 am surge
    * lights up. Each cell's baseline excludes nothing (the mean
    * includes the cell — a conservative gate that needs a stronger
    * surge to fire, and keeps both engines' arithmetic identical).
    * The stream carries q137's deterministic surge overlay (same
    * [[BurstHourStart]]/[[BurstAmp]] constants — one incident, two
    * detectors: q137 finds the episode in time, this one proves it is
    * seasonally abnormal), because the uniform fixture otherwise has
    * nothing ≥3× its own hour profile at most SFs.
    *
    * Shape for 100 TB: one partial-agged groupBy(type, day, hour);
    * the seasonal profile is a tiny re-aggregation broadcast back. */
  def q159SeasonalAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts div 3600000000000").as("hour"))
    val surge = ev.filter(col("hour").between(BurstHourStart, BurstHourEnd))
      .select(col("event_type"), col("hour"),
        explode(sequence(lit(1), lit(BurstAmp - 1))).as("copy"))
      .drop("copy")
    val cells = ev.unionByName(surge)
      .select(col("event_type"), expr("hour div 24").as("day"),
        expr("hour % 24").as("hod"))
      .groupBy(col("event_type"), col("day"), col("hod"))
      .agg(count(lit(1)).as("cnt"))
    val seasonal = cells.groupBy(col("event_type"), col("hod"))
      .agg(sum(col("cnt")).as("ssum"), count(lit(1)).as("n_days"))
    cells.join(broadcast(seasonal), Seq("event_type", "hod"))
      .filter(col("cnt") * col("n_days") >= lit(SeasonalFactor) * col("ssum") &&
        col("cnt") >= SeasonalMin)
      .select(col("event_type"), col("day"), col("hod"), col("cnt"),
        col("ssum"), col("n_days"),
        round(col("cnt").cast("double") * col("n_days") / col("ssum"), 6)
          .as("lift"))
      .orderBy(col("event_type"), col("day"), col("hod"))
  }

  val q159Sql: String =
    s"""WITH ev AS (
      |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour
      |  FROM events),
      |amped AS (
      |  SELECT event_type, hour FROM ev
      |  UNION ALL
      |  SELECT event_type, hour FROM ev, generate_series(1, ${BurstAmp - 1})
      |  WHERE hour BETWEEN $BurstHourStart AND $BurstHourEnd),
      |cells AS (
      |  SELECT event_type, hour // 24 AS day, hour % 24 AS hod, count(*) AS cnt
      |  FROM amped GROUP BY 1, 2, 3),
      |seasonal AS (
      |  SELECT event_type, hod, CAST(sum(cnt) AS BIGINT) AS ssum,
      |    count(*) AS n_days
      |  FROM cells GROUP BY event_type, hod)
      |SELECT c.event_type, c.day, c.hod, c.cnt, s.ssum, s.n_days,
      |  round(CAST(c.cnt AS DOUBLE) * s.n_days / s.ssum, 6) AS lift
      |FROM cells c JOIN seasonal s
      |  ON c.event_type = s.event_type AND c.hod = s.hod
      |WHERE c.cnt * s.n_days >= $SeasonalFactor * s.ssum AND c.cnt >= $SeasonalMin
      |ORDER BY c.event_type, c.day, c.hod""".stripMargin

  // --------------------------------------------------------------- q173
  /** Seasonal-mean forecast backtest — the capacity-planning loop run
    * on event streams (will tomorrow's 9 am load fit?): forecast the
    * LAST day's hourly counts per event type as the mean of the same
    * hour over all training days (the seasonal-naive baseline every
    * forecasting system must beat), then score against the actual last
    * day: per-cell absolute error plus the per-type MAPE over cells
    * with non-zero actuals (the standard MAPE domain — zero-actual
    * cells would divide by zero; they still appear as rows with their
    * absolute error). Exact integer inputs throughout: forecast =
    * Σcell / n_train_days as one rational per cell.
    *
    * Shape for 100 TB: one partial-agged groupBy(type, day, hod) over
    * the events; training sums re-aggregate the O(cells) frame; the
    * last-day join, day census and per-type MAPE are all tiny
    * broadcast-scale frames. */
  def q173ForecastBacktest(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts div 86400000000000").as("day"),
        expr("(ts div 3600000000000) % 24").as("hod"))
      .groupBy(col("event_type"), col("day"), col("hod"))
      .agg(count(lit(1)).as("cnt"))
    val lastDay = cells.agg(max(col("day")).as("last_day"))
    val withLast = cells.crossJoin(broadcast(lastDay))
    val nTrain = withLast.filter(col("day") < col("last_day"))
      .agg(countDistinct(col("day")).as("n_train"))
    val train = withLast.filter(col("day") < col("last_day"))
      .groupBy(col("event_type"), col("hod")).agg(sum(col("cnt")).as("s"))
    val actual = withLast.filter(col("day") === col("last_day"))
      .select(col("event_type"), col("hod"), col("cnt").as("actual"))
    val grid = train.join(actual, Seq("event_type", "hod"), "full_outer")
      .select(col("event_type"), col("hod"),
        coalesce(col("s"), lit(0L)).as("s"),
        coalesce(col("actual"), lit(0L)).as("actual"))
      .crossJoin(broadcast(nTrain))
      .withColumn("fc", col("s").cast("double") / col("n_train"))
    val mape = grid.filter(col("actual") > 0)
      .groupBy(col("event_type"))
      .agg(avg(abs(col("actual") - col("fc")) / col("actual")).as("m"))
    grid.join(broadcast(mape), Seq("event_type"))
      .select(col("event_type"), col("hod"), col("n_train"),
        round(col("fc"), 6).as("forecast"), col("actual"),
        round(abs(col("actual") - col("fc")), 6).as("abs_err"),
        round(col("m"), 6).as("type_mape"))
      .orderBy(col("event_type"), col("hod"))
  }

  val q173Sql: String =
    s"""WITH cells AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hod,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2, 3),
      |ld AS (SELECT max(day) AS last_day FROM cells),
      |nt AS (SELECT count(DISTINCT day) AS n_train FROM cells
      |       WHERE day < (SELECT last_day FROM ld)),
      |train AS (
      |  SELECT event_type, hod, CAST(sum(cnt) AS BIGINT) AS s FROM cells
      |  WHERE day < (SELECT last_day FROM ld) GROUP BY event_type, hod),
      |actual AS (
      |  SELECT event_type, hod, cnt AS actual FROM cells
      |  WHERE day = (SELECT last_day FROM ld)),
      |grid AS (
      |  SELECT coalesce(t.event_type, a.event_type) AS event_type,
      |    coalesce(t.hod, a.hod) AS hod,
      |    CAST(coalesce(t.s, 0) AS DOUBLE) / (SELECT n_train FROM nt) AS fc,
      |    coalesce(a.actual, 0) AS actual
      |  FROM train t FULL OUTER JOIN actual a
      |    ON t.event_type = a.event_type AND t.hod = a.hod),
      |mape AS (
      |  SELECT event_type, avg(abs(actual - fc) / actual) AS m
      |  FROM grid WHERE actual > 0 GROUP BY event_type)
      |SELECT g.event_type, g.hod, (SELECT n_train FROM nt) AS n_train,
      |  round(g.fc, 6) AS forecast, g.actual,
      |  round(abs(g.actual - g.fc), 6) AS abs_err,
      |  round(m.m, 6) AS type_mape
      |FROM grid g JOIN mape m ON g.event_type = m.event_type
      |ORDER BY g.event_type, g.hod""".stripMargin

  // --------------------------------------------------------------- q191
  /** Centered moving-average half-width for the trend pass (±12 h
    * around each hour — one diurnal period of smoothing). */
  val StlHalf = 12

  /** STL-lite seasonal decomposition — the hourly event series split
    * into trend + seasonal + residual the classical way: trend = the
    * centered ±[[StlHalf]]-hour moving average (only hours with a FULL
    * window keep a trend — edge hours are excluded, the textbook
    * rule); seasonal = the per-hour-of-day mean of the detrended
    * series; residual = what remains. Emits the 24-row seasonal
    * profile with the shared variance split (detrended vs residual)
    * and seasonal strength 1 − var(resid)/var(detrended) — q121
    * reports the strength METRIC, this exposes the decomposition
    * itself (what a forecaster or anomaly detector consumes).
    *
    * Shape for 100 TB: one partial-agged groupBy(hour) collapses the
    * corpus; every window/mean after that runs on the O(hours)
    * series. */
  def q191StlLite(spark: SparkSession, sfDir: String): DataFrame = {
    val series = Tables.events(spark, sfDir)
      .select(expr("ts div 3600000000000").as("h"))
      .groupBy(col("h")).agg(count(lit(1)).cast("double").as("y"))
    val w = Window.orderBy(col("h")).rowsBetween(-StlHalf, StlHalf)
    val trended = series
      .withColumn("trend", round(avg(col("y")).over(w), 6))
      .withColumn("nw", count(lit(1)).over(w))
      .filter(col("nw") === 2 * StlHalf + 1)
      .withColumn("det", col("y") - col("trend"))
      .withColumn("hod", pmod(col("h"), lit(24L)))
    val seasonal = trended.groupBy(col("hod"))
      .agg(round(avg(col("det")), 6).as("seasonal"), count(lit(1)).as("n_obs"))
    def gq(c: Column) = round(c, 6).cast(DecimalType(38, 6))
    val stats = trended.join(broadcast(seasonal), "hod")
      .withColumn("resid", col("det") - col("seasonal"))
      .agg(count(lit(1)).as("n"), sum(gq(col("det"))).cast("double").as("sd"),
        sum(gq(col("det") * col("det"))).cast("double").as("sdd"),
        sum(gq(col("resid"))).cast("double").as("sr"),
        sum(gq(col("resid") * col("resid"))).cast("double").as("srr"))
      .select(
        round((col("sdd") - col("sd") * col("sd") / col("n")) / col("n"), 6)
          .as("var_detrended"),
        round((col("srr") - col("sr") * col("sr") / col("n")) / col("n"), 6)
          .as("var_residual"),
        round(lit(1.0) -
          ((col("srr") - col("sr") * col("sr") / col("n")) / col("n"))
          / ((col("sdd") - col("sd") * col("sd") / col("n")) / col("n")), 6)
          .as("seasonal_strength"))
    seasonal.crossJoin(broadcast(stats))
      .select(col("hod"), col("n_obs"), col("seasonal"),
        col("var_detrended"), col("var_residual"), col("seasonal_strength"))
      .orderBy(col("hod"))
  }

  val q191Sql: String =
    s"""WITH series AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
      |    CAST(count(*) AS DOUBLE) AS y
      |  FROM events GROUP BY 1),
      |trended AS (
      |  SELECT h, y, round(avg(y) OVER win, 6) AS trend,
      |    count(*) OVER win AS nw
      |  FROM series
      |  WINDOW win AS (ORDER BY h ROWS BETWEEN $StlHalf PRECEDING AND $StlHalf FOLLOWING)),
      |det AS (
      |  SELECT h, h % 24 AS hod, y - trend AS det FROM trended
      |  WHERE nw = ${2 * StlHalf + 1}),
      |seasonal AS (
      |  SELECT hod, round(avg(det), 6) AS seasonal, count(*) AS n_obs
      |  FROM det GROUP BY hod),
      |resid AS (
      |  SELECT d.det, d.det - s.seasonal AS resid
      |  FROM det d JOIN seasonal s ON d.hod = s.hod),
      |stats AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(CAST(round(det, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sd,
      |    CAST(sum(CAST(round(det * det, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sdd,
      |    CAST(sum(CAST(round(resid, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sr,
      |    CAST(sum(CAST(round(resid * resid, 6) AS DECIMAL(38,6))) AS DOUBLE) AS srr
      |  FROM resid)
      |SELECT s.hod, s.n_obs, s.seasonal,
      |  round((t.sdd - t.sd * t.sd / t.n) / t.n, 6) AS var_detrended,
      |  round((t.srr - t.sr * t.sr / t.n) / t.n, 6) AS var_residual,
      |  round(1.0 - ((t.srr - t.sr * t.sr / t.n) / t.n)
      |    / ((t.sdd - t.sd * t.sd / t.n) / t.n), 6) AS seasonal_strength
      |FROM seasonal s CROSS JOIN stats t ORDER BY s.hod""".stripMargin

  /** Censoring horizon: users whose window ends without the target
    * event are censored, not converted. */
  val KmHourUs = 3600L * 1000000L

  // --------------------------------------------------------------- q234
  /** Kaplan–Meier survival curve — time-to-first-purchase with RIGHT
    * CENSORING, the estimator q158's time-to-event census cannot
    * provide (q158 drops never-converters; KM keeps them in the risk
    * set until their observation window ends, so the curve is
    * unbiased under censoring — the retention/conversion primitive of
    * cohort analytics and churn modeling): per user the duration from
    * first event to first purchase (converted) or to corpus end
    * (censored); at each distinct duration t the risk set n(t) =
    * subjects with duration ≥ t, and S(t) = Π_{u≤t} (1 − d(u)/n(u)).
    *
    * Determinism: each factor's ln(1 − d/n) is round(,12)-gridded and
    * the running sum is DECIMAL(38,12) (q81's convention) so the
    * cumulative product is association-free; the d = n absorbing
    * state (last subject converts) is an explicit flag, not ln(0).
    *
    * Shape for 100 TB: ONE partial-agged groupBy(user) pass over the
    * event scan, a 1-row corpus-end broadcast, then all windows run
    * over the O(distinct durations) frame — the corpus never rides an
    * exchange twice. */
  def q234KaplanMeier(spark: SparkSession, sfDir: String): DataFrame = {
    val u = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(expr("min(ts) div 1000").as("f"),
        expr("min(CASE WHEN event_type = 'purchase' THEN ts END) div 1000")
          .as("p"))
    val end = Tables.events(spark, sfDir)
      .agg(expr("max(ts) div 1000").as("corpus_end"))
    val subj = u.crossJoin(broadcast(end))
      .select(
        when(col("p").isNotNull, expr(s"(p - f) div $KmHourUs"))
          .otherwise(expr(s"(corpus_end - f) div $KmHourUs")).as("t"),
        when(col("p").isNotNull, 1L).otherwise(0L).as("death"))
    val g = subj.groupBy(col("t"))
      .agg(sum(col("death")).as("d"),
        (count(lit(1)) - sum(col("death"))).as("c"))
    val tot = subj.agg(count(lit(1)).as("n_subj"))
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec12 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 12)
    val r = g.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("n_subj") - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
    val s = r
      .withColumn("lsum", sum(
        when(col("d") < col("n_risk"),
          round(log(lit(1.0) - col("d").cast("double") / col("n_risk")), 12)
            .cast(dec12))
          .otherwise(lit(0.0).cast(dec12))).over(wCum))
      .withColumn("hit_zero",
        max(when(col("d") === col("n_risk"), 1).otherwise(0)).over(wCum))
    s.select(col("t").as("t_hour"), col("n_risk"),
        col("d").as("d_converted"), col("c").as("n_censored"),
        when(col("hit_zero") === 1, lit(0.0))
          .otherwise(round(exp(col("lsum").cast("double")), 6)).as("survival"))
      .orderBy(col("t_hour"))
  }

  val q234Sql: String =
    s"""WITH u AS (
      |  SELECT user_id, min(epoch_ns(ts) // 1000) AS f,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) // 1000 END) AS p
      |  FROM events GROUP BY user_id),
      |mx AS (SELECT max(epoch_ns(ts) // 1000) AS corpus_end FROM events),
      |subj AS (
      |  SELECT CASE WHEN p IS NOT NULL THEN (p - f) // $KmHourUs
      |              ELSE ((SELECT corpus_end FROM mx) - f) // $KmHourUs END AS t,
      |    CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS death
      |  FROM u),
      |g AS (
      |  SELECT t, CAST(sum(death) AS BIGINT) AS d,
      |    CAST(count(*) - sum(death) AS BIGINT) AS c
      |  FROM subj GROUP BY t),
      |r AS (
      |  SELECT t, d, c,
      |    (SELECT count(*) FROM subj) - CAST(coalesce(sum(d + c) OVER
      |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      |  FROM g),
      |s AS (
      |  SELECT t, n_risk, d, c,
      |    sum(CASE WHEN d < n_risk
      |        THEN CAST(round(ln(1.0 - CAST(d AS DOUBLE) / n_risk), 12) AS DECIMAL(38,12))
      |        ELSE CAST(0 AS DECIMAL(38,12)) END)
      |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lsum,
      |    max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
      |      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit_zero
      |  FROM r)
      |SELECT t AS t_hour, n_risk, d AS d_converted, c AS n_censored,
      |  CASE WHEN hit_zero = 1 THEN 0.0
      |       ELSE round(exp(CAST(lsum AS DOUBLE)), 6) END AS survival
      |FROM s ORDER BY t_hour""".stripMargin

  // --------------------------------------------------------------- q241
  /** Epoch-hour width in the events table's ns timestamps. */
  val GapFillHourNs = 3600000000000L

  /** Time-grid gap fill with linear interpolation — the resample step
    * every downstream time-series consumer (q103's ACF, q121's
    * seasonality, q85's EWMA) silently assumes and the fixture does
    * NOT provide: per event type ~5-7% of the 720 fixture hours have
    * no events at all, and a lag-k autocorrelation over a frame with
    * holes is computed against the WRONG lag. The operator builds the
    * full (event_type × hour) grid, marks observed hourly value sums,
    * and fills each gap by linear interpolation between the bracketing
    * observations (boundary gaps carry the nearest observation —
    * constant extrapolation).
    *
    * Shape for 100 TB: the observed frame partial-aggs to O(types ×
    * hours) BEFORE anything else happens — the grid, the windows, and
    * the interpolation all run on that bounded frame, never on raw
    * events; the grid is types ⨯ a 1-row broadcast [h0,h1] span
    * exploded map-side, and the bracketing scan is two ignoreNulls
    * window passes partitioned by type. Every double op (sum grid,
    * interpolation) is round(,6)-gridded with the identical
    * association on both engines. */
  def q241GapFill(spark: SparkSession, sfDir: String): DataFrame = {
    val obs = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr(s"ts div $GapFillHourNs").as("h"), col("value"))
      .groupBy(col("event_type"), col("h"))
      .agg(round(dsum(round(col("value"), 6)).cast("double"), 6).as("v")))
    val bounds = obs.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val grid = obs.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("h"))
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid.join(obs, Seq("event_type", "h"), "left")
      .withColumn("observed", when(col("v").isNotNull, 1).otherwise(0))
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("ph", last(when(col("observed") === 1, col("h")),
        ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nh", first(when(col("observed") === 1, col("h")),
        ignoreNulls = true).over(wNext))
      .select(col("event_type"), col("h"), col("observed"),
        round(when(col("observed") === 1, col("v"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv"))
            * (col("h") - col("ph")).cast("double")
            / (col("nh") - col("ph"))), 6).as("v_filled"))
      .orderBy(col("event_type"), col("h"))
  }

  val q241Sql: String =
    s"""WITH obs AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
      |    round(CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6))) AS DOUBLE), 6) AS v
      |  FROM events GROUP BY 1, 2),
      |bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM obs),
      |grid AS (
      |  SELECT t.event_type, g.h
      |  FROM (SELECT DISTINCT event_type FROM obs) t
      |  CROSS JOIN (SELECT unnest(generate_series(h0, h1)) AS h FROM bounds) g),
      |joined AS (
      |  SELECT g.event_type, g.h, o.v,
      |    CASE WHEN o.v IS NULL THEN 0 ELSE 1 END AS observed
      |  FROM grid g LEFT JOIN obs o ON g.event_type = o.event_type AND g.h = o.h),
      |br AS (
      |  SELECT *,
      |    last_value(CASE WHEN observed = 1 THEN v END IGNORE NULLS)
      |      OVER (PARTITION BY event_type ORDER BY h
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    last_value(CASE WHEN observed = 1 THEN h END IGNORE NULLS)
      |      OVER (PARTITION BY event_type ORDER BY h
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
      |    first_value(CASE WHEN observed = 1 THEN v END IGNORE NULLS)
      |      OVER (PARTITION BY event_type ORDER BY h
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN observed = 1 THEN h END IGNORE NULLS)
      |      OVER (PARTITION BY event_type ORDER BY h
      |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      |  FROM joined)
      |SELECT event_type, h, observed,
      |  round(CASE WHEN observed = 1 THEN v
      |    WHEN pv IS NULL THEN nv
      |    WHEN nv IS NULL THEN pv
      |    ELSE pv + (nv - pv) * CAST(h - ph AS DOUBLE) / (nh - ph)
      |  END, 6) AS v_filled
      |FROM br ORDER BY event_type, h""".stripMargin

  // --------------------------------------------------------------- q244
  /** 1-in-`TheilSenSampleMod` deterministic sample for the pair set.
    * 16 holds the sf0.1 sample at ~1.3k rows (~790k pairs) — the r9
    * bench showed mod 4's 5k-row sample costs 56s isolated (12.6M
    * pairs through the exact boxed `percentile`); the pair count is
    * quadratic in this knob's inverse, and ~1.3k points is already
    * far past the estimator's accuracy needs for a trend line. */
  val TheilSenSampleMod = 16L
  /** Loud cap on the sampled frame — the pair join is quadratic in the
    * sample BY DESIGN (the sample size is the accuracy knob, the
    * corpus size is not a factor), so a mis-tuned mod must fail with a
    * diagnosis, not melt. */
  val TheilSenMaxSample = 20000L

  /** Theil–Sen robust trend — median of pairwise slopes of purchase
    * value vs time over a deterministic hash sample, with the median-
    * residual intercept. The estimator q185's OLS line lacks: a 29%
    * outlier mass cannot move it, so it is the robust drift detector
    * for value-corruption incidents that DO move an OLS slope.
    *
    * Shape for 100 TB: the corpus never meets itself — a pushed-down
    * md5-sample filter (the q47 convention) bounds the frame to
    * O(1/mod · n) rows with a LOUD driver-side cap, the pair set is a
    * broadcast non-equi self-join of that bounded frame only, and the
    * medians are exact `percentile` over the O(sample²) slope frame.
    * Sample size, not corpus size, is the cost knob — at any SF the
    * operator reads the scan once and pays sample²/2 slope rows. */
  def q244TheilSen(spark: SparkSession, sfDir: String): DataFrame = {
    val samp = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase" &&
        pmod(MF.hash32(concat(lit("ts:"), col("event_id").cast("string"))),
          lit(TheilSenSampleMod)) === 0)
      .select(expr("ts div 1000000000").as("x"), round(col("value"), 6).as("y")))
    val n = samp.count()
    require(n <= TheilSenMaxSample,
      s"q244: sample $n exceeds cap $TheilSenMaxSample — raise " +
        s"TheilSenSampleMod before the quadratic pair join, not after")
    // the checkpointed sample lands in ONE partition (tiny frame), so
    // the quadratic pair explode below would run single-task; spread the
    // stream side so every core generates slopes (r12 — profiled 2.2 s
    // single-task at sf0.1; the frame itself is a few KB to exchange)
    val aSide = samp.repartition(spark.sparkContext.defaultParallelism)
    val a = aSide.select(col("x").as("xa"), col("y").as("ya"))
    val b = samp.select(col("x").as("xb"), col("y").as("yb"))
    val slopes = a.join(broadcast(b), col("xa") < col("xb"))
      .select(((col("yb") - col("ya")) / (col("xb") - col("xa")).cast("double")
        * lit(3600.0)).as("slope"))
    val med = slopes.agg(count(lit(1)).as("n_pairs"),
      percentile(col("slope"), lit(0.5)).as("m"))
    samp.crossJoin(broadcast(med))
      .select(col("x"), col("y"), col("n_pairs"), col("m"),
        (col("y") - col("m") / lit(3600.0) * col("x")).as("resid"))
      .groupBy(col("n_pairs"), col("m"))
      .agg(count(lit(1)).as("n_sample"),
        round(percentile(col("resid"), lit(0.5)), 6).as("intercept"))
      .select(col("n_sample"), col("n_pairs"),
        round(col("m"), 6).as("slope_per_hour"), col("intercept"))
  }

  val q244Sql: String = {
    val h = graft.oracle.Sql.hash32OfHex(
      "md5('ts:' || CAST(event_id AS VARCHAR))")
    s"""WITH samp AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS x,
      |         round(value, 6) AS y
      |  FROM events
      |  WHERE event_type = 'purchase' AND $h % $TheilSenSampleMod = 0),
      |pairs AS (
      |  SELECT (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) * 3600.0 AS slope
      |  FROM samp a JOIN samp b ON a.x < b.x),
      |med AS (SELECT count(*) AS n_pairs, quantile_cont(slope, 0.5) AS m FROM pairs)
      |SELECT (SELECT count(*) FROM samp) AS n_sample, n_pairs,
      |  round(m, 6) AS slope_per_hour,
      |  round((SELECT quantile_cont(s.y - med.m / 3600.0 * s.x, 0.5)
      |         FROM samp s), 6) AS intercept
      |FROM med""".stripMargin
  }

  // --------------------------------------------------------------- q248
  /** Two-sided z threshold at alpha .05 (q155/q243's convention). */
  val MannKendallZCrit = 1.959964

  /** Mann–Kendall trend test + Sen's slope per event type over the
    * hourly volume-value series — the NONPARAMETRIC pair to q244:
    * where Theil–Sen estimates HOW steep a robust trend is on a
    * sampled pair set, this answers IS there a monotone trend at all,
    * with the tie-corrected normal approximation and the continuity-
    * corrected z — the standard environmental/ops-monitoring test that
    * needs no distributional assumption and shrugs at outliers. Sen's
    * slope here is the exact median over ALL pairs of the aggregated
    * series (no sampling needed — the pair set is quadratic in the
    * SERIES length, not the corpus).
    *
    * Shape for 100 TB: the corpus collapses to the O(types × hours)
    * hourly frame in ONE partial-agged pass — the only corpus-sized
    * exchange; the pair set is a broadcast self-join of that bounded
    * frame (span², not corpus², rows — the time span is the cost knob,
    * and a longer span would sample pairs exactly like q244), the S
    * statistic is an exact integer sum, and the tie/variance terms are
    * DECIMAL sums of exact integers. */
  def q248MannKendall(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = graft.Checkpoints.materialize(Tables.events(spark, sfDir, spreadScan = true)
      .groupBy(col("event_type"), expr("ts div 3600000000000").as("h"))
      .agg(round(sum(round(col("value"), 6).cast(DecimalType(38, 6)))
        .cast("double"), 6).as("v")))
    val b = hourly.select(col("event_type").as("tb"),
      col("h").as("hb"), col("v").as("vb"))
    // the checkpointed hourly frame lands in few partitions (tiny), so
    // the quadratic pair explode would run near-single-task; spread the
    // stream side so every core generates pairs (r12, q244's fix)
    val pairs = hourly.repartition(spark.sparkContext.defaultParallelism)
      .join(broadcast(b),
      col("event_type") === col("tb") && col("h") < col("hb"))
      .select(col("event_type"),
        when(col("vb") > col("v"), 1L).when(col("vb") < col("v"), -1L)
          .otherwise(0L).as("sgn"),
        ((col("vb") - col("v")) / (col("hb") - col("h")).cast("double"))
          .as("slope"))
    val s = pairs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("sgn")).as("s_stat"),
        percentile(col("slope"), lit(0.5)).as("sen"))
    val ties = hourly.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum((col("t").cast("double") * (col("t") - 1) * (col("t") * 2 + 5))
        .cast(DecimalType(38, 6))).as("tsumd"))
    val n = hourly.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val varS = (col("n").cast("double") * (col("n") - 1) * (col("n") * 2 + 5)
      - col("tsumd").cast("double")) / lit(18.0)
    val zv = when(col("s_stat") > 0, col("s_stat") - 1)
      .when(col("s_stat") < 0, col("s_stat") + 1).otherwise(lit(0L))
      .cast("double") / sqrt(varS)
    n.join(s, Seq("event_type")).join(ties, Seq("event_type"))
      .select(col("event_type"), col("n").as("n_hours"), col("n_pairs"),
        col("s_stat"), round(varS, 6).as("var_s"), round(zv, 6).as("z"),
        round(col("sen"), 6).as("sen_slope"),
        when(zv > MannKendallZCrit, "increasing")
          .when(zv < -MannKendallZCrit, "decreasing")
          .otherwise("none").as("trend"))
      .orderBy(col("event_type"))
  }

  val q248Sql: String =
    s"""WITH hourly AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
      |    round(CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6))) AS DOUBLE), 6) AS v
      |  FROM events GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.event_type,
      |    CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS sgn,
      |    (b.v - a.v) / CAST(b.h - a.h AS DOUBLE) AS slope
      |  FROM hourly a JOIN hourly b
      |    ON a.event_type = b.event_type AND a.h < b.h),
      |s AS (
      |  SELECT event_type, count(*) AS n_pairs,
      |    CAST(sum(sgn) AS BIGINT) AS s_stat,
      |    quantile_cont(slope, 0.5) AS sen
      |  FROM pairs GROUP BY 1),
      |ties AS (
      |  SELECT event_type,
      |    CAST(sum(CAST(CAST(t AS DOUBLE) * (t - 1) * (t * 2 + 5) AS DECIMAL(38,6))) AS DOUBLE) AS tsum
      |  FROM (SELECT event_type, v, count(*) AS t FROM hourly GROUP BY 1, 2)
      |  GROUP BY 1),
      |n AS (SELECT event_type, count(*) AS n FROM hourly GROUP BY 1),
      |z AS (
      |  SELECT n.event_type, n.n, s.n_pairs, s.s_stat, s.sen,
      |    (CAST(n.n AS DOUBLE) * (n.n - 1) * (n.n * 2 + 5) - ties.tsum) / 18.0 AS var_s,
      |    CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
      |         WHEN s.s_stat < 0 THEN (s.s_stat + 1)
      |         ELSE 0 END
      |      / sqrt((CAST(n.n AS DOUBLE) * (n.n - 1) * (n.n * 2 + 5) - ties.tsum) / 18.0) AS zv
      |  FROM n JOIN s USING (event_type) JOIN ties USING (event_type))
      |SELECT event_type, n AS n_hours, n_pairs, s_stat,
      |  round(var_s, 6) AS var_s, round(zv, 6) AS z,
      |  round(sen, 6) AS sen_slope,
      |  (CASE WHEN zv > $MannKendallZCrit THEN 'increasing'
      |        WHEN zv < -$MannKendallZCrit THEN 'decreasing'
      |        ELSE 'none' END) AS trend
      |FROM z ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q253
  /** CUSUM slack = σ/2, alarm threshold = 4σ (the textbook tuning for
    * detecting a 1σ mean shift). */
  val CusumSlackSigma = 0.5
  val CusumThreshSigma = 4.0

  /** One-sided CUSUM drift detection over the hourly mean-value series
    * per event type — the sequential change detector between q63's
    * memoryless z-score and q77's single-jump test: small persistent
    * shifts that never trip a per-hour threshold ACCUMULATE until the
    * cusum S_t = max(0, S_{t−1} + (x_t − μ − k)) crosses h. The
    * recursion is not window-expressible directly, but the classic
    * identity S_t = P_t − min(0, min_{j≤t} P_j) (P = prefix sum of the
    * slack-adjusted deviations) turns it into TWO stacked running
    * windows — a cumulative sum and a running minimum — so the whole
    * detector stays declarative.
    *
    * Shape for 100 TB: the corpus collapses to the O(types × hours)
    * hourly frame in ONE partial-agged pass; μ/σ are per-type scalars
    * from 12-dp-gridded DECIMAL moments; both running windows are
    * hash-partitioned per type and both engines accumulate the
    * prefix sums in the identical ORDER BY h sequence, so the doubles
    * agree bit for bit. */
  def q253Cusum(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("ts div 3600000000000").as("h"))
      .agg(round(sum(round(col("value"), 6).cast(DecimalType(38, 6)))
        .cast("double") / count(lit(1)), 6).as("m")))
    val sd = sqrt((col("n") * col("smm") - col("sm") * col("sm"))
      / (col("n").cast("double") * col("n")))
    val params = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("m").cast(DecimalType(38, 12))).cast("double").as("sm"),
        sum(round(col("m") * col("m"), 12).cast(DecimalType(38, 12)))
          .cast("double").as("smm"))
      .select(col("event_type"), col("n"),
        round(col("sm") / col("n"), 6).as("mu"),
        round(lit(CusumSlackSigma) * sd, 6).as("k"),
        round(lit(CusumThreshSigma) * sd, 6).as("hthr"))
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val st = hourly.join(params, Seq("event_type"))
      .select(col("event_type"), col("h"), col("n"), col("hthr"),
        round(col("m") - col("mu") - col("k"), 6).as("dd"))
      .withColumn("pt", sum(col("dd")).over(wRun))
      .withColumn("minp", min(col("pt")).over(wRun))
      .withColumn("st", col("pt") - least(lit(0.0), col("minp")))
    st.groupBy(col("event_type"), col("n").as("n_hours"), col("hthr"))
      .agg(sum(when(col("st") > col("hthr"), 1L).otherwise(0L)).as("n_alarms"),
        round(max(col("st")), 6).as("max_s"),
        coalesce(min(when(col("st") > col("hthr"), col("h"))), lit(-1L))
          .as("first_alarm_h"))
      .select(col("event_type"), col("n_hours"), col("n_alarms"),
        col("max_s"), col("first_alarm_h"), round(col("hthr"), 6).as("threshold"))
      .orderBy(col("event_type"))
  }

  val q253Sql: String =
    s"""WITH hourly AS (
      |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
      |    round(CAST(sum(CAST(round(value, 6) AS DECIMAL(38,6))) AS DOUBLE)
      |      / count(*), 6) AS m
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(CAST(m AS DECIMAL(38,12))) AS DOUBLE) AS sm,
      |    CAST(sum(CAST(round(m * m, 12) AS DECIMAL(38,12))) AS DOUBLE) AS smm
      |  FROM hourly GROUP BY 1),
      |params AS (
      |  SELECT event_type, n,
      |    round(sm / n, 6) AS mu,
      |    round($CusumSlackSigma * sqrt((n * smm - sm * sm) / (CAST(n AS DOUBLE) * n)), 6) AS k,
      |    round($CusumThreshSigma * sqrt((n * smm - sm * sm) / (CAST(n AS DOUBLE) * n)), 6) AS hthr
      |  FROM stats),
      |d AS (
      |  SELECT h.event_type, h.h,
      |    round(h.m - p.mu - p.k, 6) AS dd, p.hthr, p.n
      |  FROM hourly h JOIN params p USING (event_type)),
      |pre1 AS (
      |  SELECT event_type, h, hthr, n,
      |    sum(dd) OVER (PARTITION BY event_type ORDER BY h
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt
      |  FROM d),
      |pre AS (
      |  SELECT event_type, h, hthr, n, pt,
      |    min(pt) OVER (PARTITION BY event_type ORDER BY h
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS minp
      |  FROM pre1),
      |s AS (
      |  SELECT event_type, h, n, hthr,
      |    pt - least(0.0, minp) AS st
      |  FROM pre)
      |SELECT event_type, n AS n_hours,
      |  CAST(sum(CASE WHEN st > hthr THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
      |  round(max(st), 6) AS max_s,
      |  coalesce(min(CASE WHEN st > hthr THEN h END), -1) AS first_alarm_h,
      |  round(hthr, 6) AS threshold
      |FROM s GROUP BY event_type, n, hthr ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q269
  /** SPRT error rates and the H1 relative lift under test. */
  val SprtAlpha = 0.05
  val SprtBeta = 0.2
  val SprtLift = 1.1

  /** Wald's Sequential Probability Ratio Test over DAILY conversion
    * batches — the always-valid monitoring test that q155's fixed-
    * horizon z-test is not (peeking at a z-test daily inflates α; the
    * SPRT's log-likelihood-ratio walk with Wald boundaries
    * A = ln((1−β)/α), B = ln(β/(1−α)) is DESIGNED to be read every
    * day): H1 = a 10% relative conversion lift over the corpus base
    * rate; the cumulative LLR crosses a boundary at the first day the
    * evidence suffices, and on the null fixture it correctly walks to
    * accept_h0 once daily batches are large enough (sf0.01+) — the
    * sequential sibling of q253's CUSUM (detect drift) and q258's BH
    * (batch multiplicity).
    *
    * Shape for 100 TB: the corpus collapses to O(days) (n, k) batches
    * in ONE partial-agged pass; constants are a 1-row broadcast; the
    * LLR walk is one ordered prefix-sum window over the O(days) frame
    * — both engines accumulate in the identical day order. */
  def q269Sprt(spark: SparkSession, sfDir: String): DataFrame = {
    val byday = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .select(expr("ts div 86400000000000").as("day"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("isp"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("isp")).as("k")))
    val p0c = col("k_tot").cast("double") / col("n_tot")
    val p1c = least(lit(SprtLift) * p0c, lit(0.999))
    val consts = byday.agg(sum(col("k")).as("k_tot"), sum(col("n")).as("n_tot"))
      .select(round(log(p1c / p0c), 12).as("c1"),
        round(log((lit(1.0) - p1c) / (lit(1.0) - p0c)), 12).as("c2"),
        round(log(lit(1.0 - SprtBeta) / lit(SprtAlpha)), 12).as("a_bound"),
        round(log(lit(SprtBeta) / lit(1.0 - SprtAlpha)), 12).as("b_bound"),
        round(p0c, 6).as("p0r"), round(p1c, 6).as("p1r"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val st = graft.Checkpoints.materialize(byday.crossJoin(broadcast(consts))
      .select(col("day"), col("n"), col("k"),
        round(col("k") * col("c1") + (col("n") - col("k")) * col("c2"), 12)
          .as("llr0"),
        col("a_bound"), col("b_bound"), col("p0r"), col("p1r"))
      .withColumn("cum_llr", round(sum(col("llr0")).over(w), 6))
      .withColumn("state",
        when(col("cum_llr") >= col("a_bound"), "accept_h1")
          .when(col("cum_llr") <= col("b_bound"), "accept_h0")
          .otherwise("continue")))
    val dec = st.agg(coalesce(min(when(col("state") =!= "continue",
      col("day"))), lit(-1L)).as("decision_day"))
    st.crossJoin(broadcast(dec))
      .select(col("day"), col("n"), col("k"), round(col("llr0"), 6).as("llr"),
        col("cum_llr"), col("state"), col("decision_day"),
        col("p0r").as("p0"), col("p1r").as("p1"))
      .orderBy(col("day"))
  }

  val q269Sql: String =
    s"""WITH ev AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isp
      |  FROM events),
      |byday AS (
      |  SELECT day, count(*) AS n, CAST(sum(isp) AS BIGINT) AS k
      |  FROM ev GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(k) AS DOUBLE) / sum(n) AS p0,
      |    least($SprtLift * CAST(sum(k) AS DOUBLE) / sum(n), 0.999) AS p1
      |  FROM byday),
      |consts AS (
      |  SELECT round(ln(p1 / p0), 12) AS c1,
      |    round(ln((1.0 - p1) / (1.0 - p0)), 12) AS c2,
      |    round(ln(${1.0 - SprtBeta} / $SprtAlpha), 12) AS a_bound,
      |    round(ln($SprtBeta / ${1.0 - SprtAlpha}), 12) AS b_bound,
      |    round(p0, 6) AS p0r, round(p1, 6) AS p1r
      |  FROM tot),
      |llr AS (
      |  SELECT b.day, b.n, b.k,
      |    round(b.k * c.c1 + (b.n - b.k) * c.c2, 12) AS llr0,
      |    c.a_bound, c.b_bound, c.p0r, c.p1r
      |  FROM byday b CROSS JOIN consts c),
      |cum AS (
      |  SELECT day, n, k, llr0,
      |    round(sum(llr0) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_llr,
      |    a_bound, b_bound, p0r, p1r
      |  FROM llr),
      |st AS (
      |  SELECT *, (CASE WHEN cum_llr >= a_bound THEN 'accept_h1'
      |                  WHEN cum_llr <= b_bound THEN 'accept_h0'
      |                  ELSE 'continue' END) AS state
      |  FROM cum),
      |dec AS (
      |  SELECT coalesce(min(CASE WHEN state <> 'continue' THEN day END), -1) AS decision_day
      |  FROM st)
      |SELECT s.day, s.n, s.k, round(s.llr0, 6) AS llr, s.cum_llr, s.state,
      |  d.decision_day, s.p0r AS p0, s.p1r AS p1
      |FROM st s CROSS JOIN dec d ORDER BY s.day""".stripMargin

  // --------------------------------------------------------------- q277
  /** Brown's double exponential smoothing (α = 1/2) over the hourly
    * event grid — the trend-aware extension of q85's EWMA: smoothing
    * the smoother (s2 = EWMA(s1)) yields Brown's level
    * a = 2s1 − s2, trend b = s1 − s2 (α/(1−α) = 1 at the dyadic α),
    * and the one-step forecast ŷ = 3s1 − 2s2, with the realized
    * next-hour error alongside (the backtest column q173 reports for
    * its daily models). The dyadic α keeps BOTH recursions exact
    * integer arithmetic via nested closed forms:
    * S1_t = 2^t·s1_t is q85's cumulative scaled sum, and
    * s2_t = x₀/2^t + (Σ_{i=1..t} S1_i)/2^{t+1} — derived from
    * T2_t = 2^{t−1}·S1_t + 2·T2_{t−1} — so s2 is TWO nested window
    * sums of int64s and two exact power-of-two divisions; no libm, no
    * association sensitivity (the int64→double conversions and the
    * single double add are IEEE-identical cross-engine).
    *
    * Shape for 100 TB: identical to q85 — the only full-data pass is
    * the hourly partial-agg; the grid/windows run on (types×days×24)
    * rows, partitioned by (type, day). */
  def q277DoubleSmoothing(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts div 86400000000000").as("day"),
        expr("(ts div 3600000000000) % 24").as("hr"))
      .groupBy(col("event_type"), col("day"), col("hr"))
      .agg(count(lit(1)).as("c"))
    val grid = hourly.select(col("event_type"), col("day")).distinct()
      .select(col("event_type"), col("day"),
        explode(sequence(lit(0L), lit(23L))).as("hr"))
    val x = grid.join(hourly, Seq("event_type", "day", "hr"), "left")
      .select(col("event_type"), col("day"), col("hr"),
        coalesce(col("c"), lit(0L)).as("cnt"))
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("hr")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u = when(col("hr") === 0, col("cnt"))
      .otherwise(col("cnt") * expr("shiftleft(1L, cast(hr - 1 as int))"))
    val s1f = x.withColumn("x0", first(col("cnt")).over(w))
      .withColumn("s1u", sum(u).over(w))
    val vf = s1f.withColumn("v",
      sum(when(col("hr") === 0, 0L).otherwise(col("s1u"))).over(w))
    val s1 = col("s1u").cast("double") / expr("shiftleft(1L, cast(hr as int))")
    val s2 = col("x0").cast("double") / expr("shiftleft(1L, cast(hr as int))") +
      col("v").cast("double") / expr("shiftleft(1L, cast(hr + 1 as int))")
    val lw = Window.partitionBy(col("event_type"), col("day")).orderBy(col("hr"))
    vf.select(col("event_type"), col("day"), col("hr"), col("cnt"),
        round(s1, 6).as("s1"), round(s2, 6).as("s2"),
        round(lit(2.0) * s1 - s2, 6).as("level"),
        round(s1 - s2, 6).as("trend"),
        round(lit(3.0) * s1 - lit(2.0) * s2, 6).as("forecast_next"),
        round(lead(col("cnt"), 1).over(lw) - (lit(3.0) * s1 - lit(2.0) * s2), 6)
          .as("fc_err"))
      .orderBy(col("event_type"), col("day"), col("hr"))
  }

  val q277Sql: String =
    s"""WITH hourly AS (
      |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hr, count(*) AS c
      |  FROM events GROUP BY 1, 2, 3),
      |grid AS (
      |  SELECT event_type, day, CAST(h AS BIGINT) AS hr
      |  FROM (SELECT DISTINCT event_type, day FROM hourly)
      |  CROSS JOIN (SELECT unnest(range(0, 24)) AS h)),
      |x AS (
      |  SELECT g.event_type, g.day, g.hr, coalesce(h.c, 0) AS cnt
      |  FROM grid g LEFT JOIN hourly h
      |    ON g.event_type = h.event_type AND g.day = h.day AND g.hr = h.hr),
      |s1f AS (
      |  SELECT event_type, day, hr, cnt,
      |    first_value(cnt) OVER w AS x0,
      |    sum(CASE WHEN hr = 0 THEN cnt
      |             ELSE cnt * (1::BIGINT << CAST(hr - 1 AS INT)) END) OVER w AS s1u
      |  FROM x
      |  WINDOW w AS (PARTITION BY event_type, day ORDER BY hr
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |vf AS (
      |  SELECT event_type, day, hr, cnt, x0, s1u,
      |    sum(CASE WHEN hr = 0 THEN 0 ELSE s1u END) OVER
      |      (PARTITION BY event_type, day ORDER BY hr
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
      |  FROM s1f),
      |sm AS (
      |  SELECT event_type, day, hr, cnt,
      |    CAST(s1u AS DOUBLE) / (1::BIGINT << CAST(hr AS INT)) AS s1,
      |    CAST(x0 AS DOUBLE) / (1::BIGINT << CAST(hr AS INT))
      |      + CAST(v AS DOUBLE) / (1::BIGINT << CAST(hr + 1 AS INT)) AS s2
      |  FROM vf)
      |SELECT event_type, day, hr, cnt,
      |  round(s1, 6) AS s1, round(s2, 6) AS s2,
      |  round(2.0 * s1 - s2, 6) AS level,
      |  round(s1 - s2, 6) AS trend,
      |  round(3.0 * s1 - 2.0 * s2, 6) AS forecast_next,
      |  round(lead(cnt) OVER (PARTITION BY event_type, day ORDER BY hr)
      |    - (3.0 * s1 - 2.0 * s2), 6) AS fc_err
      |FROM sm ORDER BY event_type, day, hr""".stripMargin

  // --------------------------------------------------------------- q284
  /** Shared twiddle tables: cos/sin(π·i/12) for i = 0..23, the 24th
    * roots of unity the diurnal DFT needs — kept as decimal LITERAL
    * strings so BOTH engines parse the exact same doubles and no libm
    * trig ever runs at query time (the q258 erf-polynomial discipline
    * taken one step further: the transcendental is precomputed once,
    * here, not re-derived per engine). cos(2πk·t/24) = table[(k·t)%24]
    * for every harmonic k, so ONE 24-entry table serves all four. */
  val DftCos: Seq[String] = Seq(
    "1.0", "0.9659258262890683", "0.8660254037844387", "0.7071067811865476",
    "0.5000000000000001", "0.25881904510252074", "6.123233995736766e-17",
    "-0.25881904510252063", "-0.4999999999999998", "-0.7071067811865475",
    "-0.8660254037844387", "-0.9659258262890682", "-1.0",
    "-0.9659258262890683", "-0.8660254037844388", "-0.7071067811865479",
    "-0.5000000000000004", "-0.25881904510252063", "-1.8369701987210297e-16",
    "0.2588190451025203", "0.5000000000000001", "0.7071067811865474",
    "0.8660254037844384", "0.9659258262890681")
  val DftSin: Seq[String] = Seq(
    "0.0", "0.25881904510252074", "0.49999999999999994", "0.7071067811865475",
    "0.8660254037844386", "0.9659258262890683", "1.0", "0.9659258262890683",
    "0.8660254037844387", "0.7071067811865476", "0.49999999999999994",
    "0.258819045102521", "1.2246467991473532e-16", "-0.2588190451025208",
    "-0.4999999999999997", "-0.7071067811865471", "-0.8660254037844384",
    "-0.9659258262890683", "-1.0", "-0.9659258262890684",
    "-0.8660254037844386", "-0.7071067811865477", "-0.5000000000000004",
    "-0.25881904510252157")
  val DftHarmonics = 4

  /** Diurnal DFT periodogram per event type — the frequency-domain
    * seasonality detector beside q121's hour-of-day profile (q121 says
    * WHICH hours are hot; this says HOW MUCH of the series' variance
    * is periodic and at which harmonic of the 24 h cycle — period 24,
    * 12, 8, 6 h): the mean-centered hourly series projects onto the
    * k-th 24-hour Fourier pair, P_k = (Σx̃·cos)² + (Σx̃·sin)², with
    * `share` = P_k / ΣP over the four harmonics (a pure-cosine daily
    * cycle puts share ≈ 1 at k = 1; flat noise spreads it). The trig
    * comes from [[DftCos]]/[[DftSin]] literals — cos(2πk·t/24) only
    * ever needs the 24 values at index (k·t) mod 24 — so there is NO
    * runtime libm and the projection terms are 12dp-gridded DECIMAL
    * sums (association-free at any shuffle order).
    *
    * Shape for 100 TB: the stream collapses in ONE partial-agged pass
    * to the O(types × hours) hourly frame (localCheckpoint'ed — it
    * feeds the bounds scan and the gridded series); the dense grid,
    * the 4-harmonic explode, and both projections stay on that frame;
    * means are a per-type broadcast join. */
  def q284Periodogram(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts div 3600000000000").as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("c")))
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("h"))
    // x feeds both the mean scan and the projection — checkpoint once
    val x = graft.Checkpoints.materialize(
      grid.join(hourly, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h"), coalesce(col("c"), lit(0L)).as("cnt")))
    val mu = x.groupBy(col("event_type"))
      .agg((sum(col("cnt")).cast("double") / count(lit(1))).as("m"))
    val cosArr = array(DftCos.map(s => lit(s.toDouble)): _*)
    val sinArr = array(DftSin.map(s => lit(s.toDouble)): _*)
    val idx = ((col("k") * (col("h") % 24)) % 24).cast("int") + 1
    def dec12(c: Column): Column =
      sum(round(c, 12).cast(DecimalType(38, 12))).cast("double")
    val ctr = col("cnt").cast("double") - col("m")
    val sums = x.join(broadcast(mu), "event_type")
      .select(col("event_type"), col("h"), col("cnt"), col("m"),
        explode(array((1 to DftHarmonics).map(lit): _*)).as("k"))
      .groupBy(col("event_type"), col("k"))
      .agg(dec12(ctr * element_at(cosArr, idx)).as("cs"),
        dec12(ctr * element_at(sinArr, idx)).as("ss"))
    val pw = sums.select(col("event_type"), col("k"),
      (col("cs") * col("cs") + col("ss") * col("ss")).as("power"))
    pw.withColumn("total",
        sum(round(col("power"), 6).cast(DecimalType(38, 6)))
          .over(Window.partitionBy(col("event_type"))).cast("double"))
      .select(col("event_type"), col("k"),
        (lit(24.0) / col("k")).cast("int").as("period_h"),
        round(col("power"), 6).as("power"),
        round(col("power") / col("total"), 6).as("share"))
      .orderBy(col("event_type"), col("k"))
  }

  val q284Sql: String = {
    val clist = DftCos.mkString("[", ", ", "]")
    val slist = DftSin.mkString("[", ", ", "]")
    s"""WITH hourly AS MATERIALIZED (
  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h, count(*) AS c
  FROM events GROUP BY 1, 2),
bounds AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY 1),
grid AS (SELECT event_type, unnest(range(lo, hi + 1)) AS h FROM bounds),
x AS MATERIALIZED (
  SELECT g.event_type, g.h, coalesce(hh.c, 0) AS cnt
  FROM grid g LEFT JOIN hourly hh ON g.event_type = hh.event_type AND g.h = hh.h),
mu AS (SELECT event_type, CAST(sum(cnt) AS DOUBLE) / count(*) AS m FROM x GROUP BY 1),
terms AS (
  SELECT x.event_type, k.k,
    round((CAST(x.cnt AS DOUBLE) - mu.m) * ($clist)[CAST((k.k * (x.h % 24)) % 24 AS INT) + 1], 12) AS tc,
    round((CAST(x.cnt AS DOUBLE) - mu.m) * ($slist)[CAST((k.k * (x.h % 24)) % 24 AS INT) + 1], 12) AS ts
  FROM x JOIN mu ON x.event_type = mu.event_type
  CROSS JOIN (SELECT unnest(${(1 to DftHarmonics).mkString("[", ", ", "]")}) AS k) k),
sums AS (
  SELECT event_type, k,
    CAST(sum(CAST(tc AS DECIMAL(38,12))) AS DOUBLE) AS cs,
    CAST(sum(CAST(ts AS DECIMAL(38,12))) AS DOUBLE) AS ss
  FROM terms GROUP BY 1, 2),
pw AS (SELECT event_type, k, cs * cs + ss * ss AS power FROM sums)
SELECT event_type, k, CAST(24 / k AS INT) AS period_h,
  round(power, 6) AS power,
  round(power / CAST(sum(CAST(round(power, 6) AS DECIMAL(38,6)))
    OVER (PARTITION BY event_type) AS DOUBLE), 6) AS share
FROM pw ORDER BY event_type, k"""
  }

  // --------------------------------------------------------------- q296
  /** Forecast evaluation suite — MAE / RMSE / MASE of q277's Brown
    * one-step forecast against the two baselines every forecasting
    * paper must beat (persistence x_t and seasonal-naïve x_{t,d−1}):
    * MASE = MAE_model/MAE_snaive (Hyndman–Koehler), the scale-free
    * verdict q173's raw backtest errors don't give. On the fixture's
    * thin hourly counts the baselines WIN (MASE ≈ 1.1 — smoothing
    * lags pure noise): the honest read a metrics op must be able to
    * deliver, q272/q258's refuse-to-flatter discipline applied to
    * forecasting.
    *
    * Shape for 100 TB: q277's shape exactly — one corpus pass to the
    * hourly frame, exact-integer dyadic smoothing windows on the
    * (types×days×24) grid, the seasonal join is (day−1, hr+1) against
    * the same gridded frame, error sums 12dp-gridded DECIMAL. */
  def q296ForecastEval(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts div 86400000000000").as("day"),
        expr("(ts div 3600000000000) % 24").as("hr"))
      .groupBy(col("event_type"), col("day"), col("hr"))
      .agg(count(lit(1)).as("c")))
    val grid = hourly.select(col("event_type"), col("day")).distinct()
      .select(col("event_type"), col("day"),
        explode(sequence(lit(0L), lit(23L))).as("hr"))
    val x = graft.Checkpoints.materialize(
      grid.join(hourly, Seq("event_type", "day", "hr"), "left")
        .select(col("event_type"), col("day"), col("hr"),
          coalesce(col("c"), lit(0L)).as("cnt")))
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("hr")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u = when(col("hr") === 0, col("cnt"))
      .otherwise(col("cnt") * expr("shiftleft(1L, cast(hr - 1 as int))"))
    val lw = Window.partitionBy(col("event_type"), col("day")).orderBy(col("hr"))
    val fc = x.withColumn("x0", first(col("cnt")).over(w))
      .withColumn("s1u", sum(u).over(w))
      .withColumn("v", sum(when(col("hr") === 0, 0L).otherwise(col("s1u"))).over(w))
      .withColumn("model_fc",
        lit(3.0) * (col("s1u").cast("double") / expr("shiftleft(1L, cast(hr as int))"))
          - lit(2.0) * (col("x0").cast("double") / expr("shiftleft(1L, cast(hr as int))")
            + col("v").cast("double") / expr("shiftleft(1L, cast(hr + 1 as int))")))
      .withColumn("actual", lead(col("cnt"), 1).over(lw))
    val pd = x.select(col("event_type"), (col("day") + 1).as("day"),
      (col("hr") - 1).as("hr"), col("cnt").as("snaive_fc"))
    val evalRows = fc.filter(col("hr") < 23)
      .join(pd, Seq("event_type", "day", "hr"))
    def dec12(c: Column): Column =
      sum(round(c, 12).cast(DecimalType(38, 12))).cast("double")
    val err = evalRows.filter(col("actual").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        dec12(abs(col("actual") - col("model_fc"))).as("ae_m"),
        dec12((col("actual") - col("model_fc")) *
          (col("actual") - col("model_fc"))).as("se_m"),
        sum(abs(col("actual") - col("cnt"))).as("ae_p"),
        sum(abs(col("actual") - col("snaive_fc"))).as("ae_s"))
    err.select(col("event_type"), col("n_eval"),
        round(col("ae_m") / col("n_eval"), 6).as("mae_model"),
        round(col("ae_p").cast("double") / col("n_eval"), 6).as("mae_persist"),
        round(col("ae_s").cast("double") / col("n_eval"), 6).as("mae_snaive"),
        round(sqrt(col("se_m") / col("n_eval")), 6).as("rmse_model"),
        round(col("ae_m") / col("ae_s").cast("double"), 6).as("mase"))
      .orderBy(col("event_type"))
  }

  val q296Sql: String =
    """WITH hourly AS MATERIALIZED (
  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hr, count(*) AS c
  FROM events GROUP BY 1, 2, 3),
grid AS (
  SELECT event_type, day, CAST(h AS BIGINT) AS hr
  FROM (SELECT DISTINCT event_type, day FROM hourly)
  CROSS JOIN (SELECT unnest(range(0, 24)) AS h)),
x AS MATERIALIZED (
  SELECT g.event_type, g.day, g.hr, coalesce(h.c, 0) AS cnt
  FROM grid g LEFT JOIN hourly h
    ON g.event_type = h.event_type AND g.day = h.day AND g.hr = h.hr),
s1f AS (
  SELECT event_type, day, hr, cnt,
    first_value(cnt) OVER w AS x0,
    sum(CASE WHEN hr = 0 THEN cnt
             ELSE cnt * (1::BIGINT << CAST(hr - 1 AS INT)) END) OVER w AS s1u
  FROM x
  WINDOW w AS (PARTITION BY event_type, day ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
fc AS (
  SELECT event_type, day, hr, cnt,
    3.0 * (CAST(s1u AS DOUBLE) / (1::BIGINT << CAST(hr AS INT)))
      - 2.0 * (CAST(x0 AS DOUBLE) / (1::BIGINT << CAST(hr AS INT))
               + CAST(sum(CASE WHEN hr = 0 THEN 0 ELSE s1u END) OVER
                   (PARTITION BY event_type, day ORDER BY hr
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / (1::BIGINT << CAST(hr + 1 AS INT))) AS model_fc,
    lead(cnt) OVER (PARTITION BY event_type, day ORDER BY hr) AS actual
  FROM s1f),
evalrows AS MATERIALIZED (
  SELECT f.event_type, f.day, f.hr, f.actual, f.model_fc, f.cnt,
    pd.cnt AS snaive_fc
  FROM fc f JOIN x pd
    ON pd.event_type = f.event_type AND pd.day = f.day - 1 AND pd.hr = f.hr + 1
  WHERE f.hr < 23),
err AS (
  SELECT event_type, count(*) AS n_eval,
    CAST(sum(CAST(round(abs(actual - model_fc), 12) AS DECIMAL(38,12))) AS DOUBLE) AS ae_m,
    CAST(sum(CAST(round((actual - model_fc) * (actual - model_fc), 12) AS DECIMAL(38,12))) AS DOUBLE) AS se_m,
    CAST(sum(abs(actual - cnt)) AS BIGINT) AS ae_p,
    CAST(sum(abs(actual - snaive_fc)) AS BIGINT) AS ae_s
  FROM evalrows WHERE actual IS NOT NULL GROUP BY 1)
SELECT event_type, n_eval,
  round(ae_m / n_eval, 6) AS mae_model,
  round(CAST(ae_p AS DOUBLE) / n_eval, 6) AS mae_persist,
  round(CAST(ae_s AS DOUBLE) / n_eval, 6) AS mae_snaive,
  round(sqrt(se_m / n_eval), 6) AS rmse_model,
  round(ae_m / CAST(ae_s AS DOUBLE), 6) AS mase
FROM err ORDER BY event_type"""

  // --------------------------------------------------------------- q300
  /** Log-rank (Mantel–Cox) test between the hash arms' time-to-first-
    * purchase curves — the test that COMPLETES q234's Kaplan–Meier
    * exactly the way q287's CMH completes q155's pooled z: at every
    * death time the 2×2 of (at-risk × died) per arm contributes
    * O − E and the hypergeometric V, χ² = (ΣO−ΣE)²/ΣV — censoring-
    * aware arm comparison no naive conversion-rate cut gets right.
    * Null fixture → χ² ≈ 0.32 < 3.84: no survival split to report.
    *
    * Shape for 100 TB: q234's subject collapse (one pass → per-user
    * (t, death, arm)), then O(distinct times × 2) frames; at-risk
    * counts are one DESCENDING integer prefix window per arm (exact),
    * stratum algebra 12dp-gridded DECIMAL. */
  def q300Logrank(spark: SparkSession, sfDir: String): DataFrame = {
    val u = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(expr("min(ts) div 1000").as("f"),
        expr("min(CASE WHEN event_type = 'purchase' THEN ts END) div 1000").as("p"))
      .withColumn("g",
        when(pmod(MF.hash32(concat(lit("ab:"), col("user_id").cast("string"))),
          lit(2)) === 0, 1L).otherwise(0L))
    val end = Tables.events(spark, sfDir).agg(expr("max(ts) div 1000").as("corpus_end"))
    val subj = graft.Checkpoints.materialize(u.crossJoin(broadcast(end))
      .select(col("g"),
        when(col("p").isNotNull, expr(s"(p - f) div $KmHourUs"))
          .otherwise(expr(s"(corpus_end - f) div $KmHourUs")).as("t"),
        when(col("p").isNotNull, 1L).otherwise(0L).as("death")))
    val gt = subj.groupBy(col("t"), col("g"))
      .agg(count(lit(1)).as("n_here"), sum(col("death")).as("d_here"))
    val grid = subj.select(col("t")).distinct()
      .crossJoin(spark.range(1).select(explode(array(lit(0L), lit(1L))).as("g")))
      .join(gt, Seq("t", "g"), "left")
      .select(col("t"), col("g"), coalesce(col("n_here"), lit(0L)).as("n_here"),
        coalesce(col("d_here"), lit(0L)).as("d_here"))
    val wDesc = Window.partitionBy(col("g")).orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val atrisk = grid.withColumn("n_risk", sum(col("n_here")).over(wDesc))
    val wide = atrisk.groupBy(col("t")).agg(
      max(when(col("g") === 1, col("n_risk"))).as("n1"),
      max(when(col("g") === 1, col("d_here"))).as("d1"),
      max(when(col("g") === 0, col("n_risk"))).as("n0"),
      max(when(col("g") === 0, col("d_here"))).as("d0"))
    val terms = wide.filter(col("d1") + col("d0") > 0 && col("n1") + col("n0") >= 2)
      .select(col("d1"),
        (col("n1") * (col("d1") + col("d0")) /
          (col("n1") + col("n0")).cast("double")).as("e1"),
        (col("n1") * col("n0").cast("double") * (col("d1") + col("d0")) *
          ((col("n1") + col("n0")) - (col("d1") + col("d0"))) /
          ((col("n1") + col("n0")).cast("double") * (col("n1") + col("n0")) *
            (col("n1") + col("n0") - 1))).as("v"))
    def dec12(c: Column): Column =
      sum(round(c, 12).cast(DecimalType(38, 12))).cast("double")
    terms.agg(count(lit(1)).as("n_times"), sum(col("d1")).as("o1"),
        dec12(col("e1")).as("e1s"), dec12(col("v")).as("vs"))
      .select(col("n_times"), col("o1"), round(col("e1s"), 6).as("e1"),
        round(col("vs"), 6).as("v"),
        round((col("o1") - col("e1s")) * (col("o1") - col("e1s")) / col("vs"), 6)
          .as("chi2"))
  }

  val q300Sql: String = {
    val h = graft.oracle.Sql.hash32OfHex("md5('ab:' || CAST(user_id AS VARCHAR))")
    s"""WITH u AS MATERIALIZED (
  SELECT user_id, epoch_us(CAST(min(ts) AS TIMESTAMP)) AS f,
    epoch_us(CAST(min(CASE WHEN event_type = 'purchase' THEN ts END) AS TIMESTAMP)) AS p,
    CASE WHEN $h % 2 = 0 THEN 1 ELSE 0 END AS g
  FROM events GROUP BY user_id),
endt AS (SELECT epoch_us(CAST(max(ts) AS TIMESTAMP)) AS corpus_end FROM events),
subj AS MATERIALIZED (
  SELECT g,
    CASE WHEN p IS NOT NULL THEN (p - f) // $KmHourUs
         ELSE (corpus_end - f) // $KmHourUs END AS t,
    CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS death
  FROM u CROSS JOIN endt),
gt AS MATERIALIZED (
  SELECT t, g, CAST(count(*) AS BIGINT) AS n_here,
    CAST(sum(death) AS BIGINT) AS d_here
  FROM subj GROUP BY t, g),
grid AS MATERIALIZED (
  SELECT tm.t, gg.g,
    coalesce(gt.n_here, 0) AS n_here, coalesce(gt.d_here, 0) AS d_here
  FROM (SELECT DISTINCT t FROM subj) tm
  CROSS JOIN (SELECT unnest([0, 1]) AS g) gg
  LEFT JOIN gt ON gt.t = tm.t AND gt.g = gg.g),
atrisk AS MATERIALIZED (
  SELECT t, g, d_here,
    CAST(sum(n_here) OVER (PARTITION BY g ORDER BY t DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
  FROM grid),
wide AS MATERIALIZED (
  SELECT t,
    max(CASE WHEN g = 1 THEN n_risk END) AS n1,
    max(CASE WHEN g = 1 THEN d_here END) AS d1,
    max(CASE WHEN g = 0 THEN n_risk END) AS n0,
    max(CASE WHEN g = 0 THEN d_here END) AS d0
  FROM atrisk GROUP BY t),
terms AS (
  SELECT t, d1,
    n1 * (d1 + d0) / CAST(n1 + n0 AS DOUBLE) AS e1,
    (n1 * CAST(n0 AS DOUBLE) * (d1 + d0) * ((n1 + n0) - (d1 + d0)))
      / (CAST(n1 + n0 AS DOUBLE) * (n1 + n0) * (n1 + n0 - 1)) AS v
  FROM wide WHERE d1 + d0 > 0 AND n1 + n0 >= 2),
agg AS (
  SELECT count(*) AS n_times, CAST(sum(d1) AS BIGINT) AS o1,
    CAST(sum(CAST(round(e1, 12) AS DECIMAL(38,12))) AS DOUBLE) AS e1s,
    CAST(sum(CAST(round(v, 12) AS DECIMAL(38,12))) AS DOUBLE) AS vs
  FROM terms)
SELECT n_times, o1, round(e1s, 6) AS e1, round(vs, 6) AS v,
  round((o1 - e1s) * (o1 - e1s) / vs, 6) AS chi2
FROM agg"""
  }

  // --------------------------------------------------------------- q301
  /** SAX breakpoints for alphabet 4 (Gaussian quartiles — the
    * Lin–Keogh lookup row, shared as LITERAL strings so both engines
    * parse identical doubles; q284's twiddle-table discipline). */
  val SaxBreaks: Seq[String] =
    Seq("-0.6744897501960817", "0.0", "0.6744897501960817")
  val SaxSegments = 6

  /** SAX (Symbolic Aggregate approXimation, Lin–Keogh) of each
    * (type, day) hourly series — the symbolic representation that
    * turns raw timeseries into JOINABLE words: per day z-normalize
    * the 24-hour series, PAA-average into [[SaxSegments]] 4-hour
    * segments, map each to an a-d symbol at the Gaussian-quartile
    * breakpoints; `word_days` counts how many days of that type share
    * the word — recurring words ARE the daily motifs, and equal words
    * give a constant-time candidate filter for similarity search over
    * days (the discrete sibling of q103's ACF and q284's spectrum).
    *
    * Shape for 100 TB: the corpus collapses to the (types×days×24)
    * grid; normalization moments, PAA, and symbols are per-group
    * algebra on that frame; the word assembles from a FIXED 6-column
    * pivot (deterministic — no ordered string agg), and the motif
    * count is one tiny self-aggregate. */
  def q301Sax(spark: SparkSession, sfDir: String): DataFrame = {
    val hourly = graft.Checkpoints.materialize(Tables.events(spark, sfDir)
      .select(col("event_type"), expr("ts div 86400000000000").as("day"),
        expr("(ts div 3600000000000) % 24").as("hr"))
      .groupBy(col("event_type"), col("day"), col("hr"))
      .agg(count(lit(1)).as("c")))
    val grid = hourly.select(col("event_type"), col("day")).distinct()
      .select(col("event_type"), col("day"),
        explode(sequence(lit(0L), lit(23L))).as("hr"))
    val x = grid.join(hourly, Seq("event_type", "day", "hr"), "left")
      .select(col("event_type"), col("day"), col("hr"),
        coalesce(col("c"), lit(0L)).as("cnt"))
    val mom = x.groupBy(col("event_type"), col("day"))
      .agg((sum(col("cnt")).cast("double") / 24).as("mu"),
        (sum(col("cnt") * col("cnt")).cast("double") / 24).as("m2"))
    val seg = x.join(mom, Seq("event_type", "day"))
      .groupBy(col("event_type"), col("day"), expr("hr div 4").as("seg"),
        col("mu"), col("m2"))
      .agg((sum(col("cnt")).cast("double") / 4).as("paa"))
    val z = seg.select(col("event_type"), col("day"), col("seg"),
      when(col("m2") - col("mu") * col("mu") > 0,
        (col("paa") - col("mu")) / sqrt(col("m2") - col("mu") * col("mu")))
        .otherwise(lit(0.0)).as("zseg"))
    val symbol: Column =
      expr(s"substr('abcd', 1 + (CASE WHEN zseg >= ${SaxBreaks(0)} THEN 1 ELSE 0 END)" +
        s" + (CASE WHEN zseg >= ${SaxBreaks(1)} THEN 1 ELSE 0 END)" +
        s" + (CASE WHEN zseg >= ${SaxBreaks(2)} THEN 1 ELSE 0 END), 1)")
    val words = z.select(col("event_type"), col("day"), col("seg"),
        symbol.as("sym"))
      .groupBy(col("event_type"), col("day"))
      .agg(concat((0 until SaxSegments).map { i =>
        max(when(col("seg") === i, col("sym")))
      }: _*).as("word"))
    val wd = graft.Checkpoints.materialize(words)
    val cnts = wd.groupBy(col("event_type"), col("word"))
      .agg(count(lit(1)).as("word_days"))
    wd.join(cnts, Seq("event_type", "word"))
      .select(col("event_type"), col("day"), col("word"), col("word_days"))
      .orderBy(col("event_type"), col("day"))
  }

  val q301Sql: String = {
    def sym(z: String): String =
      s"substr('abcd', 1 + (CASE WHEN $z >= ${SaxBreaks(0)} THEN 1 ELSE 0 END)" +
        s" + (CASE WHEN $z >= ${SaxBreaks(1)} THEN 1 ELSE 0 END)" +
        s" + (CASE WHEN $z >= ${SaxBreaks(2)} THEN 1 ELSE 0 END), 1)"
    val segsyms = (0 until SaxSegments)
      .map(i => s"max(CASE WHEN seg = $i THEN ${sym("zseg")} END) AS s$i")
      .mkString(", ")
    val wordcat = (0 until SaxSegments).map(i => s"s$i").mkString(" || ")
    s"""WITH hourly AS MATERIALIZED (
  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hr, count(*) AS c
  FROM events GROUP BY 1, 2, 3),
grid AS (
  SELECT event_type, day, CAST(h AS BIGINT) AS hr
  FROM (SELECT DISTINCT event_type, day FROM hourly)
  CROSS JOIN (SELECT unnest(range(0, 24)) AS h)),
x AS MATERIALIZED (
  SELECT g.event_type, g.day, g.hr, coalesce(h.c, 0) AS cnt
  FROM grid g LEFT JOIN hourly h
    ON g.event_type = h.event_type AND g.day = h.day AND g.hr = h.hr),
mom AS MATERIALIZED (
  SELECT event_type, day,
    CAST(sum(cnt) AS DOUBLE) / 24 AS mu,
    CAST(sum(CAST(cnt AS BIGINT) * cnt) AS DOUBLE) / 24 AS m2
  FROM x GROUP BY 1, 2),
seg AS MATERIALIZED (
  SELECT x.event_type, x.day, x.hr // 4 AS seg, m.mu, m.m2,
    CAST(sum(cnt) AS DOUBLE) / 4 AS paa
  FROM x JOIN mom m USING (event_type, day)
  GROUP BY x.event_type, x.day, x.hr // 4, m.mu, m.m2),
z AS MATERIALIZED (
  SELECT event_type, day, seg,
    CASE WHEN m2 - mu * mu > 0 THEN (paa - mu) / sqrt(m2 - mu * mu) ELSE 0.0 END AS zseg
  FROM seg),
words AS MATERIALIZED (
  SELECT event_type, day, $segsyms
  FROM z GROUP BY event_type, day),
wd AS MATERIALIZED (
  SELECT event_type, day, ($wordcat) AS word FROM words),
cnts AS (SELECT event_type, word, CAST(count(*) AS BIGINT) AS word_days
  FROM wd GROUP BY 1, 2)
SELECT w.event_type, w.day, w.word, c.word_days
FROM wd w JOIN cnts c ON w.event_type = c.event_type AND w.word = c.word
ORDER BY w.event_type, w.day"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q300_logrank" -> q300Logrank,
    "q301_sax" -> q301Sax,
    "q296_forecast_eval" -> q296ForecastEval,
    "q284_periodogram" -> q284Periodogram,
    "q277_double_smoothing" -> q277DoubleSmoothing,
    "q269_sprt" -> q269Sprt,
    "q253_cusum" -> q253Cusum,
    "q248_mann_kendall" -> q248MannKendall,
    "q241_gap_fill" -> q241GapFill,
    "q244_theilsen" -> q244TheilSen,
    "q234_kaplan_meier" -> q234KaplanMeier,
    "q191_stl_lite" -> q191StlLite,
    "q173_forecast_backtest" -> q173ForecastBacktest,
    "q158_time_to_event" -> q158TimeToEvent,
    "q159_seasonal_anomaly" -> q159SeasonalAnomaly,
    "q137_bursts" -> q137Bursts,
    "q134_crosscorr" -> q134CrossCorr,
    "q121_seasonality" -> q121Seasonality,
    "q103_acf" -> q103Acf,
    "q85_ewma" -> q85Ewma,
    "q77_changepoints" -> q77Changepoints,
    "q63_anomaly" -> q63Anomaly)

  val oracles: Map[String, String] = Map(
    "q300_logrank" -> q300Sql,
    "q301_sax" -> q301Sql,
    "q296_forecast_eval" -> q296Sql,
    "q284_periodogram" -> q284Sql,
    "q277_double_smoothing" -> q277Sql,
    "q269_sprt" -> q269Sql,
    "q253_cusum" -> q253Sql,
    "q248_mann_kendall" -> q248Sql,
    "q241_gap_fill" -> q241Sql,
    "q244_theilsen" -> q244Sql,
    "q234_kaplan_meier" -> q234Sql,
    "q191_stl_lite" -> q191Sql,
    "q173_forecast_backtest" -> q173Sql,
    "q158_time_to_event" -> q158Sql,
    "q159_seasonal_anomaly" -> q159Sql,
    "q137_bursts" -> q137Sql,
    "q134_crosscorr" -> q134Sql,
    "q121_seasonality" -> q121Sql,
    "q103_acf" -> q103Sql,
    "q85_ewma" -> q85Sql,
    "q63_anomaly" -> q63Sql,
    "q77_changepoints" -> q77Sql)
}
