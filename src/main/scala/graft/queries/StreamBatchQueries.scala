package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.MathFunctions.{asD, dsum}

/** Structured-Streaming-backed driver rows (SURVEY §2.B streaming
  * family, split out of RelationalQueries in r9): each runs a REAL
  * streaming query (availableNow + file sink + read-back) whose
  * result lands under the same DuckDB oracle hash gate as the batch
  * rows — q98 windowed aggregation, q111 session windows, q132
  * dedup-within-watermark, q142 stream-stream interval join, q172
  * watermarked trending. Oracle-fidelity rules are RelationalQueries'
  * (see its doc). */
object StreamBatchQueries {


  /** Runs a bounded stream over the events file to its end and reads
    * the result back: `plan` builds the streaming plan from the event
    * stream source (call it once per stream it reads) and the event
    * time of its `ts`; the plan runs with the availableNow trigger into
    * a parquet sink (append mode) in a scratch directory, and
    * `readBack` of the sink comes back materialized, so the scratch
    * directory can go before the caller consumes the frame. `key`
    * names the scratch directory. */
  private[graft] def boundedStream(spark: SparkSession, sfDir: String, key: String)(
      plan: (() => DataFrame, Column) => DataFrame)(
      readBack: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    // The stream source must declare the FILE's schema (Tables.events
    // normalizes ts to a ns bigint, which no longer matches the
    // on-disk type since the r8 regeneration switched ts to µs
    // TIMESTAMP); event time is derived per-vintage below.
    val raw = Tables.eventsRaw(spark, sfDir)
    val eventTime =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        timestamp_micros(expr("ts div 1000"))
      else col("ts").cast("timestamp")
    // events.parquet is a single FILE; the file stream source requires a
    // directory base path, so glob one character — the base becomes the
    // sf directory while the pattern still matches only this file.
    def events(): DataFrame =
      spark.readStream.schema(raw.schema).parquet(s"$sfDir/[e]vents.parquet")
    graft.TempDirs.withEphemeral(s"graft_${key}_") { tmp =>
      val outDir = tmp.resolve("out").toString
      plan(() => events(), eventTime).writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", tmp.resolve("cp").toString)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      graft.Checkpoints.materialize(readBack(spark.read.parquet(outDir)))
    }
  }

  // ---------------------------------------------------------------- q98
  /** Watermark delay of the streaming twin (and the oracle's emission
    * cutoff): windows whose end is at most max(event time) − this many
    * ms are finalized and emitted by the availableNow run. */
  val StreamDelayMs = 7200000L

  /** Streaming batch-equivalence — q16's tumbling aggregation run
    * through the REAL Structured Streaming engine (file source →
    * event-time watermark → windowed agg → file sink, availableNow
    * trigger), read back as the result frame. This puts the streaming
    * path under the same DuckDB oracle regime as every batch operator
    * instead of ScalaTest-only equality.
    *
    * Determinism: with no per-trigger file limits configured,
    * availableNow drains the source in a single micro-batch (nothing
    * is ever late), then the no-data finalize batch advances the
    * watermark to max(event time) − 2 h and flushes every window whose
    * end the watermark has passed. The emitted set is therefore exactly
    * "windows with end ≤ max(ts) − 2 h" — a pure function of the data
    * that the oracle computes with a HAVING clause (Spark tracks the
    * watermark in whole milliseconds, hence the ms floor in both
    * engines). Windows still inside the delay horizon are withheld by
    * design — that is the streaming semantic being verified.
    *
    * Scale shape: identical to the production streaming pipeline —
    * bounded state (closed windows evicted), partial aggregation per
    * micro-batch, file-sink append with exactly-once manifest. The
    * batch read-back + sort is on the aggregated (window, type) frame,
    * never the events. */
  def q98StreamWindow(spark: SparkSession, sfDir: String): DataFrame =
    boundedStream(spark, sfDir, "q98") { (events, eventTime) =>
      events()
        .select(eventTime.as("ts"),
          col("event_type"), col("value"))
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("tv"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("event_type"), col("n_events"), asD(col("tv")).as("total_value"))
    }(_.orderBy(col("window_start_us"), col("event_type")))

  val q98Sql: String =
    s"""WITH ev AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type, value FROM events),
      |wm AS (SELECT (max(ts_us) // 1000 - $StreamDelayMs) * 1000 AS w FROM ev)
      |SELECT (ts_us // 3600000000) * 3600000000 AS window_start_us,
      |  event_type, count(*) AS n_events,
      |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_value
      |FROM ev
      |GROUP BY 1, 2
      |HAVING window_start_us + 3600000000 <= (SELECT w FROM wm)
      |ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------- q111
  /** Session gap for the streaming session-window (µs twin below). */
  val SessGap = "30 minutes"
  val SessGapUs = 30L * 60 * 1000000

  /** Stateful-streaming batch equivalence — q15's sessionization run
    * through the REAL streaming engine's `session_window` (gap-merged
    * event-time sessions, the stateful operator `window()` can't
    * express), availableNow trigger, file sink, read back as the
    * result. q98 put the stateless windowed path under the oracle
    * regime; this row does the same for the session-STATE path: merge
    * of adjacent gap-windows, watermark-driven finalization, append
    * emission of only closed sessions.
    *
    * Determinism (q98's argument, session form): one micro-batch
    * drains the source, then the finalize batch advances the watermark
    * to max(event time) − 2 h (ms floor) and emits exactly the
    * sessions whose window end — LAST event + 30-min gap — the
    * watermark has passed. The oracle replays q15's gap-rule sessions
    * and keeps the same closed set with a HAVING.
    *
    * Scale shape: the production streaming plan — state keyed by
    * (user, session), bounded by the watermark horizon (closed
    * sessions are evicted on emission), partial agg per micro-batch.
    * Nothing downstream touches the event grain except the one
    * stateful shuffle on user_id. */
  def q111StreamSessions(spark: SparkSession, sfDir: String): DataFrame =
    boundedStream(spark, sfDir, "q111") { (events, eventTime) =>
      events()
        .select(eventTime.as("ts"), col("user_id"), col("value"))
        .withWatermark("ts", "2 hours")
        .groupBy(col("user_id"), session_window(col("ts"), SessGap))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("tv"),
          max(col("ts")).as("last_ts"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          unix_micros(col("last_ts")).as("session_end_us"),
          col("n_events"), asD(col("tv")).as("session_value"))
    }(_.orderBy(col("user_id"), col("session_start_us")))

  val q111Sql: String =
    s"""WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value FROM events),
      |flagged AS (
      |  SELECT user_id, ts_us, value,
      |    CASE WHEN lag(ts_us) OVER w IS NULL
      |              OR ts_us - lag(ts_us) OVER w > $SessGapUs THEN 1 ELSE 0 END AS new_session
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      |sessions AS (
      |  SELECT user_id, ts_us, value,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us) AS BIGINT) AS session_id
      |  FROM flagged),
      |wm AS (SELECT (max(ts_us) // 1000 - $StreamDelayMs) * 1000 AS w FROM ev)
      |SELECT user_id, min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
      |  count(*) AS n_events,
      |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS session_value
      |FROM sessions
      |GROUP BY user_id, session_id
      |HAVING max(ts_us) + $SessGapUs <= (SELECT w FROM wm)
      |ORDER BY user_id, session_start_us""".stripMargin

  // --------------------------------------------------------------- q132
  /** Streaming exact dedup as a DRIVER row — the at-least-once
    * delivery collapse every event pipeline runs first: the event file
    * streams through the REAL engine's `dropDuplicates` on the
    * (user_id, event_type, event-time hour) key under a 2 h
    * watermark, survivors append to a file sink, and the read-back
    * aggregates per type. `dropDuplicates` EMITS rows immediately
    * (state discards late duplicates; no output suppression), so —
    * unlike q98/q111 — no watermark-cutoff arithmetic appears in the
    * oracle: the emitted set is exactly the batch DISTINCT, which is
    * what the oracle states. q98 gated stateless windows, q111 the
    * session-merge state, this gates the dedup state store.
    *
    * Shape for 100 TB: dedup state is bounded by the watermark
    * horizon (keys older than the event-time watermark are evicted);
    * the sink carries unique keys only. */
  def q132StreamDedup(spark: SparkSession, sfDir: String): DataFrame =
    boundedStream(spark, sfDir, "q132") { (events, eventTime) =>
      events()
        .select(date_trunc("hour", eventTime).as("hour"),
          col("user_id"), col("event_type"))
        .withWatermark("hour", "2 hours")
        .dropDuplicates("user_id", "event_type", "hour")
    }(_.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type")))

  val q132Sql: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id, event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour
      |  FROM events)
      |SELECT event_type, count(*) AS n_unique, count(DISTINCT user_id) AS n_users
      |FROM d GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q142
  /** Stream-stream interval join as a DRIVER row — the fourth and last
    * stateful-operator family under the oracle gate (q98 windows, q111
    * session state, q132 dedup state, this one JOIN state): every
    * error event joins the same user's clicks from the preceding 10
    * minutes through the REAL streaming engine
    * ([[graft.streaming.StreamingWindows.recentClickJoin]] — both
    * sides watermarked so click state evicts at the horizon), sink to
    * files, read back, aggregated per user. An INNER join emits each
    * match the moment both sides are present — in the availableNow
    * single-batch drain nothing is watermark-suppressed, so the oracle
    * is the plain batch interval join with no cutoff arithmetic. */
  def q142StreamJoin(spark: SparkSession, sfDir: String): DataFrame =
    boundedStream(spark, sfDir, "q142") { (events, eventTime) =>
      val errors = events().filter(col("event_type") === "error")
        .select(col("user_id"), eventTime.as("ets"), col("event_id").as("eid"))
      val clicks = events().filter(col("event_type") === "click")
        .select(col("user_id").as("c_user_id"), eventTime.as("cts"),
          col("event_id").as("cid"))
      graft.streaming.StreamingWindows.recentClickJoin(errors, clicks)
        .select(col("user_id"), col("eid"), col("cid"))
    }(_.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("eid")).as("n_errors_with_click"))
      .orderBy(col("user_id")))

  val q142Sql: String =
    """WITH er AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ets, event_id AS eid
      |  FROM events WHERE event_type = 'error'),
      |cl AS (
      |  SELECT user_id AS c_user_id, CAST(ts AS TIMESTAMP) AS cts, event_id AS cid
      |  FROM events WHERE event_type = 'click'),
      |j AS (
      |  SELECT er.user_id, eid, cid
      |  FROM er JOIN cl ON user_id = c_user_id
      |    AND cts BETWEEN ets - INTERVAL 10 MINUTE AND ets)
      |SELECT user_id, count(*) AS n_pairs,
      |  count(DISTINCT eid) AS n_errors_with_click
      |FROM j GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- q172
  /** Trending geometry: 30-minute windows, top-3 risers per window. */
  val TrendWindowUs = 1800000000L
  val TrendTopK = 3

  /** Streaming trending detector — the "what is rising RIGHT NOW"
    * product (trending topics/SKUs/errors): the STREAM maintains
    * 30-minute windowed counts per event type under the q98 watermark
    * regime (bounded state, append-only finalized windows through the
    * real Structured Streaming engine); the serving-side read-back
    * then scores each finalized window's types by GROWTH vs their own
    * previous window and keeps the top [[TrendTopK]] risers. The
    * split is the production architecture: monotone windowed counts
    * are the only thing streaming state must hold — ranking is a
    * view-time concern on the O(windows × types) sink.
    *
    * Determinism: identical availableNow/watermark argument as q98 —
    * emitted set = windows with end ≤ max(ts) − 2 h, a pure function
    * of the data replayed by the oracle's HAVING; growth/rank run on
    * that closed set with (growth desc, type) tiebreak.
    *
    * Shape for 100 TB: streaming side is partial-agged windowed
    * counts with watermark-evicted state; batch side self-joins the
    * tiny aggregate on (type, prev window) and ranks inside each
    * window partition. */
  def q172StreamTrending(spark: SparkSession, sfDir: String): DataFrame = {
    val sink = boundedStream(spark, sfDir, "q172") { (events, eventTime) =>
      events()
        .select(eventTime.as("ts"), col("event_type"))
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("ws"),
          col("event_type"), col("n_events"))
    }(identity)
    val prev = sink.select((col("ws") + TrendWindowUs).as("ws"),
      col("event_type"), col("n_events").as("prev_n"))
    val w = Window.partitionBy(col("ws"))
      .orderBy(col("growth").desc, col("event_type"))
    sink.join(prev, Seq("ws", "event_type"), "left")
      .withColumn("growth", col("n_events") - coalesce(col("prev_n"), lit(0L)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TrendTopK)
      .select(col("ws").as("window_start_us"), col("rank"), col("event_type"),
        col("n_events"), col("growth"))
      .orderBy(col("window_start_us"), col("rank"))
  }

  val q172Sql: String =
    s"""WITH ev AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type FROM events),
      |wm AS (SELECT (max(ts_us) // 1000 - $StreamDelayMs) * 1000 AS w FROM ev),
      |sink AS (
      |  SELECT (ts_us // $TrendWindowUs) * $TrendWindowUs AS ws,
      |    event_type, count(*) AS n_events
      |  FROM ev GROUP BY 1, 2
      |  HAVING ws + $TrendWindowUs <= (SELECT w FROM wm)),
      |scored AS (
      |  SELECT s.ws, s.event_type, s.n_events,
      |    s.n_events - coalesce(p.n_events, 0) AS growth
      |  FROM sink s LEFT JOIN sink p
      |    ON s.event_type = p.event_type AND p.ws = s.ws - $TrendWindowUs),
      |ranked AS (
      |  SELECT ws, event_type, n_events, growth,
      |    row_number() OVER (PARTITION BY ws ORDER BY growth DESC, event_type) AS rank
      |  FROM scored)
      |SELECT ws AS window_start_us, rank, event_type, n_events, growth
      |FROM ranked WHERE rank <= $TrendTopK
      |ORDER BY ws, rank""".stripMargin

  // --------------------------------------------------------------- q302
  /** Session gap of the custom-state operator, in ms (the Scala
    * handler's timeout arithmetic unit). */
  val StateSessGapMs = 30L * 60 * 1000

  /** Custom-state sessionization as a DRIVER row — the
    * `flatMapGroupsWithState` operator class
    * ([[graft.streaming.StreamingWindows.sessionize]]) under the oracle
    * hash gate. r9 left this class ScalaTest-only (SURVEY §2.G): q111
    * gates the ENGINE's `session_window`, this row gates the
    * user-authored state machine — per-user fold, explicit
    * EventTimeTimeout eviction, append emission of closed sessions.
    *
    * Emission contract the oracle replays: a session closes by GAP (a
    * later event of the same user arrives >30 min after it — emitted
    * whatever the watermark says) or by TIMEOUT (no later event, and
    * the finalize batch's watermark passes last-event + gap:
    * last_ms + gap_ms < wm_ms, Spark's strict
    * `timeoutTimestamp < watermark` rule). Every non-final session of
    * a user is gap-closed by construction; only the final one needs
    * the timeout test.
    *
    * Determinism: availableNow drains the one source file in a single
    * micro-batch (watermark 0 while it runs, so no timeout races), the
    * handler folds each user's batch in (ts, value)-sorted order, and
    * the session VALUE rides the 1e-6 grid as an integer-valued double
    * (floor(value·1e6 + 0.5) stays exact in IEEE up to 2⁵³), so the
    * left fold is exact and order-independent — the oracle sums
    * BIGINTs.
    *
    * Scale shape: the production custom-state plan — ONE stateful
    * shuffle on user_id; per-user state is the single live session
    * (closed sessions are emitted and replaced, idle users evicted on
    * timeout), so an unending 100 TB stream holds O(active users)
    * state, never O(history). */
  def q302StateSessions(spark: SparkSession, sfDir: String): DataFrame =
    boundedStream(spark, sfDir, "q302") { (events, eventTime) =>
      val src = events()
        .select(col("user_id").as("userId"),
          unix_micros(eventTime).as("tsUs"),
          floor(col("value") * lit(1e6) + lit(0.5)).cast("double").as("value"))
      val sp = spark
      import sp.implicits._
      val sess = graft.streaming.StreamingWindows.sessionize(
        src.as[graft.streaming.StreamingWindows.Event],
        gapMin = 30, watermarkDelay = "2 hours")
      sess.toDF().select(col("userId").as("user_id"),
        col("startUs").as("session_start_us"),
        col("endUs").as("session_end_us"),
        col("nEvents").as("n_events"),
        col("total").cast("long").as("value_micros"))
    }(_.orderBy(col("user_id"), col("session_start_us")))

  val q302Sql: String =
    s"""WITH ev AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
      |    CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vm FROM events),
      |flagged AS (
      |  SELECT user_id, ts_us, vm,
      |    CASE WHEN lag(ts_us) OVER w IS NULL
      |              OR ts_us - lag(ts_us) OVER w > $SessGapUs THEN 1 ELSE 0 END AS new_session
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      |sessions AS (
      |  SELECT user_id, ts_us, vm,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us) AS BIGINT) AS session_id
      |  FROM flagged),
      |wm AS (SELECT max(ts_us) // 1000 - $StreamDelayMs AS wms FROM ev),
      |agg AS (
      |  SELECT user_id, session_id, min(ts_us) AS session_start_us,
      |    max(ts_us) AS session_end_us, count(*) AS n_events,
      |    CAST(sum(vm) AS BIGINT) AS value_micros
      |  FROM sessions GROUP BY user_id, session_id),
      |lastsess AS (SELECT user_id, max(session_id) AS last_id FROM agg GROUP BY user_id)
      |SELECT a.user_id, a.session_start_us, a.session_end_us, a.n_events, a.value_micros
      |FROM agg a JOIN lastsess l ON a.user_id = l.user_id
      |WHERE a.session_id < l.last_id
      |   OR (a.session_end_us // 1000 + $StateSessGapMs < (SELECT wms FROM wm))
      |ORDER BY a.user_id, a.session_start_us""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q302_state_sessions" -> q302StateSessions,
    "q172_stream_trending" -> q172StreamTrending,
    "q142_stream_join" -> q142StreamJoin,
    "q132_stream_dedup" -> q132StreamDedup,
    "q111_stream_sessions" -> q111StreamSessions,
    "q98_stream_window" -> q98StreamWindow)

  val oracles: Map[String, String] = Map(
    "q302_state_sessions" -> q302Sql,
    "q172_stream_trending" -> q172Sql,
    "q142_stream_join" -> q142Sql,
    "q132_stream_dedup" -> q132Sql,
    "q111_stream_sessions" -> q111Sql,
    "q98_stream_window" -> q98Sql)
}
