package graft

import org.apache.spark.sql.functions._
import graft.queries.{TimeseriesQueries, WindowQueries}

/** Edge cases of the shared query stages that no query spec pins, on
  * hand-built event frames: the session rule behind q96/q223/q259 and
  * the hourly cell grid behind q85/q121/q277/q296/q301. */
class SharedStageSpec extends GraftSpec {
  import TestSpark.spark.implicits._

  private val t0 = 1700000000000000000L // ns
  private val min30 = 30L * 60 * 1000000 * 1000 // ns
  private val us = 1000L // ns

  test("session transitions: a 30-min gap stays, 30 min + 1 us splits, ties order by event_id") {
    val events = Seq(
      // user 1: exactly 30 min apart — one session, one transition
      (1L, t0, "a", 1L), (1L, t0 + min30, "b", 2L),
      // user 2: 30 min + 1 us apart — two one-event sessions, none
      (2L, t0, "a", 10L), (2L, t0 + min30 + us, "b", 11L),
      // user 3: equal timestamps — event_id 20 comes before 21
      (3L, t0, "c", 21L), (3L, t0, "d", 20L),
      // user 4: a one-event session yields no transition
      (4L, t0, "a", 30L)
    ).toDF("user_id", "ts", "event_type", "event_id")
    val got = WindowQueries.sessionTransitions(events)
      .select(col("user_id"), col("session_id"), col("event_type"), col("to_type"))
      .orderBy(col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq
    assert(got == Seq((1L, 1L, "a", "b"), (3L, 1L, "d", "c")))
  }

  test("hourly grid: a (type, day) with events in 2 hours gives 24 rows, 22 of them 0") {
    val hourNs = 3600L * 1000000000L
    val day = 19000L * 24 * hourNs
    val events = Seq(
      ("click", day + 3 * hourNs), ("click", day + 3 * hourNs + 5),
      ("click", day + 7 * hourNs + 59))
      .toDF("event_type", "ts")
    val cells = TimeseriesQueries.hourlyCells(TimeseriesQueries.hourlyCounts(events), "cnt")
      .orderBy(col("hr")).collect()
    assert(cells.length == 24)
    assert(cells.map(_.getAs[Long]("hr")).toSeq == (0L until 24L))
    assert(cells.forall(r => r.getAs[String]("event_type") == "click" && r.getAs[Long]("day") == 19000L))
    val counts = cells.map(r => r.getAs[Long]("hr") -> r.getAs[Long]("cnt")).toMap
    assert(counts.count(_._2 == 0L) == 22)
    assert(counts(3L) == 2L && counts(7L) == 1L)
  }
}
