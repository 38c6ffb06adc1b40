package graft

/** r12 optimization-round contract: q34's GraphX rank output is
  * session-memoized (verdict item 6) so a warm session reads the memo
  * instead of re-running Pregel. The size-gated edge broadcasts are
  * covered by BroadcastPolicySpec.
  */
class R12OptSpec extends GraftSpec {

  test("q34 graphx rank is session-memoized: warm call touches no GraphX job") {
    SessionCache.clear(spark)
    val cold = queries.GraphQueries.q34GraphxRank(spark, sfDir)
    cold.write.format("noop").mode("overwrite").save()
    Checkpoints.drain(spark)
    assert(SessionCache.contains(spark, s"graphx-rank:page:$sfDir"),
      "cold q34 run must build the session memo")
    val builds0 = SessionCache.builds.get()
    val warm = queries.GraphQueries.q34GraphxRank(spark, sfDir)
    warm.write.format("noop").mode("overwrite").save()
    Checkpoints.drain(spark)
    assert(SessionCache.builds.get() == builds0,
      "warm q34 run must hit the memo, not rebuild it")
  }
}
