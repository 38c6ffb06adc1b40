package graft

/** Compiles and runs the README "Quickstart" snippet VERBATIM (same
  * statements, same names) so the documented surface can never drift
  * from the real one — if the README example stops compiling or
  * running, this suite fails.
  */
class QuickstartSpec extends GraftSpec {

  test("the README quickstart snippet compiles and runs") {
    // --- snippet start (keep in sync with README.md "Quickstart") ---
    import org.apache.spark.sql.functions._
    import graft.{Graft, GraftSession}

    val spark = GraftSession.local() // wires the compiled graft_* kernels
    import spark.implicits._

    // rank YOUR edge list — any two string columns
    val edges = Seq("a.com" -> "b.com", "b.com" -> "c.com", "a.com" -> "c.com")
      .toDF("src", "dst")
    val ranks = Graft.linkRank(spark, Graft.dedupLinks(edges)) // (id, score in [0,10])

    // dedup YOUR corpus — any (id, text) columns
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
                   (2L, "the quick brown fox jumps over the lazy dog"),
                   (3L, "an entirely different document body")).toDF("doc_id", "body")
    val exact = Graft.dedupExact(docs, $"doc_id", md5($"body")) // +canonical_id, is_dup
    val near  = Graft.minhashPairs(docs, $"doc_id", $"body")    // (da, db, est_jaccard)

    // per-document kernels compose into any query (compiled, map-only)
    val feats = docs.select($"doc_id",
      Graft.simhash($"body").as("simhash"),
      Graft.winnowFingerprint($"body").as("fingerprint"))

    // screen YOUR training set against a held-out benchmark (broadcast while the
    // set fits spark.sql.autoBroadcastJoinThreshold, an exact shuffle join past it)
    val hits = Graft.decontaminate(docs, $"doc_id", $"body",
      docs.filter($"doc_id" === 3), $"body")

    ranks.show() // consume results FIRST — the frames read operator caches...
    Graft.drain(spark) // ...then release those deferred caches/checkpoints
    // --- snippet end ---

    // the documented shapes, recomputed fresh (the drain above released
    // the snippet frames' deferred blocks — that lifecycle is itself
    // part of what this suite pins)
    val r = Graft.linkRank(spark, Graft.dedupLinks(edges)).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r.keySet === Set("a.com", "b.com", "c.com"))
    assert(r.values.forall(s => s >= 0.0 && s <= 10.0))
    val d = Graft.dedupExact(docs, $"doc_id", md5($"body")).collect().map(x =>
      x.getAs[Long]("doc_id") -> x.getAs[Boolean]("is_dup")).toMap
    assert(d === Map(1L -> false, 2L -> true, 3L -> false))
    val n = Graft.minhashPairs(docs, $"doc_id", $"body").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(n.contains((1L, 2L)) && !n.exists(p => p._1 == 3L || p._2 == 3L))
    assert(feats.columns.toSeq === Seq("doc_id", "simhash", "fingerprint"))
    assert(feats.count() === 3) // local frame, independent of the drain
    val h = Graft.decontaminate(docs, $"doc_id", $"body",
        docs.filter($"doc_id" === 3), $"body").collect().map(x =>
      x.getAs[Long]("doc_id") -> x.getAs[Boolean]("contaminated")).toMap
    // every train doc is scored (excluding the bench slice is the
    // caller's cut); doc 3 overlaps itself fully -> flagged
    assert(h === Map(1L -> false, 2L -> false, 3L -> true))
    Graft.drain(spark)
  }
}
