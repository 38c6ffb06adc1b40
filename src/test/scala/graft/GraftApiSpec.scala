package graft

import org.apache.spark.sql.functions._

/** Drives the public Graft facade on CALLER-shaped data (not the test
  * fixtures): the library surface works on arbitrary schemas.
  */
class GraftApiSpec extends GraftSpec {
  private lazy val sp = spark
  import sp.implicits._

  test("rank family runs on a user edge list") {
    val edges = Seq("a" -> "b", "b" -> "c", "a" -> "c").toDF("src", "dst")
    val r = Graft.linkRank(spark, edges).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    // reference gold (LinkRankComputationTest.testToyData1), as LinkRankSpec
    assert(math.abs(r("a") - 1.3515060339386287) < 1e-6, r)
    assert(math.abs(r("b") - 4.144902009567587) < 1e-6, r)
    // c is 7.8e-4 off the gold even with an exact erf: a one-vertex
    // semantic deviation (c is the only dangling sink) of unknown
    // cause, not erf error — hence the looser bound (SURVEY §1.1)
    assert(math.abs(r("c") - 9.06389778197704) < 1e-3, r)
    val g = Graft.linkRankGraphX(spark, edges).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    r.foreach { case (k, v) => assert(math.abs(v - g(k)) < 1e-9) }
  }

  test("text kernels compose on a user frame") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different content here entirely novel words"))
      .toDF("id", "text")
      .withColumn("s", Graft.shingleSet(col("text")))
    val pair = df.filter(col("id") === 1).select(col("s").as("s1"))
      .crossJoin(df.filter(col("id") === 2).select(col("s").as("s2")))
      .select(Graft.jaccard(col("s1"), col("s2"))).first().getDouble(0)
    assert(pair === 1.0) // identical docs
    val far = df.filter(col("id") === 1).select(col("s").as("s1"))
      .crossJoin(df.filter(col("id") === 3).select(col("s").as("s2")))
      .select(Graft.jaccard(col("s1"), col("s2"))).first().getDouble(0)
    assert(far === 0.0)
    // dedupExact over md5 fingerprints finds the identical pair
    val dd = Graft.dedupExact(df, col("id"), md5(col("text")))
      .select(col("id"), col("is_dup")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(dd === Map(1L -> false, 2L -> true, 3L -> false))
  }

  test("minhashPairs, kmeans, knnBrute on user frames") {
    // near-dup pair: same doc with a one-word suffix change
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val docs = Seq((10L, base), (20L, base + "tail"), (30L, "other stuff wholly unrelated text body"))
      .toDF("id", "body")
    val pairs = Graft.minhashPairs(docs, col("id"), col("body"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 10L && p._2 == 20L && p._3 > 0.5), pairs.toSeq)
    assert(!pairs.exists(p => p._1 == 30L || p._2 == 30L))

    val rnd = new scala.util.Random(11)
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextDouble() + (i % 3) * 10.0))).toDF("id", "vec")
    val km = Graft.kmeans(vecs, col("id"), col("vec"), k = 3, dims = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.Checkpoints.drain(spark)
    assert(km.size === 60)
    // the three offset groups are well-separated: cluster = f(id % 3)
    (0 until 60).foreach(i => assert(km(i.toLong) === km((i % 3).toLong), s"vec $i"))

    val knn = Graft.knnBrute(vecs, col("id"), col("vec"),
        vecs.filter(col("id") === 0), col("id"), col("vec"), k = 3)
      .collect().sortBy(_.getAs[Int]("rank"))
    assert(knn.length === 3)
    assert(knn.forall(_.getAs[Long]("neighbor") != 0L)) // self excluded
    val cos = knn.map(_.getAs[Double]("cosine"))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b }) // ranked
  }

  test("triangles and funnel on user frames") {
    // K4 minus one edge: triangles {a,b,c} and {a,b,d}
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "d", "b" -> "d")
      .toDF("x", "y")
    val tri = Graft.triangles(edges, col("x"), col("y")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(tri("a") === (3L, 2L) && tri("b") === (3L, 2L))
    assert(tri("c") === (2L, 1L) && tri("d") === (2L, 1L))

    val ev = Seq(
      (1L, "signup", 10L), (1L, "buy", 20L),          // full funnel in order
      (2L, "buy", 5L), (2L, "signup", 8L),            // buy BEFORE signup: stops at signup
      (3L, "signup", 1L))                             // never buys
      .toDF("uid", "what", "at")
    val f = Graft.funnel(ev, col("uid"), col("what"), col("at"),
      Seq("signup", "buy")).collect()
    assert(f.map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq((0, "all_users", 3L), (1, "signup", 3L), (2, "buy", 1L)))
  }

  test("vector and sampling helpers on user data") {
    val v = Seq((1L, Array(1.0, 0.0), Array(0.0, 2.0))).toDF("id", "a", "b")
    assert(v.select(Graft.dot(col("a"), col("b"))).first().getDouble(0) === 0.0)
    assert(v.select(Graft.dist2(col("a"), col("b"))).first().getDouble(0) === 5.0)
    val ids = (0L until 1000L).toDF("id")
    val kept = Graft.hashSample(ids, col("id"), lit(20)).count()
    assert(kept > 100 && kept < 300, s"~20% expected, got $kept")
    val again = Graft.hashSample(ids, col("id"), lit(20)).count()
    assert(kept === again) // deterministic
  }

  test("bm25, weightedSample, phash on user frames") {
    val docs = Seq(
      (1L, "spark shuffles the big table and spark broadcasts the small one"),
      (2L, "spark spark spark"),
      (3L, "nothing relevant here at all")).toDF("id", "body")
    val scored = Graft.bm25(docs, col("id"), col("body"), Seq("spark"), k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(2))).toList
    // doc 2 is short and saturated with the term — BM25 must rank it first
    assert(scored.map(_._1) === List(2L, 1L))

    val pop = (0L until 400L).map(i => (i, if (i < 4) 10000L else 1L, "s"))
      .toDF("id", "w", "g")
    val picked = Graft.weightedSample(pop, col("id"), col("w"), col("g"), k = 4)
      .collect().map(_.getLong(0)).toSet
    // the four whale weights dominate the draw
    assert(picked.count(_ < 4) >= 3, s"heavy ids should dominate, got $picked")
    val again = Graft.weightedSample(pop, col("id"), col("w"), col("g"), k = 4)
      .collect().map(_.getLong(0)).toSet
    assert(picked === again) // deterministic

    val long = "x" * 100
    val ph = docs.select(Graft.phash(lit(long))).first().getSeq[Long](0)
    assert(ph.length === 2)
  }
  test("multiBfs / closeness on a user path graph") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "d").toDF("s", "d")
    val seeds = Seq("a", "b").toDF("v")
    val pairs = Graft.multiBfs(edges, col("s"), col("d"), seeds, col("v"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(pairs(("c", "a")) === 2L && pairs(("c", "b")) === 1L)
    assert(pairs(("d", "a")) === 3L && pairs(("d", "b")) === 2L)
    assert(!pairs.contains(("a", "b")), "b cannot reach a on a directed path")
    val c = Graft.closeness(edges, col("s"), col("d"), seeds, col("v"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(c("d") === ((2L, 5L))) // 3 hops from a + 2 from b
    assert(c("a") === ((0L, 0L))) // nothing reaches a
  }

  test("modularity of two triangles joined by a bridge") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a",
      "d" -> "e", "e" -> "f", "f" -> "d", "c" -> "d").toDF("s", "d")
    val labels = Seq(("a", "L"), ("b", "L"), ("c", "L"),
      ("d", "R"), ("e", "R"), ("f", "R")).toDF("id", "com")
    val rows = Graft.modularity(edges, col("s"), col("d"),
      labels, col("id"), col("com")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    // m = 7; each community: e_in = 3, deg_sum = 7 -> (4*7*3 - 49)/196 = 35/196
    assert(rows("L") === ((3L, 3L, 7L, 0.178571)))
    assert(rows("R") === ((3L, 3L, 7L, 0.178571)))
  }

  test("scd2 builds versioned intervals from a keyed state stream") {
    val ev = Seq((1L, 1L, "x"), (1L, 2L, "x"), (1L, 3L, "y"), (1L, 5L, "x"),
      (2L, 4L, "z")).toDF("k", "t", "st")
    val got = Graft.scd2(ev, col("k"), col("t"), col("st")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) -1L else r.getLong(5), r.getBoolean(6)))
      .toSet
    assert(got === Set(
      (1L, 1L, "x", 2L, 1L, 3L, false),
      (1L, 2L, "y", 1L, 3L, 5L, false),
      (1L, 3L, "x", 1L, 5L, -1L, true),
      (2L, 1L, "z", 1L, 4L, -1L, true)))
  }

  test("spearman: monotone data scores +-1, ties handled by average ranks") {
    val up = (1 to 50).map(i => ("g", i.toLong, i * i.toLong)).toDF("g", "x", "y")
    val r1 = Graft.spearman(up, col("g"), col("x"), col("y"))
      .first().getDouble(2)
    assert(math.abs(r1 - 1.0) < 1e-9)
    val down = (1 to 50).map(i => ("g", i.toLong, -3L * i)).toDF("g", "x", "y")
    val r2 = Graft.spearman(down, col("g"), col("x"), col("y"))
      .first().getDouble(2)
    assert(math.abs(r2 + 1.0) < 1e-9)
  }

  test("weightedQuantiles finds the byte-mass crossing points") {
    val df = Seq(("g", 1L, 10L), ("g", 2L, 10L), ("g", 3L, 80L)).toDF("g", "v", "w")
    val r = Graft.weightedQuantiles(df, col("g"), col("v"), col("w"), Seq(10, 50, 90))
      .first()
    assert(r.getLong(1) === 100L)
    assert(r.getLong(2) === 1L)  // wp10: cum 10 >= 10
    assert(r.getLong(3) === 3L)  // wp50: needs 50, only v=3 crosses
    assert(r.getLong(4) === 3L)
  }

  test("bloomSemijoin prefilter keeps every true match and the semi join is exact") {
    val fact = (0L until 2000L).map(i => (i, i % 100)).toDF("fid", "fk")
    val dim = Seq(3L, 7L, 11L).toDF("dk")
    val pre = Graft.bloomSemijoin(fact, col("fk"), dim, col("dk"))
    val exact = pre.join(dim, col("fk") === col("dk"), "left_semi")
    val want = fact.join(dim, col("fk") === col("dk"), "left_semi")
    assert(exact.collect().map(_.getLong(0)).toSet ===
      want.collect().map(_.getLong(0)).toSet)
    // the prefilter is a SUPERSET of the matches and a strong filter overall
    assert(pre.count() >= want.count())
    assert(pre.count() < 2000L, "the sketch must reject most non-matching keys")
    // empty dim -> empty result, not a null sketch failure
    assert(Graft.bloomSemijoin(fact, col("fk"),
      dim.filter(col("dk") < 0), col("dk")).count() === 0L)
  }

  test("setSimilarityJoin finds exactly the over-threshold pairs on user data") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),   // identical
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),    // near
      (4L, "one two three four five six seven eight")).toDF("id", "body")
    val pairs = Graft.setSimilarityJoin(docs, col("id"), Graft.shingleSet(col("body")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) === 1.0)
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("randomWalks is deterministic and follows edges") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c").toDF("s", "d")
    val w1 = Graft.randomWalks(edges, col("s"), col("d"), len = 5)
      .collect().map(r => (r.getString(0), r.getInt(2)) -> r.getString(1)).toMap
    val w2 = Graft.randomWalks(edges, col("s"), col("d"), len = 5)
      .collect().map(r => (r.getString(0), r.getInt(2)) -> r.getString(1)).toMap
    assert(w1 === w2)
    assert(w1.keys.count(_._2 == 0) === 3) // one walk per vertex
    val adj = Map("a" -> Set("b", "c"), "b" -> Set("c"), "c" -> Set("a"))
    w1.foreach { case ((wid, step), host) =>
      if (step > 0) assert(adj(w1((wid, step - 1))).contains(host))
    }
  }

  test("mergeLatestWins applies updates, tombstones, inserts on user frames") {
    val base = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
    val feed = Seq((2L, 1L, "U", "y2"), (3L, 1L, "D", null),
      (9L, 1L, "I", "new")).toDF("k", "ver", "op", "v")
    val got = Graft.mergeLatestWins(base, col("k"), col("v"),
        feed, col("k"), col("ver"), col("op"), col("v"))
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getString(3))).toMap
    assert(got === Map(
      1L -> ("B", "x"), 2L -> ("U", "y2"), 9L -> ("I", "new")))
  }

  test("evaluation facade: auc and rankMetrics on caller frames") {
    // perfectly separating score -> AUC 1; anti-separating -> 0
    val df = Seq((10.0, 1L), (9.0, 1L), (2.0, 0L), (1.0, 0L)).toDF("s", "y")
    assert(Graft.auc(df, col("s"), col("y")).first().getDouble(3) === 1.0)
    assert(Graft.auc(df, -col("s"), col("y")).first().getDouble(3) === 0.0)
    // all scores tied -> 0.5
    val tied = Seq((1.0, 1L), (1.0, 0L), (1.0, 1L), (1.0, 0L)).toDF("s", "y")
    assert(Graft.auc(tied, col("s"), col("y")).first().getDouble(3) === 0.5)
    // one query, relevant at ranks 1 and 3, 4 relevant in corpus, k=3:
    // dcg = 1 + 1/2; idcg = 1 + 1/log2(3) + 1/2
    val run = Seq(("q", 1, 1), ("q", 2, 0), ("q", 3, 1))
      .toDF("qid", "rank", "rel")
    val m = Graft.rankMetrics(run, col("qid"), col("rank"), col("rel"),
      lit(4), k = 3).first()
    assert(m.getLong(1) === 2L)
    assert(math.abs(m.getDouble(2) - 2.0 / 3) < 1e-6)
    assert(m.getDouble(3) === 1.0)
    val idcg = 1.0 + 1.0 / (math.log(3) / math.log(2)) + 0.5
    assert(math.abs(m.getDouble(4) - 1.5 / idcg) < 1e-6)
  }

  test("data-contract facade: fkAudit and zipfFit on caller frames") {
    val child = Seq(1L, 1L, 2L, 7L).toDF("k")
    val parent = Seq(1L, 2L, 3L).toDF("p")
    val a = Graft.fkAudit("child->parent", child, col("k"), parent, col("p"))
      .first()
    assert(a.getString(0) === "child->parent")
    assert(a.getLong(1) === 4L && a.getLong(4) === 1L && a.getLong(5) === 1L)
    val z = Graft.zipfFit(
      Seq("aa aa aa aa bb bb cc", "aa bb cc dd").toDF("t"), col("t"), topN = 4)
      .first()
    assert(z.getLong(0) === 4L)
    assert(z.getDouble(1) < 0.0) // freq decays with rank
  }

  test("ann facade: pqCodebook partitions every vector in every subspace") {
    val vs = (0L until 20L).map(i =>
      (i, Array.tabulate(8)(d => (i % 5).toDouble + d))).toDF("id", "vec")
    val census = Graft.pqCodebook(vs, col("id"), col("vec"), dims = 8,
      nSubs = 2, k = 3, iters = 2).collect()
    (0 until 2).foreach { m =>
      val rows = census.filter(_.getInt(0) == m)
      assert(rows.map(_.getLong(2)).sum === 20L, s"subspace $m covers all vectors")
      assert(rows.length <= 3)
      rows.foreach(r => assert(r.getDouble(3) >= 0.0))
    }
  }

  test("ops facade: heavyHitters, saltPlan, zoneMaps on caller frames") {
    val df = (Seq.fill(60)(("g1", "hot")) ++ Seq(("g1", "cold"), ("g2", "x"),
      ("g2", "x"), ("g2", "x"), ("g2", "x"), ("g2", "x"), ("g2", "y")))
      .toDF("g", "it")
    val hh = Graft.heavyHitters(df, col("g"), col("it"), den = 2, minCount = 5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(hh === Map(("g1", "hot") -> 60L, ("g2", "x") -> 5L))
    val sp = Graft.saltPlan(df, col("g"), cap = 10).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getBoolean(4))).toMap
    assert(sp("g1") === ((7L, true)) && sp("g2") === ((1L, false)))
    val zm = Graft.zoneMaps(
      (1 to 100).map(i => (i / 50, i.toDouble)).toDF("b", "v"),
      col("b"), col("v"), lo = 60.0, hi = 80.0).collect()
      .map(r => r.getInt(0) -> r.getBoolean(4)).toMap
    // block 2 holds only v=100 — outside [60, 80], so it is skippable
    assert(zm === Map(0 -> false, 1 -> true, 2 -> false))
  }

  test("markov facade: single-channel chain gets all the credit") {
    // u1: a -> conv ; u2: a -> null  => removing 'a' kills all conversion
    val ev = Seq((1L, 1L, 1L, "a"), (1L, 2L, 2L, "buy"),
      (2L, 1L, 3L, "a")).toDF("u", "t", "i", "ty")
    val m = Graft.markovAttribution(ev, col("u"), col("t"), col("i"),
      col("ty"), convType = "buy", channels = Seq("a"), iters = 8)
      .collect().head
    assert(math.abs(m.getDouble(1) - 0.5) < 1e-9) // base P(conv) = 1/2
    assert(math.abs(m.getDouble(2)) < 1e-9) // removed -> 0
    assert(math.abs(m.getDouble(4) - 1.0) < 1e-9) // full share
  }

  test("markov facade: high-cardinality channel column fails loudly, not OOM") {
    // 6 users × unique channels -> 12 distinct transition pairs; cap 5
    val ev = (1L to 6L).flatMap(u =>
      Seq((u, 1L, u * 10, s"ch$u"), (u, 2L, u * 10 + 1, "buy")))
      .toDF("u", "t", "i", "ty")
    val ex = intercept[IllegalArgumentException] {
      Graft.markovAttribution(ev, col("u"), col("t"), col("i"), col("ty"),
        convType = "buy", channels = Seq("ch1"), iters = 4, maxPairs = 5L)
    }
    assert(ex.getMessage.contains("transition pairs"))
    assert(ex.getMessage.contains("cardinality"))
  }

  test("glm facade: olsFit2 recovers exact coefficients, logregFit separates") {
    // y = 3 + 2·x1 − 1·x2, noiseless -> R² = 1, rmse = 0
    val pts = for (i <- 1 to 50; j <- 1 to 4)
      yield (i.toDouble, j.toDouble, 3.0 + 2.0 * i - 1.0 * j)
    val ols = Graft.olsFit2(pts.toDF("x1", "x2", "y"),
      col("x1"), col("x2"), col("y")).first()
    assert(math.abs(ols.getDouble(1) - 3.0) < 1e-3)
    assert(math.abs(ols.getDouble(2) - 2.0) < 1e-4)
    assert(math.abs(ols.getDouble(3) - (-1.0)) < 1e-3)
    assert(ols.getDouble(4) > 0.999999 && ols.getDouble(5) < 1e-2)
    // perfectly separable at x = 5: the fit must classify cleanly
    val lr = Graft.logregFit(
      (1 to 100).map(i => (i.toDouble, if (i > 50) 1.0 else 0.0)).toDF("x", "y"),
      col("x"), col("y"), iters = 4).first()
    assert(lr.getDouble(2) > 0.0, "positive slope")
    assert(lr.getDouble(4) === 1.0, "separable data classifies perfectly")
  }

  test("graph facade: bowtie classifies a caller graph") {
    val edges = Seq("a" -> "b", "b" -> "a", "i" -> "a", "b" -> "o")
      .toDF("s", "d")
    val cls = Graft.bowtie(spark, edges, col("s"), col("d"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cls === Map("a" -> "core", "b" -> "core", "i" -> "in", "o" -> "out"))
  }

  test("chi2 ranks a perfectly class-separating token first") {
    val df = Seq(
      (1L, "pos", "alpha alpha common"), (2L, "pos", "alpha common"),
      (3L, "neg", "beta common"), (4L, "neg", "beta beta common"))
      .toDF("id", "y", "t")
    val top = Graft.chi2Features(df, col("id"), col("y"), col("t"), 1)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    // alpha only in pos, beta only in neg — each class's top feature
    assert(top("pos") == "alpha" || top("pos") == "beta")
    assert(top("neg") == "alpha" || top("neg") == "beta")
    // 'common' (in every doc) has chi2 = 0 and can never rank first
  }

  test("naive Bayes attains 100% on separable classes") {
    val df = Seq(
      (1L, "a", "xx xx yy"), (2L, "a", "xx yy"), (3L, "a", "xx xx"),
      (4L, "b", "zz ww"), (5L, "b", "zz zz ww"), (6L, "b", "ww zz"))
      .toDF("id", "y", "t")
    val conf = Graft.naiveBayes(df, col("id"), col("y"), col("t"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(conf === Map(("a", "a") -> 3L, ("b", "b") -> 3L))
  }

  test("novelty: an exact late duplicate scores zero") {
    val df = Seq(
      (1L, "one two three four five six"),
      (2L, "totally different words in this document here"),
      (3L, "one two three four five six"))
      .toDF("id", "t")
    val nov = Graft.noveltyScores(df, col("id"), col("t"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(nov(1L) === 1.0 && nov(2L) === 1.0 && nov(3L) === 0.0)
  }

  test("target encoding never sees its own fold") {
    // category 'c': fold 0 has y=1000 (an outlier), folds 1/2 have y=10
    val df = Seq(
      ("c", 0L, 1000.0), ("c", 1L, 10.0), ("c", 2L, 10.0),
      ("d", 0L, 20.0), ("d", 1L, 20.0), ("d", 2L, 20.0))
      .toDF("cat", "f", "y")
    val enc = Graft.targetEncoding(df, col("cat"), col("f"), col("y"), 0.0)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // fold 0's encoding excludes the outlier entirely
    assert(enc(("c", 0L)) === 10.0)
    // folds 1/2 include it: (1000 + 10) / 2
    assert(enc(("c", 1L)) === 505.0 && enc(("c", 2L)) === 505.0)
  }

  test("pcaTopComponent recovers the dominant axis of rank-1 data") {
    // vectors all along e1 (dim 4): top eigenvalue = Σ‖x‖², share ≈ 1
    val vecs = Seq(
      (1L, Array(2.0f, 0f, 0f, 0f)), (2L, Array(-3.0f, 0f, 0f, 0f)),
      (3L, Array(1.0f, 0f, 0f, 0f)))
      .toDF("id", "v")
    val rows = Graft.pcaTopComponent(vecs, col("id"), col("v"), 4, 2)
      .collect().sortBy(_.getInt(0))
    assert(math.abs(rows.last.getDouble(2) - 1.0) < 1e-4,
      "explained share of rank-1 data must be ~1")
    assert(math.abs(rows.last.getDouble(1) - 14.0) < 1e-3,
      "eigenvalue = 4+9+1")
    Checkpoints.drain(spark)
  }

  test("fiedler cleanly separates two cliques joined by one bridge") {
    val clique1 = for { a <- Seq("a1", "a2", "a3"); b <- Seq("a1", "a2", "a3") if a < b } yield (a, b)
    val clique2 = for { a <- Seq("b1", "b2", "b3"); b <- Seq("b1", "b2", "b3") if a < b } yield (a, b)
    val edges = (clique1 ++ clique2 :+ ("a1" -> "b1")).toDF("s", "d")
    val last = Graft.fiedler(edges, col("s"), col("d"), 6)
      .collect().maxBy(_.getInt(0))
    assert(last.getLong(2) === 3L && last.getLong(3) === 3L,
      s"3/3 split expected, got ${last.getLong(2)}/${last.getLong(3)}")
    assert(last.getLong(4) === 1L, "exactly the bridge is cut")
    Checkpoints.drain(spark)
  }

  test("packing + batching census on a caller frame") {
    val df = Seq((1L, "s", 10L), (2L, "s", 10L), (3L, "s", 10L))
      .toDF("id", "sh", "nt")
    val packed = Graft.seqPacking(df, col("id"), col("sh"), col("nt"), 16L)
      .collect().sortBy(_.getLong(0))
    // stream offsets 0/10/20 with cut at 16: doc 2 straddles packs 0-1
    assert(packed.map(_.getInt(6)).toSeq === Seq(0, 1, 0))
    val batched = Graft.padBatching(df.select(col("nt")), col("nt"), 32L)
      .collect()
    // all three docs bucket to 16; 2 sequences per 32-token batch → 2 batches
    assert(batched.length === 1 && batched.head.getLong(4) === 2L)
    assert(math.abs(batched.head.getDouble(5) - (1.0 - 30.0 / 48.0)) < 1e-6)
  }
}
