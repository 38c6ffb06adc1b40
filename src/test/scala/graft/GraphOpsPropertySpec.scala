package graft

import org.apache.spark.sql.functions._
import graft.graph.Triangles
import graft.operators.Funnel

/** Randomized cross-checks (seeded, deterministic): Triangles and
  * Funnel against brute-force driver-side recomputations on generated
  * inputs — the operators hold on shapes the fixtures never produce
  * (isolated vertices, repeated edges, both directions present,
  * users with shuffled step orders, ties in timestamps).
  */
@SlowSuite
class GraphOpsPropertySpec extends GraftSpec {
  private lazy val sp = spark
  import sp.implicits._

  test("Triangles equals brute force on random multigraphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 12 + trial * 4
      val edges = Seq.fill(n * 4)((s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}"))
      val df = edges.toDF("src", "dst")
      // default threshold = the broadcast wedge-closure plan
      val got = Triangles.run(df).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      // threshold off = the shuffle-join plan, identical result
      val viaShuffle = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        Triangles.run(df).collect()
      }.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(viaShuffle === got, s"trial $trial broadcast ≡ shuffle")

      val und = edges.map { case (a, b) => if (a < b) (a, b) else (b, a) }
        .filter(p => p._1 != p._2).toSet
      val vs = und.flatMap(p => Seq(p._1, p._2))
      val adj = vs.map(v => v -> und.collect {
        case (a, b) if a == v => b
        case (a, b) if b == v => a
      }).toMap
      assert(got.keySet === vs, s"trial $trial vertex set")
      vs.foreach { v =>
        val ns = adj(v).toSeq
        val tri = ns.combinations(2).count(p => und.contains(
          if (p(0) < p(1)) (p(0), p(1)) else (p(1), p(0))))
        assert(got(v) === ((ns.size.toLong, tri.toLong)), s"trial $trial vertex $v")
      }
    }
  }

  test("adamicAdar equals brute force on random multigraphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 10 + trial * 3
      val edges = Seq.fill(n * 3)((s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}"))
      val df = edges.toDF("src", "dst")
      val got = Graft.adamicAdar(df, col("src"), col("dst")).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getBoolean(4))))
        .toMap
      val und = edges.map { case (a, b) => if (a < b) (a, b) else (b, a) }
        .filter(p => p._1 != p._2).toSet
      val vs = und.flatMap(p => Seq(p._1, p._2))
      val adj = vs.map(v => v -> und.collect {
        case (a, b) if a == v => b
        case (a, b) if b == v => a
      }.toSet).toMap
      val want = vs.toSeq.combinations(2).map(_.sorted).collect {
        case Seq(a, b) if (adj(a) & adj(b)).nonEmpty =>
          val cn = adj(a) & adj(b)
          val aa = cn.toSeq.map(w => BigDecimal(1.0 / math.log(adj(w).size))
            .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum
          (a, b) -> ((cn.size.toLong,
            aa.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            !und.contains((a, b))))
      }.toMap
      assert(got.keySet === want.keySet, s"trial $trial pair set")
      want.foreach { case (p, (c, s, isNew)) =>
        assert(got(p)._1 === c, s"trial $trial pair $p common")
        assert(math.abs(got(p)._2 - s) < 1e-6, s"trial $trial pair $p score")
        assert(got(p)._3 === isNew, s"trial $trial pair $p is_new")
      }
    }
  }

  test("labelPropagation equals a driver-side synchronous simulation") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val n = 14 + trial * 4
      val rounds = 4
      val edges = Seq.fill(n * 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val df = edges.toDF("src", "dst")
      val seedPairs = (0L until n.toLong).filter(_ % 5 == 0).map(v => (v, v % 3))
      val seeds = seedPairs.toDF("id", "lbl")
      val got = Graft.labelPropagation(df, col("src"), col("dst"),
          seeds, col("id"), col("lbl"), maxIters = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      val und = edges.map { case (a, b) => if (a < b) (a, b) else (b, a) }
        .filter(p => p._1 != p._2).toSet
      val vs = und.flatMap(p => Seq(p._1, p._2))
      val adj = vs.map(v => v -> und.collect {
        case (a, b) if a == v => b
        case (a, b) if b == v => a
      }.toSet).toMap
      val seedMap = seedPairs.toMap
      var lbl = vs.map(v => v -> seedMap.getOrElse(v, -1L)).toMap
      for (_ <- 1 to rounds) {
        lbl = lbl.map { case (v, cur) =>
          if (seedMap.contains(v)) v -> cur
          else {
            val hist = adj(v).toSeq.map(lbl).filter(_ >= 0)
              .groupBy(identity).map { case (l, xs) => (l, xs.size) }
            if (hist.isEmpty) v -> cur
            else v -> hist.toSeq.minBy { case (l, c) => (-c, l) }._1
          }
        }
      }
      assert(got === lbl, s"trial $trial")
    }
  }

  test("connectedComponents splits a handcrafted multi-component graph") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (5L, 6L), (7L, 7L), (6L, 5L))
      .toDF("src", "dst")
    val got = Graft.connectedComponents(edges, col("src"), col("dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 7's self-loop drops; isolated vertices aren't in an edge list
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("facade connectedComponents agrees with q25's near-dup clusters") {
    val q25 = graft.dedup.DedupQueries.q25DupClusters(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the facade sees only the pair graph (no isolated docs) — on the
    // docs it does see, labels must match q25's exactly
    val pairs = q25.toSeq.filter { case (id, c) => id != c }
      .flatMap { case (id, c) => Seq(id, c) }.toSet
    val cc = Graft.connectedComponents(
        graft.dedup.DedupQueries.q21MinHashLsh(spark, sfDir),
        col("da"), col("db"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Graft.drain(spark)
    assert(cc.nonEmpty && pairs.nonEmpty)
    cc.foreach { case (id, comp) =>
      assert(q25(id) === comp, s"doc $id: facade $comp vs q25 ${q25(id)}")
    }
    // every doc in a non-singleton q25 cluster appears in the facade run
    pairs.foreach(id => assert(cc.contains(id), s"doc $id missing from facade CC"))
  }

  test("Bfs equals brute-force multi-source distances on random digraphs") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val n = 10 + trial * 5
      val edges = Seq.fill(n * 2)((s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}"))
      val seeds = (0 until 2).map(i => s"v${rnd.nextInt(n)}").distinct
      val got = Graft.bfs(edges.toDF("src", "dst"), col("src"), col("dst"),
          seeds.toDF("id"), col("id"))
        .collect().map(r => r.getString(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      Graft.drain(spark)

      // brute force: level-synchronous BFS following edge direction
      val vs = edges.flatMap(p => Seq(p._1, p._2)).toSet
      val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
      var dist = seeds.filter(vs).map(_ -> 0L).toMap
      var level = 0L
      var cur = dist.keySet
      while (cur.nonEmpty) {
        level += 1
        val nxt = cur.flatMap(v => adj.getOrElse(v, Seq.empty))
          .filterNot(dist.contains)
        nxt.foreach(v => dist += v -> level)
        cur = nxt
      }
      assert(got.keySet === vs, s"trial $trial vertex set")
      vs.foreach { v =>
        assert(got(v) === dist.get(v), s"trial $trial vertex $v")
      }
    }
  }

  test("Hits equals a driver-side dense power iteration on a handcrafted graph") {
    // two hubs pointing at a shared authority, plus a side chain
    val edges = Seq("a" -> "x", "b" -> "x", "b" -> "y", "c" -> "a")
    val got = Graft.hits(spark, edges.toDF("src", "dst"), col("src"), col("dst"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    Graft.drain(spark)

    // same sum-normalized recurrence, dense, in the driver
    val vs = edges.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    var hub = vs.map(_ -> 1.0).toMap
    var auth = Map.empty[String, Double]
    for (_ <- 1 to 5) {
      val hn = { val s = hub.values.sum; hub.map { case (k, v) => k -> v / s } }
      auth = vs.map(v => v -> edges.filter(_._2 == v).map(e => hn(e._1)).sum).toMap
      val an = { val s = auth.values.sum; auth.map { case (k, v) => k -> v / s } }
      hub = vs.map(v => v -> edges.filter(_._1 == v).map(e => an(e._2)).sum).toMap
      auth = an
    }
    val hubN = { val s = hub.values.sum; hub.map { case (k, v) => k -> v / s } }
    vs.foreach { v =>
      assert(math.abs(got(v)._1 - auth(v)) < 1e-9, s"auth $v")
      assert(math.abs(got(v)._2 - hubN(v)) < 1e-9, s"hub $v")
    }
    // x gathers both strong hubs: it must be the top authority, and the
    // two-target hub b must out-rank the single-target hub a
    assert(auth("x") === auth.values.max)
    assert(got("b")._2 > got("a")._2)
  }

  test("Ppr equals a driver-side dense restart walk on random digraphs") {
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 3) {
      val n = 10 + trial * 4
      val edges = Seq.fill(n * 2)((s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}"))
        .filter(p => p._1 != p._2).distinct
      val vs = edges.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      val seeds = vs.take(2)
      val iters = 6
      val got = Graft.ppr(spark, edges.toDF("src", "dst"), col("src"), col("dst"),
          seeds.toDF("id"), col("id"), iters = iters)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      Graft.drain(spark)

      // dense driver-side recurrence, same update rule
      val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
      val r = vs.map(v => v -> (if (seeds.contains(v)) 1.0 / seeds.size else 0.0)).toMap
      var score = r
      for (_ <- 1 to iters) {
        val dang = vs.filterNot(outdeg.contains).map(score).sum
        score = vs.map { v =>
          val contrib = edges.filter(_._2 == v)
            .map(e => score(e._1) / outdeg(e._1)).sum
          v -> (0.15 * r(v) + 0.85 * (contrib + dang * r(v)))
        }.toMap
      }
      assert(got.keySet === vs.toSet, s"trial $trial vertex set")
      vs.foreach(v => assert(math.abs(got(v) - score(v)) < 1e-9, s"trial $trial $v"))
      // probability mass is conserved: dangling walkers restart by r
      assert(math.abs(got.values.sum - 1.0) < 1e-9, s"trial $trial mass")
      // restart bias: the seed set always keeps at least the (1−d)
      // restart share of the mass, whatever the topology
      assert(seeds.map(got).sum >= 0.15 - 1e-12, s"trial $trial bias")
    }
  }

  test("Funnel equals a brute-force walk on random event logs") {
    val rnd = new scala.util.Random(11)
    val steps = Seq("a", "b", "c")
    for (trial <- 1 to 3) {
      val events = Seq.fill(300)(
        (rnd.nextInt(25).toLong, steps(rnd.nextInt(3)), rnd.nextInt(40).toLong))
      val got = Funnel.stageCounts(events.toDF("u", "s", "t"),
          col("u"), col("s"), col("t"), steps)
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap

      val byUser = events.groupBy(_._1)
      val reached = Array.fill(steps.length)(0L)
      byUser.values.foreach { es =>
        var prev = Option(Long.MinValue)
        steps.indices.foreach { i =>
          prev = prev.flatMap(p =>
            es.filter(e => e._2 == steps(i) && e._3 > p).map(_._3).minOption)
          if (prev.isDefined) reached(i) += 1
        }
      }
      assert(got(0) === byUser.size.toLong, s"trial $trial stage 0")
      steps.indices.foreach(i =>
        assert(got(i + 1) === reached(i), s"trial $trial stage ${i + 1}"))
    }
  }

  test("q87 sssp is sandwiched by hop distance: dist <= cost <= 5*dist") {
    // identical topology and seeds as q69's BFS, so reachability must
    // match exactly, and with per-edge costs in [1,5] the least path
    // cost is bounded by the hop distance on both sides
    val sssp = graft.queries.GraphQueries.q87Sssp(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val bfs = graft.queries.GraphQueries.q69BfsReach(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(sssp.keySet === bfs.keySet, "same vertex set")
    assert(sssp.nonEmpty)
    sssp.foreach { case (id, (cost, reached)) =>
      val (dist, bfsReached) = bfs(id)
      assert(reached === bfsReached, s"$id reach parity")
      if (reached) {
        assert(cost >= dist, s"$id cost $cost < hops $dist")
        assert(cost <= 5 * dist || dist == 0, s"$id cost $cost > 5*$dist")
      } else assert(cost === -1L, s"$id sentinel")
    }
  }

  test("shortestPaths equals brute-force Dijkstra on random weighted digraphs") {
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      val n = 10 + trial * 5
      val edges = Seq.fill(n * 2)(
        (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}", 1L + rnd.nextInt(9)))
      val seeds = (0 until 2).map(_ => s"v${rnd.nextInt(n)}").distinct
      // round budget n: any shortest path has < n edges
      val got = Graft.shortestPaths(edges.toDF("src", "dst", "w"),
          col("src"), col("dst"), col("w"), seeds.toDF("id"), col("id"), maxIters = n)
        .collect().map(r => r.getString(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      Graft.drain(spark)

      // brute force: textbook Dijkstra from the seed set
      val vs = edges.flatMap(p => Seq(p._1, p._2)).toSet
      val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(e => (e._2, e._3)) }
      var dist = seeds.filter(vs).map(_ -> 0L).toMap
      var done = Set.empty[String]
      while ((dist.keySet -- done).nonEmpty) {
        val u = (dist.keySet -- done).minBy(dist)
        done += u
        adj.getOrElse(u, Seq.empty).foreach { case (v, w) =>
          if (dist(u) + w < dist.getOrElse(v, Long.MaxValue)) dist += v -> (dist(u) + w)
        }
      }
      assert(got.keySet === vs, s"trial $trial vertex set")
      vs.foreach { v =>
        assert(got(v) === dist.get(v), s"trial $trial vertex $v")
      }
    }
  }

  test("q89 k-core equals driver-side peeling and sits at a fixed point") {
    val rows = graft.queries.GraphQueries.q89Kcore(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    Graft.drain(spark)
    assert(rows.nonEmpty)
    // fixed point: every surviving vertex keeps >= k neighbors IN core
    rows.foreach { case (id, (inCore, coreDeg)) =>
      if (inCore) assert(coreDeg >= graft.queries.GraphQueries.KcoreK, s"$id deg $coreDeg")
      else assert(coreDeg === 0L, s"peeled $id nonzero core_deg")
    }
    // exact recompute: textbook peeling on the collected graph
    val pe = graft.graph.WebGraph.cachedEdges(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)))
    val und = (pe ++ pe.map(_.swap)).filter(p => p._1 != p._2).distinct
    var alive = und.map(_._1).toSet
    var changed = true
    while (changed) {
      val deg = und.filter(p => alive(p._1) && alive(p._2))
        .groupBy(_._1).view.mapValues(_.length).toMap
      val next = alive.filter(v => deg.getOrElse(v, 0) >= graft.queries.GraphQueries.KcoreK)
      changed = next != alive
      alive = next
    }
    assert(rows.keySet === und.map(_._1).toSet, "vertex domain")
    rows.foreach { case (id, (inCore, _)) =>
      assert(inCore === alive(id), s"$id core membership")
    }
  }
}
