package graft.graph

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The damped-rank kernel of the LinkRank family (LinkRank, TrustRank,
  * HostRank, Ppr, WeightedRank). One round is the synchronous update
  *   s'_v = t_v + d·(Σ_{u→v} w_uv·s_u + D·g_v)
  * with D = Σ s_u over the dangling vertices (no out-edge) of the
  * previous iterate, w_uv = w_e / div_u per edge (1/outdeg for the
  * uniform walk), and the teleport t_v and dangling share g_v affine in
  * the vertex's personal weight p_v ([[Restart]]).
  *
  * Pregelix's "plan the superstep once", on RDDs: the edge side is built
  * once per graph as CSR partitions of primitive arrays ([[EdgePart]]),
  * hash-partitioned on the source vid, and a run's vertex side
  * ([[VertexPart]]) uses the same partitioner. A round is ONE Spark job:
  *  1. a local scan of each partition's edges against the co-located
  *     scores, summing contributions per destination into a dense array
  *     (the map-side combine);
  *  2. one shuffle of one (destination vids, sums) block per (edge
  *     partition, vertex partition) pair;
  *  3. one action that materializes the new scores (local checkpoint)
  *     and returns the next round's scalars as [[Stats]].
  * A DataFrame round re-plans the same join + group-by every round and
  * AQE splits it into several stage-jobs; here the loop body is fixed.
  */
private[graft] object DampedRank {

  /** Teleport t_v = tc + tp·p_v and dangling share g_v = gc + gp·p_v. */
  final case class Restart(tc: Double, tp: Double, gc: Double, gp: Double)

  /** Sums over one iterate (all partitions): vertex count, dangling mass,
    * Σp, max and sum of |s' − s| against the previous iterate, Σs. */
  final case class Stats(n: Long, dangling: Double, pSum: Double,
                         maxDelta: Double, l1Delta: Double, mass: Double) {
    def +(o: Stats): Stats = Stats(n + o.n, dangling + o.dangling, pSum + o.pSum,
      math.max(maxDelta, o.maxDelta), l1Delta + o.l1Delta, mass + o.mass)
  }
  private val NoStats = Stats(0L, 0.0, 0.0, 0.0, 0.0, 0.0)

  /** One edge partition in CSR form. Source `src(i)` (sorted) owns edges
    * `off(i) until off(i+1)`; edge e points at `dstVid(dst(e))` with
    * weight `w(e) / div(i)`, `div(i)` = Σ w over all of the source's
    * out-links (`w == null`: every w is 1 and `div(i)` the out-degree).
    * A source with no edge (every out-link leaves the vertex map) still
    * counts as non-dangling. `dstVid` holds the distinct destinations
    * grouped by vertex partition q, in `cut(q) until cut(q+1)`. */
  final class EdgePart(val src: Array[Long], val div: Array[Double], val off: Array[Int],
                       val dst: Array[Int], val w: Array[Double],
                       val dstVid: Array[Long], val cut: Array[Int]) extends Serializable

  /** One partition of a run's vertex side, `vid` sorted: initial scores,
    * dangling flags, personal weights (`p == null`: all 0), and `at(i)`,
    * the position of the co-located EdgePart's source i in `vid` (−1 when
    * that source is not a vertex of this run). */
  final class VertexPart(val vid: Array[Long], val init: Array[Double],
                         val dangling: Array[Boolean], val p: Array[Double],
                         val at: Array[Int]) extends Serializable

  /** One partition of an iterate and its share of the round's [[Stats]]. */
  final class Scores(val s: Array[Double], val stats: Stats) extends Serializable

  private type Block = (Array[Long], Array[Double])

  /** The edge side from `rows(svid, dvid[, w])`, one row per out-link of
    * every mapped source, over `spark.sql.shuffle.partitions` hash
    * partitions of the source vid. A null `dvid` is an out-link that
    * leaves the vertex map: it counts towards the source's Σw but carries
    * no contribution. Built once: memoized under `key` in the session
    * cache, or persisted for one run (the caller unpersists it). */
  def edgesFor(spark: SparkSession, key: Option[String])(rows: => DataFrame): RDD[EdgePart] = {
    def build: RDD[EdgePart] = {
      val df = rows
      val weighted = df.columns.length > 2
      val part = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)
      df.rdd
        .map(r => (r.getLong(0), (if (r.isNullAt(1)) -1L else r.getLong(1),
          if (weighted) r.getDouble(2) else 1.0)))
        .partitionBy(part)
        .mapPartitions(it => Iterator(csr(it.toArray, weighted, part)))
    }
    key match {
      case Some(k) => graft.SessionCache.cachedRdd(spark, k)(build)
      case None => build.persist(StorageLevel.MEMORY_AND_DISK)
    }
  }

  private def csr(rows: Array[(Long, (Long, Double))], weighted: Boolean,
                  part: HashPartitioner): EdgePart = {
    val sorted = rows.sortBy(_._1) // stable: a source's edges keep their order
    val src, dv = Array.newBuilder[Long]
    val div, w = Array.newBuilder[Double]
    val off = Array.newBuilder[Int]
    var m = 0
    var k = 0
    while (k < sorted.length) {
      val u = sorted(k)._1
      src += u; off += m
      var sw = 0.0
      while (k < sorted.length && sorted(k)._1 == u) {
        val (d, x) = sorted(k)._2
        sw += x
        if (d >= 0) { dv += d; w += x; m += 1 }
        k += 1
      }
      div += sw
    }
    off += m
    val dsts = dv.result()
    val dstVid = dsts.distinct.sortBy(v => (part.getPartition(v), v))
    val index = dstVid.zipWithIndex.toMap
    val cut = new Array[Int](part.numPartitions + 1)
    dstVid.foreach(v => cut(part.getPartition(v) + 1) += 1)
    for (q <- 1 until cut.length) cut(q) += cut(q - 1)
    new EdgePart(src.result(), div.result(), off.result(), dsts.map(index),
      if (weighted) w.result() else null, dstVid, cut)
  }

  /** A run's vertex side from `state(vid, score[, p])`, partitioned like
    * `edges` and local-checkpointed by one job, which also returns the
    * initial iterate's [[Stats]] (N, D, Σp). */
  private def vertexSide(edges: RDD[EdgePart], state: DataFrame): (RDD[VertexPart], Stats) = {
    val personal = state.columns.length > 2
    val verts = state.rdd
      .map(r => (r.getLong(0), (r.getDouble(1), if (personal) r.getDouble(2) else 0.0)))
      .partitionBy(new HashPartitioner(edges.getNumPartitions))
      .zipPartitions(edges)((vs, es) => Iterator(vertexPart(vs.toArray, es.next(), personal)))
      .localCheckpoint()
    val first = verts.map { v =>
      var i = 0
      var dang, pSum, mass = 0.0
      while (i < v.vid.length) {
        if (v.dangling(i)) dang += v.init(i)
        if (v.p != null) pSum += v.p(i)
        mass += v.init(i)
        i += 1
      }
      Stats(v.vid.length.toLong, dang, pSum, 0.0, 0.0, mass)
    }.collect().foldLeft(NoStats)(_ + _)
    (verts, first)
  }

  private def vertexPart(rows: Array[(Long, (Double, Double))], e: EdgePart,
                         personal: Boolean): VertexPart = {
    val sorted = rows.sortBy(_._1)
    val vid = sorted.map(_._1)
    val dangling = new Array[Boolean](vid.length)
    val at = new Array[Int](e.src.length)
    var i = 0
    for (j <- e.src.indices) { // merge: vids that are no edge source are dangling
      while (i < vid.length && vid(i) < e.src(j)) { dangling(i) = true; i += 1 }
      if (i < vid.length && vid(i) == e.src(j)) { at(j) = i; i += 1 } else at(j) = -1
    }
    while (i < vid.length) { dangling(i) = true; i += 1 }
    new VertexPart(vid, sorted.map(_._2._1), dangling,
      if (personal) sorted.map(_._2._2) else null, at)
  }

  /** A finished run: the vertex side, the last iterate, the initial
    * iterate's [[Stats]] and the rounds run. */
  final class Result(spark: SparkSession, verts: RDD[VertexPart], scores: RDD[Scores],
                     val first: Stats, val rounds: Int) {
    /** The iterate as a `(vid, score)` frame; it reads the run's blocks,
      * so [[free]] only after its last action. */
    lazy val frame: DataFrame = {
      import spark.implicits._
      verts.zipPartitions(scores) { (vs, ss) =>
        val v = vs.next()
        val s = ss.next()
        Iterator.tabulate(v.vid.length)(i => (v.vid(i), s.s(i)))
      }.toDF("vid", "score")
    }
    def free(): Unit = {
      scores.unpersist(blocking = false)
      verts.unpersist(blocking = false)
    }
  }

  /** The vertex side from `state`, the run's [[Restart]] from its initial
    * [[Stats]], then [[iterate]]. `edges` stays the caller's. */
  def run(edges: RDD[EdgePart], state: DataFrame, damping: Double, maxRounds: Int)
         (restart: Stats => Restart)
         (stop: (Stats, Stats) => Boolean = (_, _) => false): Result = {
    val (verts, first) = vertexSide(edges, state)
    val (scores, rounds) = iterate(edges, verts, first, damping, restart(first), maxRounds)(stop)
    new Result(state.sparkSession, verts, scores, first, rounds)
  }

  /** Up to `maxRounds` updates from the vertex side's initial scores.
    * After each round `stop(previous, current)` sees the two iterates'
    * [[Stats]]; true ends the loop. One iterate is live at a time: each
    * round's scores are local-checkpointed by its action and the
    * previous round's are released.
    * @return (last iterate, rounds run); the caller frees the iterate. */
  private def iterate(edges: RDD[EdgePart], verts: RDD[VertexPart], first: Stats,
              damping: Double, restart: Restart, maxRounds: Int)
             (stop: (Stats, Stats) => Boolean): (RDD[Scores], Int) = {
    val part = new HashPartitioner(edges.getNumPartitions)
    var cur: RDD[Scores] = verts.map(v => new Scores(v.init, NoStats))
    var prev = first
    var rounds = 0
    var done = false
    while (rounds < maxRounds && !done) {
      val inflow = prev.dangling
      val blocks = edges.zipPartitions(verts, cur)((es, vs, ss) =>
        contributions(es.next(), vs.next(), ss.next()))
      val sums = new ShuffledRDD[Int, Block, Block](blocks, part)
      val next = verts.zipPartitions(cur, sums)((vs, ss, in) =>
        Iterator(update(vs.next(), ss.next(), in, damping, restart, inflow)))
        .localCheckpoint()
      val st = next.map(_.stats).collect().foldLeft(NoStats)(_ + _)
      cur.unpersist(blocking = false)
      cur = next
      rounds += 1
      done = stop(prev, st)
      prev = st
    }
    (cur, rounds)
  }

  /** Map side: Σ w_uv·s_u per destination over this partition's edges,
    * one block per destination vertex partition. */
  private def contributions(e: EdgePart, v: VertexPart, cur: Scores): Iterator[(Int, Block)] = {
    val acc = new Array[Double](e.dstVid.length)
    var i = 0
    while (i < e.src.length) {
      val at = v.at(i)
      if (at >= 0) {
        val c = cur.s(at) / e.div(i)
        var k = e.off(i)
        val end = e.off(i + 1)
        if (e.w == null) while (k < end) { acc(e.dst(k)) += c; k += 1 }
        else while (k < end) { acc(e.dst(k)) += c * e.w(k); k += 1 }
      }
      i += 1
    }
    Iterator.range(0, e.cut.length - 1).filter(q => e.cut(q) < e.cut(q + 1)).map { q =>
      (q, (e.dstVid.slice(e.cut(q), e.cut(q + 1)), acc.slice(e.cut(q), e.cut(q + 1))))
    }
  }

  /** Reduce side: the damped update of one vertex partition and its
    * share of the round's [[Stats]]. */
  private def update(v: VertexPart, cur: Scores, in: Iterator[(Int, Block)],
                     damping: Double, r: Restart, inflow: Double): Scores = {
    val n = v.vid.length
    val acc = new Array[Double](n)
    in.foreach { case (_, (ids, sums)) =>
      var k = 0
      while (k < ids.length) {
        val i = java.util.Arrays.binarySearch(v.vid, ids(k))
        if (i >= 0) acc(i) += sums(k) // a destination outside the run's vertex set drops
        k += 1
      }
    }
    val s = new Array[Double](n)
    var dang, pSum, maxDelta, l1, mass = 0.0
    var i = 0
    while (i < n) {
      val p = if (v.p == null) 0.0 else v.p(i)
      val x = r.tc + r.tp * p + damping * (acc(i) + inflow * (r.gc + r.gp * p))
      val delta = math.abs(x - cur.s(i))
      s(i) = x
      if (v.dangling(i)) dang += x
      pSum += p
      maxDelta = math.max(maxDelta, delta)
      l1 += delta
      mass += x
      i += 1
    }
    new Scores(s, Stats(n.toLong, dang, pSum, maxDelta, l1, mass))
  }
}
