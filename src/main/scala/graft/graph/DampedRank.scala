package graft.graph

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.storage.StorageLevel

/** The damped-rank kernel of the LinkRank family (LinkRank, TrustRank,
  * HostRank, Ppr, WeightedRank). One round is the synchronous update
  *   s'_v = t_v + d·(Σ_{u→v} w_uv·s_u + D·g_v)
  * with D = Σ s_u over the dangling vertices (no out-edge) of the
  * previous iterate, w_uv = w_e / div_u per edge (1/outdeg for the
  * uniform walk), and the teleport t_v and dangling share g_v affine in
  * the vertex's personal weight p_v ([[Restart]]).
  *
  * Pregelix's load / supersteps / dump as one RDD dataflow, with no
  * DataFrame join between the input frames and the first round or
  * between the last round and the output:
  *  - load: the id map ([[IdPart]]) numbers the string ids inside their
  *    hash partition, so a vid names its partition and no global count
  *    runs. Edges resolve to (svid, dvid) by two shuffles (keyed on dst,
  *    then on src); the second lands each edge on its source's id-map
  *    partition, where it joins that partition's CSR ([[EdgePart]]). A
  *    run's vertex side ([[VertexPart]]) reads the initial scores (and
  *    personal weights) in one shuffle of the same partitioner. One job
  *    builds all three and returns the initial [[Stats]];
  *  - a round is ONE Spark job: a local scan of each partition's edges
  *    against the co-located scores, summing contributions per
  *    destination into a dense array (the map-side combine); one
  *    shuffle of one (destination vids, sums) block per (edge
  *    partition, vertex partition) pair; one action that materializes
  *    the new scores (local checkpoint) and returns the next round's
  *    scalars as [[Stats]], Σ ln s among them;
  *  - dump: the output zips the id map's partitions with the last
  *    iterate ([[Result.frame]]).
  * A DataFrame round re-plans the same join + group-by every round and
  * AQE splits it into several stage-jobs; here the dataflow is fixed.
  */
private[graft] object DampedRank {

  /** Teleport t_v = tc + tp·p_v and dangling share g_v = gc + gp·p_v;
    * the first iterate is `s0` times the vertex rows' scores. */
  final case class Restart(tc: Double, tp: Double, gc: Double, gp: Double, s0: Double = 1.0)

  /** Sums over one iterate (all partitions): vertex count, dangling mass,
    * Σp, max and sum of |s' − s| against the previous iterate, Σs, and
    * Σ ln s over the scores where Spark's `log` is defined (s > 0). */
  final case class Stats(n: Long, dangling: Double, pSum: Double,
                         maxDelta: Double, l1Delta: Double, mass: Double, logSum: Double) {
    def +(o: Stats): Stats = Stats(n + o.n, dangling + o.dangling, pSum + o.pSum,
      math.max(maxDelta, o.maxDelta), l1Delta + o.l1Delta, mass + o.mass, logSum + o.logSum)
  }
  private val NoStats = Stats(0L, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)

  /** ln s where Spark's `log` gives a value (it is null at s ≤ 0, and a
    * SQL sum skips it); StrictMath is the function Spark's `log` calls. */
  private def addLog(acc: Double, s: Double): Double =
    if (s <= 0.0) acc else acc + StrictMath.log(s)

  /** One id-map partition: its distinct string ids, sorted, as UTF-8
    * bytes back to back (id i is `bytes(off(i) until off(i+1))`). Id i
    * has vid `(p << 32) | i`, so a vid names its partition. */
  final class IdPart(val p: Int, val bytes: Array[Byte], val off: Array[Int]) extends Serializable {
    def size: Int = off.length - 1
    def id(i: Int): String = new String(bytes, off(i), off(i + 1) - off(i), UTF_8)
    def vid(i: Int): Long = (p.toLong << 32) | i
    /** id → position, for resolving one block of rows. */
    def index: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](size * 2)
      for (i <- 0 until size) m.put(id(i), i)
      m
    }
  }

  private def partOf(vid: Long): Int = (vid >>> 32).toInt
  private def localOf(vid: Long): Int = vid.toInt

  /** One edge partition in CSR form. Source `src(i)` (sorted) owns edges
    * `off(i) until off(i+1)`; edge e points at `dstVid(dst(e))` with
    * weight `w(e) / div(i)`, `div(i)` = Σ w over all of the source's
    * out-links (`w == null`: every w is 1 and `div(i)` the out-degree).
    * A source with no edge (every out-link leaves the vertex map) still
    * counts as non-dangling. `dstVid` holds the distinct destinations,
    * sorted, so grouped by vertex partition q in `cut(q) until cut(q+1)`. */
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

  /** A shuffle block of string-keyed rows in columns: a key, and a
    * string, long and two double columns, each null when unused. */
  private final class Rows(val key: Array[String], val ref: Array[String], val num: Array[Long],
                           val x: Array[Double], val y: Array[Double]) extends Serializable {
    /** One block per target partition of the keys. */
    def split(part: Partitioner): Iterator[(Int, Rows)] = {
      val n = part.numPartitions
      val q = key.map(part.getPartition)
      val start = new Array[Int](n + 1)
      q.foreach(j => start(j + 1) += 1)
      for (j <- 1 to n) start(j) += start(j - 1)
      val order = new Array[Int](key.length)
      val fill = start.clone()
      for (k <- key.indices) { order(fill(q(k))) = k; fill(q(k)) += 1 }
      Iterator.range(0, n).filter(j => start(j) < start(j + 1))
        .map(j => (j, take(order.slice(start(j), start(j + 1)))))
    }
    private def take(rows: Array[Int]): Rows = new Rows(rows.map(key),
      if (ref == null) null else rows.map(ref), if (num == null) null else rows.map(num),
      if (x == null) null else rows.map(x), if (y == null) null else rows.map(y))
  }

  /** `df(key, [ref: string,] [x: double, [y: double]])` as one [[Rows]]
    * block per partition. */
  private def read(df: DataFrame): RDD[Rows] = {
    val types = df.schema.fields.map(_.dataType)
    val hasRef = types.length > 1 && types(1) == StringType
    val d0 = if (hasRef) 2 else 1
    val nd = types.length - d0
    df.rdd.mapPartitions { it =>
      val key, ref = ArrayBuilder.make[String]
      val x, y = ArrayBuilder.make[Double]
      it.foreach { r =>
        key += r.getString(0)
        if (hasRef) ref += r.getString(1)
        if (nd > 0) x += r.getDouble(d0)
        if (nd > 1) y += r.getDouble(d0 + 1)
      }
      Iterator(new Rows(key.result(), if (hasRef) ref.result() else null, null,
        if (nd > 0) x.result() else null, if (nd > 1) y.result() else null))
    }
  }

  /** `rows` shuffled to the hash partitions (n) of their keys. */
  private def route(rows: RDD[Rows], n: Int): RDD[Rows] = {
    val part = new HashPartitioner(n)
    new ShuffledRDD[Int, Rows, Rows](rows.mapPartitions(_.flatMap(_.split(part))), part).values
  }

  /** `df` with its first column as a string. */
  private def keyed(df: DataFrame): DataFrame = {
    val c = df.columns
    df.select(col(c.head).cast(StringType) +: c.tail.toSeq.map(col): _*)
  }

  /** `build` persisted under the session memo `key`, or for the query
    * (released at the next drain). The first job that reads it fills it. */
  private def held[T](spark: SparkSession, key: Option[String])(build: => RDD[T]): RDD[T] =
    key match {
      case Some(k) => graft.SessionCache.cachedRdd(spark, k)(build)
      case None =>
        val rdd = build.persist(StorageLevel.MEMORY_AND_DISK)
        graft.Checkpoints.deferCleanup(spark) { () =>
          if (rdd.getStorageLevel.isValid) rdd.unpersist(blocking = false)
        }
        rdd
    }

  /** The id map of a vertex set, over `spark.sql.shuffle.partitions`
    * hash partitions of the string id, memoized under `key` (see
    * [[held]]). `routed(n)` gives the ids, routed to n partitions. */
  private def idMapOf(spark: SparkSession, key: Option[String])
                     (routed: Int => RDD[Rows]): RDD[IdPart] =
    held(spark, key) {
      routed(spark.sessionState.conf.numShufflePartitions)
        .mapPartitionsWithIndex((p, in) => Iterator(idPart(p, in)))
    }

  private def idPart(p: Int, in: Iterator[Rows]): IdPart = {
    val seen = new java.util.HashSet[String]()
    in.foreach(_.key.foreach(k => if (k != null) seen.add(k)))
    val ids = seen.toArray(new Array[String](0)).sorted // a recompute numbers alike
    val enc = ids.map(_.getBytes(UTF_8))
    val off = enc.scanLeft(0)(_ + _.length)
    val bytes = new Array[Byte](off.last)
    for (i <- enc.indices) System.arraycopy(enc(i), 0, bytes, off(i), enc(i).length)
    new IdPart(p, bytes, off)
  }

  /** The id map of `ids(id)` (any id type; compared as strings). */
  def idMap(spark: SparkSession, key: Option[String], ids: DataFrame): RDD[IdPart] =
    idMapOf(spark, key)(route(read(keyed(ids)), _))

  /** `ids` as an `(id, vid)` frame, `id` cast back to `idType`. A view:
    * it reads the id map's blocks. */
  def idFrame(spark: SparkSession, ids: RDD[IdPart], idType: DataType): DataFrame = {
    import spark.implicits._
    cast(ids.flatMap(m => Iterator.tabulate(m.size)(i => (m.id(i), m.vid(i)))).toDF("id", "vid"),
      idType)
  }

  private def cast(df: DataFrame, idType: DataType): DataFrame =
    if (idType == StringType) df
    else df.select(col("id").cast(idType).as("id") +: df.columns.tail.toSeq.map(col): _*)

  /** The CSR edge side of `edges(src, dst[, w])` over the id map,
    * co-partitioned with it, memoized under `key` (see [[held]]). An
    * edge whose src is not mapped drops; one whose dst is not mapped
    * counts towards its source's Σw but carries no contribution. */
  private def edgesOf(spark: SparkSession, key: Option[String], ids: RDD[IdPart],
                      edges: DataFrame): RDD[EdgePart] = held(spark, key) {
    val n = ids.getNumPartitions
    val c = edges.columns
    val weighted = c.length > 2
    val byDst = route(read(edges.select(Seq(col(c(1)).cast(StringType), col(c(0)).cast(StringType)) ++
      (if (weighted) Seq(col(c(2)).cast("double")) else Nil): _*)), n)
    val bySrc = ids.zipPartitions(byDst) { (ms, in) =>
      val m = ms.next()
      val idx = m.index
      in.map { r =>
        val dvid = r.key.map { d =>
          val i = idx.get(d)
          if (i == null) -1L else m.vid(i)
        }
        new Rows(r.ref, null, dvid, r.x, null)
      }
    }
    ids.zipPartitions(route(bySrc, n))((ms, in) => Iterator(csr(ms.next(), in, weighted, n)))
  }

  private def csr(m: IdPart, in: Iterator[Rows], weighted: Boolean, n: Int): EdgePart = {
    val idx = m.index
    val srcB = ArrayBuilder.make[Int]
    val dvB = ArrayBuilder.make[Long]
    val wB = ArrayBuilder.make[Double]
    in.foreach { r =>
      for (k <- r.key.indices) {
        val i = idx.get(r.key(k))
        if (i != null) {
          srcB += i
          dvB += r.num(k)
          if (weighted) wB += r.x(k)
        }
      }
    }
    val (srcs, dvs, ws) = (srcB.result(), dvB.result(), wB.result())
    // counting sort on the source's position; a source's edges keep their order
    val k = m.size
    val out = new Array[Boolean](k)
    val sw = new Array[Double](k)
    val start = new Array[Int](k + 1)
    for (e <- srcs.indices) {
      val i = srcs(e)
      out(i) = true
      sw(i) += (if (weighted) ws(e) else 1.0)
      if (dvs(e) >= 0) start(i + 1) += 1
    }
    for (i <- 1 to k) start(i) += start(i - 1)
    val fill = start.clone()
    val dv = new Array[Long](start(k))
    val w = if (weighted) new Array[Double](start(k)) else null
    for (e <- srcs.indices if dvs(e) >= 0) {
      val i = srcs(e)
      dv(fill(i)) = dvs(e)
      if (weighted) w(fill(i)) = ws(e)
      fill(i) += 1
    }
    val sources = (0 until k).filter(out).toArray
    val dstVid = dv.distinct
    java.util.Arrays.sort(dstVid)
    val cut = new Array[Int](n + 1)
    dstVid.foreach(v => cut(partOf(v) + 1) += 1)
    for (q <- 1 until cut.length) cut(q) += cut(q - 1)
    new EdgePart(sources.map(m.vid), sources.map(sw), sources.map(start) :+ start(k),
      dv.map(v => java.util.Arrays.binarySearch(dstVid, v)), w, dstVid, cut)
  }

  /** A run's vertex side from `rows(id, score[, p])` over the id map
    * and CSR, local-checkpointed by one job, which also returns the
    * initial iterate's [[Stats]]. With `cover`, every mapped vertex is
    * in the run (score and p 0 unless a row sets them); otherwise the
    * run's vertices are the rows' mapped ids (one row per id is read). */
  private def vertexSide(ids: RDD[IdPart], edges: RDD[EdgePart], rows: RDD[Rows],
                         personal: Boolean, cover: Boolean): (RDD[VertexPart], Stats) = {
    val verts = ids.zipPartitions(edges, rows)((ms, es, in) =>
      Iterator(vertexPart(ms.next(), es.next(), in, personal, cover))).localCheckpoint()
    val first = verts.map { v =>
      var i = 0
      var dang, pSum, mass, logs = 0.0
      while (i < v.vid.length) {
        if (v.dangling(i)) dang += v.init(i)
        if (v.p != null) pSum += v.p(i)
        mass += v.init(i)
        logs = addLog(logs, v.init(i))
        i += 1
      }
      Stats(v.vid.length.toLong, dang, pSum, 0.0, 0.0, mass, logs)
    }.collect().foldLeft(NoStats)(_ + _)
    (verts, first)
  }

  private def vertexPart(m: IdPart, e: EdgePart, in: Iterator[Rows],
                         personal: Boolean, cover: Boolean): VertexPart = {
    val idx = m.index
    val score = new Array[Double](m.size)
    val pw = new Array[Double](m.size)
    val seen = new Array[Boolean](m.size)
    in.foreach { r =>
      for (k <- r.key.indices) {
        val i = idx.get(r.key(k))
        if (i != null && !seen(i)) {
          seen(i) = true
          score(i) = r.x(k)
          if (personal) pw(i) = r.y(k)
        }
      }
    }
    val pos = if (cover) Array.range(0, m.size) else (0 until m.size).filter(seen).toArray
    val vid = pos.map(m.vid)
    val dangling = new Array[Boolean](vid.length)
    val at = new Array[Int](e.src.length)
    var i = 0
    for (j <- e.src.indices) { // merge: vids that are no edge source are dangling
      while (i < vid.length && vid(i) < e.src(j)) { dangling(i) = true; i += 1 }
      if (i < vid.length && vid(i) == e.src(j)) { at(j) = i; i += 1 } else at(j) = -1
    }
    while (i < vid.length) { dangling(i) = true; i += 1 }
    new VertexPart(vid, pos.map(score), dangling, if (personal) pos.map(pw) else null, at)
  }

  /** A finished run: the id map, the vertex side, the last iterate, the
    * initial and last iterates' [[Stats]] and the rounds run. */
  final class Result(spark: SparkSession, ids: RDD[IdPart], verts: RDD[VertexPart],
                     scores: RDD[Scores], idType: DataType,
                     val first: Stats, val last: Stats, val rounds: Int) {
    /** The last iterate as an `(id, score)` frame: the id map's
      * partitions zipped with the scores, no join. It reads the run's
      * blocks, so [[free]] only after its last action. */
    lazy val frame: DataFrame = {
      import spark.implicits._
      cast(ids.zipPartitions(verts, scores) { (ms, vs, ss) =>
        val m = ms.next()
        val v = vs.next()
        val s = ss.next()
        Iterator.tabulate(v.vid.length)(i => (m.id(localOf(v.vid(i))), s.s(i)))
      }.toDF("id", "score"), idType)
    }

    /** Σ (ln s − mu)² over the last iterate where ln s is defined, in
      * one job. */
    def logDeviation(mu: Double): Double = scores.map { p =>
      var acc = 0.0
      var i = 0
      while (i < p.s.length) {
        if (!(p.s(i) <= 0.0)) {
          val d = StrictMath.log(p.s(i)) - mu
          acc += d * d
        }
        i += 1
      }
      acc
    }.collect().foldLeft(0.0)(_ + _)

    def free(): Unit = {
      scores.unpersist(blocking = false)
      verts.unpersist(blocking = false)
    }
  }

  /** Load and run: the id map (memo `idKey`; built from `ids`, or from
    * the rows' ids when `ids` is None), the CSR of `edges(src, dst[, w])`
    * (memo `edgeKey`), and the vertex side from `rows(id, score[, p])`,
    * in one job; then the run's [[Restart]] from its initial [[Stats]],
    * then [[iterate]]. A run-local CSR is released after the loop, a
    * run-local id map at the next drain. */
  def run(spark: SparkSession, edges: DataFrame, rows: DataFrame, damping: Double,
          maxRounds: Int, ids: Option[DataFrame] = None, cover: Boolean = false,
          idKey: Option[String] = None, edgeKey: Option[String] = None)
         (restart: Stats => Restart)
         (stop: (Stats, Stats) => Boolean = (_, _) => false): Result = {
    // one shuffle of the rows serves a fresh id map and the vertex side
    val vrows = read(keyed(rows))
    val routed = scala.collection.mutable.Map.empty[Int, RDD[Rows]]
    def routedTo(n: Int): RDD[Rows] = routed.getOrElseUpdate(n, route(vrows, n))
    val idParts = ids match {
      case Some(f) => idMap(spark, idKey, f)
      case None => idMapOf(spark, idKey)(routedTo)
    }
    val csr = edgesOf(spark, edgeKey, idParts, edges)
    val (verts, first) = vertexSide(idParts, csr, routedTo(idParts.getNumPartitions),
      personal = rows.columns.length > 2, cover)
    val r = restart(first)
    val (scores, last, rounds) = iterate(csr, verts, first, damping, r, maxRounds)(stop)
    if (edgeKey.isEmpty) csr.unpersist(blocking = false)
    new Result(spark, idParts, verts, scores, ids.getOrElse(rows).schema.head.dataType,
      first, last, rounds)
  }

  /** Up to `maxRounds` updates from the vertex side's initial scores.
    * After each round `stop(previous, current)` sees the two iterates'
    * [[Stats]]; true ends the loop. One iterate is live at a time: each
    * round's scores are local-checkpointed by its action and the
    * previous round's are released.
    * @return (last iterate, its Stats, rounds run); the caller frees
    *         the iterate. */
  private def iterate(edges: RDD[EdgePart], verts: RDD[VertexPart], first: Stats,
                      damping: Double, restart: Restart, maxRounds: Int)
                     (stop: (Stats, Stats) => Boolean): (RDD[Scores], Stats, Int) = {
    val part = new HashPartitioner(edges.getNumPartitions)
    val s0 = restart.s0
    var cur: RDD[Scores] = verts.map(v => new Scores(
      if (s0 == 1.0) v.init else v.init.map(_ * s0), NoStats))
    var prev = if (s0 == 1.0) first else first.copy(dangling = first.dangling * s0,
      mass = first.mass * s0)
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
    (cur, prev, rounds)
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
    var dang, pSum, maxDelta, l1, mass, logs = 0.0
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
      logs = addLog(logs, x)
      i += 1
    }
    new Scores(s, Stats(n.toLong, dang, pSum, maxDelta, l1, mass, logs))
  }
}
