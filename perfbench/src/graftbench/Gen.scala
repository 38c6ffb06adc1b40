package graftbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every row is a pure function of
  * (seed, stream, row index), so one seed yields the same inputs at any
  * partitioning and a different seed yields different ones. */
object Gen {

  /** SplitMix64 finalizer: decorrelates adjacent row indexes. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9E3779B97F4A7C15L + stream) + i))

  /** Order-independent content hash of a frame: row count plus the sum of
    * each row's low 32 hash bits (a sum, not a xor, so planted duplicate
    * rows do not cancel out). */
  def fingerprint(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)))
      .first()
    f"${r.getLong(0)}%d:${r.getLong(1)}%016x"
  }

  // ------------------------------------------------------------ crawl

  /** A power-law crawl: Zipf-sized hosts, Pareto out-degrees, a dangling
    * share, mostly intra-host links that favour each host's first pages,
    * and inter-host links that favour a scattered set of popular pages.
    * Raw links carry the noise `dedupLinks` must remove: leading spaces,
    * `#fragments`, self-links and repeated links. */
  final case class Crawl(pages: Int, hosts: Int) {
    val Dangling = 0.12
    val OutMin = 4.0 // Pareto(alpha = 2) scale: mean out-degree 8
    val MaxOut = 300
    val IntraHost = 0.8
    val SelfLink = 0.02
    val Repeat = 0.05
    val Fragment = 0.15
    val DstSpace = 0.10
    val SrcSpace = 0.02

    /** First page of each host (length hosts + 1), host sizes ∝ 1/(h+1)^0.8. */
    val starts: Array[Int] = {
      val w = Array.tabulate(hosts)(h => math.pow(h + 1.0, -0.8))
      val tot = w.sum
      var acc = 0.0
      val s = new Array[Int](hosts + 1)
      for (h <- 0 until hosts) { s(h) = math.min(pages - 1, math.max(h, (pages * acc / tot).toInt)); acc += w(h) }
      s(hosts) = pages
      require(s.indices.tail.forall(h => s(h) > s(h - 1)), "every host needs a page")
      s
    }

    def hostOf(p: Int): Int =
      if (p >= pages) p % hosts
      else {
        val i = java.util.Arrays.binarySearch(starts, p)
        if (i >= 0) i else -i - 2
      }

    def url(p: Int): String = s"http://h${hostOf(p)}.example.com/p$p"

    /** Popular pages spread over all hosts: the rank u^3 draw is scattered
      * by a fixed bijection of [0, pages). */
    private def popular(u: Double): Int = {
      val k = math.min(pages - 1, (pages * u * u * u).toInt).toLong
      ((k * 1000003L + 12345L) % pages).toInt
    }

    /** One link from `p`; with probability Repeat it is emitted twice. */
    private def link(r: SplittableRandom, p: Int, dstOf: SplittableRandom => Int): Seq[(String, String)] = {
      val d = if (r.nextDouble() < SelfLink) p else dstOf(r)
      val src = (if (r.nextDouble() < SrcSpace) " " else "") + url(p)
      val dst = (if (r.nextDouble() < DstSpace) " " else "") + url(d) +
        (if (r.nextDouble() < Fragment) s"#s${r.nextInt(8)}" else "")
      if (r.nextDouble() < Repeat) Seq((src, dst), (src, dst)) else Seq((src, dst))
    }

    private def crawlDst(p: Int)(r: SplittableRandom): Int =
      if (r.nextDouble() < IntraHost) {
        val h = hostOf(p)
        val u = r.nextDouble()
        starts(h) + ((starts(h + 1) - starts(h)) * u * u).toInt
      } else popular(r.nextDouble())

    def pageLinks(seed: Long, p: Int): Seq[(String, String)] = {
      val r = rng(seed, 1, p)
      if (r.nextDouble() < Dangling) Seq.empty
      else {
        val out = math.min(MaxOut, (OutMin / math.sqrt(1.0 - r.nextDouble())).toInt)
        (0 until out).flatMap(_ => link(r, p, crawlDst(p)))
      }
    }

    /** Raw (src, dst) links of the whole crawl. */
    def links(spark: SparkSession, seed: Long, parts: Int): DataFrame = {
      import spark.implicits._
      val self = this
      spark.sparkContext.range(0L, pages.toLong, 1L, parts)
        .flatMap(p => self.pageLinks(seed, p.toInt)).toDF("src", "dst")
    }

    /** Delta number `k` of `n` raw links landing on the crawl: existing
      * sources, targets drawn like the crawl's, one in ten on a page the
      * crawl has not seen (ids past `pages`). */
    def delta(spark: SparkSession, seed: Long, k: Int, n: Long, parts: Int): DataFrame = {
      import spark.implicits._
      val self = this
      val newPages = math.max(1, pages / 100)
      spark.sparkContext.range(0L, n, 1L, parts).flatMap { i =>
        val r = rng(seed, 100L + k, i)
        val p = r.nextInt(self.pages)
        self.link(r, p, rr =>
          if (rr.nextDouble() < 0.1) self.pages + rr.nextInt(newPages) else self.crawlDst(p)(rr))
      }.toDF("src", "dst")
    }
  }

  // ----------------------------------------------------------- corpus

  /** A Zipf-token corpus with planted structure, laid out by doc id:
    *  - `[0, plain)`: independent docs; doc 2c is the base of near-dup
    *    cluster c, doc 2C+2e+1 the original of exact copy e;
    *  - then 2 variants per cluster (NearDupSubs tokens replaced);
    *  - then exact copies;
    *  - then contaminated docs: held-out doc t with ContamSubs tokens
    *    replaced.
    * Held-out ("benchmark") docs carry ids from HeldOutBase on.
    * Vectors: `vecs` 64-d Gaussians; the last `queries` are near-copies
    * (noise 0.05 per dim) of vectors 0, stride, 2·stride, … */
  final case class Corpus(docs: Int, tokens: Int, vocab: Int, clusters: Int,
                          copies: Int, heldOut: Int, contaminated: Int,
                          vecs: Int, queries: Int) {
    val Dims = 64
    val NearDupSubs = 2
    val ContamSubs = 10
    val HeldOutBase = 1000000000L
    val plain: Int = docs - 2 * clusters - copies - contaminated
    require(plain > 2 * clusters + 2 * copies && contaminated <= heldOut && queries * 2 <= vecs)

    def base(c: Int): Long = 2L * c
    def variant(c: Int, j: Int): Long = plain + 2L * c + j
    def original(e: Int): Long = 2L * clusters + 2L * e + 1
    def copy(e: Int): Long = plain + 2L * clusters + e
    def contam(t: Int): Long = plain + 2L * clusters + copies + t
    val stride: Int = (vecs - queries) / queries
    def query(q: Int): Long = q.toLong * stride
    def partner(q: Int): Long = (vecs - queries + q).toLong

    /** Near-dup pairs (da < db) planted by construction. */
    def plantedPairs: Seq[(Long, Long)] = (0 until clusters).flatMap { c =>
      Seq((base(c), variant(c, 0)), (base(c), variant(c, 1)), (variant(c, 0), variant(c, 1)))
    }

    private def cdf: Array[Double] = {
      val w = Array.tabulate(vocab)(i => 1.0 / (i + 1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }

    private def draw(r: SplittableRandom, cdf: Array[Double]): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(vocab - 1, if (i >= 0) i else -i - 1)
    }

    private def fresh(seed: Long, stream: Long, id: Long, cdf: Array[Double]): Array[Int] = {
      val r = rng(seed, stream, id)
      Array.fill(tokens)(draw(r, cdf))
    }

    private def edit(seed: Long, id: Long, toks: Array[Int], subs: Int): Array[Int] = {
      val r = rng(seed, 3, id)
      val t = toks.clone()
      (0 until subs).foreach(_ => t(r.nextInt(tokens)) = vocab + r.nextInt(vocab))
      t
    }

    private def docTokens(seed: Long, id: Long, cdf: Array[Double]): Array[Int] = {
      val rel = id - plain
      if (rel < 0) fresh(seed, 2, id, cdf)
      else if (rel < 2L * clusters)
        edit(seed, id, fresh(seed, 2, base((rel / 2).toInt), cdf), NearDupSubs)
      else if (rel < 2L * clusters + copies)
        fresh(seed, 2, original((rel - 2L * clusters).toInt), cdf)
      else edit(seed, id, fresh(seed, 4, rel - 2L * clusters - copies, cdf), ContamSubs)
    }

    private def text(t: Array[Int]): String = t.map(w => s"w$w").mkString(" ")

    def trainDocs(spark: SparkSession, seed: Long, parts: Int): DataFrame = {
      import spark.implicits._
      val self = this
      spark.sparkContext.range(0L, docs.toLong, 1L, parts).mapPartitions { ids =>
        val c = self.cdf
        ids.map(id => (id, self.text(self.docTokens(seed, id, c))))
      }.toDF("doc_id", "text")
    }

    def heldOutDocs(spark: SparkSession, seed: Long): DataFrame = {
      import spark.implicits._
      val self = this
      spark.sparkContext.range(0L, heldOut.toLong, 1L, 1).mapPartitions { ids =>
        val c = self.cdf
        ids.map(t => (self.HeldOutBase + t, self.text(self.fresh(seed, 4, t, c))))
      }.toDF("doc_id", "text")
    }

    private def gauss(seed: Long, i: Long): Array[Double] = {
      val r = rng(seed, 5, i)
      Array.fill(Dims)(r.nextGaussian())
    }

    def vectors(spark: SparkSession, seed: Long, parts: Int): DataFrame = {
      import spark.implicits._
      val self = this
      spark.sparkContext.range(0L, vecs.toLong, 1L, parts).map { i =>
        val q = i - (self.vecs - self.queries)
        val v =
          if (q < 0) self.gauss(seed, i)
          else {
            val r = rng(seed, 6, i)
            self.gauss(seed, self.query(q.toInt)).map(_ + 0.05 * r.nextGaussian())
          }
        (i, v)
      }.toDF("vec_id", "v")
    }
  }
}
