package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Graft, SessionCache}
import graft.graph.{LinkRank, WebGraph}

/** One benchmark workload: seeded inputs written during set-up, then a
  * pass that is repeated for the measured window. */
trait Workload {
  /** Generate this seed's inputs under `b.dir`; returns their fingerprint. */
  def generate(b: Bench): String
  /** Properties of the generated inputs. */
  def describe(b: Bench): Seq[(String, Any)]
  /** Whether passes run the rank loop (and so the LinkRank gold check). */
  def ranks: Boolean
  /** Set-up work that needs the written inputs (none by default). */
  def prepare(b: Bench): Unit = ()
  /** One pass; `i` selects per-pass inputs. */
  def pass(b: Bench, i: Int): Unit
  /** Input rows one pass processes. */
  def rows: Long
  /** Typical pass time on a 4-core host; sets how many passes fill --seconds. */
  def nominalPassSeconds: Double
}

object Workloads {
  def byName(name: String): Option[Workload] = name match {
    case "crawl-rank" => Some(new CrawlRank)
    case "crawl-refresh" => Some(new CrawlRefresh)
    case "corpus-dedup" => Some(new CorpusDedup)
    case _ => None
  }

  val Crawl = Gen.Crawl(pages = 3000, hosts = 80)
  val Damping = 0.85

  /** Writes the crawl's raw links; returns their fingerprint and count. */
  def writeCrawl(b: Bench): (String, Long) = {
    val path = b.path("links")
    Crawl.links(b.spark, b.seed, b.cores).write.mode("overwrite").parquet(path)
    b.untimed {
      val raw = b.spark.read.parquet(path)
      (Gen.fingerprint(raw), raw.count())
    }
  }

  def describeCrawl(b: Bench): Seq[(String, Any)] = {
    val raw = b.spark.read.parquet(b.path("links"))
    val rawLinks = raw.count()
    val edges = Graft.dedupLinks(raw).cache()
    val host = (c: String) => graft.functions.UrlFunctions.urlHost(col(c))
    val vertices = WebGraph.vertices(edges).count()
    val withOut = edges.select("src").distinct().count()
    val maxIn = edges.groupBy("dst").count().agg(max("count")).first().getLong(0)
    val intra = edges.filter(host("src") === host("dst")).count()
    val distinctRaw = raw.distinct().count()
    val e = edges.count()
    val hostPairs = WebGraph.hostEdges(edges).count()
    edges.unpersist()
    Seq("pages_generated" -> Crawl.pages, "hosts" -> Crawl.hosts,
      "raw_links" -> rawLinks, "links" -> e, "vertices" -> vertices,
      "dangling_share" -> (vertices - withOut).toDouble / vertices,
      "max_in_degree" -> maxIn, "intra_host_share" -> intra.toDouble / e,
      "duplicate_link_share" -> (1.0 - distinctRaw.toDouble / rawLinks),
      "host_edges" -> hostPairs)
  }

  /** Every vertex has exactly one score, all finite and in [lo, hi]. */
  def scoresOk(df: DataFrame, vertices: Long, lo: Double, hi: Double): Boolean = {
    val r = df.agg(count(lit(1)), countDistinct(col("id")), min(col("score")), max(col("score")),
      sum(when(col("score").isNull || isnan(col("score")), 1).otherwise(0))).first()
    r.getLong(0) == vertices && r.getLong(1) == vertices && r.getLong(4) == 0 &&
      r.getDouble(2) >= lo && r.getDouble(3) <= hi
  }
}

/** dedupLinks → LinkRank → TrustRank (same cache key, so it reuses
  * LinkRank's id map and edge side) → HostRank as hostEdges + LinkRank. */
final class CrawlRank extends Workload {
  import Workloads._
  private var rawLinks = 0L
  // distinct vertices of the cleaned page and host graphs, counted once
  private var vertices = -1L
  private var hosts = -1L
  def rows: Long = rawLinks
  def nominalPassSeconds = 14.0
  def ranks = true
  def describe(b: Bench): Seq[(String, Any)] = describeCrawl(b)

  def generate(b: Bench): String = {
    val (fp, n) = writeCrawl(b)
    rawLinks = n
    fp
  }

  def pass(b: Bench, i: Int): Unit = {
    val spark = b.spark
    val raw = spark.read.parquet(b.path("links"))
    val edges = b.op("webgraph.dedup_links") {
      SessionCache.cached(spark, "graftbench:edges")(Graft.dedupLinks(raw))
    }
    b.untimed {
      b.layer("webgraph.keep_ratio") = edges.count().toDouble / rawLinks
      if (vertices < 0) vertices = WebGraph.vertices(edges).count()
    }

    val (lr, lrRounds) = b.op("linkrank") {
      val (df, n) = LinkRank.runCounted(spark, edges, LinkRank.uniformInit(edges),
        cacheKey = Some("graftbench"))
      b.noop(df)
      (df, n)
    }
    b.layer("linkrank.rounds") = lrRounds
    b.check("linkrank: one score in [0, 10] per vertex")(scoresOk(lr, vertices, 0.0, 10.0))

    val trusted = WebGraph.vertices(edges).withColumn("score",
      when(pmod(xxhash64(col("id"), lit(b.seed)), lit(100)) === 0, 1.0).otherwise(0.0))
    val (tr, trRounds) = b.op("trustrank") {
      val (df, n) = LinkRank.runCounted(spark, edges, trusted, trustedMode = true,
        cacheKey = Some("graftbench"))
      b.noop(df)
      (df, n)
    }
    b.layer("trustrank.rounds") = trRounds
    b.check("trustrank: one score in [0, 10] per vertex")(scoresOk(tr, vertices, 0.0, 10.0))

    val (hr, hrRounds, hostEdges) = b.op("hostrank") {
      val he = b.op("webgraph.host_edges") {
        SessionCache.cached(spark, "graftbench:hostedges")(WebGraph.hostEdges(edges))
      }
      val (df, n) = LinkRank.runCounted(spark, he, LinkRank.uniformInit(he))
      b.noop(df)
      (df, n, he)
    }
    b.layer("hostrank.rounds") = hrRounds
    b.check("hostrank: one score in [0, 10] per host") {
      if (hosts < 0) hosts = WebGraph.vertices(hostEdges).count()
      scoresOk(hr, hosts, 0.0, 10.0)
    }
  }
}

/** A converged raw LinkRank iterate (set-up); each pass lands a fresh 1%
  * link delta, cleans it, and warm-starts linkRankIncremental to tol. */
final class CrawlRefresh extends Workload {
  import Workloads._
  /** Halting tolerance relative to the mean score 1/N: 1e-4/N is 1e-9 on
    * a 100k-page crawl. */
  private def tol: Double = 1e-4 / baseVertices
  val Budget = 60
  val Deltas = 4
  private var baseLinks = 0L
  private var deltaLinks = 0L
  private var baseVertices = 0L
  def rows: Long = baseLinks + deltaLinks
  def nominalPassSeconds = 15.0
  def ranks = true
  def describe(b: Bench): Seq[(String, Any)] =
    describeCrawl(b) ++ Seq("delta_links" -> deltaLinks, "deltas" -> Deltas)

  def generate(b: Bench): String = {
    val (fp, n) = writeCrawl(b)
    deltaLinks = n / 100
    for (k <- 0 until Deltas)
      Crawl.delta(b.spark, b.seed, k, deltaLinks, b.cores).write.mode("overwrite").parquet(b.path(s"delta$k"))
    fp + "+" + b.untimed {
      (0 until Deltas).map(k => Gen.fingerprint(b.spark.read.parquet(b.path(s"delta$k")))).mkString("+")
    }
  }

  override def prepare(b: Bench): Unit = {
    val spark = b.spark
    Graft.dedupLinks(spark.read.parquet(b.path("links"))).write.mode("overwrite").parquet(b.path("edges"))
    val edges = spark.read.parquet(b.path("edges"))
    baseLinks = edges.count()
    baseVertices = WebGraph.vertices(edges).count()
    val init = WebGraph.vertices(edges).withColumn("score", lit(1.0 / baseVertices))
    val (raw, rounds) = Graft.linkRankIncremental(spark, edges, init, iters = Budget, tol = tol)
    raw.write.mode("overwrite").parquet(b.path("converged"))
    Graft.drain(spark)
    b.check(s"refresh set-up: converged within $Budget rounds")(rounds < Budget)
  }

  def pass(b: Bench, i: Int): Unit = {
    val spark = b.spark
    val base = spark.read.parquet(b.path("edges"))
    val converged = spark.read.parquet(b.path("converged"))
    val delta = spark.read.parquet(b.path(s"delta${i.abs % Deltas}"))
    val (out, rounds, edges) = b.op("refresh") {
      val edges = b.op("webgraph.dedup_links") {
        SessionCache.cached(spark, "graftbench:refresh-edges")(
          base.union(Graft.dedupLinks(delta)).distinct())
      }
      val init = WebGraph.vertices(edges).join(converged, Seq("id"), "left")
        .select(col("id"), coalesce(col("score"), lit((1.0 - Damping) / baseVertices)).as("score"))
      val (df, n) = Graft.linkRankIncremental(spark, edges, init, iters = Budget, tol = tol)
      b.noop(df)
      (df, n, edges)
    }
    b.layer("refresh.rounds") = rounds
    b.check(s"refresh: converged within $Budget rounds")(rounds < Budget)
    b.check("refresh: one positive score per vertex")(
      scoresOk(out, WebGraph.vertices(edges).count(), Double.MinPositiveValue, 1.0))
    b.untimed(b.layer("webgraph.keep_ratio") = Graft.dedupLinks(delta).count().toDouble / deltaLinks)
  }
}

/** Text kernels, MinHash near-dup pairs, exact dedup, decontamination
  * (exact and Bloom) and brute-force kNN over a planted corpus. */
final class CorpusDedup extends Workload {
  val C = Gen.Corpus(docs = 8000, tokens = 200, vocab = 50000, clusters = 200,
    copies = 150, heldOut = 200, contaminated = 100, vecs = 12000, queries = 32)
  val Kernels: Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] = Seq(
    "graft_minhash" -> Graft.minhashSignature, "graft_simhash" -> Graft.simhash,
    "graft_shingle_set" -> Graft.shingleSet, "graft_winnow" -> Graft.winnowFingerprint)
  /** est_jaccard at or above this counts a candidate as a useful pair. */
  val NearDup = 0.5
  def rows: Long = C.docs
  def nominalPassSeconds = 7.0
  def ranks = false
  def describe(b: Bench): Seq[(String, Any)] = Seq("docs" -> C.docs, "tokens_per_doc" -> C.tokens,
    "vocab" -> C.vocab, "planted_dup_pairs" -> C.plantedPairs.size,
    "planted_exact_copies" -> C.copies, "held_out_docs" -> C.heldOut,
    "planted_contaminated_docs" -> C.contaminated, "vectors" -> C.vecs,
    "dims" -> C.Dims, "knn_queries" -> C.queries)

  def generate(b: Bench): String = {
    val spark = b.spark
    C.trainDocs(spark, b.seed, b.cores).write.mode("overwrite").parquet(b.path("docs"))
    C.heldOutDocs(spark, b.seed).write.mode("overwrite").parquet(b.path("heldout"))
    C.vectors(spark, b.seed, b.cores).write.mode("overwrite").parquet(b.path("vectors"))
    b.untimed {
      Seq("docs", "heldout", "vectors").map(n => Gen.fingerprint(spark.read.parquet(b.path(n)))).mkString("+")
    }
  }

  private def ids(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet

  def pass(b: Bench, i: Int): Unit = {
    val spark = b.spark
    import spark.implicits._
    val docs = spark.read.parquet(b.path("docs"))
    val held = spark.read.parquet(b.path("heldout"))
    val vecs = spark.read.parquet(b.path("vectors"))

    for ((name, kernel) <- Kernels) {
      b.op(s"kernel.$name")(b.noop(docs.select(kernel(col("text")))))
      b.layer(s"kernel.$name.rows_per_s") = C.docs / b.tracer.spans.last.seconds
    }

    val pairs = b.op("dedup.minhash_pairs") {
      val p = Graft.minhashPairs(docs, col("doc_id"), col("text"))
      b.noop(p)
      p
    }
    val planted = C.plantedPairs.toDF("da", "db").withColumn("planted", lit(1))
    b.check("dedup: planted near-dup pairs found") {
      val r = pairs.join(planted, Seq("da", "db"), "left").agg(count(lit(1)),
        sum(when(col("est_jaccard") >= NearDup, 1).otherwise(0)),
        coalesce(sum(col("planted")), lit(0L))).first()
      val candidates = r.getLong(0)
      b.layer("dedup.candidates") = candidates
      b.layer("dedup.candidate_precision") = if (candidates == 0) 0.0 else r.getLong(1).toDouble / candidates
      b.layer("dedup.recall") = r.getLong(2).toDouble / C.plantedPairs.size
      r.getLong(2) >= 0.9 * C.plantedPairs.size
    }

    val exact = b.op("dedup.exact") {
      val d = Graft.dedupExact(docs, col("doc_id"), xxhash64(col("text")))
      b.noop(d)
      d
    }
    b.check("dedup: every planted exact copy, and nothing else, is_dup")(
      ids(exact.filter(col("is_dup")).select("doc_id")) == (0 until C.copies).map(C.copy).toSet)

    val dc = b.op("decontam") {
      val d = Graft.decontaminate(docs, col("doc_id"), col("text"), held, col("text"))
      b.noop(d)
      d
    }
    val flagged = b.untimed(ids(dc.filter(col("contaminated")).select("doc_id")))
    b.check("decontam: every planted contaminated doc is flagged")(
      (0 until C.contaminated).map(C.contam).toSet.subsetOf(flagged))

    val bloom = b.op("decontam_bloom") {
      val d = Graft.decontaminateBloom(docs, col("doc_id"), col("text"), held, col("text"))
      b.noop(d)
      d
    }
    b.check("decontam: Bloom flags include the exact flags") {
      val bf = ids(bloom.filter(col("contaminated")).select("doc_id"))
      b.layer("decontam.bloom_extra") = (bf -- flagged).size
      flagged.subsetOf(bf)
    }

    val knn = b.op("ann.knn_brute") {
      val q = vecs.filter(col("vec_id").isin((0 until C.queries).map(C.query): _*))
      val k = Graft.knnBrute(vecs, col("vec_id"), col("v"), q, col("vec_id"), col("v"), 10)
      b.noop(k)
      k
    }
    b.check("ann: each query's planted near-copy is its nearest neighbour") {
      val top = knn.filter(col("rank") === 1).select("qid", "neighbor").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      top == (0 until C.queries).map(q => C.query(q) -> C.partner(q)).toMap
    }
  }
}
