package graft

import org.apache.spark.sql.functions._
import graft.functions.{MathFunctions => MF, VectorFunctions => VF}

/** Unit fixtures for the dedup/ANN kernels: portable hashing, cosine,
  * LSH codes, and end-to-end behavior of the suite queries at
  * sf0.001.
  */
class DedupAnnSpec extends GraftSpec {
  private lazy val sp = spark
  import sp.implicits._

  test("hash32 parses the first 8 md5 hex chars exactly") {
    val got = Seq("hello").toDF("s").select(MF.hash32(col("s"))).first().getLong(0)
    // md5('hello') = 5d41402abc4b2a76b9719d911017c592 -> 0x5d41402a
    assert(got === 0x5d41402aL)
  }

  test("universalHash stays in [0, p) and differs per k") {
    val hs = Seq("a", "b", "c").toDF("s").select(MF.hash32(col("s")).as("h"))
    val out = hs.select((0 until 4).map(k => MF.universalHash(col("h"), k).as(s"u$k")): _*)
      .collect()
    out.foreach { r =>
      val vals = (0 until 4).map(r.getLong)
      assert(vals.forall(v => v >= 0 && v < MF.HashP))
      assert(vals.distinct.size === 4)
    }
  }

  test("cosine of identical / orthogonal vectors") {
    val df = Seq(
      (Array(1.0, 0.0, 0.0), Array(1.0, 0.0, 0.0), 1.0),
      (Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), 0.0),
      (Array(1.0, 1.0, 0.0), Array(1.0, 0.0, 0.0), 1.0 / math.sqrt(2))
    ).toDF("a", "b", "want")
    df.select(VF.cosine(col("a"), col("b")).as("got"), col("want")).collect()
      .foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("lshCode is deterministic and equal vectors share codes") {
    val v = Array.tabulate(64)(i => math.sin(i + 1))
    val df = Seq(("x", v), ("y", v)).toDF("id", "v")
    val codes = df.select(VF.lshCode(col("v"), 64, 16)).collect().map(_.getLong(0))
    assert(codes(0) === codes(1))
    assert(codes(0) >= 0 && codes(0) < (1L << 16))
  }

  test("exact dedup groups identical texts only (sf0.001)") {
    val rows = graft.dedup.DedupQueries.q20DedupExact(spark, sfDir).collect()
    val dups = rows.filter(_.getAs[Boolean]("is_dup"))
    // injected exact copies: doc_id%15==0 -> +ExactDupOffset; near-dups differ
    assert(dups.nonEmpty)
    assert(dups.forall(r =>
      r.getAs[Long]("doc_id") >= graft.dedup.DedupQueries.ExactDupOffset))
  }

  test("minhash-LSH finds the injected near-duplicates (sf0.001)") {
    val pairs = graft.dedup.DedupQueries.q21MinHashLsh(spark, sfDir).collect()
    val injected = pairs.filter { r =>
      val a = r.getAs[Long]("da"); val b = r.getAs[Long]("db")
      b == a + graft.dedup.DedupQueries.NearDupOffset ||
        b == a + graft.dedup.DedupQueries.ExactDupOffset
    }
    assert(injected.nonEmpty)
    injected.foreach(r => assert(r.getAs[Double]("est_jaccard") >= 0.5))
  }

  test("simhash 16-bit banding: buckets stay small and keys scale with the corpus") {
    val sig = graft.dedup.DedupQueries.simhashSig(spark, sfDir).cache()
    val n = sig.count()
    val buckets = graft.dedup.DedupQueries.simhashBands(sig)
      .groupBy(col("band"), col("key")).agg(count(lit(1)).as("c"))
      .cache()
    val maxBucket = buckets.agg(max(col("c"))).first().getLong(0)
    val distinctKeys = buckets.count()
    sig.unpersist(); buckets.unpersist()
    // a bucket holds similar docs only, never an O(n) slice of the
    // corpus (the r2 8-bit keys capped at 256 buckets/band and made
    // the largest bucket a constant FRACTION of n)
    assert(maxBucket <= n / 10, s"largest simhash band bucket = $maxBucket of n=$n docs")
    // key cardinality grows with the data: ~1 bucket per doc per band
    assert(distinctKeys >= n, s"only $distinctKeys (band,key) buckets for n=$n docs")
  }

  test("embedding multi-band LSH: O(n) candidates with full recall of injected dups") {
    val vc = graft.dedup.DedupQueries.embCorpus(spark, sfDir).cache()
    val n = vc.count()
    val banded = graft.dedup.DedupQueries.embBands(vc)
    val cand = banded.toDF("va", "band", "key")
      .join(banded.toDF("vb", "band", "key"), Seq("band", "key"))
      .filter(col("va") < col("vb"))
      .select(col("va"), col("vb")).distinct()
      .cache()
    val nCand = cand.count()
    // union over 4 bands must still find every injected near-dup pair
    val injected = vc.filter(col("vec_id") >= graft.dedup.DedupQueries.NearDupOffset)
      .select((col("vec_id") - graft.dedup.DedupQueries.NearDupOffset).as("va"),
        col("vec_id").as("vb"))
    val missed = injected.join(cand, Seq("va", "vb"), "left_anti").count()
    cand.unpersist(); vc.unpersist()
    assert(missed === 0L, s"$missed injected near-dup pairs not blocked together")
    // blocking must prune the pair space hard (here ~8% of all pairs;
    // the r2 single 8-bit code left buckets of n/256 → no real pruning
    // at scale). Collision rate per band is data-independent for sign
    // LSH, so the pruning FACTOR holds as n grows.
    assert(nCand * 8 <= n * (n - 1) / 2,
      s"candidate pairs $nCand do not prune the ${n * (n - 1) / 2}-pair space")
  }

  test("past the broadcast threshold decontaminate takes the join shape: rows equal q26") {
    import graft.dedup.DedupQueries
    val docs = Tables.documents(spark, sfDir)
    val isBench = pmod(col("doc_id"), lit(DedupQueries.BenchMod)) === 0
    val viaQuery = DedupQueries.q26Decontaminate(spark, sfDir).collect()
    val (viaFacade, plan) = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = Graft.decontaminate(docs.filter(!isBench), col("doc_id"), col("text"),
        docs.filter(isBench), col("text")).orderBy(col("doc_id"))
      (df.collect(), df.queryExecution.executedPlan.toString)
    }
    assert(!plan.contains("Broadcast"), s"past the threshold nothing is broadcast:\n$plan")
    assert(viaFacade.length === viaQuery.length && viaFacade.nonEmpty)
    viaFacade.zip(viaQuery).foreach { case (a, b) => assert(a === b) }
    // q28's portable Bloom collects the set to the driver: no fallback,
    // it fails before the collect and names the setting
    val e = intercept[IllegalArgumentException] {
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        DedupQueries.q28DecontaminateBloom(spark, sfDir)
      }
    }
    assert(e.getMessage.contains("spark.sql.autoBroadcastJoinThreshold"))
  }

  test("join-shape decontamination equals the broadcast merge-walk exactly") {
    import graft.dedup.DedupQueries
    val broadcastShape = DedupQueries.q26Decontaminate(spark, sfDir).collect()
    val joinShape = DedupQueries.q27DecontaminateJoin(spark, sfDir).collect()
    assert(joinShape.length === broadcastShape.length && joinShape.nonEmpty)
    joinShape.zip(broadcastShape).foreach { case (a, b) => assert(a === b) }
  }

  test("brute KNN returns k ranked neighbors per query (sf0.001)") {
    val rows = graft.ann.AnnQueries.q30KnnBrute(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    byQ.foreach { case (_, g) =>
      assert(g.length === graft.ann.AnnQueries.K)
      val cos = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("k-means: every vector assigned, <= KmK clusters, Lloyd step never raises cost (sf0.001)") {
    import graft.ann.AnnQueries
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val out = AnnQueries.q36KMeans(spark, sfDir).collect()
    graft.Checkpoints.drain(spark)
    assert(out.length === n)
    val clusters = out.map(_.getAs[Long]("cluster")).distinct
    assert(clusters.length <= AnnQueries.KmK && clusters.nonEmpty)
    assert(out.forall(_.getAs[Double]("dist2") >= 0.0))
    // Lloyd monotonicity: total within-cluster cost after the refined
    // rounds must not exceed the cost of assigning to the raw seeds
    // (round-off grid 1e-6 gives the inequality a hair of slack).
    val e = AnnQueries.q36KMeans(spark, sfDir) // deterministic: same result
    val refined = e.agg(sum(col("dist2"))).first().getDouble(0)
    graft.Checkpoints.drain(spark)
    val seedCost = {
      val v = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
      val seeds = v.orderBy(MF.universalHash(col("vec_id"), 2), col("vec_id"))
        .limit(AnnQueries.KmK)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      v.crossJoin(broadcast(seeds))
        .select(col("vec_id"), round(VF.dist2(col("v"), col("cv")), 6).as("d2"))
        .groupBy(col("vec_id")).agg(min(col("d2")).as("d2"))
        .agg(sum(col("d2"))).first().getDouble(0)
    }
    assert(refined <= seedCost + 1e-3,
      s"refined cost $refined exceeds seed-assignment cost $seedCost")
  }
}
