package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => VF}

/** Public facade: the library surface in one import, operating on the
  * CALLER's DataFrames (any schema — pass columns in). This object is
  * what an application (or a giranking migration) calls. A method whose
  * doc names "qNN's engine" IS that suite query's operator: the query
  * calls it on the test tables and adds only its table read, constants,
  * column renames and final sort, so the query's DuckDB oracle hash
  * gates the facade body itself.
  *
  * Column functions require a session built by [[GraftSession]] (or
  * any session with `spark.sql.extensions=graft.plans.GraftExtensions`)
  * so the compiled graft_* kernels resolve.
  *
  * Lifecycle: the iterative operators (rank family, [[kmeans]],
  * [[minhashPairs]], [[setSimilarityJoin]], [[randomWalks]])
  * cache/checkpoint intermediate frames whose blocks stay live until the
  * CALLER's action finishes — call [[drain]] after consuming each
  * result in a long-lived session, or the block manager accumulates one
  * orphaned set per call.
  */
object Graft {

  /** Release the deferred caches/checkpoints of every Graft call made
    * on `spark` since the last drain. Call AFTER the action that
    * consumes the returned DataFrame (the blocks are inputs to it). */
  def drain(spark: SparkSession): Unit = Checkpoints.drain(spark)

  // ------------------------------------------------------------- graph
  /** LinkRank over (src, dst) string edges, uniform-1.0 init —
    * giranking's LinkRankComputation with its default inputs.
    * @param tol when set, halt once max|v'−v| < tol (budget `iters`). */
  def linkRank(spark: SparkSession, edges: DataFrame,
               iters: Int = 9, tol: Option[Double] = None): DataFrame =
    graph.LinkRank.run(spark, edges, graph.LinkRank.uniformInit(edges),
      iters = iters, tol = tol)

  /** TrustRank: `init(id, score)` rows with score ≈ 1.0 are the trusted
    * seeds; dangling mass flows only to them. */
  def trustRank(spark: SparkSession, edges: DataFrame, init: DataFrame,
                iters: Int = 9, tol: Option[Double] = None): DataFrame =
    graph.LinkRank.run(spark, edges, init, iters = iters,
      trustedMode = true, tol = tol)

  /** Warm-start / incremental LinkRank: RAW (pre-normalization) damped
    * scores with convergence halting, plus the round count actually
    * run. Feed a previous result back as `init` after an edge delta —
    * the loop starts near the new fixed point and halts in far fewer
    * rounds than a cold uniform start (don't re-rank a 100 TB graph
    * from scratch because one crawl batch landed). Apply
    * [[linkRank]]-style normalization downstream if display scores are
    * needed; keep the raw frame as the next delta's init. */
  def linkRankIncremental(spark: SparkSession, edges: DataFrame,
                          init: DataFrame, iters: Int = 60,
                          tol: Double = 1e-8): (DataFrame, Int) =
    graph.LinkRank.runCounted(spark, edges, init, iters = iters,
      tol = Some(tol), normalize = false)

  /** HostRank: page edges projected to their hosts, then LinkRank. */
  def hostRank(spark: SparkSession, pageEdges: DataFrame): DataFrame = {
    val hedges = graph.WebGraph.hostEdges(pageEdges)
    graph.LinkRank.run(spark, hedges, graph.LinkRank.uniformInit(hedges))
  }

  /** LinkRank through the GraphX Pregel-style backend (same answers). */
  def linkRankGraphX(spark: SparkSession, edges: DataFrame): DataFrame =
    graph.GraphXLinkRank.run(spark, edges)

  /** removeDuplicateLinks: trim, strip #fragment, drop self-links,
    * distinct — giranking's edge cleanup. */
  def dedupLinks(rawEdges: DataFrame): DataFrame =
    graph.WebGraph.dedupEdges(rawEdges)

  // ------------------------------------------- text kernels (Columns)
  /** Winnowing fingerprint summary of a text column:
    * struct(n_fingerprints, min_fp, max_fp). Compiled, map-only. */
  def winnowFingerprint(text: Column): Column =
    call_function("graft_winnow", text)

  /** 12-value MinHash signature (array<long>) of a text column. */
  def minhashSignature(text: Column): Column =
    call_function("graft_minhash", text)

  /** Sorted distinct trigram-shingle hash set (array<long>). */
  def shingleSet(text: Column): Column =
    call_function("graft_shingle_set", text)

  /** |a ∩ b| of two sorted long arrays (e.g. [[shingleSet]] outputs). */
  def intersectCount(a: Column, b: Column): Column =
    call_function("graft_intersect_count", a, b)

  /** Exact Jaccard similarity of two shingle sets. */
  def jaccard(a: Column, b: Column): Column = {
    val i = intersectCount(a, b)
    i.cast("double") / (size(a) + size(b) - i).cast("double")
  }

  /** 64-bit SimHash as struct(simlo, simhi) — two 32-bit halves. */
  def simhash(text: Column): Column = call_function("graft_simhash", text)

  /** Highest-frequency bigram stats: struct(mx, tot). */
  def topBigram(text: Column): Column = call_function("graft_top_bigram", text)

  // ---------------------------------------------- vectors (Columns)
  /** Compiled dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column = VF.dot(a, b)

  /** Cosine similarity (compiled dot + norms). */
  def cosine(a: Column, b: Column): Column = VF.cosine(a, b)

  /** Squared L2 distance (compiled). */
  def dist2(a: Column, b: Column): Column = VF.dist2(a, b)

  /** bits-bit random-hyperplane LSH code of an array<double> column. */
  def lshCode(v: Column, dims: Int, bits: Int, planeOffset: Int = 0): Column =
    VF.lshCode(v, dims, bits, planeOffset)

  /** All nBands band codes (array<long>) in one compiled pass — the
    * multi-band LSH emission for banded dedup/ANN blocking. */
  def lshBands(v: Column, dims: Int, bits: Int, nBands: Int): Column =
    VF.lshBands(v, dims, bits, nBands)

  // ------------------------------------------ operators (DataFrames)
  /** Exact dedup of `df` on a fingerprint expression (q20's engine):
    * adds `canonical_id` (min of `idCol` per fingerprint) and `is_dup`. */
  def dedupExact(df: DataFrame, idCol: Column, fp: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(fp)
    df.withColumn("canonical_id", min(idCol).over(w))
      .withColumn("is_dup", idCol =!= col("canonical_id"))
  }

  /** TF-IDF top-k terms per document over any (id, text) frame (q48's
    * engine): (doc_id, term, rank, tfidf) with smoothed ln IDF.
    * Aggregated-rows joins only; the per-doc top-k compiles to
    * WindowGroupLimit. The score is round(6)-gridded before ranking
    * (engine-stable order). */
  def tfidfTopTerms(docs: DataFrame, id: Column, text: Column,
                    k: Int = 3): DataFrame = {
    val base = docs.select(id.as("doc_id"), text.as("text"))
    val tok = base.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // df from tf, not a second corpus tokenization: tf has one row per
    // (doc, term), so its per-term row count IS the document frequency
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = base.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    tf.join(idf, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)), 6).as("tfidf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("rank"), col("tfidf"))
  }

  /** Skew-safe sum+count of `value` per `key` (two-stage salted agg). */
  def saltedSumCount(df: DataFrame, key: Column, value: Column,
                     salts: Int = 16): DataFrame =
    operators.Salting.saltedSumCount(df, key, value, salts)

  /** Okapi BM25 top-k documents per query term over any (id, text)
    * frame (q73's engine): (term, doc_id, rank, score). One corpus
    * tokenization (dl and df both derive from the tf frame); (N, Σdl)
    * ride a broadcast 1-row aggregate; score round(6)-gridded before
    * ranking. */
  def bm25(docs: DataFrame, id: Column, text: Column, terms: Seq[String],
           k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = docs.select(id.as("doc_id"), text.as("text"))
    val tok = base.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
    val idf = log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val dlNorm = col("dl").cast("double") * col("n").cast("double") / col("sumdl").cast("double")
    val tfNorm = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * dlNorm))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("score").desc, col("doc_id"))
    tf.filter(col("term").isin(terms: _*))
      .join(df, "term").join(dl, "doc_id").crossJoin(broadcast(stats))
      .select(col("term"), col("doc_id"), round(idf * tfNorm, 6).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("term"), col("doc_id"), col("rank"), col("score"))
  }

  /** Deterministic weighted sampling without replacement (A-ES) over
    * any (id, weight) frame (q74's engine): the top-`k` rows per
    * `stratum` by key ln(u)/w with u a pure hash of the id —
    * P(selected) follows the weight, reproducible across runs and
    * engines. */
  def weightedSample(df: DataFrame, id: Column, weight: Column,
                     stratum: Column, k: Int): DataFrame = {
    val u = (functions.MathFunctions.universalHash(id, 5) + lit(1))
      .cast("double") / lit(2147483647.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum).orderBy(col("key").desc, id)
    // + 0.0 collapses IEEE −0.0 (a just-below-grid key rounding up) to
    // +0.0 identically on both engines before the hash gate
    df.withColumn("key", round(log(u) / weight, 6) + lit(0.0))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** 64-bit perceptual hash (aHash) of a text-backed payload as
    * [lo, hi] 32-bit halves; empty array when under 64 code points
    * (see plans.PhashMath). */
  def phash(payload: Column): Column = call_function("graft_phash", payload)

  /** Deterministic hash sampling (q47's engine): keep rows whose
    * stable-id bucket (0-99) falls under `ratePct` — reproducible across
    * runs/engines. */
  def hashSample(df: DataFrame, id: Column, ratePct: Column): DataFrame =
    df.filter(pmod(functions.MathFunctions.universalHash(id, 3), lit(100)) < ratePct)

  /** MinHash-LSH near-duplicate pairs over any (id, text) frame:
    * (da, db, est_jaccard) for band-colliding pairs — compiled
    * signatures, band-bucket equi-join, never O(n²). */
  def minhashPairs(docs: DataFrame, id: Column, text: Column): DataFrame = {
    import graft.dedup.DedupQueries.{K, signaturePairs}
    // the signature scan feeds the band join AND both pair sides —
    // cache it once (freed at the caller's next drain)
    signaturePairs(Checkpoints.cache(docs
      .select(id.as("doc_id"), minhashSignature(text).as("mhs"))
      .select(col("doc_id") +:
        (0 until K).map(j => element_at(col("mhs"), j + 1).as(s"mh$j")): _*)))
  }

  /** Benchmark decontamination over caller frames: score every training
    * document's 3-gram-shingle overlap against the union shingle set of
    * a held-out benchmark frame. Returns (doc_id, n_shingles, n_overlap,
    * overlap_frac, contaminated). Map-only over the training side while
    * the benchmark set's size bound fits
    * `spark.sql.autoBroadcastJoinThreshold` (the set is broadcast);
    * past it the same rows come from an equi-join of the exploded
    * training shingles against the benchmark's distinct hashes, which
    * shuffles the training side (see DedupQueries.decontaminateSets). */
  def decontaminate(train: DataFrame, id: Column, text: Column,
                    bench: DataFrame, benchText: Column): DataFrame =
    dedup.DedupQueries.decontaminateSets(
      train.select(id.as("doc_id"), shingleSet(text).as("s")),
      bench.select(shingleSet(benchText).as("s")))

  /** [[decontaminate]] through a fixed-size Bloom sketch: the
    * broadcast is `numBits` bits regardless of benchmark size and the
    * training side stays map-only. No false negatives — the flagged
    * set is a conservative superset of the exact one (false positives
    * at the sketch's fpp inflate overlap counts slightly). */
  def decontaminateBloom(train: DataFrame, id: Column, text: Column,
                         bench: DataFrame, benchText: Column,
                         numBits: Long = 8L << 20): DataFrame =
    dedup.DedupQueries.decontaminateBloomSets(
      train.select(id.as("doc_id"), shingleSet(text).as("s")),
      bench.select(shingleSet(benchText).as("s")), numBits)

  /** Per-vertex triangle count + local clustering coefficient over any
    * (src, dst) edge frame — oriented a<b<c enumeration. The wedge
    * joins broadcast the canonical edge set while its measured size
    * fits `spark.sql.autoBroadcastJoinThreshold` and shuffle past it
    * (see graph.Triangles). */
  def triangles(edges: DataFrame, src: Column, dst: Column): DataFrame =
    graph.Triangles.run(edges.select(src.as("src"), dst.as("dst")))

  /** Connected components over any (src, dst) edge frame: (id,
    * component) with component = the minimum id reachable over
    * undirected paths — the transitive-grouping primitive behind
    * near-dup cluster canonicalization (q25), on a caller schema.
    * Convergence-stopped min-label propagation, one checkpointed label
    * snapshot live at a time (see graph.ConnectedComponents). */
  def connectedComponents(edges: DataFrame, src: Column, dst: Column,
                          maxIters: Int = 20): DataFrame =
    graph.ConnectedComponents.run(
      edges.select(src.as("src"), dst.as("dst")), maxIters)

  /** Multi-source BFS hop distances over any directed (src, dst) edge
    * frame: (id, dist), dist = NULL when no seed reaches the vertex
    * within `maxIters` hops. Convergence-stopped min-propagation, one
    * checkpointed snapshot live at a time (see graph.Bfs). */
  def bfs(edges: DataFrame, src: Column, dst: Column,
          seeds: DataFrame, seedId: Column, maxIters: Int = 20): DataFrame = {
    val e = edges.select(src.as("src"), dst.as("dst"))
    graph.Bfs.run(e, graph.WebGraph.vertices(e),
      seeds.select(seedId.as("id")), maxIters)
  }

  /** k-core decomposition by iterative peeling — edges are treated as
    * undirected; returns (id, in_core, core_deg) for every vertex.
    * See [[graph.KCore]]. */
  def kCore(edges: DataFrame, src: Column, dst: Column, k: Int,
            maxIters: Int = 20): DataFrame = {
    graph.KCore.run(graph.WebGraph.undirected(edges.select(src.as("src"), dst.as("dst"))),
      k, maxIters)
  }

  /** Multi-source weighted shortest paths (Bellman–Ford relaxation)
    * over `(src, dst, weight)` edges following edge direction; weights
    * must be non-negative. Returns (id, cost), cost NULL if unreached
    * within `maxIters` relaxation rounds. See [[graph.Sssp]]. */
  def shortestPaths(edges: DataFrame, src: Column, dst: Column, weight: Column,
                    seeds: DataFrame, seedId: Column, maxIters: Int = 20): DataFrame = {
    val e = edges.select(src.as("src"), dst.as("dst"), weight.as("w"))
    graph.Sssp.run(e, graph.WebGraph.vertices(e),
      seeds.select(seedId.as("id")), maxIters)
  }

  /** Semi-supervised label propagation over any undirected (src, dst)
    * edge frame from a clamped (id, lbl ≥ 0) seed frame: (id, lbl,
    * is_seed), lbl = −1 where no labeled vertex reaches within
    * `maxIters` synchronous rounds (deterministic mode tie-break; see
    * graph.LabelPropagation). */
  def labelPropagation(edges: DataFrame, src: Column, dst: Column,
                       seeds: DataFrame, seedId: Column, seedLbl: Column,
                       maxIters: Int = 10): DataFrame =
    graph.LabelPropagation.run(
      edges.select(src.as("src"), dst.as("dst")),
      seeds.select(seedId.as("id"), seedLbl.as("lbl")), maxIters)

  /** Adamic–Adar link prediction over any undirected (src, dst) edge
    * frame: (a, b, common, aa_score) for non-adjacent pairs sharing
    * ≥1 neighbor, wedges through hubs above `degreeCap` dropped
    * (0 = no cap; see graph.LinkPrediction). */
  def adamicAdar(edges: DataFrame, src: Column, dst: Column,
                 degreeCap: Int = 0): DataFrame =
    graph.LinkPrediction.adamicAdar(edges.select(src.as("src"), dst.as("dst")),
      degreeCap)

  /** Co-citation + bibliographic coupling over any directed (src, dst)
    * edge frame: (a, b, cocitation, coupling) for a < b pairs sharing
    * ≥1 citer, wedges through hubs above `degreeCap` dropped
    * (0 = no cap; see graph.CoCitation). */
  def coCitation(edges: DataFrame, src: Column, dst: Column,
                 degreeCap: Int = 0): DataFrame =
    graph.CoCitation.run(edges.sparkSession,
      edges.select(src.as("src"), dst.as("dst")), degreeCap)

  /** SALSA hubs & authorities over any directed (src, dst) edge frame:
    * (id, auth, hub), L1-normalized after `iters` degree-normalized
    * update rounds (see graph.Salsa — HITS without the TKC effect). */
  def salsa(edges: DataFrame, src: Column, dst: Column,
            iters: Int = 5): DataFrame =
    graph.Salsa.run(edges.sparkSession,
      edges.select(src.as("src"), dst.as("dst")), iters)

  /** Katz centrality over any directed (src, dst) edge frame:
    * (id, katz) — the attenuated-walk status index after `iters`
    * rounds of x' = 1 + α·Σ_in x (see graph.Katz; no out-degree
    * normalization, unlike pageRank). */
  def katz(edges: DataFrame, src: Column, dst: Column,
           alpha: Double = 0.125, iters: Int = 5): DataFrame =
    graph.Katz.run(edges.sparkSession,
      edges.select(src.as("src"), dst.as("dst")), alpha, iters)

  /** HITS hubs & authorities over any directed (src, dst) edge frame:
    * (id, auth, hub), sum-normalized after `iters` full update rounds
    * (see graph.Hits). */
  def hits(spark: SparkSession, edges: DataFrame, src: Column, dst: Column,
           iters: Int = 5): DataFrame =
    graph.Hits.run(spark, edges.select(src.as("src"), dst.as("dst")), iters)

  /** Personalized PageRank (random walk with restart) over any
    * directed (src, dst) edge frame from a one-column seed frame:
    * (id, score) with Σscore = 1 — seed-conditional visit
    * probabilities after `iters` damped restart rounds (see
    * graph.Ppr; dangling mass restarts by the seed vector). */
  def ppr(spark: SparkSession, edges: DataFrame, src: Column, dst: Column,
          seeds: DataFrame, seedId: Column, iters: Int = 6,
          damping: Double = 0.85): DataFrame =
    graph.Ppr.run(spark, edges.select(src.as("src"), dst.as("dst")),
      seeds.select(seedId.as("id")), iters, damping)

  /** Ordered funnel counts over any event frame: (stage, step,
    * n_users, conversion), step k reached only strictly after step
    * k−1 (see operators.Funnel). */
  def funnel(events: DataFrame, user: Column, step: Column, ts: Column,
             steps: Seq[String]): DataFrame =
    operators.Funnel.stageCounts(events, user, step, ts, steps)

  /** Distributed k-means (Lloyd) over any (id, vector) frame:
    * (vec_id, cluster, dist2). Broadcast centroids, map-side arg-min,
    * algebraic per-dimension means. */
  def kmeans(vecs: DataFrame, id: Column, v: Column, k: Int,
             dims: Int, iters: Int = 3, seed: Int = 2): DataFrame =
    ann.AnnQueries.kmeansFit(vecs.select(id.as("vec_id"), v.as("v")),
        k, iters, dims, seed)
      .select(col("vec_id"), col("cid").as("cluster"), col("d2").as("dist2"))

  /** Brute-force cosine top-k: broadcast query frame × base frame.
    * Returns (qid, neighbor, rank, cosine). The query frame must share
    * the base frame's id space (queries ⊆ base): a query's own base
    * row is excluded from its neighbors by id equality — with disjoint
    * id spaces that exclusion would silently drop one unrelated base
    * vector per colliding id. */
  def knnBrute(base: DataFrame, id: Column, v: Column,
               queries: DataFrame, qid: Column, qv: Column,
               k: Int): DataFrame = {
    val e = base.select(id.as("vec_id"), v.as("v"))
      .withColumn("nrm", VF.norm(col("v")))
    val q = queries.select(qid.as("qid"), qv.as("qv"))
      .withColumn("qn", VF.norm(col("qv")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id"))
    broadcast(q).join(e, col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        VF.cosineByNorm(col("qv"), col("v"), col("qn"), col("nrm")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("neighbor"), col("rank"), col("cosine"))
  }

  /** Per-seed multi-source BFS over any directed (src, dst) edge
    * frame: (id, seed, dist) for every REACHED pair — one loop with
    * (id, seed)-keyed state, not |seeds| loops (see graph.MultiBfs).
    * The engine under sampled centralities. */
  def multiBfs(edges: DataFrame, src: Column, dst: Column,
               seeds: DataFrame, seedId: Column, maxIters: Int = 20): DataFrame =
    graph.MultiBfs.run(edges.select(src.as("src"), dst.as("dst")),
      seeds.select(seedId.as("id")), maxIters)

  /** Sampled closeness centrality (q135's engine on a caller graph):
    * (id, n_reached, sum_dist, closeness = n_reached/sum_dist) from
    * the per-seed distance fields of [[multiBfs]] — integers until the
    * one division. Exact closeness is all-pairs; K sampled sources is
    * the 100 TB path (Eppstein–Wang). */
  def closeness(edges: DataFrame, src: Column, dst: Column,
                seeds: DataFrame, seedId: Column, maxIters: Int = 20): DataFrame = {
    val e = edges.select(src.as("src"), dst.as("dst"))
    val pairs = graph.MultiBfs.run(e, seeds.select(seedId.as("id")), maxIters)
    val per = pairs.filter(col("dist") > 0)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_reached"), sum(col("dist")).as("sum_dist"))
    graph.WebGraph.vertices(e).join(per, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        coalesce(col("sum_dist"), lit(0L)).as("sum_dist"),
        when(col("sum_dist").isNotNull,
          round(col("n_reached").cast("double") / col("sum_dist"), 6))
          .otherwise(lit(0.0)).as("closeness"))
  }

  /** Modularity of a caller-supplied community assignment over any
    * undirected-able edge frame: one row per community with
    * (community, n_vertices, e_in, deg_sum, q_contrib) where Σq_contrib
    * is Newman's Q — each contribution ONE exact integer rational
    * (4m·e_c − d_c²)/4m² (q136's engine). `labels` maps every endpoint
    * id to a community key. */
  def modularity(edges: DataFrame, src: Column, dst: Column,
                 labels: DataFrame, id: Column, community: Column): DataFrame = {
    val lab = labels.select(id.as("id"), community.as("community"))
    val und = edges.select(src.as("s"), dst.as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("u"),
        greatest(col("s"), col("d")).as("v"))
      .distinct()
    val m = und.agg(count(lit(1)).as("m"))
    val eIn = und
      .join(lab.select(col("id").as("u"), col("community").as("cu")), "u")
      .join(lab.select(col("id").as("v"), col("community").as("cv")), "v")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community")).agg(count(lit(1)).as("e_in"))
    val deg = und.select(col("u").as("id"))
      .unionAll(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
      .join(lab, "id")
      .groupBy(col("community"))
      .agg(sum(col("d")).as("deg_sum"), count(lit(1)).as("n_vertices"))
    deg.join(eIn, Seq("community"), "left")
      .select(col("community"), col("n_vertices"), col("deg_sum"),
        coalesce(col("e_in"), lit(0L)).as("e_in"))
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_vertices"), col("e_in"), col("deg_sum"),
        round((lit(4) * col("m") * col("e_in") - col("deg_sum") * col("deg_sum"))
          .cast("double") / (lit(4.0) * col("m") * col("m")), 6).as("q_contrib"))
  }

  /** SCD type-2 history build over any keyed state stream (q124's
    * shape on a caller schema; q124 keeps its own body because it
    * orders by (ts, event_id) and reports min(ts) div 1000): consecutive
    * same-state runs per key become versioned intervals (key, version,
    * state, n_events, valid_from, valid_to, is_current) — valid_to is
    * the next version's start, NULL while current. ONE hash shuffle on
    * the key; `ord` must be a total order within a key (pass a
    * tiebreaker struct if the timestamp alone can tie). */
  def scd2(events: DataFrame, key: Column, ord: Column, state: Column): DataFrame = {
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("o"))
    val byVersion = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("version"))
    events.select(key.as("k"), ord.as("o"), state.as("s"))
      .withColumn("chg",
        when(lag(col("s"), 1).over(byKey).isNull ||
          lag(col("s"), 1).over(byKey) =!= col("s"), 1).otherwise(0))
      .withColumn("version", sum(col("chg")).over(byKey))
      .groupBy(col("k"), col("version"))
      .agg(min(col("s")).as("state"), count(lit(1)).as("n_events"),
        min(col("o")).as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVersion))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("k").as("key"), col("version"), col("state"), col("n_events"),
        col("valid_from"), col("valid_to"), col("is_current"))
  }

  /** Spearman rank correlation per group over the JOINT CONTINGENCY
    * TABLE (q127's engine): correct average tie-ranks from the value
    * marginals, count-weighted decimal moments, one double
    * division+sqrt — ranks never touch a per-row window, so this is
    * safe for LOW-CARDINALITY x/y at any corpus size. Returns
    * (group, n, spearman_rho). */
  def spearman(df: DataFrame, group: Column, x: Column, y: Column): DataFrame = {
    val joint = df.select(group.as("g"), x.as("x"), y.as("y"))
      .groupBy(col("g"), col("x"), col("y")).agg(count(lit(1)).as("n"))
    def ranks(v: String): DataFrame = {
      val m = joint.groupBy(col("g"), col(v)).agg(sum(col("n")).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col(v))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      // doubled average tie-rank: 2·rank(v) = 2·#less + #eq + 1
      m.withColumn("r2", lit(2) * coalesce(sum(col("cnt")).over(w), lit(0L))
          + col("cnt") + lit(1))
        .select(col("g"), col(v), col("r2").as(s"r2$v"))
    }
    val dec = (c: Column) => c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val cells = joint.join(ranks("x"), Seq("g", "x")).join(ranks("y"), Seq("g", "y"))
    cells.groupBy(col("g"))
      .agg(sum(col("n")).as("nn"),
        sum(dec(col("n") * col("r2x"))).as("sx"),
        sum(dec(col("n") * col("r2y"))).as("sy"),
        sum(dec(col("n")) * dec(col("r2x")) * dec(col("r2x"))).as("sxx"),
        sum(dec(col("n")) * dec(col("r2y")) * dec(col("r2y"))).as("syy"),
        sum(dec(col("n")) * dec(col("r2x")) * dec(col("r2y"))).as("sxy"))
      .select(col("g").as("group"), col("nn").as("n"),
        round((dec(col("nn")) * col("sxy") - col("sx") * col("sy")).cast("double")
          / sqrt((dec(col("nn")) * col("sxx") - col("sx") * col("sx")).cast("double")
            * (dec(col("nn")) * col("syy") - col("sy") * col("sy")).cast("double")), 6)
          .as("spearman_rho"))
  }

  /** Weight-mass quantiles per group from the VALUE HISTOGRAM (q138's
    * shape; q138 keeps its own body for its extra n_docs column): for
    * each percent in `pcts`, the smallest value whose cumulative
    * weight reaches that share of the group total — exact integer
    * cross-multiplication, the corpus never crosses a per-row window.
    * Use weight = the value itself for "p% of the bytes live below L"
    * statistics. */
  def weightedQuantiles(df: DataFrame, group: Column, value: Column,
                        weight: Column, pcts: Seq[Int]): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val hist = df.select(group.as("g"), value.as("v"), weight.as("w"))
      .groupBy(col("g"), col("v")).agg(sum(col("w")).as("w"))
    val cum = hist
      .withColumn("cumw", sum(col("w")).over(W.partitionBy(col("g")).orderBy(col("v"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("tw", sum(col("w")).over(W.partitionBy(col("g"))))
    cum.groupBy(col("g").as("group"))
      .agg(max(col("tw")).as("total_weight"),
        pcts.map(p => min(when(col("cumw") * 100 >= lit(p) * col("tw"), col("v")))
          .as(s"wp$p")): _*)
  }

  /** Bloom-semijoin prefilter (q126's engine): keeps the fact rows
    * whose key MIGHT be in `dimKeys`, via a fixed-size sketch built in
    * one pass and probed map-only at the scan — no false negatives, so
    * `prefilter.join(dim, ..., "left_semi")` afterwards is exactly the
    * plain semi join with only survivors shuffled. `numBits` bounds
    * the broadcast no matter how large the dim key set grows. */
  def bloomSemijoin(fact: DataFrame, factKey: Column,
                    dimKeys: DataFrame, dimKey: Column,
                    numBits: Long = 1L << 20): DataFrame = {
    // one O(1)-row driver scalar (the q28 pattern): might_contain
    // requires a CONSTANT sketch, so it is embedded as a literal
    val bf: Array[Byte] = dimKeys.select(dimKey.as("k"))
      .agg(call_function("graft_bloom_agg", col("k"),
        lit(math.max(1L, numBits / 8)), lit(numBits)).as("bf"))
      .first().getAs[Array[Byte]](0)
    if (bf == null) fact.filter(lit(false)) // empty dim ⇒ empty semi join
    else fact.filter(
      call_function("graft_bloom_count_contains", lit(bf), array(factKey)) > 0)
  }

  /** Exact threshold set-similarity join (q149's engine: AllPairs
    * prefix filtering on caller data): all pairs of rows whose
    * sorted-set columns reach Jaccard ≥ num/den — COMPLETE by construction
    * (pigeonhole prefixes + integer-exact verification), unlike the
    * LSH paths. `set` must be a sorted array<long> (e.g.
    * [[shingleSet]]). Returns (ida, idb, na, nb, inter, jaccard).
    *
    * The (doc_id, s, n) set frame feeds the prefix explode AND both
    * verification sides, so it is [[Checkpoints.cache]]d once (the set
    * column is computed once, not three times); the next `drain` frees
    * it. */
  def setSimilarityJoin(df: DataFrame, id: Column, set: Column,
                        num: Int = 3, den: Int = 5): DataFrame = {
    val sets = Checkpoints.cache(df.select(id.as("doc_id"), set.as("s"))
      .withColumn("n", size(col("s"))))
    val prefLen =
      (col("n") - expr(s"($num * n + ${den - 1}) div $den") + 1).cast("int")
    val pref = sets.select(col("doc_id"), col("n"),
      explode(slice(col("s"), lit(1), prefLen)).as("h"))
    val cand = pref.select(col("doc_id").as("da"), col("n").as("pna"), col("h"))
      .join(pref.select(col("doc_id").as("db"), col("n").as("pnb"), col("h")), "h")
      .filter(col("da") < col("db") &&
        lit(den) * least(col("pna"), col("pnb"))
          >= lit(num) * greatest(col("pna"), col("pnb")))
      .select(col("da"), col("db")).distinct()
    val sa = sets.toDF("da", "sa", "na")
    val sb = sets.toDF("db", "sb", "nb")
    cand.join(sa, "da").join(sb, "db")
      .withColumn("inter",
        call_function("graft_intersect_count", col("sa"), col("sb")))
      .filter(lit(den) * col("inter")
        >= lit(num) * (col("na") + col("nb") - col("inter")))
      .select(col("da").as("ida"), col("db").as("idb"), col("na"), col("nb"),
        col("inter"),
        round(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter")).cast("double"), 6).as("jaccard"))
  }

  /** Deterministic random-walk corpus over any (src, dst) edge frame
    * (q151's engine: the DeepWalk generator on a caller graph): one
    * walk per distinct vertex, `len` steps, neighbor index =
    * hash(walk∥step) mod out-degree over the dst-sorted adjacency —
    * reruns reproduce the identical corpus. Returns (walk_id, host,
    * step).
    *
    * Post-drain contract (see [[logregFit]]): the adjacency and the
    * per-step frontiers are [[Checkpoints.materialize]]d, so the next
    * `Checkpoints.drain` releases them — consume the result before a
    * drain; it is not re-executable afterwards. The steps stay off
    * `Checkpoints.iterate`: the output is the union of every step's
    * frontier. */
  def randomWalks(edges: DataFrame, src: Column, dst: Column,
                  len: Int = 8): DataFrame = {
    val e = edges.select(src.as("src"), dst.as("dst"))
    val bysrc = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    // checkpoint the adjacency and each frontier — the union would
    // otherwise re-execute step k's join chain once per later step
    // (quadratic; the q151 lesson, 11.4s → 2.5s at sf0.1)
    val adj = Checkpoints.materialize(e
      .withColumn("rn", row_number().over(bysrc.orderBy(col("dst"))))
      .withColumn("deg", count(lit(1)).over(bysrc)))
    var cur = Checkpoints.materialize(graph.WebGraph.vertices(e)
      .select(col("id").as("walk_id"), col("id").as("host"), lit(0).as("step")))
    val frames = Seq.newBuilder[DataFrame]
    frames += cur
    for (step <- 1 to len) {
      val pick = pmod(graft.functions.MathFunctions.hash32(
        concat(col("walk_id"), lit("#"), lit(step.toString))), col("deg")) + 1
      cur = Checkpoints.materialize(
        cur.join(adj, col("host") === col("src") && col("rn") === pick)
        .select(col("walk_id"), col("dst").as("host"), lit(step).as("step")))
      frames += cur
    }
    frames.result().reduce(_ unionByName _)
  }

  /** MERGE INTO semantics on caller frames (q143's engine: the
    * latest-wins apply): `base` rows carry version 0; `feed` rows carry
    * (key, version, op, payload) with op 'D' tombstoning the key. Returns the merged
    * snapshot (key, version, op, payload from the winning row). */
  def mergeLatestWins(base: DataFrame, baseKey: Column, basePayload: Column,
                      feed: DataFrame, feedKey: Column, version: Column,
                      op: Column, feedPayload: Column): DataFrame = {
    val b = base.select(baseKey.as("key"), lit(0L).as("version"),
      lit("B").as("op"), basePayload.as("payload"))
    val f = feed.select(feedKey.as("key"), version.cast("long").as("version"),
      op.as("op"), feedPayload.as("payload"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("version").desc, col("op"))
    b.unionByName(f)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .drop("rn")
  }

  /** Bow-tie decomposition of a caller's directed graph (q164's
    * engine): every vertex classified as core / in / out / tube /
    * tendril / disconnected (Broder et al.'s web macro-map).
    * Returns (id, cls). */
  def bowtie(spark: SparkSession, edges: DataFrame, src: Column, dst: Column,
             sccIters: Int = 20, maxRounds: Int = 32): DataFrame =
    graph.Bowtie.run(spark, edges.select(src.as("src"), dst.as("dst")),
      sccIters, maxRounds)

  /** Referential-integrity audit of one FK relationship on caller
    * frames (q163's engine): child rows/keys, null FKs, orphan
    * keys/rows and orphan rate, as one labeled row. Orphans are
    * NON-NULL child keys missing from the parent (SQL FK semantics).
    * Spark picks the parent join's strategy from the parent's size
    * statistics under `spark.sql.autoBroadcastJoinThreshold`. */
  def fkAudit(relationship: String, child: DataFrame, fk: Column,
              parent: DataFrame, pk: Column): DataFrame =
    queries.RelationalQueries.fkAudit(relationship,
      child.select(fk.as("fk0")), "fk0",
      parent.select(pk.as("pk0")), "pk0")

  /** Tie-aware ROC AUC of `score` against a binary `outcome` (q161's
    * engine on caller frames): the Mann-Whitney identity computed on
    * the score HISTOGRAM — one groupBy(score) plus a window over
    * O(distinct scores) rows, never a global per-row rank. Returns one
    * row (n_pos, n_neg, n_scores, auc). */
  def auc(df: DataFrame, score: Column, outcome: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(score.as("s"), outcome.cast("long").as("y"))
      .groupBy(col("s"))
      .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
      .withColumn("cneg", coalesce(sum(col("neg")).over(w), lit(0L)))
      .agg(sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
        count(lit(1)).as("n_scores"),
        sum(col("pos") * (col("cneg") + col("neg") / lit(2.0))).as("u"))
      .select(col("n_pos"), col("n_neg"), col("n_scores"),
        round(col("u") / (col("n_pos") * col("n_neg")), 6).as("auc"))
  }

  /** Ranking metrics over a caller retrieval run (q160's engine):
    * `run` carries one row per (query, retrieved item) with its 1-based
    * `rank`, binary `rel`evance, and the query's TOTAL relevant count
    * in the corpus (for the ideal DCG). Returns per-query
    * (qid, n_rel, p_at_k, rr, ndcg). */
  def rankMetrics(run: DataFrame, qid: Column, rank: Column, rel: Column,
                  nRelTotal: Column, k: Int): DataFrame =
    run.select(qid.as("qid"), rank.as("rank"), rel.cast("double").as("rel"),
        nRelTotal.as("nrt"))
      .groupBy(col("qid"))
      .agg(sum(col("rel") / log2(col("rank") + 1)).as("dcg"),
        sum(col("rel")).cast("long").as("hits"),
        min(when(col("rel") === 1.0, col("rank"))).as("first_rel"),
        max(col("nrt")).as("nrt"))
      .withColumn("ideal_k", least(col("nrt"), lit(k)).cast("int"))
      .withColumn("idcg", expr(
        "aggregate(sequence(1, greatest(ideal_k, 1)), cast(0.0 as double), " +
          "(a, i) -> a + 1.0 / log2(i + 1))"))
      .select(col("qid"), col("hits").as("n_rel"),
        round(col("hits").cast("double") / k, 6).as("p_at_k"),
        round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 6).as("rr"),
        when(col("ideal_k") >= 1, round(col("dcg") / col("idcg"), 6))
          .otherwise(0.0).as("ndcg"))

  /** Zipf rank-frequency OLS fit over a caller corpus (q162's engine):
    * ln(freq) on ln(rank) over the `topN` most frequent tokens.
    * Returns one row (n_terms, slope, intercept, r2). */
  def zipfFit(docs: DataFrame, text: Column, topN: Int = 200): DataFrame =
    graft.text.TextQueries.zipfFitTokens(
      docs.select(text.as("t"))
        .select(explode(expr("regexp_extract_all(t, '[a-z0-9]+', 0)")).as("tok")),
      topN)

  /** Product-quantization codebook census over caller vectors (q166's
    * engine): `nSubs` subspaces of `dims/nSubs` components, `k`
    * centroids each, `iters` Lloyd rounds, trained in ONE distributed
    * loop. Returns (m, cid, n_vecs, mean_d2). */
  def pqCodebook(vecs: DataFrame, id: Column, v: Column, dims: Int,
                 nSubs: Int = 8, k: Int = 8, iters: Int = 2,
                 seed: Int = 3): DataFrame =
    graft.ann.AnnQueries.pqFit(
      vecs.select(id.as("vec_id"), v.as("v")), dims, nSubs, k, iters, seed)

  /** Markov removal-effect attribution on a caller event log (q182's
    * engine): journeys up to the first `convType` event become a
    * first-order chain; each reported channel's credit is the drop in
    * absorbing conversion probability when it is removed. Returns
    * (channel, base_pconv, removed_pconv, removal_effect, share).
    *
    * The chain solve collects the O(channels²) transition matrix to
    * the driver — only safe for a bounded channel enum. The collect is
    * guarded: past `maxPairs` distinct (src, dst) transition pairs the
    * call fails loudly with a diagnosis instead of risking a driver
    * OOM on a high-cardinality channel column. */
  def markovAttribution(events: DataFrame, user: Column, ts: Column,
                        id: Column, channel: Column, convType: String,
                        channels: Seq[String], iters: Int = 24,
                        maxPairs: Long = operators.Markov.MaxTransitionPairs): DataFrame =
    operators.Markov.removalEffects(events, user, ts, id, channel,
      convType, channels, iters, maxPairs)

  /** Per-group heavy hitters on caller frames (q167's engine): items
    * whose count clears share 1/`den` of the group's mass (integer
    * cross-multiplication) and a `minCount` floor. */
  def heavyHitters(df: DataFrame, group: Column, item: Column,
                   den: Long = 100L, minCount: Long = 5L): DataFrame = {
    val cnt = df.select(group.as("grp"), item.as("item"))
      .groupBy(col("grp"), col("item")).agg(count(lit(1)).as("cnt"))
    val tot = cnt.groupBy(col("grp")).agg(sum(col("cnt")).as("total"))
    cnt.join(broadcast(tot), "grp")
      .filter(col("cnt") * den >= col("total") && col("cnt") >= minCount)
      .select(col("grp"), col("item"), col("cnt"), col("total"),
        round(col("cnt").cast("double") / col("total"), 6).as("share"))
  }

  /** Skew salting plan on a caller frame (q180's engine): per key, its
    * row count, the salt fan-out ⌈n/cap⌉ and post-split load. */
  def saltPlan(df: DataFrame, key: Column, cap: Long = 1000L): DataFrame =
    df.select(key.as("key")).groupBy(col("key"))
      .agg(count(lit(1)).as("n_rows"))
      .select(col("key"), col("n_rows"),
        expr(s"(n_rows + $cap - 1) div $cap").as("salt_factor"))
      .withColumn("rows_per_salt",
        expr("(n_rows + salt_factor - 1) div salt_factor"))
      .withColumn("needs_salt", col("salt_factor") > 1)

  /** Zone-map audit on a caller frame (q181's engine): per `block`,
    * (count, min, max) of `value` and whether a [lo, hi] range
    * predicate could skip the block. */
  def zoneMaps(df: DataFrame, block: Column, value: Column,
               lo: Double, hi: Double): DataFrame =
    df.select(block.as("block"), value.as("v"))
      .groupBy(col("block"))
      .agg(count(lit(1)).as("n_rows"),
        round(min(col("v")), 6).as("min_v"), round(max(col("v")), 6).as("max_v"))
      .withColumn("hit", col("max_v") >= lo && col("min_v") <= hi)

  /** Two-feature OLS on a caller frame (q185's engine): one 10-moment
    * aggregate pass + Cramer solve. Returns one row
    * (n_rows, intercept, b_x1, b_x2, r2, rmse). */
  def olsFit2(df: DataFrame, x1: Column, x2: Column, y: Column): DataFrame =
    operators.Glm.olsFit2(df, x1, x2, y)

  /** Logistic regression on a caller frame (q186's engine): `iters`
    * IRLS rounds, one moment pass each. Returns one row
    * (n_rows, intercept, b_x, mean_logloss, accuracy).
    *
    * The returned frame is EAGER (the fit runs now, not at first
    * action) and reads [[Checkpoints.materialize]]d blocks only: the
    * per-row input and the last round's coefficients (each earlier
    * round's are released as the next one is made). The session's next
    * `Checkpoints.drain` releases both — consume (collect/write) the
    * frame before a drain; re-executing it after one fails with a
    * missing-checkpoint-block error rather than silently recomputing.
    * Same contract as [[randomWalks]]. */
  def logregFit(df: DataFrame, x: Column, y: Column,
                iters: Int = 3): DataFrame =
    operators.Glm.logregFit(df, x, y, iters)

  // -------------------------------------------------- featurization
  /** Chi-squared (token, class) feature ranking on a labeled text
    * frame (q199's engine): top-K features per class with their exact
    * contingency counts. */
  def chi2Features(df: DataFrame, id: Column, label: Column, text: Column,
                   topK: Int = 10): DataFrame =
    operators.Featurize.chi2Features(df, id, label, text, topK)

  /** Multinomial naive Bayes trained and scored on a labeled text
    * frame (q200's engine): resubstitution confusion matrix with
    * per-class shares. */
  def naiveBayes(df: DataFrame, id: Column, label: Column, text: Column): DataFrame =
    operators.Featurize.naiveBayes(df, id, label, text)

  /** Hashing-trick featurizer collision census (q201's engine). */
  def featureHash(df: DataFrame, id: Column, text: Column,
                  dim: Int = 256): DataFrame =
    operators.Featurize.featureHash(df, id, text, dim)

  /** N-gram novelty scores in id order (q202's engine) — the
    * dataset-curation contribution metric. */
  def noveltyScores(df: DataFrame, id: Column, text: Column): DataFrame =
    operators.Featurize.noveltyScores(df, id, text)

  /** Windowed distance-weighted co-occurrence counts over the capped
    * vocabulary (q207's engine) — the GloVe X-matrix build. */
  def cooccurrence(df: DataFrame, id: Column, text: Column,
                   window: Int = 3, vocabCap: Int = 40,
                   topK: Int = 30): DataFrame =
    operators.Featurize.cooccurrence(df, id, text, window, vocabCap, topK)

  /** Leakage-safe K-fold target encoding with m-estimate shrinkage
    * (q208's engine). The caller supplies the fold column. */
  def targetEncoding(df: DataFrame, category: Column, fold: Column,
                     target: Column, smooth: Double = 10.0): DataFrame =
    operators.Assemble.targetEncoding(df, category, fold, target, smooth)

  // -------------------------------------------------- training assembly
  /** Concat-and-cut sequence-packing census per shard (q203's
    * engine). `nTokens` is the caller's token count column. */
  def seqPacking(df: DataFrame, id: Column, shard: Column, nTokens: Column,
                 packLen: Long = 2048L): DataFrame =
    operators.Assemble.seqPacking(df, id, shard, nTokens, packLen)

  /** Hash shard-parity audit (q206's engine): per-shard doc count,
    * token mass, group diversity. */
  def shardParity(df: DataFrame, id: Column, group: Column, nTokens: Column,
                  nShards: Int = 16): DataFrame =
    operators.Assemble.shardParity(df, id, group, nTokens, nShards)

  /** Pad-batching waste census at a fixed token budget (q210's
    * engine). */
  def padBatching(df: DataFrame, nTokens: Column,
                  budget: Long = 8192L): DataFrame =
    operators.Assemble.padBatching(df, nTokens, budget)

  /** Top principal component of an (id, vector) frame by `rounds`
    * power iterations (q205's engine): per-round Rayleigh eigenvalue +
    * explained-variance share. */
  def pcaTopComponent(vecs: DataFrame, id: Column, vec: Column,
                      dim: Int, rounds: Int = 3): DataFrame =
    operators.Spectral.pcaTopComponent(vecs, id, vec, dim, rounds)

  /** Fiedler-vector spectral bipartition of a bounded edge frame
    * (q209's engine): per-round algebraic-connectivity estimate and
    * sign-cut census. */
  def fiedler(edges: DataFrame, src: Column, dst: Column,
              rounds: Int = 4): DataFrame =
    graph.Fiedler.run(edges, src, dst, rounds)

  // -------------------------------------------------- streaming
  /** Streaming exact dedup with bounded state (watermark horizon). */
  def dedupStream(docs: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    streaming.StreamingWindows.dedupStream(docs, watermarkDelay)
}
