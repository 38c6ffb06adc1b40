package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** The derived web graph (SURVEY §5): testdata has no link table, so
  * consecutive lineitems of the same order link their parts' pages.
  * URLs are `http://part<pk % Hosts>.example.com/p<pk>` so the URL ops
  * (fragments, trim, host projection) are exercised; duplicates and
  * fragments occur by construction. Every derivation here has a twin
  * CTE in graft.oracle.Sql (rawEdgesCte / edgesCte / graphCtes).
  *
  * Scale: edge derivation is one shuffle (window over l_orderkey);
  * dedup is a distinct on (src,dst). At 100 TB the same plan holds —
  * the window partitions by order key (high cardinality, no skew).
  */
object WebGraph {

  /** 200 hosts: at sf0.01 (2000 parts, ~45k page edges) the projected
    * host graph covers ~2/3 of the 200×199 ordered pairs — real degree
    * variance for HostRank, instead of the complete digraph a smaller
    * host count degenerates to. */
  val Hosts = 200

  def urlOf(pk: Column): Column =
    concat(lit("http://part"), pmod(pk, lit(Hosts)).cast("string"),
      lit(".example.com/p"), pk.cast("string"))

  /** Raw page edges, pre-cleanup: some targets carry a '#secN' fragment
    * and a leading space so removeDuplicateLinks has work to do. */
  def rawEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .withColumn("next_pk", lead(col("l_partkey"), 1).over(w))
      .withColumn("next_ln", lead(col("l_linenumber"), 1).over(w))
      .filter(col("next_pk").isNotNull)
      .select(
        urlOf(col("l_partkey")).as("src"),
        concat(
          when(pmod(col("next_ln"), lit(5)) === 0, lit(" ")).otherwise(lit("")),
          urlOf(col("next_pk")),
          when(pmod(col("next_ln"), lit(3)) === 0,
            concat(lit("#sec"), col("next_ln").cast("string"))).otherwise(lit("")))
          .as("dst"))
  }

  /** removeDuplicateLinks (LinkRankComputation.java:304-340): trim both
    * ends, strip the #fragment from the target, drop case-insensitive
    * self-links, distinct targets per source.
    *
    * Deliberate deviation: the reference replaces a vertex's edge list
    * only when the deduped set is non-empty (`newEdges.size() > 0`
    * guard), so a vertex whose out-links are ALL self-links keeps them
    * and stays non-dangling there; here such a vertex loses its edges
    * and becomes dangling. The set-level filter is the natural
    * relational form, the corner case cannot occur in the derived
    * graph (urlOf targets differ from sources by construction), and
    * the DuckDB oracle (Sql.edgesCte) encodes the same rule. */
  def dedupEdges(raw: DataFrame): DataFrame = {
    val src = trim(col("src"))
    val dst = substring_index(trim(col("dst")), "#", 1)
    raw.select(src.as("src"), dst.as("dst"))
      .filter(lower(col("dst")) =!= lower(col("src")))
      .distinct()
  }

  /** The page graph. `removeDuplicates` mirrors the reference's job
    * toggle (LinkRankComputation.java:92,149): when off, the raw edges
    * feed the computation untouched — no trim, no fragment strip, no
    * self-link drop, no distinct. */
  def edges(spark: SparkSession, sfDir: String,
            removeDuplicates: Boolean = true): DataFrame =
    if (removeDuplicates) dedupEdges(rawEdges(spark, sfDir))
    else rawEdges(spark, sfDir)

  /** Cleaned page edges, memoized per session+dir: seven queries
    * (q01–q04, q07, q10, and HostRank's projection) consume the same
    * derivation (window over the fact table + distinct) — one scan per
    * session instead of one per query. */
  def cachedEdges(spark: SparkSession, sfDir: String): DataFrame =
    graft.SessionCache.cached(spark, s"edges:$sfDir")(edges(spark, sfDir))

  /** Host projection (HostRank input): host(src) -> host(dst), cleaned
    * of self-links, distinct (Nutch2HostInputFormat semantics). */
  def hostEdges(pageEdges: DataFrame): DataFrame =
    pageEdges.select(
        graft.functions.UrlFunctions.urlHost(col("src")).as("src"),
        graft.functions.UrlFunctions.urlHost(col("dst")).as("dst"))
      .filter(lower(col("dst")) =!= lower(col("src")))
      .distinct()

  /** [[hostEdges]] of the cleaned page graph, memoized per
    * session+dir like [[cachedEdges]]: seven queries (q03, q35, q55,
    * q66, q69, q78, q79) consume the same projection+distinct — one
    * derivation per session instead of one per query run. */
  def cachedHostEdges(spark: SparkSession, sfDir: String): DataFrame =
    graft.SessionCache.cached(spark, s"hostedges:$sfDir")(
      hostEdges(cachedEdges(spark, sfDir)))

  /** Weighted host projection: like [[hostEdges]] but keeping the
    * page-link multiplicity per host pair as `cnt` — the edge-strength
    * input for cost-based traversal (q87). Same cleanup rule; the
    * groupBy replaces the distinct (distinct ≡ groupBy dropping cnt). */
  def weightedHostEdges(pageEdges: DataFrame): DataFrame =
    pageEdges.select(
        graft.functions.UrlFunctions.urlHost(col("src")).as("src"),
        graft.functions.UrlFunctions.urlHost(col("dst")).as("dst"))
      .filter(lower(col("dst")) =!= lower(col("src")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))

  /** Undirected edge list `(a, b)` of `edges(src, dst)`: both
    * orientations of every edge, self-loops dropped, distinct. */
  def undirected(edges: DataFrame): DataFrame =
    edges.select(col("src").as("a"), col("dst").as("b"))
      .unionAll(edges.select(col("dst").as("a"), col("src").as("b")))
      .filter(col("a") =!= col("b")).distinct()

  /** Vertex set of an edge list: distinct src ∪ dst. */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .unionAll(edges.select(col("dst").as("id")))
      .distinct()
}
