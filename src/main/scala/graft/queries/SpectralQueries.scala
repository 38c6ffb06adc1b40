package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.WebGraph
import graft.oracle.Sql

/** Spectral graph analysis (SURVEY §2.A companion): Fiedler-vector
  * bipartition of the undirected host graph by deflated power
  * iteration — the spectral-clustering / balanced-cut primitive a
  * web-graph engine runs to find macro-communities before assigning
  * crawl shards.
  */
object SpectralQueries {

  /** Power-iteration rounds on the deflated shifted Laplacian. */
  val FiedlerRounds = 4

  // --------------------------------------------------------------- q209
  /** Fiedler bipartition: approximate the second-smallest eigenvector
    * of the host graph's Laplacian L = D − A by power iteration on the
    * shifted operator M = cI − L (c = 2·max-degree + 1 ≥ λ_max by
    * Gershgorin, so L's smallest eigenvalues become M's largest),
    * deflating the trivial all-ones eigenvector by re-centering each
    * round. Emits, per round: the Rayleigh estimate of the algebraic
    * connectivity λ₂(L) and the sign-cut census (partition sizes, cut
    * edges) — the balanced-cut quality trace.
    *
    * Shape for 100 TB: the matvec A·v is ONE partial-agged aggregation
    * over the (undirected) edge frame joined to the O(vertices) score
    * frame, broadcast while it fits Spark's threshold (graft.Broadcasts,
    * one decision per run) — the LinkRank loop shape with a
    * symmetric edge side; D∘v and the shift are in-row; mean/norm are
    * 1-row broadcast aggregates; cross-round state is a vertex-score
    * frame, localCheckpoint'ed so the loop plan stays shallow. Every
    * per-row term is 1e-6-gridded and decimal-summed — the oracle
    * replays all rounds exactly. The deterministic start vector is
    * hash-VALUED per vertex (centered; not ±1 signs — a sign vector
    * can sit inside a symmetric eigenspace orthogonal to the Fiedler
    * vector), so no global ordering or window is ever needed. */
  def q209Fiedler(spark: SparkSession, sfDir: String): DataFrame =
    graft.graph.Fiedler.run(WebGraph.cachedHostEdges(spark, sfDir),
      col("src"), col("dst"), FiedlerRounds)

  val q209Sql: String = {
    def round_(r: Int, prevV: String): String =
      s"""av$r AS MATERIALIZED (
         |  SELECT id, CAST(sum(CAST(round(nx, 6) AS DECIMAL(38,6))) AS DOUBLE) AS av
         |  FROM (
         |    SELECT e.u AS id, pv.x AS nx FROM und e JOIN $prevV pv ON pv.id = e.v
         |    UNION ALL
         |    SELECT e.v AS id, pv.x AS nx FROM und e JOIN $prevV pv ON pv.id = e.u)
         |  GROUP BY id),
         |yr$r AS MATERIALIZED (
         |  SELECT pv.id, pv.d,
         |    round(((SELECT c FROM crow) - pv.d) * pv.x + coalesce(av, 0.0), 6) AS raw
         |  FROM $prevV pv LEFT JOIN av$r USING (id)),
         |lam$r AS MATERIALIZED (
         |  SELECT (SELECT c FROM crow) -
         |    CAST(sum(CAST(round(pv.x * yr$r.raw, 6) AS DECIMAL(38,6))) AS DOUBLE) AS lambda2
         |  FROM $prevV pv JOIN yr$r USING (id)),
         |yc$r AS MATERIALIZED (
         |  SELECT id, d, round(raw - (
         |    SELECT CAST(sum(CAST(round(raw, 6) AS DECIMAL(38,6))) AS DOUBLE) / count(*)
         |    FROM yr$r), 6) AS raw FROM yr$r),
         |v$r AS MATERIALIZED (
         |  SELECT id, d, round(raw / (
         |    SELECT sqrt(CAST(sum(CAST(round(raw * raw, 6) AS DECIMAL(38,6))) AS DOUBLE))
         |    FROM yc$r), 6) AS x FROM yc$r),
         |census$r AS MATERIALIZED (
         |  SELECT $r AS round,
         |    round((SELECT lambda2 FROM lam$r), 6) AS lambda2,
         |    (SELECT CAST(sum(CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM v$r) AS n_pos,
         |    (SELECT CAST(sum(CASE WHEN x < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM v$r) AS n_neg,
         |    (SELECT CAST(sum(CASE WHEN (a.x >= 0) <> (b.x >= 0) THEN 1 ELSE 0 END) AS BIGINT)
         |     FROM und JOIN v$r a ON a.id = und.u JOIN v$r b ON b.id = und.v) AS cut_edges,
         |    (SELECT count(*) FROM und) AS n_edges)""".stripMargin
    s"""WITH ${Sql.rawEdgesCte},
${Sql.edgesCte},
${Sql.hostEdgesCte},
${Sql.hostDegreeCtes},
crow AS MATERIALIZED (SELECT CAST(2 * max(d) + 1 AS DOUBLE) AS c FROM deg),
raw0 AS MATERIALIZED (
  SELECT id, d, CAST(${Sql.hash32("id")} % 1000 AS DOUBLE) / 1000.0 - 0.5 AS raw FROM deg),
rc0 AS MATERIALIZED (
  SELECT id, d, round(raw - (
    SELECT CAST(sum(CAST(round(raw, 6) AS DECIMAL(38,6))) AS DOUBLE) / count(*)
    FROM raw0), 6) AS raw FROM raw0),
v0 AS MATERIALIZED (
  SELECT id, d, round(raw / (
    SELECT sqrt(CAST(sum(CAST(round(raw * raw, 6) AS DECIMAL(38,6))) AS DOUBLE))
    FROM rc0), 6) AS x FROM rc0),
${round_(1, "v0")},
${round_(2, "v1")},
${round_(3, "v2")},
${round_(4, "v3")}
SELECT round, lambda2, n_pos, n_neg, cut_edges, n_edges FROM (
  SELECT * FROM census1 UNION ALL SELECT * FROM census2
  UNION ALL SELECT * FROM census3 UNION ALL SELECT * FROM census4)
ORDER BY round"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q209_fiedler" -> q209Fiedler)

  val oracles: Map[String, String] = Map(
    "q209_fiedler" -> q209Sql)
}
