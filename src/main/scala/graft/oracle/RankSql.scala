package graft.oracle

/** Unrolled-iteration DuckDB SQL for LinkRank/TrustRank — the oracle
  * twin of graft.graph.LinkRank.run. The fixed iteration count lets us
  * unroll to a plain CTE chain (no recursive-CTE aggregation limits);
  * every arithmetic step mirrors the Spark side: same double literals,
  * same association, same A&S erf (Sql.erf), round(_, 6) at the end.
  */
object RankSql {

  /** Builds the CTE chain from a vertex/edge CTE set to a final CTE
    * named `${prefix}ranked(id, score)`.
    *
    * Expects an edge CTE named `e_<name>`... — callers pass `edgeCte`,
    * the NAME of a CTE with columns (src, dst), already deduped.
    *
    * @param initExpr SQL expression over `id` giving the initial score
    *                 (ignored when `initFromCte` is set).
    * @param trustedPred if set, TrustRank mode: SQL predicate over `id`
    *                    marking trusted vertices (must agree with
    *                    |initExpr - 1| < 1e-3).
    * @param prefix namespaces every internal CTE so two chains can live
    *               in one WITH clause (q68 runs an original-graph chain
    *               and a mutated-graph chain back to back).
    * @param initFromCte if set, r0 reads (id, score) from this CTE
    *                    instead of evaluating `initExpr` — the oracle
    *                    twin of warm-starting LinkRank.run from a
    *                    previous raw iterate.
    * @param verticesFrom if set, rank over this existing vertex CTE
    *                     instead of deriving src∪dst from `edgeCte` —
    *                     an edge delta must not shrink the ranked
    *                     vertex set.
    * @param normalize false skips the log-normal CDF and emits the raw
    *                  damped iterate (LinkRank.runCounted's
    *                  normalize=false twin).
    */
  def chain(edgeCte: String, initExpr: String, iters: Int = 9,
            damping: Double = 0.85, scale: Double = 10.0,
            trustedPred: Option[String => String] = None,
            prefix: String = "",
            initFromCte: Option[String] = None,
            verticesFrom: Option[String] = None,
            normalize: Boolean = true): String = {
    val d = damping.toString
    val oneMinusD = (1.0 - damping).toString
    val P = prefix
    val vtx = verticesFrom.getOrElse(s"${P}vertices")
    val sb = new StringBuilder

    if (verticesFrom.isEmpty)
      sb ++= s"""${P}vertices AS MATERIALIZED (
  SELECT DISTINCT id FROM (SELECT src AS id FROM $edgeCte UNION ALL SELECT dst FROM $edgeCte)),
"""
    sb ++= s"""${P}outdeg AS MATERIALIZED (SELECT src, count(*) AS od FROM $edgeCte GROUP BY src),
${P}nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM $vtx),
"""
    trustedPred.foreach { pred =>
      sb ++= s"""${P}ntr AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM $vtx WHERE ${pred("id")}),
"""
    }
    val r0 = initFromCte match {
      case Some(c) => s"SELECT id, CAST(score AS DOUBLE) AS score FROM $c"
      case None => s"SELECT id, CAST(($initExpr) AS DOUBLE) AS score FROM $vtx"
    }
    sb ++= s"""${P}r0 AS MATERIALIZED ($r0),
"""
    for (k <- 1 to iters) {
      val p = s"${P}r${k - 1}"
      val dTerm = trustedPred match {
        case None => s"(SELECT ds FROM ${P}d$k) / ${P}nv.n"
        case Some(pred) =>
          s"(CASE WHEN ${pred("v.id")} THEN (SELECT ds FROM ${P}d$k) / (SELECT nt FROM ${P}ntr) ELSE 0.0 END)"
      }
      sb ++= s"""${P}d$k AS (SELECT coalesce(sum(p.score), 0) AS ds FROM $p p WHERE p.id NOT IN (SELECT src FROM ${P}outdeg)),
${P}r$k AS MATERIALIZED (
  SELECT v.id, ($oneMinusD / ${P}nv.n + $d * (coalesce(c.contrib, 0) + $dTerm)) AS score
  FROM $vtx v CROSS JOIN ${P}nv
  LEFT JOIN (SELECT e.dst AS did, sum(p.score / od.od) AS contrib
             FROM $edgeCte e JOIN $p p ON e.src = p.id JOIN ${P}outdeg od ON od.src = e.src
             GROUP BY e.dst) c ON v.id = c.did),
"""
    }
    if (!normalize) {
      sb ++= s"""${P}ranked AS (SELECT id, score FROM ${P}r$iters)"""
      return sb.toString
    }
    sb ++= s"""${P}logs AS (SELECT id, ln(score) AS l FROM ${P}r$iters),
${P}mustat AS (SELECT sum(l) / count(*) AS m FROM ${P}logs),
${P}sgstat AS (SELECT sqrt(sum((l - (SELECT m FROM ${P}mustat)) * (l - (SELECT m FROM ${P}mustat))) / count(*)) AS s FROM ${P}logs),
${P}sfix AS (SELECT (CASE WHEN s = 0 THEN 1e-10 ELSE s END) AS s FROM ${P}sgstat),
${P}zz AS (SELECT id, (l - (SELECT m FROM ${P}mustat)) / ((SELECT s FROM ${P}sfix) * ${Sql.Sqrt2}) AS z FROM ${P}logs),
${P}ranked AS (SELECT id, (0.5 * (1.0 + ${Sql.erf("z")})) * $scale AS score FROM ${P}zz)"""
    sb.toString
  }

  /** CTEs `l1` … `l<rounds>` of min-label propagation, each followed by
    * ",\n": every id takes the least label among its own and its
    * neighbours' in the edge CTE `e2(a, b)`, starting from a CTE
    * `l0(id, lbl)` — the unrolled oracle twin of
    * graft.graph.ConnectedComponents.propagate. */
  def minLabelRounds(rounds: Int): String =
    (1 to rounds).map { k =>
      val p = s"l${k - 1}"
      s"""l$k AS MATERIALIZED (
  SELECT v.id, least(v.lbl, coalesce(m.ml, v.lbl)) AS lbl
  FROM $p v LEFT JOIN (
    SELECT e2.a AS mid, min(p.lbl) AS ml FROM e2 JOIN $p p ON e2.b = p.id GROUP BY e2.a) m
  ON v.id = m.mid),
"""
    }.mkString

  /** Predicate-style helper type: trustedPred maps a column ref to SQL. */
  type Pred = String => String
}
