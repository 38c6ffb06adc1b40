package graft.oracle

/** DuckDB-dialect SQL text builders for the oracle side of the
  * correctness gate. Each builder is the value-identical twin of a
  * Column expression in graft.functions / graft.graph — same regexes,
  * same constants, same operation order — so the driver's DuckDB rerun
  * hash-matches the Spark result after round(x, 6).
  */
object Sql {

  /** Same regex as UrlFunctions.UrlRe (single-quoted SQL string: DuckDB
    * does not process backslash escapes inside '...'). */
  val UrlRe: String =
    """^([a-zA-Z][a-zA-Z0-9+.\-]*)://([^/?#:]*)(?::([0-9]+))?([^#?]*)(\?[^#]*)?(#.*)?$"""

  def urlGroup(c: String, g: Int): String = s"regexp_extract($c, '$UrlRe', $g)"
  def urlProtocol(c: String): String = urlGroup(c, 1)
  def urlHost(c: String): String = urlGroup(c, 2)
  def urlPort(c: String): String = urlGroup(c, 3)
  def urlFile(c: String): String = s"(${urlGroup(c, 4)} || ${urlGroup(c, 5)})"

  def isValidUrl(c: String): String =
    s"(${urlHost(c)} <> '' AND contains(${urlHost(c)}, '.'))"

  def reverseHost(c: String): String =
    s"array_to_string(list_reverse(string_split($c, '.')), '.')"

  def reverseUrl(c: String): String = {
    val port = urlPort(c)
    val file = urlFile(c)
    s"(${reverseHost(urlHost(c))} || ':' || ${urlProtocol(c)}" +
      s" || (CASE WHEN $port <> '' THEN ':' || $port ELSE '' END)" +
      s" || (CASE WHEN $file <> '' AND substr($file, 1, 1) <> '/' THEN '/' || $file ELSE $file END))"
  }

  /** Operates on a column holding a reversed url. */
  def unreverseUrl(c: String): String = {
    val head = s"(CASE WHEN instr($c, '/') > 0 THEN substr($c, 1, instr($c, '/') - 1) ELSE $c END)"
    val tail = s"(CASE WHEN instr($c, '/') > 0 THEN substr($c, instr($c, '/')) ELSE '' END)"
    val parts = s"string_split($head, ':')"
    s"(($parts)[2] || '://' || ${reverseHost(s"($parts)[1]")}" +
      s" || (CASE WHEN len($parts) = 3 THEN ':' || ($parts)[3] ELSE '' END) || $tail)"
  }

  def getReversedHost(c: String): String = s"substr($c, 1, instr($c, ':') - 1)"

  // ------------------------------------------------------------- math
  val Sqrt2 = "1.4142135623730951"

  /** A&S 7.1.26 erf — identical Horner ordering to MathFunctions.erf.
    * `z` must be a simple column reference (it is repeated). */
  def erf(z: String): String = {
    val a = s"abs($z)"
    val t = s"(1.0 / (1.0 + 0.3275911 * $a))"
    val poly = s"(((((1.061405429 * $t - 1.453152027) * $t + 1.421413741) * $t - 0.284496736) * $t + 0.254829592) * $t)"
    val e = s"(1.0 - $poly * exp(-($a * $a)))"
    s"(CASE WHEN $z < 0 THEN -$e ELSE $e END)"
  }

  def normalCdf(x: String, mu: String, sigma: String): String =
    s"(0.5 * (1.0 + ${erf(s"(($x - $mu) / ($sigma * $Sqrt2))")}))"

  /** 8 hex chars of an md5 hex column starting at 1-based `off` parsed
    * to BIGINT — exact integer parse, equals MathFunctions.hash32
    * (off=1) / hash32b (off=9). `h` is a column holding md5(x). */
  def hash32OfHexAt(h: String, off: Int): String =
    (0 until 8).map { i =>
      val d = s"(instr('0123456789abcdef', substr($h, ${off + i}, 1)) - 1)"
      s"CAST($d AS BIGINT) * ${1L << (4 * (7 - i))}"
    }.mkString("(", " + ", ")")

  def hash32OfHex(h: String): String = hash32OfHexAt(h, 1)

  def hash32(s: String): String = hash32OfHex(s"md5($s)")

  /** Twin of MathFunctions.universalHash. `h` in [0, 2^32). */
  def universalHash(h: String, k: Int): String = {
    val a = graft.functions.MathFunctions.hashA(k)
    val b = graft.functions.MathFunctions.hashB(k)
    val p = graft.functions.MathFunctions.HashP
    s"(($a * $h + $b) % $p)"
  }

  // ------------------------------------------------------------ vectors
  /** Twin of VectorFunctions.dot over a double list: left-to-right
    * list_reduce, same association as Spark's aggregate fold. */
  def listDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]), (x, y) -> x + y)"

  def listCosine(a: String, b: String): String =
    s"(${listDot(a, b)} / (sqrt(${listDot(a, a)}) * sqrt(${listDot(b, b)})))"

  /** Twin of VectorFunctions.norm. */
  def listNorm(v: String): String = s"sqrt(${listDot(v, v)})"

  /** Twin of VectorFunctions.cosineByNorm — `na`/`nb` hold
    * precomputed listNorm values. */
  def listCosineByNorm(a: String, b: String, na: String, nb: String): String =
    s"(${listDot(a, b)} / ($na * $nb))"

  /** Twin of VectorFunctions.dist2 (squared L2). Same association:
    * Spark folds from init 0.0, list_reduce from the first element —
    * 0.0 + x ≡ x for the non-negative squares, so the sums agree
    * bitwise. */
  def listDist2(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"

  /** Literal ±1 hyperplane j as a DuckDB list — identical values to
    * VectorFunctions.signVec. */
  def signList(j: Int, dims: Int): String =
    (0 until dims).map(i => s"${graft.functions.VectorFunctions.signAt(j, i)}.0")
      .mkString("[", ", ", "]")

  /** Twin of VectorFunctions.lshCode: `v` must hold a double list. */
  def lshCode(v: String, dims: Int, bits: Int, planeOffset: Int = 0): String =
    (0 until bits).map { j =>
      s"(CASE WHEN ${listDot(v, signList(planeOffset + j, dims))} >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Twin of MathFunctions.grid6: `e` on the 6-dp DECIMAL(38,6) grid. */
  def grid6(e: String): String = s"CAST(round($e, 6) AS DECIMAL(38,6))"

  // ----------------------------------------------------- derived graph
  /** Twin of WebGraph.urlOf. `pk` must be a non-negative int column. */
  def urlOf(pk: String): String =
    s"('http://part' || ($pk % ${graft.graph.WebGraph.Hosts}) || '.example.com/p' || $pk)"

  /** CTEs `li` and `raw_edges`: consecutive lineitems of an order link
    * their parts' pages (SURVEY §5). Twin of WebGraph.rawEdges. */
  val rawEdgesCte: String =
    s"""li AS MATERIALIZED (
  SELECT l_partkey,
    lead(l_partkey)    OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS next_pk,
    lead(l_linenumber) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS next_ln
  FROM lineitem),
raw_edges AS MATERIALIZED (
  SELECT ${urlOf("l_partkey")} AS src,
    ((CASE WHEN next_ln % 5 = 0 THEN ' ' ELSE '' END) ||
     ${urlOf("next_pk")} ||
     (CASE WHEN next_ln % 3 = 0 THEN '#sec' || next_ln ELSE '' END)) AS dst
  FROM li WHERE next_pk IS NOT NULL)"""

  /** CTE `edges`: removeDuplicateLinks semantics
    * (LinkRankComputation.java:304-340) — trim, strip #fragment, drop
    * case-insensitive self-links, distinct. Twin of WebGraph.edges. */
  val edgesCte: String =
    """edges AS MATERIALIZED (
  SELECT DISTINCT trim(src) AS src, split_part(trim(dst), '#', 1) AS dst
  FROM raw_edges
  WHERE lower(split_part(trim(dst), '#', 1)) <> lower(trim(src)))"""

  /** CTE `hedges`: the host projection of `edges` — both ends mapped
    * to their host, host self-links dropped case-insensitively,
    * distinct. Twin of WebGraph.hostEdges. */
  val hostEdgesCte: String =
    s"""hedges AS MATERIALIZED (
  SELECT DISTINCT ${urlHost("src")} AS src, ${urlHost("dst")} AS dst
  FROM edges
  WHERE lower(${urlHost("dst")}) <> lower(${urlHost("src")}))"""

  /** CTEs `und(u, v)`: each `hedges` link once as (least, greatest),
    * and `deg(id, d)`: each host's undirected degree. */
  val hostDegreeCtes: String =
    """und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM hedges),
deg AS MATERIALIZED (
  SELECT id, count(*) AS d FROM (
    SELECT u AS id FROM und UNION ALL SELECT v FROM und) GROUP BY id)"""

  /** CTEs for vertices (src ∪ dst), out-degrees, and vertex count, over
    * an `edges(src, dst)` CTE. */
  val graphCtes: String =
    """vertices AS (
  SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM vertices)"""
}
