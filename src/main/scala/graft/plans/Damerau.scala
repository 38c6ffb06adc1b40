package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** FULL (unrestricted) Damerau–Levenshtein distance as a compiled
  * kernel (q309) — the Lowrance–Wagner algorithm with the
  * last-occurrence dictionary, NOT the cheaper optimal-string-alignment
  * restriction: "CA"→"ABC" is 2 here (transpose then insert through
  * the transposed pair), where OSA says 3. That is the variant
  * DuckDB's native `damerau_levenshtein` implements (probed), so the
  * oracle twin is again an independent native implementation.
  * Transpositions are why this exists next to plain Levenshtein (q54):
  * the commonest human typo class ("teh") costs 1 here and 2 there.
  *
  * UNIT CAVEAT (same as [[JaroWinklerMath]]): distances are computed
  * over UTF-16 CODE UNITS (`UTF8String.toString` + `charAt`), while
  * DuckDB's native `damerau_levenshtein` counts Unicode CODEPOINTS —
  * identical on ASCII/BMP text (the q309 fixture: lowercased
  * [a-z ] tokens), divergent if a fixture ever gains astral-plane
  * characters (a surrogate pair counts as 2 units here, 1 codepoint
  * there). Gate fixtures must stay BMP-only, or this kernel must move
  * to `codePointAt` iteration first.
  */
object DamerauMath {

  def distance(ua: UTF8String, ub: UTF8String): Long = {
    val a = ua.toString
    val b = ub.toString
    val la = a.length
    val lb = b.length
    if (la == 0) return lb.toLong
    if (lb == 0) return la.toLong
    val inf = la + lb
    val da = new java.util.HashMap[Character, Integer]()
    val d = Array.ofDim[Int](la + 2, lb + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= la) { d(i + 1)(0) = inf; d(i + 1)(1) = i; i += 1 }
    var j = 0
    while (j <= lb) { d(0)(j + 1) = inf; d(1)(j + 1) = j; j += 1 }
    i = 1
    while (i <= la) {
      var db = 0
      j = 1
      while (j <= lb) {
        val k = Option(da.get(b.charAt(j - 1))).map(_.intValue).getOrElse(0)
        val l = db
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) { db = j; 0 } else 1
        val sub = d(i)(j) + cost
        val ins = d(i + 1)(j) + 1
        val del = d(i)(j + 1) + 1
        val trn = d(k)(l) + (i - k - 1) + 1 + (j - l - 1)
        d(i + 1)(j + 1) = math.min(math.min(sub, ins), math.min(del, trn))
        j += 1
      }
      da.put(a.charAt(i - 1), i)
      i += 1
    }
    d(la + 1)(lb + 1).toLong
  }
}
