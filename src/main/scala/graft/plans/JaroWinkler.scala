package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** Jaro–Winkler string similarity as a compiled kernel (q308's fuzzy
  * dictionary lookup) — textbook Jaro (match window
  * ⌊max(|a|,|b|)/2⌋ − 1, transpositions = out-of-order matches / 2)
  * with the Winkler common-prefix boost (ℓ ≤ 4, p = 0.1) applied only
  * above the standard 0.7 threshold. This is bit-for-bit the algorithm
  * DuckDB's `jaro_winkler_similarity` implements (probed on the
  * standard vectors: MARTHA/MARHTA 0.961̄, DIXON/DICKSONX 0.81333,
  * boost suppressed at jaro ≤ 0.7), so the oracle twin is the native
  * DuckDB function, not a SQL re-derivation. Operates on UTF-16 code
  * units (≡ code points on the fixture's ASCII tokens).
  */
object JwMath {

  def jaro(a: String, b: String): Double = {
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    if (a == b) return 1.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val ma = new Array[Boolean](la)
    val mb = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!mb(j) && a.charAt(i) == b.charAt(j)) {
          ma(i) = true; mb(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var mis = 0
    var k = 0
    i = 0
    while (i < la) {
      if (ma(i)) {
        while (!mb(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) mis += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    // transpositions = ⌊out-of-order matches / 2⌋ — INTEGER floor, the
    // convention DuckDB implements (probed: 'cumtomer'/'customer' has
    // mis=3 → t=1 → jaro 0.869048, not the t=1.5 variant's 0.845238)
    (md / la + md / lb + (md - mis / 2) / md) / 3.0
  }

  def jaroWinkler(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString
    val b = ub.toString
    val j = jaro(a, b)
    if (j > 0.7) {
      var l = 0
      val max = math.min(4, math.min(a.length, b.length))
      while (l < max && a.charAt(l) == b.charAt(l)) l += 1
      j + l * 0.1 * (1.0 - j)
    } else j
  }
}
