package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Compiled 64-bit SimHash (q22). The composed form exploded every
  * word token and ran 64 conditional SUM aggregations per document
  * through an exchange; the per-bit vote counters are per-document
  * scalars, computed here in one compiled pass. Each word votes with
  * its two 32-bit hash halves ([[WordGrams]], n = 1); the signature is
  * carried as the same two halves, the representation the banding and
  * the DuckDB oracle use. Vote sums are integers and order-independent,
  * so equality with the explode+groupBy formulation is exact
  * (SimhashKernelSpec).
  */
object SimhashMath {
  def simhash(text: UTF8String): InternalRow = {
    val g = WordGrams(text)
    val cnt = new Array[Int](64)
    var t = 0
    while (t < g.words) {
      val d = g.md5(t, 1)
      val hlo = WordGrams.hlo(d)
      val hhi = WordGrams.hhi(d)
      var i = 0
      while (i < 32) {
        if (((hlo >> i) & 1L) == 1L) cnt(i) += 1 else cnt(i) -= 1
        if (((hhi >> i) & 1L) == 1L) cnt(32 + i) += 1 else cnt(32 + i) -= 1
        i += 1
      }
      t += 1
    }
    var lo = 0L
    var hi = 0L
    var i = 0
    while (i < 32) {
      if (cnt(i) >= 0) lo |= 1L << i
      if (cnt(32 + i) >= 0) hi |= 1L << i
      i += 1
    }
    new GenericInternalRow(Array[Any](lo, hi))
  }
}
