package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Compiled winnowing fingerprint summary (reference: the q43
  * operator). The composed form runs the whole pipeline — word split,
  * trigram shingles, md5-derived 32-bit hash per shingle, min over the
  * trailing 4-window, distinct/min/max — through interpreted HOF
  * lambdas, re-running a 3-node md5 chain per shingle per row. This
  * kernel is the identical arithmetic in one JIT-compiled pass: the
  * shingle hashes of [[MinhashMath.shingleHashes]] ([[WordGrams]]),
  * then the min of the trailing ≤4 hashes and their distinct count /
  * min / max — integers throughout, so equality with the composed form
  * is exact (WinnowSpec pins it).
  */
object WinnowMath {
  def winnow(text: UTF8String): InternalRow = {
    val hs = MinhashMath.shingleHashes(text)
    var minFp = Long.MaxValue
    var maxFp = Long.MinValue
    val seen = new java.util.HashSet[java.lang.Long]()
    var i = 0
    while (i < hs.length) {
      var m = hs(i)
      var j = math.max(0, i - 3)
      while (j < i) { if (hs(j) < m) m = hs(j); j += 1 }
      seen.add(m)
      if (m < minFp) minFp = m
      if (m > maxFp) maxFp = m
      i += 1
    }
    new GenericInternalRow(Array[Any](seen.size.toLong, minFp, maxFp))
  }
}
