package graft.plans

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled word-n-gram hash kernel for the boilerplate /
  * n-gram-decontamination operators (q100/q108). The composed
  * formulation materialized every n-gram as a ~50-byte STRING
  * (transform + slice + array_join), exploded it, and ran a 3-node
  * md5→substring→conv chain twice per gram row; this kernel hashes each
  * gram's byte slice once and emits only the two 32-bit hash halves —
  * the only thing the downstream aggregation ever needed. Gram strings
  * never exist as column values, so the explode carries 16-byte pairs.
  *
  * Grams and hashes are [[WordGrams]]' (the shingle convention: under
  * n words, one entry for the whole text — callers wanting
  * empty-for-short filter first); GramHashSpec pins them bit-for-bit to
  * the composed chain.
  */
object GramHashMath {
  def gramHashes(text: UTF8String, n: Int): ArrayData = {
    val g = WordGrams(text)
    val out = new Array[Any](g.grams(n))
    var i = 0
    while (i < out.length) {
      val d = g.md5(i, n)
      out(i) = new GenericInternalRow(Array[Any](WordGrams.hlo(d), WordGrams.hhi(d)))
      i += 1
    }
    new GenericArrayData(out)
  }
}
