package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Compiled per-document bigram frequency summary (q46's repetition
  * statistic). Bigram statistics are strictly per-row, so the explode +
  * groupBy(doc_id, gram) formulation shuffles every bigram string only
  * to reunite rows that never left their document; this kernel computes
  * max-frequency and total count in one compiled pass over the row —
  * the operator becomes map-only (zero shuffle). Counts are over exact
  * bigrams ([[WordGrams]] slices, n = 2; no hashing), so results equal
  * the relational formulation integer-for-integer (BigramSpec pins it;
  * the DuckDB oracle keeps the unnest + GROUP BY form).
  */
object BigramMath {
  def topBigram(text: UTF8String): InternalRow = {
    val g = WordGrams(text)
    if (g.words < 2) return new GenericInternalRow(Array[Any](0L, 0L))
    val m = new java.util.HashMap[UTF8String, Long]()
    var mx = 0L
    var i = 0
    while (i < g.words - 1) {
      val k = UTF8String.fromBytes(g.bytes, g.start(i, 2), g.length(i, 2))
      val c = m.getOrDefault(k, 0L) + 1L
      m.put(k, c)
      if (c > mx) mx = c
      i += 1
    }
    new GenericInternalRow(Array[Any](mx, (g.words - 1).toLong))
  }
}
