package graft.plans

import java.math.RoundingMode

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Compiled per-document character-entropy summary (q95's quality
  * signal). Shannon entropy needs the per-document code-point
  * histogram, which the composed formulation can only express as
  * explode(split(text,'')) → exchange → re-group — a |text|× row
  * inflation of the corpus just to reunite characters that never left
  * their document (the [[BigramMath]] argument, one level finer). This
  * kernel folds the histogram and the entropy sum in ONE compiled pass
  * over the row: the operator is map-only, zero shuffle.
  *
  * Exactness (the q79 grid convention): each term −p·ln(p) is
  * decimal-rounded at 12 places (BigDecimal HALF_UP — the same
  * quantization Spark's `round(x,12)` and DuckDB's
  * `CAST(round(x,12) AS DECIMAL(38,12))` produce) and carried as a
  * scaled int64; the per-document total is an exact long sum
  * (association-free by construction, ≤ k·0.54e12 ≪ 2⁶³), so the
  * DuckDB oracle replays the identical rational k·10⁻¹² with its
  * unnest + GROUP BY formulation.
  */
object EntropyMath {
  def charEntropy(text: UTF8String): InternalRow = {
    val s = text.toString
    val m = new java.util.HashMap[Integer, Long]()
    var n = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      m.merge(cp, 1L, (a, b) => a + b)
      n += 1
      i += Character.charCount(cp)
    }
    if (n == 0L) return new GenericInternalRow(Array[Any](0L, 0L, 0L))
    var entE12 = 0L
    val it = m.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      val p = c.toDouble / n
      val t = -(p * math.log(p))
      entE12 += java.math.BigDecimal.valueOf(t)
        .setScale(12, RoundingMode.HALF_UP)
        .scaleByPowerOfTen(12).longValueExact()
    }
    new GenericInternalRow(Array[Any](n, m.size.toLong, entE12))
  }
}
