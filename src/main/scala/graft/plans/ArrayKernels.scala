package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData

/** Compiled vector kernels. Spark's higher-order functions (zip_with /
  * aggregate) evaluate their lambda INTERPRETED, once per element per
  * row — for the 64-dim scoring loops of the ANN/dedup suite that is
  * the hot path. These statics are called from generated code instead
  * (one JIT-compiled loop per row, inside whole-stage codegen).
  *
  * Bit-exactness: the fold is the same left-to-right accumulation from
  * 0.0 as `aggregate(zip_with(a, b, _*_), 0.0, _+_)`, so results are
  * bitwise identical to the HOF formulation (VectorKernelSpec asserts
  * it) and the DuckDB oracle twins (Sql.listDot / Sql.listDist2) are
  * unchanged. Assumes equal-length arrays with non-null elements (all
  * graft embedding columns) — length is clamped to the shorter side.
  */
object ArrayKernelMath {
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  def dist2(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }
}
