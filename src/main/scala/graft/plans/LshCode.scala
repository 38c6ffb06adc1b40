package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import graft.functions.MathFunctions

/** Compiled random-hyperplane LSH code. The composed form evaluates
  * `bits` separate dot-product expressions per row (each against a
  * 64-literal ±1 array); this kernel computes all sign bits in one
  * pass, deriving the hyperplane components from the same integer
  * parity formula as VectorFunctions.signAt — products are v·(±1.0)
  * exactly, so the per-plane sums and the resulting code are bitwise
  * identical to the composed formulation (VectorKernelSpec pins it).
  */
object LshCodeMath {
  private val A0 = MathFunctions.hashA(0)
  private val B0 = MathFunctions.hashB(0)
  private val P = MathFunctions.HashP

  /** ±1.0 hyperplane component — same integers as signAt(j, i). */
  private def sign(j: Int, i: Int): Double = {
    val h = (A0 * (j * 128L + i) + B0) % P
    if (h % 2 == 1) 1.0 else -1.0
  }

  def code(v: ArrayData, dims: Int, bits: Int, planeOffset: Int): Long = {
    val n = math.min(dims, v.numElements())
    var c = 0L
    var j = 0
    while (j < bits) {
      var acc = 0.0
      var i = 0
      while (i < n) { acc += v.getDouble(i) * sign(planeOffset + j, i); i += 1 }
      if (acc >= 0) c |= 1L << j
      j += 1
    }
    c
  }

  /** All `nBands` band codes in ONE pass over the vector: band b covers
    * planes [b*bits, (b+1)*bits), so element b equals
    * `code(v, dims, bits, b*bits)` — multi-band callers (q24's 4×8-bit
    * banding, q31's 4×4-bit split) read the vector once instead of once
    * per band. Each plane's sum still accumulates in ascending element
    * order, so every band code is bitwise identical to the per-band
    * kernel (VectorKernelSpec pins it). */
  def codes(v: ArrayData, dims: Int, bits: Int, nBands: Int): ArrayData = {
    val n = math.min(dims, v.numElements())
    val total = bits * nBands
    val acc = new Array[Double](total)
    var i = 0
    while (i < n) {
      val x = v.getDouble(i)
      var j = 0
      while (j < total) { acc(j) += x * sign(j, i); j += 1 }
      i += 1
    }
    val out = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var c = 0L
      var k = 0
      while (k < bits) { if (acc(b * bits + k) >= 0) c |= 1L << k; k += 1 }
      out(b) = c
      b += 1
    }
    new GenericArrayData(out)
  }
}
