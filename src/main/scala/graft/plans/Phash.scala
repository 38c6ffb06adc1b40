package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Perceptual hash (aHash / average hash) over the stub-decoded
  * payload: the image near-dup fingerprint a multimodal pipeline
  * computes right after decode (public technique: average hash — e.g.
  * the pHash/aHash family popularized by Krawetz, "Looks Like It",
  * 2011). The "decode" is the q60 stub contract: the payload's code
  * points stand in for pixel intensities; a real decoder swaps into
  * the same kernel input with no schema change.
  *
  * Rule (over code points c_1..c_L, 64 pixels):
  *
  *  - pixel b (b = 0..63) averages the contiguous code-point block
  *    [⌊b·L/64⌋, ⌊(b+1)·L/64⌋) — the "resize to 8×8" step;
  *  - bit b is set iff the pixel mean exceeds the global mean. Both
  *    comparisons run in EXACT cross-multiplied integer arithmetic
  *    (sum_b·L > total·count_b) — no division, no floats, so the
  *    DuckDB oracle replays the hash bit-for-bit;
  *  - the 64 bits are carried as two non-negative 32-bit halves
  *    (lo = bits 0–31, hi = bits 32–63) — the q22 SimHash convention:
  *    bit 63 in a single int64 would sit in the sign bit, where
  *    literal/shift semantics diverge across engines.
  *
  * The defining aHash property — INVARIANCE under uniform brightness
  * shift (every intensity +k moves every block mean and the global
  * mean by k, leaving every comparison unchanged) — is PhashSpec's
  * pinned test, alongside the kernel ≡ composed-builtins twin.
  *
  * Requires L ≥ 64 (every pixel block non-empty); shorter payloads
  * return NULL-free empty array and are filtered by the caller.
  */
object PhashMath {

  val Pixels = 64

  /** a·b > c·d exactly, for non-negative operands, via 128-bit products
    * (high word from Math.multiplyHigh, low word compared unsigned). */
  private[graft] def gt128(a: Long, b: Long, c: Long, d: Long): Boolean = {
    val hi1 = java.lang.Math.multiplyHigh(a, b); val lo1 = a * b
    val hi2 = java.lang.Math.multiplyHigh(c, d); val lo2 = c * d
    hi1 > hi2 || (hi1 == hi2 && java.lang.Long.compareUnsigned(lo1, lo2) > 0)
  }

  /** [lo, hi] halves of the aHash, or an empty array when L < 64. */
  def phash(text: UTF8String): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val L = cps.length
    if (L < Pixels) return new GenericArrayData(Array.empty[Any])
    var total = 0L
    var i = 0
    while (i < L) { total += cps(i); i += 1 }
    var lo = 0L
    var hi = 0L
    var b = 0
    while (b < Pixels) {
      val s = b * L / Pixels
      val e = (b + 1) * L / Pixels
      var sum = 0L
      var j = s
      while (j < e) { sum += cps(j); j += 1 }
      // exact integer compare: mean_b > mean  ⇔  sum·L > total·(e−s).
      // Compared in 128 bits: the cross products exceed int64 once the
      // payload passes ~2e7 code points (total ~ L·1.1e6, times L/64),
      // and a silent wrap would flip the bit.
      if (gt128(sum, L.toLong, total, (e - s).toLong)) {
        if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
      }
      b += 1
    }
    new GenericArrayData(Array[Any](lo, hi))
  }
}
