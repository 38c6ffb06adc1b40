package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking (CDC) via a shift-based Gear rolling hash —
  * the real cut-point rule q62's fixed windows stood in for (reference
  * behavior: content-addressable blob-store dedup; Gear/FastCDC
  * family: Xia et al., USENIX ATC'16).
  *
  * Rule (over code points c_1..c_L of the text, positions 1-based):
  *
  *  - gear value  g(c) = (c + 1) · 2654435761  mod 2^32
  *    (Knuth multiplicative mix — pure integer arithmetic, portable)
  *  - rolling     h_i  = (2·h_{i−1} + g(c_i)) mod 2^32,  h_0 = 0
  *  - cut after position i (i < L) iff  h_i mod 2^maskBits == 0
  *  - chunks are the substrings between consecutive cuts (final chunk
  *    always ends at L); each chunk is identified by the portable
  *    32-bit md5 hash of its text ([[WordGrams.hash32]]).
  *
  * Why this exact form:
  *
  *  - SHIFT-LOCAL: the `2·h` shift pushes older characters out of the
  *    low bits, so  h_i mod 2^M  =  Σ_{k=0}^{min(M,i)−1} g(c_{i−k})·2^k
  *    mod 2^M — the cut decision depends ONLY on the trailing M
  *    characters. That gives CDC its point: an insertion re-cuts at
  *    most the chunk it lands in plus the next boundary; every later
  *    chunk has the same content and the same hash (CdcSpec proves a
  *    1-char insert preserves the shared set where fixed windows share
  *    nothing). It ALSO makes cut-point detection stateless — a
  *    map-side pass per position, no sequential scan — which is (a) how
  *    the DuckDB oracle replays it exactly (the windowed-sum form), and
  *    (b) how a 100 TB blob splits across tasks: each task needs only
  *    M characters of overlap from its predecessor, not the whole
  *    stream. Production CDC adds min/max chunk clamps, which
  *    reintroduce the sequential dependency; without them chunk length
  *    is geometric with mean 2^maskBits (the q64 fixture uses M=5 →
  *    mean 32, matching q62's fixed width).
  *  - NO per-chunk hash reset: resetting at each boundary (as FastCDC
  *    does) would make the first M positions of every chunk depend on
  *    where the previous cut fell — losing both the stateless replay
  *    and the task-parallel split.
  */
object CdcMath {

  /** Gear value of one code point. */
  def gear(c: Int): Long = ((c.toLong + 1L) * 2654435761L) & 0xffffffffL

  /** Chunk END positions of `text` under mask width `maskBits`
    * (1-based, ascending, last element == L): the boundary list
    * [[chunkHashes]] implies — for consumers that need chunk RANGES
    * (random-access planning, interval alignment) rather than chunk
    * identities. Same cut rule, same single pass. */
  def chunkEnds(text: UTF8String, maskBits: Int): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val L = cps.length
    if (L == 0) return new GenericArrayData(Array.empty[Any])
    val mask = (1L << maskBits) - 1L
    val out = new scala.collection.mutable.ArrayBuffer[Any](L >> maskBits)
    var h = 0L
    var i = 0
    while (i < L) {
      h = ((h << 1) + gear(cps(i))) & 0xffffffffL
      if ((h & mask) == 0L || i == L - 1) out += (i + 1).toLong
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Chunk hashes of `text` under mask width `maskBits`: one pass over
    * the code points, O(1) state (the rolling hash + chunk start). */
  def chunkHashes(text: UTF8String, maskBits: Int): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val L = cps.length
    if (L == 0) return new GenericArrayData(Array.empty[Any])
    val mask = (1L << maskBits) - 1L
    val out = new scala.collection.mutable.ArrayBuffer[Any](L >> maskBits)
    var h = 0L
    var start = 0 // chunk start (0-based, inclusive)
    var i = 0
    while (i < L) {
      h = ((h << 1) + gear(cps(i))) & 0xffffffffL
      // cut AFTER position i; the final position always closes a chunk
      if ((h & mask) == 0L || i == L - 1) {
        out += WordGrams.hash32(new String(cps, start, i - start + 1))
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
