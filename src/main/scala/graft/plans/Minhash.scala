package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.MathFunctions

/** Compiled shingle-hash kernels for the dedup suite. The composed
  * formulation exploded every word trigram of every document
  * (~300 rows per doc) through a shuffle just to take 12 per-doc
  * minima (minhash signatures) or a per-doc distinct set (Jaccard) —
  * at 100 TB that is a 300× row inflation feeding an exchange. Shingle
  * statistics are strictly per-document, so these kernels compute them
  * in one compiled pass per row and the operators become map-only.
  *
  * Arithmetic is bit-for-bit the composed chain's (MinhashSpec pins
  * it): word-trigram shingles and their hlo hashes as [[WordGrams]]
  * defines them, universal hashes with MathFunctions' constants. min
  * over duplicate shingles equals min over the distinct set, so
  * signatures need no dedup.
  */
object MinhashMath {
  val K: Int = 12
  private val A = Array.tabulate(K)(MathFunctions.hashA)
  private val B = Array.tabulate(K)(MathFunctions.hashB)
  private val P = MathFunctions.HashP

  /** Hashes (hlo) of a document's word trigrams ([[WordGrams]]),
    * duplicates kept (order = position). */
  def shingleHashes(text: UTF8String): Array[Long] = {
    val g = WordGrams(text)
    val arr = new Array[Long](g.grams(3))
    var i = 0
    while (i < arr.length) { arr(i) = WordGrams.hlo(g.md5(i, 3)); i += 1 }
    arr
  }

  /** K minhash values: min_j over shingles of (a_j*h + b_j) mod p. */
  def minhash(text: UTF8String): ArrayData = {
    val hs = shingleHashes(text)
    val mins = Array.fill(K)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var j = 0
      while (j < K) {
        val u = (A(j) * h + B(j)) % P
        if (u < mins(j)) mins(j) = u
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Sorted distinct shingle-hash set (the Jaccard set). */
  def shingleSet(text: UTF8String): ArrayData = {
    val hs = shingleHashes(text)
    java.util.Arrays.sort(hs)
    var uniq = 0
    var i = 0
    while (i < hs.length) {
      if (i == 0 || hs(i) != hs(i - 1)) { hs(uniq) = hs(i); uniq += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, uniq))
  }

  /** |a ∩ b| for two SORTED distinct long arrays (merge walk). */
  def intersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}
