package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Deletion-neighborhood generator for SymSpell-style edit-distance
  * blocking (Garbe's symmetric-delete algorithm, public domain): the
  * set of all strings obtainable from `s` by deleting at most `k`
  * characters, the string itself included.
  *
  * The blocking guarantee this buys (verified by exhaustive
  * small-alphabet enumeration in the q309 spec): if
  * damerau_levenshtein(a, b) ≤ k — UNRESTRICTED DL, transpositions
  * included — then deletes(a, k) ∩ deletes(b, k) ≠ ∅. Each DL edit
  * costs at most one deletion on each side (substitution: delete the
  * differing char from both; insertion/deletion: delete the extra char
  * from the longer side; transposition: delete one of the swapped pair
  * from both), so ≤ k edits leave a common subsequence within k
  * deletions of either string. Exploding both join sides on this array
  * and equi-joining on the variant therefore yields a candidate set
  * that PROVABLY covers every pair within distance k — the equi-join
  * blocking that replaces an all-pairs nested-loop scan (q309's r10
  * shape) with a hash join whose work is proportional to candidates,
  * not to |probes|·|vocabulary|.
  *
  * Cardinality: |deletes(s, 2)| ≤ 1 + L + L(L−1)/2 — ~200 variants for
  * L = 20, and a dictionary is Heaps-law bounded, so the exploded
  * vocabulary index stays a broadcastable constant at any corpus
  * scale (the per-token index a single-node SymSpell would precompute,
  * here rebuilt per session from the census).
  *
  * Same UTF-16 code-unit caveat as [[DamerauMath]]: deletions operate
  * on code units, correct for the BMP-only gate fixtures.
  */
object SymSpellMath {

  def deletes(us: UTF8String, k: Int): ArrayData = {
    val s = us.toString
    val out = new java.util.TreeSet[String]() // sorted ⇒ deterministic array
    out.add(s)
    var frontier: Set[String] = Set(s)
    var round = 0
    while (round < k && frontier.nonEmpty) {
      val next = scala.collection.mutable.HashSet.empty[String]
      frontier.foreach { t =>
        var i = 0
        while (i < t.length) {
          next += t.substring(0, i) + t.substring(i + 1)
          i += 1
        }
      }
      next.foreach(out.add)
      frontier = next.toSet
      round += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(arr)
  }
}
