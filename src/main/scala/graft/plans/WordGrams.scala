package graft.plans

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.unsafe.types.UTF8String

/** The word-gram convention of every text kernel (minhash, shingle set,
  * winnow, simhash, gram hashes, bigrams), stated once:
  *
  *  - words are the pieces of `split(" ", -1)` (Spark's
  *    `split(text, " ")`; the oracle's `string_split` on the
  *    space-separated corpus), so leading, trailing and repeated spaces
  *    give empty words (the empty text is one);
  *  - gram i of size n is words [i, i+n) joined by ' ';
  *  - a document with fewer than n words is one gram, the whole text
  *    (n < 1 gives empty grams, as the join of no words does);
  *  - a gram's hash is its MD5: hlo = bytes 0-3, hhi = bytes 4-7, each
  *    big-endian unsigned — exactly conv(substring(md5, 1, 8), 16, 10)
  *    and hex chars 9-16 (MathFunctions.hash32 / hash32b).
  *
  * The scanner records where each word of the row's UTF-8 bytes
  * starts. 0x20 is the only encoding of ' ', so gram i is the byte
  * slice from the start of word i to the end of word i+n-1 — exactly
  * the UTF-8 of the joined string. No gram string is built and nothing
  * is re-encoded. A row that is not valid UTF-8 is scanned as the UTF-8
  * of its decoded `toString`, the bytes a String path would hash
  * (`makeValid` differs on encoded surrogates).
  */
final class WordGrams private (val bytes: Array[Byte], cut: Array[Int]) {

  /** cut(j) is the first byte of word j; cut(words) = bytes.length + 1. */
  def words: Int = cut.length - 1

  /** Number of n-grams: words - n + 1, or 1 (the whole text). */
  def grams(n: Int): Int = if (words >= n) words - n + 1 else 1

  def start(i: Int, n: Int): Int = if (n >= 1 && words >= n) cut(i) else 0

  def length(i: Int, n: Int): Int =
    if (n < 1) 0
    else if (words >= n) cut(i + n) - 1 - cut(i)
    else bytes.length

  def md5(i: Int, n: Int): Array[Byte] = WordGrams.md5(bytes, start(i, n), length(i, n))
}

object WordGrams {
  def apply(text: UTF8String): WordGrams = {
    val b = if (text.isValid) text.getBytes else text.toString.getBytes(UTF_8)
    var spaces = 0
    var k = 0
    while (k < b.length) { if (b(k) == ' ') spaces += 1; k += 1 }
    val cut = new Array[Int](spaces + 2)
    var w = 1
    k = 0
    while (k < b.length) { if (b(k) == ' ') { cut(w) = k + 1; w += 1 }; k += 1 }
    cut(w) = b.length + 1
    new WordGrams(b, cut)
  }

  private val digest =
    ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  private def md5(b: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val md = digest.get()
    md.update(b, off, len)
    md.digest()
  }

  def hlo(d: Array[Byte]): Long = half(d, 0)
  def hhi(d: Array[Byte]): Long = half(d, 4)
  private def half(d: Array[Byte], k: Int): Long =
    ((d(k) & 0xffL) << 24) | ((d(k + 1) & 0xffL) << 16) |
      ((d(k + 2) & 0xffL) << 8) | (d(k + 3) & 0xffL)

  /** hlo of a whole string's MD5. */
  def hash32(s: String): Long = {
    val b = s.getBytes(UTF_8)
    hlo(md5(b, 0, b.length))
  }
}
