package graft

import org.apache.spark.sql.functions._

/** Pins the compiled gram-hash kernel (plans/GramHash) bit-for-bit to
  * the composed formulation it replaced: ' '-joined word n-grams,
  * hlo = conv(substring(md5, 1, 8), 16, 10), hhi = hex chars 9-16.
  */
class GramHashSpec extends GraftSpec {
  private lazy val sp = spark
  import sp.implicits._
  import graft.functions.{MathFunctions => MF}

  private val docs = Seq(
    "the quick brown fox jumps over the lazy dog again and again",
    "a b c d e",
    "short one",
    "", // splits to one empty word -> whole-text fallback
    "exactly five words right here now",
    "ünïcode tëst façade",
    " leading space and more words here",
    "trailing space and more words here ",
    "doubled  spaces  inside  the  text",
    "one",
    "two words")

  test("kernel == composed md5 chain for every gram, every n") {
    for (n <- Seq(0, 1, 2, 5, 8)) {
      val df = docs.toDF("text")
      val kernel = df.select(
          explode(call_function("graft_gram_hashes", col("text"), lit(n))).as("gh"))
        .select(col("gh.hlo"), col("gh.hhi"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val toks = split(col("text"), " ")
      val composed = df.select(
          explode(when(size(toks) >= n,
            transform(sequence(lit(1), size(toks) - (n - 1)),
              i => array_join(slice(toks, i, lit(n)), " ")))
            .otherwise(array(col("text")))).as("g"))
        .select(MF.hash32(col("g")), MF.hash32b(col("g")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(kernel == composed, s"n=$n")
    }
  }

  test("gram count: m - n + 1 for long docs, 1 whole-text entry for short") {
    val df = Seq("one two three four five six").toDF("text")
    assert(df.select(size(call_function("graft_gram_hashes", col("text"), lit(4))))
      .first().getInt(0) == 3)
    assert(df.select(size(call_function("graft_gram_hashes", col("text"), lit(9))))
      .first().getInt(0) == 1)
  }

  test("invalid UTF-8 rows: every word-gram kernel scans the decoded text") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.plans._
    // UTF8String.isValid is false for each of these byte runs; the
    // encoded surrogate (ED A0 80) is where makeValid and a
    // decode-then-encode disagree
    val bad = Seq(Array(0xff), Array(0xed, 0xa0, 0x80), Array(0xc0, 0xaf),
      Array(0xf4, 0x90, 0x80, 0x80), Array(0xe2, 0x82)).map(_.map(_.toByte))
    def row(parts: Array[Byte]*) = UTF8String.fromBytes(parts.reduce(_ ++ _))
    val sp = " ".getBytes("UTF-8")
    def kernels(t: UTF8String): Seq[Any] = {
      def longs(a: org.apache.spark.sql.catalyst.util.ArrayData) =
        a.toLongArray.toSeq
      def pairs(n: Int) = {
        val a = GramHashMath.gramHashes(t, n)
        (0 until a.numElements()).map(a.getStruct(_, 2)).map(r => (r.getLong(0), r.getLong(1)))
      }
      val w = WinnowMath.winnow(t)
      val sh = SimhashMath.simhash(t)
      val bg = BigramMath.topBigram(t)
      Seq(longs(MinhashMath.minhash(t)), longs(MinhashMath.shingleSet(t)),
        (w.getLong(0), w.getLong(1), w.getLong(2)), (sh.getLong(0), sh.getLong(1)),
        (bg.getLong(0), bg.getLong(1)), pairs(1), pairs(2), pairs(5))
    }
    val ab = "ab".getBytes("UTF-8")
    for (b <- bad; raw <- Seq(row(b), row(ab, sp, b, sp, ab, sp, b),
        row(b, b, sp, ab, sp, ab, b, sp, b, sp, ab, sp, b))) {
      assert(!raw.isValid)
      val decoded = UTF8String.fromString(raw.toString)
      assert(kernels(raw) === kernels(decoded), b.map(x => f"${x & 0xff}%02x").mkString(" "))
    }
  }
}
