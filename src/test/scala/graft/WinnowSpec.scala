package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Pins the compiled winnowing kernel (graft.plans.WinnowMath) to the
  * composed built-in formulation it replaced — exact integer equality
  * across the whole sf0.001 corpus plus hand cases.
  */
class WinnowSpec extends GraftSpec {

  test("kernel hash32 equals the md5-hex-parse built-in chain") {
    val sp = spark
    import sp.implicits._
    val samples = Seq("", "a", "hello world x", "the quick brown fox", "ünïcode tëst",
      "ünïcode tëst façade", " lead", "trail ", "doubled  space", "two words")
    val composed = samples.toDF("s")
      .select(graft.functions.MathFunctions.hash32(col("s")))
      .collect().map(_.getLong(0))
    samples.map(graft.plans.WordGrams.hash32).zip(composed).foreach {
      case (k, c) => assert(k === c)
    }
  }

  test("kernel winnow summary matches the composed formulation on the corpus") {
    val native = graft.text.TextQueries.q43Fingerprint(spark, sfDir)
      .collect().map(_.toSeq)
    val composed = graft.text.TextQueries.q43FingerprintComposed(spark, sfDir)
      .collect().map(_.toSeq)
    assert(native.length === composed.length)
    native.zip(composed).foreach { case (a, b) => assert(a === b) }
  }

  test("winnow hand cases: short docs and window clamping") {
    // <3 words: single hash of the whole text
    val one = graft.plans.WinnowMath.winnow(UTF8String.fromString("ab cd"))
    assert(one.getLong(0) === 1L)
    assert(one.getLong(1) === graft.plans.WordGrams.hash32("ab cd"))
    assert(one.getLong(1) === one.getLong(2))
    // 6 words -> 4 shingles -> windows clamp left
    val r = graft.plans.WinnowMath.winnow(UTF8String.fromString("a b c d e f"))
    val hs = Seq("a b c", "b c d", "c d e", "d e f").map(graft.plans.WordGrams.hash32)
    val fps = hs.indices.map(i => hs.slice(math.max(0, i - 3), i + 1).min)
    assert(r.getLong(0) === fps.distinct.length.toLong)
    assert(r.getLong(1) === fps.min)
    assert(r.getLong(2) === fps.max)
    // multibyte words, empty words from leading/trailing/doubled spaces,
    // one- and two-word docs: trigrams of split(" ", -1), joined by ' '
    for (doc <- Seq("ünïcode tëst façade", " ünïcode  tëst façade ", "  a b  ",
        "one", "two words")) {
      val w = doc.split(" ", -1)
      val hs = (if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSeq else Seq(doc))
        .map(graft.plans.WordGrams.hash32)
      val fps = hs.indices.map(i => hs.slice(math.max(0, i - 3), i + 1).min)
      val k = graft.plans.WinnowMath.winnow(UTF8String.fromString(doc))
      assert((k.getLong(0), k.getLong(1), k.getLong(2)) ===
        ((fps.distinct.length.toLong, fps.min, fps.max)), doc)
    }
  }
}
