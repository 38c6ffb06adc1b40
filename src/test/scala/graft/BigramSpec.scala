package graft

import org.apache.spark.unsafe.types.UTF8String

/** Pins the compiled bigram kernel (graft.plans.BigramMath) to the
  * relational explode+groupBy formulation across the sf0.001 corpus.
  */
class BigramSpec extends GraftSpec {

  test("kernel q46 matches the relational formulation on the corpus") {
    val native = graft.text.TextQueries.q46Repetition(spark, sfDir)
      .collect().map(_.toSeq)
    val composed = graft.text.TextQueries.q46RepetitionComposed(spark, sfDir)
      .collect().map(_.toSeq)
    assert(native.length === composed.length && native.nonEmpty)
    native.zip(composed).foreach { case (a, b) => assert(a === b) }
  }

  test("bigram hand cases") {
    def tb(s: String) = {
      val r = graft.plans.BigramMath.topBigram(UTF8String.fromString(s))
      (r.getLong(0), r.getLong(1))
    }
    assert(tb("word") === (0L, 0L)) // <2 words: no bigrams
    assert(tb("a b") === (1L, 1L))
    assert(tb("a b a b a") === (2L, 4L)) // "a b" x2, "b a" x2 -> mx 2 of 4
    assert(tb("x x x x") === (3L, 3L)) // "x x" x3
    assert(tb("") === (0L, 0L))
    assert(tb("ünïcode tëst ünïcode tëst") === (2L, 3L))
    assert(tb("ünïcode tëst façade") === (1L, 2L))
    // " a  a " splits to "", a, "", a, "": " a" x2, "a " x2
    assert(tb(" a  a ") === (2L, 4L))
  }
}
