package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

/** Pins the compiled simhash kernel to the composed explode+64-sum
  * formulation over the sf0.001 dedup corpus.
  */
class SimhashKernelSpec extends GraftSpec {

  test("graft_simhash equals the composed signature build on the corpus") {
    import graft.dedup.DedupQueries
    val native = DedupQueries.simhashSigNative(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val composed = DedupQueries.simhashSig(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(native.keySet === composed.keySet && native.nonEmpty)
    native.foreach { case (id, s) => assert(s === composed(id), s"doc $id") }
  }

  test("simhash hand case: single word sets exactly its hash bits") {
    val sp = spark
    import sp.implicits._
    import graft.functions.{MathFunctions => MF}
    // one token: every bit vote is +1 or -1, so the signature halves
    // equal the token's two 32-bit hashes exactly
    for (w <- Seq("hello", "façade", "ünïcode", "")) {
      val r = graft.plans.SimhashMath.simhash(UTF8String.fromString(w))
      val ref = Seq(w).toDF("s").select(MF.hash32(col("s")), MF.hash32b(col("s"))).first()
      assert((r.getLong(0), r.getLong(1)) === ((ref.getLong(0), ref.getLong(1))), w)
    }
    assert(graft.plans.SimhashMath.simhash(UTF8String.fromString("hello")).getLong(0) ===
      graft.plans.WordGrams.hash32("hello"))
    def lo(s: String) = graft.plans.SimhashMath.simhash(UTF8String.fromString(s)).getLong(0)
    // empty words vote: "hello  hello" is hello x2 against "" x1 ...
    assert(lo("hello  hello") === graft.plans.WordGrams.hash32("hello"))
    // ... and " hello  hello " is "" x3 against hello x2
    assert(lo(" hello  hello ") === graft.plans.WordGrams.hash32(""))
  }
}
