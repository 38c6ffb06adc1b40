package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.plans.MinhashMath

/** Pins the compiled shingle kernels (graft.plans.MinhashMath) to the
  * composed explode+groupBy formulations they replaced.
  */
class MinhashSpec extends GraftSpec {
  private lazy val sp = spark
  import sp.implicits._

  private def corpusDf = sp.read.parquet(s"$sfDir/documents.parquet")
    .select(col("doc_id"), col("text"))

  test("graft_minhash equals the composed 12-min-agg signatures") {
    val native = corpusDf
      .select(col("doc_id"), call_function("graft_minhash", col("text")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val composed = graft.dedup.DedupQueries
      .signaturesComposed(graft.dedup.DedupQueries.shingleHashes(corpusDf))
      .collect().map(r => r.getLong(0) -> (1 to MinhashMath.K).map(r.getLong)).toMap
    assert(native.keySet === composed.keySet && native.nonEmpty)
    native.foreach { case (id, sig) => assert(sig === composed(id), s"doc $id") }
  }

  test("graft_shingle_set equals the composed distinct hash set") {
    val native = corpusDf
      .select(col("doc_id"), call_function("graft_shingle_set", col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val composed = graft.dedup.DedupQueries.shingleHashes(corpusDf)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).distinct.sorted.toSeq).toMap
    assert(native.keySet === composed.keySet)
    native.foreach { case (id, s) =>
      assert(s === composed(id), s"doc $id")
      assert(s === s.sorted && s.distinct.length === s.length) // sorted distinct
    }
  }

  test("intersect count: merge walk hand cases") {
    def arr(xs: Long*) = new org.apache.spark.sql.catalyst.util.GenericArrayData(xs.toArray)
    assert(MinhashMath.intersectCount(arr(1, 3, 5), arr(2, 3, 5, 9)) === 2L)
    assert(MinhashMath.intersectCount(arr(), arr(1, 2)) === 0L)
    assert(MinhashMath.intersectCount(arr(7), arr(7)) === 1L)
  }

  test("short docs: whole text is the single shingle") {
    val s = MinhashMath.shingleSet(UTF8String.fromString("ab cd"))
    assert(s.numElements() === 1)
    assert(s.getLong(0) === graft.plans.WordGrams.hash32("ab cd"))
  }

  test("q26 decontamination: benchmark slice excluded, fractions bounded") {
    import graft.dedup.DedupQueries
    val total = corpusDf.count()
    val nBench = corpusDf.filter(col("doc_id") % DedupQueries.BenchMod === 0).count()
    val rows = DedupQueries.q26Decontaminate(spark, sfDir).collect()
    assert(rows.length.toLong === total - nBench)
    rows.foreach { r =>
      assert(r.getLong(0) % DedupQueries.BenchMod != 0L)
      val f = r.getAs[Double]("overlap_frac")
      assert(f >= 0.0 && f <= 1.0, r)
      assert(r.getAs[Long]("n_overlap") <= r.getAs[Int]("n_shingles").toLong, r)
      assert(r.getAs[Boolean]("contaminated") === (f > DedupQueries.ContaminationMax))
    }
  }
}
