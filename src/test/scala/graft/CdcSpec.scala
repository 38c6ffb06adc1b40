package graft

import org.apache.spark.sql.functions._
import graft.multimodal.MultimodalQueries
import graft.plans.CdcMath

/** Content-defined chunking: the compiled Gear kernel against its
  * composed windowed-sum twin, and the property CDC exists for —
  * shift robustness under an insertion, which fixed windows lack.
  */
class CdcSpec extends GraftSpec {
  private lazy val sp = spark
  import sp.implicits._

  private val M = MultimodalQueries.CdcMaskBits

  test("graft_cdc_chunks equals the composed windowed-sum twin") {
    val rows = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) > 0)
      .withColumn("codes", MultimodalQueries.cdcCodes(col("text")))
      .select(col("doc_id"),
        call_function("graft_cdc_chunks", col("text"), lit(M)).as("k"),
        MultimodalQueries.cdcChunksComposed(col("text"), col("codes"), M).as("c"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2), s"doc ${r.getLong(0)}")
    }
  }

  test("chunks reconstruct the text: mean length tracks 2^maskBits") {
    val stats = Tables.documents(spark, sfDir)
      .filter(length(col("text")) > 0)
      .select(length(col("text")).cast("long").as("len"),
        size(call_function("graft_cdc_chunks", col("text"), lit(M))).cast("long").as("n"))
      .agg(sum(col("len")).as("chars"), sum(col("n")).as("chunks"))
      .first()
    val mean = stats.getLong(0).toDouble / stats.getLong(1)
    // geometric cut spacing with p = 2^-M → mean chunk ≈ 2^M = 32;
    // loose band so corpus content can't flake the test
    assert(mean > (1 << M) / 2.0 && mean < (1 << M) * 2.0,
      s"mean chunk length $mean vs target ${1 << M}")
  }

  test("a 1-char insertion preserves CDC chunk sharing; fixed windows lose it") {
    // the blob-store scenario: the same payload re-ingested with one
    // byte inserted at the front — every fixed window shifts, every
    // CDC cut re-aligns once the edit falls out of the M-char window
    val docs = Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 256)
      .select(col("text")).limit(40).as[String].collect()
    assert(docs.length >= 10)

    def cdcSet(s: String): Set[Long] =
      CdcMath.chunkHashes(org.apache.spark.unsafe.types.UTF8String.fromString(s), M)
        .toLongArray().toSet
    def fixedSet(s: String): Set[Long] =
      s.grouped(MultimodalQueries.ChunkLen).map(plans.WordGrams.hash32).toSet

    var cdcShared, fixedShared = 0.0
    docs.foreach { t =>
      val edited = "X" + t
      val (c0, c1) = (cdcSet(t), cdcSet(edited))
      val (f0, f1) = (fixedSet(t), fixedSet(edited))
      cdcShared += (c0 & c1).size.toDouble / c0.size
      fixedShared += (f0 & f1).size.toDouble / f0.size
    }
    val (cdcMean, fixedMean) = (cdcShared / docs.length, fixedShared / docs.length)
    // CDC: only the chunk containing the edit (plus at most the next
    // boundary) changes → the overwhelming majority of chunks survive.
    // Fixed windows: everything shifts → essentially nothing survives.
    assert(cdcMean >= 0.6, s"CDC preserved only $cdcMean of chunks")
    assert(fixedMean <= 0.1, s"fixed windows 'preserved' $fixedMean — not shifted?")
    assert(cdcMean > fixedMean + 0.4, s"cdc $cdcMean vs fixed $fixedMean")
  }
}
