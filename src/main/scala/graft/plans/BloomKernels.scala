package graft.plans

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode, TrueLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Compiled whole-array Bloom probe. The composed form
  * (`aggregate(arr, 0L, (acc, x) -> acc + if(might_contain(bf, x)))`)
  * evaluates its lambda interpreted once per element AND re-reads the
  * sketch expression per step; this kernel deserializes the constant
  * sketch ONCE per task (the same `addReferenceObj` pattern Spark's own
  * BloomFilterMightContain uses) and counts memberships in one
  * JIT-compiled loop per row. Same probe, same order ⇒ identical count
  * to the composed twin (DecontaminateBloomSpec pins it).
  */
object BloomKernelMath {
  def countContains(bf: BloomFilter, arr: ArrayData): Long = {
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (bf.mightContainLong(arr.getLong(i))) acc += 1L
      i += 1
    }
    acc
  }

  // ------------------------------------------------------- portable Bloom
  // A Bloom sketch whose bit positions are DEFINED by the repo's portable
  // universal-hash family (MathFunctions.universalHash — identical integer
  // arithmetic in graft.oracle.Sql.universalHash), so membership DECISIONS,
  // false positives included, replay exactly in the DuckDB oracle: the
  // sketch is public arithmetic, not an engine-private bit pattern. Blob
  // layout: [numBits: long][k: long][bitset words: long...], big-endian
  // via ByteBuffer defaults.

  /** Bit positions of element `h` (already a 32-bit portable hash in
    * [0, 2^32)): pos_i = universalHash(h, i) mod numBits, i = 1..k. */
  private def pos(h: Long, i: Int, numBits: Long): Long = {
    val p = graft.functions.MathFunctions.HashP
    ((graft.functions.MathFunctions.hashA(i) * h +
      graft.functions.MathFunctions.hashB(i)) % p) % numBits
  }

  /** Serialize a portable Bloom sketch of `elems`. Driver-side build:
    * the caller has already bounded the element set by the broadcast
    * threshold (DedupQueries.benchSetFits), so the O(n·k) loop is
    * bounded. */
  def pbloomBuild(elems: Array[Long], numBits: Long, k: Int): Array[Byte] = {
    require(numBits > 0 && (numBits & 63) == 0, "numBits must be a positive multiple of 64")
    val words = new Array[Long]((numBits / 64).toInt)
    var j = 0
    while (j < elems.length) {
      var i = 1
      while (i <= k) {
        val p = pos(elems(j), i, numBits)
        words((p >>> 6).toInt) |= (1L << (p & 63))
        i += 1
      }
      j += 1
    }
    val bb = java.nio.ByteBuffer.allocate(16 + words.length * 8)
    bb.putLong(numBits).putLong(k.toLong)
    words.foreach(bb.putLong)
    bb.array()
  }

  /** Count of elements of `arr` whose k positions are ALL set — the
    * per-row probe, O(k) bit tests per element. */
  def pbloomHits(blob: Array[Byte], arr: ArrayData): Long = {
    val bb = java.nio.ByteBuffer.wrap(blob)
    val numBits = bb.getLong()
    val k = bb.getLong().toInt
    val n = arr.numElements()
    var acc = 0L
    var j = 0
    while (j < n) {
      val h = arr.getLong(j)
      var i = 1
      var all = true
      while (all && i <= k) {
        val p = pos(h, i, numBits)
        val word = bb.getLong(16 + (p >>> 6).toInt * 8)
        all = (word & (1L << (p & 63))) != 0
        i += 1
      }
      if (all) acc += 1L
      j += 1
    }
    acc
  }
}

/** (sketch: binary, elems: array<long>) → long count, shared by the
  * two sketch probes. The sketch must be a constant (foldable)
  * expression, the broadcastable-literal contract `might_contain`
  * itself has: it is decoded once per plan (a static kernel call
  * cannot do that) and handed to generated code by reference. */
sealed trait SketchProbe extends BinaryExpression {
  /** The decoded sketch (null when the sketch literal is null) and
    * its Java type in generated code. */
  protected def sketch: AnyRef
  protected def sketchType: String
  /** `graft.plans.BloomKernelMath` method called on (sketch, elems). */
  protected def probe: String
  protected def count(arr: ArrayData): Long

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (!left.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a constant (foldable) sketch argument")
    else if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName sketch argument must be binary, got ${left.dataType}")
    else right.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName elements argument must be array<long>, got $t")
    }

  override def eval(input: InternalRow): Any =
    if (sketch == null) null
    else {
      val arr = right.eval(input)
      if (arr == null) null else count(arr.asInstanceOf[ArrayData])
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (sketch == null) {
      ev.copy(isNull = TrueLiteral, value = JavaCode.defaultLiteral(dataType))
    } else {
      val ref = ctx.addReferenceObj("graftSketch", sketch, sketchType)
      val arrEval = right.genCode(ctx)
      ev.copy(code =
        code"""
          ${arrEval.code}
          boolean ${ev.isNull} = ${arrEval.isNull};
          long ${ev.value} = -1L;
          if (!${ev.isNull}) {
            ${ev.value} = graft.plans.BloomKernelMath.$probe($ref, ${arrEval.value});
          }""")
    }
}

/** (Spark BloomFilter sketch, elems) → count of elements the sketch
  * might contain. */
case class BloomCountContains(left: Expression, right: Expression) extends SketchProbe {
  override def prettyName: String = "graft_bloom_count_contains"
  override protected def probe: String = "countContains"
  override protected def sketchType: String = classOf[BloomFilter].getName

  @transient protected lazy val sketch: BloomFilter = {
    val bytes = left.eval(InternalRow.empty).asInstanceOf[Array[Byte]]
    if (bytes == null) null
    else BloomFilter.readFrom(new ByteArrayInputStream(bytes))
  }

  override protected def count(arr: ArrayData): Long = BloomKernelMath.countContains(sketch, arr)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomCountContains =
    copy(left = l, right = r)
}

/** (portable sketch, elems) → count of elements whose k portable-hash
  * positions are all set in the sketch (BloomKernelMath.pbloomBuild's
  * blob); decisions replay exactly in the oracle. */
case class PBloomHits(left: Expression, right: Expression) extends SketchProbe {
  override def prettyName: String = "graft_pbloom_hits"
  override protected def probe: String = "pbloomHits"
  override protected def sketchType: String = "byte[]"

  @transient protected lazy val sketch: Array[Byte] =
    left.eval(InternalRow.empty).asInstanceOf[Array[Byte]]

  override protected def count(arr: ArrayData): Long = BloomKernelMath.pbloomHits(sketch, arr)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PBloomHits =
    copy(left = l, right = r)
}
