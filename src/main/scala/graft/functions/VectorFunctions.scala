package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector kernels over `array<float|double>` columns — built-in
  * higher-order functions only (zip_with / aggregate / transform), so
  * everything stays in codegen and distributes per-row with no UDF
  * serialization. DuckDB twins in graft.oracle.Sql use list_transform +
  * list_reduce with the same left-to-right fold, so sums associate
  * identically.
  */
object VectorFunctions {

  /** array<float> → array<double> via the built-in array Cast
    * (codegen'd; a transform(_.cast) lambda is interpreted per
    * element). Values are identical — elementwise float→double. */
  def toDouble(v: Column): Column = v.cast("array<double>")

  /** Left-to-right fold of elementwise products (init 0.0), compiled:
    * resolves to the `graft_dot` kernel ([[graft.plans.ArrayKernelMath]],
    * registered by GraftExtensions) — whole-stage codegen emits one
    * JIT'd loop per row instead of interpreting the HOF lambda per
    * element. Bitwise equal to [[hofDot]] (VectorKernelSpec). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** The composed higher-order-function formulation of [[dot]] — the
    * reference semantics the native kernel is pinned against, and the
    * formulation mirrored by the DuckDB oracle (Sql.listDot). */
  private[graft] def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** L2 norm — precompute once per vector so pairwise scoring does ONE
    * dot product per pair instead of three ([[cosineByNorm]]); same
    * doubles as [[cosine]] (identical fold, hoisted sqrt). */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine from a fresh dot product and two precomputed norms. */
  def cosineByNorm(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** Squared L2 distance — same left-to-right fold as [[dot]], native
    * kernel (Sql.listDist2 is the DuckDB twin). */
  def dist2(a: Column, b: Column): Column = call_function("graft_dist2", a, b)

  /** HOF formulation of [[dist2]] — kernel pin, see [[hofDot]]. */
  private[graft] def hofDist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** Deterministic pseudo-random ±1 hyperplane component for (plane j,
    * dim i): parity of the k=0 universal hash of (j*128 + i). Pure
    * integer arithmetic — Sql.signList bakes the identical values. */
  def signAt(j: Int, i: Int): Int = {
    val h = (MathFunctions.hashA(0) * (j * 128L + i) + MathFunctions.hashB(0)) % MathFunctions.HashP
    if (h % 2 == 1) 1 else -1
  }

  /** ±1 hyperplane as a literal array column. */
  def signVec(j: Int, dims: Int): Column =
    array((0 until dims).map(i => lit(signAt(j, i).toDouble)): _*)

  /** `bits`-bit random-hyperplane LSH code of a double vector, using
    * planes `planeOffset until planeOffset+bits` — multi-band callers
    * (q24) pass distinct offsets so each band draws independent
    * hyperplanes. Compiled: all sign bits in one pass
    * (`graft_lsh_code`, graft.plans.LshCodeMath), bitwise equal to [[hofLshCode]]. */
  def lshCode(v: Column, dims: Int, bits: Int, planeOffset: Int = 0): Column =
    call_function("graft_lsh_code", v, lit(dims), lit(bits), lit(planeOffset))

  /** Composed per-bit formulation of [[lshCode]] — kernel pin
    * (VectorKernelSpec). */
  private[graft] def hofLshCode(v: Column, dims: Int, bits: Int,
                                planeOffset: Int = 0): Column =
    (0 until bits).map { j =>
      when(dot(v, signVec(planeOffset + j, dims)) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** All `nBands` × `bits`-bit band codes as ONE array<long> in ONE
    * compiled pass over the vector — element b (1-based b+1 via
    * element_at) equals `lshCode(v, dims, bits, b*bits)`. Multi-band
    * LSH emission (q24's 4×8, q31's 4×4) reads each vector once instead
    * of once per band (VectorKernelSpec pins fused ≡ per-band). */
  def lshBands(v: Column, dims: Int, bits: Int, nBands: Int): Column =
    call_function("graft_lsh_bands", v, lit(dims), lit(bits), lit(nBands))
}
