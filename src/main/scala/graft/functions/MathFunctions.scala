package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared numeric kernels. Every formula here has a value-identical twin
  * in the DuckDB oracle (graft.oracle.Sql) — same constants, same Horner
  * ordering — so Spark and the oracle agree to the 1e-6 rounding gate.
  * All pure built-in arithmetic: stays in whole-stage codegen.
  */
object MathFunctions {

  val Sqrt2 = 1.4142135623730951 // literal on both engines

  /** Abramowitz & Stegun 7.1.26 erf approximation (|err| <= 1.5e-7).
    * The reference reaches its CDF through commons-math 1.1
    * (LinkRankComputation.java:246-250); we use a public closed form that
    * both Spark and DuckDB can evaluate identically.
    */
  def erf(z: Column): Column = {
    val a = abs(z)
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * a)
    val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t
      + lit(1.421413741)) * t - lit(0.284496736)) * t + lit(0.254829592)) * t
    val e = lit(1.0) - poly * exp(-(a * a))
    when(z < 0, -e).otherwise(e)
  }

  /** Normal CDF Phi((x-mu)/sigma) via erf. */
  def normalCdf(x: Column, mu: Column, sigma: Column): Column =
    lit(0.5) * (lit(1.0) + erf((x - mu) / (sigma * lit(Sqrt2))))

  /** Portable 32-bit string hash: first 8 hex chars of md5 parsed as an
    * integer. Exact integer parse, so Spark's conv() and the oracle's
    * digit-by-digit instr parse (Sql.hash32) agree exactly. [0, 2^32). */
  def hash32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** Independent second 32-bit hash: hex chars 9-16 of the same md5
    * (the md5 is computed once per call site by codegen subexpression
    * elimination). Twin: Sql.hash32OfHexAt(h, 9). [0, 2^32). */
  def hash32b(s: Column): Column =
    conv(substring(md5(s), 9, 8), 16, 10).cast("long")

  /** k-th 31-bit universal hash of a 32-bit base hash:
    * (a_k * h + b_k) mod p, p = 2^31-1 (Mersenne). Products stay under
    * 2^63. Identical constants in Sql.universalHash. */
  def universalHash(h: Column, k: Int): Column =
    pmod(lit(hashA(k)) * h + lit(hashB(k)), lit(HashP))

  /** Sum on the 12-dp DECIMAL grid, as a double: each addend rounds to
    * 12 dp first, so the sum is exact and independent of row order and
    * partitioning (a double sum is not; the q261 association-free
    * discipline). */
  def dec12(c: Column): Column =
    sum(round(c, 12).cast(DecimalType(38, 12))).cast("double")

  /** Exact DECIMAL(38, 6) sum: order-independent like [[dec12]], on a
    * 6-dp grid, left as a decimal for the caller to round. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(38, 6)))

  /** A value on the 6-dp DECIMAL(38, 6) grid: summing gridded terms is
    * exact and independent of row order and partitioning. Twin:
    * Sql.grid6. */
  def grid6(c: Column): Column = round(c, 6).cast(DecimalType(38, 6))

  /** A value as a double on the 6-dp grid both engines compare on. */
  def asD(c: Column): Column = round(c.cast("double"), 6)

  val HashP = 2147483647L
  def hashA(k: Int): Long = 1103515245L + 12345L * k
  def hashB(k: Int): Long = (1013904223L + 2654435761L * k) % HashP
}
