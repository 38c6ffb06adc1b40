package graft

import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => VF}

/** Pins the native codegen vector kernels (graft_dot / graft_dist2,
  * graft.plans.ArrayKernelMath) bitwise to the composed higher-order-function
  * formulation they replace — the HOF form is what the DuckDB oracle
  * mirrors, so bitwise equality here is what keeps the 41-query hash
  * gate valid after the kernel swap.
  */
class VectorKernelSpec extends GraftSpec {
  private lazy val sp = spark
  import sp.implicits._

  private def randVecs(n: Int, d: Int) = {
    val rnd = new scala.util.Random(7)
    (0 until n).map(i => (i.toLong,
      Array.fill(d)(rnd.nextDouble() * 4 - 2),
      Array.fill(d)(rnd.nextDouble() * 4 - 2)))
  }

  test("native dot is bitwise equal to the HOF fold") {
    val df = randVecs(200, 64).toDF("id", "a", "b")
    val rows = df.select(
        VF.dot(col("a"), col("b")).as("native"),
        graft.functions.VectorFunctions.hofDot(col("a"), col("b")).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("native dist2 is bitwise equal to the HOF fold") {
    val df = randVecs(200, 64).toDF("id", "a", "b")
    val rows = df.select(
        VF.dist2(col("a"), col("b")).as("native"),
        graft.functions.VectorFunctions.hofDist2(col("a"), col("b")).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("kernels stay inside whole-stage codegen") {
    // a parquet-backed plan (a local Seq constant-folds to a
    // LocalTableScan with no codegen stage at all)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
      .select(VF.dot(col("v"), col("v")).as("d"))
    val plan = e.queryExecution.executedPlan.toString
    // the `*(n)` prefix is the whole-stage-codegen marker; the HOF
    // toDouble projection right below it stays unstarred (interpreted)
    assert(plan.linesIterator.exists(l =>
      l.trim.matches("""\*\(\d+\) Project \[graft_dot.*""")), plan)
  }

  test("array<float> inputs are implicitly cast, not misread") {
    // embeddings.parquet stores array<float>; without ExpectsInputTypes
    // the kernel would stride 8 bytes over 4-byte elements (garbage)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(5)
    val got = e.select(VF.dot(col("embedding"), col("embedding")).as("d")).collect()
      .map(_.getDouble(0))
    val want = e.select(VF.dot(VF.toDouble(col("embedding")),
        VF.toDouble(col("embedding"))).as("d")).collect().map(_.getDouble(0))
    got.zip(want).foreach { case (g, w) => assert(g === w) }
    assert(got.forall(d => d > 0 && !d.isNaN))
  }

  test("fused LSH code is bitwise equal to the per-bit composed form") {
    val df = randVecs(100, 64).toDF("id", "a", "b")
    Seq((16, 0), (8, 8), (4, 24)).foreach { case (bits, off) =>
      val rows = df.select(
          VF.lshCode(col("a"), 64, bits, off).as("native"),
          graft.functions.VectorFunctions.hofLshCode(col("a"), 64, bits, off).as("hof"))
        .collect()
      rows.foreach(r => assert(r.getLong(0) === r.getLong(1), s"bits=$bits off=$off"))
    }
  }

  test("fused multi-band LSH codes equal the per-band kernel calls") {
    val df = randVecs(100, 64).toDF("id", "a", "b")
    Seq((8, 4), (4, 4), (16, 1)).foreach { case (bits, nBands) =>
      val rows = df.select(
          VF.lshBands(col("a"), 64, bits, nBands).as("fused"),
          array((0 until nBands).map(b =>
            VF.lshCode(col("a"), 64, bits, bits * b)): _*).as("perBand"))
        .collect()
      rows.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1),
        s"bits=$bits nBands=$nBands"))
    }
  }

  test("odd lengths and empty arrays behave (clamped fold)") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
        (Array.empty[Double], Array.empty[Double]))
      .toDF("a", "b")
    val got = df.select(VF.dot(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(got(0) === 32.0)
    assert(got(1) === 0.0)
  }
}
