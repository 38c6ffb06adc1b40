package graft

import org.apache.spark.sql.functions._
import graft.functions.MathFunctions
import graft.plans.ErfMath

/** The native graft_erf kernel must agree bitwise with the composed
  * Column formula (MathFunctions.erf) the oracle-verified queries use,
  * and must be reachable from SQL via the session extension.
  */
class ErfSpec extends GraftSpec {
  private lazy val sp = spark
  import sp.implicits._

  test("native Erf == composed Column erf, bitwise (both via StrictMath.exp)") {
    val xs = (-400 to 400).map(_ / 100.0)
    val df = xs.toDF("x")
    val rows = df.select(
      expr("graft_erf(x)").as("native"),
      MathFunctions.erf(col("x")).as("composed")).collect()
    rows.foreach { r =>
      val (a, b) = (r.getDouble(0), r.getDouble(1))
      assert(java.lang.Double.doubleToLongBits(a) ===
        java.lang.Double.doubleToLongBits(b), s"native=$a composed=$b")
    }
  }

  test("graft_erf is registered in SQL via GraftExtensions") {
    val got = spark.sql("SELECT graft_erf(CAST(0.5 AS DOUBLE)) AS e").first().getDouble(0)
    assert(math.abs(got - ErfMath.erf(0.5)) === 0.0) // constant-folds to the same scalar
    // A&S 7.1.26 has erf(0) = 1 - poly(1) = ~1e-9, not exactly 0
    assert(math.abs(spark.sql("SELECT graft_erf(CAST(0 AS DOUBLE))").first().getDouble(0)) < 1e-8)
    assert(math.abs(spark.sql("SELECT graft_erf(CAST(4 AS DOUBLE))").first().getDouble(0) - 1.0) < 1e-6)
  }
}
