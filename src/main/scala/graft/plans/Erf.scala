package graft.plans

/** erf as compiled scalar math, called from generated code — no
  * per-row Column-tree interpretation, no UDF serialization. Same
  * A&S 7.1.26 polynomial as MathFunctions.erf (the composed built-in
  * variant used by the oracle-checked queries); ErfSpec asserts the
  * two agree bitwise.
  */
object ErfMath {
  def erf(z: Double): Double = {
    val a = math.abs(z)
    val t = 1.0 / (1.0 + 0.3275911 * a)
    val poly = ((((1.061405429 * t - 1.453152027) * t
      + 1.421413741) * t - 0.284496736) * t + 0.254829592) * t
    // StrictMath.exp, not Math.exp: Spark's Exp codegen emits
    // StrictMath, and using the same keeps this scalar bitwise equal
    // to the composed Column formula (ErfSpec asserts it).
    val e = 1.0 - poly * java.lang.StrictMath.exp(-(a * a))
    if (z < 0) -e else e
  }
}
