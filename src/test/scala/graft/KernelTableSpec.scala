package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.{GraftExtensions, KernelCall}

/** The kernel table binds every `graft_*` kernel through one generic
  * expression. For every row: the compiled (whole-stage codegen) and
  * the interpreted (`NO_CODEGEN`) paths return equal rows, a null in
  * any argument gives a null out, arity is checked and every argument
  * gets its declared cast.
  */
class KernelTableSpec extends GraftSpec {

  private val registered = Seq(
    "graft_bloom_agg", "graft_bloom_count_contains", "graft_cdc_chunks",
    "graft_cdc_cuts", "graft_damerau", "graft_deletes", "graft_dist2", "graft_dot",
    "graft_entropy", "graft_erf", "graft_gram_hashes", "graft_intersect_count",
    "graft_jaro_winkler", "graft_lsh_bands", "graft_lsh_code", "graft_might_contain",
    "graft_minhash", "graft_nfc", "graft_pbloom_hits", "graft_phash", "graft_png_encode",
    "graft_png_stats", "graft_shingle_set", "graft_simhash", "graft_top_bigram",
    "graft_wav_encode", "graft_wav_stats", "graft_winnow")

  test("the registry holds exactly the 28 graft_* functions") {
    assert(GraftExtensions.Functions.map(_.name).sorted === registered)
    val shown = spark.sql("SHOW FUNCTIONS LIKE 'graft_*'").collect().map(_.getString(0))
    assert(shown.sorted.toSeq === registered)
  }

  /** Six rows built from `id` with non-nullable expressions (a range
    * scan, so projections over it are compiled, not constant-folded).
    * `nul` picks the argument position that is nulled in that row:
    * -1 none, 4 all of them. */
  private def fixture: DataFrame = spark.range(6).select(
    col("id"),
    (col("id") - 1).as("nul"),
    (col("id").cast("double") / 3 - 0.7).as("d"),
    array(col("id") * 0.5, lit(-1.25), col("id") - 2.0).as("a"),
    array(lit(0.75), col("id") * -1.5, lit(2.0)).as("b"),
    array(col("id"), col("id") + 1, col("id") + 3).as("la"),
    array(col("id") + 1, col("id") + 3, col("id") + 4).as("lb"),
    concat(lit("the quick brown fox jumps over the lazy dog "), col("id").cast("string"),
      lit(" the quick brown fox Café again and again")).as("s"),
    concat(lit("teh quikc brown "), col("id").cast("string")).as("t"),
    (col("id") % 2 + 1).cast("int").as("n"),
    call_function("graft_png_encode", col("id"), lit(3), lit(2)).as("png"),
    call_function("graft_wav_encode", col("id"), lit(5)).as("wav"))

  /** Fixture columns per argument type, in argument order. */
  private def columns(k: graft.plans.Kernel): Seq[String] = {
    val used = scala.collection.mutable.Map.empty[DataType, Int].withDefaultValue(0)
    k.inputs.map { t =>
      val i = used(t)
      used(t) = i + 1
      t match {
        case DoubleType => "d"
        case ArrayType(DoubleType, _) => Seq("a", "b")(i)
        case ArrayType(LongType, _) => Seq("la", "lb")(i)
        case StringType => Seq("s", "t")(i)
        case IntegerType => "n"
        case LongType => "id"
        case BinaryType => if (k.name.contains("png")) "png" else "wav"
        case other => fail(s"no fixture column for $other")
      }
    }
  }

  /** One column per kernel: arguments are nulled where `nul` selects them. */
  private def calls: Seq[Column] = GraftExtensions.Kernels.map { k =>
    val args = columns(k).zipWithIndex.map { case (c, i) =>
      when(col("nul") === i || col("nul") === 4, lit(null)).otherwise(col(c))
    }
    call_function(k.name, args: _*).as(k.name)
  }

  test("every kernel: compiled and interpreted rows are equal; a null in gives null out") {
    val compiled = fixture.select(col("id") +: col("nul") +: calls: _*)
    assert(compiled.queryExecution.executedPlan.toString.linesIterator.exists(l =>
      l.trim.matches("""\*\(\d+\) Project \[.*graft_erf.*""")),
      "kernels must compile inside whole-stage codegen")
    val viaCodegen = compiled.orderBy("id").collect()
    val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      fixture.select(col("id") +: col("nul") +: calls: _*).orderBy("id").collect()
    }
    assert(viaCodegen.length === 6)
    GraftExtensions.Kernels.zipWithIndex.foreach { case (k, j) =>
      viaCodegen.zip(interpreted).foreach { case (c, i) =>
        // Row equality compares binary values by content
        assert(Row(c.get(j + 2)) == Row(i.get(j + 2)),
          s"${k.name} row ${c.getLong(0)}: compiled ${c.get(j + 2)} interpreted ${i.get(j + 2)}")
        val nulled = c.getLong(1)
        val expectNull = nulled == 4 || (nulled >= 0 && nulled < k.inputs.length)
        assert(c.isNullAt(j + 2) === expectNull, s"${k.name} row ${c.getLong(0)}")
        assert(i.isNullAt(j + 2) === expectNull, s"${k.name} row ${c.getLong(0)} (interpreted)")
      }
    }
  }

  test("non-nullable arguments give a non-nullable kernel column") {
    val df = fixture.select(call_function("graft_minhash", col("s")).as("m"),
      call_function("graft_minhash", when(col("id") > 0, col("s"))).as("mn"))
    assert(!df.schema("m").nullable)
    assert(df.schema("mn").nullable)
  }

  test("the generated code calls the kernel method directly") {
    val df = fixture.select(call_function("graft_minhash", col("s")).as("m"))
    val code = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    assert(code.contains("graft.plans.MinhashMath.minhash("), code)
    assert(!code.contains("reflect"), code)
  }

  test("a wrong argument count fails analysis with the name and the expected count") {
    val few = intercept[AnalysisException](spark.sql("SELECT graft_cdc_chunks('a b c')"))
    assert(few.getMessage.contains("`graft_cdc_chunks` requires 2 parameters"), few.getMessage)
    val many = intercept[AnalysisException](spark.sql("SELECT graft_erf(1.0, 2.0)"))
    assert(many.getMessage.contains("`graft_erf` requires 1 parameters"), many.getMessage)
    GraftExtensions.Functions.foreach { f =>
      val args = Seq.fill(f.arity + 1)("NULL").mkString(", ")
      val e = intercept[AnalysisException](spark.sql(s"SELECT ${f.name}($args)"))
      assert(e.getMessage.contains(s"`${f.name}` requires ${f.arity} parameters"), e.getMessage)
    }
  }

  test("every argument gets its declared cast") {
    // a castable value of a different type for each declared input
    def other(t: DataType): String = t match {
      case DoubleType => "1"
      case IntegerType => "2L"
      case LongType => "3"
      case StringType => "12345"
      case ArrayType(DoubleType, _) => "array(1, 2)"
      case ArrayType(LongType, _) => "array(1, 2)"
      case BinaryType => "'abc'"
      case x => fail(s"no castable literal for $x")
    }
    GraftExtensions.Kernels.foreach { k =>
      val plan = spark.sql(s"SELECT ${k.name}(${k.inputs.map(other).mkString(", ")})")
        .queryExecution.analyzed
      val call = plan.expressions.flatMap(_.collect { case c: KernelCall => c }).head
      assert(call.children.map(_.dataType) === k.inputs, k.name)
    }
  }

  test("graft_lsh_code and graft_lsh_bands cast BIGINT arguments to int") {
    val v = "array(0.5D, -1.0D, 2.0D, 0.25D)"
    val ints = spark.sql(s"SELECT graft_lsh_code($v, 4, 3, 1), graft_lsh_bands($v, 4, 2, 2)").first()
    val longs = spark.sql(s"SELECT graft_lsh_code($v, 4L, 3L, 1L), graft_lsh_bands($v, 4L, 2L, 2L)")
      .first()
    assert(ints === longs)
    val cols = spark.range(2).select(call_function("graft_lsh_code", expr(v),
      col("id") + 4, col("id") * 0 + 3, col("id") * 0 + 1)).collect()
    assert(cols(0).getLong(0) === ints.getLong(0))
  }

  test("a call on constants folds to a literal") {
    val plan = spark.sql("SELECT graft_erf(0.5)").queryExecution.optimizedPlan
    assert(plan.expressions.forall(_.find(_.isInstanceOf[KernelCall]).isEmpty), plan)
  }
}
