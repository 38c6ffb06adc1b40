package graft.plans

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.SPARK_DOC_ROOT
import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Cast, ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** Session extension point: registers graft's native functions so SQL
  * users get them by name. Activate with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (GraftSession
  * sets this by default).
  *
  * This is the (b)-tier extension path from the design rules: a
  * compiled scalar injected via SparkSessionExtensions, used only
  * where built-ins can't express it. Everything else in graft composes
  * `org.apache.spark.sql.functions`.
  *
  * A kernel is one `*Math` method plus one row of [[GraftExtensions.Kernels]];
  * [[KernelCall]] binds every row. Each argument is cast to the row's
  * input type (an `array<float>` embedding into graft_dot is converted
  * at analysis time instead of being read with 8-byte strides over
  * 4-byte elements, and an uncastable argument fails analysis instead
  * of crashing an executor); casts on already-correct types are removed
  * by SimplifyCasts. A call with the wrong number of arguments fails
  * analysis with the function name and the expected count.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.Functions.foreach { f =>
      ext.injectFunction((
        new FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name),
        (args: Seq[Expression]) => {
          if (args.length != f.arity)
            throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
              "functionName" -> s"`${f.name}`", "expectedNum" -> f.arity.toString,
              "actualNum" -> args.length.toString, "docroot" -> SPARK_DOC_ROOT))
          f.build(args)
        }))
    }
}

object GraftExtensions {
  private val dblArr = ArrayType(DoubleType)
  private val longArr = ArrayType(LongType)
  private val longs = ArrayType(LongType, containsNull = false)
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  /** Every compiled kernel: SQL name, `graft.plans` method, result
    * type, argument types. */
  val Kernels: Seq[Kernel] = Seq(
    Kernel("graft_erf", "ErfMath.erf", DoubleType, DoubleType),
    Kernel("graft_dot", "ArrayKernelMath.dot", DoubleType, dblArr, dblArr),
    Kernel("graft_dist2", "ArrayKernelMath.dist2", DoubleType, dblArr, dblArr),
    // (v, dims, bits, planeOffset | nBands); the ints parameterize the loop
    Kernel("graft_lsh_code", "LshCodeMath.code", LongType,
      dblArr, IntegerType, IntegerType, IntegerType),
    Kernel("graft_lsh_bands", "LshCodeMath.codes", longs,
      dblArr, IntegerType, IntegerType, IntegerType),
    Kernel("graft_winnow", "WinnowMath.winnow",
      struct("n_fingerprints" -> LongType, "min_fp" -> LongType, "max_fp" -> LongType), StringType),
    Kernel("graft_top_bigram", "BigramMath.topBigram",
      struct("mx" -> LongType, "tot" -> LongType), StringType),
    Kernel("graft_minhash", "MinhashMath.minhash", longs, StringType),
    Kernel("graft_shingle_set", "MinhashMath.shingleSet", longs, StringType),
    Kernel("graft_intersect_count", "MinhashMath.intersectCount", LongType, longArr, longArr),
    Kernel("graft_simhash", "SimhashMath.simhash",
      struct("simlo" -> LongType, "simhi" -> LongType), StringType),
    Kernel("graft_gram_hashes", "GramHashMath.gramHashes",
      ArrayType(struct("hlo" -> LongType, "hhi" -> LongType), containsNull = false),
      StringType, IntegerType),
    Kernel("graft_cdc_chunks", "CdcMath.chunkHashes", longs, StringType, IntegerType),
    Kernel("graft_cdc_cuts", "CdcMath.chunkEnds", longs, StringType, IntegerType),
    Kernel("graft_entropy", "EntropyMath.charEntropy",
      struct("n" -> LongType, "k" -> LongType, "ent_e12" -> LongType), StringType),
    Kernel("graft_nfc", "UnicodeNormMath.nfc", StringType, StringType),
    Kernel("graft_phash", "PhashMath.phash", longs, StringType),
    Kernel("graft_jaro_winkler", "JwMath.jaroWinkler", DoubleType, StringType, StringType),
    Kernel("graft_damerau", "DamerauMath.distance", LongType, StringType, StringType),
    // SymSpell deletion neighborhood (q309's equi-join blocking key):
    // deletes(a,k) ∩ deletes(b,k) ≠ ∅ whenever DL(a,b) ≤ k.
    Kernel("graft_deletes", "SymSpellMath.deletes",
      ArrayType(StringType, containsNull = false), StringType, IntegerType),
    // Real JDK media codecs (q306/q307): encode builds the asset from
    // closed-form integer formulas, decode recovers them.
    Kernel("graft_png_encode", "MediaMath.pngEncode", BinaryType,
      LongType, IntegerType, IntegerType),
    Kernel("graft_png_stats", "MediaMath.pngStats", struct("width" -> IntegerType,
      "height" -> IntegerType, "sum_r" -> LongType, "sum_g" -> LongType, "sum_b" -> LongType),
      BinaryType),
    Kernel("graft_wav_encode", "MediaMath.wavEncode", BinaryType, LongType, IntegerType),
    Kernel("graft_wav_stats", "MediaMath.wavStats",
      struct("n_samples" -> LongType, "sum_s" -> LongType, "sum_abs" -> LongType), BinaryType))

  /** One registered SQL function. */
  case class SqlFunction(name: String, cls: Class[_], arity: Int, build: Seq[Expression] => Expression)

  /** Every registered `graft_*` function: the kernel table, plus the
    * functions that are not a static call. Spark's own Bloom sketch
    * pair (used internally for runtime join pruning) is exposed by
    * name: it is not in the public registry, but a fixed-size
    * broadcastable membership sketch is what scale-path
    * decontamination wants (DedupQueries.decontaminateBloomSets).
    * graft_bloom_agg(longCol, estItems, numBits) → binary sketch;
    * graft_might_contain(sketch, longCol). The two sketch probes decode
    * their constant sketch once per plan. */
  val Functions: Seq[SqlFunction] = Kernels.map { k =>
    SqlFunction(k.name, classOf[KernelCall], k.inputs.length,
      args => KernelCall(k, args.zip(k.inputs).map { case (a, t) => Cast(a, t) }))
  } ++ Seq(
    SqlFunction("graft_bloom_agg", classOf[BloomFilterAggregate], 3,
      a => new BloomFilterAggregate(Cast(a(0), LongType), a(1), a(2)).toAggregateExpression()),
    SqlFunction("graft_might_contain", classOf[BloomFilterMightContain], 2,
      a => BloomFilterMightContain(a(0), Cast(a(1), LongType))),
    SqlFunction("graft_bloom_count_contains", classOf[BloomCountContains], 2,
      a => BloomCountContains(a(0), Cast(a(1), longArr))),
    SqlFunction("graft_pbloom_hits", classOf[PBloomHits], 2,
      a => PBloomHits(a(0), Cast(a(1), longArr))))
}

/** One kernel: SQL `name` calls the static `graft.plans.<call>` (a
  * `*Math` object's method) on arguments of the `inputs` types and
  * returns `dataType`. */
case class Kernel(name: String, call: String, dataType: DataType, inputs: DataType*)

/** A `graft_*` kernel call. Generated code calls the kernel's static
  * method directly on the children's values (no reflection, no boxing,
  * inside whole-stage codegen); interpreted eval goes through one
  * cached `Method`. Any null argument gives a null result. */
case class KernelCall(kernel: Kernel, children: Seq[Expression])
    extends Expression with ExpectsInputTypes {
  override def prettyName: String = kernel.name
  override def dataType: DataType = kernel.dataType
  // inferred: the declared element type, AbstractDataType, is private to Spark
  override def inputTypes = kernel.inputs
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  // plans print graft_x(children), not the table row
  override protected def stringArgs: Iterator[Any] = children.iterator

  @transient private lazy val method: Method = {
    val dot = kernel.call.lastIndexOf('.')
    Class.forName(s"graft.plans.${kernel.call.take(dot)}")
      .getMethod(kernel.call.drop(dot + 1), kernel.inputs.map(CodeGenerator.javaClass): _*)
  }

  override def eval(input: InternalRow): Any = {
    val args = children.map(_.eval(input).asInstanceOf[AnyRef])
    if (args.contains(null)) null
    else try method.invoke(null, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val javaType = CodeGenerator.javaType(dataType)
    val call = s"${ev.value} = graft.plans.${kernel.call}(${evals.map(_.value).mkString(", ")});"
    if (nullable) {
      // each argument is computed only once the earlier ones are non-null
      val body = children.zip(evals).foldRight(s"${ev.isNull} = false;\n$call") {
        case ((c, e), inner) => s"${e.code}\n${ctx.nullSafeExec(c.nullable, e.isNull)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $body""")
    } else {
      ev.copy(code = code"""
        ${evals.map(_.code).mkString("\n")}
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $call""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KernelCall =
    copy(children = c)
}
