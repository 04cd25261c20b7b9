package graft.tjk.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.{AnalysisException, Column, SparkSession}

/** Native cosine similarity over two `array<float>` columns, with
  * whole-stage codegen (SURVEY.md §4.3 escalation path (b): a custom scalar
  * Expression where the built-ins can't express the op efficiently).
  *
  * The composable form — `aggregate(zip_with(a,b,*), 0d, +)` — is evaluated
  * interpreted, one boxed lambda call per element (~200µs per 64-dim pair
  * measured on this image); this expression fuses dot + both norms into one
  * primitive loop. ONE kernel, [[nullSafeEval]], serves both the
  * interpreted path and whole-stage codegen: the generated code calls it
  * through a reference object, so there is no second copy of the
  * arithmetic to keep in step. Per-element float→double promotion,
  * sequential index-order sums and `dot/(sqrt(na)*sqrt(nb))` make results
  * bit-equal to the DuckDB oracle and to the test-scope HOF form
  * (`VectorReference.cosine`), which is this kernel's bit-for-bit
  * reference in `CosineExprSuite`.
  *
  * Null semantics: null array → null; any null element → null; mismatched
  * lengths → error (dimension bug, fail loudly).
  *
  * Zero-norm semantics: an all-zero vector has no direction, so its
  * similarity to anything is 0.0 — not NaN, which Spark sorts ABOVE every
  * real value and would rank a zero vector as everyone's #1 neighbor. The
  * test-scope HOF and primitive reference forms follow the same rule.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes needs private[sql] AbstractDataType — check manually.
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<float>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "tjk_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"tjk_cosine: dimension mismatch $n vs ${y.numElements()}")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  // The generated code calls nullSafeEval itself: one kernel for the
  // interpreted and the whole-stage paths, never a Java-string copy.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cosine", this)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |final Object $r = $self.nullSafeEval($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Double) $r).doubleValue(); }
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Session-scoped registration so the expression is reachable from the
  * public Column API (and SQL) without a Catalyst fork: the same injection
  * point `SparkSessionExtensions.injectFunction` uses.
  */
object NativeFunctions {
  val cosineName = "tjk_cosine"
  val hyperplaneSigName = "tjk_hyperplane_sig"
  val windowNUniqueName = "tjk_window_nunique"
  val minhashSigName = "tjk_minhash_sig"
  val simhashName = "tjk_simhash"

  @volatile private var registeredIn: SparkSession = null

  def register(spark: SparkSession): Unit = {
    // Idempotence guard: re-registration is harmless but logs a WARN per
    // call; skip when this session already holds the functions.
    if (registeredIn eq spark) return
    define(spark, cosineName, 2)(e => CosineSimilarity(e(0), e(1)))
    define(spark, hyperplaneSigName, 2)(e => HyperplaneSignature(e(0), e(1)))
    // Aggregate functions are returned bare; the analyzer wraps them in an
    // AggregateExpression at resolution (same as the builtin registry).
    define(spark, windowNUniqueName, 1)(e => WindowNUnique(e(0)))
    define(spark, minhashSigName, 2)(e => MinHashSig(e(0), e(1)))
    define(spark, simhashName, 1)(e => SimHashAgg(e(0)))
    registeredIn = spark
  }

  /** Registers `name` behind an argument-count check: a wrong count is the
    * builtin registry's WRONG_NUM_ARGS analysis error naming the function,
    * never an IndexOutOfBounds from `build` or silently dropped arguments.
    */
  private def define(spark: SparkSession, name: String, arity: Int)(
      build: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name,
      { exprs: Seq[Expression] =>
        if (exprs.size != arity)
          throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
            "functionName" -> s"`$name`",
            "expectedNum" -> arity.toString,
            "actualNum" -> exprs.size.toString,
            "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
        build(exprs)
      },
      "built-in")

  /** Column-API handle: cosineNative($"a", $"b") (requires register()). */
  def cosineNative(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{call_function => cf}
    cf(cosineName, a, b)
  }

  /** Column-API handle for the sign-LSH signature: the plane matrix is
    * passed as a typed literal so the expression sees a foldable constant.
    */
  def hyperplaneSigNative(
      spark: SparkSession, e: Column, planes: Seq[Seq[Float]]): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{call_function => cf, typedlit}
    cf(hyperplaneSigName, e, typedlit(planes))
  }

  /** Column-API handle for the whole-signature MinHash aggregate:
    * element j of minhashSigNative($"g", k) over a group ≡
    * min(md5(concat(s"$j:", $"g"))) over that group's grams.
    */
  def minhashSigNative(spark: SparkSession, g: Column, k: Int): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{call_function => cf, lit}
    cf(minhashSigName, g, lit(k))
  }

  /** Column-API handle for the SimHash fold aggregate over 64-bit token
    * hashes: bit i of simhashNative($"h") ≡ (Σ ((h>>i)&1 ? 1 : −1)) > 0.
    */
  def simhashNative(spark: SparkSession, h: Column): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{call_function => cf}
    cf(simhashName, h)
  }
}
