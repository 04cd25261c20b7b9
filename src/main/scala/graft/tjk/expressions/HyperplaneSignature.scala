package graft.tjk.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Random-hyperplane (sign-LSH) signature over an `array<float>` embedding:
  * for each hyperplane p, emits '1' if Σᵢ e[i]·w[p][i] ≥ 0 else '0', as a
  * single nPlanes-char string — the LSH key material for embedding near-dup
  * bucketing (VectorOps.cosineNearDupPairsLsh).
  *
  * Same escalation rationale as [[CosineSimilarity]]: the composable HOF form
  * (`transform(planes, w -> aggregate(zip_with(e, w, *), 0d, +))`) evaluates
  * interpreted with one boxed lambda call per element per plane — 64 planes ×
  * 64 dims = 4096 boxed ops per ROW on the hot path. This expression fuses
  * all plane dots into one primitive loop nest, [[compute]], which the
  * interpreted path and the whole-stage generated code both call.
  * Arithmetic is per-element float→double promotion and sequential
  * index-order sums — the same convention the DuckDB oracle replicates.
  *
  * `planes` must be a foldable literal of `array<array<float>>` (the
  * deterministic Rademacher matrix from [[VectorOps.hyperplanes]]); it is
  * materialized once per expression instance, never per row.
  *
  * Null semantics: null array → null; any null element → null; dimension
  * mismatch vs the plane matrix → error (dimension bug, fail loudly).
  */
case class HyperplaneSignature(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val okChild = left.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val okPlanes = right.dataType match {
      case ArrayType(ArrayType(FloatType, _), _) => right.foldable
      case _ => false
    }
    if (okChild && okPlanes) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, literal array<array<float>>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "tjk_hyperplane_sig"

  /** The plane matrix, materialized once from the foldable literal. */
  @transient private lazy val mat: Array[Array[Float]] = {
    val ad = right.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(p => ad.getArray(p).toFloatArray())
  }

  /** The one kernel: the interpreted [[eval]] and the generated code both
    * call it. Null element → null; dimension mismatch → error.
    */
  def compute(arr: ArrayData): UTF8String = {
    val planes = mat
    val dim = planes(0).length
    if (arr.numElements() != dim)
      throw new IllegalArgumentException(
        s"tjk_hyperplane_sig: dimension mismatch ${arr.numElements()} vs $dim")
    val out = new Array[Byte](planes.length)
    var p = 0
    while (p < planes.length) {
      val w = planes(p)
      var d = 0.0
      var i = 0
      while (i < dim) {
        if (arr.isNullAt(i)) return null
        d += arr.getFloat(i).toDouble * w(i).toDouble
        i += 1
      }
      out(p) = if (d >= 0) '1' else '0'
      p += 1
    }
    UTF8String.fromBytes(out)
  }

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) null else compute(a.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val self = ctx.addReferenceObj("hyperplaneSig", this)
    val c = left.genCode(ctx)
    ev.copy(code =
      code"""
           |${c.code}
           |UTF8String ${ev.value} = ${c.isNull} ? null : $self.compute(${c.value});
           |boolean ${ev.isNull} = ${ev.value} == null;
         """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HyperplaneSignature =
    copy(left = newLeft, right = newRight)
}
