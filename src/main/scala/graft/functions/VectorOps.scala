package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Codegen'd vector kernels for the similarity/dedup operators.
  *
  * Spark's higher-order functions (zip_with + aggregate) evaluate their
  * lambda interpreted per element — measured ~6× slower on the ANN
  * cross join. These expressions compile to a tight primitive loop
  * inside whole-stage codegen.
  *
  * Semantics are bit-compatible with the previous fold and with the
  * DuckDB oracle: each float is widened to double, products are
  * accumulated left-to-right in a double.
  */
object VectorKernels {

  /** Java-callable: Σ (double)a[i] * (double)b[i], sequential. */
  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Java-callable: Σ (double)a[i]^2, sequential. */
  def norm2F(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val v = a.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    acc
  }
}

/** dot(a, b) over array<float> columns → double. */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotFF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.dotFF($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

/** Σ a[i]^2 over an array<float> column → double. */
case class VecNorm2(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any): Any =
    VectorKernels.norm2F(a.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VectorKernels.norm2F($a)")

  override protected def withNewChildInternal(
      newChild: Expression): VecNorm2 = copy(child = newChild)

  override def prettyName: String = "vec_norm2"
}
