package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native squared-L2 distance over two `array<double>` columns — the
  * [[DotProduct]] treatment for the OTHER hot vector kernel: the PQ
  * encode/ADC path evaluates m×k (=128) sub-vector distances PER ROW, and
  * with the interpreted `aggregate(zip_with(...))` formulation that closure
  * dispatch was the whole cost (v5 measured ~3.4 s warm at sf0.1; ~0.6 s
  * with this kernel). Accumulation is the same left-to-right order as the
  * HOF fold it replaces — bit-identical results.
  */
case class L2Sq(left: Expression, right: Expression)
  extends DoubleArrayKernel {

  protected def sqlName: String = "l2sq"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.l2sq($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Sq =
    copy(left = newLeft, right = newRight)
}
