package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** The shape shared by the fused `array<double>` pair kernels
  * ([[DotProduct]], [[CosineSimilarity]], [[EuclideanDistance]]): two
  * `array<double>` inputs checked at analysis, a DOUBLE result, and an
  * interpreted path that folds over the common prefix of both arrays.
  * Each kernel keeps its own accumulation loop ([[fold]]) and its own
  * `doGenCode`. */
private[plans] trait DoublePairKernel extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  /** The kernel's loop over the first `n` elements of `x` and `y`. */
  protected def fold(x: ArrayData, y: ArrayData, n: Int): Double

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    fold(x, y, math.min(x.numElements(), y.numElements()))
  }
}

private[plans] object DoublePairKernel {
  /** Column API for a kernel over two array<double> columns. */
  def column(a: Column, b: Column)(kernel: (Expression, Expression) => Expression): Column =
    GraftSqlBridge.column(kernel(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
