package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native Catalyst expression: dot product over two `array<double>`
  * columns in ONE fused allocation-free loop (whole-stage codegen via
  * [[doGenCode]]) — the primitive under [[CosineSimilarity]] and
  * [[EuclideanDistance]], exposed on its own for the pre-normalized
  * similarity path: when unit vectors are materialized once per row,
  * a candidate pair costs ONE dot instead of dot + two norms
  * ([[graft.llm.Similarity.nearDupPairs]]).
  *
  * Float semantics: left-to-right accumulation from a 0.0 seed — the
  * same fold order as the HOF `aggregate(zip_with(a, b, (x,y) -> x*y),
  * 0d, (acc, p) -> acc + p)` and as DuckDB's `list_reduce` left fold
  * (whose seed is the first product; `0.0 + p1 == p1` exactly), so all
  * three formulations agree bit-for-bit on equal-length non-null input.
  *
  * Input convention (same as [[CosineSimilarity]]): unequal lengths fold
  * over the common prefix; null elements are unsupported (`getDouble` on
  * a null slot is undefined). Engine callers produce fixed-dimension
  * `containsNull=false` embedding columns.
  */
case class DotProduct(left: Expression, right: Expression)
    extends DoublePairKernel {

  override def prettyName: String = "dot_product"

  override protected def fold(x: ArrayData, y: ArrayData, n: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |double $acc = 0.0;
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProduct = copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column API: dot product over two array<double> columns. */
  def apply(a: Column, b: Column): Column = DoublePairKernel.column(a, b)(DotProduct(_, _))
}
