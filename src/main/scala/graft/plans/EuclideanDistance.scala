package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native Catalyst expression: Euclidean (L2) distance over two
  * `array<double>` columns in ONE fused pass.
  *
  * The HOF formulation (`sqrt(aggregate(zip_with(a,b,(x,y)->(x-y)²)))`)
  * allocates an intermediate difference-square array per row; this
  * expression accumulates in a single allocation-free loop and joins
  * whole-stage codegen via [[doGenCode]] — the same extension route as
  * [[CosineSimilarity]], which the L2 retrieval leg of hybrid search
  * ([[graft.llm.Similarity.l2TopK]]) pairs with.
  *
  * Float-semantics note: for equal-length arrays of non-null elements,
  * accumulation is the same left-to-right order with a 0.0 seed as the
  * HOF fold, so results are bit-identical to the composed version
  * (equivalence-asserted in SimilaritySpec) and to the DuckDB oracle's
  * `list_reduce`.
  *
  * Input convention (same as [[CosineSimilarity]]): arrays of UNEQUAL
  * length are folded over the common prefix (`min(len)`), whereas the
  * HOF `zip_with` pads the short side with null and returns NULL — the
  * two formulations intentionally diverge there. Null ELEMENTS are not
  * supported: `getDouble` on a null slot is undefined. All engine
  * callers ([[graft.llm.Similarity]]) produce fixed-dimension,
  * containsNull=false embedding columns, which is the supported domain.
  */
case class EuclideanDistance(left: Expression, right: Expression)
    extends DoublePairKernel {

  override def prettyName: String = "euclidean_distance"

  override protected def fold(x: ArrayData, y: ArrayData, n: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
      val n = ctx.freshName("n"); val d = ctx.freshName("d")
      s"""
         |double $acc = 0.0;
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): EuclideanDistance = copy(left = newLeft, right = newRight)
}

object EuclideanDistance {
  /** Column API: L2 distance over two array<double> columns. */
  def apply(a: Column, b: Column): Column = DoublePairKernel.column(a, b)(EuclideanDistance(_, _))
}
