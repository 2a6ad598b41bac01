package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native Catalyst expression: cosine similarity over two
  * `array<double>` columns in ONE fused pass.
  *
  * The HOF formulation (`aggregate(zip_with(a,b,*))` for the dot product
  * plus two more folds for the norms) walks each array three times and
  * allocates an intermediate product array per row. This expression
  * computes dot, |a|² and |b|² in a single loop with zero allocation, and
  * participates in whole-stage codegen via [[doGenCode]] — the preferred
  * extension route when built-in operators can't express the shape
  * efficiently (custom `Expression` with codegen > UDF).
  *
  * Float-semantics note: accumulation order (left-to-right) and the final
  * `dot / (sqrt(nx) * sqrt(ny))` match the HOF formulation exactly, so
  * results are bit-identical to the composed version (and to the DuckDB
  * oracle's `list_reduce` fold). Zero vectors yield NaN in both.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends DoublePairKernel {

  override def prettyName: String = "cosine_similarity"

  override protected def fold(x: ArrayData, y: ArrayData, n: Int): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val i = ctx.freshName("i")
      val n = ctx.freshName("n"); val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSimilarity = copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column API: cosine similarity over two array<double> columns. */
  def apply(a: Column, b: Column): Column = DoublePairKernel.column(a, b)(CosineSimilarity(_, _))
}
