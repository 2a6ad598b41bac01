package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}

/** Native Catalyst expression: Jaccard similarity of two SORTED,
  * de-duplicated `array<string>` columns in ONE fused merge-scan.
  *
  * The built-in composition `size(array_intersect(a,b)) /
  * size(array_union(a,b))` walks both arrays twice and MATERIALIZES two
  * throwaway arrays per row (the intersection and the union) just to
  * take their sizes; the explode→join→groupBy formulation
  * (`Dedup.jaccardPairs`) shuffles the whole shingle stream. This
  * expression computes the intersection count with a single
  * two-pointer merge over the pre-sorted inputs — zero allocation,
  * O(|a|+|b|) comparisons — and stays inside whole-stage codegen.
  *
  * Contract: both arrays must be sorted ascending with distinct,
  * non-null elements (`sort_array(array_distinct(..))`); fixed-width
  * lexicographic UTF8 comparison is exactly the order `sort_array`
  * produces. An empty union yields 0.0.
  */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<string> arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "jaccard_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements(); val nb = y.numElements()
    var i = 0; var j = 0; var inter = 0L
    while (i < na && j < nb) {
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = na.toLong + nb - inter
    if (union == 0L) 0.0 else inter.toDouble / union
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter"); val c = ctx.freshName("c")
      val union = ctx.freshName("union")
      s"""
         |int $na = $a.numElements(); int $nb = $b.numElements();
         |int $i = 0; int $j = 0; long $inter = 0L;
         |while ($i < $na && $j < $nb) {
         |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { $inter++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |long $union = (long) $na + $nb - $inter;
         |${ev.value} = $union == 0L ? 0.0 : (double) $inter / $union;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedJaccard = copy(left = newLeft, right = newRight)
}

object SortedJaccard {
  /** Column API: Jaccard over two sorted distinct array<string> columns. */
  def apply(a: Column, b: Column): Column =
    GraftSqlBridge.column(SortedJaccard(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
