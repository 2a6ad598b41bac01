package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension installing graft's custom expressions and optimizer
  * rules, for use via `spark.sql.extensions=graft.plans.GraftExtensions`
  * or a session builder's `withExtensions(new GraftExtensions)` — the
  * standard plug-in route for engine extensions. SURVEY §4 concludes
  * PARITY needs no custom rules; the two rules injected here
  * ([[RangeJoinRewrite]], [[DistinctThresholdRewrite]]) are
  * beyond-parity, conf-gated, and off by default.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("euclidean_distance"),
      new ExpressionInfo(classOf[EuclideanDistance].getName, "euclidean_distance"),
      (exprs: Seq[Expression]) => EuclideanDistance(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("jaccard_sorted"),
      new ExpressionInfo(classOf[SortedJaccard].getName, "jaccard_sorted"),
      (exprs: Seq[Expression]) => SortedJaccard(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("kmv_distinct"),
      new ExpressionInfo(classOf[KmvDistinct].getName, "kmv_distinct"),
      (exprs: Seq[Expression]) => KmvDistinct.build(exprs)))
    ext.injectFunction((
      new FunctionIdentifier("topk_by_score"),
      new ExpressionInfo(classOf[TopKByScore].getName, "topk_by_score"),
      (exprs: Seq[Expression]) => TopKByScore.build(exprs)))
    // No-op until spark.graft.rangeJoin.bucketSize is set > 0.
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    // No-op until spark.graft.rewriteDistinctThreshold is true.
    ext.injectOptimizerRule(_ => DistinctThresholdRewrite)
    // Plans graft.plans.AsOfJoinPlan (custom whole-operator node) into
    // the partition-wise merge exec; AsOfJoin.asof also self-registers
    // via experimental.extraStrategies for extension-less sessions.
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
