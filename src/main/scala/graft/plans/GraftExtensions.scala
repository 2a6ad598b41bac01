package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.Funcs

/** The one install route for graft's SQL functions, optimizer rules and
  * planner strategy. [[graft.tools.Measure.session]] builds every engine
  * session with it; a session built elsewhere gets the same set through
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  *   - SQL functions: the fused kernels `cosine_similarity`,
  *     `dot_product`, `euclidean_distance`, `jaccard_sorted`, the
  *     aggregates `kmv_distinct` and `topk_by_score`, and the masking
  *     rules `mask_email` / `mask_name` (built from [[Funcs]]' Column
  *     helpers, so SQL and the DataFrame API share one spelling).
  *   - Optimizer rules: [[DistinctThresholdRewrite]] (always on;
  *     `spark.sql.optimizer.excludedRules` switches it off) and
  *     [[RangeJoinRewrite]] (a no-op until its bucket width is set).
  *   - Planner strategy: [[AsOfJoinStrategy]], which plans
  *     [[AsOfJoin.asof]]'s node.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    ext.injectOptimizerRule(_ => DistinctThresholdRewrite)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  /** A SQL function `name` of fixed `arity`; a call with another
    * argument count fails at analysis, naming the function. */
  private def fn(name: String, cls: Class[_], arity: Int)(build: Builder) =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), (args: Seq[Expression]) => {
      require(args.size == arity, s"$name takes $arity arguments, got ${args.size}")
      build(args)
    })

  private def pair(kernel: (Expression, Expression) => Expression): Builder =
    args => kernel(args(0), args(1))

  private def column(helper: Column => Column): Builder =
    args => GraftSqlBridge.analyzableExpression(helper(GraftSqlBridge.column(args.head)))

  private val functions = Seq(
    fn("cosine_similarity", classOf[CosineSimilarity], 2)(pair(CosineSimilarity(_, _))),
    fn("dot_product", classOf[DotProduct], 2)(pair(DotProduct(_, _))),
    fn("euclidean_distance", classOf[EuclideanDistance], 2)(pair(EuclideanDistance(_, _))),
    fn("jaccard_sorted", classOf[SortedJaccard], 2)(pair(SortedJaccard(_, _))),
    fn("kmv_distinct", classOf[KmvDistinct], 2)(KmvDistinct.build),
    fn("topk_by_score", classOf[TopKByScore], 3)(TopKByScore.build),
    fn("mask_email", Funcs.getClass, 1)(column(Funcs.maskEmail)),
    fn("mask_name", Funcs.getClass, 1)(column(Funcs.maskName)))
}
