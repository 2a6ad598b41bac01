package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` Column↔Expression converters —
  * the standard pattern third-party libraries use to attach custom
  * Catalyst expressions to the public Column API (the converters are
  * public in spirit: Spark's own `functions` object calls the same
  * entry points).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** `c` converted to a Catalyst tree now. [[expression]] defers the
    * conversion to the next analysis, which is too late for a SQL
    * function builder: the analyzer calls it mid-run. */
  def analyzableExpression(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)
  /** The `bloom_filter_agg` aggregate behind `DataFrameStatFunctions.bloomFilter`:
    * the serialized filter over `c`, NULL over no rows. */
  def bloomFilterAgg(c: Column, expectedItems: Long, numBits: Long): Column =
    Column.internalFn("bloom_filter_agg", c, functions.lit(expectedItems), functions.lit(numBits))
  /** Wrap a (resolved) logical plan as a DataFrame — the entry point a
    * custom whole-operator node (e.g. graft.plans.AsOfJoinPlan) needs
    * to surface through the public Dataset API. */
  def dataFrame(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** The analyzed logical plan of a DataFrame (attribute references from
    * it are resolved, so custom nodes built on them pass analysis). */
  def analyzedPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** A `localCheckpoint`ed frame re-homed into `spark`: the same
    * checkpointed `RDD[InternalRow]` under a `LogicalRDD` bound to another
    * session, with no per-row conversion. A streaming `foreachBatch`
    * hands its batch over in the query's cloned session; this lets the
    * batch's writes run in the session that started the query. */
  def inSession(spark: SparkSession, checkpointed: DataFrame): DataFrame = {
    val r = logicalRdd(checkpointed)
    dataFrame(spark, execution.LogicalRDD(r.output, r.rdd, r.outputPartitioning, r.outputOrdering)(
      spark.asInstanceOf[classic.SparkSession], Some(r.computeStats()), Some(r.constraints)))
  }

  /** Drop the blocks of a `localCheckpoint`ed frame. `unpersist` does not:
    * a checkpoint is not an entry of the cache manager. */
  def releaseCheckpoint(checkpointed: DataFrame): Unit =
    logicalRdd(checkpointed).rdd.unpersist(blocking = false)

  private def logicalRdd(df: DataFrame): execution.LogicalRDD =
    df.queryExecution.analyzed match {
      case r: execution.LogicalRDD => r
      case p => throw new IllegalArgumentException(
        s"expected a localCheckpoint'ed frame, got a ${p.nodeName} plan")
    }
}
