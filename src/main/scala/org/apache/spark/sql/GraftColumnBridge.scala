package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Bridge to the sql-private Column<->Expression converters so graft's
  * custom Catalyst expressions can surface as Columns, and to the
  * `private[sql]` plan calls behind [[graft.ext.Materialize.staged]].
  * Lives in the spark.sql package purely for `private[sql]` visibility;
  * contains no Spark code.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Public alias for the `private[sql]` AbstractDataType, so graft
    * expressions can declare `ExpectsInputTypes.inputTypes` (analysis-
    * time type contracts) without living in the sql package. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** Executes `df`'s physical plan under one SQL execution (adaptive
    * execution runs its shuffle map stages here) and returns a frame
    * over the resulting RDD: a `LogicalRDD` carrying the final plan's
    * output partitioning and ordering, the shape `Dataset.checkpoint`
    * builds, minus the checkpoint's stored blocks. */
  def overExecutedPlan(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("stage")) {
      qe.executedPlan.execute()
    }
    // an adaptive plan reports no partitioning of its own; its final
    // plan (fixed by the execution above) does
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    classic.Dataset.ofRows(ds.sparkSession, LogicalRDD(ds.logicalPlan.output,
      rdd, plan.outputPartitioning, plan.outputOrdering,
      isStreaming = false)(ds.sparkSession))
  }
}
