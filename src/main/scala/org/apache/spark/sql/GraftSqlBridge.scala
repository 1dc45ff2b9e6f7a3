package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the private[sql] Column <-> catalyst Expression converters.
  * Spark 4 hid these behind the Connect-compatible Column API; placing a
  * forwarder inside the org.apache.spark.sql package is the standard
  * technique for libraries that ship custom Catalyst expressions.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over a custom LogicalPlan (graft.plans operators) —
    * `Dataset.ofRows` moved behind private[sql] with the classic/connect
    * split, same story as the Column converters above.
    */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** the session's ExperimentalMethods (extraStrategies hook) — public
    * API on the classic session, absent from the unified facade
    */
  def experimental(spark: SparkSession): ExperimentalMethods =
    spark.asInstanceOf[classic.SparkSession].experimental

  /** Rebuild `df` as a flat scan over its own (lazily evaluated)
    * InternalRow RDD. Iterative algorithms that feed a DataFrame back
    * into joins each round otherwise nest the previous round's plan
    * several times per iteration — exponential Catalyst-plan growth even
    * when persist() keeps the EXECUTION linear. Wrapping the round in a
    * LogicalRDD truncates the plan the way checkpoint() would, without
    * writing anything; pair with persist()+an action so the RDD reads
    * cached blocks instead of recomputing.
    */
  def truncateLineage(df: DataFrame): DataFrame = {
    val classicDf = df.asInstanceOf[classic.Dataset[Row]]
    val spark = classicDf.sparkSession
    ofRows(spark, execution.LogicalRDD.fromDataset(
      classicDf.queryExecution.toRdd, classicDf, isStreaming = false))
  }

  /** Full ColumnNode conversion — unlike `expression` above, this maps a
    * `.desc`/`.asc_nulls_last` column's internal SortOrder node to a
    * catalyst SortOrder instead of wrapping it opaquely (needed when a
    * sort column is consumed as an ORDERING, e.g. graft.plans operators).
    */
  def sortExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Block until every posted listener event is delivered — the
    * private[spark] `listenerBus`, reachable from this package. Throws
    * a TimeoutException after `timeoutMs`.
    */
  def waitListenersEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
