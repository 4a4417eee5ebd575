package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Bridge to `private[sql]` Spark internals (the Column↔Expression
  * converters, the `LogicalRDD`/`ofRows` re-root) — the standard
  * pattern for third-party Catalyst extensions (Spark's own API for
  * these is package-private in 4.x).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df` re-rooted on a `LogicalRDD` leaf over the RDD of a fresh
    * plan of `df` (which reads a persisted `df` through its cache).
    * Planned inside a new SQL execution, as Spark's `localCheckpoint`
    * is: `toRdd` runs the plan's shuffle stages, and jobs started
    * outside an execution re-compiled their generated code on the
    * executors (on BunnyHop that cancelled the whole gain).
    */
  def leaf(df: DataFrame): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val planned = classic.Dataset.ofRows(session, df.queryExecution.analyzed)
    val qe = planned.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("persistLeaf"))(qe.toRdd)
    classic.Dataset.ofRows(session, LogicalRDD.fromDataset(rdd, planned, df.isStreaming))
  }
}
