package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column<->Expression converters — the
  * supported way for third-party Catalyst expressions to surface as
  * `Column`s in Spark 4's classic API (ExpressionUtils is sql-private).
  */
object shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Fully convert a functions-API `Column` tree into a Catalyst
    * expression the analyzer can resolve. [[expression]] merely WRAPS the
    * column node (fine when the Column already wraps a concrete
    * Expression); a Column built from `org.apache.spark.sql.functions`
    * compositions needs the classic converter, or it survives analysis as
    * an un-codegen-able opaque node. This is what lets one Column-based
    * operator definition serve both the DataFrame API and a registered
    * SQL function.
    */
  def toExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** The session's Hadoop configuration with its SQL conf applied — what a
    * DataFrameWriter job starts from (SessionState is private[sql]).
    */
  def newHadoopConf(spark: org.apache.spark.sql.SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  /** Wrap a (resolved) logical plan as a DataFrame (Dataset.ofRows is
    * private[sql]).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A QueryExecution over a physical plan prepared elsewhere: its
    * `executedPlan` is `plan` as given, so running a job under it
    * (`SQLExecution.withNewExecutionId`) shows listeners and the SQL UI
    * that plan with no analysis, optimization or planning. `logical` is
    * the relation the plan reads.
    */
  def preparedExecution(spark: org.apache.spark.sql.SparkSession,
                        logical: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                        plan: org.apache.spark.sql.execution.SparkPlan): org.apache.spark.sql.execution.QueryExecution =
    new org.apache.spark.sql.execution.QueryExecution(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], logical) {
      override def executedPlan: org.apache.spark.sql.execution.SparkPlan = plan
    }
}
