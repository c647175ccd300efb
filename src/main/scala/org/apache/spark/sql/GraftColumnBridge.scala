package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Bridge into `private[sql]` API — the standard pattern for Spark
  * extension libraries: the Column↔Expression converters for custom
  * Catalyst expressions (Spark 4 made `Column` wrap a ColumnNode, so
  * `new Column(expr)` no longer exists), and reads/writes of a
  * connector `Table` instance that no `format(...)` name resolves to
  * (the store's package-private merged relation). */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a custom Expression under a SQL-callable name in an
    * EXISTING session (the SparkSessionExtensions path only applies at
    * session construction; this is the runtime-registration twin). */
  def registerExpression(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  private def relation(table: Table) =
    DataSourceV2Relation.create(table, None, None, CaseInsensitiveStringMap.empty())

  /** A DataFrame scanning `table`. */
  def read(spark: SparkSession, table: Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], relation(table))

  /** Overwrite `table` with `df` now: the `OverwriteByExpression(true)`
    * plan `mode("overwrite")` runs, so the table's writer truncates. */
  def overwrite(df: DataFrame, table: Table): Unit =
    classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
      OverwriteByExpression.byName(relation(table), df.queryExecution.logical,
        Literal.TrueLiteral))
}
