package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.classic.{ColumnNodeExpression, ExpressionUtils}
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.unsafe.types.UTF8String

/**
 * Minimal bridge into the `private[sql]` Column ⇄ Expression conversions —
 * Spark 4 removed the public `new Column(expr)` constructor, and extension
 * libraries registering custom Catalyst expressions need exactly these two
 * calls — plus `Dataset.ofRows`, for a frame over a logical plan the library
 * built itself (`TsAggClient`'s region-fold scan), the name of a bare
 * column reference inside an unresolved expression, and `raise_error`'s
 * exception, for a check that code outside a plan makes on its behalf.
 * Nothing else from the private surface is touched.
 */
object GraftBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)
  def toDataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** The name `e` reads when it is a bare single-part column reference
    * (`col(name)`, before analysis). */
  def columnName(e: Expression): Option[String] = e match {
    case ColumnNodeExpression(internal.UnresolvedAttribute(Seq(name), _, false, _)) => Some(name)
    case UnresolvedAttribute(Seq(name)) => Some(name)
    case _ => None
  }
  /** What `functions.raise_error(lit(message))` throws. */
  def raiseError(message: String): RuntimeException = QueryExecutionErrors.raiseError(
    UTF8String.fromString("USER_RAISED_EXCEPTION"), new ArrayBasedMapData(
      new GenericArrayData(Array[Any](UTF8String.fromString("errorMessage"))),
      new GenericArrayData(Array[Any](UTF8String.fromString(message)))))
}
