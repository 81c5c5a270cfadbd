package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 moved Column onto ColumnNode and made the
  * Column↔Expression bridge (`classic.ExpressionUtils`) private[sql];
  * this package-located shim re-exposes it for graft's custom Catalyst
  * expressions (the sanctioned pattern for classic-mode extensions).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** `raise_error(message)`'s exception, for a native expression that
  * reports a user error exactly as the SQL function would (Spark keeps
  * its error constructors private[sql]). */
object ErrorBridge {
  def raiseError(message: String): RuntimeException =
    org.apache.spark.sql.errors.QueryExecutionErrors.raiseError(
      org.apache.spark.unsafe.types.UTF8String.fromString("USER_RAISED_EXCEPTION"),
      org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        Map[Any, Any](
          org.apache.spark.unsafe.types.UTF8String.fromString("errorMessage") ->
            org.apache.spark.unsafe.types.UTF8String.fromString(message))))
}
