package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.errors.QueryExecutionErrors

/** Bridge into Spark's `private[sql]` Column↔Expression converters for
  * graft's native Catalyst expressions ([[graft.functions.DotProduct]] etc.).
  *
  * Spark 4 backs `Column` by a `ColumnNode`, and the classic converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`) are `private[sql]`, so a
  * library defining its own `Expression`s needs either a registry injection
  * per session (`SparkSessionExtensions.injectFunction` + `call_function`) or
  * this package-placed shim. The shim keeps the Column API session-agnostic —
  * callers need no extension config.
  *
  * It also hands out the ANSI errors Spark's own `Divide` and `element_at`
  * throw, so the native array kernels fail with the same error conditions.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `DIVIDE_BY_ZERO`, as `Divide` throws under ANSI. */
  def divideByZero(): ArithmeticException = QueryExecutionErrors.divideByZeroError(null)

  /** `INVALID_ARRAY_INDEX_IN_ELEMENT_AT`, as `element_at` throws under ANSI
    * for the 1-based `index` into an array of `numElements`.
    */
  def invalidElementAtIndex(index: Int, numElements: Int): ArrayIndexOutOfBoundsException =
    QueryExecutionErrors.invalidElementAtIndexError(index, numElements, null)
}
