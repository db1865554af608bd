package org.apache.spark.sql.graftbridge

import com.codahale.metrics.Histogram
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.{QueryCompilationErrors, QueryExecutionErrors}

/** Column ⇄ Expression bridge. Spark 4 made `Column.expr` and
  * `ExpressionUtils` private[sql]; a library shipping custom Catalyst
  * expressions needs exactly these two conversions (and the built-ins'
  * WRONG_NUM_ARGS analysis error for its SQL function builders, and
  * `element_at`'s out-of-range error for [[graft.functions.VecSum]], and
  * the codegen compile-time histogram for [[graft.Timed]]), so this
  * object lives under the `org.apache.spark.sql` namespace to access
  * them — the conventional pattern for Spark extension libraries.
  */
object Bridge {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def wrongNumArgs(name: String, expected: Int, actual: Int): Throwable =
    QueryCompilationErrors.wrongNumArgsError(name, Seq(expected), actual)
  def elementAtOutOfRange(index: Int, numElements: Int): Throwable =
    QueryExecutionErrors.invalidElementAtIndexError(index, numElements, null)
  /** Every Janino compile in this JVM, driver and (local) executors: one
    * update of whole milliseconds per compiled class.
    */
  def codegenCompileTimes: Histogram = CodegenMetrics.METRIC_COMPILATION_TIME
}
