package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge for SQL function registration.
  *
  * Spark 4 made `Column.expr` / `Column(expr)` private[sql]
  * (columnNodeSupport.scala); registering a composed Column function
  * in the FunctionRegistry needs exactly that conversion. This tiny
  * shim lives in the `org.apache.spark.sql` package to reach the
  * classic-mode utilities — no reflection, no copied code.
  *
  * `toExpr` must convert EAGERLY through the session's converter:
  * the sessionless `ExpressionUtils.expression` defers to a lazy
  * `ColumnNodeExpression` wrapper, which is `Unevaluable` and only
  * unwrapped on classic Dataset API entry — a FunctionRegistry
  * builder's output never passes through that hook, so the lazy form
  * dies at codegen. The eager converter emits catalyst
  * `UnresolvedFunction` nodes the analyzer then resolves to fixpoint.
  */
object GraftColumnBridge {
  def toExpr(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** A native expression over Column arguments, built without a
    * session: each argument stays a lazy `ColumnNodeExpression`, which
    * the classic Dataset API unwraps when the Column enters a plan —
    * for Dataset-API use only, never as a FunctionRegistry builder's
    * output (see [[toExpr]]). */
  def native(args: Column*)(build: Seq[Expression] => Expression): Column =
    toColumn(build(args.map(classic.ExpressionUtils.expression)))
}
