package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, IntegralDivide}
import org.apache.spark.sql.classic.ExpressionUtils

/** Column-level seam for Catalyst expressions the public `functions`
  * API doesn't expose. SQL's `div` (IntegralDivide) exists only as a
  * parser keyword — `expr("a div b")` — which can't be applied to
  * anonymous intermediate Columns inside an `agg`. The engine's
  * determinism discipline needs it as a Column combinator: exact
  * half-away-from-zero rounding of a rational p/q is
  * `(2p + q) div (2q)` in pure integer arithmetic, the only rounding
  * form DuckDB (`//`) and Spark evaluate identically with no
  * floating-point tie hazard (see [[graft.queries.Relational.dmean]]).
  */
object ColumnBridge {
  /** SQL `div`: integral division (truncating; equals floor for
    * non-negative operands). Long or Decimal inputs, Long result. */
  def div(a: Column, b: Column): Column =
    ExpressionUtils.column(IntegralDivide(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** A Column over the Catalyst expression `build` makes from `args`'
    * expressions — for expressions that carry an object (the export's
    * KeyService, its snapshot type) and so have no SQL function form,
    * and for the export stages built without a function-registry
    * lookup (see graft.expressions.ExportExpressions). */
  def of(args: Column*)(build: Seq[Expression] => Expression): Column =
    ExpressionUtils.column(build(args.map(ExpressionUtils.expression)))
}
