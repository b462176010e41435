package org.apache.spark.sql.graftseam

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The ONE bridge between graft's native Catalyst expressions and the
  * public Column API.
  *
  * Spark 4 decoupled `Column` from `Expression` (Column wraps a
  * ColumnNode so the same API serves classic and Connect); the classic
  * converter `ExpressionUtils` is `private[sql]`, so this object lives
  * inside `org.apache.spark.sql` purely to re-export those two
  * conversions. Operator code reaches every native expression through
  * it, via the expression's `of` constructor (`DotProduct.of`,
  * `BoundedCollectLong.of`, `ShingleArray.of`, `BloomProbe.of`):
  * building a Column never writes a session's function registry, and
  * works whichever session (if any) is active. Keeping the escape hatch
  * to one tiny file keeps the rest of the repo on public API only.
  */
object ColumnSeam {
  /** Wrap a raw Catalyst expression as a Column (classic mode). */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Recover the Catalyst expression behind a Column (classic mode). */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
