package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge.
  *
  * Most graft kernels enter plans through the session FunctionRegistry
  * (graft.functions.GraftFunctions), which is the right door for
  * expressions whose constructor arguments are literals. Expressions that
  * carry a DRIVER-BUILT object (e.g. the per-source dangling-mass table of
  * the PageRank join regime, graft.functions.MapLookup) cannot be spelled
  * as SQL literals; they need direct Expression -> Column construction,
  * which Spark 4 keeps `private[sql]` (classic.ExpressionUtils). This
  * one-file subpackage of org.apache.spark.sql re-exports exactly the two
  * conversions and nothing else.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
