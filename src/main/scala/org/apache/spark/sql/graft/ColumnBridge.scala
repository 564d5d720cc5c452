package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Registry-free Expression→Column wrap (`ExpressionUtils.column` is
  * private[sql]). Every Column-API wrapper over a graft native expression
  * builds it through here, so library code needs no session at hand and
  * no function registered by name; the SQL names live in one catalog,
  * [[graft.sql.NativeCatalog]], for `spark.sql` callers only. Same
  * justified package-escape shape as
  * [[org.apache.spark.graft.SparkStatus]].
  */
object ColumnBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** `build` applied to the argument columns' expressions — the Column
    * form of a catalog builder (`ColumnBridge.native(VecDot(_), a, b)`).
    */
  def native(build: Seq[Expression] => Expression, args: Column*): Column =
    column(build(args.map(expression)))
}
