package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge. Spark 4 made `Column.expr` and
  * `ExpressionUtils` private[sql]; custom Catalyst expressions still need the
  * conversion to expose a Column API, so this accessor lives in the sql
  * package (bytecode-public API, standard extension-library technique).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** The `inputTypes` entry that accepts every integral type; the type
    * collection is private[sql] in Spark 4.
    */
  def integralType = types.IntegralType
}
