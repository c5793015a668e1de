package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal

/** Bridge into the private[sql] Column<->Expression converters —
  * required (and standard practice) for libraries that ship custom
  * Catalyst expressions against Spark 4's Column-node API. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Whether `c` is a bare literal, as `lit` builds it. (Its
    * [[expression]] is an unresolved wrapper, never foldable.) */
  def isLiteral(c: Column): Boolean = c.node.isInstanceOf[internal.Literal]
}
