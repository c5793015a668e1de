package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.graftshim.ColumnBridge

/** The window wrapper a running [[AggregateWindowFunction]] needs:
  * `fn(c)` over rows from UNBOUNDED PRECEDING to CURRENT ROW within
  * `partitionBy`, ordered by `orderBy` (a bare column sorts ascending).
  * Shared by [[EwmAvg]], [[HoltLinear]] and [[CusumLong]]. */
object RunningFrame {
  def apply(fn: Expression => AggregateWindowFunction, c: Column,
            partitionBy: Seq[Column], orderBy: Seq[Column]): Column = {
    val order = orderBy.map(ColumnBridge.expression(_) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    })
    ColumnBridge.column(WindowExpression(
      fn(ColumnBridge.expression(c)),
      WindowSpecDefinition(
        partitionBy.map(ColumnBridge.expression),
        order,
        SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))))
  }
}
