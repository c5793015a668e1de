package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst window function for the one-sided CUSUM drift
  * statistic (Page 1954), the standard change-point detector a
  * data-quality pipeline runs over metric series:
  *
  *   s_0 = 0;  s_t = max(0, s_{t-1} + (x_t - k))
  *
  * where `k` is the allowance (reference drift). Like [[EwmAvg]] this
  * is a recursion no built-in window aggregate expresses, so it is a
  * declarative [[AggregateWindowFunction]]: one long of frame state
  * updated per row, evaluated in a single ordered pass per partition —
  * no O(n²) prefix re-fold, no per-group array materialization.
  *
  * Engine-portability (ORACLE_NOTES.md rule 1): the recursion runs
  * ENTIRELY in exact integer arithmetic — callers feed a lattice column
  * (e.g. cents `round(value*100)`) and an integer allowance, so every
  * intermediate state is an exact BIGINT in any engine; the DuckDB
  * oracle is a `list_reduce` fold over the same longs. Null inputs
  * carry the state unchanged (skip semantics, matching [[EwmAvg]]).
  *
  * At 100 TB the shape matters: CUSUM shares the per-entity window
  * exchange with every other W-family operator — detection over a
  * billion series is one hash shuffle plus a linear ordered scan.
  */
case class CusumLong(child: Expression, allowance: Long)
    extends AggregateWindowFunction with UnaryLike[Expression] {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "cusum_long"

  private lazy val s = AttributeReference("cusum", LongType, nullable = false)()
  override def aggBufferAttributes: Seq[AttributeReference] = Seq(s)

  override val initialValues: Seq[Expression] = Seq(Literal(0L))

  override val updateExpressions: Seq[Expression] = {
    val stepped = Add(s, Subtract(Cast(child, LongType), Literal(allowance)))
    Seq(If(IsNull(child), s, Greatest(Seq(Literal(0L), stepped))))
  }

  override val evaluateExpression: Expression = s

  override protected def withNewChildInternal(newChild: Expression): CusumLong =
    copy(child = newChild)
}

object CusumLong {
  /** `cusum(col, k)` over the running frame. */
  def cusum(c: Column, allowance: Long,
            partitionBy: Seq[Column], orderBy: Seq[Column]): Column =
    RunningFrame(CusumLong(_, allowance), c, partitionBy, orderBy)
}
