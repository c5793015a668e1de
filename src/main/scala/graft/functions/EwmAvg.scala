package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst window function for the pandas
  * `ewm(alpha, adjust=False).mean()` recursion (SURVEY §2.6 W5 — the
  * one aggregate Spark lacks):
  *
  *   y_0 = x_0;  y_t = alpha*x_t + (1-alpha)*y_{t-1}
  *
  * Implemented as a declarative [[AggregateWindowFunction]]: the
  * running EMA is window-frame state updated by an expression, so the
  * window engine evaluates it in ONE ordered pass per partition — same
  * asymptotics as the reference's C loop, no O(n^2) prefix re-fold, no
  * per-group array. The first valid input is the initial state; before
  * it the output is null.
  *
  * `ignoreNa` selects the pandas null rule:
  *  - true (the default): a null input carries the state unchanged,
  *    pandas `ewm(ignore_na=True)`. One double of state.
  *  - false: the pandas DEFAULT, which the reference's
  *    `ewm(alpha, adjust=False)` uses. A null still emits the state,
  *    but each missing period decays the previous mean's weight, which
  *    resets after every valid value (pandas `old_wt = 1`):
  *      y = ((1−α)^δ·y_prev + α·x) / ((1−α)^δ + α),
  *    δ = periods since the last valid value. The second buffer slot
  *    holds (1−α)^δ, built by repeated multiplication as pandas does.
  *    On null-free input δ = 1 and the denominator is exactly 1.0, so
  *    both rules give the same bits.
  *
  * Frame: rows from UNBOUNDED PRECEDING to CURRENT ROW (the running
  * frame every AggregateWindowFunction uses).
  */
case class EwmAvg(child: Expression, alpha: Double, ignoreNa: Boolean = true)
    extends AggregateWindowFunction with UnaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "ewm_avg"

  private lazy val ema = AttributeReference("ema", DoubleType)()
  private lazy val decay = AttributeReference("decay", DoubleType)()
  override def aggBufferAttributes: Seq[AttributeReference] =
    if (ignoreNa) Seq(ema) else Seq(ema, decay)

  override val initialValues: Seq[Expression] =
    if (ignoreNa) Seq(Literal(null, DoubleType))
    else Seq(Literal(null, DoubleType), Literal(1.0 - alpha))

  override val updateExpressions: Seq[Expression] = {
    val x = Cast(child, DoubleType)
    if (ignoreNa) Seq(
      If(IsNull(child), ema,
        If(IsNull(ema), x,
          Add(Multiply(Literal(alpha), x),
            Multiply(Literal(1.0 - alpha), ema)))))
    else Seq(
      If(IsNull(child), ema,
        If(IsNull(ema), x,
          Divide(Add(Multiply(decay, ema), Multiply(Literal(alpha), x)),
            Add(decay, Literal(alpha))))),
      If(IsNull(child),
        If(IsNull(ema), decay, Multiply(decay, Literal(1.0 - alpha))),
        Literal(1.0 - alpha)))
  }

  override val evaluateExpression: Expression = ema

  override protected def withNewChildInternal(newChild: Expression): EwmAvg =
    copy(child = newChild)
}

object EwmAvg {
  /** `EwmAvg.ewmAvg(col("v"), 0.3, Seq(col("k")), Seq(col("t")))` over
    * the running frame; `ignoreNa = false` for pandas' default null
    * rule. */
  def ewmAvg(c: Column, alpha: Double,
             partitionBy: Seq[Column], orderBy: Seq[Column],
             ignoreNa: Boolean = true): Column =
    RunningFrame(EwmAvg(_, alpha, ignoreNa), c, partitionBy, orderBy)
}
