package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Native Catalyst window function for Holt's linear-trend double
  * exponential smoothing — the TWO-state recursion (level + trend) no
  * built-in window aggregate expresses:
  *
  *   l_1 = x_1,                       b_1 = 0
  *   l_t = α·x_t + (1−α)·(l_{t-1} + b_{t-1})
  *   b_t = β·(l_t − l_{t-1}) + (1−β)·b_{t-1}
  *
  * Where [[CusumLong]] and the default [[EwmAvg]] carry one value of
  * frame state, this carries two coupled ones — the
  * `aggBufferAttributes` mechanism generalizes cleanly, and the
  * evaluate step packs both into a struct so one ordered pass yields
  * level AND trend.
  *
  * Engine-portability (ORACLE_NOTES.md rule 2): with DYADIC α and β
  * (0.5, 0.25, …) every multiply is exact and every add/subtract is a
  * single correctly-rounded IEEE op with pinned association, so the
  * recursion is bitwise identical in any engine — raw doubles are
  * emitted UNROUNDED, mirrored by a RECURSIVE-CTE oracle (struct
  * list_reduce is nondeterministic in DuckDB 1.0; see the w5_ema_nafalse
  * note). Null inputs carry both states unchanged.
  */
case class HoltLinear(child: Expression, alpha: Double, beta: Double)
    extends AggregateWindowFunction with UnaryLike[Expression] {

  override def dataType: DataType = StructType(Seq(
    StructField("level", DoubleType), StructField("trend", DoubleType)))
  override def nullable: Boolean = true
  override def prettyName: String = "holt_linear"

  private lazy val l = AttributeReference("l", DoubleType)()
  private lazy val b = AttributeReference("b", DoubleType)()
  override def aggBufferAttributes: Seq[AttributeReference] = Seq(l, b)

  override val initialValues: Seq[Expression] =
    Seq(Literal(null, DoubleType), Literal(null, DoubleType))

  override val updateExpressions: Seq[Expression] = {
    val x = Cast(child, DoubleType)
    // Both update expressions see the OLD buffer (they are one
    // projection over buffer ++ input), so the trend update re-derives
    // the stepped level inline rather than referencing the new `l`.
    val stepped = Add(Multiply(Literal(alpha), x),
      Multiply(Literal(1.0 - alpha), Add(l, b)))
    Seq(
      If(IsNull(child), l, If(IsNull(l), x, stepped)),
      If(IsNull(child), b, If(IsNull(l), Literal(0.0),
        Add(Multiply(Literal(beta), Subtract(stepped, l)),
          Multiply(Literal(1.0 - beta), b)))))
  }

  override val evaluateExpression: Expression =
    CreateNamedStruct(Seq(Literal("level"), l, Literal("trend"), b))

  override protected def withNewChildInternal(newChild: Expression): HoltLinear =
    copy(child = newChild)
}

object HoltLinear {
  /** `holt(col, α, β)` over the running frame; returns a
    * struct(level, trend) column. */
  def holt(c: Column, alpha: Double, beta: Double,
           partitionBy: Seq[Column], orderBy: Seq[Column]): Column =
    RunningFrame(HoltLinear(_, alpha, beta), c, partitionBy, orderBy)
}
