package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Bucket id of a DOUBLE key against an ascending DOUBLE bounds array:
  * the number of bounds STRICTLY below the key, found by binary search
  * (O(log p) per row). Comparisons use Catalyst's double order —
  * NaN above every number and equal to NaN, -0.0 equal to 0.0 — so
  * the id is monotone in exactly the order Spark sorts by, and equal
  * keys share a bucket. A NULL key or NULL bounds (what
  * `percentile_approx` returns for an empty input: no bounds) reads
  * as bucket 0; the id is never NULL.
  *
  * The bounds arrive as an array VALUE (in DistRank, a field of a
  * scalar subquery's result, which codegen holds as a reference
  * object), so the generated class is the same for every input.
  * Bounds must be sorted ascending in Catalyst's order and null-free
  * — `percentile_approx`'s output is. Internal-only (not
  * SQL-registered). */
case class BucketIndex(key: Expression, bounds: Expression)
    extends BinaryExpression {

  override def left: Expression = key
  override def right: Expression = bounds
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "bucket_index"

  override def checkInputDataTypes(): TypeCheckResult =
    (key.dataType, bounds.dataType) match {
      case (DoubleType, ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (k, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (double, array<double>), got (${k.sql}, ${b.sql})")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val k = key.eval(input)
    val b = bounds.eval(input)
    if (k == null || b == null) 0
    else BucketIndex.search(k.asInstanceOf[Double], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = key.genCode(ctx)
    val b = bounds.genCode(ctx)
    ev.copy(code = code"""
      |${k.code}
      |${b.code}
      |int ${ev.value} = (${k.isNull} || ${b.isNull}) ? 0 :
      |  graft.functions.BucketIndex$$.MODULE$$.search(${k.value}, ${b.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): BucketIndex = copy(key = newLeft, bounds = newRight)
}

object BucketIndex {
  /** #bounds strictly below `key` in Catalyst's double order. */
  def search(key: Double, bounds: ArrayData): Int = {
    var lo = 0
    var hi = bounds.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (SQLOrderingUtil.compareDoubles(bounds.getDouble(mid), key) < 0)
        lo = mid + 1
      else hi = mid
    }
    lo
  }

  def of(key: Column, bounds: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(
      BucketIndex(ColumnBridge.expression(key), ColumnBridge.expression(bounds)))
  }
}
