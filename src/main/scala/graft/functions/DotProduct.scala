package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd dense dot product over two array<float|double> columns:
  * one loop, promoting each element to double and
  * accumulating strictly left-to-right — bitwise identical to the
  * composable zip_with+aggregate fold (and the DuckDB oracle), but
  * without the interpreted lambda dispatch per element. Null result
  * on length mismatch or a null element (zip_with parity).
  *
  * One kernel: interpreted eval and generated code both test
  * `DotProduct.defined` and then call `DotProduct.fold`.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float|double> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    if (DotProduct.defined(a, b)) DotProduct.fold(a, isFloat(left), b, isFloat(right))
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"""
         |${ev.isNull} = !graft.functions.DotProduct.defined($l, $r);
         |if (!${ev.isNull}) ${ev.value} = graft.functions.DotProduct.fold(
         |  $l, ${isFloat(left)}, $r, ${isFloat(right)});
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** False (the result is NULL) on a width mismatch or a null element. */
  def defined(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements
    if (n != b.numElements) return false
    var i = 0
    while (i < n) { if (a.isNullAt(i) || b.isNullAt(i)) return false; i += 1 }
    true
  }

  /** The kernel of interpreted eval and generated code: the
    * left-to-right double fold of a [[defined]] pair, float elements
    * promoted to double. */
  def fold(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.numElements) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }
}
