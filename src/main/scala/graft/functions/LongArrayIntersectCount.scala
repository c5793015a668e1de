package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Codegen'd |A ∩ B| for two array<bigint> columns whose elements are
  * DISTINCT within each array (as Dedup's gram-hash arrays are).
  * `size(array_intersect(a, b))` materializes the intersection array
  * through an interpreted collection expression; this is one probe
  * loop over a primitive long set that returns only the count — the
  * near-dup verify hot path runs it once per candidate pair.
  *
  * One kernel: interpreted eval and generated code both call
  * `LongArrayIntersectCount.count`.
  */
case class LongArrayIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "long_array_intersect_count"

  // containsNull must be FALSE (round 11, the
  // SortedIntMultisetIntersectCount rule): the probe loop reads
  // getLong, which returns garbage (not an error) for a null slot —
  // and this expression is SQL-registered, so arbitrary arrays can
  // reach it. The in-repo producer (NgramPolyHash) declares non-null
  // elements.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst
      .analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.ArrayType(LongType, false),
            org.apache.spark.sql.types.ArrayType(LongType, false)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"$prettyName requires two array<bigint> arguments with " +
              s"non-nullable elements (containsNull=false), got " +
              s"${l.sql}, ${r.sql}")
    }

  override protected def nullSafeEval(l: Any, r: Any): Any =
    LongArrayIntersectCount.count(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.LongArrayIntersectCount.count($l, $r);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongArrayIntersectCount =
    copy(left = newLeft, right = newRight)
}

object LongArrayIntersectCount {
  /** The kernel of interpreted eval and generated code: the elements
    * of `b` that `a` holds, counted by probing a primitive set of `a`. */
  def count(a: ArrayData, b: ArrayData): Long = {
    val set = new LongSet(a.numElements)
    var i = 0
    while (i < a.numElements) { set.add(a.getLong(i)); i += 1 }
    var n = 0L
    var j = 0
    while (j < b.numElements) { if (set.contains(b.getLong(j))) n += 1; j += 1 }
    n
  }

  def intersectCount(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(LongArrayIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }
}
