package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused nearest-centroid argmin on the exact integer lattice: for
  * one (vec_id, q: array<long>) row, the squared L2 distance to
  * EVERY driver-known centroid and the (best, second-best) winners
  * in a single loop — the L2/BIGINT sibling of
  * [[CentroidArgmax]] (which is cosine/double). Replaces both the
  * comps×cents explode-join (N·k·dims shuffled rows) and the
  * zip_with/aggregate higher-order-function formulation, whose
  * lambda evaluation is interpreted per element (ArrayAggregate.eval
  * showed up as ~100% of the profile at the 100× step).
  *
  * Bitwise-identical to ml.ExactLloyd.assign by construction: d2 is
  * the same exact integer sum, and the winner order is the same
  * packed (d2·k + cid) minimum — the loop scans cids ascending and
  * updates only on strictly-smaller d2, exactly min-packed's
  * tie-break. `b2` is the second-smallest d2 under the same order
  * (the silhouette "best other cluster"); Long.MaxValue when k = 1.
  * Output: struct(cid LONG, a2 LONG, b2 LONG). A centroid of
  * mismatched width is skipped (never wins), matching the join
  * form's behavior on a malformed row.
  *
  * Array ELEMENTS must be non-null: the loop reads getLong, which
  * returns garbage (not an error) for a null slot. The in-repo
  * producer (ExactLloyd's quantized-component collect) never emits
  * one; this expression is internal-only (not SQL-registered), so
  * the contract is documented rather than schema-enforced — a
  * containsNull=true schema whose DATA is null-free is fine.
  *
  * One kernel: interpreted eval and generated code both call
  * `LatticeArgmin.nearest`; codegen passes the centroid matrix as a
  * hoisted reference. Explain prints it by shape and content hash.
  */
case class LatticeArgmin(child: Expression, cents: Array[Array[Long]])
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("cid", LongType), StructField("a2", LongType),
    StructField("b2", LongType)))
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "lattice_argmin"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<bigint>, got ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any =
    LatticeArgmin.nearest(input.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("laCents", cents, "long[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.LatticeArgmin.nearest($a, $centsRef);")
  }

  override protected def stringArgs: Iterator[Any] =
    Iterator(child, PlanText.array(cents))

  override protected def withNewChildInternal(newChild: Expression): LatticeArgmin =
    copy(child = newChild)
}

object LatticeArgmin {
  /** The kernel of interpreted eval and generated code: (cid, a2, b2)
    * of the nearest centroid by exact squared L2, ties to the
    * smallest cid. */
  def nearest(arr: ArrayData, cents: Array[Array[Long]]): InternalRow = {
    val n = arr.numElements()
    var bestD = Long.MaxValue
    var bestC = -1L
    var secondD = Long.MaxValue
    var k = 0
    while (k < cents.length) {
      val c = cents(k)
      if (c.length == n) {
        var acc = 0L
        var i = 0
        while (i < n) {
          val d = arr.getLong(i) - c(i)
          acc += d * d
          i += 1
        }
        if (acc < bestD) { secondD = bestD; bestD = acc; bestC = k.toLong }
        else if (acc < secondD) { secondD = acc }
      }
      k += 1
    }
    new GenericInternalRow(Array[Any](bestC, bestD, secondD))
  }

  def argmin(q: Column, cents: Array[Array[Long]]): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(LatticeArgmin(ColumnBridge.expression(q), cents))
  }
}
