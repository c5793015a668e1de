package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused nearest-centroid argmax: for one embedding row, the cosine
  * against EVERY centroid and the (max cos, min cid) winner in a
  * single loop — the codegen replacement for the
  * crossJoin(broadcast(centroids)) + struct-max aggregate, which
  * materializes N×K candidate ROWS just to throw away K−1 per
  * vector (at the 100x step that row traffic, not the flops, was
  * ~90% of the IVF assignment wall).
  *
  * Bitwise-identical to the join form by construction: the same
  * left-to-right double fold as [[DotProduct]] for the row's
  * self-dot and each centroid dot, the same
  * `cos = d > 0 ? dot/(na·nc) : 0` guard, and ties on equal cosine
  * keep the SMALLEST centroid id (the loop scans cids ascending and
  * updates only on strictly-greater cosine — exactly the
  * max-of-(cos, −cid) struct order).
  *
  * Centroids ride the expression as a literal matrix (driver-known,
  * like DistRank's bucket boundaries); [[graft.operators.Similarity]]
  * routes through this path only while K stays comfortably
  * broadcast-sized. Embedding elements must be non-null (the
  * embeddings-table contract); a centroid of mismatched width is
  * skipped, matching the join form's null-cos behavior of never
  * winning.
  *
  * One kernel: interpreted eval and generated code both call
  * `CentroidArgmax.best`; codegen passes the centroid matrix, norms
  * and ids as hoisted references. Explain prints the three arrays by
  * shape and content hash.
  */
case class CentroidArgmax(child: Expression, cids: Array[Long],
    cents: Array[Array[Double]], norms: Array[Double])
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("cid", LongType), StructField("cos", DoubleType)))
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "centroid_argmax"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float|double>, got ${other.sql}")
    }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any =
    CentroidArgmax.best(input.asInstanceOf[ArrayData], isFloat, cids, cents, norms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidsRef = ctx.addReferenceObj("caCids", cids, "long[]")
    val centsRef = ctx.addReferenceObj("caCents", cents, "double[][]")
    val normsRef = ctx.addReferenceObj("caNorms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = graft.functions.CentroidArgmax.best(
         |  $a, $isFloat, $cidsRef, $centsRef, $normsRef);
       """.stripMargin)
  }

  override protected def stringArgs: Iterator[Any] =
    Iterator(child, PlanText.array(cids), PlanText.array(cents), PlanText.array(norms))

  override protected def withNewChildInternal(newChild: Expression): CentroidArgmax =
    copy(child = newChild)
}

object CentroidArgmax {
  /** The kernel of interpreted eval and generated code: the
    * (cid, cos) of the nearest centroid, ties to the smallest cid. */
  def best(arr: ArrayData, isFloat: Boolean, cids: Array[Long],
      cents: Array[Array[Double]], norms: Array[Double]): InternalRow = {
    val n = arr.numElements()
    val a = new Array[Double](n)
    var i = 0
    if (isFloat) while (i < n) { a(i) = arr.getFloat(i).toDouble; i += 1 }
    else while (i < n) { a(i) = arr.getDouble(i); i += 1 }
    val na = foldNorm(a)
    var best = Double.NegativeInfinity
    var bc = -1L
    var k = 0
    while (k < cents.length) {
      val c = cents(k)
      if (c.length == n) {
        var acc = 0.0
        i = 0
        while (i < n) { acc += a(i) * c(i); i += 1 }
        val d = na * norms(k)
        val cos = if (d > 0.0) acc / d else 0.0
        if (cos > best) { best = cos; bc = cids(k) }
      }
      k += 1
    }
    new GenericInternalRow(Array[Any](bc, best))
  }

  /** Left-fold self-norm matching [[DotProduct]]'s accumulation. */
  def foldNorm(c: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < c.length) { acc += c(i) * c(i); i += 1 }
    math.sqrt(acc)
  }

  def argmax(emb: Column, cids: Array[Long],
      cents: Array[Array[Double]]): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(CentroidArgmax(ColumnBridge.expression(emb),
      cids, cents, cents.map(foldNorm)))
  }
}
