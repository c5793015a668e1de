package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd POSITIONAL character-n-gram polynomial hasher: the
  * rolling poly-hash of EVERY n-byte window of the input, in order,
  * as array<bigint> (index i = gram starting at byte i).
  *
  * The positional sibling of [[NgramPolyHash]] (which dedups and so
  * cannot feed position-aware consumers): winnowing needs every
  * (pos, hash) pair, and the charNgrams+polyHashElem route it replaces
  * materializes a substring per gram — 25M short-lived strings at
  * sf0.1 — while this is one tight loop over the bytes.
  * Values are identical to polyHashElem over charNgrams for
  * single-byte normalized text (Text.normalizeAz), so oracles are
  * unchanged.
  *
  * One kernel: interpreted eval and generated code both call
  * `NgramPosHash.hashes`.
  */
case class NgramPosHash(child: Expression, n: Int, mult: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_pos_hash"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType && n > 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument and n > 0, got " +
        s"${child.dataType.sql}, n=$n")

  override protected def nullSafeEval(input: Any): Any =
    NgramPosHash.hashes(input.asInstanceOf[UTF8String], n, mult)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NgramPosHash.hashes($c, $n, ${mult}L);")

  override protected def withNewChildInternal(newChild: Expression): NgramPosHash =
    copy(child = newChild)
}

object NgramPosHash {
  /** The Horner fold (acc·mult + byte, mod P) of every n-byte window
    * of `bytes`, in window order; empty when `bytes` is shorter than
    * n. The one window-hash loop of [[NgramPosHash]] and
    * [[NgramPolyHash]]. */
  def windowHashes(bytes: Array[Byte], n: Int, mult: Long): Array[Long] = {
    val m = math.max(0, bytes.length - n + 1)
    val arr = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0L
      var j = 0
      while (j < n) { h = (h * mult + (bytes(i + j) & 0xffL)) % Text.P; j += 1 }
      arr(i) = h
      i += 1
    }
    arr
  }

  /** The kernel of interpreted eval and generated code. */
  def hashes(s: UTF8String, n: Int, mult: Long): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(windowHashes(s.getBytes, n, mult))

  def ngramPosHashes(c: Column, n: Int, mult: Long = 31L): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(NgramPosHash(ColumnBridge.expression(c), n, mult))
  }
}
