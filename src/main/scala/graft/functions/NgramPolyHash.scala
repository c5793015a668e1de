package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd character-n-gram polynomial hasher: the DISTINCT rolling
  * poly-hashes (fold acc*mult + byte, mod P) of every n-byte window of
  * the input string, in first-occurrence order, as array<bigint>.
  *
  * This is the dedup hot path (MinHash grams, Jaccard verify). The
  * composable form — transform(sequence(...), substr) + aggregate —
  * runs interpreted (higher-order functions are CodegenFallback) and
  * allocates a substring per gram; this expression is ONE tight
  * loop over the string's bytes: no substrings, no lambda dispatch,
  * no boxed set, whole-stage codegen keeps it inline with the scan.
  *
  * Byte-based: apply to normalized single-byte text (Text.normalizeAz)
  * — identical values to Text.polyHashElem over gram strings there,
  * and to the DuckDB oracle's list_reduce formula.
  *
  * One kernel: interpreted eval and generated code both call
  * `NgramPolyHash.distinctHashes`.
  */
case class NgramPolyHash(child: Expression, n: Int, mult: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_poly_hash"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType && n > 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument and n > 0, got " +
        s"${child.dataType.sql}, n=$n")

  override protected def nullSafeEval(input: Any): Any =
    NgramPolyHash.distinctHashes(input.asInstanceOf[UTF8String], n, mult)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NgramPolyHash.distinctHashes($c, $n, ${mult}L);")

  override protected def withNewChildInternal(newChild: Expression): NgramPolyHash =
    copy(child = newChild)
}

object NgramPolyHash {
  /** The kernel of interpreted eval and generated code: the distinct
    * of [[NgramPosHash.windowHashes]], in first-seen order. */
  def distinctHashes(s: UTF8String, n: Int, mult: Long): ArrayData = {
    val hs = NgramPosHash.windowHashes(s.getBytes, n, mult)
    val seen = new LongSet(hs.length)
    var w = 0
    var i = 0
    while (i < hs.length) {
      if (seen.add(hs(i))) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(hs, Platform.LONG_ARRAY_OFFSET, w, 8)
  }

  def ngramHashes(c: Column, n: Int, mult: Long = 31L): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(NgramPolyHash(ColumnBridge.expression(c), n, mult))
  }
}
