package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter semi-join reduction: the standard big-data technique
  * for `big JOIN small` where the big side is orders of magnitude
  * larger than the match set. Build a bloom filter over the small
  * side's join keys (one aggregate), push `might_contain(key)` into
  * the big side's scan as a cheap codegen'd pre-filter, then run the
  * exact join on the survivors. False positives only let a few extra
  * rows through to the exact join — the final result is EXACT — while
  * true negatives (the vast majority at 100 TB) never reach the
  * shuffle. This is what Spark's own runtime row-level filtering
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) injects
  * automatically for shuffle joins; expressing it explicitly lets a
  * pipeline author apply it where the optimizer can't see the
  * opportunity (e.g. across a checkpoint or a non-join consumer).
  *
  * The filter bytes ride the expression itself (a few hundred KB for
  * millions of keys at 1% fpp), so they broadcast with the serialized
  * plan — same distribution story as a broadcast join's hashed
  * relation, far smaller. Explain prints them by length and content
  * hash.
  *
  * One kernel: interpreted eval and generated code both call the
  * deserialized filter's `mightContainLong`.
  */
case class BloomMightContainLong(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT key, got ${child.dataType.sql}")

  @transient private lazy val filter: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(filterBytes))

  override protected def nullSafeEval(key: Any): Any =
    filter.mightContainLong(key.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // The deserialized filter is registered once as a codegen reference
    // object: the generated code probes the shared bitset directly, no
    // per-row deserialization.
    val ref = ctx.addReferenceObj("bloomFilter", filter,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, key => s"${ev.value} = $ref.mightContainLong($key);")
  }

  override protected def stringArgs: Iterator[Any] =
    Iterator(child, PlanText.array(filterBytes))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomKeyFilter {

  /** Aggregate the distinct BIGINT keys of `keyCol` in `small` into a
    * serialized bloom filter (distributed aggregation; only the ~KB
    * bitset reaches the driver — same footprint class as collecting
    * scaler stats). */
  def build(small: DataFrame, keyCol: String, expectedItems: Long,
      fpp: Double = 0.01): Array[Byte] = {
    val bf = small.stat.bloomFilter(keyCol, expectedItems, fpp)
    val out = new ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  /** `might_contain(key)` over a serialized filter from [[build]]. */
  def mightContain(key: Column, filterBytes: Array[Byte]): Column =
    ColumnBridge.column(
      BloomMightContainLong(ColumnBridge.expression(key), filterBytes))
}
