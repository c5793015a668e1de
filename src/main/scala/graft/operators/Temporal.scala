package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Per-entity time-series operators (SURVEY.md §2.6 W1-W8) over the
  * canonical window `partitionBy(entity keys).orderBy(time key)`.
  *
  * Reference: lags `main_cuda.py:212-215`; rolling stats
  * `main_cuda.py:217-227` (pandas min_periods=1, ddof=1);
  * diff/delta2 `main_cuda.py:229-231`, `main_mps.py:211-223`;
  * EMA `main_mps.py:231-240` (adjust=False recursion) is the window
  * function [[graft.functions.EwmAvg]];
  * rank/top-K `main_cuda.py:345-347`; cumcount `nn/nn-mps.py:235-238`.
  *
  * Scale note: all of these shuffle once on the partition keys; a
  * pipeline that applies many of them over the same keys incurs ONE
  * exchange because every op reuses the same WindowSpec partitioning.
  * Order keys must be a deterministic total order (add a unique
  * tiebreak column) or results are nondeterministic under shuffle.
  */
object Temporal {

  def spec(partition: Seq[Column], order: Seq[Column]): WindowSpec =
    Window.partitionBy(partition: _*).orderBy(order: _*)

  /** W1: lag-k. */
  def lagK(c: Column, k: Int, w: WindowSpec): Column = lag(c, k).over(w)

  /** W2: trailing rolling stats over the last `k` rows including the
    * current one. Matches pandas `rolling(k, min_periods=1)`: fewer
    * rows than k near the group head just use what exists. `stddev_samp`
    * over a single row is null — exactly pandas' ddof=1 NaN. */
  def rollingFrame(w: WindowSpec, k: Int): WindowSpec =
    w.rowsBetween(-(k - 1), Window.currentRow)
  def rollingMean(c: Column, k: Int, w: WindowSpec): Column =
    avg(c).over(rollingFrame(w, k))
  def rollingStd(c: Column, k: Int, w: WindowSpec): Column =
    stddev_samp(c).over(rollingFrame(w, k))
  def rollingMin(c: Column, k: Int, w: WindowSpec): Column =
    min(c).over(rollingFrame(w, k))
  def rollingMax(c: Column, k: Int, w: WindowSpec): Column =
    max(c).over(rollingFrame(w, k))

  /** W2 engine-portable variants: rolling mean/std computed in an exact
    * integer domain. `c` must be an exact-integer LONG column lifted by
    * `Q.lattice` (`Q.latticeSql` in the oracle), e.g. `Q.lattice(s, 1000)`:
    * the frame's sum(c), sum(c*c) and count are then exact integers in
    * EVERY engine regardless of summation order — the segment-tree-vs-
    * running-frame float drift that made rolled doubles tick differently
    * across DuckDB versions cannot occur — and the single final division
    * of exact operands is IEEE-deterministic. `scale` restores original
    * units. Std is null over a single row (stddev_samp / pandas ddof=1).
    * Overflow bound: |c| and k must keep k·max(c)² below 2^53. */
  def rollingMeanExact(c: Column, k: Int, w: WindowSpec, scale: Long): Column = {
    val f = rollingFrame(w, k)
    (sum(c).over(f).cast("double") / count(c).over(f)) / scale.toDouble
  }
  def rollingStdExact(c: Column, k: Int, w: WindowSpec, scale: Long): Column = {
    val f = rollingFrame(w, k)
    val n = count(c).over(f)
    val s1 = sum(c).over(f).cast("double")
    val s2 = sum(c * c).over(f).cast("double")
    when(n > lit(1),
      sqrt((s2 - s1 * s1 / n) / (n - lit(1))) / scale.toDouble)
  }

  /** Rolling exact median over the last `k` rows (the robust rolling
    * center pandas exposes as `rolling(k).median()`). With ODD k on a
    * full frame the result is an actual data value (no interpolation)
    * — bitwise engine-portable; partial frames near the group head
    * interpolate, so hash-compared outputs should filter to
    * row_number >= k. Frame is k rows: recompute-per-row cost is
    * O(k log k), fine for small k. */
  def rollingMedian(c: Column, k: Int, w: WindowSpec): Column =
    percentile(c, lit(0.5)).over(rollingFrame(w, k))

  /** Forward-fill (LOCF): latest non-null at-or-before the current
    * row. The gap-imputation primitive every sensor/feature pipeline
    * needs (pandas `ffill`): `last` with ignoreNulls over a running
    * frame — one pass inside the key's existing window exchange, no
    * join. Engine-portable whenever `c` is (it copies values, never
    * recomputes them). */
  def ffill(c: Column, w: WindowSpec): Column =
    last(c, ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** Backward-fill: earliest non-null at-or-after the current row
    * (pandas `bfill`). Same frame logic mirrored forward. */
  def bfill(c: Column, w: WindowSpec): Column =
    first(c, ignoreNulls = true)
      .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))

  /** W3: first difference. */
  def diff(c: Column, w: WindowSpec): Column = c - lag(c, 1).over(w)

  /** W4: second difference c_t - 2c_{t-1} + c_{t-2} (jerk). */
  def delta2(c: Column, w: WindowSpec): Column =
    c - lit(2) * lag(c, 1).over(w) + lag(c, 2).over(w)

  /** W6 / O2: top-K rows per group with pandas rank(method="first")
    * tie-breaking — row_number over a deterministic total order. */
  def topKPerGroup(df: DataFrame, partition: Seq[Column], order: Seq[Column],
                   k: Int, rankCol: String = "rnk"): DataFrame =
    df.withColumn(rankCol, row_number().over(spec(partition, order)))
      .filter(col(rankCol) <= k)

  /** A1: group-tail — entire last row per entity
    * (`main_cuda.py:405-411` sort + groupby.tail(1)). */
  def groupTail(df: DataFrame, partition: Seq[Column], order: Seq[Column]): DataFrame =
    df.withColumn("__rn", row_number().over(spec(partition, order.map(_.desc))))
      .filter(col("__rn") === 1).drop("__rn")

  /** A6/W8: cumcount + normalized progress within group. */
  def cumCount(w: WindowSpec): Column = row_number().over(w) - lit(1)

  /** As-of join (net-new; Spark has no built-in): for every left row,
    * attach the LATEST right row with rightTime <= leftTime within the
    * same key group — the canonical point-in-time lookup (feature
    * stores, market data, sensor alignment).
    *
    * Implementation is the union+window scan, not a per-row probe: tag
    * both sides, sort each key group by (time, tag) — right rows sort
    * BEFORE left rows at equal times, making the match inclusive — and
    * carry the matched right row forward as ONE STRUCT with
    * last_value(ignoreNulls): the struct is non-null for every right
    * row (even when its fields are null), so a null field survives the
    * carry and all rightCols always come from the SAME right row. ONE
    * shuffle on the key columns, linear scan per group, no join
    * blow-up: at 100 TB this is the same cost as any windowed op,
    * while a naive theta-join (l.t >= r.t) would be quadratic per key.
    *
    * `rightCols` must not collide with left column names. Right rows
    * must be unique per (keys, rightTime) — pre-aggregate otherwise
    * (ties would be resolved by sort order nondeterministically).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String,
               rightCols: Seq[String]): DataFrame =
    asofImpl(left, right, keys, leftTime, rightTime, rightCols,
      forward = false)

  /** Forward as-of join: for every left row, the EARLIEST right row
    * with rightTime >= leftTime within the key group (pandas
    * merge_asof direction='forward') — "next reading at or after".
    * Same union+window scan as [[asofJoin]], with the scan order
    * reversed; identical one-shuffle cost. */
  def asofJoinForward(left: DataFrame, right: DataFrame, keys: Seq[String],
                      leftTime: String, rightTime: String,
                      rightCols: Seq[String]): DataFrame =
    asofImpl(left, right, keys, leftTime, rightTime, rightCols,
      forward = true)

  private def asofImpl(left: DataFrame, right: DataFrame, keys: Seq[String],
                       leftTime: String, rightTime: String,
                       rightCols: Seq[String], forward: Boolean): DataFrame = {
    val leftCols = left.columns.filterNot(keys.contains).toSeq
    val lTagged = left
      .withColumn("__t", col(leftTime)).withColumn("__tag", lit(1))
    // NULL join keys never match (standard equi-join semantics; the
    // window's partitionBy would otherwise group null keys together):
    // drop null-key right rows — null-key left rows then sit in a
    // window group with no right rows and get null fields, as a join
    // would produce.
    val rTagged = right
      .filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .select(
        keys.map(col) :+ col(rightTime).as("__t") :+ lit(0).as("__tag") :+
          struct(rightCols.map(col): _*).as("__r"): _*)
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    // Backward: ascending time. Forward: descending time. Either way
    // right rows (__tag 0) sort before left rows at EQUAL times, so
    // the match is inclusive.
    val ord = if (forward) col("__t").desc else col("__t").asc
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(ord, col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("__r", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(keys.map(col) ++ leftCols.map(col) ++
        rightCols.map(c => col("__r").getField(c).as(c)): _*)
  }
}
