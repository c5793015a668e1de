package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.BucketIndex

/** Distributed exact global order statistics — cumulative sums,
  * row_number, and ntile over a TOTAL order — without ever planning a
  * single-partition window.
  *
  * The reference's global sorts/ranks (AUC, quintile scores, gains
  * curves — the reference's analysis scripts) run inside one pandas
  * process; the naive
  * Spark translation, `Window.orderBy(...)` with no partition spec,
  * collapses to ONE task sorting the whole table — the textbook
  * 100 TB bottleneck. This is the classic two-pass fix:
  *
  *   1. freeze p-1 ordered bucket boundaries of a numeric bucket key
  *      (one `percentile_approx` aggregate);
  *   2. give each row a bucket id: the number of boundaries strictly
  *      below its key ([[graft.functions.BucketIndex]], a binary
  *      search) — equal keys always land in the same bucket, so
  *      boundary PLACEMENT affects only load balance, never the
  *      result;
  *   3. aggregate per-bucket value totals (≤ p rows — cluster
  *      metadata, not data) and prefix-fold them into per-bucket
  *      offsets;
  *   4. window WITHIN each bucket (`Window.partitionBy(bucket)` —
  *      p-way parallel, spillable local sorts) and add the bucket's
  *      offset.
  *
  * Steps 1 and 3 are ONE struct-valued scalar subquery per call, its
  * meta (see [[meta]]): the boundaries are a subquery nested inside
  * it, and the meta returns them next to the offsets, so the plan
  * buckets its rows with the very boundaries the offsets were
  * computed from. The meta runs when the plan executes: building a
  * DistRank frame fires no Spark job and caches nothing. Its values
  * reach generated code as array and struct objects, never as inlined
  * literals, so the code does not change with the data.
  *
  * Why not `repartitionByRange` + `spark_partition_id()`: the range
  * partitioner re-samples its boundaries per job (seeded by the RDD
  * id), so the totals pass and the final pass could disagree on
  * partition membership and the offsets would silently mis-align. Two
  * runs of the sketch can disagree the same way (its merge order
  * follows the shuffle), which is why one execution supplies both the
  * boundaries and the offsets. The input frame itself is evaluated by
  * the meta and again by the plan (exchange reuse shares its shuffles
  * where the plans match), so it must be deterministic.
  *
  * Output is bitwise identical to the single-partition plan whenever
  * `order` is a total order — callers must include a unique
  * tiebreaker, as every graft call site already does.
  *
  * Key contract: `bucketKey` must be NULL-free. A NaN key lands in the
  * TOP bucket, where Spark and DuckDB both sort NaN, and -0.0 shares
  * 0.0's bucket (Catalyst's double order, which the bucket id uses).
  */
object DistRank {

  /** Order-congruent numeric bucket key for STRING sort columns: the
    * first 6 UTF-8 bytes left-justified into a 48-bit integer.
    * UTF-8 byte order equals Spark's UTF8String binary order, and the
    * left-justification (missing bytes = 0) keeps prefixes sorting
    * BELOW their extensions, so the mapping is monotone; strings
    * sharing a 6-byte prefix share a bucket, which only concentrates
    * load, never misorders (the in-bucket window sorts the rest). */
  def stringKey(c: Column): Column = {
    val b = substring(encode(c, "UTF-8"), 1, 6)
    coalesce(conv(hex(b), 16, 10).cast("double") *
      pow(lit(2.0), (lit(6) - length(b)) * lit(8)), lit(0.0))
  }

  /** Exact floor division of two positive LONG columns without the
    * double-typed `/`: (a - a % b) / b is an exact double (the
    * numerator is divisible by b) for quotients below 2^53 — far past
    * any row count. */
  private[graft] def ldiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** Structural backstop for the `parts = 1` fast path: true when the
    * frame's grain is bounded by an aggregation/dedup/constant
    * relation at its core — i.e. every path from the root to a leaf
    * passes through a row-collapsing node, with no row-multiplying
    * Generate above it. A joined pair of aggregates (the scalar
    * crossJoin pattern) still qualifies; a raw scan, or an exploded
    * aggregate, does not. This is a guard-rail, not a cardinality
    * proof — callers assert "this frame is aggregate-grain", and the
    * check turns a mistaken assertion into a plan-build failure that
    * PlanAuditSpec (which builds every registered query) surfaces. */
  private[graft] def boundedGrain(plan: LogicalPlan): Boolean = plan match {
    case _: Aggregate | _: Deduplicate | _: Distinct => true
    case _: LocalRelation | _: OneRowRelation => true
    case _: Generate => false
    case j: Join => boundedGrain(j.left) && boundedGrain(j.right)
    case u: Union => u.children.forall(boundedGrain)
    case other if other.children.length == 1 =>
      boundedGrain(other.children.head)
    case _ => false
  }

  /** Bucket count p of one call: `parts` if positive, else the
    * session's shuffle partitions. */
  private def partitions(df: DataFrame, parts: Int): Int =
    if (parts > 0) parts
    else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** Guard of the `parts = 1` fast path, whose single bucket-local
    * window sorts the whole frame in one task. */
  private def requireFastPath(df: DataFrame): Unit =
    require(boundedGrain(df.queryExecution.analyzed),
      "DistRank parts=1 fast path requires an aggregate-grain input " +
        "frame (the single-bucket window would otherwise one-task-sort " +
        "row-scale data); this frame's logical plan has a row-scale core")

  /** The boundary sketch: ONE `percentile_approx` aggregate over
    * `frame` freezes p-1 boundaries for all `keys` (DOUBLE columns of
    * `frame`) together, as a scalar subquery returning a struct with
    * one ascending array per key under the key's name. ANY boundary
    * set is correct (it only balances load), so the approximate sketch
    * is fine. p = 1 (the aggregate-grain fast path) has no
    * boundaries.
    *
    * A plan reads one call's boundaries at several sites, and Spark
    * runs those reads once only under subquery reuse; two runs of the
    * sketch could disagree, so the call refuses to build without it. */
  private def sketch(frame: DataFrame, keys: Seq[String],
      p: Int): Option[Column] =
    if (p == 1) None
    else {
      require(frame.sparkSession.conf
          .get("spark.sql.execution.reuseSubquery", "true").toBoolean,
        "DistRank needs spark.sql.execution.reuseSubquery=true: its " +
          "boundaries must come from one execution of the sketch")
      val qs = array((1 until p).map(i => lit(i.toDouble / p)): _*)
      Some(frame.agg(struct(keys.map(k =>
        percentile_approx(col(k), qs, lit(2500)).as(k)): _*)).scalar())
    }

  /** Bucket ids of the key columns `keys` under a [[sketch]] result;
    * with no boundaries every row is bucket 0. */
  private def bucketIds(keys: Seq[String],
      bounds: Option[Column]): Seq[Column] =
    keys.map(k => bounds.fold(lit(0))(b => BucketIndex.of(col(k), b(k))))

  /** One call's meta: ONE struct-valued scalar subquery over `frame`.
    * The [[sketch]] is nested inside it; `summary` reduces `frame`
    * bucketed by those boundaries (key j's id in `__drp$j`) to one row,
    * and the meta is that row's columns plus the boundaries as field
    * `bounds`. The plan reads its own bucket ids from that field
    * ([[boundsOf]]), so the boundaries it buckets by and the summary
    * come from one execution. */
  private def meta(frame: DataFrame, keys: Seq[String], p: Int)(
      summary: DataFrame => DataFrame): Column = {
    val bounds = sketch(frame, keys, p)
    val s = summary(frame.select(col("*") +: bucketIds(keys, bounds)
      .zipWithIndex.map { case (c, j) => c.as(s"__drp$j") }: _*))
    s.select(struct(bounds.map(_.as("bounds")).toSeq ++
      s.columns.map(col): _*)).scalar()
  }

  private def boundsOf(meta: Column, p: Int): Option[Column] =
    if (p == 1) None else Some(meta("bounds"))

  /** A running aggregate over LONG values: its SQL aggregate, its
    * identity, how two folded values combine, and the prefix of its
    * scan's column tags. */
  private final case class Fold(agg: Column => Column, zero: Long,
      combine: (Column, Column) => Column, tag: String)
  private val SumFold = Fold(sum(_), 0L, _ + _, "__dr")
  private val MinFold = Fold(min(_), Long.MaxValue, least(_, _), "__dm")

  /** The [[meta]] of the running folds: for key j and value `vals(i)`,
    * field `f${j}_$i` holds `run` (the grand fold) and `offs` (the
    * exclusive per-bucket prefix, an array indexed by bucket id). The
    * per-(key, bucket) folds are ≤ k·p rows, collected sorted and
    * scanned by one `aggregate` per field; a bucket with no rows gets
    * the fold of the buckets below it, and an empty input gives the
    * identity with no offsets. */
  private def foldMeta(frame: DataFrame, keys: Seq[String],
      vals: Seq[Column], fold: Fold, p: Int): Column =
    meta(frame, keys, p) { b =>
      val ts = vals.indices.map(i => s"t$i")
      val folds = ts.map(t => coalesce(fold.agg(col(t)), lit(fold.zero)).as(t))
      val cells = b
        .select(inline(array(keys.indices.map(j => struct(
          lit(j).as("j") +: col(s"__drp$j").as("b") +:
            vals.zip(ts).map { case (v, t) => v.as(t) }: _*)): _*)))
        .groupBy("j", "b").agg(folds.head, folds.tail: _*)
        .agg(array_sort(collect_list(struct(("j" +: "b" +: ts).map(col): _*)))
          .as("cells"))
      cells.select((for (j <- keys.indices; (t, i) <- ts.zipWithIndex)
        yield aggregate(filter(col("cells"), _("j") === j),
          struct(lit(fold.zero).as("run"), typedLit(Seq.empty[Long]).as("offs")),
          (acc, c) => struct(fold.combine(acc("run"), c(t)).as("run"),
            concat(acc("offs"), array_repeat(acc("run"),
              c("b") + 1 - size(acc("offs")))).as("offs")))
          .as(s"f${j}_$i")): _*)
    }

  /** [[cumsum]] and [[cummin]]: the two-pass shape of the class doc
    * under one [[Fold]]. `values` are (column, output name) pairs;
    * each value's grand fold is appended as a column named
    * outputName + `totalsSuffix` when that is set. */
  private def scan(df: DataFrame, bucketKey: Column, order: Seq[Column],
      values: Seq[(Column, String)], inclusive: Boolean,
      totalsSuffix: Option[String], parts: Int, fold: Fold): DataFrame = {
    val p = partitions(df, parts)
    if (p == 1) requireFastPath(df)
    val keep = df.columns.toSeq
    val tags = values.indices.map(i => s"${fold.tag}v$i")
    val tagged = df.select(
      (keep.map(col) :+ bucketKey.cast("double").as("__drk")) ++
        values.zip(tags).map { case ((c, _), t) => c.cast("long").as(t) }: _*)
    // With a single bucket the offsets are all identities, so the meta
    // runs only when the caller wants grand totals.
    val m = if (p > 1 || totalsSuffix.nonEmpty)
      Some(foldMeta(tagged, Seq("__drk"), tags.map(col), fold, p)) else None
    val bucketed = tagged.withColumn("__drp",
      bucketIds(Seq("__drk"), m.flatMap(boundsOf(_, p))).head)

    // bucket-local windows + each bucket's offset from the meta
    val frameEnd = if (inclusive) 0L else -1L
    val w = Window.partitionBy("__drp").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, frameEnd)
    val withLocal = bucketed.select(
      (keep.map(col) :+ col("__drp")) ++
        tags.zipWithIndex.map { case (t, i) =>
          coalesce(fold.agg(col(t)).over(w), lit(fold.zero))
            .as(s"${fold.tag}l$i")
        }: _*)
    val outCols = keep.map(col) ++
      values.zipWithIndex.map { case ((_, n), i) =>
        val offset = m.fold(lit(fold.zero))(
          _(s"f0_$i")("offs").getItem(col("__drp")))
        fold.combine(col(s"${fold.tag}l$i"), offset).as(n)
      } ++
      totalsSuffix.toSeq.flatMap(suf =>
        values.zipWithIndex.map { case ((_, n), i) =>
          m.get(s"f0_$i")("run").as(s"$n$suf")
        })
    withLocal.select(outCols: _*)
  }

  /** Exact global cumulative sums (and optionally a global row
    * number) of `values` over the total order `order`.
    *
    * @param df        input frame (bucketKey/order columns non-null)
    * @param bucketKey numeric column ASC-congruent with `order`'s
    *                  leading column (negate a `desc` metric)
    * @param order     total order for the cumulation — MUST include a
    *                  unique tiebreaker
    * @param values    (column, outputName) pairs; each gains an exact
    *                  global running LONG sum named outputName
    * @param inclusive frame end: current row (true) or previous row
    *                  (false — exclusive prefix; 0 on the first row)
    * @param totalsSuffix if set, each value's grand total is appended
    *                  as a column named outputName+suffix —
    *                  replaces `sum(x).over(Window.partitionBy())`,
    *                  which is ALSO a single-partition window
    * @param rowNumberAs if set, an exact global 1-based row number
    *                  over `order` is appended under this name (LONG;
    *                  participates in totalsSuffix with total = N)
    */
  def cumsum(df: DataFrame, bucketKey: Column, order: Seq[Column],
      values: Seq[(Column, String)], inclusive: Boolean = true,
      totalsSuffix: Option[String] = None,
      rowNumberAs: Option[String] = None, parts: Int = 0): DataFrame =
    scan(df, bucketKey, order,
      values ++ rowNumberAs.map(n => (lit(1L), n)).toSeq, inclusive,
      totalsSuffix, parts, SumFold)

  /** Exact global running MINIMUM of `values` over the total order
    * `order` — the two-pass [[cumsum]] shape with min in place of
    * sum: per-bucket minima are the ≤ p rows of metadata, their
    * exclusive prefix-min is the per-bucket offset, and the final pass
    * takes min(bucket-local running min, offset). Values must be
    * LONG-castable and non-null; the first row's EXCLUSIVE min is
    * Long.MaxValue (no predecessor — callers test `isFirst` or compare
    * against it). Powers order-scan operators (2D skyline's "best y
    * among strictly earlier x"), never a single-partition window. */
  def cummin(df: DataFrame, bucketKey: Column, order: Seq[Column],
      values: Seq[(Column, String)], inclusive: Boolean = true,
      parts: Int = 0): DataFrame =
    scan(df, bucketKey, order, values, inclusive, None, parts, MinFold)

  /** Exact global 1-based row number over `order` — [[rowNumbers]] with
    * one order. `totalAs`, if set, appends the total row count as a
    * column (feeds `ntileOf`). */
  def rowNumber(df: DataFrame, bucketKey: Column, order: Seq[Column],
      as: String, totalAs: Option[String] = None,
      parts: Int = 0): DataFrame =
    rowNumbers(df, Seq(RankSpec(bucketKey, order, as)), totalAs, parts)

  /** One global ranking to compute alongside others in a single
    * [[rowNumbers]] call: `bucketKey` must be ASC-congruent with
    * `order`'s leading column (same contract as [[cumsum]]), `order`
    * must be a total order, `as` names the output rank column. */
  final case class RankSpec(bucketKey: Column, order: Seq[Column],
      as: String)

  /** Several exact global row numbers over DIFFERENT total orders of
    * the SAME frame, fused: one meta sketches every order's bucket
    * boundaries together and counts each order's rows per bucket
    * (≤ k·p rows, prefix-summed into per-order offsets), and the final
    * plan runs the k bucket-local sort+window passes back to back over
    * one scan — no per-order re-read of the input and no k-way
    * self-join on the row key.
    *
    * Replaces k independent [[rowNumber]] calls (k metas, k+1
    * computations of the input, k joins) for the RFM-style "rank the
    * same aggregate by several metrics" shape. Ranks are exact, so
    * the output is bitwise identical to the unfused form.
    *
    * @param totalAs if set, the total row count N is appended once as
    *                a column under this name (shared by every order —
    *                it is the same N).
    */
  def rowNumbers(df: DataFrame, specs: Seq[RankSpec],
      totalAs: Option[String] = None, parts: Int = 0): DataFrame = {
    require(specs.nonEmpty, "rowNumbers needs at least one RankSpec")
    val p = partitions(df, parts)
    if (p == 1) requireFastPath(df)
    val keep = df.columns.toSeq
    val keys = specs.indices.map(j => s"__drk$j")
    val tagged = df.select(keep.map(col) ++ specs.zip(keys).map {
      case (sp, k) => sp.bucketKey.cast("double").as(k)
    }: _*)
    // With a single bucket the offsets are all 0, so the meta runs
    // only when the caller wants the total.
    val m = if (p > 1 || totalAs.isDefined)
      Some(foldMeta(tagged, keys, Seq(lit(1L)), SumFold, p)) else None
    val bucketed = tagged.select(keep.map(col) ++
      bucketIds(keys, m.flatMap(boundsOf(_, p))).zipWithIndex.map {
        case (c, j) => c.as(s"__drp$j")
      }: _*)

    // k bucket-local windows over one scan, offsets from the meta
    val ranked = specs.indices.foldLeft(bucketed) { (d, j) =>
      val offset =
        m.fold(lit(0L))(_(s"f${j}_0")("offs").getItem(col(s"__drp$j")))
      val w = Window.partitionBy(s"__drp$j").orderBy(specs(j).order: _*)
        .rowsBetween(Window.unboundedPreceding, 0)
      d.withColumn(specs(j).as,
        coalesce(sum(lit(1L)).over(w), lit(0L)) + offset)
    }
    ranked.select(keep.map(col) ++ specs.map(sp => col(sp.as)) ++
      totalAs.map(t => m.get("f0_0")("run").as(t)).toSeq: _*)
  }

  /** All ADJACENT row pairs (row_i, row_{i+1}) of the total order
    * `order` — the operator behind exact sequential statistics
    * (Chatterjee's ξ, von Neumann ratios) whose terms touch each
    * consecutive pair once. Replaces the global-row-number self-join
    * shape (`pos` joined against itself shifted by one), which
    * computes the full input chain twice and shuffles a row-scale
    * hash join, with ONE bucket-local sort pass:
    *
    *   - within-bucket pairs: `lead()` over the cumsum bucket-local
    *     window (bucket-local sort, p-way parallel, spillable);
    *   - the ≤ p−1 cross-boundary pairs: per-bucket first/last rows
    *     by `min_by`/`max_by` (aggregate-grain, ≤ p rows) joined to
    *     the next PRESENT bucket over a broadcast inequality —
    *     bounded metadata, entirely in-plan.
    *
    * Output: for each name in `cols`, `name` (row i) and `name_n`
    * (row i+1); exactly N−1 rows for an N-row input. `order` must be
    * an ASCENDING total order; `bucketKey` ASC-congruent with its
    * leading column and NULL-free (the [[cumsum]] contract — NaN
    * keys go to the top bucket). Its one subquery is the boundary
    * [[sketch]], which both passes read through one expression, so
    * they agree on every row's bucket.
    */
  def adjacentPairs(df: DataFrame, bucketKey: Column, order: Seq[Column],
      cols: Seq[String], parts: Int = 0): DataFrame = {
    require(cols.forall(c => !cols.contains(s"${c}_n")),
      s"adjacentPairs suffix collision: a requested column's '_n' pair " +
        s"name shadows another requested column (${cols.mkString(", ")})")
    val p = partitions(df, parts)
    val oNames = order.indices.map(i => s"__do$i")
    val tagged = df.select(
      order.zip(oNames).map { case (c, n) => c.as(n) } ++
        cols.map(col) :+ bucketKey.cast("double").as("__drk"): _*)
    val bucketed = tagged.withColumn("__drp",
      bucketIds(Seq("__drk"), sketch(tagged, Seq("__drk"), p)).head)
    val w = Window.partitionBy("__drp").orderBy(oNames.map(col): _*)
    val ordStruct = struct(oNames.map(col): _*)
    val payload = struct(cols.map(col): _*)
    val inBucket = bucketed
      .withColumn("__dnext", lead(payload, 1).over(w))
      .filter(col("__dnext").isNotNull)
      .select(cols.map(col) ++
        cols.map(c => col(s"__dnext.$c").as(s"${c}_n")): _*)
    // bucket ends: the total order makes ordStruct unique, so
    // min_by/max_by are deterministic
    val ends = bucketed.groupBy("__drp").agg(
      min_by(payload, ordStruct).as("__first"),
      max_by(payload, ordStruct).as("__last"))
    val lasts = ends.select(col("__drp").as("__pa"), col("__last"))
    val firsts = ends.select(col("__drp").as("__pb"), col("__first"))
    // next PRESENT bucket (ids are sparse when buckets are empty):
    // a ≤ p-row broadcast inequality join, then keep the minimal
    // successor per bucket
    // group by the bucket id alone (never the payload struct —
    // grouping keys get -0.0-normalized); __last is constant within
    // a group, carried through min_by
    val boundary = lasts
      .join(broadcast(firsts), col("__pb") > col("__pa"))
      .groupBy(col("__pa"))
      .agg(min_by(col("__first"), col("__pb")).as("__first"),
        min_by(col("__last"), col("__pb")).as("__last"))
      .select(cols.map(c => col(s"__last.$c").as(c)) ++
        cols.map(c => col(s"__first.$c").as(s"${c}_n")): _*)
    inBucket.union(boundary)
  }

  /** Where a running weight over `cells` (struct(b: bucket id,
    * n: weight), sorted by b) first reaches half its total `tot`: b1 is
    * the bucket of the first cell with 2·run ≥ tot, b2 that of the
    * first with 2·run > tot, and off1/off2 are the weights below them.
    * One linear `aggregate`; an empty array gives b1 = b2 = -1. */
  private def crossing(cells: Column): Column = {
    val tot = aggregate(cells, lit(0L), (a, c) => a + c("n"))
    aggregate(cells, struct(lit(0L).as("run"), lit(-1).as("b1"),
        lit(0L).as("off1"), lit(-1).as("b2"), lit(0L).as("off2"),
        tot.as("tot")),
      (a, c) => {
        val run = a("run") + c("n")
        val at1 = a("b1") < 0 && run * 2 >= a("tot")
        val at2 = a("b2") < 0 && run * 2 > a("tot")
        struct(run.as("run"),
          when(at1, c("b")).otherwise(a("b1")).as("b1"),
          when(at1, a("run")).otherwise(a("off1")).as("off1"),
          when(at2, c("b")).otherwise(a("b2")).as("b2"),
          when(at2, a("run")).otherwise(a("off2")).as("off2"),
          a("tot").as("tot"))
      })
  }

  /** Exact DOUBLED median (vlo + vhi, the interpolation-free integer
    * form: vlo = min c with 2·#{v ≤ c} ≥ n, vhi = min c with
    * 2·#{v ≤ c} > n) of a LONG-castable column, without materializing
    * the full value-count lattice cumsum — [[groupedMedianDoubled]]
    * over one group. Output: 1-row frame, `med2` LONG (NULL on empty
    * input, matching the aggregate-over-empty shape of the cumsum
    * form). `value` must be non-null. */
  def medianDoubled(df: DataFrame, value: Column, parts: Int = 0): DataFrame =
    groupedMedianDoubled(df, lit(0), value, parts = parts)
      .agg(max(col("vlo") + col("vhi")).as("med2"))

  /** Per-group exact doubled median over RAW rows, with optional row
    * weights. Replaces the groupBy(group, value) → per-group window →
    * aggregate chain, whose first step is a row-scale shuffle whenever
    * values are near-distinct (a101's cent prices: 97% of rows
    * distinct at sf0.1). This never shuffles row-scale data:
    *
    *   1. the meta sketches boundaries over the raw values, sums the
    *      weight per (group, bucket) — ≤ #groups × p rows survive
    *      map-side partial aggregation, so the exchange moves metadata,
    *      not data — and locates each group's ≤ 2 buckets where the
    *      cumulative weight crosses half its total ([[crossing]]);
    *   2. the plan aggregates a value-weight cumsum over ONLY the rows
    *      of the buckets between the lowest and the highest crossing
    *      (~2/p of the input through one small exchange), reading each
    *      group's crossing from the meta's group map.
    *
    * Equal values share a bucket, so each crossing is complete within
    * its bucket and the result is exactly the full-lattice answer.
    *
    * Contract: `group` must be bounded (the meta holds one crossing
    * per group), `value` LONG-castable non-null, `weight` a POSITIVE
    * LONG (use the default 1 for plain medians). Output: one row per
    * group — (g, vlo, vhi, wtot) where vlo = min v with
    * 2·cumw(v) ≥ wtot, vhi = min v with 2·cumw(v) > wtot, wtot = the
    * group's total weight; the doubled median is vlo + vhi. Exact
    * integers at any SF. */
  def groupedMedianDoubled(df: DataFrame, group: Column, value: Column,
      weight: Column = lit(1L), parts: Int = 0): DataFrame = {
    val p = partitions(df, parts)
    val v = df.select(group.as("__g"), value.cast("long").as("__v"),
      weight.cast("long").as("__w")).withColumn("__drk", col("__v").cast("double"))
    val m = meta(v, Seq("__drk"), p) { b =>
      val perGroup = b.groupBy(col("__g"), col("__drp0").as("b"))
        .agg(sum(col("__w")).as("n"))
        .groupBy("__g")
        .agg(crossing(array_sort(collect_list(struct("b", "n")))).as("x"))
      // a map key cannot be NULL: a NULL group keeps no crossing and
      // so no median (it still widens [lo, hi])
      perGroup.agg(
        map_from_entries(collect_list(
          when(col("__g").isNotNull, struct("__g", "x")))).as("groups"),
        min(col("x.b1")).as("lo"), max(col("x.b2")).as("hi"))
    }
    val x = m("groups").getItem(col("__g"))
    // whole buckets [lo, hi], so the exact (__g, __drp) conditions
    // below are unaffected
    val sel = v.withColumn("__drp", bucketIds(Seq("__drk"), boundsOf(m, p)).head)
      .filter(col("__drp").between(m("lo"), m("hi")))
      .groupBy(col("__g"), col("__drp"), col("__v"))
      .agg(sum(col("__w")).as("__m"))
    val w = Window.partitionBy("__g", "__drp").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, 0)
    sel.withColumn("__ci", sum(col("__m")).over(w))
      .groupBy(col("__g").as("g"))
      .agg(
        min(when(col("__drp") === x("b1") &&
          (x("off1") + col("__ci")) * 2 >= x("tot"), col("__v"))).as("vlo"),
        min(when(col("__drp") === x("b2") &&
          (x("off2") + col("__ci")) * 2 > x("tot"), col("__v"))).as("vhi"),
        coalesce(max(x("tot")), lit(0L)).as("wtot"))
  }

  /** ANSI ntile from an exact global rank: with N rows and n buckets,
    * the first N mod n buckets hold N/n + 1 rows, the rest N/n — the
    * same arithmetic Spark's and DuckDB's NTile evaluate, but over
    * the distributed rank. */
  def ntileOf(rank: Column, total: Column, n: Int): Column = {
    val nL = lit(n.toLong)
    val size = ldiv(total, nL)
    val rem = pmod(total, nL)
    val fat = rem * (size + 1L)
    when(rank <= fat, ldiv(rank - 1L, size + 1L) + 1L)
      .otherwise(rem + ldiv(rank - fat - 1L, size) + 1L)
  }
}
