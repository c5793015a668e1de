package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

import graft.functions.BucketIndex

/** Distributed exact global order statistics — cumulative sums and
  * minima, row_number, ntile, and sums over adjacent row pairs over a
  * TOTAL order — without ever planning a single-partition window.
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
  * The running folds ([[cumsum]], [[cummin]], [[rowNumbers]]) share
  * this one body, [[scan]]. [[adjacentSum]] needs no offsets: after
  * steps 1 and 2 its bucket-local window pairs rows within a bucket,
  * and a fold over the ≤ p per-bucket first/last rows adds the one
  * term that straddles each bucket boundary.
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

  /** One bucketed ordering of a [[scan]]: its bucket key, its total
    * order, and the output name of each scanned value under it. */
  private final case class Track(bucketKey: Column, order: Seq[Column],
      names: Seq[String])

  /** [[cumsum]], [[cummin]] and [[rowNumbers]]: the two-pass shape of
    * the class doc under one [[Fold]]. Every track folds every value
    * (LONG-castable columns) along its own order; one meta serves all
    * tracks, and their bucket-local windows run back to back over one
    * scan. `totals`, empty or one name per value, appends each value's
    * grand fold under that name. */
  private def scan(df: DataFrame, tracks: Seq[Track], values: Seq[Column],
      inclusive: Boolean, totals: Seq[String], parts: Int,
      fold: Fold): DataFrame = {
    val p = partitions(df, parts)
    if (p == 1) requireFastPath(df)
    val keep = df.columns.toSeq
    val keys = tracks.indices.map(j => s"__drk$j")
    // A literal value (a row number's 1) folds as itself in the windows
    // and the meta; any other value is computed once, as a tagged column.
    val (vals, valueTags) = values.zipWithIndex.map { case (c, i) =>
      val t = s"${fold.tag}v$i"
      if (ColumnBridge.isLiteral(c)) (c.cast("long"), None)
      else (col(t), Some(c.cast("long").as(t)))
    }.unzip
    val tagged = df.select(keep.map(col) ++
      tracks.zip(keys).map { case (t, k) => t.bucketKey.cast("double").as(k) } ++
      valueTags.flatten: _*)
    // With a single bucket the offsets are all identities, so the meta
    // runs only when the caller wants grand totals.
    val m = if (p > 1 || totals.nonEmpty)
      Some(foldMeta(tagged, keys, vals, fold, p)) else None
    val bucketed = tagged.select(col("*") +:
      bucketIds(keys, m.flatMap(boundsOf(_, p))).zipWithIndex.map {
        case (c, j) => c.as(s"__drp$j")
      }: _*)

    // bucket-local windows + each bucket's offset from the meta
    val frameEnd = if (inclusive) 0L else -1L
    val cells = for ((t, j) <- tracks.zipWithIndex; (n, i) <- t.names.zipWithIndex)
      yield (t, j, n, i, s"${fold.tag}l${j}_$i")
    val withLocal = bucketed.select(
      (keep ++ keys.indices.map(j => s"__drp$j")).map(col) ++
        cells.map { case (t, j, _, i, l) =>
          val w = Window.partitionBy(s"__drp$j").orderBy(t.order: _*)
            .rowsBetween(Window.unboundedPreceding, frameEnd)
          coalesce(fold.agg(vals(i)).over(w), lit(fold.zero)).as(l)
        }: _*)
    val outCols = keep.map(col) ++
      cells.map { case (_, j, n, i, l) =>
        val offset = m.fold(lit(fold.zero))(
          _(s"f${j}_$i")("offs").getItem(col(s"__drp$j")))
        fold.combine(col(l), offset).as(n)
      } ++
      totals.zipWithIndex.map { case (n, i) => m.get(s"f0_$i")("run").as(n) }
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
      rowNumberAs: Option[String] = None, parts: Int = 0): DataFrame = {
    val vs = values ++ rowNumberAs.map(n => (lit(1L), n))
    scan(df, Seq(Track(bucketKey, order, vs.map(_._2))), vs.map(_._1),
      inclusive, totalsSuffix.toSeq.flatMap(s => vs.map(_._2 + s)), parts,
      SumFold)
  }

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
    scan(df, Seq(Track(bucketKey, order, values.map(_._2))),
      values.map(_._1), inclusive, Nil, parts, MinFold)

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
    * the SAME frame, fused: one [[scan]] with a track per spec, so one
    * meta sketches every order's bucket boundaries together and counts
    * each order's rows per bucket (≤ k·p rows, prefix-summed into
    * per-order offsets), and the final plan runs the k bucket-local
    * sort+window passes back to back over one scan — no per-order
    * re-read of the input and no k-way self-join on the row key.
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
    scan(df, specs.map(sp => Track(sp.bucketKey, sp.order, Seq(sp.as))),
      Seq(lit(1L)), inclusive = true, totalAs.toSeq, parts, SumFold)
  }

  /** Σ term(row_i, row_{i+1}) over every ADJACENT row pair of the
    * total order `order`, as a one-row frame with column `sum` — the
    * operator behind exact sequential statistics (Chatterjee's ξ, von
    * Neumann ratios) whose terms touch each consecutive pair once.
    * `term` gets both rows as structs of `df`'s columns and must not
    * read other frames. One bucket-local sort pass, no pair rows:
    *
    *   - the boundary [[sketch]] buckets the rows;
    *   - a bucket-local `lag` window pairs each row with its
    *     predecessor, and the term is evaluated per row;
    *   - one per-bucket aggregate (over the window's own partitioning,
    *     so no exchange) keeps the term sum and the bucket's first and
    *     last rows, by `min_by`/`max_by` over the order struct;
    *   - one fold over the ≤ p bucket rows, in bucket order, adds the
    *     term across each pair of consecutive PRESENT buckets.
    *
    * The sum is taken in the term's own type (exact for DECIMAL), and
    * NULL terms are skipped as `sum` skips them: fewer than two rows
    * give NULL. `order` must be an ASCENDING order; `bucketKey`
    * ASC-congruent with its leading column and NULL-free (the
    * [[cumsum]] contract — NaN keys go to the top bucket). Tied rows of
    * a non-unique order may pair up either way, so they must give equal
    * terms in any arrangement.
    */
  def adjacentSum(df: DataFrame, bucketKey: Column, order: Seq[Column],
      term: (Column, Column) => Column, parts: Int = 0): DataFrame = {
    val p = partitions(df, parts)
    val oNames = order.indices.map(i => s"__do$i")
    val tagged = df.select(
      struct(df.columns.map(col): _*).as("__row") +:
        order.zip(oNames).map { case (c, n) => c.as(n) } :+
        bucketKey.cast("double").as("__drk"): _*)
    val w = Window.partitionBy("__drp").orderBy(oNames.map(col): _*)
    val ord = struct(oNames.map(col): _*)
    val buckets = tagged
      .withColumn("__drp",
        bucketIds(Seq("__drk"), sketch(tagged, Seq("__drk"), p)).head)
      .withColumn("__prev", lag(col("__row"), 1).over(w))
      .groupBy("__drp")
      .agg(sum(when(col("__prev").isNotNull,
          term(col("__prev"), col("__row")))).as("s"),
        min_by(col("__row"), ord).as("first"),
        max_by(col("__row"), ord).as("last"))
    val sumType = buckets.schema("s").dataType
    def add(a: Column, b: Column): Column = coalesce(a + b, a, b)
    buckets.agg(aggregate(
        array_sort(collect_list(struct("__drp", "s", "first", "last"))),
        struct(lit(null).cast(sumType).as("s"),
          lit(null).cast(tagged.schema("__row").dataType).as("last")),
        (acc, c) => struct(
          add(add(acc("s"), c("s")), when(acc("last").isNotNull,
            term(acc("last"), c("first")))).cast(sumType).as("s"),
          c("last").as("last")))("s").as("sum"))
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
