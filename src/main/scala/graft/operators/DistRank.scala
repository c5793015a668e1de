package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  *      (one `percentile_approx` job; boundaries become literals);
  *   2. assign each row a deterministic bucket id with pure column
  *      arithmetic over those literals — equal keys always land in
  *      the same bucket, so boundary PLACEMENT affects only load
  *      balance, never the result;
  *   3. aggregate per-bucket value totals (≤ p rows — cluster
  *      metadata, not data; fetched to the driver exactly like AQE's
  *      own shuffle statistics) and prefix-sum them into per-bucket
  *      offsets;
  *   4. window WITHIN each bucket (`Window.partitionBy(bucket)` —
  *      p-way parallel, spillable local sorts) and add the broadcast
  *      offset.
  *
  * Why not `repartitionByRange` + `spark_partition_id()`: the range
  * partitioner re-samples its boundaries per job (seeded by the RDD
  * id), so the totals pass and the final pass could disagree on
  * partition membership and the offsets would silently mis-align.
  * Literal boundaries make every pass agree by construction.
  *
  * Output is bitwise identical to the single-partition plan whenever
  * `order` is a total order — callers must include a unique
  * tiebreaker, as every graft call site already does.
  *
  * Key contract: `bucketKey` must be NULL-free, and a NaN key is
  * placed in the TOP bucket (Spark and DuckDB both sort NaN above
  * every finite double, but `key > boundary` is false for NaN, so
  * without the explicit guard NaN rows would mis-bucket to the
  * bottom and corrupt every downstream offset). No graft call site
  * can currently produce a NaN key (sigmoid scores, integer
  * lattices, hashes), but the guard makes the primitive safe for
  * ones that can.
  *
  * Cache lifecycle: cumsum/cummin/rowNumbers/adjacentPairs `.cache()`
  * their tagged input under one rule (see [[cacheRule]]) and do NOT
  * unpersist it — the cached relation lives until
  * `spark.catalog.clearCache()` or session end (Bench and JobCount
  * clear between queries). An embedding application calling these
  * primitives many times in one session should clear the cache
  * between calls. Each entry is bounded (aggregate-grain), but the
  * COUNT of entries is unbounded.
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

  /** Bucket id = #boundaries strictly below the key — monotone in the
    * key, equal keys share a bucket, pure codegen arithmetic. NaN
    * (which Spark orders ABOVE every finite double) goes to the top
    * bucket; the `>` comparisons alone would send it to bucket 0. */
  private def pidFor(key: Column, bounds: Seq[Double]): Column =
    if (bounds.isEmpty) lit(0)
    else when(isnan(key), lit(bounds.size)).otherwise(
      bounds.map(b => when(key > lit(b), 1).otherwise(0)).reduce(_ + _))

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

  /** The input-cache rule of cumsum/cummin/rowNumbers/adjacentPairs.
    * The input chain is otherwise evaluated once per eager pass
    * (boundary sketch, per-bucket totals) AND again by the caller's
    * final action — for the common value-count inputs that is a
    * row-scale groupBy recomputed 3x. So `tagged` is cached when `df`
    * is provably aggregate-grain (bounded — a value lattice, never
    * row-scale data, so the footprint is compact at every SF) and an
    * eager pass will read it. Row-scale inputs stay uncached: at
    * 100 TB caching them is a caller-level judgment (a102/a103 do it
    * explicitly), not a primitive default. The medians read raw rows
    * and never cache. The rule is applied BEFORE the sketch, so the
    * sketch job is the one that materializes the cache. */
  private def cacheRule(df: DataFrame, tagged: DataFrame,
      eager: Boolean): DataFrame =
    if (eager && boundedGrain(df.queryExecution.analyzed)) tagged.cache()
    else tagged

  /** Pass 0 of every primitive: ONE `percentile_approx` job over
    * `frame` freezes p-1 boundaries for all `keys` together, returned
    * sorted and distinct per key. ANY boundary set is correct (it only
    * balances load), so the approximate sketch is fine; distinct-ing
    * collapses heavy ties into one bucket, which an ordered
    * partitioning could not split anyway. p = 1 (the aggregate-grain
    * fast path) skips the job outright. */
  private def sketch(frame: DataFrame, keys: Seq[Column],
      p: Int): Seq[Seq[Double]] =
    if (p == 1) keys.map(_ => Nil)
    else {
      val qs = array((1 until p).map(i => lit(i.toDouble / p)): _*)
      val aggs = keys.zipWithIndex.map { case (k, j) =>
        percentile_approx(k, qs, lit(2500)).as(s"b$j")
      }
      val row = frame.agg(aggs.head, aggs.tail: _*).head()
      keys.indices.map(j =>
        if (row.isNullAt(j)) Nil else row.getSeq[Double](j).distinct.sorted)
    }

  /** A running aggregate over LONG values: its SQL aggregate, its
    * identity, its driver-side step, how a bucket-local result meets
    * the bucket's offset, and the prefix of its scan's column tags. */
  private final case class Fold(agg: Column => Column, zero: Long,
      step: (Long, Long) => Long, combine: (Column, Column) => Column,
      tag: String)
  private val SumFold = Fold(sum(_), 0L, _ + _, _ + _, "__dr")
  private val MinFold =
    Fold(min(_), Long.MaxValue, math.min(_, _), least(_, _), "__dm")

  /** Exclusive per-bucket prefix of `perBucket` (≤ p rows of driver
    * metadata, `width` values each) under `fold`, as one LITERAL
    * lookup per value on the bucket-id column `pid`, plus the grand
    * fold. The offsets are ≤ p driver-known constants, so a codegen'd
    * CASE chain on the bucket id replaces the former broadcast-join —
    * one less exchange per call, and no join to degenerate into a
    * BroadcastNestedLoop when the single-bucket fast path makes the
    * key foldable. No buckets (a skipped totals pass, or an empty
    * input) reads as bucket 0 holding the identity. */
  private def offsets(perBucket: Map[Int, Array[Long]], width: Int,
      fold: Fold, pid: String): (Seq[Column], Array[Long]) = {
    val byPid =
      if (perBucket.nonEmpty) perBucket
      else Map(0 -> Array.fill(width)(fold.zero))
    val running = Array.fill(width)(fold.zero)
    val offs = byPid.keys.toSeq.sorted.map { b =>
      val before = running.clone()
      val t = byPid(b)
      (0 until width).foreach(i => running(i) = fold.step(running(i), t(i)))
      b -> before
    }
    val lookups = (0 until width).map(i =>
      offs.foldLeft(lit(fold.zero)) { case (acc, (b, o)) =>
        when(col(pid) === lit(b), lit(o(i))).otherwise(acc)
      })
    (lookups, running)
  }

  /** [[cumsum]] and [[cummin]]: the two-pass shape of the class doc
    * under one [[Fold]]. `values` are (column, output name) pairs;
    * each value's grand fold is appended as a literal column named
    * outputName + `totalsSuffix` when that is set. */
  private def scan(df: DataFrame, bucketKey: Column, order: Seq[Column],
      values: Seq[(Column, String)], inclusive: Boolean,
      totalsSuffix: Option[String], parts: Int, fold: Fold): DataFrame = {
    val p = partitions(df, parts)
    if (p == 1) requireFastPath(df)
    val keep = df.columns.toSeq
    val tags = values.indices.map(i => s"${fold.tag}v$i")
    // With a single bucket the offsets are all identities, so the
    // totals pass runs only when the caller wants grand totals.
    val totalsPass = p > 1 || totalsSuffix.nonEmpty
    val tagged = cacheRule(df, df.select(
      (keep.map(col) :+ bucketKey.cast("double").as("__drk")) ++
        values.zip(tags).map { case ((c, _), t) => c.cast("long").as(t) }: _*),
      eager = totalsPass)
    val bounds = sketch(tagged, Seq(col("__drk")), p).head
    val bucketed = tagged.withColumn("__drp", pidFor(col("__drk"), bounds))

    // Pass 1: per-bucket totals — ≤ p rows of metadata.
    val perBucket: Map[Int, Array[Long]] =
      if (!totalsPass) Map.empty
      else {
        val aggs = tags.map(t => fold.agg(col(t)).as(t))
        bucketed.groupBy("__drp").agg(aggs.head, aggs.tail: _*).collect()
          .map(r => r.getInt(0) -> tags.indices.map(i =>
            if (r.isNullAt(i + 1)) fold.zero else r.getLong(i + 1)).toArray)
          .toMap
      }
    val (lookups, grand) = offsets(perBucket, tags.size, fold, "__drp")

    // Pass 2: bucket-local windows + the literal offset lookups.
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
        fold.combine(col(s"${fold.tag}l$i"), lookups(i)).as(n)
      } ++
      totalsSuffix.toSeq.flatMap(suf =>
        values.zipWithIndex.map { case ((_, n), i) =>
          lit(grand(i)).as(s"$n$suf")
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
    *                  as a literal column named outputName+suffix —
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
    * sum: per-bucket minima are the ≤ p rows of driver metadata,
    * their exclusive prefix-min becomes the literal per-bucket
    * offset, and the final pass takes min(bucket-local running min,
    * offset). Values must be LONG-castable and non-null; the first
    * row's EXCLUSIVE min is Long.MaxValue (no predecessor — callers
    * test `isFirst` or compare against it). Powers order-scan
    * operators (2D skyline's "best y among strictly earlier x"),
    * never a single-partition window. */
  def cummin(df: DataFrame, bucketKey: Column, order: Seq[Column],
      values: Seq[(Column, String)], inclusive: Boolean = true,
      parts: Int = 0): DataFrame =
    scan(df, bucketKey, order, values, inclusive, None, parts, MinFold)

  /** Exact global 1-based row number over `order` — `cumsum` of a
    * constant 1. `totalAs`, if set, appends the total row count as a
    * literal column (feeds `ntileOf`). */
  def rowNumber(df: DataFrame, bucketKey: Column, order: Seq[Column],
      as: String, totalAs: Option[String] = None,
      parts: Int = 0): DataFrame = {
    val d = cumsum(df, bucketKey, order, Nil, inclusive = true,
      totalsSuffix = totalAs.map(_ => "__tot"), rowNumberAs = Some(as),
      parts = parts)
    totalAs match {
      case Some(t) => d.withColumnRenamed(s"${as}__tot", t)
      case None => d
    }
  }

  /** One global ranking to compute alongside others in a single
    * [[rowNumbers]] call: `bucketKey` must be ASC-congruent with
    * `order`'s leading column (same contract as [[cumsum]]), `order`
    * must be a total order, `as` names the output rank column. */
  final case class RankSpec(bucketKey: Column, order: Seq[Column],
      as: String)

  /** Several exact global row numbers over DIFFERENT total orders of
    * the SAME frame, fused: one boundary-sketch job computes every
    * order's bucket boundaries together, one metadata job counts the
    * bucket-id TUPLE (≤ p^k rows — for the k=3 quintile scores at
    * p=32 that is ≤ 32k rows of driver metadata, marginalized into
    * per-order offsets), and the final plan runs the k bucket-local
    * sort+window passes back to back over one scan — no per-order
    * re-read of the input and no k-way self-join on the row key.
    *
    * Replaces k independent [[rowNumber]] calls (2k eager jobs, k+1
    * computations of the input, k joins) for the RFM-style "rank the
    * same aggregate by several metrics" shape. Ranks are exact, so
    * the output is bitwise identical to the unfused form.
    *
    * @param totalAs if set, the total row count N is appended once as
    *                a literal column under this name (shared by every
    *                order — it is the same N).
    */
  def rowNumbers(df: DataFrame, specs: Seq[RankSpec],
      totalAs: Option[String] = None, parts: Int = 0): DataFrame = {
    require(specs.nonEmpty, "rowNumbers needs at least one RankSpec")
    val p = partitions(df, parts)
    if (p == 1) requireFastPath(df)
    val keep = df.columns.toSeq
    val js = specs.indices
    val k = specs.size
    val totalsPass = p > 1 || totalAs.isDefined
    val tagged = cacheRule(df, df.select(keep.map(col) ++ specs.zip(js).map {
      case (sp, j) => sp.bucketKey.cast("double").as(s"__drk$j")
    }: _*), eager = totalsPass)

    // Pass 0: every order's boundary sketch in ONE aggregate job.
    val boundsPer = sketch(tagged, js.map(j => col(s"__drk$j")), p)
    val bucketed = tagged.select(keep.map(col) ++ js.map(j =>
      pidFor(col(s"__drk$j"), boundsPer(j)).as(s"__drp$j")): _*)

    // Pass 1: ONE count job over GROUPING SETS ((__drp0), ..,
    // (__drpk-1)) — each order's per-bucket marginal directly, ≤ k·p
    // rows of driver metadata. (The former bucket-id TUPLE count was
    // bounded only by min(p^k, distinct tuples) — row-scale in the
    // worst case at large k; the marginals are all the offsets ever
    // needed.) Every grouping set keys exactly one non-null column,
    // so rows attribute to their order by the non-null index. That
    // attribution is sound ONLY because pidFor structurally never
    // returns NULL (its when/otherwise chain always falls through to
    // a literal) — a pidFor edit that could yield NULL would silently
    // drop rows from these marginals and corrupt every offset.
    val cells: Array[Row] =
      if (!totalsPass) Array.empty
      else bucketed
        .groupingSets(js.map(j => Seq(col(s"__drp$j"))),
          js.map(j => col(s"__drp$j")): _*)
        .agg(count(lit(1)).as("__n")).collect()
    val total = cells.filter(r => k == 1 || !r.isNullAt(0))
      .map(_.getLong(k)).sum

    // Pass 2: k bucket-local windows over one scan, literal offsets.
    val ranked = js.foldLeft(bucketed) { (d, j) =>
      val marg = cells.filter(r => k == 1 || !r.isNullAt(j))
        .map(r => r.getInt(j) -> Array(r.getLong(k))).toMap
      val offset = offsets(marg, 1, SumFold, s"__drp$j")._1.head
      val w = Window.partitionBy(s"__drp$j").orderBy(specs(j).order: _*)
        .rowsBetween(Window.unboundedPreceding, 0)
      d.withColumn(specs(j).as,
        coalesce(sum(lit(1L)).over(w), lit(0L)) + offset)
    }
    ranked.select(keep.map(col) ++ specs.map(sp => col(sp.as)) ++
      totalAs.map(t => lit(total).as(t)).toSeq: _*)
  }

  /** All ADJACENT row pairs (row_i, row_{i+1}) of the total order
    * `order` — the operator behind exact sequential statistics
    * (Chatterjee's ξ, von Neumann ratios) whose terms touch each
    * consecutive pair once. Replaces the global-row-number self-join
    * shape (`pos` joined against itself shifted by one), which
    * computes the full input chain twice and shuffles a row-scale
    * hash join, with ONE bucket-local sort pass:
    *
    *   - within-bucket pairs: `lead()` over the cumsum Pass-2 window
    *     (bucket-local sort, p-way parallel, spillable);
    *   - the ≤ p−1 cross-boundary pairs: per-bucket first/last rows
    *     by `min_by`/`max_by` (aggregate-grain, ≤ p rows) joined to
    *     the next PRESENT bucket over a broadcast inequality —
    *     bounded metadata, entirely in-plan.
    *
    * Output: for each name in `cols`, `name` (row i) and `name_n`
    * (row i+1); exactly N−1 rows for an N-row input. `order` must be
    * an ASCENDING total order; `bucketKey` ASC-congruent with its
    * leading column and NULL-free (the [[cumsum]] contract — NaN
    * keys go to the top bucket). Build runs only the shared
    * boundary-sketch job.
    */
  def adjacentPairs(df: DataFrame, bucketKey: Column, order: Seq[Column],
      cols: Seq[String], parts: Int = 0): DataFrame = {
    require(cols.forall(c => !cols.contains(s"${c}_n")),
      s"adjacentPairs suffix collision: a requested column's '_n' pair " +
        s"name shadows another requested column (${cols.mkString(", ")})")
    val p = partitions(df, parts)
    val oNames = order.indices.map(i => s"__do$i")
    // the sketch is the only eager pass; the cache also serves the
    // in-bucket pass and the bucket-ends aggregate
    val tagged = cacheRule(df, df.select(
      order.zip(oNames).map { case (c, n) => c.as(n) } ++
        cols.map(col) :+ bucketKey.cast("double").as("__drk"): _*),
      eager = p > 1)
    val bounds = sketch(tagged, Seq(col("__drk")), p).head
    val bucketed = tagged.withColumn("__drp", pidFor(col("__drk"), bounds))
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


  /** Where a running weight over `byPid` (bucket id → weight) first
    * reaches half its total `tot`: bucket b1 holds the first c with
    * 2·run ≥ tot, bucket b2 the first with 2·run > tot, and off1/off2
    * are the weights below them. An empty input gives b1 = b2 = -1. */
  private final case class Crossing(b1: Int, off1: Long, b2: Int,
      off2: Long, tot: Long)

  private def crossing(byPid: Seq[(Int, Long)]): Crossing = {
    val sorted = byPid.sortBy(_._1)
    val tot = sorted.map(_._2).sum
    var run = 0L
    var b1 = -1; var off1 = 0L; var b2 = -1; var off2 = 0L
    sorted.foreach { case (pid, n) =>
      val before = run; run += n
      if (b1 < 0 && 2 * run >= tot) { b1 = pid; off1 = before }
      if (b2 < 0 && 2 * run > tot) { b2 = pid; off2 = before }
    }
    Crossing(b1, off1, b2, off2, tot)
  }

  /** Keeps the rows of buckets [min b1, max b2] over the non-empty
    * crossings `cs` (none: no row). Filter the crossing buckets by the
    * VALUE RANGE they span, never by the bucket-id expression: a
    * predicate on the bucket id gets pushed below the projection with
    * the pid when-chain SUBSTITUTED into every term, so the caller's
    * value expression (e.g. a BigDecimal round) re-evaluates ~2p times
    * per row — measured 14 s for a plain filter+count at sf0.1
    * (round 12). Bucket b holds exactly the keys in
    * (bounds(b-1), bounds(b)], so the range keeps whole buckets and
    * the callers' exact bucket-id conditions stay exact. */
  private def crossingRange(key: Column, bounds: Seq[Double],
      cs: Seq[Crossing]): Column = {
    val live = cs.filter(_.tot > 0L)
    if (live.isEmpty) lit(false)
    else {
      val loB = live.map(_.b1).min
      val hiB = live.map(_.b2).max
      Seq(
        if (loB > 0) Some(key > lit(bounds(loB - 1))) else None,
        if (hiB < bounds.size) Some(key <= lit(bounds(hiB))) else None
      ).flatten.reduceOption(_ && _).getOrElse(lit(true))
    }
  }

  /** Exact DOUBLED median (vlo + vhi, the interpolation-free integer
    * form: vlo = min c with 2·#{v ≤ c} ≥ n, vhi = min c with
    * 2·#{v ≤ c} > n) of a LONG-castable column, without materializing
    * the full value-count lattice cumsum. The former shape
    * (groupBy(value) → cumsum → aggregate) recomputes a row-scale
    * groupBy once per DistRank pass — for near-row-scale lattices
    * (a101's cent prices: 97% of rows distinct at sf0.1) that is 3
    * row-scale shuffles to extract two numbers. This primitive never
    * shuffles row-scale data:
    *
    *   1. boundary sketch over the raw rows (one aggregate job, no
    *      shuffle);
    *   2. per-bucket row counts (one job; ≤ p rows survive map-side
    *      partial aggregation, so the exchange moves ≤ p rows per map
    *      task — metadata, not data);
    *   3. the driver locates the ≤ 2 buckets where the cumulative
    *      count crosses n/2, then the RETURNED (lazy) 1-row frame
    *      aggregates a value-count cumsum over ONLY those buckets'
    *      rows (~2/p of the input through one small exchange).
    *
    * Equal values share a bucket (pidFor is monotone), so each
    * crossing is complete within its bucket and the result is exactly
    * the full-lattice answer. Output: 1-row frame, `med2` LONG
    * (NULL on empty input, matching the aggregate-over-empty shape of
    * the cumsum form). `value` must be non-null. */
  def medianDoubled(df: DataFrame, value: Column, parts: Int = 0): DataFrame = {
    val p = partitions(df, parts)
    val v = df.select(value.cast("long").as("__dmv"))
    val key = col("__dmv").cast("double")
    val bounds = sketch(v, Seq(key), p).head
    val bucketed = v.withColumn("__drp", pidFor(key, bounds))
    val c = crossing(bucketed.groupBy("__drp")
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toSeq)
    val sel = bucketed.filter(crossingRange(key, bounds, Seq(c)))
      .groupBy(col("__drp"), col("__dmv")).agg(count(lit(1)).as("__m"))
    val w = Window.partitionBy("__drp").orderBy("__dmv")
      .rowsBetween(Window.unboundedPreceding, 0)
    sel.withColumn("__ci", sum(col("__m")).over(w))
      .agg((min(when(col("__drp") === lit(c.b1) &&
          (lit(c.off1) + col("__ci")) * 2 >= lit(c.tot), col("__dmv"))) +
        min(when(col("__drp") === lit(c.b2) &&
          (lit(c.off2) + col("__ci")) * 2 > lit(c.tot), col("__dmv"))))
        .as("med2"))
  }

  /** Per-group exact doubled median over RAW rows, with optional row
    * weights — the grouped/weighted generalization of
    * [[medianDoubled]] (same three-step shape: global boundary sketch
    * over the value, per-(group, bucket) weight totals as driver
    * metadata, then a lazy refinement over only each group's ≤ 2
    * crossing buckets). Replaces the groupBy(group, value) →
    * per-group window → aggregate chain, whose first step is a
    * row-scale shuffle whenever values are near-distinct.
    *
    * Contract: `group` must be driver-bounded (the metadata pass
    * collects #groups × p rows), `value` LONG-castable non-null,
    * `weight` a POSITIVE LONG (use the default 1 for plain medians).
    * Output: one row per group — (g, vlo, vhi, wtot) where
    * vlo = min v with 2·cumw(v) ≥ wtot, vhi = min v with
    * 2·cumw(v) > wtot, wtot = the group's total weight; the doubled
    * median is vlo + vhi. Exact integers at any SF. */
  def groupedMedianDoubled(df: DataFrame, group: Column, value: Column,
      weight: Column = lit(1L), parts: Int = 0): DataFrame = {
    val p = partitions(df, parts)
    val v = df.select(group.as("__g"), value.cast("long").as("__v"),
      weight.cast("long").as("__w"))
    val key = col("__v").cast("double")
    val bounds = sketch(v, Seq(key), p).head
    val bucketed = v.withColumn("__p", pidFor(key, bounds))
    // ≤ #groups × p rows; map-side partial aggregation keeps the
    // exchange at metadata scale
    val cnts = bucketed.groupBy(col("__g"), col("__p"))
      .agg(sum(col("__w")).as("__n")).collect()
    val metas: Seq[(Any, Crossing)] = cnts.groupBy(_.get(0)).toSeq.map {
      case (g, rows) =>
        g -> crossing(rows.map(r => r.getInt(1) -> r.getLong(2)).toSeq)
    }
    def chain(f: Crossing => Column, init: Column): Column =
      metas.foldLeft(init) { case (acc, (g, m)) =>
        when(col("__g") === lit(g), f(m)).otherwise(acc)
      }
    val b1C = chain(m => lit(m.b1), lit(-1))
    val b2C = chain(m => lit(m.b2), lit(-1))
    val off1C = chain(m => lit(m.off1), lit(0L))
    val off2C = chain(m => lit(m.off2), lit(0L))
    val totC = chain(m => lit(m.tot), lit(0L))
    // one range over every group's crossing buckets — whole buckets,
    // so the exact (__g, __p) conditions below are unaffected
    val sel = bucketed.filter(crossingRange(key, bounds, metas.map(_._2)))
      .groupBy(col("__g"), col("__p"), col("__v"))
      .agg(sum(col("__w")).as("__m"))
    val w = Window.partitionBy("__g", "__p").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, 0)
    sel.withColumn("__ci", sum(col("__m")).over(w))
      .groupBy(col("__g").as("g"))
      .agg(
        min(when(col("__p") === b1C &&
          (off1C + col("__ci")) * 2 >= totC, col("__v"))).as("vlo"),
        min(when(col("__p") === b2C &&
          (off2C + col("__ci")) * 2 > totC, col("__v"))).as("vhi"),
        max(totC).as("wtot"))
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
