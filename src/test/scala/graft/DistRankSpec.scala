package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.DistRank

/** DistRank must be bitwise-equal to the single-partition window
  * plans it replaces: every test pits the distributed two-pass
  * against Spark's own `Window.orderBy(...)` on the same frame. */
class DistRankSpec extends SparkSpec {
  import spark.implicits._

  // 999 rows, deliberately skewed + tie-heavy key (k = id % 7 has
  // ~143 rows per distinct value, so bucket boundaries MUST respect
  // tie groups), unique tiebreaker id.
  private lazy val base = spark.range(0, 999)
    .select(col("id"), (col("id") % 7).as("k"),
      ((col("id") * 37) % 101).as("v"))

  test("global row_number matches single-partition window") {
    val expect = base.withColumn("r",
      row_number().over(Window.orderBy(col("k"), col("id"))).cast("long"))
      .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    val got = DistRank.rowNumber(base, col("k"), Seq(col("k"), col("id")),
      "r", parts = 4)
      .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(got == expect)
  }

  test("descending order via negated bucket key") {
    val ord = Seq(col("v").desc, col("id"))
    val expect = base.withColumn("r",
      row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    val got = DistRank.rowNumber(base, -col("v"), ord, "r", parts = 4)
      .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(got == expect)
  }

  test("inclusive and exclusive cumsum + literal grand totals") {
    val wIn = Window.orderBy(col("k"), col("id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wEx = Window.orderBy(col("k"), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val expect = base
      .withColumn("ci", sum("v").over(wIn))
      .withColumn("ce", coalesce(sum("v").over(wEx), lit(0L)))
      .select("id", "ci", "ce").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val gotIn = DistRank.cumsum(base, col("k"), Seq(col("k"), col("id")),
      Seq((col("v"), "ci")), inclusive = true,
      totalsSuffix = Some("_tot"), parts = 4)
    val gotEx = DistRank.cumsum(base, col("k"), Seq(col("k"), col("id")),
      Seq((col("v"), "ce")), inclusive = false, parts = 4)
    val gi = gotIn.select("id", "ci", "ci_tot").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val ge = gotEx.select("id", "ce").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val vTot = base.agg(sum("v")).head().getLong(0)
    base.select("id").collect().map(_.getLong(0)).foreach { id =>
      assert(gi(id)._1 == expect(id)._1, s"inclusive at $id")
      assert(gi(id)._2 == vTot, s"total at $id")
      assert(ge(id) == expect(id)._2, s"exclusive at $id")
    }
  }

  test("ntileOf matches Spark ntile for every bucket count 1..9") {
    // also at N not divisible by n, and on a 3-row frame (N < n)
    (1 to 9).foreach { n =>
      val ord = Seq(col("v"), col("id"))
      val expect = base.withColumn("t",
        ntile(n).over(Window.orderBy(ord: _*)).cast("long"))
        .select("id", "t").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val ranked = DistRank.rowNumber(base, col("v"), ord, "r",
        totalAs = Some("nn"), parts = 4)
      val got = ranked
        .select(col("id"), DistRank.ntileOf(col("r"), col("nn"), n).as("t"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == expect, s"ntile($n)")
    }
    val tiny = spark.range(0, 3).select(col("id"), col("id").as("v"))
    val expect = tiny.withColumn("t",
      ntile(5).over(Window.orderBy("v", "id")).cast("long"))
      .select("id", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = DistRank.rowNumber(tiny, col("v"), Seq(col("v"), col("id")),
      "r", totalAs = Some("nn"), parts = 4)
      .select(col("id"), DistRank.ntileOf(col("r"), col("nn"), 5).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expect, "ntile(5) with N < n")
  }

  test("empty input yields empty output") {
    val empty = base.filter(col("id") < 0)
    assert(DistRank.rowNumber(empty, col("k"), Seq(col("k"), col("id")),
      "r", parts = 4).count() == 0L)
  }

  test("NaN bucket keys rank at the global tail") {
    // NaN sorts ABOVE every finite double in Spark's ordering; the
    // bucket assignment must agree or cross-bucket offsets corrupt.
    val df = base.withColumn("kd",
      when(col("id") % 13 === 0, lit(Double.NaN))
        .otherwise(col("v").cast("double")))
    val ord = Seq(col("kd"), col("id"))
    val expect = df.withColumn("r",
      row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    val got = DistRank.rowNumber(df, col("kd"), ord, "r", parts = 4)
      .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(got == expect)
  }

  test("rowNumbers fuses several orders, identical to rowNumber") {
    val specs = Seq(
      DistRank.RankSpec(col("k"), Seq(col("k"), col("id")), "rk"),
      DistRank.RankSpec(-col("v"), Seq(col("v").desc, col("id")), "rv"),
      DistRank.RankSpec(col("id"), Seq(col("id")), "ri"))
    val fused = DistRank.rowNumbers(base, specs, totalAs = Some("n"),
      parts = 4)
      .select("id", "rk", "rv", "ri", "n").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    def one(b: org.apache.spark.sql.Column,
        ord: Seq[org.apache.spark.sql.Column]) =
      DistRank.rowNumber(base, b, ord, "r", parts = 4)
        .select("id", "r").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    val (ek, ev, ei) = (one(col("k"), specs(0).order),
      one(-col("v"), specs(1).order), one(col("id"), specs(2).order))
    base.select("id").collect().map(_.getLong(0)).foreach { id =>
      assert(fused(id)._1 == ek(id) && fused(id)._2 == ev(id) &&
        fused(id)._3 == ei(id), s"fused ranks at $id")
      assert(fused(id)._4 == 999L, s"total at $id")
    }
  }

  test("parts=1 fast path: aggregate-grain only, same results") {
    val agg = base.groupBy("k").agg(sum("v").as("sv"))
    val ord = Seq(col("sv"), col("k"))
    val expect = agg.withColumn("r",
      row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select("k", "r").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    val got = DistRank.rowNumber(agg, col("sv"), ord, "r", parts = 1)
      .select("k", "r").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(got == expect)
    // cumsum with grand totals (the one eager pass at parts=1), cummin
    // (no eager pass) and fused rowNumbers with totalAs, all against
    // the single-partition window over the same aggregate
    val wIn = Window.orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wEx = Window.orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ordK = Seq(col("k").desc)
    val single = agg
      .withColumn("cs", sum("sv").over(wIn))
      .withColumn("cs_tot", sum("sv").over(Window.partitionBy()))
      .withColumn("mk",
        coalesce(min("k").over(wEx), lit(Long.MaxValue)))
      .withColumn("r1", row_number().over(Window.orderBy(ord: _*))
        .cast("long"))
      .withColumn("r2", row_number().over(Window.orderBy(ordK: _*))
        .cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
    def byK(d: DataFrame, c: String*) =
      d.select("k", c: _*).collect()
        .map(r => r.getLong(0) -> c.indices.map(i => r.getLong(i + 1)))
        .toMap
    assert(byK(DistRank.cumsum(agg, col("sv"), ord,
        Seq((col("sv"), "cs")), totalsSuffix = Some("_tot"), parts = 1),
      "cs", "cs_tot") == byK(single, "cs", "cs_tot"))
    assert(byK(DistRank.cummin(agg, col("sv"), ord,
        Seq((col("k"), "mk")), inclusive = false, parts = 1), "mk") ==
      byK(single, "mk"))
    assert(byK(DistRank.rowNumbers(agg, Seq(
        DistRank.RankSpec(col("sv"), ord, "r1"),
        DistRank.RankSpec(-col("k"), ordK, "r2")),
        totalAs = Some("n"), parts = 1), "r1", "r2", "n") ==
      byK(single, "r1", "r2", "n"))
    // row-scale input (a raw scan core) must be rejected
    intercept[IllegalArgumentException] {
      DistRank.rowNumber(base, col("k"), Seq(col("k"), col("id")),
        "r", parts = 1)
    }
    // an exploded aggregate is row-scale again — also rejected
    val exploded = agg.select(col("k"),
      explode(array(col("sv"), col("sv"))).as("x"))
    intercept[IllegalArgumentException] {
      DistRank.rowNumber(exploded, col("x"), Seq(col("x"), col("k")),
        "r", parts = 1)
    }
  }

  test("input cache: aggregate-grain input with an eager pass only") {
    val agg = base.groupBy("k").agg(sum("v").as("sv"))
    val ord = Seq(col("sv"), col("k"))
    // persistent RDDs a built-and-run frame adds over a clear cache
    // (other suites' localCheckpoint RDDs are not catalog caches)
    def cachedBy(build: => DataFrame): Int = {
      spark.catalog.clearCache()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      build.collect()
      (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    }
    def cumsum(d: DataFrame, o: Seq[Column],
        parts: Int, tot: Option[String] = None) =
      DistRank.cumsum(d, o.head, o, Seq((col("k"), "c")),
        totalsSuffix = tot, parts = parts)
    def cummin(d: DataFrame, o: Seq[Column],
        parts: Int) =
      DistRank.cummin(d, o.head, o, Seq((col("k"), "c")), parts = parts)
    def rowNumbers(d: DataFrame, o: Seq[Column],
        parts: Int) =
      DistRank.rowNumbers(d, Seq(DistRank.RankSpec(o.head, o, "r")),
        parts = parts)
    def adjacentPairs(d: DataFrame, o: Seq[Column],
        parts: Int) =
      DistRank.adjacentPairs(d, o.head, o, Seq("k"), parts = parts)
    val raw = Seq(col("k"), col("id"))
    try {
      assert(cachedBy(cumsum(agg, ord, 4)) > 0, "cumsum, aggregate")
      assert(cachedBy(cummin(agg, ord, 4)) > 0, "cummin, aggregate")
      assert(cachedBy(rowNumbers(agg, ord, 4)) > 0,
        "rowNumbers, aggregate")
      assert(cachedBy(adjacentPairs(agg, ord, 4)) > 0,
        "adjacentPairs, aggregate")
      // parts=1: grand totals are the one eager pass; without them
      // there is none, so nothing is cached
      assert(cachedBy(cumsum(agg, ord, 1, Some("_t"))) > 0,
        "cumsum with totals at parts=1")
      assert(cachedBy(cummin(agg, ord, 1)) == 0, "cummin at parts=1")
      assert(cachedBy(cumsum(base, raw, 4)) == 0, "cumsum, raw scan")
      assert(cachedBy(cummin(base, raw, 4)) == 0, "cummin, raw scan")
      assert(cachedBy(rowNumbers(base, raw, 4)) == 0,
        "rowNumbers, raw scan")
      assert(cachedBy(adjacentPairs(base, raw, 4)) == 0,
        "adjacentPairs, raw scan")
    } finally spark.catalog.clearCache()
  }

  test("cummin matches single-partition running min, incl and excl") {
    val wIn = Window.orderBy(col("k"), col("id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wEx = Window.orderBy(col("k"), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val expect = base
      .withColumn("mi", min("v").over(wIn))
      .withColumn("me", coalesce(min("v").over(wEx), lit(Long.MaxValue)))
      .select("id", "mi", "me").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val gi = DistRank.cummin(base, col("k"), Seq(col("k"), col("id")),
      Seq((col("v"), "mi")), inclusive = true, parts = 4)
      .select("id", "mi").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val ge = DistRank.cummin(base, col("k"), Seq(col("k"), col("id")),
      Seq((col("v"), "me")), inclusive = false, parts = 4)
      .select("id", "me").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    base.select("id").collect().map(_.getLong(0)).foreach { id =>
      assert(gi(id) == expect(id)._1, s"inclusive at $id")
      assert(ge(id) == expect(id)._2, s"exclusive at $id")
    }
  }

  test("plan has no single-partition window") {
    val plan = DistRank.rowNumber(base, col("k"),
      Seq(col("k"), col("id")), "r", parts = 4)
      .queryExecution.executedPlan.toString
    assert(!(plan.contains("Window") && plan.contains("SinglePartition")),
      "distributed rank must not plan a global window")
  }

  test("adjacentPairs equals the global-order lead, N-1 rows") {
    // (k, id) total order; payload v AND the order column k itself
    val expect = base
      .withColumn("vn", lead(col("v"), 1)
        .over(Window.orderBy(col("k"), col("id"))))
      .withColumn("kn", lead(col("k"), 1)
        .over(Window.orderBy(col("k"), col("id"))))
      .filter(col("vn").isNotNull)
      .select("v", "k", "vn", "kn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val got = DistRank.adjacentPairs(base, col("k"),
        Seq(col("k"), col("id")), Seq("v", "k"), parts = 4)
      .select("v", "k", "v_n", "k_n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(got.size == 998 && got == expect)
  }

  test("adjacentPairs: sparse buckets, single row, empty input") {
    // two far-apart key islands with p=8 leaves most buckets empty —
    // the boundary join must still chain across PRESENT buckets only
    val sparse = spark.range(0, 20)
      .select(col("id"), when(col("id") < 10, col("id"))
        .otherwise(col("id") * 1000).as("k"))
    val expect = sparse
      .withColumn("kn", lead(col("k"), 1).over(Window.orderBy(col("k"))))
      .filter(col("kn").isNotNull)
      .select("k", "kn").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = DistRank.adjacentPairs(sparse, col("k"), Seq(col("k")),
        Seq("k"), parts = 8)
      .select("k", "k_n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got.size == 19 && got == expect)
    assert(DistRank.adjacentPairs(base.limit(1), col("k"),
      Seq(col("k"), col("id")), Seq("v"), parts = 4).count() == 0L)
    assert(DistRank.adjacentPairs(base.limit(0), col("k"),
      Seq(col("k"), col("id")), Seq("v"), parts = 4).count() == 0L)
  }

  /** Reference doubled median: vlo = min v with 2·cumw ≥ tot,
    * vhi = min v with 2·cumw > tot, over (v, w) pairs. */
  private def refMed2(rows: Seq[(Long, Long)]): (Long, Long, Long) = {
    val sorted = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .toSeq.sortBy(_._1)
    val tot = sorted.map(_._2).sum
    var run = 0L; var vlo = Option.empty[Long]; var vhi = Option.empty[Long]
    sorted.foreach { case (v, w) =>
      run += w
      if (vlo.isEmpty && 2 * run >= tot) vlo = Some(v)
      if (vhi.isEmpty && 2 * run > tot) vhi = Some(v)
    }
    (vlo.get, vhi.get, tot)
  }

  test("medianDoubled matches the full-lattice rule (odd/even/ties)") {
    for (n <- Seq(999L, 1000L, 1L)) {
      val df = spark.range(0, n)
        .select(col("id"), ((col("id") * 37) % 101).as("v"))
      val (vlo, vhi, _) = refMed2(
        df.select("v").collect().map(r => (r.getLong(0), 1L)).toSeq)
      val got = DistRank.medianDoubled(df, col("v"), parts = 4)
        .head().getLong(0)
      assert(got == vlo + vhi, s"n=$n")
    }
    // single distinct value and empty input
    val const = spark.range(0, 10).select(lit(42L).as("v"))
    assert(DistRank.medianDoubled(const, col("v"), parts = 4)
      .head().getLong(0) == 84L)
    assert(DistRank.medianDoubled(const.limit(0), col("v"), parts = 4)
      .head().isNullAt(0))
  }

  test("groupedMedianDoubled matches the per-group weighted rule") {
    val df = spark.range(0, 999)
      .select(col("id"), (col("id") % 3).cast("string").as("g"),
        ((col("id") * 37) % 101).as("v"), (col("id") % 5 + 1L).as("w"))
    val byG = df.select("g", "v", "w").collect()
      .groupBy(_.getString(0)).view.mapValues(
        _.map(r => (r.getLong(1), r.getLong(2))).toSeq).toMap
    val got = DistRank.groupedMedianDoubled(df, col("g"), col("v"),
        col("w"), parts = 4)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.keySet == byG.keySet)
    byG.foreach { case (g, rows) => assert(got(g) == refMed2(rows), g) }
    // unweighted default + skewed group sizes
    val skew = spark.range(0, 500)
      .select(when(col("id") < 490, lit("big")).otherwise(lit("small"))
        .as("g"), ((col("id") * 13) % 37).as("v"))
    val byG2 = skew.collect().groupBy(_.getString(0)).view.mapValues(
      _.map(r => (r.getLong(1), 1L)).toSeq).toMap
    val got2 = DistRank.groupedMedianDoubled(skew, col("g"), col("v"),
        parts = 8)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    byG2.foreach { case (g, rows) => assert(got2(g) == refMed2(rows), g) }
  }
}
