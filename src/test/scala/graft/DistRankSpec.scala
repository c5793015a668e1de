package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.{ApproximatePercentile, Complete, Final}
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType}
import org.scalacheck.{Gen, Prop, Test}

import graft.functions.BucketIndex
import graft.operators.DistRank
import graft.tools.PlanAudit

/** DistRank must be bitwise-equal to the single-partition window
  * plans it replaces: every test pits the distributed two-pass
  * against Spark's own `Window.orderBy(...)` on the same frame, under
  * AQE on and under AQE off. */
class DistRankSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` once with AQE on and once with it off. */
  private def underAqe(body: => Unit): Unit = {
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(key)
    try Seq("true", "false").foreach { on =>
      spark.conf.set(key, on)
      withClue(s"AQE=$on: ")(body)
    } finally spark.conf.set(key, was)
  }

  // 999 rows, deliberately skewed + tie-heavy key (k = id % 7 has
  // ~143 rows per distinct value, so bucket boundaries MUST respect
  // tie groups), unique tiebreaker id.
  private lazy val base = spark.range(0, 999)
    .select(col("id"), (col("id") % 7).as("k"),
      ((col("id") * 37) % 101).as("v"))

  test("global row_number matches single-partition window") { underAqe {
    val expect = base.withColumn("r",
      row_number().over(Window.orderBy(col("k"), col("id"))).cast("long"))
      .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    val got = DistRank.rowNumber(base, col("k"), Seq(col("k"), col("id")),
      "r", parts = 4)
      .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(got == expect)
  }}

  test("a row number's literal 1 is folded in place, not carried as a column") {
    // a tagged copy of the literal would ride the row-scale bucket
    // exchange into the window; a computed value still gets its tag
    val ord = Seq(col("k"), col("id"))
    def tags(df: DataFrame): Seq[String] = df.queryExecution.optimizedPlan
      .collectWithSubqueries { case p => p.output.map(_.name) }.flatten
      .filter(_.startsWith("__drv")).distinct
    assert(tags(DistRank.rowNumber(base, col("k"), ord, "r", parts = 4)).isEmpty)
    assert(tags(DistRank.cumsum(base, col("k"), ord, Seq(col("v") -> "cv"),
      rowNumberAs = Some("r"), parts = 4)) == Seq("__drv0"))
  }

  test("descending order via negated bucket key") { underAqe {
    val ord = Seq(col("v").desc, col("id"))
    val expect = base.withColumn("r",
      row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    val got = DistRank.rowNumber(base, -col("v"), ord, "r", parts = 4)
      .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(got == expect)
  }}

  test("inclusive and exclusive cumsum + literal grand totals") { underAqe {
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
  }}

  test("ntileOf matches Spark ntile for every bucket count 1..9") { underAqe {
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
  }}

  test("empty input yields empty output") { underAqe {
    val empty = base.filter(col("id") < 0)
    assert(DistRank.rowNumber(empty, col("k"), Seq(col("k"), col("id")),
      "r", parts = 4).count() == 0L)
  }}

  test("NaN bucket keys rank at the global tail") { underAqe {
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
  }}

  test("signed zeros and NaN keys rank in Catalyst's order") { underAqe {
    // -0.0 sorts equal to 0.0, so ties between them break on id alone
    val df = base.withColumn("kd", element_at(array(lit(-0.0), lit(0.0),
      lit(Double.NaN), lit(-1.5), lit(2.0)), (col("id") % 5 + 1).cast("int")))
    val ord = Seq(col("kd"), col("id"))
    val expect = df.withColumn("r",
      row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    val got = DistRank.rowNumber(df, col("kd"), ord, "r", parts = 4)
      .select("id", "r").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(got == expect)
  }}

  test("rowNumbers fuses several orders, identical to rowNumber") { underAqe {
    val specs = Seq(
      DistRank.RankSpec(col("k"), Seq(col("k"), col("id")), "rk"),
      DistRank.RankSpec(-col("v"), Seq(col("v").desc, col("id")), "rv"),
      DistRank.RankSpec(col("id"), Seq(col("id")), "ri"))
    val fused = DistRank.rowNumbers(base, specs, totalAs = Some("n"),
      parts = 4)
      .select("id", "rk", "rv", "ri", "n").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    def one(b: Column, ord: Seq[Column]) =
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
  }}

  test("parts=1 fast path: aggregate-grain only, same results") { underAqe {
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
  }}

  /** Every primitive over an aggregate-grain frame, by name, at a
    * given `parts` (the parts = 1 fast path needs that grain). */
  private lazy val primitives: Seq[(String, Int => DataFrame)] = {
    val agg = base.groupBy("k").agg(sum("v").as("sv"))
    val ord = Seq(col("sv"), col("k"))
    Seq(
      "cumsum" -> (pt => DistRank.cumsum(agg, col("sv"), ord,
        Seq((col("k"), "c")), totalsSuffix = Some("_t"), parts = pt)),
      "cummin" -> (pt => DistRank.cummin(agg, col("sv"), ord,
        Seq((col("k"), "c")), parts = pt)),
      "rowNumber" -> (pt => DistRank.rowNumber(agg, col("sv"), ord, "r",
        totalAs = Some("n"), parts = pt)),
      "rowNumbers" -> (pt => DistRank.rowNumbers(agg, Seq(
        DistRank.RankSpec(col("sv"), ord, "r1"),
        DistRank.RankSpec(-col("k"), Seq(col("k").desc), "r2")),
        totalAs = Some("n"), parts = pt)),
      "adjacentSum" -> (pt => DistRank.adjacentSum(agg, col("sv"), ord,
        (a, b) => abs(b("k") - a("k")), parts = pt)),
      "medianDoubled" -> (pt => DistRank.medianDoubled(agg, col("sv"),
        parts = pt)),
      "groupedMedianDoubled" -> (pt => DistRank.groupedMedianDoubled(agg,
        col("k") % 2, col("sv"), parts = pt)))
  }

  test("every primitive builds with 0 jobs and leaves no persisted RDD") {
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet.toSet
    for ((name, primitive) <- primitives; parts <- Seq(4, 1)) {
      val (df, jobs) = jobsIn(primitive(parts))
      assert(jobs == 0, s"$name at parts=$parts: $jobs job(s) at build")
      df.collect()
      assert((sc.getPersistentRDDs.keySet.toSet -- baseline).isEmpty,
        s"$name at parts=$parts left a persisted RDD")
    }
  }

  test("one execution supplies the bounds and the offsets") {
    // the sketch's final percentile aggregate, counted over the
    // executed plan and its subqueries (a reused subquery is a leaf):
    // two executions could bucket the plan's rows and the meta's
    // totals differently
    def sketchRuns(df: DataFrame): Int =
      PlanAudit.nodes(df.queryExecution.executedPlan).count {
        case a: BaseAggregateExec => a.aggregateExpressions.exists(e =>
          (e.mode == Final || e.mode == Complete) &&
            e.aggregateFunction.isInstanceOf[ApproximatePercentile])
        case _ => false
      }
    underAqe {
      for ((name, primitive) <- primitives) {
        val df = primitive(4)
        df.collect()
        assert(sketchRuns(df) == 1, name)
      }
    }
    // without subquery reuse each read would run its own sketch
    val reuse = "spark.sql.execution.reuseSubquery"
    spark.conf.set(reuse, "false")
    try for ((name, primitive) <- primitives)
      withClue(name)(intercept[IllegalArgumentException](primitive(4)))
    finally spark.conf.unset(reuse)
  }

  test("bucket id = #bounds strictly below the key, in Catalyst order") {
    // a coarse lattice, so keys often equal a bound, plus the doubles
    // whose order differs from IEEE comparison: NaN (above every
    // number, equal to itself) and -0.0 (equal to 0.0)
    val special = Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity)
    val dbl = Gen.frequency(
      4 -> Gen.chooseNum(-4, 4).map(_ / 2.0), 1 -> special)
    // percentile_approx's output: ascending in Catalyst's order,
    // repeats allowed, NULL for an empty input (no bounds)
    val bounds = Gen.option(Gen.listOf(dbl).map(_.sortWith(
      SQLOrderingUtil.compareDoubles(_, _) < 0)))
    val cases = Gen.listOfN(30, Gen.zip(Gen.option(dbl), bounds))
    val prop = Prop.forAll(cases) { cs =>
      val df = cs.toDF("key", "bounds")
      val got = df.select(
        BucketIndex.of(col("key"), col("bounds")),
        // the rule, evaluated by Spark's own comparison operator
        aggregate(coalesce(col("bounds"), typedLit(Seq.empty[Double])),
          lit(0), (n, b) => n + when(b < col("key"), 1).otherwise(0)))
        .collect()
      // the interpreted path agrees with the generated code
      val interpreted = cs.map { case (k, b) =>
        BucketIndex(Literal.create(k.map(Double.box).orNull, DoubleType),
          Literal.create(b.map(x => new GenericArrayData(x.toArray)).orNull,
            ArrayType(DoubleType))).eval()
      }
      got.map(_.getInt(0)).toSeq == got.map(_.getInt(1)).toSeq &&
        got.map(r => r.getInt(0): Any).toSeq == interpreted
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(20), prop)
    assert(result.passed, result.status.toString)
    // empty input: percentile_approx returns NULL, read as no bounds
    val empty = base.filter(col("id") < 0).select(col("v").cast("double"))
      .agg(percentile_approx(col("v"), array(lit(0.5)), lit(100)).as("b"))
    val one = spark.range(1).select(lit(1.5).as("key"))
      .select(BucketIndex.of(col("key"), empty.scalar()))
    assert(one.head().getInt(0) == 0)
  }

  test("cummin matches single-partition running min, incl and excl") { underAqe {
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
  }}

  test("plan has no single-partition window") {
    // the window check walks the subqueries too: the meta's aggregates
    // are global, its windows must not be
    underAqe {
      for ((name, primitive) <- primitives)
        assert(!PlanAudit.audit(primitive(4)).globalWindow,
          s"$name: distributed rank must not plan a global window")
    }
  }

  /** Σ term(row_i, row_{i+1}) by the plan adjacentSum replaces: a
    * single-partition `lag` over the same total order, then `sum`. */
  private def lagSum(df: DataFrame, order: Seq[Column],
      term: (Column, Column) => Column): DataFrame = {
    val row = struct(df.columns.map(col): _*)
    df.withColumn("prev", lag(row, 1).over(Window.orderBy(order: _*)))
      .agg(sum(when(col("prev").isNotNull, term(col("prev"), row))))
  }

  // asymmetric and non-telescoping, so a mis-paired or missed pair
  // changes the sum; exact DECIMAL(38,0), the a102/a103 term type
  private val term: (Column, Column) => Column = (a, b) =>
    (abs(b("v") - a("v")) * (a("id") % 13 + 1) + b("k") * a("v"))
      .cast("decimal(38,0)")

  test("adjacentSum equals the single-partition lag sum") { underAqe {
    val ord = Seq(col("k"), col("id"))
    val expect = lagSum(base, ord, term).head().getDecimal(0)
    for (parts <- Seq(1, 3, 4)) {
      val got = DistRank.adjacentSum(base, col("k"), ord, term, parts)
      assert(got.columns.toSeq == Seq("sum"))
      assert(got.schema("sum").dataType == DecimalType(38, 0))
      assert(got.collect().toSeq.map(_.getDecimal(0)) == Seq(expect),
        s"parts=$parts")
    }
  }}

  test("adjacentSum: sparse buckets, 0/1/2 rows, special keys, ties") { underAqe {
    def got(df: DataFrame, key: Column, ord: Seq[Column], parts: Int) =
      DistRank.adjacentSum(df, key, ord, term, parts).head().get(0)
    def expect(df: DataFrame, ord: Seq[Column]) =
      lagSum(df, ord, term).head().get(0)
    // two far-apart key islands with p = 8 leave most buckets empty:
    // the fold must chain across PRESENT buckets only
    val sparse = spark.range(0, 20).select(col("id"),
      when(col("id") < 10, col("id")).otherwise(col("id") * 1000).as("k"),
      ((col("id") * 37) % 101).as("v"))
    val so = Seq(col("k"))
    assert(got(sparse, col("k"), so, 8) == expect(sparse, so))
    // 0 and 1 rows: no pair, NULL (what sum over no pairs gives);
    // 2 rows: the one term
    val ord = Seq(col("k"), col("id"))
    for (n <- Seq(0, 1)) assert(got(base.limit(n), col("k"), ord, 4) == null)
    // ids 3 and 10: k = 3 for both, v = 10 then 67
    val two = base.filter(col("id").isin(3L, 10L))
    assert(got(two, col("k"), ord, 4) ==
      new java.math.BigDecimal((67 - 10) * (3 % 13 + 1) + 3 * 10))
    // NaN keys sort above every number, -0.0 equals 0.0 (BucketIndex
    // follows Catalyst's double order)
    val special = base.withColumn("kd", element_at(array(lit(-0.0),
      lit(0.0), lit(Double.NaN), lit(-1.5), lit(2.0)),
      (col("id") % 5 + 1).cast("int")))
    val sk = Seq(col("kd"), col("id"))
    assert(got(special, col("kd"), sk, 4) == expect(special, sk))
    // a non-unique order: rows tied on k carry equal payloads, so any
    // arrangement of the ties gives the same sum
    val tied = base.select(col("k"), (col("k") * 3).as("v"),
      (col("k") * 5).as("id"))
    assert(got(tied, col("k"), Seq(col("k")), 4) ==
      expect(tied, Seq(col("k"))))
  }}

  test("adjacentSum equals the ordered fold on random frames") {
    // keys on a coarse lattice with NaN and both zeros (ties across
    // bucket boundaries), a unique id tiebreaker, random bucket counts
    val key = Gen.frequency(6 -> Gen.chooseNum(-3, 3).map(_ / 2.0),
      1 -> Gen.oneOf(Double.NaN, -0.0, 0.0))
    val frames = Gen.zip(Gen.chooseNum(1, 6), Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.zip(key, Gen.chooseNum(-50L, 50L)))))
    val prop = Prop.forAll(frames) { case (parts, rows) =>
      val df = rows.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("kd", "v", "id")
      val sorted = rows.zipWithIndex.sortWith { case (((k1, _), i1), ((k2, _), i2)) =>
        val c = SQLOrderingUtil.compareDoubles(k1, k2)
        c < 0 || (c == 0 && i1 < i2)
      }.map { case ((_, v), i) => (v, i.toLong) }
      val ref = sorted.sliding(2).collect { case Seq((va, ia), (vb, _)) =>
        math.abs(vb - va) * (ia % 13 + 1) }.toSeq
      val got = DistRank.adjacentSum(df, col("kd"), Seq(col("kd"), col("id")),
        (a, b) => abs(b("v") - a("v")) * (a("id") % 13 + 1), parts).head()
      if (ref.isEmpty) got.isNullAt(0) else got.getLong(0) == ref.sum
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(15), prop)
    assert(result.passed, result.status.toString)
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

  test("medianDoubled matches the full-lattice rule (odd/even/ties)") { underAqe {
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
  }}

  test("groupedMedianDoubled matches the per-group weighted rule") { underAqe {
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
  }}
}
