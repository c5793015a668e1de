package graft

import org.apache.spark.sql.functions._
import graft.functions.EwmAvg
import graft.operators.Temporal

/** Pandas-semantics checks for the temporal operators (SURVEY §5
  * risks): ddof=1 single-row std, EMA adjust=False recursion, rank
  * ties, diffs, group-tail, cumcount. */
class TemporalSpec extends SparkSpec {
  import spark.implicits._

  private def ts = Seq(
    // (key, t, v)
    ("a", 1, 10.0), ("a", 2, 12.0), ("a", 3, 11.0), ("a", 4, 15.0),
    ("b", 1, 5.0)).toDF("k", "t", "v")
  private val w = Temporal.spec(Seq(col("k")), Seq(col("t")))

  test("W1 lag: shifts within group, null at head, no cross-group leak") {
    val r = ts.select(col("k"), col("t"), Temporal.lagK(col("v"), 1, w).as("l"))
      .orderBy("k", "t").collect()
    assert(r(0).isNullAt(2) && r(1).getDouble(2) == 10.0 && r(3).getDouble(2) == 11.0)
    assert(r(4).isNullAt(2)) // group b row 1 must not see group a
  }

  test("W2 rolling std ddof=1: single-row window is null (pandas NaN)") {
    val r = ts.select(col("k"), col("t"),
      Temporal.rollingStd(col("v"), 3, w).as("s")).orderBy("k", "t").collect()
    assert(r(0).isNullAt(2))       // 1 row -> ddof=1 undefined
    assert(!r(1).isNullAt(2))      // 2 rows -> defined
    assert(r(4).isNullAt(2))       // group b single row
  }

  test("W2 rolling mean min_periods=1: head uses partial window") {
    val r = ts.select(col("k"), col("t"),
      Temporal.rollingMean(col("v"), 3, w).as("m")).orderBy("k", "t").collect()
    assert(approx(r(0).getDouble(2), 10.0))
    assert(approx(r(1).getDouble(2), 11.0))
    assert(approx(r(3).getDouble(2), (12.0 + 11.0 + 15.0) / 3))
  }

  test("W2 exact-integer rolling mean/std agree with the float versions") {
    // v is on a 0.1 lattice -> c = round(v*10) is exact; the exact
    // variants must match the float ones to float tolerance, including
    // the ddof=1 null on single-row frames.
    val c = round(col("v") * 10).cast("long")
    val r = ts.select(col("k"), col("t"),
      Temporal.rollingMean(col("v"), 3, w).as("fm"),
      Temporal.rollingMeanExact(c, 3, w, 10).as("em"),
      Temporal.rollingStd(col("v"), 3, w).as("fs"),
      Temporal.rollingStdExact(c, 3, w, 10).as("es"))
      .orderBy("k", "t").collect()
    r.foreach { row =>
      assert(approx(row.getDouble(2), row.getDouble(3)))
      assert(row.isNullAt(4) == row.isNullAt(5))
      if (!row.isNullAt(4)) assert(approx(row.getDouble(4), row.getDouble(5)))
    }
  }

  test("W3/W4 diff and delta2 match hand values") {
    val r = ts.select(col("k"), col("t"),
      Temporal.diff(col("v"), w).as("d1"),
      Temporal.delta2(col("v"), w).as("d2")).orderBy("k", "t").collect()
    assert(approx(r(1).getDouble(2), 2.0))
    assert(approx(r(2).getDouble(2), -1.0))
    assert(r(1).isNullAt(3))              // needs lag2
    assert(approx(r(2).getDouble(3), 11.0 - 2 * 12.0 + 10.0))
  }

  private def ewm(df: org.apache.spark.sql.DataFrame, alpha: Double,
                  ignoreNa: Boolean = true) =
    df.select(col("k"), col("t"), EwmAvg.ewmAvg(col("v"), alpha,
      Seq(col("k")), Seq(col("t")), ignoreNa).as("e")).orderBy("k", "t")

  test("W5 EwmAvg matches the pandas adjust=False recursion by hand") {
    val a = 0.3
    val vals = List(12.0, 11.0, 15.0)
    val hand = vals.scanLeft(10.0)((acc, x) => a * x + (1 - a) * acc)
    val r = ewm(ts, a).filter(col("k") === "a").select("e").as[Double].collect()
    assert(r.length == hand.length)
    hand.zip(r).foreach { case (h, g) => assert(h == g) }
  }

  test("W5 EwmAvg ignore_na=False matches pandas position-decay weights") {
    // pandas: s = pd.Series([1.0, None, 5.0]); s.ewm(alpha=0.5,
    // adjust=False).mean() -> [1.0, 1.0, 3.6666...]: weights of x0, x2
    // at t=2 are (1-a)^2 and a, normalized.
    val df = Seq(("a", 1, Some(1.0)), ("a", 2, None), ("a", 3, Some(5.0)),
      ("a", 4, Some(9.0)),
      ("b", 1, None), ("b", 2, Some(7.0))).toDF("k", "t", "v")
    val r = ewm(df, 0.5, ignoreNa = false).select("e").collect()
    assert(approx(r(0).getDouble(0), 1.0))
    assert(approx(r(1).getDouble(0), 1.0))     // gap: mean unchanged
    val y3 = (0.25 * 1.0 + 0.5 * 5.0) / 0.75
    assert(approx(r(2).getDouble(0), y3))
    // weight RESETS after a valid obs (pandas old_wt = 1 for
    // adjust=False): next step is the plain recursion, NOT an
    // accumulated denominator.
    assert(approx(r(3).getDouble(0), 0.5 * y3 + 0.5 * 9.0))
    assert(r(4).isNullAt(0))                   // leading null
    assert(approx(r(5).getDouble(0), 7.0))
    // on null-free input both rules give the same bits
    val clean = Seq(("a", 1, 2.0), ("a", 2, 4.0), ("a", 3, 8.0)).toDF("k", "t", "v")
    val y1 = ewm(clean, 0.3).select("e").as[Double].collect()
    val y2 = ewm(clean, 0.3, ignoreNa = false).select("e").as[Double].collect()
    assert(y1.toSeq == y2.toSeq)
  }

  test("W5 EwmAvg: nulls carry the previous EMA (pandas ffill-like)") {
    val df = Seq(("a", 1, Some(10.0)), ("a", 2, None), ("a", 3, Some(20.0)))
      .toDF("k", "t", "v")
    val r = ewm(df, 0.5).select("e").collect()
    assert(approx(r(0).getDouble(0), 10.0))
    assert(approx(r(1).getDouble(0), 10.0))   // null input -> hold state
    assert(approx(r(2).getDouble(0), 15.0))   // recursion continues
    // ignore_na=False holds the same value at the gap; only the step
    // after it differs (position-decay weights)
    val f = ewm(df, 0.5, ignoreNa = false).select("e").collect()
    assert(approx(f(1).getDouble(0), 10.0))
    assert(approx(f(2).getDouble(0), (0.25 * 10.0 + 0.5 * 20.0) / 0.75))
  }

  test("W5 native EwmAvg: null inputs carry previous state, null head") {
    val df = Seq(("a", 1, Some(10.0)), ("a", 2, None), ("a", 3, Some(20.0)),
      ("b", 1, Option.empty[Double]))
      .toDF("k", "t", "v")
    val r = df.select(col("k"),
      graft.functions.EwmAvg.ewmAvg(col("v"), 0.5,
        Seq(col("k")), Seq(col("t"))).as("e"))
      .orderBy("k", "t").collect()
    assert(approx(r(0).getDouble(1), 10.0))
    assert(approx(r(1).getDouble(1), 10.0))
    assert(approx(r(2).getDouble(1), 15.0))
    assert(r(3).isNullAt(1))
  }

  test("W6 topK: rank method=first — deterministic tie-break") {
    val df = Seq(("a", 1, 5.0), ("a", 2, 5.0), ("a", 3, 5.0), ("a", 4, 1.0))
      .toDF("k", "id", "d")
    val r = Temporal.topKPerGroup(df, Seq(col("k")),
      Seq(col("d"), col("id")), 2)
    val got = r.orderBy("rnk").select("id").as[Int].collect().toList
    assert(got == List(4, 1)) // 1.0 first, then tie broken by id
  }

  test("W2 rolling stats skip nulls (pandas NaN-ignore semantics)") {
    val df = Seq(("a", 1, Some(10.0)), ("a", 2, None), ("a", 3, Some(20.0)))
      .toDF("k", "t", "v")
    val ww = Temporal.spec(Seq(col("k")), Seq(col("t")))
    val r = df.select(col("t"),
      Temporal.rollingMean(col("v"), 3, ww).as("m"),
      Temporal.rollingMin(col("v"), 3, ww).as("mn")).orderBy("t").collect()
    assert(approx(r(1).getDouble(1), 10.0))   // null ignored, mean of {10}
    assert(approx(r(2).getDouble(1), 15.0))   // mean of {10, 20}
    assert(approx(r(2).getDouble(2), 10.0))
  }

  test("W3 diff propagates null across a null input (pandas parity)") {
    val df = Seq(("a", 1, Some(5.0)), ("a", 2, None), ("a", 3, Some(9.0)))
      .toDF("k", "t", "v")
    val ww = Temporal.spec(Seq(col("k")), Seq(col("t")))
    val r = df.select(col("t"), Temporal.diff(col("v"), ww).as("d"))
      .orderBy("t").collect()
    assert(r(0).isNullAt(1))   // no predecessor
    assert(r(1).isNullAt(1))   // current null
    assert(r(2).isNullAt(1))   // predecessor null
  }

  test("groupTail with ties on the order key is deterministic via tiebreak") {
    val df = Seq(("a", 5, 1, 1.0), ("a", 5, 2, 2.0), ("a", 3, 3, 3.0))
      .toDF("k", "t", "id", "v")
    val r = Temporal.groupTail(df, Seq(col("k")), Seq(col("t"), col("id")))
      .collect()
    assert(r.length == 1 && r(0).getInt(2) == 2) // max (t, id)
  }

  test("A1 groupTail keeps the entire last row per entity") {
    val r = Temporal.groupTail(ts, Seq(col("k")), Seq(col("t")))
      .orderBy("k").collect()
    assert(r.length == 2)
    assert(r(0).getInt(1) == 4 && r(0).getDouble(2) == 15.0)
    assert(r(1).getInt(1) == 1 && r(1).getDouble(2) == 5.0)
  }

  test("A6 cumCount starts at 0 and increments in order") {
    val r = ts.select(col("k"), col("t"), Temporal.cumCount(w).as("c"))
      .filter(col("k") === "a").orderBy("t").select("c").as[Int].collect()
    assert(r.toList == List(0, 1, 2, 3))
  }

  test("asofJoin: latest right <= left time, inclusive ties, per key") {
    val left = Seq(("a", 5L, 100L), ("a", 10L, 101L), ("a", 3L, 102L),
      ("b", 7L, 103L)).toDF("k", "t", "lid")
    val right = Seq(("a", 4L, 1.0), ("a", 9L, 2.0), ("a", 10L, 3.0),
      ("b", 99L, 9.0)).toDF("k", "t", "rv")
    val r = Temporal.asofJoin(left, right, Seq("k"), "t", "t", Seq("rv"))
      .orderBy("lid").select("lid", "rv").collect()
    assert(r(0).getDouble(1) == 1.0)            // t=5 -> right t=4
    assert(r(1).getDouble(1) == 3.0)            // t=10 -> tie inclusive
    assert(r(2).isNullAt(1))                    // t=3 -> no earlier right
    assert(r(3).isNullAt(1))                    // key b: right is later
  }

  test("asofJoinForward: earliest right >= left time, inclusive ties") {
    val left = Seq(("a", 5L, 100L), ("a", 10L, 101L), ("a", 12L, 102L),
      ("b", 7L, 103L)).toDF("k", "t", "lid")
    val right = Seq(("a", 9L, 2.0), ("a", 10L, 3.0), ("a", 11L, 4.0),
      ("b", 2L, 9.0)).toDF("k", "t", "rv")
    val r = Temporal.asofJoinForward(left, right, Seq("k"), "t", "t", Seq("rv"))
      .orderBy("lid").select("lid", "rv").collect()
    assert(r(0).getDouble(1) == 2.0)            // t=5 -> next right t=9
    assert(r(1).getDouble(1) == 3.0)            // t=10 -> tie inclusive
    assert(r(2).isNullAt(1))                    // t=12 -> no later right
    assert(r(3).isNullAt(1))                    // key b: right is earlier
  }

  test("asofJoin: null right fields survive; no cross-row stitching") {
    val left = Seq(("u", 3L, 1L)).toDF("k", "t", "lid")
    val right = Seq(("u", 1L, Some(5.0), Some(1.0)),
      ("u", 2L, None, Some(7.0))).toDF("k", "t", "a", "b")
    val r = Temporal.asofJoin(left, right, Seq("k"), "t", "t", Seq("a", "b"))
      .select("a", "b").collect()(0)
    // match is the t=2 row: a must be null (not t=1's 5.0), b = 7.0
    assert(r.isNullAt(0) && r.getDouble(1) == 7.0)
    // NULL keys never match (equi-join semantics), in either direction
    val nl = Seq((null.asInstanceOf[String], 9L, 1L)).toDF("k", "t", "lid")
    val nr = Seq((null.asInstanceOf[String], 1L, Some(5.0), Some(1.0)))
      .toDF("k", "t", "a", "b")
    val rn = Temporal.asofJoin(nl, nr, Seq("k"), "t", "t", Seq("a", "b"))
      .select("a", "b").collect()(0)
    assert(rn.isNullAt(0) && rn.isNullAt(1))
  }

  test("asofJoin plan: one exchange, no join node") {
    val left = (1 to 100).map(i => ("k" + i % 3, i.toLong, i)).toDF("k", "t", "lid")
    val right = (1 to 50).map(i => ("k" + i % 3, i * 2L, i * 1.5)).toDF("k", "t", "rv")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val j = Temporal.asofJoin(left, right, Seq("k"), "t", "t", Seq("rv"))
    val plan = j.queryExecution.executedPlan
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    val joins = plan.collect {
      case b: org.apache.spark.sql.execution.joins.BaseJoinExec => b }
    assert(shuffles.size == 1, s"want 1 exchange, got ${shuffles.size}")
    assert(joins.isEmpty, "asofJoin must not produce a join operator")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("ffill/bfill: LOCF per key, leading/trailing gaps stay null") {
    val df = Seq(
      (1L, 1L, Option(10L)), (1L, 2L, None), (1L, 3L, None),
      (1L, 4L, Option(40L)), (1L, 5L, None),
      (2L, 1L, None), (2L, 2L, Option(5L))).toDF("k", "t", "v")
    val w = Temporal.spec(Seq(col("k")), Seq(col("t")))
    val r = df.select(col("k"), col("t"),
        Temporal.ffill(col("v"), w).as("f"),
        Temporal.bfill(col("v"), w).as("b"))
      .as[(Long, Long, Option[Long], Option[Long])]
      .collect().sortBy(x => (x._1, x._2)).toSeq
    assert(r == Seq(
      (1L, 1L, Some(10L), Some(10L)), (1L, 2L, Some(10L), Some(40L)),
      (1L, 3L, Some(10L), Some(40L)), (1L, 4L, Some(40L), Some(40L)),
      (1L, 5L, Some(40L), None),
      (2L, 1L, None, Some(5L)), (2L, 2L, Some(5L), Some(5L))))
  }

  test("CusumLong == sequential max(0, s + x - k) fold, per key") {
    val xs = Seq(
      (1L, 1L, 30L), (1L, 2L, 5L), (1L, 3L, 40L), (1L, 4L, 2L),
      (1L, 5L, 90L), (2L, 1L, 100L), (2L, 2L, 1L))
    val k = 20L
    val expected = xs.groupBy(_._1).flatMap { case (key, rows) =>
      rows.sortBy(_._2).scanLeft((key, 0L, 0L)) { case ((_, _, s), (_, t, x)) =>
        (key, t, math.max(0L, s + x - k))
      }.tail
    }.toSet
    val got = xs.toDF("key", "t", "x")
      .select(col("key"), col("t"),
        graft.functions.CusumLong.cusum(col("x"), k,
          Seq(col("key")), Seq(col("t"))).as("s"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("HoltLinear == sequential two-state recursion, bitwise") {
    val xs = Seq(
      (1L, 1L, 10.0), (1L, 2L, 12.5), (1L, 3L, 11.0), (1L, 4L, 20.0),
      (2L, 1L, 5.0), (2L, 2L, 5.0), (2L, 3L, 7.25))
    val expected = xs.groupBy(_._1).flatMap { case (key, rows) =>
      var (l, b) = (Double.NaN, 0.0)
      rows.sortBy(_._2).map { case (_, t, x) =>
        if (l.isNaN) { l = x; b = 0.0 }
        else {
          val stepped = 0.5 * x + 0.5 * (l + b)
          b = 0.5 * (stepped - l) + 0.5 * b
          l = stepped
        }
        (key, t, l, b)
      }
    }.toSet
    val got = xs.toDF("key", "t", "x")
      .withColumn("h", graft.functions.HoltLinear.holt(col("x"), 0.5, 0.5,
        Seq(col("key")), Seq(col("t"))))
      .select(col("key"), col("t"), col("h.level"), col("h.trend"))
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(got == expected) // exact ==: dyadic recursion is bitwise
  }

  test("CusumLong skips nulls carrying state (no reset, no poisoning)") {
    val df = Seq(
      (1L, Option(50L)), (2L, Option.empty[Long]), (3L, Option(10L)))
      .toDF("t", "x")
    val got = df.select(col("t"),
        graft.functions.CusumLong.cusum(col("x"), 20L,
          Seq(lit(1)), Seq(col("t"))).as("s"))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    // t=1: max(0, 0+50-20)=30; t=2: null input -> state stays 30;
    // t=3: max(0, 30+10-20)=20.
    assert(got == Seq((1L, 30L), (2L, 30L), (3L, 20L)))
  }
}
