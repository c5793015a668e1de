package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 71 (ATR, Granger, stochastic
  * oscillator, Page-Hinkley) on sf0.001. */
class Curation71Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** per-day (day, open, high, low, close) from the raw rows. */
  private lazy val ohlc: Array[(Long, Long, Long, Long, Long)] = {
    val rows = graft.io.Tables.eventsUs(spark, dir)
      .select(col("ts_us"), col("event_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 100)))
    rows.groupBy(_._1 / 86400000000L).toArray.sortBy(_._1).map {
      case (day, es) =>
        // the w51 pack order: (epoch-second, id % 1024), collisions
        // resolved by the packed cent value itself
        val keyed = es.map(e =>
          ((e._1 / 1000000L) * 1024 + e._2 % 1024, e._3))
        val open = keyed.minBy(k => (k._1, k._2))._2
        val close = keyed.maxBy(k => (k._1, k._2))._2
        (day, open, es.map(_._3).max, es.map(_._3).min, close)
    }
  }

  test("w81_atr matches a brute TR + dyadic recursion") {
    val trs = ohlc.zipWithIndex.map { case ((_, _, h, l, _), i) =>
      if (i == 0) h - l
      else {
        val pc = ohlc(i - 1)._5
        math.max(h - l, math.max(math.abs(h - pc), math.abs(l - pc)))
      }
    }
    var atr = trs.head.toDouble
    val exp = trs.zipWithIndex.map { case (tr, i) =>
      if (i > 0) atr = 0.0625 * tr + 0.9375 * atr
      (ohlc(i)._1, tr, atr)
    }
    val got = SparkEntry.queries("w81_atr")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.length == exp.length)
    got.zip(exp).foreach { case (g, e) => assert(g == e, s"$g vs $e") }
  }

  test("w82_granger matches a brute OLS recompute") {
    val daily = graft.io.Tables.eventsUs(spark, dir)
      .select(expr("ts_us DIV 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("day").agg(sum("c").as("cents"), count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val t = (1 until daily.length).map(i =>
      (daily(i)._2.toDouble, daily(i - 1)._2.toDouble,
        daily(i - 1)._3.toDouble))
    val n = t.length
    def ols(xs: Seq[Seq[Double]], y: Seq[Double]): Double = {
      // residual sum of squares of y ~ 1 + xs via normal equations
      // (small k, solved by Gaussian elimination)
      val k = xs.length + 1
      val a = Array.ofDim[Double](k, k + 1)
      def reg(j: Int, i: Int): Double = if (j == 0) 1.0 else xs(j - 1)(i)
      for (r <- 0 until k; c <- 0 until k)
        a(r)(c) = (0 until n).map(i => reg(r, i) * reg(c, i)).sum
      for (r <- 0 until k)
        a(r)(k) = (0 until n).map(i => reg(r, i) * y(i)).sum
      for (p <- 0 until k) {
        val pivot = (p until k).maxBy(r => math.abs(a(r)(p)))
        val tmp = a(p); a(p) = a(pivot); a(pivot) = tmp
        for (r <- p + 1 until k) {
          val f = a(r)(p) / a(p)(p)
          for (c <- p to k) a(r)(c) -= f * a(p)(c)
        }
      }
      val beta = Array.ofDim[Double](k)
      for (p <- k - 1 to 0 by -1) {
        beta(p) = (a(p)(k) - (p + 1 until k).map(c =>
          a(p)(c) * beta(c)).sum) / a(p)(p)
      }
      (0 until n).map { i =>
        val e = y(i) - (0 until k).map(j => beta(j) * reg(j, i)).sum
        e * e
      }.sum
    }
    val y = t.map(_._1); val u = t.map(_._2); val v = t.map(_._3)
    val rssR = ols(Seq(u), y)
    val rssU = ols(Seq(u, v), y)
    val f = (rssR - rssU) / (rssU / (n - 3))
    val r = SparkEntry.queries("w82_granger")(spark, dir)
      .collect().head
    assert(r.getLong(0) == n.toLong)
    assert(math.abs(r.getDouble(1) - rssR) < 1e-6 * rssR, s"rss_r")
    assert(math.abs(r.getDouble(2) - rssU) < 1e-6 * rssU, s"rss_u")
    assert(math.abs(r.getDouble(3) - f) < 1e-6 * math.abs(f), s"f")
  }

  test("w83_stochastic matches a brute range recompute") {
    val got = SparkEntry.queries("w83_stochastic")(
      spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4))).toMap
    assert(got.size == ohlc.length - 15)
    val ks = collection.mutable.Map[Long, Double]()
    for (i <- 15 until ohlc.length) {
      val win = ohlc.slice(i - 15, i + 1)
      val l16 = win.map(_._4).min; val h16 = win.map(_._3).max
      val close = ohlc(i)._5
      val k = if (h16 > l16)
        (close - l16).toDouble * 100 / (h16 - l16) else Double.NaN
      ks(ohlc(i)._1) = k
      val (gc, gl, gh, gk) = got(ohlc(i)._1)
      assert((gc, gl, gh) == ((close, l16, h16)), s"day ${ohlc(i)._1}")
      assert(gk == k || (gk.isNaN && k.isNaN))
    }
  }

  test("w84_page_hinkley matches a brute excursion recompute") {
    val rows = graft.io.Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 100)))
    val got = SparkEntry.queries("w84_page_hinkley")(
      spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    var checked = 0
    for ((u, es) <- rows.groupBy(_._1) if es.length > 8) {
      val ordered = es.sortBy(e => (e._2, e._3)).map(_._4)
      val sCal = ordered.take(8).sum
      val detect = ordered.drop(8)
      var cs = 0L; var runmin = Long.MaxValue; var stat = Long.MinValue
      detect.zipWithIndex.foreach { case (c, i0) =>
        cs += c
        val m = cs * 8 - (i0 + 1).toLong * (sCal + 400)
        runmin = math.min(runmin, m) // inclusive running min
        stat = math.max(stat, m - runmin)
      }
      val (gn, gs, gstat, galarm) = got(u)
      assert(gn == detect.length.toLong && gs == sCal, s"user $u")
      assert(gstat == stat, s"user $u stat: $gstat vs $stat")
      assert(galarm == (if (stat > 24000) 1L else 0L))
      checked += 1
    }
    assert(checked == got.size)
  }
}
