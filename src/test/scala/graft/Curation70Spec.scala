package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 70 (PACF/Durbin-Levinson, MACD,
  * Aroon) on sf0.001. */
class Curation70Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** (day, cents) series, day-ascending. */
  private lazy val daily: Array[(Long, Long)] =
    graft.io.Tables.eventsUs(spark, dir)
      .select(expr("ts_us DIV 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("day").agg(sum("c").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)

  test("w78_pacf matches a brute Durbin-Levinson recompute") {
    val xs = daily.map(_._2.toDouble)
    val n = xs.length
    val mu = xs.sum / n
    def gamma(k: Int): Double =
      (k until n).map(t => (xs(t) - mu) * (xs(t - k) - mu)).sum
    val g = (0 to 5).map(gamma).toArray
    // Durbin-Levinson
    val phi = Array.ofDim[Double](6, 6)
    val pacf = Array.ofDim[Double](6)
    pacf(1) = g(1) / g(0); phi(1)(1) = pacf(1)
    for (k <- 2 to 5) {
      val num = g(k) - (1 until k).map(j => phi(k - 1)(j) * g(k - j)).sum
      val den = g(0) - (1 until k).map(j => phi(k - 1)(j) * g(j)).sum
      pacf(k) = num / den; phi(k)(k) = pacf(k)
      for (j <- 1 until k) phi(k)(j) =
        phi(k - 1)(j) - pacf(k) * phi(k - 1)(k - j)
    }
    val r = SparkEntry.queries("w78_pacf")(spark, dir)
      .collect().head
    assert(r.getLong(0) == n.toLong)
    for (k <- 1 to 5)
      assert(math.abs(r.getDouble(k) - pacf(k)) < 1e-6,
        s"pacf$k: ${r.getDouble(k)} vs ${pacf(k)}")
    // PACF values must be valid partial correlations
    for (k <- 1 to 5) assert(math.abs(r.getDouble(k)) <= 1.0 + 1e-9)
  }

  test("w79_macd matches a brute dyadic-EMA recompute") {
    val xs = daily.map(_._2.toDouble)
    var ef = xs.head; var es = xs.head; var sg = 0.0
    val exp = xs.zipWithIndex.map { case (v, i) =>
      if (i > 0) {
        ef = 0.25 * v + 0.75 * ef
        es = 0.125 * v + 0.875 * es
        sg = 0.5 * (ef - es) + 0.5 * sg
      }
      (daily(i)._1, ef - es, sg, (ef - es) - sg)
    }
    val got = SparkEntry.queries("w79_macd")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).sortBy(_._1)
    assert(got.length == exp.length)
    // dyadic recursions are EXACT — bitwise equality expected
    got.zip(exp).foreach { case (g, e) =>
      assert(g == e, s"day ${g._1}: $g vs $e")
    }
  }

  test("w80_aroon matches a brute trailing-argmax recompute") {
    val got = SparkEntry.queries("w80_aroon")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(got.size == daily.length - 15)
    for (i <- 15 until daily.length) {
      val win = daily.slice(i - 15, i + 1)
      // most recent high/low (ties → later position)
      val hiIdx = win.zipWithIndex.maxBy(w => (w._1._2, w._2))._2
      val loIdx = win.zipWithIndex.minBy(w => (w._1._2, -w._2))._2
      val bsh = 15L - hiIdx; val bsl = 15L - loIdx
      val (gh, gl, gu, gd) = got(daily(i)._1)
      assert(gh == bsh, s"day ${daily(i)._1} high: $gh vs $bsh")
      assert(gl == bsl, s"day ${daily(i)._1} low: $gl vs $bsl")
      assert(gu == (16 - bsh) * 6.25 && gd == (16 - bsl) * 6.25)
    }
  }
}
