package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 67 (WoE/IV, Chow test) on sf0.001. */
class Curation67Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("m57_woe_iv matches a brute bin recompute") {
    val got = SparkEntry.queries("m57_woe_iv")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val evs = graft.queries.Q.events(spark, dir)
      .select(col("value"), col("event_type")).collect()
      .map(r => (math.round(r.getDouble(0) * 100) / 5000,
        r.getString(1) == "purchase"))
    val bins = evs.groupBy(_._1)
    val g1s = bins.map { case (b, v) => b -> (v.count(_._2) + 1L) }
    val b1s = bins.map { case (b, v) => b -> (v.count(!_._2) + 1L) }
    val gt = g1s.values.sum; val bt = b1s.values.sum
    assert(got.size == bins.size)
    for (b <- bins.keys) {
      val g1 = g1s(b); val b1 = b1s(b)
      val woe = math.log((g1 * bt).toDouble / (b1 * gt).toDouble)
      val iv = (g1 * bt - b1 * gt).toDouble / (gt * bt).toDouble * woe
      val (gp, gn, gw, gi) = got(b)
      assert((gp, gn) == ((g1 - 1, b1 - 1)), s"bin $b counts")
      assert(gw == r6(woe), s"bin $b woe")
      assert(gi == r6(iv), s"bin $b iv")
    }
  }

  test("a113_chow matches a brute two-segment OLS") {
    val got = SparkEntry.queries("a113_chow")(spark, dir)
      .collect().head
    val daily = graft.io.Tables.eventsUs(spark, dir)
      .select(expr("ts_us DIV 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("day").agg(sum("c").as("cents")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val d0 = daily.map(_._1).min; val d1 = daily.map(_._1).max
    val mid = (d1 - d0) / 2
    val pts = daily.map { case (d, c) => (d - d0, c) }
    def rssOf(ps: Seq[(Long, Long)]): Double = {
      val n = ps.length.toLong
      val sx = ps.map(_._1).sum
      val sxx = ps.map(p => p._1 * p._1).sum
      val sy = ps.map(p => BigInt(p._2)).sum
      val sxy = ps.map(p => BigInt(p._1) * p._2).sum
      val syy = ps.map(p => BigInt(p._2) * p._2).sum
      val vy = (BigInt(n) * syy - sy * sy).toDouble
      val cxy = (BigInt(n) * sxy - BigInt(sx) * sy).toDouble
      val vx = (n * sxx - sx * sx).toDouble
      (vy - cxy * cxy / vx) / n.toDouble
    }
    val s1 = pts.filter(_._1 <= mid).toSeq
    val s2 = pts.filter(_._1 > mid).toSeq
    assert(got.getLong(0) == pts.length.toLong)
    assert(got.getLong(1) == s1.length.toLong)
    assert(got.getLong(2) == s2.length.toLong)
    assert(got.getLong(3) == mid)
    val rp = rssOf(pts.toSeq); val r1 = rssOf(s1); val r2v = rssOf(s2)
    assert(got.getDouble(4) == rp, "rss_pooled")
    assert(got.getDouble(5) == r1, "rss_pre")
    assert(got.getDouble(6) == r2v, "rss_post")
    val f = ((rp - r1 - r2v) / 2.0) /
      ((r1 + r2v) / (pts.length - 4).toDouble)
    assert(got.getDouble(7) == f, "f_chow")
    // a break statistic should be finite and non-negative here
    assert(!got.getDouble(7).isNaN)
  }
}
