package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 62 (AMS F2, Pettitt, Hosmer-Lemeshow)
  * on sf0.001. */
class Curation62Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val P31 = 2147483647L

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private lazy val events = graft.io.Tables.eventsUs(spark, dir)
    .select(col("user_id"), col("ts_us"), col("event_id"), col("value"),
      col("event_type")).collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      math.round(r.getDouble(3) * 100), r.getString(4)))

  test("a110_ams_f2 matches a brute sketch replay") {
    val got = SparkEntry.queries("a110_ams_f2")(spark, dir)
      .collect().head
    val f = events.groupBy(_._1).map { case (u, v) => (u, v.length.toLong) }
    val f2 = f.values.map(x => x * x).sum
    def sign(u: Long, i: Int): Long = {
      val c = (2654435761L * (i + 1) + 40503L * ((i * i) % 61)) % P31
      if (Math.floorMod((u + 1) * c, P31) < P31 / 2) 1L else -1L
    }
    val z = (0 until 16).map(i => f.map { case (u, cnt) =>
      sign(u, i) * cnt }.sum)
    val m = (0 until 4).map(g => (0 until 4).map(j =>
      z(4 * g + j) * z(4 * g + j)).sum)
    val est8 = m.sum - m.min - m.max
    assert(got.getLong(0) == f2, "f2_exact")
    assert(got.getLong(1) == est8, "est_x8")
    assert(got.getDouble(2) == r6(est8.toDouble / (8L * f2).toDouble))
    assert(got.getBoolean(3) == (math.abs(est8 - 8L * f2) <= 4L * f2))
  }

  test("w74_pettitt matches a brute rank recompute") {
    val got = SparkEntry.queries("w74_pettitt")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    var checked = 0
    for ((u, evs) <- events.groupBy(_._1) if evs.length >= 8) {
      val ord = evs.sortBy(e => (e._2, e._3)).map(_._4)
      val n = ord.length
      // doubled midranks over values
      val sortedVals = ord.sorted
      def r2Of(v: Long): Long = {
        val less = sortedVals.count(_ < v).toLong
        val eq = sortedVals.count(_ == v).toLong
        2 * less + eq + 1 // 2*rank + ties - 1 with rank = less+1
      }
      var best = Long.MinValue; var kBest = 0L; var tBest = 0L
      var cr2 = 0L
      for (t <- 1 until n) {
        cr2 += r2Of(ord(t - 1))
        val uT = t.toLong * (n + 1) - cr2
        val pk = (math.abs(uT) + 1) * 1048576L - t
        if (pk > best) { best = pk; kBest = math.abs(uT); tBest = t.toLong }
      }
      val (gn, gk, gt, gs) = got(u)
      assert(gn == n.toLong, s"user $u n")
      assert(gk == kBest, s"user $u k")
      assert(gt == tBest, s"user $u t_star")
      val lhs = BigInt(6) * BigInt(kBest) * BigInt(kBest) * 1000000
      val rhs = BigInt(3688879) * (BigInt(n).pow(3) + BigInt(n).pow(2))
      assert(gs == (lhs > rhs), s"user $u significance")
      checked += 1
    }
    assert(checked > 3)
  }

  test("m55_hosmer matches a brute per-bin recompute") {
    val got = SparkEntry.queries("m55_hosmer")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val bins = events.groupBy(_._4 / 5000)
    assert(got.size == bins.size)
    for ((bin, evs) <- bins) {
      val n = evs.length.toLong
      val obs = evs.count(e => e._5 == "purchase" || e._5 == "signup").toLong
      val sc = evs.map(_._4).sum
      val dev = BigInt(50000L * obs - sc)
      val num = dev * dev * n
      val den = BigInt(sc) * (50000L * n - sc)
      val (gn, go, gsc, ghl) = got(bin)
      assert((gn, go, gsc) == ((n, obs, sc)), s"bin $bin cells")
      assert(ghl == r6(num.toDouble / den.toDouble), s"bin $bin hl")
    }
  }
}
