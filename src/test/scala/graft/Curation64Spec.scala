package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 64 (theta sketch, streaming Kalman)
  * on sf0.001. */
class Curation64Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val P = 1000000007L

  test("a111_theta_sketch matches a brute sketch replay") {
    val got = SparkEntry.queries("a111_theta_sketch")(
      spark, dir).collect().head
    val evs = graft.queries.Q.events(spark, dir)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def setOf(t: String): Set[Long] =
      evs.filter(_._2 == t).map(_._1).toSet
    val a = setOf("purchase"); val b = setOf("click")
    def h(u: Long): Long = Math.floorMod(u * 2654435761L + 104729L, P)
    def sketch(x: Set[Long]): (Seq[(Long, Long)], Long) = {
      val sorted = x.toSeq.map(u => (h(u), u)).sortBy(identity)
      val bot = sorted.take(64)
      val theta = if (x.size < 64) P else bot.last._1
      (bot.map { case (hh, u) => (u, hh) }, theta)
    }
    val (sa, ta) = sketch(a); val (sb, tb) = sketch(b)
    val theta = math.min(ta, tb)
    val comb = (sa.map(_._1) ++ sb.map(_._1)).distinct
      .map(u => (u, h(u), sa.exists(_._1 == u), sb.exists(_._1 == u)))
      .filter(_._2 < theta)
    val nu = comb.length.toLong
    val ni = comb.count(c => c._3 && c._4).toLong
    val nd = comb.count(c => c._3 && !c._4).toLong
    assert(got.getLong(0) == (a ++ b).size.toLong, "exact_union")
    assert(got.getLong(1) == (a & b).size.toLong, "exact_inter")
    assert(got.getLong(2) == nu * P / theta, "est_union")
    assert(got.getLong(3) == ni * P / theta, "est_inter")
    assert(got.getLong(4) == nd * P / theta, "est_diff_ab")
    assert(got.getBoolean(5) && got.getBoolean(6),
      "gates should hold at 64 retained hashes")
  }

  test("w76_stream_kalman matches the full-history batch fold") {
    val got = SparkEntry.queries("w76_stream_kalman")(
      spark, dir).collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val events = graft.io.Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 100)))
    val q = 4194304.0; val r0 = 16777216.0
    var checked = 0
    for ((u, evs) <- events.groupBy(_._1)) {
      val ord = evs.sortBy(e => (e._2, e._3))
      var x = ord.head._4.toDouble
      var p = r0
      for (e <- ord.tail) {
        val pp = p + q
        val k = pp / (pp + r0)
        x = x + k * (e._4.toDouble - x)
        p = (1.0 - k) * pp
      }
      val (gn, gx, gp) = got(u)
      assert(gn == ord.length.toLong, s"user $u n")
      assert(gx == x, s"user $u x")
      assert(gp == p, s"user $u p")
      checked += 1
    }
    assert(checked > 10)
  }
}
