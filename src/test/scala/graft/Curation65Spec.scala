package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 65 (Brunner-Munzel, rolling entropy)
  * on sf0.001. */
class Curation65Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private lazy val events = graft.io.Tables.eventsUs(spark, dir)
    .select(col("user_id"), col("ts_us"), col("event_id"), col("value"),
      col("event_type")).collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      math.round(r.getDouble(3) * 100), r.getString(4)))

  test("a112_brunner_munzel matches a brute placement recompute") {
    val got = SparkEntry.queries("a112_brunner_munzel")(
      spark, dir).collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    for ((typ, evs) <- events.groupBy(_._5)) {
      val xs = evs.map(e => (e._1 % 2 == 0, e._4))
      def dr2(vals: Seq[Long], v: Long): Long = {
        val less = vals.count(_ < v).toLong
        val eq = vals.count(_ == v).toLong
        2 * less + eq + 1
      }
      val all = xs.map(_._2).toSeq
      val aVals = xs.filter(_._1).map(_._2).toSeq
      val bVals = xs.filterNot(_._1).map(_._2).toSeq
      val na = aVals.length.toLong; val nb = bVals.length.toLong
      if (na >= 2 && nb >= 2) {
        val ra2 = aVals.map(v => dr2(all, v)).sum
        val rb2 = bVals.map(v => dr2(all, v)).sum
        val aA = aVals.map(v => dr2(all, v) - dr2(aVals, v))
        val aB = bVals.map(v => dr2(all, v) - dr2(bVals, v))
        val mxn = BigInt(na) * aA.map(x => BigInt(x) * x).sum -
          BigInt(aA.sum) * aA.sum
        val myn = BigInt(nb) * aB.map(x => BigInt(x) * x).sum -
          BigInt(aB.sum) * aB.sum
        val den = math.sqrt(mxn.toDouble / (4.0 * (na - 1)) +
          myn.toDouble / (4.0 * (nb - 1)))
        val num = (na * rb2 - nb * ra2).toDouble / (2.0 * (na + nb))
        val pHat = (rb2 - nb * (nb + 1)).toDouble / (2.0 * (na * nb))
        val (gna, gnb, gp, gw) = got(typ)
        assert((gna, gnb) == ((na, nb)), s"$typ arms")
        assert(gp == r6(pHat), s"$typ p_hat")
        if (den > 0.0) assert(gw.contains(num / den), s"$typ w_bm")
        else assert(gw.isEmpty)
      }
    }
    assert(got.size == 5)
  }

  test("w77_rolling_entropy matches a brute window recompute") {
    val got = SparkEntry.queries("w77_rolling_entropy")(
      spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val types = Seq("click", "error", "purchase", "signup", "view")
    var checked = 0
    for ((_, evs) <- events.groupBy(_._1)) {
      val ord = evs.sortBy(e => (e._2, e._3))
      for (i <- ord.indices) {
        val win = ord.slice(math.max(0, i - 7), i + 1)
        val k = win.length.toLong
        // pinned type order: the fixed five-term chain
        var h = 0.0
        for (t <- types) {
          val c = win.count(_._5 == t).toLong
          if (c > 0) {
            val f = c.toDouble / k.toDouble
            h += -f * math.log(f)
          } else h += 0.0
        }
        val (gk, gh) = got(ord(i)._3)
        assert(gk == k, s"event ${ord(i)._3} k")
        assert(gh == r6(h), s"event ${ord(i)._3} entropy")
        checked += 1
      }
    }
    assert(checked > 500)
  }
}
