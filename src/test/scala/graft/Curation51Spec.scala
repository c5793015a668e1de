package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 51: each statistic recomputed from
  * first principles on the sf0.001 events (driver-side, same pinned
  * fold order) — the distributed query must agree exactly on every
  * integer and to the rounded 6th decimal on the one double tail. */
class Curation51Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rows() =
    graft.io.Tables.eventsUs(spark, dir)
      .select(col("event_type"), col("event_id"), col("user_id"),
        col("ts_us"), round(col("value") * 100).cast("long").as("c"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))

  test("a96_grubbs matches a brute-force recompute per event_type") {
    val got = SparkEntry.queries("a96_grubbs")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    val byType = rows().groupBy(_._1)
    assert(got.keySet == byType.keySet.filter(t => byType(t).length >= 3))
    byType.foreach { case (t, xs) =>
      val n = xs.length.toLong
      if (n >= 3) {
        val cs = xs.map(_._5)
        val sc = cs.sum
        val scc = cs.map(c => BigInt(c) * c).sum
        val num = BigInt(n) * scc - BigInt(sc) * sc
        // argmax of |n·c − Σc| with smallest event_id tiebreak
        val withDev = xs.map(x => (((BigInt(x._5) * n) - sc).abs, x._2))
        val maxd = withDev.map(_._1).max
        val argId = withDev.filter(_._1 == maxd).map(_._2).min
        val g = maxd.toDouble / (n.toDouble *
          math.sqrt(num.toDouble / (n.toDouble * (n.toDouble - 1.0))))
        val (gn, gg, gid) = got(t)
        assert(gn == n, s"$t n")
        assert(gid == argId, s"$t argmax id")
        assert(approx(gg, BigDecimal(g).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble, 1e-9),
          s"$t G $gg vs brute $g")
      }
    }
  }

  test("a97_dw matches a brute-force recompute per user") {
    val got = SparkEntry.queries("a97_dw")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    rows().groupBy(_._3).foreach { case (u, xs) =>
      val ordered = xs.sortBy(x => (x._4, x._2)).map(_._5)
      val n = ordered.length.toLong
      val sc = ordered.sum
      val scc = ordered.map(c => BigInt(c) * c).sum
      val num = BigInt(n) * scc - BigInt(sc) * sc
      if (n >= 3 && num > 0) {
        val sdd = ordered.sliding(2).map(p =>
          BigInt(p(1) - p(0)) * (p(1) - p(0))).foldLeft(BigInt(0))(_ + _)
        val dw = (n.toDouble * sdd.toDouble) / num.toDouble
        assert(got(u)._1 == n, s"user $u n")
        assert(approx(got(u)._2, BigDecimal(dw).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble, 1e-9),
          s"user $u dw ${got(u)._2} vs brute $dw")
        // DW lives in [0, 4] by Cauchy–Schwarz
        assert(got(u)._2 >= 0.0 && got(u)._2 <= 4.0)
      } else assert(!got.contains(u))
    }
  }
}
