package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 59 (association coefficients) on
  * sf0.001: recompute Cramér's V, Theil's U and Goodman-Kruskal gamma
  * from the raw orders rows in driver-side Scala and compare.
  */
class Curation59Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // o_orderdate is parquet TIMESTAMP_NTZ -> java.time.LocalDateTime
  private lazy val rows = graft.queries.Q.orders(spark, dir)
    .select(col("o_orderstatus"), col("o_orderpriority"),
      col("o_orderdate")).collect()
    .map(r => (r.getString(0), r.getString(1),
      r.getAs[java.time.LocalDateTime](2)))

  test("a106_cramers_v matches a brute contingency recompute") {
    val got = SparkEntry.queries("a106_cramers_v")(
      spark, dir).collect().head
    val cells = rows.groupBy(r => (r._1, r._2)).map { case (k, v) =>
      k -> v.length.toLong }
    val n = rows.length.toLong
    val rt = cells.groupBy(_._1._1).map { case (k, v) => k -> v.values.sum }
    val ct = cells.groupBy(_._1._2).map { case (k, v) => k -> v.values.sum }
    // pinned (st, pr) fold order, same as sort_array
    var chi2 = 0.0
    for (((st, pr), obs) <- cells.toSeq.sortBy(_._1)) {
      val e = (rt(st) * ct(pr)).toDouble / n.toDouble
      val dev = obs.toDouble - e
      chi2 += dev * dev / e
    }
    val r = rt.size.toLong
    val c = ct.size.toLong
    assert(got.getLong(0) == n)
    assert(got.getLong(1) == r && got.getLong(2) == c)
    assert(got.getDouble(3) == r6(chi2), "chi2")
    assert(got.getDouble(4) ==
      r6(math.sqrt(chi2 / (n * math.min(r - 1, c - 1)).toDouble)), "v")
  }

  test("a107_theil_u matches a brute entropy recompute") {
    val got = SparkEntry.queries("a107_theil_u")(
      spark, dir).collect().head
    val cells = rows.groupBy(r => (r._1, r._2)).map { case (k, v) =>
      k -> v.length.toLong }
    val n = rows.length.toLong
    def h(ms: Seq[Long]): Double =
      math.log(n.toDouble) -
        ms.map(m => m.toDouble * math.log(m.toDouble)).foldLeft(0.0)(_ + _) /
          n.toDouble
    val hSt = h(cells.groupBy(_._1._1).toSeq.sortBy(_._1)
      .map(_._2.values.sum))
    val hPr = h(cells.groupBy(_._1._2).toSeq.sortBy(_._1)
      .map(_._2.values.sum))
    val hJ = h(cells.toSeq.sortBy(_._1).map(_._2))
    val mi = math.max(0.0, hSt + hPr - hJ)
    assert(got.getLong(0) == n)
    assert(got.getDouble(1) == r6(hSt), "h_status")
    assert(got.getDouble(2) == r6(hPr), "h_priority")
    assert(got.getDouble(3) == r6(hJ), "h_joint")
    assert(got.getDouble(4) == r6(mi), "mi")
    assert(got.getDouble(5) == r6(mi / hSt), "u st|pr")
    assert(got.getDouble(6) == r6(mi / hPr), "u pr|st")
  }

  test("a108_gk_gamma matches brute pair counting") {
    val got = SparkEntry.queries("a108_gk_gamma")(
      spark, dir).collect().head
    val pts = rows.map { case (_, pr, d) =>
      (pr.substring(0, 1).toLong, (d.getMonthValue - 1) / 3 + 1L)
    }
    var cP = 0L; var dP = 0L
    for (i <- pts.indices; j <- (i + 1) until pts.length) {
      val (a, b) = (pts(i), pts(j))
      if (a._1 != b._1 && a._2 != b._2) {
        if ((a._1 < b._1) == (a._2 < b._2)) cP += 1 else dP += 1
      }
    }
    assert(got.getLong(0) == cP, "concordant")
    assert(got.getLong(1) == dP, "discordant")
    assert(got.getDouble(2) ==
      r6((cP - dP).toDouble / (cP + dP).toDouble), "gamma")
  }
}
