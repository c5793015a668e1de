package graft

import org.apache.spark.sql.functions._


/** Brute-force twins for batch 68 (Anderson-Darling 2-sample,
  * Somers' D, Cliff's delta / Vargha-Delaney A) on sf0.001. */
class Curation68Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val events = graft.io.Tables.eventsUs(spark, dir)
    .select(col("event_type"), col("user_id"), col("value")).collect()
    .map(r => (r.getString(0), r.getLong(1) % 2 == 0,
      math.round(r.getDouble(2) * 100)))

  test("a114_ad2 matches a brute Scholz-Stephens recompute") {
    val got = SparkEntry.queries("a114_ad2")(spark, dir)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    for ((tp, evs) <- events.groupBy(_._1)) {
      val a = evs.filter(_._2).map(_._3).sorted
      val b = evs.filterNot(_._2).map(_._3).sorted
      val na = a.length.toLong; val nb = b.length.toLong
      if (na >= 1 && nb >= 1) {
        val n = na + nb
        val support = (a ++ b).distinct.sorted
        var sa = 0.0; var sb = 0.0
        for (v <- support) {
          val bj = (a.count(_ <= v) + b.count(_ <= v)).toLong
          if (bj < n) {
            val l = (a.count(_ == v) + b.count(_ == v)).toLong
            def term(m: Long, nArm: Long) = {
              val num = (n * m - nArm * bj).toDouble
              l.toDouble * num * num / (bj * (n - bj)).toDouble
            }
            sa += term(a.count(_ <= v).toLong, na)
            sb += term(b.count(_ <= v).toLong, nb)
          }
        }
        val exp = (sa / na + sb / nb) / n
        val (gna, gnb, gsup, gA2) = got(tp)
        assert((gna, gnb) == ((na, nb)), s"$tp arms")
        assert(gsup == support.length.toLong, s"$tp support")
        assert(math.abs(gA2 - exp) < 1e-9, s"$tp a2: $gA2 vs $exp")
      }
    }
    // distribution sanity: identical arms would give A2 near 1 under
    // H0; the synthetic arms are iid so the statistic must be finite
    got.values.foreach { case (_, _, _, a2) => assert(!a2.isNaN) }
  }

  test("a115_somers_d matches a brute pair count") {
    val rows = graft.queries.Q.orders(spark, dir)
      .select(substring(col("o_orderpriority"), 1, 1).cast("long"),
        quarter(col("o_orderdate")).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var c = 0L; var d = 0L
    for (i <- rows.indices; j <- rows.indices if i < j) {
      val ((x1, y1), (x2, y2)) = (rows(i), rows(j))
      if (x1 != x2) {
        if ((x2 - x1) * (y2 - y1) > 0) c += 1
        else if ((x2 - x1) * (y2 - y1) < 0) d += 1
      }
    }
    val n = rows.length.toLong
    val pairsX = (n * n - rows.groupBy(_._1).values
      .map(g => g.length.toLong * g.length).sum) / 2
    val pairsY = (n * n - rows.groupBy(_._2).values
      .map(g => g.length.toLong * g.length).sum) / 2
    val r = SparkEntry.queries("a115_somers_d")(spark, dir)
      .collect().head
    assert(r.getLong(0) == n)
    assert(r.getLong(1) == c, s"C: ${r.getLong(1)} vs $c")
    assert(r.getLong(2) == d, s"D: ${r.getLong(2)} vs $d")
    assert(math.abs(r.getDouble(3) - (c - d).toDouble / pairsX) < 1e-12)
    assert(math.abs(r.getDouble(4) - (c - d).toDouble / pairsY) < 1e-12)
  }

  test("a116_cliffs_delta matches brute dominance counts") {
    val got = SparkEntry.queries("a116_cliffs_delta")(
      spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6),
        r.getDouble(7))).toMap
    for ((tp, evs) <- events.groupBy(_._1)) {
      val a = evs.filter(_._2).map(_._3)
      val b = evs.filterNot(_._2).map(_._3)
      if (a.nonEmpty && b.nonEmpty) {
        var gt = 0L; var lt = 0L; var tie = 0L
        for (x <- a; y <- b) {
          if (x > y) gt += 1 else if (x < y) lt += 1 else tie += 1
        }
        val nm = a.length.toLong * b.length
        val (gna, gnb, ggt, glt, gtie, gdelta, gvda) = got(tp)
        assert((gna, gnb) == ((a.length.toLong, b.length.toLong)))
        assert((ggt, glt, gtie) == ((gt, lt, tie)), s"$tp counts")
        assert(math.abs(gdelta - (gt - lt).toDouble / nm) < 1e-12)
        assert(math.abs(gvda - (2 * gt + tie).toDouble / (2 * nm)) < 1e-12)
      }
    }
  }
}
