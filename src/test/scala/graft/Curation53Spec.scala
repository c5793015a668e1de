package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 53 on sf0.001 (driver-side, same
  * pinned fold order as the distributed plans). */
class Curation53Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def cents(): Array[(String, Long)] =
    graft.queries.Q.lineitem(spark, dir)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))

  private def anovaBrute(rows: Array[(String, Long)]): (Long, Long, Double, Double) = {
    val gs = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, xs) =>
      val n = xs.length.toLong
      val sv = xs.map(_._2).sum
      val qv = xs.map(x => BigInt(x._2) * x._2).sum
      (g, n, sv, qv)
    }
    val k = gs.length.toLong
    val nTot = gs.map(_._2).sum
    val sTot = gs.map(_._3).sum
    val ssbRaw = gs.foldLeft(0.0) { case (a, (_, n, sv, _)) =>
      a + (BigInt(sv) * sv).toDouble / n.toDouble }
    val ssw = gs.foldLeft(0.0) { case (a, (_, n, sv, qv)) =>
      a + (qv * n - BigInt(sv) * sv).toDouble / n.toDouble }
    val ssb = ssbRaw - (BigInt(sTot) * sTot).toDouble / nTot.toDouble
    val f = (ssb / (k - 1).toDouble) / (ssw / (nTot - k).toDouble)
    (nTot, k, f, ssb / (ssb + ssw))
  }

  private def med2Of(xs: Seq[Long]): Long = {
    val s = xs.sorted
    val n = s.length
    s((n - 1) / 2) + s(n / 2)
  }

  test("a98_anova_f matches the brute one-way ANOVA") {
    val r = SparkEntry.queries("a98_anova_f")(spark, dir)
      .collect()(0)
    val (n, k, f, eta2) = anovaBrute(cents())
    assert(r.getLong(0) == n && r.getLong(1) == k)
    assert(r.getDouble(2) == f, "F must be bit-identical to the pinned fold")
    assert(r.getDouble(3) == eta2)
    assert(f > 0.0 && eta2 >= 0.0 && eta2 < 1.0)
  }

  test("a99_levene_bf matches brute Brown-Forsythe on |y - group median|") {
    val rows = cents()
    val meds = rows.groupBy(_._1).map { case (g, xs) =>
      g -> med2Of(xs.map(_._2).toSeq) }
    val z = rows.map { case (g, y) => (g, math.abs(2 * y - meds(g))) }
    val (n, k, f, eta2) = anovaBrute(z)
    val r = SparkEntry.queries("a99_levene_bf")(spark, dir)
      .collect()(0)
    assert(r.getLong(0) == n && r.getLong(1) == k)
    assert(r.getDouble(2) == f && r.getDouble(3) == eta2)
  }

  test("a100_jarque_bera matches the brute moment recompute") {
    val ys = cents().map(_._2)
    val n = ys.length.toLong
    val sy = ys.sum
    val mu0 = sy / n; val rr = sy % n
    val d = ys.map(_ - mu0)
    val sd = d.sum
    val sd2 = d.map(x => BigInt(x) * x).sum
    val sd3 = d.map(x => BigInt(x) * x * x).sum
    val sd4 = d.map(x => BigInt(x) * x * x * x).sum
    val nd = n.toDouble; val de = rr.toDouble / nd
    val m2 = (sd2.toDouble - 2.0 * de * sd.toDouble + nd * de * de) / nd
    val m3 = (sd3.toDouble - 3.0 * de * sd2.toDouble +
      3.0 * de * de * sd.toDouble - nd * de * de * de) / nd
    val m4 = (sd4.toDouble - 4.0 * de * sd3.toDouble +
      6.0 * de * de * sd2.toDouble - 4.0 * de * de * de * sd.toDouble +
      nd * de * de * de * de) / nd
    val skew = m3 / (math.sqrt(m2) * math.sqrt(m2) * math.sqrt(m2))
    val kurtEx = m4 / (m2 * m2) - 3.0
    val jb = nd * (skew * skew / 6.0 + kurtEx * kurtEx / 24.0)
    val r = SparkEntry.queries("a100_jarque_bera")(
      spark, dir).collect()(0)
    assert(r.getLong(0) == n)
    assert(r.getDouble(1) == skew && r.getDouble(2) == kurtEx &&
      r.getDouble(3) == jb)
  }

  test("a101_mood_median matches the brute 2xk median table") {
    val rows = cents()
    val med2 = med2Of(rows.map(_._2).toSeq)
    val tab = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, xs) =>
      (g, xs.count(x => 2 * x._2 > med2).toLong,
        xs.count(x => 2 * x._2 < med2).toLong)
    }
    val ta = tab.map(_._2).sum; val tb = tab.map(_._3).sum
    val t = ta + tb
    val chi2 = tab.foldLeft(0.0) { case (a, (_, ab, be)) =>
      val ea = (ab + be).toDouble * ta.toDouble / t.toDouble
      val eb = (ab + be).toDouble * tb.toDouble / t.toDouble
      // per-group term FIRST (the query's `t` column), then a + term —
      // a + p + q would associate differently and drift 1 ulp
      val term = (ab.toDouble - ea) * (ab.toDouble - ea) / ea +
        (be.toDouble - eb) * (be.toDouble - eb) / eb
      a + term
    }
    val r = SparkEntry.queries("a101_mood_median")(
      spark, dir).collect()(0)
    assert(r.getLong(0) == t, "tie-free n")
    assert(r.getLong(1) == tab.length - 1)
    assert(r.getDouble(2) == chi2)
  }
}
