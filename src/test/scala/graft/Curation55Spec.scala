package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 55 on sf0.001 (driver-side, same
  * pinned op order as the distributed plans). */
class Curation55Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("a102_chatterjee_xi matches the brute tie-aware recompute") {
    val rows = graft.queries.Q.lineitem(spark, dir)
      .select(col("l_quantity").cast("long"),
        round(col("l_extendedprice") * 100).cast("long"),
        col("l_orderkey"), col("l_linenumber").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = rows.length.toLong
    val ys = rows.map(_._2).sorted
    def countLE(y: Long): Long = {
      var lo = 0; var hi = ys.length
      while (lo < hi) { val m = (lo + hi) / 2
        if (ys(m) <= y) lo = m + 1 else hi = m }
      lo.toLong
    }
    def countLT(y: Long): Long = {
      var lo = 0; var hi = ys.length
      while (lo < hi) { val m = (lo + hi) / 2
        if (ys(m) < y) lo = m + 1 else hi = m }
      lo.toLong
    }
    val seq = rows.sortBy(t => (t._1, t._3, t._4, t._2))
    val rs = seq.map(t => countLE(t._2))
    val ls = seq.map(t => n - countLT(t._2))
    val sad = (0 until seq.length - 1)
      .map(i => BigInt((rs(i + 1) - rs(i)).abs)).sum
    val sl = ls.map(l => BigInt(l) * (n - l)).sum
    val xi = 1.0 - (sad * n).toDouble / (sl * 2).toDouble
    val r = SparkEntry.queries("a102_chatterjee_xi")(
      spark, dir).collect()(0)
    assert(r.getLong(0) == n)
    assert(r.getDouble(1) == xi, s"xi ${r.getDouble(1)} vs $xi")
    assert(xi > -1.0 && xi < 1.0)
  }

  test("a103_bartels_rvn matches the brute rank von Neumann ratio") {
    val rows = graft.io.Tables.eventsUs(spark, dir)
      .select(col("ts_us"), col("event_id"),
        round(col("value") * 100).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = rows.length.toLong
    val cs = rows.map(_._3).sorted
    def below(c: Long): Long = {
      var lo = 0; var hi = cs.length
      while (lo < hi) { val m = (lo + hi) / 2
        if (cs(m) < c) lo = m + 1 else hi = m }
      lo.toLong
    }
    def ties(c: Long): Long = {
      var lo = 0; var hi = cs.length
      while (lo < hi) { val m = (lo + hi) / 2
        if (cs(m) <= c) lo = m + 1 else hi = m }
      lo.toLong - below(c)
    }
    val seq = rows.sortBy(t => (t._1, t._2))
      .map(t => 2 * below(t._3) + ties(t._3) + 1)
    val sdd = (0 until seq.length - 1)
      .map(i => BigInt(seq(i + 1) - seq(i)) * (seq(i + 1) - seq(i))).sum
    val s2 = seq.map(v => BigInt(v) * v).sum
    val s1 = seq.sum
    val rvn = (sdd * n).toDouble /
      (s2 * n - BigInt(s1) * s1).toDouble
    val r = SparkEntry.queries("a103_bartels_rvn")(
      spark, dir).collect()(0)
    assert(r.getLong(0) == n)
    assert(r.getDouble(1) == rvn, s"rvn ${r.getDouble(1)} vs $rvn")
    // randomness sanity: a shuffled series sits near 2
    assert(rvn > 1.0 && rvn < 3.0)
  }

  test("m53_pr_auc matches the brute binned average precision") {
    val rows = graft.queries.Q.events(spark, dir)
      .select(round(col("value") * 100).cast("long"),
        col("event_type").isin("purchase", "signup").cast("long"))
      .collect().map(r => (r.getLong(0) / 1000, r.getLong(1)))
    val n = rows.length.toLong
    val p = rows.map(_._2).sum
    val bins = rows.groupBy(_._1).map { case (b, xs) =>
      (b, xs.length.toLong, xs.map(_._2).sum) }
      .toSeq.sortBy(-_._1)
    var tpc = 0L; var cc = 0L
    var ap = 0.0
    for ((_, cnt, pos) <- bins) {
      tpc += pos; cc += cnt
      val term = (pos.toDouble / p.toDouble) *
        (tpc.toDouble / cc.toDouble)
      ap += term
    }
    val r = SparkEntry.queries("m53_pr_auc")(
      spark, dir).collect()(0)
    assert(r.getLong(0) == n && r.getLong(1) == p)
    assert(r.getDouble(2) == ap, s"ap ${r.getDouble(2)} vs $ap")
    assert(ap > 0.0 && ap <= 1.0)
  }
}
