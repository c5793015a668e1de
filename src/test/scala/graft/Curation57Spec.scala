package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 57 on sf0.001. */
class Curation57Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("a105_page_trend matches the brute block-rank recompute") {
    val cells = graft.queries.Q.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long"))
      .collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
      .groupBy(_._1)
      .map { case ((u, g), xs) =>
        (u, g) -> (xs.map(_._2).sum, xs.length.toLong) }
    val types = cells.keys.map(_._2).toSet.toSeq.sorted
    val k = types.length
    val complete = cells.keys.map(_._1).toSeq.distinct
      .filter(u => types.forall(g => cells.contains((u, g))))
    var l2 = 0L
    for ((g, idx) <- types.zipWithIndex) {
      var r2j = 0L
      for (u <- complete) {
        val (sa, na) = cells((u, g))
        var lt = 0L; var eq = 0L
        for (g2 <- types) {
          val (sb, nb) = cells((u, g2))
          if (sb * na < sa * nb) lt += 1
          else if (sb * na == sa * nb) eq += 1
        }
        r2j += lt * 2 + eq + 1
      }
      l2 += (idx + 1).toLong * r2j
    }
    val n = complete.length.toLong
    val nd = n.toDouble; val kd = k.toDouble
    val z = (l2.toDouble / 2.0 - nd * kd * (kd + 1.0) * (kd + 1.0) / 4.0) /
      math.sqrt(nd * kd * kd * (kd + 1.0) * (kd * kd - 1.0) / 144.0)
    val r = SparkEntry.queries("a105_page_trend")(
      spark, dir).collect()(0)
    assert(r.getLong(0) == n && r.getLong(1) == k.toLong)
    assert(r.getLong(2) == l2)
    assert(r.getDouble(3) == z)
  }

  test("w72_holt_winters matches an independent recursion replay") {
    val got = SparkEntry.queries("w72_holt_winters")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .sortBy(_._1)
    val counts = graft.io.Tables.eventsUs(spark, dir)
      .select(expr("ts_us DIV 86400000000").as("day"))
      .groupBy("day").agg(count(lit(1)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d0 = counts.keys.min; val d1 = counts.keys.max
    val ys = (d0 to d1).map(d => counts.getOrElse(d, 0L))
    assert(got.length == ys.length)
    var lvl = ys(0).toDouble; var trd = 0.0
    val sea = Array.fill(7)(0.0)
    for (t <- ys.indices) {
      val j = t % 7
      val fitted = lvl + trd + sea(j)
      val l2 = (ys(t).toDouble - sea(j)) / 2.0 + (lvl + trd) / 2.0
      trd = (l2 - lvl) / 2.0 + trd / 2.0
      lvl = l2
      sea(j) = (ys(t).toDouble - lvl) / 2.0 + sea(j) / 2.0
      val (gd, gx, gf, gl, gt, gs) = got(t)
      assert(gd == d0 + t && gx == ys(t))
      assert(gf == fitted && gl == lvl && gt == trd && gs == sea(j),
        s"t=$t")
    }
    // state sanity: the level is a convex-ish blend of observations —
    // it must stay inside [min, max] of the series after the seed,
    // and every emitted value must be finite
    val lo = ys.min.toDouble; val hi = ys.max.toDouble
    for ((_, _, gf, gl, gt, gs) <- got) {
      assert(!gf.isNaN && !gl.isNaN && !gt.isNaN && !gs.isNaN)
      assert(gl >= lo - (hi - lo) && gl <= hi + (hi - lo), s"level $gl")
    }
  }
}
