package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 77 (KS statistic, median polish, max
  * drawdown) on sf0.001. */
class Curation77Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("m64_ks_stat matches a brute CDF-gap recompute") {
    val rows = graft.queries.Q.events(spark, dir)
      .select(((col("event_id") * 37) % 101).cast("long"),
        when(col("event_id") % 3 === 0, 1L).otherwise(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pos = rows.count(_._2 == 1L).toLong
    val neg = rows.length - pos
    val gaps = (0L to 100L).map { k =>
      val cp = rows.count(r => r._1 <= k && r._2 == 1L).toLong
      val cn = rows.count(r => r._1 <= k && r._2 == 0L).toLong
      k -> math.abs(cp * neg - cn * pos)
    }
    val mx = gaps.map(_._2).max
    val cut = gaps.filter(_._2 == mx).map(_._1).min
    val r = SparkEntry.queries("m64_ks_stat")(spark, dir)
      .collect().head
    assert(r.getLong(0) == pos && r.getLong(1) == neg)
    assert(r.getLong(2) == cut, s"cut ${r.getLong(2)} vs $cut")
    assert(math.abs(r.getDouble(3) - mx.toDouble / (pos * neg)) < 1e-12)
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
  }

  test("a122_median_polish sweeps reconstruct and residuals center") {
    val got = SparkEntry.queries("a122_median_polish")(
      spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.nonEmpty)
    // decomposition must reconstruct: cents = row_eff + col_eff +
    // residual for every cell (overall effect folded into row_eff)
    // -- NOT true for median polish (no exact additivity), but the
    // SWEEP invariant is: after the final column sweep, the median
    // of residuals within every column is 0 (and near-0 by row).
    for ((dow, cells) <- got.toSeq.groupBy(_._1._2)) {
      val res = cells.map(_._2._4).sorted
      val med = res((res.length - 1) / 2)
      assert(med == 0L, s"dow $dow residual median: $med")
    }
    // the polish is exactly reproducible from raw cells: replay
    val cents = got.map { case ((t, d), v) => (t, d, v._1) }.toSeq
    def med(xs: Seq[Long]): Long = xs.sorted.apply((xs.length - 1) / 2)
    var resid = cents.map { case (t, d, c) => (t, d) -> c }.toMap
    val rowEff = scala.collection.mutable.Map[String, Long]()
      .withDefaultValue(0L)
    val colEff = scala.collection.mutable.Map[Long, Long]()
      .withDefaultValue(0L)
    val types = cents.map(_._1).distinct.sorted
    val dows = cents.map(_._2).distinct.sorted
    for (_ <- 1 to 2) {
      for (t <- types) {
        val m = med(dows.flatMap(d => resid.get((t, d))))
        rowEff(t) += m
        dows.foreach(d => resid.get((t, d)).foreach(v =>
          resid += (t, d) -> (v - m)))
      }
      for (d <- dows) {
        val m = med(types.flatMap(t => resid.get((t, d))))
        colEff(d) += m
        types.foreach(t => resid.get((t, d)).foreach(v =>
          resid += (t, d) -> (v - m)))
      }
    }
    got.foreach { case ((t, d), (_, re, ce, r)) =>
      assert(re == rowEff(t) && ce == colEff(d) && r == resid((t, d)),
        s"cell ($t,$d)")
    }
  }

  test("w86_drawdown matches a brute prefix-max recompute") {
    val daily = graft.io.Tables.eventsUs(spark, dir)
      .select(expr("ts_us DIV 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("day").agg(sum("c").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var cum = 0L; var rm = Long.MinValue
    val exp = daily.map { case (day, c) =>
      cum += c; rm = math.max(rm, cum)
      (day, c, cum, rm, rm - cum)
    }
    val got = SparkEntry.queries("w86_drawdown")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(got.toSeq == exp.toSeq)
  }
}
