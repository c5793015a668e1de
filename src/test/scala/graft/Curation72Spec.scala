package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 72 (pseudo-diameter, VIF,
  * Mahalanobis) on sf0.001. */
class Curation72Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("g23_pseudo_diameter matches a brute double-sweep") {
    val li = graft.queries.Q.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    for ((_, sks) <- li.groupBy(_._1); a <- sks.map(_._2);
         b <- sks.map(_._2) if a != b)
      adj(a) = adj(a) + b
    def bfs(seed: Long): Map[Long, Int] = {
      var dist = Map(seed -> 0)
      var frontier = Set(seed)
      for (h <- 1 to 4) {
        frontier = frontier.flatMap(adj).diff(Set.empty)
        // distances keep the FIRST (minimum) hop like the union+min
        frontier.foreach(n =>
          if (!dist.contains(n) || dist(n) > h) dist += n -> math.min(
            dist.getOrElse(n, h), h))
      }
      dist
    }
    val start = adj.toSeq.map { case (n, ns) => (ns.size.toLong, n) }
      .maxBy(t => (t._1, -t._2))._2
    val d1 = bfs(start)
    val ecc1 = d1.values.max
    val far = d1.toSeq.maxBy(t => (t._2, -t._1))._1
    val d2 = bfs(far)
    val r = SparkEntry.queries("g23_pseudo_diameter")(
      spark, dir).collect().head
    assert(r.getLong(0) == start, s"start ${r.getLong(0)} vs $start")
    assert(r.getLong(1) == ecc1.toLong)
    assert(r.getLong(2) == d1.size.toLong)
    assert(r.getLong(3) == far, s"far ${r.getLong(3)} vs $far")
    assert(r.getLong(4) == d2.values.max.toLong)
    assert(r.getLong(5) == d2.size.toLong)
    assert(r.getLong(4) >= ecc1.toLong) // double sweep never shrinks
  }

  test("m59_vif matches a brute correlation-inverse recompute") {
    val rows = graft.queries.Q.lineitem(spark, dir)
      .select(col("l_quantity").cast("long"),
        round(col("l_discount") * 100).cast("long"),
        round(col("l_tax") * 100).cast("long"))
      .collect().map(r => Array(r.getLong(0).toDouble,
        r.getLong(1).toDouble, r.getLong(2).toDouble))
    val n = rows.length
    def corr(i: Int, j: Int): Double = {
      val xi = rows.map(_(i)); val xj = rows.map(_(j))
      val mi = xi.sum / n; val mj = xj.sum / n
      val cov = xi.zip(xj).map { case (a, b) => (a - mi) * (b - mj) }.sum
      val vi = xi.map(a => (a - mi) * (a - mi)).sum
      val vj = xj.map(a => (a - mj) * (a - mj)).sum
      cov / math.sqrt(vi * vj)
    }
    val (r12, r13, r23) = (corr(0, 1), corr(0, 2), corr(1, 2))
    val det = 1.0 * (1 - r23 * r23) - r12 * (r12 - r13 * r23) +
      r13 * (r12 * r23 - r13)
    val exp = Seq((1 - r23 * r23) / det, (1 - r13 * r13) / det,
      (1 - r12 * r12) / det)
    val r = SparkEntry.queries("m59_vif")(spark, dir)
      .collect().head
    assert(r.getLong(0) == n.toLong)
    assert(math.abs(r.getDouble(1) - r12) < 1e-9)
    assert(math.abs(r.getDouble(2) - r13) < 1e-9)
    assert(math.abs(r.getDouble(3) - r23) < 1e-9)
    for (k <- 0 until 3)
      assert(math.abs(r.getDouble(4 + k) - exp(k)) < 1e-9,
        s"vif$k: ${r.getDouble(4 + k)} vs ${exp(k)}")
    // near-independent synthetic features → VIF ≈ 1
    for (k <- 0 until 3) assert(r.getDouble(4 + k) > 0.9 &&
      r.getDouble(4 + k) < 5.0)
  }

  test("m60_mahalanobis matches a brute joint-outlier recompute") {
    val rows = graft.io.Tables.eventsUs(spark, dir)
      .select(col("event_id"), round(col("value") * 100).cast("long"),
        expr("(ts_us DIV 3600000000) % 24"))
      .collect().map(r => (r.getLong(0), r.getLong(1).toDouble,
        r.getLong(2).toDouble))
    val n = rows.length
    val mx = rows.map(_._2).sum / n; val mh = rows.map(_._3).sum / n
    def c(f: ((Long, Double, Double)) => Double,
          g: ((Long, Double, Double)) => Double) =
      rows.map(r => (f(r) - (if (f == g) 0.0 else 0.0))).zip(rows)
        .map { case (_, r) => (f(r) - mean(f)) * (g(r) - mean(g)) }
        .sum / (n - 1)
    def mean(f: ((Long, Double, Double)) => Double) =
      rows.map(f).sum / n
    val cxx = c(_._2, _._2); val chh = c(_._3, _._3); val cxh = c(_._2, _._3)
    val det = cxx * chh - cxh * cxh
    val md = rows.map { r =>
      val dx = r._2 - mx; val dy = r._3 - mh
      (r._1, (chh * dx * dx - 2 * cxh * dx * dy + cxx * dy * dy) / det)
    }
    val exp = md.sortBy(t => (-t._2, t._1)).take(20)
    val got = SparkEntry.queries("m60_mahalanobis")(
      spark, dir).collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(got.length == 20)
    got.zip(exp).foreach { case ((gid, gmd), (eid, emd)) =>
      assert(gid == eid, s"row: $gid vs $eid")
      assert(math.abs(gmd - emd) < 1e-6 * emd, s"md2 $gmd vs $emd")
    }
  }
}
