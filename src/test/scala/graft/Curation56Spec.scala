package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 56 (driver-side replays of the exact
  * integer lattices). g21 bruteforces on sf0.01 (sf0.001's co-supply
  * graph is empty — asserted); the others on sf0.001. */
class Curation56Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("g21_eigencentrality matches a brute power-iteration replay") {
    assert(SparkEntry.queries("g21_eigencentrality")(
      spark, dir).count() == 0)
    val d01 = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("g21_eigencentrality")(
      spark, d01).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sn = graft.queries.Q.supplier(spark, d01)
      .select(col("s_suppkey").cast("long"), col("s_nationkey"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val li = graft.queries.Q.lineitem(spark, d01)
      .select(col("l_orderkey"), col("l_suppkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { xs =>
      val sks = xs.map(_._2).toSeq.distinct
      for (x <- sks; y <- sks if x < y && sn(x) == sn(y)) yield (x, y)
    }.toSet
    val adj = (edges.toSeq.map(e => (e._1, e._2)) ++
      edges.toSeq.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var x: Map[Long, Long] = adj.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 6) {
      val inc = adj.map { case (n, nbrs) => n -> nbrs.map(x).sum }
      val mx = inc.values.max
      x = inc.map { case (n, v) => n -> v * 1000000L / mx }
    }
    assert(got.size == x.size)
    for ((n, v) <- x) assert(got(n) == v, s"node $n")
    assert(x.values.max == 1000000L, "renormalized max")
  }

  test("a104_kuiper matches the brute two-sample recompute") {
    val rows = graft.queries.Q.events(spark, dir)
      .filter(col("event_type").isin("view", "click"))
      .select(round(col("value") * 100).cast("long"),
        (col("event_type") === "view").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val na = rows.count(_._2 == 1).toLong
    val nb = rows.length - na
    val lattice = rows.map(_._1).distinct.sorted
    var dp = Long.MinValue; var dm = Long.MinValue
    for (c <- lattice) {
      val ca = rows.count(t => t._2 == 1 && t._1 <= c).toLong
      val cb = rows.count(t => t._2 == 0 && t._1 <= c).toLong
      dp = math.max(dp, ca * nb - cb * na)
      dm = math.max(dm, cb * na - ca * nb)
    }
    val r = SparkEntry.queries("a104_kuiper")(
      spark, dir).collect()(0)
    assert(r.getLong(0) == na && r.getLong(1) == nb)
    assert(r.getLong(2) == dp && r.getLong(3) == dm)
    assert(r.getDouble(4) == (dp + dm).toDouble / (na * nb).toDouble)
    // V dominates one-sided KS by construction
    assert(r.getDouble(4) >= dp.toDouble / (na * nb).toDouble)
  }

  test("w71_xbar_chart matches the brute 3-sigma banding") {
    val rows = graft.io.Tables.eventsUs(spark, dir)
      .select(col("ts_us"), round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getLong(0) / 86400000000L, r.getLong(1)))
    val nn = rows.length.toLong
    val ss = rows.map(_._2).sum
    val qq = rows.map(t => BigInt(t._2) * t._2).sum
    val byDay = rows.groupBy(_._1)
    val got = SparkEntry.queries("w71_xbar_chart")(
      spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4))).toMap
    assert(got.size == byDay.size)
    for ((day, xs) <- byDay) {
      val n = xs.length.toLong
      val s = xs.map(_._2).sum
      val dev = BigInt(s) * nn - BigInt(ss) * n
      val ooc = if (dev * dev > (qq * nn - BigInt(ss) * ss) * 9 * n) 1L
        else 0L
      val (gn, gx, gc, gf) = got(day)
      assert(gn == n && gf == ooc, s"day $day")
      assert(gx == s.toDouble / n.toDouble)
      assert(gc == ss.toDouble / nn.toDouble)
    }
  }
}
