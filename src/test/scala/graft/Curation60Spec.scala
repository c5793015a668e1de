package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 60 (Katz, Hill, Qini) on sf0.001. */
class Curation60Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("g22_katz matches brute path counting") {
    val got = SparkEntry.queries("g22_katz")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    // brute: adjacency from the same bipartite pairs
    val li = graft.queries.Q.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ok2cust = graft.queries.Q.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val pairs = li.flatMap { case (ok, sk) =>
      ok2cust.get(ok).map(c => (c, sk + 1000000000L)) }.distinct
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var x: Map[Long, Long] = adj.keys.map(_ -> 1L).toMap
    val rounds = (1 to 4).map { _ =>
      val nx = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      for ((u, p) <- x; v <- adj(u)) nx(v) += p
      x = nx.toMap
      x
    }
    assert(got.size == adj.size)
    for (node <- adj.keys) {
      val (p1, p2, p3, p4, k4096) = got(node)
      assert(p1 == rounds(0)(node), s"p1 at $node")
      assert(p2 == rounds(1)(node) && p3 == rounds(2)(node) &&
        p4 == rounds(3)(node), s"paths at $node")
      assert(k4096 == 512L * p1 + 64L * p2 + 8L * p3 + p4)
    }
  }

  test("a109_hill matches a brute order-statistic recompute") {
    val got = SparkEntry.queries("a109_hill")(spark, dir)
      .collect().head
    val counts = graft.queries.Q.documents(spark, dir)
      .select(col("text")).collect().map(_.getString(0))
      // normalizeAz DROPS non-[a-z ] chars (not -> space)
      .flatMap { t =>
        val toks = t.toLowerCase.filter(c =>
          (c >= 'a' && c <= 'z') || c == ' ').split(" ").filter(_.nonEmpty)
        toks.sliding(2).filter(_.length == 2).map(_.mkString("_"))
      }
      .groupBy(identity).map { case (k, v) => (k, v.length.toLong) }
    val top = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(101)
    val fTail = top(100)._2
    var h = 0.0
    for (i <- 0 until 100)
      h += math.log(top(i)._2.toDouble / fTail.toDouble)
    h /= 100.0
    assert(got.getLong(0) == 100L)
    assert(got.getLong(1) == fTail, "f_tail")
    assert(got.getDouble(2) == r6(h), "hill_h")
    assert(got.getDouble(3) == r6(1.0 + 1.0 / h), "alpha")
  }

  test("m54_qini matches brute decile accounting") {
    val got = SparkEntry.queries("m54_qini")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    val users = graft.queries.Q.events(spark, dir)
      .groupBy("user_id").agg(
        sum(round(col("value") * 100).cast("long")).as("cents"),
        max((col("event_type") === "purchase").cast("long")).as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = users.length
    val ranked = users.sortBy { case (u, c, _) => (-c, u) }
    // SQL ntile: first (n % k) tiles get ceil(n/k) rows
    val base = n / 10; val extra = n % 10
    def decileOf(rank0: Int): Long = {
      val big = (base + 1) * extra
      if (rank0 < big) (rank0 / (base + 1) + 1).toLong
      else ((rank0 - big) / base + extra + 1).toLong
    }
    val cells = ranked.zipWithIndex.groupBy { case (_, i) => decileOf(i) }
      .map { case (d, xs) =>
        val nt = xs.count { case ((u, _, _), _) => u % 2 == 0 }
        val yt = xs.count { case ((u, _, y), _) => u % 2 == 0 && y == 1L }
        val nc = xs.length - nt
        val yc = xs.count { case ((u, _, y), _) => u % 2 != 0 && y == 1L }
        d -> (nt.toLong, nc.toLong, yt.toLong, yc.toLong)
      }
    for (d <- 1L to 10L) {
      val cum = cells.filter(_._1 <= d).values
        .foldLeft((0L, 0L, 0L, 0L)) { case ((a, b, c, e), (w, x, y, z)) =>
          (a + w, b + x, c + y, e + z) }
      val (ntC, ncC, ytC, ycC) = cum
      val (gnt, gnc, gyt, gyc, gq) = got(d)
      assert((gnt, gnc, gyt, gyc) == cum, s"decile $d cells")
      assert(gq == r6((ytC * ncC - ycC * ntC).toDouble / ncC.toDouble),
        s"decile $d qini")
    }
  }
}
