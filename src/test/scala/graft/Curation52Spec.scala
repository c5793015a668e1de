package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 52 on sf0.001 (driver-side, same
  * pinned fold order as the distributed plan). */
class Curation52Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("m49_cooks matches a brute-force OLS influence recompute") {
    val got = SparkEntry.queries("m49_cooks")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getDouble(2),
        r.getDouble(3)))
    assert(got.length == 20)
    val rows = graft.queries.Q.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber").cast("long"),
        col("l_quantity").cast("long"),
        round(col("l_extendedprice") * 100).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = rows.length.toLong
    val sx = rows.map(_._3).sum
    val sy = rows.map(_._4).sum
    val sxx = rows.map(r => BigInt(r._3) * r._3).sum
    val sxy = rows.map(r => BigInt(r._3) * r._4).sum
    val syy = rows.map(r => BigInt(r._4) * r._4).sum
    val numb = BigInt(n) * sxy - BigInt(sx) * sy
    val den = BigInt(n) * sxx - BigInt(sx) * sx
    val numyy = BigInt(n) * syy - BigInt(sy) * sy
    val b = numb.toDouble / den.toDouble
    val a = (sy.toDouble - b * sx.toDouble) / n.toDouble
    val s2 = ((numyy.toDouble - b * numb.toDouble) / n.toDouble) /
      (n.toDouble - 2.0)
    val all = rows.map { case (ok, ln, x, y) =>
      val dx = n * x - sx
      val h = 1.0 / n.toDouble +
        (dx.toDouble * dx.toDouble) / (n.toDouble * den.toDouble)
      val e = y.toDouble - (a + b * x.toDouble)
      val cook = (e * e * h) / (2.0 * s2 * (1.0 - h) * (1.0 - h))
      (ok, ln, cook, h)
    }
    val top = all.sortBy(t => (-t._3, t._1, t._2)).take(20)
    got.zip(top).foreach { case ((gok, gln, gc, gh), (ok, ln, c, h)) =>
      assert(gok == ok && gln == ln, s"row key ($gok,$gln) vs ($ok,$ln)")
      assert(approx(gc, BigDecimal(c).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble, 1e-9))
      assert(approx(gh, BigDecimal(h).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble, 1e-9))
      assert(gh > 0.0 && gh < 1.0, "leverage in (0,1)")
    }
  }

  test("g20_richclub matches a brute recompute on the co-supply graph") {
    // brute graph build at sf0.01 (sf0.001's graph is empty — the
    // query correctly emits 0 rows there, asserted below)
    assert(SparkEntry.queries("g20_richclub")(
      spark, dir).count() == 0)
    val d01 = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("g20_richclub")(
      spark, d01).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    val sn = graft.queries.Q.supplier(spark, d01)
      .select(col("s_suppkey").cast("long"), col("s_nationkey"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val li = graft.queries.Q.lineitem(spark, d01)
      .select(col("l_orderkey"), col("l_suppkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { xs =>
      val sks = xs.map(_._2).toSeq.distinct
      for (x <- sks; y <- sks
           if x < y && sn(x) == sn(y)) yield (x, y)
    }.toSet
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    for (k <- Seq(0L, 1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L)) {
      val nk = deg.count(_._2 > k).toLong
      val ek = edges.count(e => deg(e._1) > k && deg(e._2) > k).toLong
      if (nk >= 2) {
        val (gn, ge, gphi) = got(k)
        assert(gn == nk && ge == ek, s"k=$k counts")
        val phi = 2.0 * ek.toDouble / (nk.toDouble * (nk.toDouble - 1.0))
        assert(approx(gphi, BigDecimal(phi).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble, 1e-9), s"k=$k phi")
      } else assert(!got.contains(k), s"k=$k should be filtered")
    }
  }
}
