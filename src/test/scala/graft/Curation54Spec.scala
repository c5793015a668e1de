package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 54 on sf0.001: an independent
  * driver-side exact-Lloyd replay (same milli-lattice, same
  * shifted-floor rounding) feeding brute DB/CH/silhouette
  * recomputes. */
class Curation54Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val K = 8

  private lazy val vecs: Map[Long, Array[Long]] =
    graft.queries.Q.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]](1)
          .map(x => math.round(x.toDouble * 1000)).toArray)
      .toMap

  private def d2(a: Array[Long], b: Array[Long]): Long =
    a.indices.foldLeft(0L)((s, i) =>
      s + (a(i) - b(i)) * (a(i) - b(i)))

  /** Brute exact Lloyd: returns (centroids, assignment). */
  private lazy val (cents, asn) = {
    val shift = graft.ml.ExactLloyd.Shift
    var c: Map[Int, Array[Long]] =
      (0 until K).map(i => i -> vecs(i.toLong).clone).toMap
    var a: Map[Long, Int] = Map.empty
    for (_ <- 1 to 3) {
      a = vecs.map { case (v, x) =>
        v -> c.toSeq.map { case (cid, cq) =>
          (d2(x, cq) * K + cid, cid) }.min._2
      }
      val upd = a.groupBy(_._2).map { case (cid, m) =>
        val members = m.keys.map(vecs).toSeq
        val n = members.size.toLong
        cid -> Array.tabulate(64) { d =>
          val sq = members.map(_(d)).sum
          ((sq + shift * n) * 2 + n) / (2 * n) - shift
        }
      }
      c = c.map { case (cid, cq) => cid -> upd.getOrElse(cid, cq) }
    }
    val fin = vecs.map { case (v, x) =>
      v -> c.toSeq.map { case (cid, cq) =>
        (d2(x, cq) * K + cid, cid) }.min._2
    }
    (c, fin)
  }

  test("m50_davies_bouldin matches the brute per-cluster ratios") {
    val got = SparkEntry.queries("m50_davies_bouldin")(
      spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    val stats = asn.groupBy(_._2).map { case (cid, m) =>
      val ds = m.keys.map(v => d2(vecs(v), cents(cid))).toSeq
      cid -> (ds.size.toLong,
        math.sqrt(ds.map(BigInt(_)).sum.toDouble / ds.size.toDouble))
    }
    assert(got.size == stats.size)
    for ((cid, (n, sigma)) <- stats) {
      val ri = stats.keys.filter(_ != cid).map { j =>
        (sigma + stats(j)._2) /
          math.sqrt(d2(cents(cid), cents(j)).toDouble)
      }.max
      val (gn, gs, gr) = got(cid.toLong)
      assert(gn == n && gs == sigma, s"cluster $cid stats")
      assert(approx(gr, ri, 1e-12), s"cluster $cid R")
    }
  }

  test("m51_calinski matches the brute variance ratio") {
    val r = SparkEntry.queries("m51_calinski")(
      spark, dir).collect()(0)
    val n = vecs.size.toLong
    val ssw = asn.map { case (v, cid) =>
      BigInt(d2(vecs(v), cents(cid))) }.sum
    val tssNum = (0 until 64).map { d =>
      val s = vecs.values.map(_(d)).sum
      val q = vecs.values.map(x => BigInt(x(d)) * x(d)).sum
      q * n - BigInt(s) * s
    }.sum
    val ssb = tssNum.toDouble / n.toDouble - ssw.toDouble
    val ch = (ssb / (K - 1).toDouble) /
      (ssw.toDouble / (n - K).toDouble)
    assert(r.getLong(0) == n && r.getLong(1) == K.toLong)
    assert(r.getLong(2) == ssw.toLong)
    assert(approx(r.getDouble(3), ch, 1e-12))
  }

  test("m52_silhouette matches the brute banding") {
    val got = SparkEntry.queries("m52_silhouette")(
      spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val bands = asn.groupBy(_._2).map { case (cid, m) =>
      var strong = 0L; var weak = 0L; var mis = 0L
      for (v <- m.keys) {
        val a2 = d2(vecs(v), cents(cid))
        val b2 = cents.keys.filter(_ != cid)
          .map(j => d2(vecs(v), cents(j))).min
        if ((b2 - a2) * 2 > math.max(a2, b2)) strong += 1
        else if (b2 > a2) weak += 1
        else mis += 1
      }
      cid -> (m.size.toLong, strong, weak, mis)
    }
    assert(got.size == bands.size)
    for ((cid, t) <- bands) assert(got(cid.toLong) == t, s"cluster $cid")
  }
}
