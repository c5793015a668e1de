package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 69 (Theil/Atkinson inequality,
  * Ansari-Bradley, Bowker symmetry) on sf0.001. */
class Curation69Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("a117_inequality matches a brute recompute") {
    val cents = graft.queries.Q.events(spark, dir)
      .select(round(col("value") * 100).cast("long")).collect()
      .map(_.getLong(0)).filter(_ >= 1)
    val n = cents.length.toLong
    val x = cents.sum
    val mu = x.toDouble / n
    val theil = cents.map(c => (c / mu) * math.log(c / mu)).sum / n
    val atk = 1.0 - math.exp(cents.map(c => math.log(c.toDouble)).sum / n) / mu
    val r = SparkEntry.queries("a117_inequality")(spark, dir)
      .collect().head
    assert(r.getLong(0) == n && r.getLong(1) == x)
    // r6 on the query side → 5e-7 quantization on top of float noise
    assert(math.abs(r.getDouble(2) - theil) < 1e-6, s"theil ${r.getDouble(2)} vs $theil")
    assert(math.abs(r.getDouble(3) - atk) < 1e-6, s"atkinson ${r.getDouble(3)} vs $atk")
    assert(theil > 0 && atk > 0 && atk < 1)
  }

  test("a118_ansari_bradley matches a brute midrank-score recompute") {
    val evs = graft.io.Tables.eventsUs(spark, dir)
      .select(col("event_type"), col("user_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1) % 2 == 0,
        math.round(r.getDouble(2) * 100)))
    val got = SparkEntry.queries("a118_ansari_bradley")(
      spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    for ((tp, g) <- evs.groupBy(_._1)) {
      val pooled = g.map(_._3)
      val nTot = pooled.length.toLong
      // twice the AB midrank score per value
      def s2(v: Long): Long = {
        val below = pooled.count(_ < v).toLong
        val m = pooled.count(_ == v).toLong
        val dr = 2 * below + m + 1
        math.min(dr, 2 * (nTot + 1) - dr)
      }
      val aVals = g.filter(_._2).map(_._3)
      val na = aVals.length.toLong; val nb = nTot - na
      if (na >= 2 && nb >= 2) {
        val ab2 = aVals.map(s2).sum
        val sSum = pooled.map(s2).sum
        val sSS = pooled.map(v => { val s = s2(v); BigInt(s) * s }).sum
        // E[AB] = na·s̄, Var = na·nb/(N(N−1))·Σ(s−s̄)², on the ×2 lattice
        val mean = na.toDouble * sSum / (2.0 * nTot)
        val varAb = na.toDouble * nb *
          (BigInt(nTot) * sSS - BigInt(sSum) * sSum).toDouble /
          (nTot.toDouble * nTot * (nTot - 1.0) * 4.0)
        val z = (ab2 / 2.0 - mean) / math.sqrt(varAb)
        val (gna, gnb, gab2, gmean, gz) = got(tp)
        assert((gna, gnb) == ((na, nb)), s"$tp arms")
        assert(gab2 == ab2, s"$tp ab2: $gab2 vs $ab2")
        assert(math.abs(gmean - mean) < 1e-6 * mean, s"$tp mean")
        assert(math.abs(gz - z) < 1e-9, s"$tp z: $gz vs $z")
      }
    }
  }

  test("a119_bowker matches a brute transition-pair recompute") {
    val evs = graft.io.Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val trans = evs.groupBy(_._1).values.flatMap { g =>
      val sorted = g.sortBy(e => (e._2, e._3)).map(_._4)
      sorted.zip(sorted.tail).filter(p => p._1 != p._2)
    }.toSeq
    val cells = trans.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val pairKeys = cells.keys.map(p => (Seq(p._1, p._2).min, Seq(p._1, p._2).max))
      .toSeq.distinct.sorted
    var chi2 = 0.0; var df = 0L; var nT = 0L
    for ((i, j) <- pairKeys) {
      val nij = cells.getOrElse((i, j), 0L)
      val nji = cells.getOrElse((j, i), 0L)
      if (nij + nji > 0) {
        df += 1
        chi2 += math.pow((nij - nji).toDouble, 2) / (nij + nji)
      }
      nT += nij + nji
    }
    val r = SparkEntry.queries("a119_bowker")(spark, dir)
      .collect().head
    assert(r.getLong(0) == df && r.getLong(1) == nT)
    assert(math.abs(r.getDouble(2) - chi2) < 1e-9, s"${r.getDouble(2)} vs $chi2")
  }
}
