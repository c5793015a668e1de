package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 63 (multi-probe LSH, Kalman) on
  * sf0.001. */
class Curation63Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("s_multiprobe pairs are exactly the Hamming<=1 band pairs " +
      "of kept buckets") {
    val rows = SparkEntry.queries("s_multiprobe")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // brute: recompute the 8-bit signatures from the same projections
    val proj = graft.operators.Similarity.randomProjection(
      graft.queries.Q.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding")), "embedding", 64, 8)
    val sig = (0 until 8)
      .map(j => when(col(s"p$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    val sigs = proj.select(col("vec_id"), sig.as("bk")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bucketSizes = sigs.groupBy(_._2).map { case (b, v) =>
      (b, v.length) }
    val kept = sigs.filter { case (_, b) => bucketSizes(b) <= 100 }
    val expected = (for {
      (va, ba) <- kept
      (vb, bb) <- kept
      if va < vb
      ham = java.lang.Long.bitCount(ba ^ bb)
      if ham <= 1
    } yield (va, vb) -> ham.toLong).toMap
    assert(rows.keySet == expected.keySet,
      s"pair sets differ: got ${rows.size}, want ${expected.size}")
    for ((k, (ham, cosv)) <- rows) {
      assert(ham == expected(k), s"ham at $k")
      assert(cosv >= -1.0 - 1e-9 && cosv <= 1.0 + 1e-9)
    }
  }

  test("w75_kalman matches a brute fold replay") {
    val got = SparkEntry.queries("w75_kalman")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val events = graft.io.Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 100)))
    val q = 4194304.0; val r0 = 16777216.0
    var checked = 0
    for ((u, evs) <- events.groupBy(_._1)) {
      val tail = evs.sortBy(e => (-e._2, -e._3)).take(64)
        .sortBy(e => (e._2, e._3))
      var x = tail.head._4.toDouble
      var p = r0
      for (e <- tail.tail) {
        val pp = p + q
        val k = pp / (pp + r0)
        x = x + k * (e._4.toDouble - x)
        p = (1.0 - k) * pp
      }
      val (gn, gx, gp) = got(u)
      assert(gn == tail.length.toLong, s"user $u n")
      assert(gx == x, s"user $u x")
      assert(gp == p, s"user $u p")
      checked += 1
    }
    assert(checked > 10)
  }
}
