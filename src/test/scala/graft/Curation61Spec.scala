package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 61 (RSI, Jaro-Winkler entity scoring,
  * overlap depth) on sf0.001, plus kernel-level JaroWinkler pins
  * against hand-computed textbook values.
  */
class Curation61Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("JaroWinkler kernel matches textbook values") {
    import graft.functions.JaroWinkler.similarity
    assert(similarity("martha", "marhta") == 0.9611111111111111)
    assert(similarity("dixon", "dicksonx") == 0.8133333333333332)
    assert(similarity("jellyfish", "smellyfish") == 0.8962962962962964)
    assert(similarity("duane", "dwayne") == 0.8400000000000001)
    assert(similarity("CRATE", "TRACE") == 0.7333333333333334) // no boost at l=0
    assert(similarity("abcd", "acbd") == 0.9249999999999999) // transposition
    assert(similarity("x", "xy") == 0.8500000000000001) // window clamp at 0
    assert(similarity("a", "a") == 1.0)
    assert(similarity("a", "b") == 0.0)
    assert(similarity("ab", "ba") == 0.0) // window 0: no cross match
    assert(similarity("", "") == 0.0) // DuckDB convention
    assert(similarity("", "abc") == 0.0)
    assert(similarity("aaa", "aba") == 0.7999999999999999)
  }

  test("JaroWinkler codegen and interpreted paths agree") {
    import spark.implicits._
    val df = Seq(("martha", "marhta"), ("dixon", "dicksonx"),
      ("cold widget", "widget cold"), ("large bolt", "zarge bolt"),
      ("", ""), ("a", "a")).toDF("a", "b")
    val viaExpr = df.select(
      graft.functions.JaroWinkler.jaroWinkler(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    val expected = df.collect().map(r =>
      graft.functions.JaroWinkler.similarity(r.getString(0), r.getString(1)))
    assert(viaExpr.toSeq == expected.toSeq)
  }

  test("w73_rsi matches a brute per-user recompute") {
    val got = SparkEntry.queries("w73_rsi")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val rows = graft.io.Tables.eventsUs(spark, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 100)))
    var checked = 0
    for ((_, evs) <- rows.groupBy(_._1)) {
      val ord = evs.sortBy(e => (e._2, e._3))
      var ag = Double.NaN; var al = Double.NaN
      for (i <- 1 until ord.length) {
        val d = ord(i)._4 - ord(i - 1)._4
        val g = math.max(d, 0L).toDouble
        val l = math.max(-d, 0L).toDouble
        ag = if (ag.isNaN) g else 0.0625 * g + 0.9375 * ag
        al = if (al.isNaN) l else 0.0625 * l + 0.9375 * al
        val want = if (ag + al > 0.0) Some(100.0 * ag / (ag + al)) else None
        assert(got(ord(i)._3) == want, s"event ${ord(i)._3}")
        checked += 1
      }
    }
    assert(checked > 100)
  }

  test("j26_jw_entity verdicts are consistent with the kernel") {
    val got = SparkEntry.queries("j26_jw_entity")(spark, dir)
    val rows = got.collect()
    assert(rows.nonEmpty)
    // self-pairs (p_partkey == rid) must score their own perturbation;
    // appended-char perturbation (key % 3 == 0) keeps jw >= 0.9 (match)
    val self = rows.filter(r => r.getLong(0) == r.getLong(1))
    assert(self.nonEmpty)
    for (r <- self if r.getLong(0) % 3 == 0)
      assert(r.getString(3) == "match", s"append-x pair ${r.getLong(0)}")
    // verdict thresholds agree with the (rounded) score
    for (r <- rows) {
      val jw = r.getDouble(2)
      val v = r.getString(3)
      if (jw > 0.9000005) assert(v == "match")
      if (jw < 0.6999995) assert(v == "non_match")
    }
  }

  test("o33_overlap_depth matches a brute sweep") {
    val got = SparkEntry.queries("o33_overlap_depth")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val zones = graft.queries.Q.lineitem(spark, dir)
      .select(expr("l_orderkey DIV 1000").as("zone"),
        round(col("l_extendedprice") * 100).cast("long").as("c"))
      .groupBy("zone").agg(min("c").as("mn"), max("c").as("mx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ev = zones.flatMap { case (z, mn, mx) =>
      Seq((z, mn, 1L), (z, mx, -1L)) }
      .sortBy { case (z, pos, d) => (pos, -d, z) }
    var run = 0L
    for ((z, pos, d) <- ev) {
      run += d
      assert(got((z, pos, d)) == run, s"depth at ($z,$pos,$d)")
    }
    assert(ev.map(_._3).sum == 0L)
  }
}
