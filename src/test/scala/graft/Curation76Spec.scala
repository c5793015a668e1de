package graft

import org.apache.spark.sql.functions._

/** Brute-force / parity twins for batch 76 (streaming Page-Hinkley,
  * Murphy decomposition, Jonckheere-Terpstra) on sf0.001. */
class Curation76Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("w85_stream_ph equals the batch w84 result (exact parity)") {
    val batch = SparkEntry.queries("w84_page_hinkley")(
      spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val stream = SparkEntry.queries("w85_stream_ph")(
      spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(stream == batch, s"parity: ${stream.size} vs ${batch.size}")
    assert(stream.nonEmpty)
  }

  test("m63_brier_decomp matches a brute Murphy recompute") {
    val rows = graft.queries.Q.events(spark, dir)
      .select(((col("event_id") * 37) % 101).cast("long"),
        when(col("event_id") % 3 === 0, 1L).otherwise(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = rows.length
    val so = rows.map(_._2).sum
    val oBar = so.toDouble / n
    val byK = rows.groupBy(_._1)
    val brier = rows.map { case (k, o) =>
      math.pow(k / 100.0 - o, 2) }.sum / n
    val rel = byK.map { case (k, g) =>
      val ok = g.map(_._2).sum.toDouble / g.length
      g.length * math.pow(k / 100.0 - ok, 2) }.sum / n
    val res = byK.map { case (_, g) =>
      val ok = g.map(_._2).sum.toDouble / g.length
      g.length * math.pow(ok - oBar, 2) }.sum / n
    val unc = oBar * (1 - oBar)
    val r = SparkEntry.queries("m63_brier_decomp")(
      spark, dir).collect().head
    assert(r.getLong(0) == n.toLong && r.getLong(1) == so)
    assert(math.abs(r.getDouble(2) - brier) < 1e-9, "brier")
    assert(math.abs(r.getDouble(3) - rel) < 1e-9, "rel")
    assert(math.abs(r.getDouble(4) - res) < 1e-9, "res")
    assert(math.abs(r.getDouble(5) - unc) < 1e-12, "unc")
    // Murphy identity: brier = rel - res + unc
    assert(math.abs(r.getDouble(6)) < 1e-9, "identity residual")
  }

  test("a121_jonckheere matches a brute pair count") {
    val rows = graft.queries.Q.lineitem(spark, dir)
      .select(col("l_linenumber").cast("long"),
        col("l_quantity").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var jt2 = 0L
    for (i <- rows.indices; j <- rows.indices if i != j) {
      val (ga, va) = rows(i); val (gb, vb) = rows(j)
      if (ga < gb) {
        if (va < vb) jt2 += 2 else if (va == vb) jt2 += 1
      }
    }
    val n = rows.length.toLong
    val ns = rows.groupBy(_._1).values.map(_.length.toLong).toSeq
    val ts = rows.groupBy(_._2).values.map(_.length.toLong).toSeq
    val mean = (n * n - ns.map(x => x * x).sum).toDouble / 4.0
    val aT = (BigInt(n) * (n - 1) * (2 * n + 5) -
      ns.map(x => BigInt(x) * (x - 1) * (2 * x + 5)).sum -
      ts.map(x => BigInt(x) * (x - 1) * (2 * x + 5)).sum).toDouble / 72.0
    val bT = ns.map(x => BigInt(x) * (x - 1) * (x - 2)).sum.toDouble *
      ts.map(x => BigInt(x) * (x - 1) * (x - 2)).sum.toDouble /
      (36.0 * n * (n - 1.0) * (n - 2.0))
    val cT = ns.map(x => BigInt(x) * (x - 1)).sum.toDouble *
      ts.map(x => BigInt(x) * (x - 1)).sum.toDouble /
      (8.0 * n * (n - 1.0))
    val z = (jt2 / 2.0 - mean) / math.sqrt(aT + bT + cT)
    val r = SparkEntry.queries("a121_jonckheere")(
      spark, dir).collect().head
    assert(r.getLong(0) == n && r.getLong(1) == jt2,
      s"jt2 ${r.getLong(1)} vs $jt2")
    assert(math.abs(r.getDouble(2) - mean) < 1e-6)
    assert(math.abs(r.getDouble(3) - z) < 1e-9, s"z ${r.getDouble(3)} vs $z")
  }
}
