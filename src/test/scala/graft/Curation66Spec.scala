package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 66 (incremental dedup, hard negatives)
  * on sf0.001. */
class Curation66Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("d_incremental pairs only cross the new/corpus boundary and " +
      "agree with planted duplicate structure") {
    val rows = SparkEntry.queries("d_incremental")(
      spark, dir).collect()
    assert(rows.nonEmpty, "incremental candidates exist")
    for (r <- rows) {
      assert(r.getLong(0) % 10 == 0, "new side is the 10% batch")
      assert(r.getLong(1) % 10 != 0, "corpus side is the 90%")
      val jac = r.getDouble(2)
      assert(jac >= 0.0 && jac <= 1.0)
      assert(r.getBoolean(3) == (jac >= 0.6 - 5e-7),
        s"is_dup consistent at ${r.getLong(0)}/${r.getLong(1)}")
      assert(r.getLong(4) >= 1L)
    }
    // a new doc never exceeds the per-doc candidate cap
    val perNew = rows.groupBy(_.getLong(0)).map(_._2.length)
    assert(perNew.max <= 64)
  }

  test("d_incremental jaccard matches a brute gram recompute") {
    val rows = SparkEntry.queries("d_incremental")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val texts = graft.queries.Q.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val P = 1000000007L
    def grams(t: String): Set[Long] = {
      val n = t.toLowerCase.filter(c => (c >= 'a' && c <= 'z') || c == ' ')
      (0 to n.length - 3).map { i =>
        n.substring(i, i + 3).foldLeft(0L)((a, c) =>
          Math.floorMod(a * 31 + c.toLong, P))
      }.toSet
    }
    var checked = 0
    for (((a, b), jac) <- rows.take(200)) {
      val ga = grams(texts(a)); val gb = grams(texts(b))
      val inter = (ga & gb).size.toDouble
      val uni = ga.size + gb.size - inter
      val want = if (uni > 0) inter / uni else 0.0
      assert(math.abs(jac - want) < 1e-6, s"pair ($a,$b)")
      checked += 1
    }
    assert(checked > 0)
  }

  test("s_hard_negatives returns cross-label, non-dup, ranked neighbors") {
    val rows = SparkEntry.queries("s_hard_negatives")(
      spark, dir).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getInt(1) != r.getInt(3), "labels differ")
      assert(r.getDouble(4) < 0.95, "below the near-dup ceiling")
      assert(r.getLong(5) >= 1L && r.getLong(5) <= 3L)
    }
    // per anchor: ranks are 1..k without gaps and cos non-increasing
    for ((_, g) <- rows.groupBy(_.getLong(0))) {
      val byRank = g.sortBy(_.getLong(5))
      assert(byRank.map(_.getLong(5)).toSeq == (1L to byRank.length).toSeq)
      val cs = byRank.map(_.getDouble(4)).toSeq
      assert(cs == cs.sorted.reverse, "cos non-increasing in rank")
    }
  }
}
