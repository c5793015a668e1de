package graft

import org.apache.spark.sql.functions._

/** Batch 74: Damerau-Levenshtein kernel probes (pinned to DuckDB's
  * damerau_levenshtein outputs) + brute twins for the WHT and bloom
  * handshake queries on sf0.001. */
class Curation74Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("DamerauLevenshtein kernel matches the DuckDB probe table") {
    import graft.functions.DamerauLevenshtein.distance
    // probe values measured against duckdb damerau_levenshtein
    // (full/unrestricted DL: 'ca'->'abc' is 2, not OSA's 3)
    val probes = Seq(
      ("ca", "abc", 2), ("abc", "abc", 0), ("abc", "acb", 1),
      ("ab", "ba", 1), ("a cat", "an act", 2), ("", "", 0),
      ("a", "", 1), ("", "ab", 2), ("abcdef", "abcfad", 3),
      ("kitten", "sitting", 3), ("flaw", "lawn", 2),
      ("gifts", "profit", 5), ("ab", "aab", 1), ("aab", "ab", 1),
      ("ca", "ac", 1))
    probes.foreach { case (a, b, exp) =>
      assert(distance(a, b) == exp, s"dl($a,$b)")
      assert(distance(b, a) == exp, s"dl($b,$a) symmetry")
    }
  }

  test("damerau_levenshtein codegen path agrees with the kernel") {
    import spark.implicits._
    val df = Seq(("ca", "abc"), ("kitten", "sitting"), ("ab", "ba"),
      ("gifts", "profit")).toDF("a", "b")
    val got = df.select(graft.functions.DamerauLevenshtein
      .damerauLevenshtein(col("a"), col("b"))).collect().map(_.getInt(0))
    assert(got.toSeq == Seq(2, 3, 1, 5))
    // SQL registration path
    val viaSql = spark.sql(
      "SELECT damerau_levenshtein('ca', 'abc')").collect().head.getInt(0)
    assert(viaSql == 2)
  }

  test("j27_dl_entity scores the planted corruptions sanely") {
    val rows = SparkEntry.queries("j27_dl_entity")(
      spark, dir).collect()
    assert(rows.nonEmpty)
    // self-pairs (p_partkey == rid) carry a known corruption: swap /
    // duplicate / delete = DL 1 (or 0 when the swap is a no-op on
    // equal chars)
    val selfPairs = rows.filter(r => r.getLong(0) == r.getLong(1))
    assert(selfPairs.nonEmpty)
    selfPairs.foreach { r =>
      assert(r.getLong(2) <= 1L, s"self pair dl: $r")
      // the 10% band only reaches "match" once the name has ≥ 10 chars
      if (r.getDouble(3) >= 0.9) assert(r.getString(4) == "match")
      else assert(r.getString(4) == "possible")
    }
    rows.foreach { r =>
      val sim = r.getDouble(3)
      assert(sim >= -0.001 && sim <= 1.0)
    }
  }

  test("mm_wht matches a brute Walsh-Hadamard recompute") {
    val got = SparkEntry.queries("mm_wht")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    val ids = graft.queries.Q.documents(spark, dir)
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(got.size == ids.length)
    for (id <- ids.take(50)) {
      val v = (0 until 64).map(i =>
        ((id * 31 + i * 37) % 4001) - 2000)
      def w(k: Int) = (0 until 64).map(i =>
        (if (Integer.bitCount(k & i) % 2 == 0) 1L else -1L) * v(i)).sum
      val ws = (0 to 3).map(w)
      val dom = (1 to 3).maxBy(k => (math.abs(ws(k)), -k))
      val g = got(id)
      assert((g._1, g._2, g._3, g._4) == ((ws(0), ws(1), ws(2), ws(3))),
        s"doc $id: $g vs $ws")
      assert(g._5 == dom.toLong, s"doc $id dominant")
    }
  }

  test("d_bloom_handshake counts match a brute bloom recompute") {
    val docs = graft.queries.Q.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val t = r.getString(1).toLowerCase.replaceAll("[^a-z ]", "")
        var h = 0L
        t.foreach(c => h = (h * 31 + c.toLong) % graft.functions.Text.P)
        (r.getLong(0) % 4, h, h % 65536, h * 2654435761L % 65536)
      }
    val bloom = docs.groupBy(_._1).map { case (s, ds) =>
      s -> ds.flatMap(d => Seq(d._3, d._4)).toSet }
    val exact = docs.groupBy(_._1).map { case (s, ds) =>
      s -> ds.map(_._2).toSet }
    val got = SparkEntry.queries("d_bloom_handshake")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.size == 12)
    for (a <- 0L to 3L; b <- 0L to 3L if a != b) {
      val as = docs.filter(_._1 == a)
      val cand = as.count(d => bloom(b).contains(d._3) &&
        bloom(b).contains(d._4)).toLong
      val tru = as.count(d => exact(b).contains(d._2)).toLong
      val (gn, gc, gt) = got((a, b))
      assert(gn == as.length.toLong && gc == cand && gt == tru,
        s"pair ($a,$b): ($gn,$gc,$gt) vs (${as.length},$cand,$tru)")
    }
  }
}
