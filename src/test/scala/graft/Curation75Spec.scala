package graft

import org.apache.spark.sql.functions._

/** Brute-force twins for batch 75 (lexical richness, Gunning fog,
  * mRMR) on sf0.001. */
class Curation75Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def norm(t: String): Seq[String] =
    t.toLowerCase.replaceAll("[^a-z ]", "").split(" ")
      .filter(_.nonEmpty).toSeq

  test("t_lexical_richness matches a brute spectrum recompute") {
    val docs = graft.queries.Q.documents(spark, dir)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val got = SparkEntry.queries("t_lexical_richness")(
      spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7))).toMap
    for ((lang, ds) <- docs.groupBy(_._1)) {
      val freq = ds.flatMap(d => norm(d._2)).groupBy(identity)
        .map { case (w, v) => w -> v.length.toLong }
      val n = freq.values.sum; val v = freq.size.toLong
      val v1 = freq.values.count(_ == 1L).toLong
      val v2 = freq.values.count(_ == 2L).toLong
      val honore = 100.0 * math.log(n.toDouble) / (1.0 - v1.toDouble / v)
      val brunet = math.exp(-0.165 * math.log(v.toDouble)) *
        math.log(n.toDouble)
      val g = got(lang)
      assert((g._1, g._2, g._3, g._4) == ((n, v, v1, v2)), s"$lang")
      assert(math.abs(g._5 - honore) < 1e-5, s"$lang honore")
      assert(math.abs(g._6 - v2.toDouble / v) < 1e-12, s"$lang sichel")
      assert(math.abs(g._7 - brunet) < 1e-5, s"$lang brunet")
    }
  }

  test("t_gunning_fog matches a brute readability recompute") {
    val docs = graft.queries.Q.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val got = SparkEntry.queries("t_gunning_fog")(
      spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toMap
    var checked = 0
    for ((id, text) <- docs) {
      val sents = math.max(1, "[.!?]+".r.findAllIn(text).length).toLong
      val toks = norm(text)
      val words = toks.length.toLong
      if (words >= 1) {
        val complex = toks.count(w =>
          "[aeiouy]+".r.findAllIn(w).length >= 3).toLong
        val fog = 0.4 * (words.toDouble / sents +
          100.0 * complex.toDouble / words)
        val g = got(id)
        assert((g._1, g._2, g._3) == ((sents, words, complex)), s"doc $id")
        assert(math.abs(g._4 - fog) < 1e-9, s"doc $id fog")
        checked += 1
      }
    }
    assert(checked == got.size && checked > 0)
  }

  test("m58_mrmr matches a brute MI recompute") {
    val rows = graft.queries.Q.lineitem(spark, dir).select(
      expr("CAST(l_quantity AS BIGINT) DIV 10"),
      round(col("l_discount") * 100).cast("long"),
      round(col("l_tax") * 100).cast("long"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT) DIV 1000000"),
      col("l_returnflag")).collect()
      .map(r => Map("f_q" -> r.getLong(0).toString,
        "f_d" -> r.getLong(1).toString, "f_t" -> r.getLong(2).toString,
        "f_p" -> r.getLong(3).toString, "y" -> r.getString(4)))
    val n = rows.length.toDouble
    def ent(keys: Seq[String]): Double = {
      val counts = rows.groupBy(r => keys.map(r)).map(_._2.length)
      math.log(n) - counts.map(m => m * math.log(m.toDouble)).sum / n
    }
    val feats = Seq("f_q", "f_d", "f_t", "f_p")
    val got = SparkEntry.queries("m58_mrmr")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.keySet == feats.toSet)
    for (f <- feats) {
      val rel = ent(Seq(f)) + ent(Seq("y")) - ent(Seq(f, "y"))
      val reds = feats.filter(_ != f)
        .map(o => ent(Seq(f)) + ent(Seq(o)) - ent(Seq(f, o).sorted))
      val redAvg = reds.sum / 3.0
      val g = got(f)
      assert(math.abs(g._1 - rel) < 1e-5, s"$f rel: ${g._1} vs $rel")
      assert(math.abs(g._2 - redAvg) < 1e-5, s"$f red")
      assert(math.abs(g._3 - (rel - redAvg)) < 1e-5, s"$f mrmr")
      assert(rel >= -1e-9) // MI is non-negative
    }
  }
}
