package graft

import org.apache.spark.sql.functions._

/** Brute-force twin for batch 58 on sf0.001. */
class Curation58Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("t_coleman_liau matches a brute per-document recompute") {
    val got = SparkEntry.queries("t_coleman_liau")(
      spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .toMap
    val docs = graft.queries.Q.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.size == docs.length)
    for ((id, text) <- docs) {
      val letters = text.toLowerCase.count(c => c >= 'a' && c <= 'z')
      // normalizeAz DROPS non-[a-z ] chars (not → space)
      val words2 = text.toLowerCase.filter(c =>
        (c >= 'a' && c <= 'z') || c == ' ')
        .split(" ").count(_.nonEmpty)
      val sents = math.max(text.count(c => c == '.' || c == '!' ||
        c == '?'), 1).toLong
      val (gl, gw, gs, gc) = got(id)
      assert(gl == letters, s"doc $id letters")
      assert(gw == words2, s"doc $id words (strip semantics)")
      assert(gs == sents, s"doc $id sents")
      if (words2 > 0) {
        val cli = 0.0588 * (100.0 * letters.toDouble / words2.toDouble) -
          0.296 * (100.0 * sents.toDouble / words2.toDouble) - 15.8
        assert(gc.contains(cli), s"doc $id cli")
      } else assert(gc.isEmpty)
    }
  }
}
