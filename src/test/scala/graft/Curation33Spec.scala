package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-7 batch 33 (Curation33Q): Kneser-Ney
  * probability accounting, naive-Bayes above-chance accuracy, WL
  * refinement monotonicity, and RLE layout-audit bounds. */
class Curation33Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("t_kneser_ney: valid probabilities, count identities, 200 rows") {
    val r = SparkEntry.queries("t_kneser_ney")(spark, dir)
      .cache()
    assert(r.count() == 200)
    assert(r.filter(col("p_kn") <= 0.0 || col("p_kn") > 1.0).count() == 0,
      "KN probabilities must lie in (0, 1]")
    // a bigram's count cannot exceed its context total; type counts
    // are at least 1; the discount keeps (c - 0.75)/c1 < p_kn
    assert(r.filter(col("c") > col("c1") || col("nsucc") < 1 ||
      col("npred") < 1 || col("nsucc") > col("c1")).count() == 0)
    assert(r.filter(col("p_kn") <= (col("c") - 0.75) / col("c1") - 1e-9)
      .count() == 0, "continuation mass is strictly positive")
    // the 200 rows are the count-descending head
    val cs = r.orderBy(col("c").desc, col("w1"), col("w2"))
      .select("c").collect().map(_.getLong(0))
    assert(cs.sameElements(cs.sortBy(-_)))
  }

  test("m36_nb_clf: one verdict per test doc, above-chance accuracy") {
    val r = SparkEntry.queries("m36_nb_clf")(spark, dir)
      .cache()
    val n = r.count()
    assert(n > 0 && r.select("doc_id").distinct().count() == n)
    // only odd (test-split) docs are scored
    assert(r.filter(pmod(col("doc_id"), lit(2L)) === 0L).count() == 0)
    val acc = r.agg(sum("correct")).head().getLong(0).toDouble / n
    // 5 balanced-ish classes -> chance is ~0.2; the synthetic corpus
    // shares vocabulary across langs, so demand above-chance, not high
    assert(acc > 0.25, s"NB accuracy $acc not above chance")
    // predictions come from the training class domain
    val langs = graft.queries.Q.documents(spark, dir)
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(r.select("pred_lang").distinct().collect()
      .forall(x => langs(x.getString(0))))
  }

  test("g14_wl_hash: labels on the lattice, refinement only splits") {
    val r = SparkEntry.queries("g14_wl_hash")(spark, dir)
      .cache()
    val n = r.count()
    assert(n > 0 && r.select("node").distinct().count() == n)
    assert(r.filter(col("wl2") < 0L || col("wl2") >= 1000000007L)
      .count() == 0)
    assert(r.filter(col("degree") < 1L).count() == 0)
    // WL refinement can only split color classes (up to mod-P hash
    // collisions — ~1e-5 at this node count)
    val dDeg = r.select("degree").distinct().count()
    val dWl = r.select("wl2").distinct().count()
    assert(dWl >= dDeg, s"refinement lost classes: $dWl < $dDeg")
  }

  test("o28_rle: run bounds and whole-table accounting") {
    val r = SparkEntry.queries("o28_rle")(spark, dir).cache()
    assert(r.count() > 0)
    // sorting can only reduce runs; runs are within [distinct, rows]
    assert(r.filter(col("runs_sorted") > col("runs_natural") ||
      col("runs_natural") > col("n_rows") ||
      col("runs_sorted") < 1L).count() == 0)
    assert(r.filter(col("sort_gain") > 1.0 + 1e-9).count() == 0)
    val total = r.agg(sum("n_rows")).head().getLong(0)
    assert(total == graft.queries.Q.lineitem(spark, dir).count(),
      "buckets must cover every row exactly once")
  }
}
