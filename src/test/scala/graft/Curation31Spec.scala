package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-7 batch 31 (Curation31Q): BM25 score
  * accounting, McNemar table partition, RRF rank-permutation bounds,
  * and Gonzalez k-center selection geometry. */
class Curation31Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("t_bm25: positive contributions, score is the pinned 4-term sum") {
    val r = SparkEntry.queries("t_bm25")(spark, dir).cache()
    assert(r.count() > 0)
    // idf > 0 (df <= N ⇒ (2N+2)/(2df+1) > 1) and sat > 0 ⇒ every
    // present contribution is positive; saturation bounds it by
    // idf·(k1+1) < ln(2N+2)·2.2 — generously, < 50 on this corpus
    val bad = r.filter(
      (col("c1").isNotNull && (col("c1") <= 0 || col("c1") > 50)) ||
      (col("c2").isNotNull && (col("c2") <= 0 || col("c2") > 50)) ||
      (col("c3").isNotNull && (col("c3") <= 0 || col("c3") > 50)) ||
      (col("c4").isNotNull && (col("c4") <= 0 || col("c4") > 50))).count()
    assert(bad == 0, "BM25 contributions must be in (0, bound)")
    // score ≈ c1+c2+c3+c4 (score is rounded AFTER the raw sum, so
    // allow the 4-term rounding slack)
    val off = r.filter(abs(col("bm25") -
      (coalesce(col("c1"), lit(0.0)) + coalesce(col("c2"), lit(0.0)) +
       coalesce(col("c3"), lit(0.0)) + coalesce(col("c4"), lit(0.0))))
      > 3e-6).count()
    assert(off == 0, "bm25 must be the sum of its term contributions")
    // at least one doc matches ≥ 2 query terms on this corpus
    assert(r.filter(col("c1").isNotNull && col("c2").isNotNull).count() > 0)
  }

  test("m35_mcnemar: 2x2 table partitions n, chi2 consistent") {
    val row = SparkEntry.queries("m35_mcnemar")(spark, dir)
      .head()
    val n = row.getAs[Long]("n")
    val br = row.getAs[Long]("both_right"); val bw = row.getAs[Long]("both_wrong")
    val a = row.getAs[Long]("a_only"); val b = row.getAs[Long]("b_only")
    assert(br + bw + a + b == n, "quadrants must partition the rows")
    val chi2 = row.getAs[Double]("chi2")
    assert(chi2 >= 0.0)
    if (a + b > 0) {
      val expect = math.pow(math.abs(a - b) - 1.0, 2) / (a + b)
      assert(math.abs(chi2 - expect) < 1e-6)
      assert((row.getAs[Long]("signif") == 1L) == (expect > 3.841459))
    }
  }

  test("s_rrf: both ranks are 1..N permutations, rrf bounded") {
    val r = SparkEntry.queries("s_rrf")(spark, dir).cache()
    val n = r.count()
    assert(n > 0)
    for (c <- Seq("r_cos", "r_dot")) {
      assert(r.select(c).distinct().count() == n, s"$c must be a permutation")
      val mm = r.agg(min(col(c)), max(col(c))).head()
      assert(mm.getLong(0) == 1L && mm.getLong(1) == n)
    }
    // 2/(60+N) <= rrf <= 2/61 (6-dp rounding slack on the bounds)
    val bad = r.filter(col("rrf") > 2.0 / 61 + 1e-6 ||
      col("rrf") < 2.0 / (60 + n) - 1e-6).count()
    assert(bad == 0, "rrf out of its harmonic bounds")
    // the best-fused row beats the average of its ranks over the worst
    val best = r.orderBy(col("rrf").desc).head()
    assert(best.getAs[Long]("r_cos") + best.getAs[Long]("r_dot") <= n + 1,
      "top fused vector cannot be bottom of both lists")
  }

  test("s_kcenter: 8 distinct self-assigned centers, valid assignment") {
    val r = SparkEntry.queries("s_kcenter")(spark, dir)
      .cache()
    val n = r.count()
    assert(n > 0 && r.select("vec_id").distinct().count() == n)
    val centers = r.select("center_idx", "center_vec_id").distinct()
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(centers.length == 8, "exactly 8 centers")
    assert(centers.map(_._2).distinct.length == 8,
      "centers must be distinct vectors")
    // each center's own row: assigned to itself at distance 0
    val centerIds = centers.map(_._2)
    assert(r.filter(col("vec_id").isin(centerIds: _*) &&
      col("dist2") =!= 0L).count() == 0,
      "a center is at distance 0 from itself")
    assert(r.filter(col("dist2") < 0L).count() == 0)
  }
}
