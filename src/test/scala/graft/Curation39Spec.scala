package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-7 batch 39 (Curation39Q): BH step-up
  * monotonicity, two-stage retrieval recall accounting, and DeLong
  * CI geometry. */
class Curation39Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("a81_bh_fdr: rejection set is a rank prefix, thresholds exact") {
    val r = SparkEntry.queries("a81_bh_fdr")(spark, dir)
      .orderBy("rank").collect()
    assert(r.length == 5)
    assert(r.map(_.getAs[Long]("rank")).sameElements(1L to 5L))
    // BH rejects exactly ranks <= the largest passing rank
    val maxPass = r.filter(_.getAs[Long]("passes") == 1L)
      .map(_.getAs[Long]("rank")).foldLeft(0L)(math.max)
    r.foreach { x =>
      assert((x.getAs[Long]("rejected") == 1L) ==
        (x.getAs[Long]("rank") <= maxPass))
    }
    // p-values are non-decreasing in rank, each in (0, 1]
    val ps = r.map(_.getAs[Double]("p_value"))
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b + 1e-9 })
    assert(ps.forall(p => p > 0.0 && p <= 1.0))
  }

  test("s_two_stage: 5 ranked lists, recall well-defined, cos ordered") {
    val r = SparkEntry.queries("s_two_stage")(spark, dir)
      .cache()
    assert(r.count() == 25, "5 queries x top-5")
    assert(r.select("qid").distinct().count() == 5)
    // per query: ranks 1..5, cosine non-increasing with rank
    val byQ = r.orderBy("qid", "rnk").collect().grouped(5).toSeq
    byQ.foreach { g =>
      assert(g.map(_.getAs[Long]("rnk")).sameElements(1L to 5L))
      val cs = g.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b - 1e-9 })
    }
    // recall flags are 0/1 and at least SOME hit exists overall (the
    // coarse stage contains each query's own cluster neighbors)
    assert(r.filter(col("in_exact_top5") < 0 || col("in_exact_top5") > 1)
      .count() == 0)
    assert(r.agg(sum("in_exact_top5")).head().getLong(0) > 0L)
  }

  test("m41_delong: CI brackets the AUC, matches m14's point estimate") {
    val row = SparkEntry.queries("m41_delong")(spark, dir)
      .head()
    val auc = row.getAs[Double]("auc")
    assert(auc >= 0.0 && auc <= 1.0)
    assert(row.getAs[Double]("se") >= 0.0)
    assert(row.getAs[Double]("ci_lo") <= auc && auc <= row.getAs[Double]("ci_hi"))
    // scores are engineered independent of outcomes -> AUC near 1/2,
    // and the 95% CI must cover a wide-but-sane band
    assert(auc > 0.3 && auc < 0.7, s"independence fixture AUC $auc")
    assert(row.getAs[Long]("n_pos") > 0 && row.getAs[Long]("n_neg") > 0)
  }
}
