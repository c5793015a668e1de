package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-7 batch 35 (Curation35Q): quantile-
  * normalization monotonicity, AdaBoost weak-learner guarantees,
  * Dunning G² non-negativity, and Nelson-Aalen monotone hazards. */
class Curation35Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("a74_quantile_norm: per-source rank permutations, monotone target") {
    val r = SparkEntry.queries("a74_quantile_norm")(
      spark, dir).cache()
    assert(r.count() > 0)
    assert(r.filter(col("q_pct") < 0L || col("q_pct") > 100L).count() == 0)
    // ranks are a 1..n_s permutation within each source
    val perSrc = r.groupBy("source").agg(count(lit(1)).as("n"),
      countDistinct("r_src").as("dr"), min("r_src").as("mn"),
      max("r_src").as("mx")).collect()
    perSrc.foreach { x =>
      assert(x.getAs[Long]("dr") == x.getAs[Long]("n"))
      assert(x.getAs[Long]("mn") == 1L && x.getAs[Long]("mx") ==
        x.getAs[Long]("n"))
    }
    // the normalization target is non-decreasing in the percentile
    val t = r.select("q_pct", "norm_val").distinct()
      .orderBy("q_pct").collect().map(_.getDouble(1))
    assert(t.zip(t.tail).forall { case (a, b) => a <= b + 1e-9 },
      "quantile targets must be monotone")
  }

  test("m38_adaboost: weak-learner bound, valid stumps, exact weights") {
    val r = SparkEntry.queries("m38_adaboost")(spark, dir)
      .orderBy("round").collect()
    assert(r.length == 2)
    r.foreach { x =>
      assert(Set(0L, 1L)(x.getAs[Long]("feature")))
      assert(Set(0L, 1L)(x.getAs[Long]("polarity")))
      assert(x.getAs[Long]("thr_milli") >= -750L &&
        x.getAs[Long]("thr_milli") <= 750L)
      // both polarities exist, so the best stump never loses to chance
      assert(x.getAs[Long]("err_w") * 2 <= x.getAs[Long]("w_tot"),
        "weighted error must be <= 1/2")
      assert(x.getAs[Long]("alpha6") >= 0L)
    }
    val acc = r.head.getAs[Long]("ens_acc_ppm")
    assert(acc > 0L && acc <= 1000000L)
    assert(acc == r(1).getAs[Long]("ens_acc_ppm"))
  }

  test("t_llr: G-squared non-negative, marginal bounds, 200 rows") {
    val r = SparkEntry.queries("t_llr")(spark, dir).cache()
    assert(r.count() == 200)
    assert(r.filter(col("llr") < -1e-6).count() == 0,
      "G-squared is non-negative")
    assert(r.filter(col("c") > col("cw1") || col("c") > col("cw2"))
      .count() == 0, "a cell cannot exceed its marginal")
  }

  test("a75_nelson_aalen: monotone hazard, shrinking risk set") {
    val r = SparkEntry.queries("a75_nelson_aalen")(
      spark, dir).orderBy("day").collect()
    assert(r.length > 0)
    val hz = r.map(_.getAs[Double]("hazard"))
    assert(hz.zip(hz.tail).forall { case (a, b) => a <= b + 1e-12 },
      "cumulative hazard must be non-decreasing")
    val nr = r.map(_.getAs[Long]("n_risk"))
    assert(nr.zip(nr.tail).forall { case (a, b) => a >= b },
      "the risk set only shrinks")
    // d/n^2 <= d/n termwise => var <= hazard
    assert(r.forall(x => x.getAs[Double]("hazard_var") <=
      x.getAs[Double]("hazard") + 1e-12))
  }
}
