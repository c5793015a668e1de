package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-7 batch 36 (Curation36Q): CvM rank
  * accounting, CDC chunk arithmetic, learning-curve monotonicity
  * (soft), and odds-ratio cell/CI identities. */
class Curation36Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("a76_cvm: sample sizes partition rows, statistic bounded below") {
    val r = SparkEntry.queries("a76_cvm")(spark, dir).head()
    val n = r.getAs[Long]("n"); val m = r.getAs[Long]("m")
    assert(n + m == graft.io.Tables.eventsUs(spark, dir).count())
    assert(n > 0 && m > 0)
    // T >= -(4nm-1)/(6(n+m)) trivially since U >= 0; and U >= 0
    assert(r.getAs[Double]("u_dbl") >= 0.0)
    val floor = -(4.0 * n * m - 1.0) / (6.0 * (n + m))
    assert(r.getAs[Double]("t_stat") >= floor - 1e-6)
  }

  test("d_cdc_chunks: chunk arithmetic and signature lattice") {
    val r = SparkEntry.queries("d_cdc_chunks")(spark, dir)
      .cache()
    assert(r.count() > 0)
    assert(r.filter(col("n_chunks") < 1L).count() == 0)
    assert(r.filter(col("boundary_sig") < 0L ||
      col("boundary_sig") >= 1000000007L).count() == 0)
    // mean chunk length * chunks ~ doc length (rounding slack)
    assert(r.filter(abs(col("mean_chunk_len") * col("n_chunks") -
      col("n_chars_az")) > col("n_chunks") * 1e-5).count() == 0)
    // no boundaries possible on docs shorter than the window
    assert(r.filter(col("n_chars_az") < 8L && col("n_chunks") =!= 1L)
      .count() == 0)
  }

  test("m39_learning_curve: nested subsets, fixed test set, exact ppm") {
    val r = SparkEntry.queries("m39_learning_curve")(
      spark, dir).orderBy("train_pct").collect()
    assert(r.length == 4)
    assert(r.map(_.getAs[Long]("train_pct")).sameElements(
      Array(25L, 50L, 75L, 100L)))
    // nested: n_train strictly increases; test set identical
    val nt = r.map(_.getAs[Long]("n_train"))
    assert(nt.zip(nt.tail).forall { case (a, b) => a < b })
    assert(r.map(_.getAs[Long]("n_test")).distinct.length == 1)
    r.foreach { x =>
      assert(x.getAs[Long]("acc_ppm") ==
        x.getAs[Long]("n_correct") * 1000000L / x.getAs[Long]("n_test"))
    }
    // the 100% row IS m36's split: cross-check accuracy
    val m36 = SparkEntry.queries("m36_nb_clf")(spark, dir)
      .agg(sum("correct"), count(lit(1))).head()
    assert(r(3).getAs[Long]("n_correct") == m36.getLong(0))
    assert(r(3).getAs[Long]("n_test") == m36.getLong(1))
  }

  test("a77_odds_ratio: cells partition sources, CI brackets the point") {
    val r = SparkEntry.queries("a77_odds_ratio")(spark, dir)
      .cache()
    assert(r.count() > 0)
    val tot = r.agg(sum(col("a") + col("b") + col("c") + col("d")))
      .head().getLong(0)
    assert(tot == graft.queries.Q.documents(spark, dir).count())
    assert(r.filter(col("odds_ratio") <= 0.0).count() == 0)
    assert(r.filter(col("ln_or_lo") > col("ln_or") ||
      col("ln_or") > col("ln_or_hi")).count() == 0,
      "the CI must bracket the point estimate")
  }
}
