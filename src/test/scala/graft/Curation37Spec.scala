package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-7 batch 37 (Curation37Q): TextRank score
  * conservation-ish bounds, permutation-test p-value validity,
  * encoding-advisor rule consistency, and DP noise accounting. */
class Curation37Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("t_textrank: positive lattice scores, ordered head") {
    val r = SparkEntry.queries("t_textrank")(spark, dir)
      .collect()
    assert(r.nonEmpty && r.length <= 50)
    // every rank carries at least the teleport mass 0.15 on the 1e6
    // lattice, and the emitted head is score-descending
    assert(r.forall(_.getAs[Long]("rank6") >= 150000L))
    val sc = r.map(_.getAs[Long]("rank6"))
    assert(sc.zip(sc.tail).forall { case (a, b) => a >= b })
    assert(r.map(_.getAs[String]("term")).distinct.length == r.length)
  }

  test("a78_perm_test: valid p-value, observed split accounted") {
    val r = SparkEntry.queries("a78_perm_test")(spark, dir)
      .head()
    assert(r.getAs[Long]("n_perms") == 100L)
    val nGe = r.getAs[Long]("n_ge")
    assert(nGe >= 0L && nGe <= 100L)
    val p = r.getAs[Double]("p_value")
    assert(p > 0.0 && p <= 1.0)
    assert(math.abs(p - (nGe + 1.0) / 101.0) < 1e-6)
    assert(r.getAs[Long]("n_obs") > 0 &&
      r.getAs[Long]("n_obs") < r.getAs[Long]("n_all"))
  }

  test("o30_encoding_advisor: rules decide exactly as written") {
    val r = SparkEntry.queries("o30_encoding_advisor")(
      spark, dir).cache()
    assert(r.count() > 0)
    assert(r.select("column_name").distinct().count() == 2)
    val bad = r.filter(
      (col("advice") === "rle") =!= (col("runs") * 3L <= col("n_rows")) ||
      ((col("advice") === "dict") =!= (!(col("runs") * 3L <= col("n_rows"))
        && col("n_distinct") * 8L <= col("n_rows")))).count()
    assert(bad == 0, "advice must follow the rule precedence")
    // runs >= distinct always (each value needs at least one run)
    assert(r.filter(col("runs") < col("n_distinct")).count() == 0)
  }

  test("a79_dp_counts: noise accounting and bounded magnitude") {
    val r = SparkEntry.queries("a79_dp_counts")(spark, dir)
      .cache()
    assert(r.count() > 0)
    // noisy = true + noise (rounding slack), |noise| = abs_err
    assert(r.filter(abs(col("noisy_count") - col("true_count") -
      col("noise")) > 2e-6).count() == 0)
    assert(r.filter(abs(abs(col("noise")) - col("abs_err")) > 2e-6)
      .count() == 0)
    // u in [5e-7, 1-5e-7] bounds Laplace(b=2) noise by 2·ln(1e6) ~ 27.6
    assert(r.filter(col("abs_err") > 28.0).count() == 0)
  }
}
