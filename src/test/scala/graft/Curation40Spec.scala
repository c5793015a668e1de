package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-7 batch 40 (Curation40Q): meta-analysis
  * weight geometry, burstiness bounds, Hurst-exponent range, and
  * harmonic-centrality lattice identities. */
class Curation40Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("a82_meta_analysis: pooled effect inside the effect range") {
    val row = SparkEntry.queries("a82_meta_analysis")(
      spark, dir).head()
    assert(row.getAs[Long]("k") >= 2L)
    assert(row.getAs[Double]("pooled_se") > 0.0)
    assert(row.getAs[Double]("cochran_q") >= 0.0)
    val i2 = row.getAs[Double]("i2")
    assert(i2 >= 0.0 && i2 < 1.0)
    // a weighted mean cannot leave the hull of the effects: recompute
    // the per-type effects and check
    val e = graft.io.Tables.eventsUs(spark, dir).select(col("event_type"),
      (pmod(col("user_id"), lit(2L)) === 0L).cast("long").as("ia"),
      round(col("value") * 100).cast("long").as("c"))
    val eff = e.groupBy("event_type").agg(
      (sum(col("ia") * col("c")) / sum("ia") -
        sum((lit(1L) - col("ia")) * col("c")) /
          (count(lit(1)) - sum("ia"))).as("d"))
      .collect().map(_.getAs[Double]("d"))
    val p = row.getAs[Double]("pooled_effect")
    assert(p >= eff.min - 1e-6 && p <= eff.max + 1e-6,
      s"pooled $p outside [${eff.min}, ${eff.max}]")
  }

  test("t_burstiness: bounded in (-1,1), stopword-class terms even") {
    val r = SparkEntry.queries("t_burstiness")(spark, dir)
      .cache()
    assert(r.count() > 0)
    assert(r.filter(col("burstiness") <= -1.0 ||
      col("burstiness") >= 1.0).count() == 0)
    assert(r.filter(col("vmr") < 0.0).count() == 0)
    // identity: burstiness = (vmr-1)/(vmr+1) within rounding slack
    assert(r.filter(abs(col("burstiness") -
      (col("vmr") - 1.0) / (col("vmr") + 1.0)) > 1e-4).count() == 0)
    assert(r.filter(col("n_occ") < col("df")).count() == 0,
      "occurrences are at least one per containing doc")
  }

  test("a83_hurst: R/S positive, exponent in a sane band") {
    val r = SparkEntry.queries("a83_hurst")(spark, dir)
      .cache()
    assert(r.count() > 0)
    assert(r.filter(col("rs8") <= 0.0 || col("rs16") <= 0.0 ||
      col("rs32") <= 0.0).count() == 0)
    // R/S of a w-block is at most w (range of w unit-normalized steps)
    assert(r.filter(col("rs32") > 32.0).count() == 0)
    // iid-ish synthetic values: H should land in a wide sane band
    assert(r.filter(col("hurst") < -0.5 || col("hurst") > 1.5).count() == 0)
  }

  test("g17_harmonic: 8 seeds, score12 bounded by the reach lattice") {
    val r = SparkEntry.queries("g17_harmonic")(spark, dir)
      .cache()
    assert(r.count() == 8)
    // every reached node contributes 12/d with d in 1..4: so
    // 3·n <= score12 <= 12·n
    assert(r.filter(col("score12") > col("n_reached") * 12L ||
      col("score12") < col("n_reached") * 3L).count() == 0)
    assert(r.filter(col("n_reached") < 1L).count() == 0,
      "every seed has at least one neighbor (it has an edge)")
  }
}
