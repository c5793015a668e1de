package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-7 batch 38 (Curation38Q): k-truss
  * support floors, vacuum-plan set logic, the Shapley efficiency
  * identity, and Cohen's d accounting. */
class Curation38Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  // ktruss needs a graph dense enough to hold triangles
  private val dir01 = "/root/testdata/sf0.01"

  test("g16_ktruss: survivors meet the support floor, proper edges") {
    val r = SparkEntry.queries("g16_ktruss")(spark, dir01)
      .cache()
    assert(r.count() > 0, "the sf0.01 co-supply graph holds a 4-truss")
    assert(r.filter(col("support") < 2L).count() == 0,
      "every surviving edge sits in >= 2 surviving triangles")
    assert(r.filter(col("a") >= col("b")).count() == 0)
    assert(r.select("a", "b").distinct().count() == r.count())
  }

  test("o31_vacuum_plan: only pre-horizon removals are reclaimable") {
    val r = SparkEntry.queries("o31_vacuum_plan")(spark, dir)
      .cache()
    assert(r.count() == 50)
    // vacuumable iff removed at or before version 35
    assert(r.filter((col("vacuumable") === 1L) =!=
      (col("removed_v").isNotNull && col("removed_v") <= 35L)).count() == 0)
    // never-removed files are never vacuumable
    assert(r.filter(col("removed_v").isNull && col("vacuumable") === 1L)
      .count() == 0)
    // payoff accounting
    assert(r.filter(col("vacuumable") === 1L &&
      col("reclaimable_rows") =!= col("n_rows")).count() == 0)
    assert(r.filter(col("vacuumable") === 0L &&
      col("reclaimable_rows") =!= 0L).count() == 0)
  }

  test("m40_shapley: efficiency identity holds exactly per row and in sum") {
    val r = SparkEntry.queries("m40_shapley")(spark, dir)
      .cache()
    assert(r.count() > 0)
    // phi0 + phi1 = F(x)·n − E[F]·n, exactly (all BIGINTs)
    assert(r.filter(col("phi0_n") + col("phi1_n") =!=
      col("fx_n") - col("base_n")).count() == 0,
      "Shapley efficiency must hold per row")
    // attributions are centered: Σ_rows φ_j = 0 for each feature
    val t = r.agg(sum("phi0_n"), sum("phi1_n")).head()
    assert(t.getLong(0) == 0L && t.getLong(1) == 0L,
      "per-feature attributions sum to zero over the data")
  }

  test("a80_cohens_d: arms partition each type, d finite") {
    val r = SparkEntry.queries("a80_cohens_d")(spark, dir)
      .cache()
    assert(r.count() > 0)
    val byType = graft.io.Tables.eventsUs(spark, dir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    r.collect().foreach { x =>
      assert(x.getAs[Long]("na") + x.getAs[Long]("nb") ==
        byType(x.getAs[String]("event_type")))
      assert(!x.getAs[Double]("cohens_d").isNaN)
    }
  }
}
