package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-7 batch 41 (Curation41Q): HLL register
  * lattice bounds, replay-estimator accounting, and clustering-
  * coefficient range/identities. */
class Curation41Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val dir01 = "/root/testdata/sf0.01" // clustcoef needs triangles

  test("w70_stream_hll: registers on the lattice, rows accounted") {
    val r = SparkEntry.queries("w70_stream_hll")(spark, dir)
      .cache()
    assert(r.count() > 0)
    assert(r.filter(col("bucket") < 0L || col("bucket") > 63L).count() == 0)
    assert(r.filter(col("rho_max") < 1L || col("rho_max") > 15L)
      .count() == 0)
    // the windowed registers partition the event stream
    val total = r.agg(sum("n_rows")).head().getLong(0)
    assert(total == graft.io.Tables.eventsUs(spark, dir).count())
    // register keys are unique per (window, bucket)
    assert(r.select("win_start", "bucket").distinct().count() == r.count())
  }

  test("m42_replay_eval: matched subset accounting, rates in [0,1]") {
    val row = SparkEntry.queries("m42_replay_eval")(
      spark, dir).head()
    val n = row.getAs[Long]("n_events")
    val m = row.getAs[Long]("n_matched")
    assert(n == graft.io.Tables.eventsUs(spark, dir).count())
    assert(m > 0 && m < n, "greedy-on-click keeps a strict subset")
    assert(row.getAs[Long]("n_reward") <= m)
    val rr = row.getAs[Double]("replay_reward_rate")
    val lr = row.getAs[Double]("logged_reward_rate")
    assert(rr >= 0.0 && rr <= 1.0 && lr >= 0.0 && lr <= 1.0)
  }

  test("g18_clustcoef: cc in [0,1], triangle-degree identities") {
    val r = SparkEntry.queries("g18_clustcoef")(spark, dir01)
      .cache()
    assert(r.count() > 0)
    assert(r.filter(col("cc") < 0.0 || col("cc") > 1.0).count() == 0,
      "clustering coefficient is a fraction of realized wedges")
    // tri(v) <= deg(deg-1)/2 exactly (cc <= 1 via integers)
    assert(r.filter(col("tri") * 2L > col("deg") * (col("deg") - 1L))
      .count() == 0)
    assert(r.filter(col("deg") < 2L).count() == 0)
    // 3·(total triangles) = sum of per-node triangle counts
    val triSum = r.agg(sum("tri")).head().getLong(0)
    assert(triSum % 3 == 0, "each triangle counts at exactly 3 corners")
  }
}
