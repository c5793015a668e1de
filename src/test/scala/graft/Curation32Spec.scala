package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-7 batch 32 (Curation32Q): Viterbi cost
  * identities + a hand-computed golden, DTW lower bounds + the
  * identical-series zero, MMR greedy-selection monotonicity, and
  * bitmap-index accounting. */
class Curation32Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Run `body` on the dir of a tiny events table (t_rouge pattern). */
  private def withEvents[T](rows: Seq[(Long, Long, Long, Double)])(
      body: String => T): T = withTempDir("c32") { tmp =>
    import spark.implicits._
    rows.toDF("event_id", "user_id", "ts_off", "value")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(
          lit(1704067200000000L) + col("ts_off") * 1000000L).as("ts"),
        col("user_id").cast("string").as("event_type"), col("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    body(tmp)
  }

  test("w65_viterbi: cost identities and a hand-computed golden") {
    val r = SparkEntry.queries("w65_viterbi")(spark, dir)
      .cache()
    assert(r.count() > 0)
    assert(r.filter(col("best_cost") =!=
      least(col("cost_engaged"), col("cost_idle"))).count() == 0)
    assert(r.filter(col("n_obs") > 16 || col("n_obs") < 1).count() == 0)
    assert(r.filter((col("best_state") === "engaged") =!=
      (col("cost_engaged") <= col("cost_idle"))).count() == 0)
    // golden: obs = [high, low] (values 150.00, 3.00).
    // step1: v0 = T00+EH0 = 223+511 = 734; v1 = T01+EH1 = 1609+1609 = 3218
    // step2: v0 = min(734+223, 3218+1204)+916 = 957+916 = 1873
    //        v1 = min(734+1609, 3218+357)+223 = 2343+223 = 2566
    withEvents(Seq((1L, 7L, 10L, 150.0), (2L, 7L, 20L, 3.0))) { tmp =>
      val g = SparkEntry.queries("w65_viterbi")(spark, tmp)
        .head()
      assert(g.getAs[Long]("cost_engaged") == 1873L)
      assert(g.getAs[Long]("cost_idle") == 2566L)
      assert(g.getAs[String]("best_state") == "engaged")
    }
  }

  test("w66_dtw: non-negative, zero iff aligned-identical series") {
    val r = SparkEntry.queries("w66_dtw")(spark, dir).cache()
    assert(r.count() > 0)
    assert(r.filter(col("dtw") < 0L).count() == 0)
    // two users with identical 8-value series -> dtw = 0; a third
    // shifted by a constant 1.00 -> dtw > 0
    val vals = Seq(1.0, 5.0, 2.0, 8.0, 3.0, 9.0, 4.0, 7.0)
    val rows = for {
      (u, off) <- Seq((1L, 0.0), (2L, 0.0), (3L, 1.0))
      (v, i) <- vals.zipWithIndex
    } yield ((u * 100 + i).toLong, u, (i * 10).toLong, v + off)
    withEvents(rows) { tmp =>
      val g = SparkEntry.queries("w66_dtw")(spark, tmp)
        .orderBy("user_a").collect()
      assert(g.length == 2)
      assert(g(0).getAs[Long]("dtw") == 0L, "identical series align at 0")
      assert(g(1).getAs[Long]("dtw") > 0L, "shifted series cost > 0")
    }
  }

  test("s_mmr: 4 distinct picks, first is pure relevance, scores bounded") {
    val r = SparkEntry.queries("s_mmr")(spark, dir)
      .orderBy("mmr_rank").collect()
    assert(r.length == 4)
    assert(r.map(_.getAs[Long]("vec_id")).distinct.length == 4)
    // round 1 has no diversity penalty
    assert(r(0).getAs[Long]("score6") == r(0).getAs[Long]("rel6"))
    // rank 1 is the relevance argmax of the selected set; later
    // penalties are a cosine, so |score6 - rel6| <= 1e6 (the penalty
    // can be NEGATIVE: anti-correlated candidates get a bonus)
    assert(r(0).getAs[Long]("rel6") == r.map(_.getAs[Long]("rel6")).max)
    assert(r.forall(x =>
      math.abs(x.getAs[Long]("score6") - x.getAs[Long]("rel6")) <= 1000000L))
  }

  test("o27_bitmap: masks account for rows, AND readout consistent") {
    val r = SparkEntry.queries("o27_bitmap")(spark, dir)
      .cache()
    assert(r.count() > 0)
    // n_and = popcount(mask_and), and both masks are subsets of the
    // bucket's occupied bits (popcount <= n_rows)
    assert(r.filter(col("n_and") =!=
      bit_count(col("mask_and")).cast("long")).count() == 0)
    assert(r.filter(bit_count(col("mask_r")).cast("long") > col("n_rows") ||
      bit_count(col("mask_q")).cast("long") > col("n_rows")).count() == 0)
    // total indexed rows = lineitem row count (rids are unique)
    val total = r.agg(sum("n_rows")).head().getLong(0)
    val li = graft.queries.Q.lineitem(spark, dir).count()
    assert(total == li, "bitmap must index every lineitem row exactly once")
    // AND is a subset of each operand
    assert(r.filter(col("n_and") > bit_count(col("mask_r")).cast("long") ||
      col("n_and") > bit_count(col("mask_q")).cast("long")).count() == 0)
  }
}
