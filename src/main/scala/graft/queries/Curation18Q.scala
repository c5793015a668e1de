package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-5 batch 18 (final): Matthews correlation and Theil–Sen
  * robust slope. Net-new vs the reference (SURVEY.md §2.11). MCC's
  * confusion counts are exact BIGINTs with the denominator computed
  * as a mirrored double-product chain (the BIGINT product would
  * overflow at 2^63 first); Theil–Sen picks the median pairwise slope
  * by a total (double, pair-id) order — each slope is ONE division of
  * exact integers, so both engines sort identical doubles.
  */
object Curation18Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // Matthews correlation coefficient per segment — the single-number
    // classifier summary robust to class imbalance (accuracy and F1
    // both mislead there; m13's precision/recall need two numbers).
    // TP/FP/TN/FN are exact; the denominator multiplies as DOUBLES in
    // a pinned order (four exact-int casts, three correctly-rounded
    // products) because the integer product overflows 2^63 at ~55k
    // rows per cell.
    "m31_mcc" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir).select(col("event_type"),
        when(col("event_id") % 3 === 0, 1L).otherwise(0L).as("y"),
        when((col("event_id") * 37) % 101 >= 34, 1L).otherwise(0L).as("p"))
      val g = e.groupBy("event_type").agg(
        sum(when(col("y") === 1 && col("p") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === 0 && col("p") === 1, 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 0 && col("p") === 0, 1L).otherwise(0L)).as("tn"),
        sum(when(col("y") === 1 && col("p") === 0, 1L).otherwise(0L)).as("fn"))
      val num = (col("tp") * col("tn") - col("fp") * col("fn")).cast("double")
      val den = sqrt(
        (col("tp") + col("fp")).cast("double") *
          (col("tp") + col("fn")).cast("double") *
          (col("tn") + col("fp")).cast("double") *
          (col("tn") + col("fn")).cast("double"))
      // Each factor is guarded INDIVIDUALLY (no product in the guard):
      // the BIGINT triple product would overflow 2^63 at ~2M rows per
      // cell — Spark (non-ANSI) wraps silently while DuckDB raises, so
      // the guard itself would break query/oracle parity at scale.
      g.select(col("event_type"), col("tp"), col("fp"), col("tn"), col("fn"),
        when((col("tp") + col("fp")) =!= 0 && (col("tp") + col("fn")) =!= 0 &&
          (col("tn") + col("fp")) =!= 0 && (col("tn") + col("fn")) =!= 0,
          num / den).otherwise(lit(null).cast("double")).as("mcc"))
    }),

    // Theil–Sen robust trend slope per user: the MEDIAN of all
    // pairwise slopes (dy/dx over time-rank pairs) — immune to the
    // outliers that bend the w33 OLS slope. Each slope is one IEEE
    // division of exact integers (identical doubles on both engines),
    // the median is a type-1 pick on the total (slope, ia, ib) order.
    // Groups whose full pair count exceeds maxPairs are DOWNSAMPLED
    // deterministically (xxhash64 on the pair identity), and the
    // `sampled` flag rides the output row — no silent caps. The
    // default threshold sits far above the testdata group sizes, so
    // the oracle (which always enumerates all pairs) still matches.
    "a58_theilsen" -> ((s, dir) =>
      theilSen(s, dir, Curation17Q.PairBudget)))

  /** Theil–Sen core with an explicit per-group pair budget. When a
    * user's n·(n−1)/2 exceeds maxPairs, pairs are kept with
    * probability ≈ maxPairs/total via an integer-decided xxhash64
    * draw (u < (maxPairs·10⁶) DIV total on the millionth lattice) —
    * deterministic across runs and partitionings, and the slope
    * median is then computed over the sampled multiset (the standard
    * randomized Theil–Sen estimator). Sampled groups carry
    * sampled=true in-band.
    */
  def theilSen(s: org.apache.spark.sql.SparkSession, dir: String,
      maxPairs: Long): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val wu = Window.partitionBy("user_id")
    val e = graft.io.Tables.eventsUs(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        lattice(col("value"), 100).as("c"))
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n_obs", count(lit(1)).over(wu))
    val a = e.select(col("user_id"), col("n_obs"),
      col("i").as("ia"), col("c").as("ca"))
    val b = e.select(col("user_id"), col("i").as("ib"), col("c").as("cb"))
    val slopes = a.join(b, "user_id").filter(col("ib") > col("ia"))
      .withColumn("tot_pairs", expr("(n_obs * (n_obs - 1)) DIV 2"))
      .withColumn("sampled", col("tot_pairs") > maxPairs)
      .filter(!col("sampled") ||
        pmod(xxhash64(col("user_id"), col("ia"), col("ib")),
          lit(1000000L)) < expr(s"(${maxPairs}L * 1000000) DIV tot_pairs"))
      .select(col("user_id"), col("sampled"), col("ia"), col("ib"),
        ((col("cb") - col("ca")).cast("double") /
          (col("ib") - col("ia")).cast("double")).as("slope"))
    val wm = wu.orderBy(col("slope"), col("ia"), col("ib"))
    val ranked = slopes
      .withColumn("rk", row_number().over(wm).cast("long"))
      .withColumn("n", count(lit(1)).over(wu))
    ranked.filter(col("rk") === expr("(n + 1) DIV 2"))
      .select(col("user_id"), col("n").as("n_pairs"),
        col("slope").as("ts_slope"), col("sampled"))
  }

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "m31_mcc" ->
      """WITH e AS (SELECT event_type,
        |  CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END::BIGINT AS y,
        |  CASE WHEN (event_id * 37) % 101 >= 34 THEN 1 ELSE 0 END::BIGINT
        |    AS p
        | FROM events),
        |g AS (SELECT event_type,
        |  sum(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
        |  sum(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END)::BIGINT AS fp,
        |  sum(CASE WHEN y = 0 AND p = 0 THEN 1 ELSE 0 END)::BIGINT AS tn,
        |  sum(CASE WHEN y = 1 AND p = 0 THEN 1 ELSE 0 END)::BIGINT AS fn
        | FROM e GROUP BY 1)
        |SELECT event_type, tp, fp, tn, fn,
        | CASE WHEN (tp + fp) != 0 AND (tp + fn) != 0
        |   AND (tn + fp) != 0 AND (tn + fn) != 0 THEN
        |  (tp * tn - fp * fn)::DOUBLE
        |   / sqrt((tp + fp)::DOUBLE * (tp + fn)::DOUBLE
        |       * (tn + fp)::DOUBLE * (tn + fn)::DOUBLE)
        | END AS mcc
        |FROM g""".stripMargin,

    // Oracle is ALWAYS exhaustive — valid only below
    // Curation17Q.PairBudget pairs per group (n < 1415 obs); see
    // the PairBudget doc for the divergence contract.
    "a58_theilsen" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |r AS (SELECT user_id, c,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |    ::BIGINT AS i
        | FROM e),
        |p AS (SELECT a.user_id, a.i AS ia, b.i AS ib,
        |  (b.c - a.c)::DOUBLE / (b.i - a.i)::DOUBLE AS slope
        | FROM r a JOIN r b ON b.user_id = a.user_id AND b.i > a.i),
        |k AS (SELECT user_id, ia, ib, slope,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY slope, ia, ib) AS rk,
        |  count(*) OVER (PARTITION BY user_id) AS n
        | FROM p)
        |SELECT user_id, n::BIGINT AS n_pairs, slope AS ts_slope,
        | n > ${Curation17Q.PairBudget} AS sampled
        |FROM k WHERE rk = (n + 1) // 2""".stripMargin)
}
