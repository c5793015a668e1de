package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-6 batch 19: closed-form isotonic regression — the oracled
  * twin of the MLlib PAV fit (`m25_isotonic`), the m5_ridge_closed
  * pattern. Net-new vs the reference (SURVEY.md §2.11).
  *
  * Isotonic regression's unique L2 projection admits the minimax
  * characterization ŷ(k) = max_{i≤k} min_{j≥k} mean(y over scores
  * i..j). After aggregating to (score, Σy, n) — ≤101 rows by
  * construction of the score lattice — every interval mean is ONE
  * IEEE division of exact BIGINT prefix-sum differences, and min/max
  * over identical double multisets are engine-exact, so the output
  * hash-matches with RAW doubles (no rounding; the v_randproj rule).
  * IsotonicSpec ties the MLlib PAV predictions to this twin.
  */
object Curation19Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // The interval enumeration is O(m³) in the number of DISTINCT
    // scores m — applied strictly AFTER the groupBy collapses the
    // event stream to m ≤ 101 rows, so the theta-join is a broadcast
    // of a tiny aggregated lattice, never of row-level data. (At an
    // unbounded score domain the scale path is the MLlib PAV in
    // m25_isotonic; this twin exists to be its exact oracle.)
    "m25_isotonic_closed" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir).select(
        ((col("event_id") * 37) % 101).as("score"),
        when(col("event_id") % 3 === 0, 1L).otherwise(0L).as("y"))
      val wr = Window.orderBy("score")
      val p = e.groupBy("score").agg(sum("y").as("k"), count(lit(1)).as("n"))
        .select(col("score"),
          row_number().over(wr).cast("long").as("r"),
          sum("k").over(wr.rowsBetween(Window.unboundedPreceding, 0))
            .as("ck"),
          sum("n").over(wr.rowsBetween(Window.unboundedPreceding, 0))
            .as("cn"))
      val pr = p.select(col("r"), col("ck"), col("cn"))
      val starts = pr.unionByName(
        s.range(1).select(lit(0L).as("r"), lit(0L).as("ck"),
          lit(0L).as("cn")))
      val iv = starts.as("a").join(pr.as("b"), col("b.r") > col("a.r"))
        .select((col("a.r") + 1).as("i"), col("b.r").as("j"),
          ((col("b.ck") - col("a.ck")).cast("double") /
            (col("b.cn") - col("a.cn")).cast("double")).as("avgv"))
      val ks = p.select(col("r").as("kk"), col("score"))
      iv.join(ks, col("i") <= col("kk") && col("j") >= col("kk"))
        .groupBy("kk", "score", "i").agg(min("avgv").as("mn"))
        .groupBy("kk", "score").agg(max("mn").as("calibrated"))
        .select(col("score"), col("calibrated"))
    }),

    // M25 gate (round 10): the MLlib distributed PAV fit must agree
    // with the closed-form minimax twin above at every lattice score
    // (both compute the unique L2 monotone projection; the only
    // admissible difference is ulp noise from MLlib's incremental
    // pool averaging vs the twin's exact integer-cumsum ratios —
    // integer-decided at 1e-9). This turns m25_isotonic's no_oracle
    // status into a driver-visible adversarial check: n_scores/
    // n_agree are DATA-DERIVED (the DuckDB oracle computes the
    // lattice size), so a solver divergence fails the hash.
    "m25_isotonic_gate" -> ((s, dir) => {
      import org.apache.spark.ml.regression.IsotonicRegression
      val e = graft.io.Tables.eventsUs(s, dir).select(
        ((col("event_id") * 37) % 101).cast("double").as("score"),
        when(col("event_id") % 3 === 0, 1.0).otherwise(0.0).as("label"))
      val model = new IsotonicRegression()
        .setFeaturesCol("score").setLabelCol("label").fit(e)
      val pav = model.transform(e.select(col("score")).distinct())
        .select(col("score").cast("long").as("score"),
          col("prediction").as("cal_pav"))
      val closed = graft.SparkEntry.queries("m25_isotonic_closed")(s, dir)
        .select(col("score").cast("long").as("score"),
          col("calibrated").as("cal_closed"))
      pav.join(closed, "score")
        .agg(count(lit(1)).as("n"),
          sum(when(floor(abs(col("cal_pav") - col("cal_closed")) * 1e9)
            === 0L, 1L).otherwise(0L)).as("agree"))
        .select(col("n").as("n_scores"), col("agree").as("n_agree"),
          when(col("agree") === col("n") && col("n") > 0L, 1L)
            .otherwise(0L).as("all_agree"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    // ADVERSARIAL gate oracle: n_scores/n_agree are the data-derived
    // lattice size — if MLlib PAV diverged from the closed form at
    // any score, n_agree would fall short and the hash fails.
    "m25_isotonic_gate" ->
      """WITH e AS (SELECT DISTINCT (event_id * 37) % 101 AS score
        | FROM events)
        |SELECT count(*)::BIGINT AS n_scores,
        | count(*)::BIGINT AS n_agree,
        | CAST(1 AS BIGINT) AS all_agree
        |FROM e""".stripMargin,

    "m25_isotonic_closed" ->
      """WITH e AS (SELECT (event_id * 37) % 101 AS score,
        |  CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END::BIGINT AS y
        | FROM events),
        |g AS (SELECT score, sum(y)::BIGINT AS k, count(*)::BIGINT AS n
        | FROM e GROUP BY score),
        |p AS (SELECT score,
        |  row_number() OVER (ORDER BY score)::BIGINT AS r,
        |  sum(k) OVER (ORDER BY score)::BIGINT AS ck,
        |  sum(n) OVER (ORDER BY score)::BIGINT AS cn
        | FROM g),
        |starts AS (SELECT r, ck, cn FROM p
        | UNION ALL SELECT 0, 0, 0),
        |iv AS (SELECT a.r + 1 AS i, b.r AS j,
        |  (b.ck - a.ck)::DOUBLE / (b.cn - a.cn)::DOUBLE AS avgv
        | FROM starts a JOIN p b ON b.r > a.r),
        |mn AS (SELECT ks.r AS kk, ks.score, iv.i, min(avgv) AS mn
        | FROM iv JOIN p ks ON iv.i <= ks.r AND iv.j >= ks.r
        | GROUP BY ks.r, ks.score, iv.i)
        |SELECT score, max(mn) AS calibrated
        |FROM mn GROUP BY kk, score""".stripMargin)
}
