package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{EwmAvg, Scalars}
import graft.operators.Temporal
import Q._

/** The reference's feature-engineering stage as ONE dataflow
  * (`engineer_advanced_features` + `add_sequence_features` +
  * `add_ensemble_features`, `main_cuda.py:145-292` — E1 step 2): all
  * scalar derivations and every per-entity window feature computed in
  * a single pass over the tracking table. This is the direct analog of
  * BASELINE.md's 157 s pandas stage: every window shares one exchange
  * on the entity key; the formation stats share one exchange on the
  * (game, play, side) key.
  *
  * Engine-portability contract (ORACLE_NOTES.md): every windowed float
  * stat rides an exact-integer lattice — `c = round(s*1000)` for speed
  * (3-decimal), `cd = round(dir_change*100)` for angles (centi-degree)
  * — so the frame's sum/sum-of-squares/count are exact BIGINTs in both
  * engines and only ONE final IEEE-deterministic division produces the
  * double. Rolled doubles summed in float drift across DuckDB versions
  * (segment-tree vs running-frame summation order): that class bit this
  * exact query in rounds 2 and 3.
  *
  * Registered three ways: the full composite plus two bisection halves
  * (`_trig` = rounded libm scalars only, `_windows` = windowed stats
  * only) so any future drift localizes to a column class immediately.
  */
object FeatureStageQ extends QueryModule {

  private val keyCols = Seq("game_id", "play_id", "nfl_id", "frame_id")
  private val trigCols = Seq("vx", "vy", "dist_ball", "angle_ball",
    "dist_center", "dist_sideline", "cyc_sin", "is_offense")
  private val windowCols = Seq("lag1_x", "lag2_x", "roll_mean3_s",
    "roll_std5_s", "dx", "jerk_s", "ema_s", "dir_change",
    "route_sharpness", "frames_elapsed", "side_mean_s", "side_std_s")

  /** All E1 feature columns in one pass; the registered queries select
    * subsets of this frame. */
  private def full(s: SparkSession, dir: String): DataFrame = {
    val f = TrackingQ.frames(s, dir)
    val entity = Seq(col("game_id"), col("play_id"), col("nfl_id"))
    val w = Temporal.spec(entity, Seq(col("frame_id")))
    val wSide = Window.partitionBy("game_id", "play_id", "player_side")

    // Deterministic ball-landing analog (the real one is an input
    // column; the synth tables have none).
    val tx = (col("game_id") % 40 + 40).cast("double")
    val ty = ((col("play_id") * 10) + 5).cast("double")
    val vx = Scalars.velocityX(col("s"), col("dir"))
    val vy = Scalars.velocityY(col("s"), col("dir"))

    // Exact-integer lattices: s = quantity/5 with 2-decimal quantities
    // so round(s*1000) is exact; dir sits on a 0.05-degree lattice so
    // dir_change (a difference of lattice points, ±360) is exact in
    // centi-degrees. All rolling/group stats below ride these longs.
    val c = lattice(col("s"), 1000)
    val cd = lattice(col("dir_change"), 100)
    val n = count(c).over(wSide)
    val s1 = sum(c).over(wSide).cast("double")
    val s2 = sum(c * c).over(wSide).cast("double")

    f.withColumn("dir_change", Scalars.angleWrap(Temporal.diff(col("dir"), w)))
      .select(
        col("game_id"), col("play_id"), col("nfl_id"), col("frame_id"),
        r6(vx).as("vx"),
        r6(vy).as("vy"),
        r6(Scalars.distTo(col("x"), col("y"), tx, ty)).as("dist_ball"),
        r6(Scalars.angleTo(col("x"), col("y"), tx, ty)).as("angle_ball"),
        r6(Scalars.distFromCenter(col("x"), col("y"))).as("dist_center"),
        r6(Scalars.distFromSideline(col("y"))).as("dist_sideline"),
        r6(Scalars.cycleSin(col("frame_id"), 10.0)).as("cyc_sin"),
        Scalars.oneHot(col("player_side"), "Offense").cast("long").as("is_offense"),
        Temporal.lagK(col("x"), 1, w).as("lag1_x"),
        Temporal.lagK(col("x"), 2, w).as("lag2_x"),
        Temporal.rollingMeanExact(c, 3, w, 1000).as("roll_mean3_s"),
        r6(Temporal.rollingStdExact(c, 5, w, 1000)).as("roll_std5_s"),
        Temporal.diff(col("x"), w).as("dx"),
        // + 0.0 normalizes IEEE negative zero (mirrored in the oracle):
        // the second difference crosses zero with ~1e-16 FP error on 28
        // sf0.01 rows, and round(-2e-16, 6) is -0.0 in DuckDB (libm,
        // sign-preserving) but +0.0 in Spark (BigDecimal HALF_UP has no
        // signed zero). Numerically equal, hash-DIFFERENT — this exact
        // column was the r2-r4 e1_features driver-hash drift.
        (r6(Temporal.delta2(col("s"), w)) + lit(0.0)).as("jerk_s"),
        // alpha = 0.5 (in the reference's {0.3, 0.5, 0.7} set,
        // `main_mps.py:231-240`), UNROUNDED — same reasoning as
        // w5_ema: a dyadic alpha makes the recursion bitwise
        // identical across engines, and no rounding of a recursion
        // is safe for non-dyadic alphas (commit ce6d705).
        EwmAvg.ewmAvg(col("s"), 0.5, entity, Seq(col("frame_id")))
          .as("ema_s"),
        r6(Scalars.angleWrap(Temporal.diff(col("dir"), w))).as("dir_change"),
        r6(Temporal.rollingStdExact(cd, 3, w, 100)).as("route_sharpness"),
        Temporal.cumCount(w).cast("long").as("frames_elapsed"),
        ((s1 / n) / 1000).as("side_mean_s"),
        r6(sqrt((s2 - s1 * s1 / n) / (n - lit(1))) / 1000).as("side_std_s"))
  }

  // Per-class bisection of the windows half (e1_features has hash-
  // drifted on the DRIVER's DuckDB in r2-r4 while matching the local
  // 1.0.0 — these four subsets make the next driver run name the
  // drifting column class directly):
  //   _w_lags  — raw copies/ints (can only drift if x itself does)
  //   _w_roll  — exact-integer rolling stats (rule-1 lattice)
  //   _w_ema   — dyadic recursion + rounded lattice scalars
  //   _w_side  — exact-integer group stats over the side key
  private val lagCols = Seq("lag1_x", "lag2_x", "dx", "frames_elapsed")
  private val rollCols = Seq("roll_mean3_s", "roll_std5_s", "route_sharpness")
  private val emaCols = Seq("ema_s", "jerk_s", "dir_change")
  private val sideCols = Seq("side_mean_s", "side_std_s")

  val queries: Seq[(String, QueryFn)] = Seq(
    "e1_features" -> ((s, dir) => full(s, dir)),
    "e1_features_trig" -> ((s, dir) =>
      full(s, dir).select((keyCols ++ trigCols).map(col): _*)),
    "e1_features_windows" -> ((s, dir) =>
      full(s, dir).select((keyCols ++ windowCols).map(col): _*)),
    "e1_w_lags" -> ((s, dir) =>
      full(s, dir).select((keyCols ++ lagCols).map(col): _*)),
    "e1_w_roll" -> ((s, dir) =>
      full(s, dir).select((keyCols ++ rollCols).map(col): _*)),
    "e1_w_ema" -> ((s, dir) =>
      full(s, dir).select((keyCols ++ emaCols).map(col): _*)),
    "e1_w_side" -> ((s, dir) =>
      full(s, dir).select((keyCols ++ sideCols).map(col): _*)))

  private val FullSql: String =
    s"""WITH ${TrackingQ.FramesSql},
       |b AS (SELECT *,
       |  dir - lag(dir, 1) OVER w AS raw_dc,
       |  ${latticeSql("s", 1000)} AS c
       | FROM frames
       | WINDOW w AS (PARTITION BY game_id, play_id, nfl_id ORDER BY frame_id)),
       |d AS (SELECT *,
       |  CASE WHEN abs(raw_dc) >= 180.0 THEN raw_dc - 360.0 * sign(raw_dc)
       |       ELSE raw_dc END AS dir_change
       | FROM b),
       |e AS (SELECT *, ${latticeSql("dir_change", 100)} AS cd FROM d)
       |SELECT game_id, play_id, nfl_id, frame_id,
       | round(s * sin(radians(dir)), 6) AS vx,
       | round(s * cos(radians(dir)), 6) AS vy,
       | round(sqrt((CAST(game_id % 40 + 40 AS DOUBLE) - x) * (CAST(game_id % 40 + 40 AS DOUBLE) - x)
       |          + (CAST(play_id * 10 + 5 AS DOUBLE) - y) * (CAST(play_id * 10 + 5 AS DOUBLE) - y)), 6) AS dist_ball,
       | round(atan2(CAST(play_id * 10 + 5 AS DOUBLE) - y, CAST(game_id % 40 + 40 AS DOUBLE) - x), 6) AS angle_ball,
       | round(sqrt((x - 60.0) * (x - 60.0) + (y - 26.65) * (y - 26.65)), 6) AS dist_center,
       | round(least(y, 53.3 - y), 6) AS dist_sideline,
       | round(sin(frame_id * 2 * pi() / 10.0), 6) AS cyc_sin,
       | CAST(CASE WHEN player_side = 'Offense' THEN 1 ELSE 0 END AS BIGINT) AS is_offense,
       | lag(x, 1) OVER w AS lag1_x,
       | lag(x, 2) OVER w AS lag2_x,
       | (CAST(sum(c) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
       |   / count(c) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) / 1000 AS roll_mean3_s,
       | round(CASE WHEN count(c) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) > 1 THEN
       |   sqrt((CAST(sum(c * c) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
       |     - CAST(sum(c) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
       |       * CAST(sum(c) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
       |       / count(c) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
       |     / (count(c) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) - 1)) / 1000
       |   END, 6) AS roll_std5_s,
       | x - lag(x, 1) OVER w AS dx,
       | round(s - 2 * lag(s, 1) OVER w + lag(s, 2) OVER w, 6) + 0.0 AS jerk_s,
       | list_reduce(list(s) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |   (acc, v) -> 0.5 * v + 0.5 * acc) AS ema_s,
       | round(dir_change, 6) AS dir_change,
       | round(CASE WHEN count(cd) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) > 1 THEN
       |   sqrt((CAST(sum(cd * cd) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
       |     - CAST(sum(cd) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
       |       * CAST(sum(cd) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
       |       / count(cd) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
       |     / (count(cd) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) - 1)) / 100
       |   END, 6) AS route_sharpness,
       | row_number() OVER w - 1 AS frames_elapsed,
       | (CAST(sum(c) OVER ws AS DOUBLE) / count(c) OVER ws) / 1000 AS side_mean_s,
       | round(sqrt((CAST(sum(c * c) OVER ws AS DOUBLE)
       |   - CAST(sum(c) OVER ws AS DOUBLE) * CAST(sum(c) OVER ws AS DOUBLE) / count(c) OVER ws)
       |   / (count(c) OVER ws - 1)) / 1000, 6) AS side_std_s
       |FROM e
       |WINDOW w AS (PARTITION BY game_id, play_id, nfl_id ORDER BY frame_id),
       |       ws AS (PARTITION BY game_id, play_id, player_side)""".stripMargin

  val oracle: Seq[(String, String)] = Seq(
    "e1_features" -> FullSql,
    "e1_features_trig" ->
      s"""SELECT ${(keyCols ++ trigCols).mkString(", ")}
         |FROM ($FullSql) t""".stripMargin,
    "e1_features_windows" ->
      s"""SELECT ${(keyCols ++ windowCols).mkString(", ")}
         |FROM ($FullSql) t""".stripMargin,
    "e1_w_lags" ->
      s"""SELECT ${(keyCols ++ lagCols).mkString(", ")}
         |FROM ($FullSql) t""".stripMargin,
    "e1_w_roll" ->
      s"""SELECT ${(keyCols ++ rollCols).mkString(", ")}
         |FROM ($FullSql) t""".stripMargin,
    "e1_w_ema" ->
      s"""SELECT ${(keyCols ++ emaCols).mkString(", ")}
         |FROM ($FullSql) t""".stripMargin,
    "e1_w_side" ->
      s"""SELECT ${(keyCols ++ sideCols).mkString(", ")}
         |FROM ($FullSql) t""".stripMargin)
}
