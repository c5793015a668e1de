package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Scalars
import graft.operators.{Spatial, Temporal}
import Q._

/** Registered queries for the tracking-domain operators: the pairwise
  * spatial kernel (SURVEY §2.5 K1), the GNN-lite branch (E1.3), the
  * training-row builder (J1), test-template expansion (J5) and the
  * physics baseline (M7) — all over a deterministic tracking-shaped
  * `frames` table synthesized from lineitem so the DuckDB oracle can
  * reproduce it exactly.
  *
  * The typed flatMapGroups kernel is checked against a pure-SQL
  * relational oracle — the strongest cross-engine check in the suite.
  */
object TrackingQ extends QueryModule {

  /** Deterministic tracking-shaped table: one row per
    * (game_id, play_id, frame_id, nfl_id). Mirrored 1:1 by [[FramesSql]]. */
  def frames(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
    val base = li.select(
      (col("l_orderkey") % 200).as("game_id"),
      (expr("l_orderkey div 200") % 4).as("play_id"),
      col("l_linenumber").cast("long").as("frame_id"),
      (col("l_suppkey") % 40).as("nfl_id"),
      ((col("l_partkey") % 1200).cast("double") / 10).as("x"),
      ((col("l_suppkey") % 533).cast("double") / 10).as("y"),
      (col("l_quantity") / 5).as("s"),
      // dir deliberately avoids the integer-degree lattice: sin/cos of
      // whole degrees yield short-decimal values (0, ±0.5, ±1) whose
      // products with 2-decimal s land exactly on 6-dp rounding
      // boundaries, where Spark's exact-binary HALF_UP and DuckDB's
      // shortest-repr rounding disagree. Tenth-degree + 0.05 keeps
      // every compared trig product off the tick.
      ((col("l_partkey") % 3600).cast("double") / 10 + 0.05).as("dir"),
      when(col("l_suppkey") % 2 === 0, "Offense").otherwise("Defense")
        .as("player_side"),
      col("l_orderkey"), col("l_partkey"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("game_id", "play_id", "frame_id", "nfl_id")
      .orderBy("l_orderkey", "l_partkey")
    // One exchange serves the whole tracking key family: hash on the
    // coarse (game, play, entity) key satisfies ClusteredDistribution
    // for every finer window downstream (dedup on (g,p,f,n) here,
    // group-tail on (g,p,n) later) — no second shuffle.
    base.repartition(col("game_id"), col("play_id"), col("nfl_id"))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn", "l_orderkey", "l_partkey")
  }

  /** DuckDB mirror of [[frames]]. l_orderkey/200 is integer division in
    * both engines (Long / Long in Spark, // in DuckDB). */
  val FramesSql: String =
    """frames AS (
      | SELECT game_id, play_id, frame_id, nfl_id, x, y, s, dir, player_side
      | FROM (
      |  SELECT l_orderkey % 200 AS game_id,
      |   (l_orderkey // 200) % 4 AS play_id,
      |   CAST(l_linenumber AS BIGINT) AS frame_id,
      |   l_suppkey % 40 AS nfl_id,
      |   CAST(l_partkey % 1200 AS DOUBLE) / 10 AS x,
      |   CAST(l_suppkey % 533 AS DOUBLE) / 10 AS y,
      |   l_quantity / 5 AS s,
      |   CAST(l_partkey % 3600 AS DOUBLE) / 10 + 0.05 AS dir,
      |   CASE WHEN l_suppkey % 2 = 0 THEN 'Offense' ELSE 'Defense' END AS player_side,
      |   row_number() OVER (PARTITION BY l_orderkey % 200, (l_orderkey // 200) % 4,
      |     l_linenumber, l_suppkey % 40 ORDER BY l_orderkey, l_partkey) AS rn
      |  FROM lineitem)
      | WHERE rn = 1)""".stripMargin

  /** Last observed frame per entity with velocity decomposition —
    * shared by J1/J5/M7 (`main_cuda.py:405-431`). */
  private def lastFrames(s: SparkSession, dir: String): DataFrame =
    Temporal.groupTail(frames(s, dir),
      Seq(col("game_id"), col("play_id"), col("nfl_id")), Seq(col("frame_id")))
      .withColumn("vx", Scalars.velocityX(col("s"), col("dir")))
      .withColumn("vy", Scalars.velocityY(col("s"), col("dir")))

  private val LastSql: String =
    """last AS (
      | SELECT *, s * sin(radians(dir)) AS vx, s * cos(radians(dir)) AS vy
      | FROM (SELECT *, row_number() OVER (PARTITION BY game_id, play_id, nfl_id
      |   ORDER BY frame_id DESC) AS rn FROM frames)
      | WHERE rn = 1)""".stripMargin

  val queries: Seq[(String, QueryFn)] = Seq(
    // K1: typed per-frame pairwise kernel (flatMapGroups) — verified
    // against the relational SQL oracle below.
    "k1_pairwise" -> ((s, dir) => {
      import s.implicits._
      val ds = frames(s, dir).select(
        col("game_id"), col("play_id").cast("int").as("play_id"),
        col("frame_id").cast("int").as("frame_id"),
        col("nfl_id").cast("int").as("nfl_id"),
        col("x"), col("y"), col("s"), col("dir"), col("player_side"))
        .as[Spatial.PlayerFrame]
      Spatial.pairwiseStats(ds).toDF().select(
        col("game_id"), col("play_id").cast("long").as("play_id"),
        col("frame_id").cast("long").as("frame_id"),
        col("nfl_id").cast("long").as("nfl_id"),
        r6(col("mean_dist_all")).as("mean_dist_all"),
        r6(col("min_dist_all")).as("min_dist_all"),
        r6(col("max_dist_all")).as("max_dist_all"),
        r6(col("mean_dist_opp")).as("mean_dist_opp"),
        r6(col("min_dist_opp")).as("min_dist_opp"),
        r6(col("mean_dist_team")).as("mean_dist_team"),
        r6(col("min_dist_team")).as("min_dist_team"),
        col("nearest_opp_id").cast("long").as("nearest_opp_id"),
        r6(col("nearest_opp_dist")).as("nearest_opp_dist"),
        r6(col("nearest_opp_angle")).as("nearest_opp_angle"),
        r6(col("nearest_opp_rel_speed")).as("nearest_opp_rel_speed"),
        // circ_mean_angle_all is computed by the kernel but NOT part of
        // the hash-compared output: with a frame's neighbors spread
        // around the ego, atan2(sum sin ~ 0, sum cos ~ 0) is chaotic
        // under summation-order fp noise — no rounding makes it
        // engine-stable at scale. Its correctness is asserted
        // kernel-vs-relational (tolerance) in SpatialSpec and the
        // circular-mean operator is oracled by a5_circmean.
        col("n_others").cast("long").as("n_others"))
    }),

    // GNN-lite neighbor features (E1.3, `main_cuda.py:296-398`).
    "gnn_lite" -> ((s, dir) => {
      Spatial.gnnLiteFeatures(lastFrames(s, dir).drop("rn", "vx", "vy"))
        .select(
          col("game_id"), col("play_id"), col("frame_id"), col("nfl_id"),
          r6(col("gnn_w_speed")).as("gnn_w_speed"),
          r6(col("gnn_mean_dist")).as("gnn_mean_dist"),
          r6(col("gnn_min_dist")).as("gnn_min_dist"),
          col("gnn_n_neighbors").cast("long").as("gnn_n_neighbors"),
          col("gnn_n_opp").cast("long").as("gnn_n_opp"),
          r6(col("gnn_d1")).as("gnn_d1"),
          r6(col("gnn_d2")).as("gnn_d2"),
          r6(col("gnn_d3")).as("gnn_d3"))
    }),

    // J1: future output rows × last observed input state + delta-t
    // (`main_cuda.py:422-431`).
    "j1_trainrows" -> ((s, dir) => {
      // Template derives from `last` and joins back — cache the shared
      // lineage (a real pipeline persists the last-frame table).
      val last = lastFrames(s, dir).cache()
      val template = last.select("game_id", "play_id", "nfl_id")
        .withColumn("horizon", explode(sequence(lit(1L), lit(3L))))
      template.join(last, Seq("game_id", "play_id", "nfl_id"), "left")
        .select(
          col("game_id"), col("play_id"), col("nfl_id"), col("horizon"),
          (col("horizon").cast("double") / 10).as("delta_t"),
          col("x").as("x_last"), col("y").as("y_last"),
          r6(col("vx")).as("vx"), r6(col("vy")).as("vy"))
    }),

    // J5 + M7 + S4-id: test-template expansion joined to last state,
    // physics prediction p + v*dt clipped to field, submission id
    // (`main_cuda.py:433-439,1533-1540`).
    "m7_physics" -> ((s, dir) => physicsSubmission(s, dir)))

  /** The flagship physics-baseline slice: scan → group-tail → horizon
    * expansion → p+v·Δt → clip → submission id.
    *
    * The horizon rows are exploded in place on the last-frame table
    * (single lineage, ONE exchange end-to-end) rather than re-joined —
    * a template join would recompute the whole scan+window lineage on
    * both sides. The external-template join shape is exercised by
    * j1_trainrows/J5. */
  def physicsSubmission(s: SparkSession, dir: String): DataFrame = {
    lastFrames(s, dir)
      .withColumn("frame_id_out", explode(sequence(lit(1L), lit(3L))))
      .withColumn("dt", col("frame_id_out").cast("double") / 10)
      .select(
        concat_ws("_", col("game_id"), col("play_id"), col("nfl_id"),
          col("frame_id_out")).as("id"),
        r6(Scalars.clampX(col("x") + col("vx") * col("dt"))).as("x"),
        r6(Scalars.clampY(col("y") + col("vy") * col("dt"))).as("y"))
  }

  val oracle: Seq[(String, String)] = Seq(
    "k1_pairwise" ->
      s"""WITH $FramesSql,
         |pairs AS (
         | SELECT a.game_id, a.play_id, a.frame_id, a.nfl_id,
         |  b.nfl_id AS nb_id, b.x - a.x AS dx, b.y - a.y AS dy,
         |  sqrt((b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y)) AS d,
         |  atan2(a.y - b.y, a.x - b.x) AS ang,
         |  b.player_side <> a.player_side AS is_opp,
         |  sqrt((a.s*sin(radians(a.dir)) - b.s*sin(radians(b.dir))) * (a.s*sin(radians(a.dir)) - b.s*sin(radians(b.dir)))
         |     + (a.s*cos(radians(a.dir)) - b.s*cos(radians(b.dir))) * (a.s*cos(radians(a.dir)) - b.s*cos(radians(b.dir)))) AS rel_speed
         | FROM frames a JOIN frames b
         |  ON a.game_id = b.game_id AND a.play_id = b.play_id
         |  AND a.frame_id = b.frame_id AND a.nfl_id <> b.nfl_id),
         |aggs AS (
         | SELECT game_id, play_id, frame_id, nfl_id,
         |  avg(d) AS mean_dist_all, min(d) AS min_dist_all, max(d) AS max_dist_all,
         |  avg(CASE WHEN is_opp THEN d END) AS mean_dist_opp,
         |  min(CASE WHEN is_opp THEN d END) AS min_dist_opp,
         |  avg(CASE WHEN NOT is_opp THEN d END) AS mean_dist_team,
         |  min(CASE WHEN NOT is_opp THEN d END) AS min_dist_team,
         |  count(*) AS n_others
         | FROM pairs GROUP BY 1, 2, 3, 4),
         |nearest AS (
         | SELECT game_id, play_id, frame_id, nfl_id,
         |  nb_id AS nearest_opp_id, d AS nearest_opp_dist,
         |  ang AS nearest_opp_angle, rel_speed AS nearest_opp_rel_speed
         | FROM (SELECT *, row_number() OVER (PARTITION BY game_id, play_id, frame_id, nfl_id
         |   ORDER BY d, nb_id) AS rn FROM pairs WHERE is_opp)
         | WHERE rn = 1)
         |SELECT e.game_id, e.play_id, e.frame_id, e.nfl_id,
         | round(mean_dist_all, 6) AS mean_dist_all,
         | round(min_dist_all, 6) AS min_dist_all,
         | round(max_dist_all, 6) AS max_dist_all,
         | round(mean_dist_opp, 6) AS mean_dist_opp,
         | round(min_dist_opp, 6) AS min_dist_opp,
         | round(mean_dist_team, 6) AS mean_dist_team,
         | round(min_dist_team, 6) AS min_dist_team,
         | nearest_opp_id,
         | round(nearest_opp_dist, 6) AS nearest_opp_dist,
         | round(nearest_opp_angle, 6) AS nearest_opp_angle,
         | round(nearest_opp_rel_speed, 6) AS nearest_opp_rel_speed,
         | coalesce(n_others, 0) AS n_others
         |FROM (SELECT DISTINCT game_id, play_id, frame_id, nfl_id FROM frames) e
         |LEFT JOIN aggs USING (game_id, play_id, frame_id, nfl_id)
         |LEFT JOIN nearest USING (game_id, play_id, frame_id, nfl_id)""".stripMargin,

    "gnn_lite" ->
      s"""WITH $FramesSql,
         |$LastSql,
         |lastf AS (SELECT game_id, play_id, frame_id, nfl_id, x, y, s, player_side FROM last),
         |pairs AS (
         | SELECT a.game_id, a.play_id, a.frame_id, a.nfl_id, a.player_side,
         |  b.nfl_id AS nb_id, b.s AS nb_s, b.player_side AS nb_side,
         |  sqrt((b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y)) AS d
         | FROM lastf a JOIN lastf b
         |  ON a.game_id = b.game_id AND a.play_id = b.play_id
         |  AND a.frame_id = b.frame_id AND a.nfl_id <> b.nfl_id
         | WHERE sqrt((b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y)) <= 30.0),
         |ranked AS (
         | SELECT *, exp(-d / 10.0) AS w_raw
         | FROM (SELECT *, row_number() OVER (PARTITION BY game_id, play_id, frame_id, nfl_id
         |   ORDER BY d, nb_id) AS rnk FROM pairs)
         | WHERE rnk <= 6),
         |weighted AS (
         | SELECT *, w_raw / sum(w_raw) OVER (PARTITION BY game_id, play_id, frame_id, nfl_id) AS wgt
         | FROM ranked),
         |aggs AS (
         | SELECT game_id, play_id, frame_id, nfl_id,
         |  sum(wgt * nb_s) AS gnn_w_speed,
         |  avg(d) AS gnn_mean_dist,
         |  min(d) AS gnn_min_dist,
         |  count(*) AS gnn_n_neighbors,
         |  CAST(sum(CASE WHEN nb_side <> player_side THEN 1 ELSE 0 END) AS BIGINT) AS gnn_n_opp
         | FROM weighted GROUP BY 1, 2, 3, 4),
         |top3 AS (
         | SELECT game_id, play_id, frame_id, nfl_id,
         |  max(CASE WHEN rnk = 1 THEN d END) AS gnn_d1,
         |  max(CASE WHEN rnk = 2 THEN d END) AS gnn_d2,
         |  max(CASE WHEN rnk = 3 THEN d END) AS gnn_d3
         | FROM weighted WHERE rnk <= 3 GROUP BY 1, 2, 3, 4)
         |SELECT game_id, play_id, frame_id, nfl_id,
         | round(gnn_w_speed, 6) AS gnn_w_speed,
         | round(gnn_mean_dist, 6) AS gnn_mean_dist,
         | round(gnn_min_dist, 6) AS gnn_min_dist,
         | gnn_n_neighbors, gnn_n_opp,
         | round(gnn_d1, 6) AS gnn_d1,
         | round(gnn_d2, 6) AS gnn_d2,
         | round(gnn_d3, 6) AS gnn_d3
         |FROM aggs LEFT JOIN top3 USING (game_id, play_id, frame_id, nfl_id)""".stripMargin,

    "j1_trainrows" ->
      s"""WITH $FramesSql,
         |$LastSql,
         |template AS (
         | SELECT game_id, play_id, nfl_id, unnest(range(1, 4)) AS horizon FROM last)
         |SELECT t.game_id, t.play_id, t.nfl_id, t.horizon,
         | CAST(t.horizon AS DOUBLE) / 10 AS delta_t,
         | l.x AS x_last, l.y AS y_last,
         | round(l.vx, 6) AS vx, round(l.vy, 6) AS vy
         |FROM template t LEFT JOIN last l
         | ON t.game_id = l.game_id AND t.play_id = l.play_id AND t.nfl_id = l.nfl_id""".stripMargin,

    "m7_physics" ->
      s"""WITH $FramesSql,
         |$LastSql,
         |template AS (
         | SELECT game_id, play_id, nfl_id, unnest(range(1, 4)) AS frame_id_out FROM last)
         |SELECT concat_ws('_', t.game_id, t.play_id, t.nfl_id, t.frame_id_out) AS id,
         | round(least(greatest(l.x + l.vx * (CAST(t.frame_id_out AS DOUBLE) / 10), 0.0), 120.0), 6) AS x,
         | round(least(greatest(l.y + l.vy * (CAST(t.frame_id_out AS DOUBLE) / 10), 0.0), 53.3), 6) AS y
         |FROM template t LEFT JOIN last l
         | ON t.game_id = l.game_id AND t.play_id = l.play_id AND t.nfl_id = l.nfl_id""".stripMargin)
}
