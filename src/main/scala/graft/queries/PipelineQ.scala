package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Scalars
import graft.ml.GbtPair
import graft.operators.Temporal
import graft.pipeline.{SequenceFeaturePipeline, TreeEnsemblePipeline}
import Q._

/** Registered queries for the model layer and the two end-to-end
  * pipelines (E1/E2). GBT/Ridge fits aren't SQL-expressible, so these
  * are rows-only checks (no oracle entry) — their statistical
  * correctness is asserted in PipelineSpec (ensemble must beat the
  * physics baseline on a learnable synthetic pattern).
  *
  * Inputs are capped by a deterministic game_id filter so the model
  * fits stay bounded at every scale factor (the training-row table,
  * like the reference's, is much smaller than the tracking table).
  */
object PipelineQ extends QueryModule {

  private def cappedFrames(s: SparkSession, dir: String,
                           cap: Int = 40): DataFrame =
    TrackingQ.frames(s, dir).filter(col("game_id") < cap)

  /** Synthetic ground truth = physics + a smooth feature-dependent
    * pattern, so residual learners have signal to find. */
  /** Remove a temp model directory once [[graft.ml.GbtPair.load]]
    * has materialized the trees (MLlib loads eagerly, so the on-disk
    * artifact is dead weight after load; bench sweeps and GateSpec
    * re-run the s5 queries, so an undeleted dir compounds per run). */
  private def deleteRecursively(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(path)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      finally walk.close()
    }
  }

  def syntheticTruth(frames: DataFrame): DataFrame = {
    val last = Temporal.groupTail(frames,
      Seq(col("game_id"), col("play_id"), col("nfl_id")), Seq(col("frame_id")))
      .withColumn("vx", Scalars.velocityX(col("s"), col("dir")))
      .withColumn("vy", Scalars.velocityY(col("s"), col("dir")))
    last.select(col("game_id"), col("play_id"), col("nfl_id"),
        col("x"), col("y"), col("vx"), col("vy"))
      .withColumn("frame_id_out", explode(sequence(lit(1L), lit(3L))))
      .withColumn("dt", col("frame_id_out").cast("double") / 10)
      .select(
        col("game_id"), col("play_id"), col("nfl_id"), col("frame_id_out"),
        Scalars.clampX(col("x") + col("vx") * col("dt") +
          lit(2.0) * sin(col("x") / 10) + lit(1.5) * cos(col("y") / 7))
          .as("x_true"),
        Scalars.clampY(col("y") + col("vy") * col("dt") +
          lit(1.2) * cos(col("x") / 9) - lit(0.8) * sin(col("y") / 6))
          .as("y_true"))
  }

  val queries: Seq[(String, QueryFn)] = Seq(
    // M2: one GBT pair fit on physics residuals, predictions on the
    // held-out fold.
    "m2_gbt" -> ((s, dir) => {
      val frames = cappedFrames(s, dir, cap = 20)
      val rows = graft.ml.Folds.withFold(
        TreeEnsemblePipeline.trainingRows(frames, syntheticTruth(frames))
          .na.drop(Seq("x_true", "y_true", "phys_x", "phys_y")),
        Seq("game_id", "play_id", "nfl_id"), 4).cache()
      val m = GbtPair.train(rows.filter(col("fold") =!= 0),
        TreeEnsemblePipeline.FeatureCols, "res_x", "res_y",
        GbtPair.Params(maxIter = 5, maxDepth = 3, fitPartitions = 8))
      GbtPair.predict(rows.filter(col("fold") === 0), m)
        .select(col("game_id"), col("play_id"), col("nfl_id"),
          col("frame_id_out"),
          (col("phys_x") + col("pred_x")).as("x"),
          (col("phys_y") + col("pred_y")).as("y"))
    }),

    // E1 with second residual stage (M3) + inverse-RMSE blend (M4).
    "e1_tree_ensemble" -> ((s, dir) => {
      val frames = cappedFrames(s, dir, cap = 20)
      val r = TreeEnsemblePipeline.run(frames, syntheticTruth(frames),
        TreeEnsemblePipeline.Config(k = 2,
          gbt = GbtPair.Params(maxIter = 5, maxDepth = 3, fitPartitions = 8),
          secondStage = true))
      r.oof.select("game_id", "play_id", "nfl_id", "frame_id_out",
        "phys_x", "phys_y", "pred_x", "pred_y")
    }),

    // E1 must-beat gate — the reference's only global success
    // criterion (physics floor RMSE 4.237, `docs/raw_ensemble1.log:16`,
    // `scoring.py:50-53`): the learned ensemble must land BELOW the
    // physics baseline. Tree RMSEs are not hash-stable across runs,
    // but this boolean is seed-stable — the synthetic truth carries a
    // smooth learnable residual pattern, so any sane fit clears the
    // floor by a wide margin — making "the model actually learns"
    // a driver-visible green row, not just a ScalaTest assertion.
    "e1_rmse_gate" -> ((s, dir) => {
      import s.implicits._
      val frames = cappedFrames(s, dir, cap = 20)
      val r = TreeEnsemblePipeline.run(frames, syntheticTruth(frames),
        TreeEnsemblePipeline.Config(k = 2,
          gbt = GbtPair.Params(maxIter = 5, maxDepth = 3, fitPartitions = 8)))
      Seq((if (r.rmseEnsemble < r.rmsePhysics) 1L else 0L,
        if (r.rmsePhysics > 0.0) 1L else 0L))
        .toDF("model_beats_physics", "physics_rmse_positive")
    }),

    // M2 gate (round 10): the PRIMARY pair alone must beat the
    // physics floor on its held-out fold — e1_rmse_gate covers the
    // blended ensemble; this pins the single-stage fit (the rest of
    // m2_gbt's no_oracle surface is tree predictions, not hash-stable
    // across MLlib versions). Integer-decided, constant-row oracle.
    "m2_rmse_gate" -> ((s, dir) => {
      val frames = cappedFrames(s, dir, cap = 20)
      val rows = graft.ml.Folds.withFold(
        TreeEnsemblePipeline.trainingRows(frames, syntheticTruth(frames))
          .na.drop(Seq("x_true", "y_true", "phys_x", "phys_y")),
        Seq("game_id", "play_id", "nfl_id"), 4).cache()
      val m = GbtPair.train(rows.filter(col("fold") =!= 0),
        TreeEnsemblePipeline.FeatureCols, "res_x", "res_y",
        GbtPair.Params(maxIter = 5, maxDepth = 3, fitPartitions = 8))
      GbtPair.predict(rows.filter(col("fold") === 0), m)
        .agg(
          sqrt((avg(pow(col("x_true") - col("phys_x") - col("pred_x"), 2)) +
            avg(pow(col("y_true") - col("phys_y") - col("pred_y"), 2))) / 2)
            .as("rmse_model"),
          sqrt((avg(pow(col("x_true") - col("phys_x"), 2)) +
            avg(pow(col("y_true") - col("phys_y"), 2))) / 2)
            .as("rmse_phys"))
        .select(
          when(col("rmse_model") < col("rmse_phys"), 1L).otherwise(0L)
            .as("m2_beats_physics"),
          when(col("rmse_phys") > 0.0, 1L).otherwise(0L)
            .as("physics_rmse_positive"))
    }),

    // M5: ridge-stacked variant.
    "m5_ridge" -> ((s, dir) => {
      val frames = cappedFrames(s, dir, cap = 20)
      val r = TreeEnsemblePipeline.run(frames, syntheticTruth(frames),
        TreeEnsemblePipeline.Config(k = 2,
          gbt = GbtPair.Params(maxIter = 5, maxDepth = 3, fitPartitions = 8),
          ridgeStack = true))
      r.oof.select("game_id", "play_id", "nfl_id", "frame_id_out",
        "pred_x", "pred_y")
    }),

    // M5 with a REAL oracle: the MLlib ridge fit itself (elasticNet=0,
    // regParam=1, standardization=true) on pure column-derived
    // candidates, hash-checked against the closed-form normal
    // equations. Empirically (machine-precision match): MLlib solves
    //   (Cov + lambda*diag(var_j)/sigma_y) beta = cov(x, y),
    //   intercept = mean_y - mean_x . beta
    // with POPULATION moments. The GBT-fed m5_ridge stays rows-only;
    // this pins the solver's exact semantics.
    "m5_ridge_closed" -> ((s, dir) => {
      val base = lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity").as("c0"),
        ((col("l_partkey") % 97).cast("double") / 10).as("c1"),
        (lit(5.0) + col("l_quantity") * 0.8 -
          (col("l_partkey") % 97).cast("double") * 0.03 +
          sin(col("l_orderkey").cast("double") / 7)).as("yt"))
      val m = graft.ml.Stacking.train(base, Seq("c0", "c1"), "yt")
      graft.ml.Stacking.predict(base, m, "pred")
        .select(col("l_orderkey"), col("l_linenumber"), r6(col("pred")).as("pred"))
    }),

    // S5: model artifact round-trip — save, load, predict with the
    // restored model.
    "s5_artifacts" -> ((s, dir) => {
      val frames = cappedFrames(s, dir).filter(col("game_id") < 10)
      val rows = TreeEnsemblePipeline.trainingRows(frames, syntheticTruth(frames))
        .na.drop(Seq("x_true", "y_true", "phys_x", "phys_y"))
      val m = GbtPair.train(rows, TreeEnsemblePipeline.FeatureCols,
        "res_x", "res_y", GbtPair.Params(maxIter = 3, maxDepth = 3, fitPartitions = 8))
      // unique per invocation — a fixed path collides across
      // concurrent runs (one overwrite deletes files the other reads)
      val path = java.nio.file.Files
        .createTempDirectory("graft_s5_model").toString
      val restored =
        try {
          GbtPair.save(m, path)
          GbtPair.load(path, TreeEnsemblePipeline.FeatureCols)
        } finally deleteRecursively(path)
      GbtPair.predict(rows, restored)
        .select("game_id", "play_id", "nfl_id", "frame_id_out",
          "pred_x", "pred_y")
    }),

    // S5 gate (round 10): the artifact round-trip must be EXACT —
    // the restored pair's predictions bitwise-equal the in-memory
    // pair's on every row (MLlib persists the full split/leaf
    // structure; any lossy serialization would break equality).
    // s5_artifacts itself stays rows-only (tree predictions are not
    // hash-stable across fits); this integer-decided row makes the
    // save/load contract driver-visible (e1_rmse_gate pattern).
    "s5_roundtrip_gate" -> ((s, dir) => {
      val frames = cappedFrames(s, dir).filter(col("game_id") < 10)
      val rows = TreeEnsemblePipeline
        .trainingRows(frames, syntheticTruth(frames))
        .na.drop(Seq("x_true", "y_true", "phys_x", "phys_y"))
      val m = GbtPair.train(rows, TreeEnsemblePipeline.FeatureCols,
        "res_x", "res_y",
        GbtPair.Params(maxIter = 3, maxDepth = 3, fitPartitions = 8))
      val path = java.nio.file.Files
        .createTempDirectory("graft_s5_gate").toString
      val restored =
        try {
          GbtPair.save(m, path)
          GbtPair.load(path, TreeEnsemblePipeline.FeatureCols)
        } finally deleteRecursively(path)
      val keys = Seq("game_id", "play_id", "nfl_id", "frame_id_out")
      val mem = GbtPair.predict(rows, m)
        .select(col("game_id"), col("play_id"), col("nfl_id"),
          col("frame_id_out"), col("pred_x").as("mx"),
          col("pred_y").as("my"))
      val rst = GbtPair.predict(rows, restored)
        .select(col("game_id"), col("play_id"), col("nfl_id"),
          col("frame_id_out"), col("pred_x").as("rx"),
          col("pred_y").as("ry"))
      mem.join(rst, keys)
        .agg(count(lit(1)).as("n"),
          sum(when(col("mx") === col("rx") && col("my") === col("ry"),
            1L).otherwise(0L)).as("eq"))
        .select(
          when(col("eq") === col("n") && col("n") > 0L, 1L).otherwise(0L)
            .as("roundtrip_exact"),
          when(col("n") > 0L, 1L).otherwise(0L).as("n_rows_positive"))
    }),

    // E2: sequence-tensor build (M8 + A4 + M6 over the temporal block,
    // `nn/nn-mps.py:566-665`). Output = hash-friendly scalar digests of
    // the sequence (the m8_seqbuild pattern) — a raw array<struct>
    // column crashes the driver's pandas row-sorter. Digest fields are
    // the UNscaled struct members: the scaled x/y/s/vx/vy depend on a
    // global mean/std whose cross-engine summation-order drift makes
    // them hash-hostile (the scaler itself is oracled by m6_scaler).
    // last_dir_change is safe: the last row of any >=2-frame entity has
    // a real lag (never the group-mean impute), and a 1-frame entity
    // imputes to exactly 0.0 on both sides.
    "e2_seqfeatures" -> ((s, dir) => {
      SequenceFeaturePipeline.build(TrackingQ.frames(s, dir))
        .select(col("game_id"), col("play_id"), col("nfl_id"),
          size(col("seq")).cast("long").as("seq_len"),
          r6(element_at(col("seq"), 1).getField("dist_center"))
            .as("first_dist_center"),
          r6(element_at(col("seq"), -1).getField("dist_center"))
            .as("last_dist_center"),
          r6(element_at(col("seq"), -1).getField("dir_change"))
            .as("last_dir_change"),
          r6(element_at(col("seq"), -1).getField("progress"))
            .as("last_progress"),
          r6(aggregate(transform(col("seq"), e => e.getField("progress")),
            lit(0.0), (a, x) => a + x)).as("progress_sum"),
          r6(aggregate(transform(col("seq"), e => e.getField("dist_center")),
            lit(0.0), (a, x) => a + x)).as("dist_center_sum"))
    }),

    // M8 with a REAL trained model behind the seam: a tanh-MLP fit
    // offline (driver-side, deterministic pure-Scala GD over the
    // bounded entity-level training set — the reference's torch
    // boundary) on even-game residuals, applied FROZEN via the
    // mapPartitions seam to the held-out odd games, gated on the
    // reference's own only-checkable NN contract (docs/raw_nn.log V6:
    // the sequence model beats the physics floor). Integer-decided
    // like e1_rmse_gate, so the row is oracle-able.
    "m8_nn_gate" -> ((s, dir) => {
      import s.implicits._
      val frames = cappedFrames(s, dir, cap = 20)
      val rows = TreeEnsemblePipeline
        .trainingRows(frames, syntheticTruth(frames))
        .filter(col("frame_id_out") === 1)
        .na.drop(Seq("x_true", "y_true", "phys_x", "phys_y"))
        .select(col("game_id"), col("play_id"), col("nfl_id"),
          col("phys_x"), col("phys_y"), col("x_true"), col("y_true"),
          col("res_x"), col("res_y"))
      val joined = SequenceFeaturePipeline.build(frames)
        .join(rows, Seq("game_id", "play_id", "nfl_id")).cache()
      // distributed fit: per-epoch gradients are exact fixed-point
      // treeAggregate-style partition sums (only p × ~2k-long
      // accumulators reach the driver, never training rows)
      val m = graft.ml.MlpSeq.trainDistributed(
        joined.filter(col("game_id") % 2 === 0), "seq",
        "res_x", "res_y", 8, SequenceFeaturePipeline.SeqFeatures,
        hidden = 24, epochs = 400, lr = 0.05)
      val scored = graft.ml.MlpSeq
        .score(joined.filter(col("game_id") % 2 === 1), "seq", m)
        .withColumn("pred_x", col("phys_x") + col("nn_x"))
        .withColumn("pred_y", col("phys_y") + col("nn_y"))
      val r = scored.agg(
        sqrt((avg(pow(col("x_true") - col("pred_x"), 2)) +
          avg(pow(col("y_true") - col("pred_y"), 2))) / 2).as("rmse_nn"),
        sqrt((avg(pow(col("x_true") - col("phys_x"), 2)) +
          avg(pow(col("y_true") - col("phys_y"), 2))) / 2).as("rmse_phys"))
        .collect()(0)
      joined.unpersist()
      Seq((if (r.getDouble(0) < r.getDouble(1)) 1L else 0L,
        if (r.getDouble(1) > 0.0) 1L else 0L))
        .toDF("nn_beats_physics", "physics_rmse_positive")
    }),

    // M8: frozen external scorer applied map-side over the tensors.
    // Stand-in weights are nonzero ONLY on the two bitwise-PORTABLE
    // struct members (dist_center idx 6: exact IEEE −·*·+·sqrt;
    // progress idx 7: integer cumcount ratio) — the scorer still reads
    // every feature of every step (the real plumbing), but the zeroed
    // members contribute w·v = ±0.0, a bitwise no-op on the ~60/26
    // running sums, so the output is independent of the hash-hostile
    // scaled/imputed members (global mean/std and group-mean imputes
    // carry cross-engine summation-order drift — the e2 digest rule)
    // and the oracle can replay the exact fold: bias, then p
    // ascending, dist_center before progress within each step.
    "m8_scorer" -> ((s, dir) => {
      val seqs = SequenceFeaturePipeline.build(cappedFrames(s, dir))
      val nF = SequenceFeaturePipeline.SeqFeatures.length
      val m = graft.ml.SequenceScorer.LinearSeqModel(
        window = 8, features = SequenceFeaturePipeline.SeqFeatures,
        weightsX = Array.tabulate(8 * nF)(i =>
          if (i % nF >= 6) 0.01 * (i % 7) else 0.0),
        weightsY = Array.tabulate(8 * nF)(i =>
          if (i % nF >= 6) -0.01 * (i % 5) else 0.0),
        biasX = 60.0, biasY = 26.65)
      graft.ml.SequenceScorer.score(seqs, "seq", m)
        .select(col("game_id"), col("play_id"), col("nfl_id"),
          r6(col("nn_x")).as("nn_x"), r6(col("nn_y")).as("nn_y"))
    }))

  /** MLlib fits (m2/m5/e1_tree/s5) are not SQL-expressible —
    * rows-only. e2's digest IS expressible: the trailing-8 window and
    * its fold mirror m8_seqbuild's list_reduce form (same fold order
    * guarantees bitwise-identical sums). m8_scorer joined the oracled
    * set in round 9: the frozen LinearSeqModel is deterministic and
    * its nonzero weights touch only bitwise-portable members, so the
    * oracle replays the exact weighted fold over the e2 CTE's lists
    * (generate_series + list_transform keeps p ascending, the
    * [dist_center, progress] pair order inside each step, and
    * list_prepend(bias) the left fold — all ::DOUBLE-pinned, trap 8's
    * scalar-lambda rule). */
  val oracle: Seq[(String, String)] = Seq(
    // The gate's CONTENT is the assertion itself: the oracle pins the
    // one seed-stable outcome (model beats physics) as a constant row.
    "e1_rmse_gate" ->
      """SELECT CAST(1 AS BIGINT) AS model_beats_physics,
        | CAST(1 AS BIGINT) AS physics_rmse_positive""".stripMargin,

    // Same pattern: the seed-stable outcome (trained MLP beats the
    // physics floor on held-out games) IS the content.
    "m8_nn_gate" ->
      """SELECT CAST(1 AS BIGINT) AS nn_beats_physics,
        | CAST(1 AS BIGINT) AS physics_rmse_positive""".stripMargin,

    "m2_rmse_gate" ->
      """SELECT CAST(1 AS BIGINT) AS m2_beats_physics,
        | CAST(1 AS BIGINT) AS physics_rmse_positive""".stripMargin,

    // The exactness assertion IS the content: save/load must be
    // bit-faithful for every prediction.
    "s5_roundtrip_gate" ->
      """SELECT CAST(1 AS BIGINT) AS roundtrip_exact,
        | CAST(1 AS BIGINT) AS n_rows_positive""".stripMargin,

    "m5_ridge_closed" ->
      """WITH base AS (SELECT l_orderkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_quantity AS c0,
        |  CAST(l_partkey % 97 AS DOUBLE) / 10 AS c1,
        |  5.0 + l_quantity * 0.8 - CAST(l_partkey % 97 AS DOUBLE) * 0.03
        |    + sin(CAST(l_orderkey AS DOUBLE) / 7) AS yt
        | FROM lineitem),
        |mom AS (SELECT
        |  avg(c0) AS m0, avg(c1) AS m1, avg(yt) AS my,
        |  avg(c0*c0) - avg(c0)*avg(c0) AS v0,
        |  avg(c1*c1) - avg(c1)*avg(c1) AS v1,
        |  avg(c0*c1) - avg(c0)*avg(c1) AS v01,
        |  avg(c0*yt) - avg(c0)*avg(yt) AS cy0,
        |  avg(c1*yt) - avg(c1)*avg(yt) AS cy1,
        |  sqrt(avg(yt*yt) - avg(yt)*avg(yt)) AS sy
        | FROM base),
        |beta AS (SELECT m0, m1, my,
        |  -- (Cov + diag(var)/sy) beta = cy, solved by Cramer's rule
        |  ((cy0 * (v1 + v1/sy) - cy1 * v01)
        |    / ((v0 + v0/sy) * (v1 + v1/sy) - v01 * v01)) AS b0,
        |  ((cy1 * (v0 + v0/sy) - cy0 * v01)
        |    / ((v0 + v0/sy) * (v1 + v1/sy) - v01 * v01)) AS b1
        | FROM mom)
        |SELECT l_orderkey, l_linenumber,
        | round((my - m0*b0 - m1*b1) + b0*c0 + b1*c1, 6) AS pred
        |FROM base, beta""".stripMargin,

    "e2_seqfeatures" ->
      s"""WITH ${TrackingQ.FramesSql},
         |f AS (SELECT game_id, play_id, nfl_id, frame_id,
         |  sqrt((x - 60.0) * (x - 60.0) + (y - 26.65) * (y - 26.65)) AS dist_center,
         |  dir - lag(dir, 1) OVER w AS raw_dc,
         |  CAST(row_number() OVER w - 1 AS DOUBLE) /
         |    greatest(count(*) OVER (PARTITION BY game_id, play_id, nfl_id) - 1, 1) AS progress,
         |  row_number() OVER w AS rn,
         |  count(*) OVER (PARTITION BY game_id, play_id, nfl_id) AS n
         | FROM frames
         | WINDOW w AS (PARTITION BY game_id, play_id, nfl_id ORDER BY frame_id)),
         |g AS (SELECT *,
         |  coalesce(CASE WHEN abs(raw_dc) >= 180.0 THEN raw_dc - 360.0 * sign(raw_dc)
         |                ELSE raw_dc END, 0.0) AS dir_change
         | FROM f),
         |d AS (SELECT game_id, play_id, nfl_id, rn, n, dir_change,
         |  list(dist_center) OVER wr AS dc_seq,
         |  list(progress) OVER wr AS pr_seq
         | FROM g
         | WINDOW wr AS (PARTITION BY game_id, play_id, nfl_id ORDER BY frame_id
         |   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
         |SELECT game_id, play_id, nfl_id,
         | len(dc_seq) AS seq_len,
         | round(dc_seq[1], 6) AS first_dist_center,
         | round(dc_seq[-1], 6) AS last_dist_center,
         | round(dir_change, 6) AS last_dir_change,
         | round(pr_seq[-1], 6) AS last_progress,
         | round(list_reduce(list_prepend(0.0, pr_seq), (a, x) -> a + x), 6) AS progress_sum,
         | round(list_reduce(list_prepend(0.0, dc_seq), (a, x) -> a + x), 6) AS dist_center_sum
         |FROM d WHERE rn = n""".stripMargin,

    // The scorer fold, replayed exactly: wi = (p−1 + 8 − len)·8 + f
    // (right-aligned window, nF = 8 features), weight = ±0.01·(wi % k)
    // for f ∈ {6: dist_center, 7: progress} — the only nonzero slots —
    // accumulated bias-first, p ascending, dist_center before progress
    // (the Scala loop's order; zero-weight members are ±0.0 no-ops).
    "m8_scorer" ->
      s"""WITH ${TrackingQ.FramesSql},
         |f AS (SELECT game_id, play_id, nfl_id, frame_id,
         |  sqrt((x - 60.0) * (x - 60.0) + (y - 26.65) * (y - 26.65)) AS dist_center,
         |  CAST(row_number() OVER w - 1 AS DOUBLE) /
         |    greatest(count(*) OVER (PARTITION BY game_id, play_id, nfl_id) - 1, 1) AS progress,
         |  row_number() OVER w AS rn,
         |  count(*) OVER (PARTITION BY game_id, play_id, nfl_id) AS n
         | FROM frames WHERE game_id < 40
         | WINDOW w AS (PARTITION BY game_id, play_id, nfl_id ORDER BY frame_id)),
         |d AS (SELECT game_id, play_id, nfl_id, rn, n,
         |  list(dist_center) OVER wr AS dc_seq,
         |  list(progress) OVER wr AS pr_seq
         | FROM f
         | WINDOW wr AS (PARTITION BY game_id, play_id, nfl_id ORDER BY frame_id
         |   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
         |SELECT game_id, play_id, nfl_id,
         | round(list_reduce(list_prepend(60.0::DOUBLE, flatten(
         |  list_transform(generate_series(1, len(dc_seq)), p ->
         |   [(0.01::DOUBLE * (((p - 1 + 8 - len(dc_seq)) * 8 + 6) % 7)) * dc_seq[p],
         |    (0.01::DOUBLE * (((p - 1 + 8 - len(dc_seq)) * 8 + 7) % 7)) * pr_seq[p]]))),
         |  (a, x) -> a + x), 6) AS nn_x,
         | round(list_reduce(list_prepend(26.65::DOUBLE, flatten(
         |  list_transform(generate_series(1, len(dc_seq)), p ->
         |   [(-0.01::DOUBLE * (((p - 1 + 8 - len(dc_seq)) * 8 + 6) % 5)) * dc_seq[p],
         |    (-0.01::DOUBLE * (((p - 1 + 8 - len(dc_seq)) * 8 + 7) % 5)) * pr_seq[p]]))),
         |  (a, x) -> a + x), 6) AS nn_y
         |FROM d WHERE rn = n""".stripMargin)
}
