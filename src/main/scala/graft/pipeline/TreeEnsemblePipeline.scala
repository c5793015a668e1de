package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Scalars
import graft.ml.{Folds, GbtPair, ResidualEnsemble, Stacking}
import graft.operators.{Spatial, Temporal}

/** E1: the tree-ensemble pipeline (`main_cuda.py:1445-1566`), Spark-first.
  *
  * Stages: last-observed state (A1) + physics/geometry features
  * (P2-P4) + GNN-lite neighbor features (J2/J3) → training rows =
  * truth × last-input (J1) + Δt → physics baseline (M7) → residual
  * targets → group-disjoint folds (M1) → per-fold GBT pair on
  * residuals (M2) with out-of-fold predictions → optional second
  * residual stage (M3) → inverse-RMSE blend (M4) or Ridge stacking
  * (M5) → final = physics + blended residual, clipped to field.
  *
  * Scale: one shuffle family on (game_id, play_id[, nfl_id]) covers
  * group-tail, the self-join and the training-row join; the k model
  * fits are MLlib distributed jobs over the (much smaller)
  * training-row table; everything after is column algebra.
  */
object TreeEnsemblePipeline {

  case class Config(
      horizons: Int = 3, k: Int = 4,
      gbt: GbtPair.Params = GbtPair.Params(maxIter = 8, maxDepth = 4),
      secondStage: Boolean = false,
      ridgeStack: Boolean = false)

  case class Result(oof: DataFrame, rmsePhysics: Double,
                    rmseEnsemble: Double, weights: Seq[Double])

  /** Last observed frame per entity with its scalar features. */
  private def lastFrames(frames: DataFrame): DataFrame =
    Temporal.groupTail(frames,
      Seq(col("game_id"), col("play_id"), col("nfl_id")), Seq(col("frame_id")))
      .withColumn("vx", Scalars.velocityX(col("s"), col("dir")))
      .withColumn("vy", Scalars.velocityY(col("s"), col("dir")))
      .withColumn("dist_center", Scalars.distFromCenter(col("x"), col("y")))
      .withColumn("dist_sideline", Scalars.distFromSideline(col("y")))
      .withColumn("is_offense", Scalars.oneHot(col("player_side"), "Offense"))

  val FeatureCols: Seq[String] = Seq(
    "x", "y", "s", "vx", "vy", "dist_center", "dist_sideline", "is_offense",
    "gnn_w_speed", "gnn_mean_dist", "gnn_min_dist", "gnn_n_neighbors",
    "gnn_d1", "delta_t")

  /** J1 + M7: training rows with physics baseline and residual targets.
    * `truth` columns: game_id, play_id, nfl_id, frame_id_out, x_true,
    * y_true. Caches nothing: the caller's own cache or fit decides how
    * often the group-tail lineage runs. */
  def trainingRows(frames: DataFrame, truth: DataFrame): DataFrame =
    trainingRowsFrom(lastFrames(frames), truth)

  /** Training rows over `last` (see [[lastFrames]]): the GNN branch
    * derives from `last` AND joins back onto it, so a caller that runs
    * several jobs over the rows caches `last` first. */
  private def trainingRowsFrom(last: DataFrame, truth: DataFrame): DataFrame = {
    val gnn = Spatial.gnnLiteFeatures(last)
    val feats = last
      .join(gnn, Seq("game_id", "play_id", "frame_id", "nfl_id"), "left")
      .na.fill(0.0, Seq("gnn_w_speed", "gnn_mean_dist", "gnn_min_dist",
        "gnn_d1", "gnn_d2", "gnn_d3"))
      .na.fill(0, Seq("gnn_n_neighbors", "gnn_n_opp"))
    truth.join(feats, Seq("game_id", "play_id", "nfl_id"), "left")
      .withColumn("delta_t", col("frame_id_out").cast("double") / 10)
      .withColumn("phys_x", Scalars.clampX(col("x") + col("vx") * col("delta_t")))
      .withColumn("phys_y", Scalars.clampY(col("y") + col("vy") * col("delta_t")))
      .withColumn("res_x", col("x_true") - col("phys_x"))
      .withColumn("res_y", col("y_true") - col("phys_y"))
  }

  /** Full run: returns OOF predictions with `pred_x/pred_y` (ensemble)
    * and `phys_x/phys_y` (baseline) plus both RMSEs. */
  def run(frames: DataFrame, truth: DataFrame, cfg: Config = Config()): Result = {
    // released below once the OOF table's jobs have run
    val lastCached = lastFrames(frames).cache()
    val trainRows = trainingRowsFrom(lastCached, truth)
    val rows = Folds.withFold(
      trainRows.na.drop(Seq("x_true", "y_true", "phys_x", "phys_y")),
      Seq("game_id", "play_id", "nfl_id"), cfg.k).cache()

    // Per-fold OOF residual predictions (M1+M2). Fold f's rows are
    // predicted by the model trained on all other folds. The k fold
    // fits are INDEPENDENT — submit them as concurrent Spark jobs from
    // a k-thread pool so the cluster pipelines their stages instead of
    // idling between sequential fits (on local[32] at sf0.1 this takes
    // the e1 pipeline from ~4 sequential GBT fits to ~2 wall-clock).
    rows.count() // warm the cache once, not k times from racing fit threads
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cfg.k)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val oofParts =
      try {
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence((0 until cfg.k).map { f =>
            scala.concurrent.Future {
              val tr = rows.filter(col("fold") =!= f)
              val va = rows.filter(col("fold") === f)
              val m1 = GbtPair.train(tr, FeatureCols, "res_x", "res_y", cfg.gbt)
              val p1 = GbtPair.predict(va, m1, "res1_x", "res1_y")
              if (!cfg.secondStage) p1
              else {
                // M3: second GBT stage on the residual-of-residual.
                val tr1 = GbtPair.predict(tr, m1, "res1_x", "res1_y")
                  .withColumn("res2t_x", col("res_x") - col("res1_x"))
                  .withColumn("res2t_y", col("res_y") - col("res1_y"))
                val m2 = GbtPair.train(tr1, FeatureCols, "res2t_x", "res2t_y",
                  cfg.gbt)
                GbtPair.predict(p1, m2, "res2_x", "res2_y")
                  .withColumn("res1_x", col("res1_x") + col("res2_x"))
                  .withColumn("res1_y", col("res1_y") + col("res2_y"))
                  .drop("res2_x", "res2_y")
              }
            }
          }), scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    val oofAll = oofParts.reduce(_.unionByName(_)).cache()

    // M4: inverse-RMSE weighting of {physics, physics+residual} — or
    // M5 ridge stack of the two candidate predictions per axis.
    val candX = Seq(col("phys_x"), col("phys_x") + col("res1_x"))
    val candY = Seq(col("phys_y"), col("phys_y") + col("res1_y"))
    val withCands = oofAll
      .withColumn("cand0_x", candX(0)).withColumn("cand1_x", candX(1))
      .withColumn("cand0_y", candY(0)).withColumn("cand1_y", candY(1))

    val (finalDf, weights) =
      if (cfg.ridgeStack) {
        val sx = Stacking.train(withCands, Seq("cand0_x", "cand1_x"), "x_true")
        val sy = Stacking.train(withCands, Seq("cand0_y", "cand1_y"), "y_true")
        val df = Stacking.predict(Stacking.predict(withCands, sx, "pred_x"),
          sy, "pred_y")
        (df, Seq(1.0))
      } else {
        val rmses = Seq(
          ResidualEnsemble.rmseOf(withCands, "x_true", "cand0_x") +
            ResidualEnsemble.rmseOf(withCands, "y_true", "cand0_y"),
          ResidualEnsemble.rmseOf(withCands, "x_true", "cand1_x") +
            ResidualEnsemble.rmseOf(withCands, "y_true", "cand1_y"))
        val w = ResidualEnsemble.inverseRmseWeights(rmses)
        val df = withCands
          .withColumn("pred_x", ResidualEnsemble.blend(
            Seq(col("cand0_x"), col("cand1_x")), w))
          .withColumn("pred_y", ResidualEnsemble.blend(
            Seq(col("cand0_y"), col("cand1_y")), w))
        (df, w)
      }

    val clipped = finalDf
      .withColumn("pred_x", Scalars.clampX(col("pred_x")))
      .withColumn("pred_y", Scalars.clampY(col("pred_y")))
      .cache()

    def rmse(px: String, py: String): Double =
      clipped.agg(sqrt(lit(0.5) * (
        avg(pow(col("x_true") - col(px), 2)) +
          avg(pow(col("y_true") - col(py), 2))))).head().getDouble(0)

    val res = Result(clipped, rmse("phys_x", "phys_y"), rmse("pred_x", "pred_y"),
      weights)
    // The rmse() aggs above materialized `clipped`, so every interior
    // cache is now dead weight: release them instead of letting a
    // long-lived session accumulate evictable-but-resident partitions.
    // `clipped` itself stays cached — it's the returned OOF table.
    rows.unpersist()
    oofAll.unpersist()
    lastCached.unpersist()
    res
  }
}
