package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.io.{Tables, TrackingSchemas}
import graft.metrics.Score
import graft.ml.GbtPair
import graft.pipeline.TreeEnsemblePipeline

/** The switch-over proof: reference-shaped CSVs (exact 23-column
  * schema, ft-in heights with malformed values, per-week files) run
  * through the engine end to end — multi-file scan → height parse →
  * training rows → physics baseline → residual ensemble → submission
  * CSV → competition score. */
class EndToEndSpec extends SparkSpec {

  private def writeFixtures(dir: String): Unit = {
    val rng = new scala.util.Random(17)
    def heightOf(n: Int) = if (n % 5 == 0) "bad" else s"6-${n % 12}"
    val inputHeader = TrackingSchemas.trackingInput.fieldNames.mkString(",")
    val outputHeader = TrackingSchemas.trackingOutput.fieldNames.mkString(",")

    for (week <- 1 to 2) {
      val in = new StringBuilder(inputHeader + "\n")
      val out = new StringBuilder(outputHeader + "\n")
      for (g <- Seq(2023090700L + week); p <- 1 to 3; n <- 1 to 8) {
        val x0 = rng.nextDouble() * 80 + 20
        val y0 = rng.nextDouble() * 40 + 5
        val sp = rng.nextDouble() * 7 + 1
        val d = rng.nextDouble() * 360
        val vx = sp * math.sin(math.toRadians(d))
        val vy = sp * math.cos(math.toRadians(d))
        val side = if (n % 2 == 0) "Offense" else "Defense"
        val role = if (n == 2) "Targeted Receiver" else "Other Route Runner"
        for (f <- 1 to 12) {
          in.append(Seq(
            g, p, n == 2, n, f, "right", 35, s"P$n", heightOf(n),
            200.0 + n, "1995-01-01", "WR", side, role,
            f"${x0 + vx * f / 10}%.4f", f"${y0 + vy * f / 10}%.4f",
            f"$sp%.4f", "0.5", f"$d%.2f", f"$d%.2f",
            3, f"${x0 + vx * 2}%.4f", f"${y0 + vy * 2}%.4f").mkString(",") + "\n")
        }
        // future truth: physics from last frame + learnable pattern
        val (lx, ly) = (x0 + vx * 1.2, y0 + vy * 1.2)
        for (h <- 1 to 3) {
          val xt = math.min(120, math.max(0,
            lx + vx * h / 10 + 1.5 * math.sin(lx / 10)))
          val yt = math.min(53.3, math.max(0,
            ly + vy * h / 10 + 1.2 * math.cos(ly / 7)))
          out.append(s"$g,$p,$n,$h,$xt,$yt\n")
        }
      }
      Files.writeString(java.nio.file.Path.of(dir, s"input_w0$week.csv"),
        in.toString)
      Files.writeString(java.nio.file.Path.of(dir, s"output_w0$week.csv"),
        out.toString)
    }
  }

  test("reference-schema CSVs: scan → features → ensemble → submission → score") {
    withTempDir("graft_e2e") { dir =>
      writeFixtures(dir)

      // S1/S2: multi-week explicit-schema scans.
      val input = Tables.csv(spark, TrackingSchemas.trackingInput,
        s"$dir/input_w01.csv", s"$dir/input_w02.csv")
      val output = Tables.csv(spark, TrackingSchemas.trackingOutput,
        s"$dir/output_w01.csv", s"$dir/output_w02.csv")
      assert(input.count() == 2L * 3 * 8 * 12)
      assert(output.count() == 2L * 3 * 8 * 3)

      // P7: ft-in parse with malformed fallback; P6: role one-hot.
      val heights = input.select(
        graft.functions.Scalars.heightToInches(col("player_height"), Some(72.0))
          .as("h")).distinct().collect().map(_.getDouble(0))
      assert(heights.forall(h => h >= 72.0 && h < 84.0))

      // Training rows from the reference-shaped truth.
      val truth = output.select(
        col("game_id"), col("play_id"), col("nfl_id"),
        col("frame_id").cast("long").as("frame_id_out"),
        col("x").as("x_true"), col("y").as("y_true"))
      val frames = input.select("game_id", "play_id", "frame_id", "nfl_id",
        "x", "y", "s", "dir", "player_side")
      val r = TreeEnsemblePipeline.run(frames, truth,
        TreeEnsemblePipeline.Config(k = 2,
          gbt = GbtPair.Params(maxIter = 8, maxDepth = 3, fitPartitions = 4)))
      assert(r.rmsePhysics > 0 && r.rmsePhysics < 5.0)
      assert(r.rmseEnsemble < r.rmsePhysics)

      // S4 + M9: submission sink, read back, score against the solution.
      val submission = r.oof.select(
        concat_ws("_", col("game_id"), col("play_id"), col("nfl_id"),
          col("frame_id_out")).as("id"),
        col("pred_x").as("x"), col("pred_y").as("y"))
      Tables.writeSubmission(submission, s"$dir/submission")
      val restored = Tables.csv(spark, TrackingSchemas.submission,
        s"$dir/submission")
      assert(restored.count() == submission.count())
      val solution = truth.select(
        concat_ws("_", col("game_id"), col("play_id"), col("nfl_id"),
          col("frame_id_out")).as("id"),
        col("x_true").as("x"), col("y_true").as("y"))
      val rmse = Score.rmse(solution, restored)
      assert(math.abs(rmse - r.rmseEnsemble) < 1e-4) // CSV roundtrip preserved
    }
  }

  // ------------------------------------------------------------------
  // Golden-artifact reproduction on the REAL reference repository data
  // (read-only; the reference's own test_input.csv is not shipped, so
  // the last-observed-state physics slice can't run — what CAN be
  // reproduced exactly is pinned here).

  private val refData = "/root/reference/data"

  test("golden artifact: template expansion reproduces the committed submission id set") {
    assume(new java.io.File(s"$refData/test.csv").isFile)
    // J5/S4-id on the real template: the id column of the reference's
    // committed submission.csv (main_cuda.py:1533-1540) must be EXACTLY
    // our concat_ws expansion of its test.csv, same cardinality, no
    // dupes either side.
    val template = Tables.csv(spark, TrackingSchemas.testTemplate,
      s"$refData/test.csv")
    val ids = template.select(
      concat_ws("_", col("game_id"), col("play_id"), col("nfl_id"),
        col("frame_id")).as("id"))
    val golden = Tables.csv(spark, TrackingSchemas.submission,
      s"$refData/submission.csv")
    assert(golden.columns.toSeq == Seq("id", "x", "y"))
    val n = golden.count()
    assert(n == 5837L, s"committed submission rows: $n")
    assert(ids.count() == n)
    assert(ids.distinct().count() == n)
    assert(golden.join(ids, Seq("id"), "left_anti").count() == 0,
      "submission ids missing from our template expansion")
    assert(ids.join(golden, Seq("id"), "left_anti").count() == 0,
      "template ids missing from the committed submission")
    // field-bounds sanity on the reference's own predictions
    val oob = golden.filter(col("x") < 0 || col("x") > 120 ||
      col("y") < 0 || col("y") > 53.3).count()
    assert(oob == 0)
  }

  test("golden artifact: 18-week multi-file scan of the real train outputs") {
    assume(new java.io.File(s"$refData/train").isDirectory)
    // S2 on the real per-week files: one multi-path scan, explicit
    // schema (no inference), schema and totals pinned against wc -l.
    val weeks = new java.io.File(s"$refData/train").listFiles()
      .filter(_.getName.matches("output_2023_w\\d+\\.csv"))
      .map(_.getPath).sorted
    assert(weeks.length == 18)
    val out = Tables.csv(spark, TrackingSchemas.trackingOutput, weeks: _*)
    assert(out.schema == TrackingSchemas.trackingOutput)
    val n = out.count()
    val expected = weeks.map(p =>
      scala.io.Source.fromFile(p).getLines().size - 1L).sum
    assert(n == expected, s"union rows $n != per-file sum $expected")
    // keys well-formed, no parse failures
    assert(out.filter(col("x").isNull || col("y").isNull ||
      col("game_id").isNull).count() == 0)
    // truth tracking is NOT clipped to the field (3 rows in w03 run
    // ~1 yd past the boundary: x to 120.83, y to 53.72) — assert a
    // sane envelope, not the clip the PREDICTION path applies (P4).
    assert(out.filter(col("x") < -5 || col("x") > 125 ||
      col("y") < -5 || col("y") > 58).count() == 0)
  }

  test("golden artifact: scorer is exact-zero on the committed submission vs itself") {
    assume(new java.io.File(s"$refData/submission.csv").isFile)
    // M9 on the real artifact: score(sub, sub) == 0 and the metric
    // joins on the full 5,837-row id set (scoring.py:10-53 semantics).
    val golden = Tables.csv(spark, TrackingSchemas.submission,
      s"$refData/submission.csv")
    assert(Score.rmse(golden, golden) == 0.0)
  }
}
