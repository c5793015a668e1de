package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** M4: residual-learning ensemble composition
  * (`main_cuda.py:1009-1126`).
  *
  * All pure column algebra over prediction DataFrames — distributed,
  * shuffle-free except the tiny global RMSE aggregations (1-row
  * broadcasts).
  */
object ResidualEnsemble {

  /** Global RMSE of (truth - pred) as a driver-side double (a 1-row
    * agg; the input stays distributed). */
  def rmseOf(df: DataFrame, truth: String, pred: String): Double =
    df.agg(sqrt(avg(pow(col(truth) - col(pred), 2)))).head().getDouble(0)

  /** Inverse-RMSE weights, normalized to sum 1
    * (`main_cuda.py:1069-1075`). */
  def inverseRmseWeights(rmses: Seq[Double]): Seq[Double] = {
    val inv = rmses.map(r => 1.0 / math.max(r, 1e-12))
    val s = inv.sum
    inv.map(_ / s)
  }

  /** Weighted blend of prediction columns. */
  def blend(preds: Seq[Column], weights: Seq[Double]): Column =
    preds.zip(weights).map { case (p, w) => p * lit(w) }.reduce(_ + _)

  /** Compose a residual stage: final = base + residual_pred. */
  def compose(base: Column, residualPred: Column): Column = base + residualPred
}
