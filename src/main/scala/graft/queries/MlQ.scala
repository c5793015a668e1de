package graft.queries

import org.apache.spark.sql.functions._
import graft.ml.{Folds, Scaler, TargetEncoder}
import Q._

/** Registered queries for the ML-support operators that are exactly
  * SQL-expressible: fold assignment (M1) and standard scaling (M6).
  * Model-training queries (M2/M3/M5) register in [[PipelineQ]] as
  * rows-only checks — GBT fits aren't SQL. */
object MlQ extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(
    "m1_folds" -> ((s, dir) => {
      Folds.withRankFold(customer(s, dir), Seq("c_nationkey", "c_mktsegment"), 5)
        .select(col("c_custkey"), col("fold").cast("long").as("fold"))
    }),

    "m6_scaler" -> ((s, dir) => {
      Scaler.fitTransform(lineitem(s, dir), Seq("l_quantity", "l_extendedprice"))
        .select(
          col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          // + 0.0 normalizes IEEE negative zero (ORACLE_NOTES rule 4):
          // a row landing exactly on the column mean rounds to -0.0 in
          // DuckDB, +0.0 here — caught at sf0.1 by the bit-exact check.
          (r6(col("l_quantity_scaled")) + lit(0.0)).as("q_scaled"),
          (r6(col("l_extendedprice_scaled")) + lit(0.0)).as("p_scaled"))
    }),

    // M10/net-new: leak-free out-of-fold target encoding — each row's
    // category encoded by the target mean of the OTHER folds
    // (ml/TargetEncoder.scala). Fold id is a deterministic key mod so
    // the oracle reproduces it; the encoding itself is one division
    // of exact BIGINT sums → raw doubles hash-match.
    "m10_target_enc" -> ((s, dir) => {
      val li = lineitem(s, dir)
        .withColumn("fold", pmod(col("l_orderkey"), lit(5L)))
      TargetEncoder.oofEncode(li, "l_returnflag", "fold",
          col("l_quantity").cast("long"))
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_returnflag"), col("fold"), col("enc"))
    }))

  val oracle: Seq[(String, String)] = Seq(
    "m1_folds" ->
      """WITH keys AS (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer),
        |f AS (SELECT c_nationkey, c_mktsegment,
        |  (dense_rank() OVER (ORDER BY c_nationkey, c_mktsegment) - 1) % 5 AS fold
        | FROM keys)
        |SELECT c_custkey, CAST(fold AS BIGINT) AS fold
        |FROM customer JOIN f USING (c_nationkey, c_mktsegment)""".stripMargin,

    "m10_target_enc" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_returnflag,
        |  l_quantity::BIGINT AS y, l_orderkey % 5 AS fold FROM lineitem),
        |st AS (SELECT l_returnflag, fold, count(*)::BIGINT AS n_cf,
        |  sum(y)::BIGINT AS s_cf FROM li GROUP BY l_returnflag, fold),
        |e AS (SELECT l_returnflag, fold,
        |  sum(n_cf) OVER (PARTITION BY l_returnflag)::BIGINT AS n_c,
        |  sum(s_cf) OVER (PARTITION BY l_returnflag)::BIGINT AS s_c,
        |  n_cf, s_cf FROM st)
        |SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
        | l_returnflag, fold,
        | CASE WHEN n_c > n_cf THEN
        |  ((s_c - s_cf)::DOUBLE) / ((n_c - n_cf)::DOUBLE) END AS enc
        |FROM li JOIN e USING (l_returnflag, fold)""".stripMargin,

    "m6_scaler" ->
      """WITH stats AS (SELECT avg(l_quantity) AS mq, stddev_samp(l_quantity) AS sq,
        |  avg(l_extendedprice) AS mp, stddev_samp(l_extendedprice) AS sp FROM lineitem)
        |SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | round((l_quantity - mq) / sq, 6) + 0.0 AS q_scaled,
        | round((l_extendedprice - mp) / sp, 6) + 0.0 AS p_scaled
        |FROM lineitem, stats""".stripMargin)
}
