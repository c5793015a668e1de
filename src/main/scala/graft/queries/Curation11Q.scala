package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-5 batch 11: sequential hypothesis testing (SPRT) and
  * model-derived feature importances. Net-new vs the reference
  * (SURVEY.md §2.11). SPRT follows ORACLE_NOTES: the two per-outcome
  * log-likelihood-ratio increments integerize ONCE as micro-nat
  * constants, the running LLR is an exact BIGINT window sum, and the
  * accept/reject decision is an integer threshold crossing.
  */
object Curation11Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // Wald's SPRT over each user's event stream: H0 p=1/3 vs H1
    // p=1/2 for the (event_id % 3 == 0)-derived outcome. Each outcome
    // adds one of TWO integerized micro-nat constants (ln(p1/p0) or
    // ln(q1/q0)), so the running LLR is an exact cumulative BIGINT
    // and the sequential decision (cross +ln19 → accept H1, −ln19 →
    // accept H0, first crossing wins) is pure integer logic — the
    // always-valid early-stopping monitor an experimentation pipeline
    // runs daily. One window exchange on the user key.
    "a51_sprt" -> ((s, dir) => {
      val lnUp = math.round(1e6 * math.log(0.5 / (1.0 / 3.0)))   //  405465
      val lnDn = math.round(1e6 * math.log(0.5 / (2.0 / 3.0)))   // -287682
      val bound = math.round(1e6 * math.log(19.0))               // 2944439
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          when(col("event_id") % 3 === 0, 1L).otherwise(0L).as("y"))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val llr = sum(when(col("y") === 1, lit(lnUp)).otherwise(lit(lnDn)))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
      val marked = e.select(col("user_id"), col("ts_us"), col("event_id"),
        llr.as("llr6"),
        when(llr >= bound, 1L).when(llr <= -bound, -1L)
          .otherwise(0L).as("verdict"))
      // the stream's decision is the FIRST nonzero verdict in event-time
      // order; emit the per-user summary row
      val firsts = marked.filter(col("verdict") =!= 0)
        .withColumn("rk", row_number().over(
          Window.partitionBy("user_id").orderBy("ts_us", "event_id")))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("verdict").as("decision"),
          col("event_id").as("decided_at"))
      marked.groupBy("user_id").agg(count(lit(1)).as("n_events"),
          max("llr6").as("max_llr6"), min("llr6").as("min_llr6"))
        .join(firsts, Seq("user_id"), "left")
        .select(col("user_id"), col("n_events"), col("max_llr6"),
          col("min_llr6"),
          coalesce(col("decision"), lit(0L)).as("decision"),
          col("decided_at"))
    }),

    // GBT feature importances (normalized impurity gains) for a small
    // depth-3 regression fit — the tree twin of m27's model-agnostic
    // permutation importance. MLlib fit → one tiny local vector;
    // rows-only driver check, spec pins the simplex property (sums to
    // 1, non-negative) and that the signal feature wins.
    "m29_gbt_importance" -> ((s, dir) => {
      import org.apache.spark.ml.regression.GBTRegressor
      import org.apache.spark.ml.feature.VectorAssembler
      val e = graft.io.Tables.eventsUs(s, dir).select(
        lattice(col("value"), 100).as("c"),
        (col("event_id") % 7).cast("double").as("f_noise1"),
        (col("user_id") % 5).cast("double").as("f_noise2"))
        .withColumn("f_signal", (col("c") % 97).cast("double"))
        .withColumn("label", (col("c") % 97).cast("double") * 2.0 +
          (col("c") % 11).cast("double"))
      val feats = Array("f_signal", "f_noise1", "f_noise2")
      val asm = new VectorAssembler().setInputCols(feats)
        .setOutputCol("features")
      val model = new GBTRegressor().setMaxDepth(3).setMaxIter(10)
        .setSeed(42).setLabelCol("label").fit(asm.transform(e))
      val imp = model.featureImportances.toArray
      import s.implicits._
      // Integer-decided gate rows (the m8_nn_gate pattern): the raw
      // impurity gains are fit-path-dependent doubles; the seed-stable
      // simplex/dominance facts the spec pinned are the output —
      // per-feature non-negativity + argmax, plus the sums-to-one
      // simplex check replicated on every row.
      val top = feats.zip(imp).maxBy(_._2)._1
      val simplexOk = if (math.abs(imp.sum - 1.0) < 1e-9) 1L else 0L
      feats.zip(imp).toSeq.map { case (ft, v) =>
        (ft, if (ft == top) 1L else 0L, if (v >= 0.0) 1L else 0L,
          simplexOk)
      }.toDF("feature", "is_top", "importance_nonneg", "simplex_ok")
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    // Gate rows: the seed-stable GBT-importance facts (signal feature
    // tops, all gains non-negative, gains sum to one) are the content.
    "m29_gbt_importance" ->
      """SELECT 'f_signal' AS feature, 1::BIGINT AS is_top,
        | 1::BIGINT AS importance_nonneg, 1::BIGINT AS simplex_ok
        |UNION ALL SELECT 'f_noise1', 0::BIGINT, 1::BIGINT, 1::BIGINT
        |UNION ALL SELECT 'f_noise2', 0::BIGINT, 1::BIGINT, 1::BIGINT""".stripMargin,

    "a51_sprt" -> {
      val lnUp = math.round(1e6 * math.log(0.5 / (1.0 / 3.0)))
      val lnDn = math.round(1e6 * math.log(0.5 / (2.0 / 3.0)))
      val bound = math.round(1e6 * math.log(19.0))
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         |  CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS y FROM events),
         |m AS (SELECT user_id, ts_us, event_id,
         |  sum(CASE WHEN y = 1 THEN $lnUp ELSE $lnDn END) OVER (
         |    PARTITION BY user_id ORDER BY ts_us, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         |    AS llr6
         | FROM e),
         |v AS (SELECT *, CASE WHEN llr6 >= $bound THEN 1
         |    WHEN llr6 <= -$bound THEN -1 ELSE 0 END::BIGINT AS verdict
         | FROM m),
         |f AS (SELECT user_id, verdict AS decision,
         |   event_id AS decided_at,
         |   row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         |     AS rk
         | FROM v WHERE verdict != 0),
         |g AS (SELECT user_id, count(*)::BIGINT AS n_events,
         |  max(llr6) AS max_llr6, min(llr6) AS min_llr6
         | FROM v GROUP BY user_id)
         |SELECT g.user_id, n_events, max_llr6, min_llr6,
         | coalesce(f.decision, 0)::BIGINT AS decision, f.decided_at
         |FROM g LEFT JOIN (SELECT * FROM f WHERE rk = 1) f
         |  USING (user_id)""".stripMargin
    })
}
