package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 77: the scorecard KS statistic, Tukey's median
  * polish, and maximum drawdown — KS-on-scores with its optimal cut
  * (m14's AUC integrates separation; KS reports WHERE the score
  * separates best, the credit-scorecard headline), median polish (the
  * ROBUST two-way decomposition — a49's seasonal index is mean-based
  * and one outlier day poisons it; Tukey's sweeps use medians), and
  * max drawdown over cumulative revenue (w27's CUSUM detects level
  * shifts; drawdown measures worst peak-to-trough giveback, the
  * risk-report primitive). Net-new vs the 484-query surface
  * (grep-checked: no ks_stat/median_polish/drawdown).
  *
  * Portability: everything in this batch is EXACT INTEGER end to end
  * (odd-arity medians of integers are integers; KS's argmax is
  * integer cross-multiplied; drawdown is a prefix-max difference) —
  * the only float anywhere is KS's single closing division.
  */
object Curation77Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // M64: two-sample KS over the m14/m21 score fixture (score k =
    // (id·37) mod 101, label = id mod 3 = 0): D = max_k |cumpos·NEG −
    // cumneg·POS| / (POS·NEG) over the 101-value lattice, with the
    // optimal cut (argmax, ties → smallest score) found by a second
    // pass over the bounded lattice.
    "m64_ks_stat" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy("k")
      val lat = graft.io.Tables.eventsUs(s, dir).select(
        ((col("event_id") * 37) % 101).as("k"),
        when(col("event_id") % 3 === 0, 1L).otherwise(0L).as("o"))
        .groupBy("k").agg(count(lit(1)).as("nk"), sum("o").as("pk"))
      val cum = lat.select(col("k"),
        sum("pk").over(w).as("cp"),
        (sum("nk").over(w) - sum("pk").over(w)).as("cn"),
        sum("pk").over(org.apache.spark.sql.expressions.Window
          .partitionBy()).as("pos"),
        (sum("nk").over(org.apache.spark.sql.expressions.Window
          .partitionBy()) - sum("pk").over(org.apache.spark.sql
          .expressions.Window.partitionBy())).as("neg"))
        .withColumn("d_scaled",
          abs(col("cp") * col("neg") - col("cn") * col("pos")))
      val mx = cum.agg(max("d_scaled").as("mx"))
      cum.crossJoin(broadcast(mx))
        .filter(col("d_scaled") === col("mx"))
        .agg(min("k").as("cut_k"), max("pos").as("n_pos"),
          max("neg").as("n_neg"), max("mx").as("d_scaled"))
        .select(col("n_pos"), col("n_neg"), col("cut_k"),
          (col("d_scaled").cast("double") /
            (col("n_pos").cast("decimal(38,0)") * col("n_neg"))
              .cast("double")).as("ks"))
    }),

    // A122: Tukey median polish of the event_type × day-of-week
    // total-cents grid — two full (row, column) sweeps. The grid is
    // 5×7 by domain; odd arities make every median an EXACT INTEGER,
    // so effects and residuals never leave the lattice. The bounded
    // polish runs on the driver (the m61/w68 bounded-metadata class,
    // guarded); the oracle replays the same sweeps with
    // quantile_disc(0.5) (= the lower-middle element, exact for odd
    // counts).
    "a122_median_polish" -> ((s, dir) => {
      import s.implicits._
      val cells = graft.io.Tables.eventsUs(s, dir).select(
        col("event_type").as("tp"),
        pmod(expr("ts_us DIV 86400000000"), lit(7L)).as("dow"),
        lattice(col("value"), 100).as("c"))
        .groupBy("tp", "dow").agg(sum("c").as("cents"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      require(cells.length <= 64,
        s"domain-bounded grid exceeded: ${cells.length}")
      def med(xs: Seq[Long]): Long = xs.sorted.apply((xs.length - 1) / 2)
      var resid = cells.map { case (t, d, c) => (t, d) -> c }.toMap
      val rowEff = scala.collection.mutable.Map[String, Long]()
        .withDefaultValue(0L)
      val colEff = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      val types = cells.map(_._1).distinct.sorted
      val dows = cells.map(_._2).distinct.sorted
      for (_ <- 1 to 2) {
        for (t <- types) {
          val m = med(dows.flatMap(d => resid.get((t, d))))
          rowEff(t) += m
          dows.foreach(d => resid.get((t, d)).foreach(v =>
            resid += (t, d) -> (v - m)))
        }
        for (d <- dows) {
          val m = med(types.flatMap(t => resid.get((t, d))))
          colEff(d) += m
          types.foreach(t => resid.get((t, d)).foreach(v =>
            resid += (t, d) -> (v - m)))
        }
      }
      cells.map { case (t, d, c) =>
        (t, d, c, rowEff(t), colEff(d), resid((t, d)))
      }.toSeq.toDF("event_type", "dow", "cents", "row_eff", "col_eff",
        "residual")
    }),

    // W86: maximum drawdown of cumulative daily revenue — the
    // bounded day-lattice series with its prefix max and per-day
    // giveback, all exact BIGINTs. The worst day is read off the
    // emitted series (max dd); no float exists in this query.
    "w86_drawdown" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.orderBy("day")
      graft.io.Tables.eventsUs(s, dir)
        .select(expr("ts_us DIV 86400000000").as("day"),
          lattice(col("value"), 100).as("c"))
        .groupBy("day").agg(sum("c").as("cents"))
        .withColumn("cum", sum("cents").over(w))
        .withColumn("runmax", max("cum").over(w))
        .select(col("day"), col("cents"), col("cum"), col("runmax"),
          (col("runmax") - col("cum")).as("drawdown"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "m64_ks_stat" ->
      """WITH e AS (SELECT (event_id * 37) % 101 AS k,
        |  CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END::BIGINT AS o
        | FROM events),
        |lat AS (SELECT k, count(*)::BIGINT AS nk,
        |  CAST(sum(o) AS BIGINT) AS pk FROM e GROUP BY k),
        |cum AS (SELECT k,
        |  CAST(sum(pk) OVER (ORDER BY k) AS BIGINT) AS cp,
        |  CAST(sum(nk) OVER (ORDER BY k)
        |     - sum(pk) OVER (ORDER BY k) AS BIGINT) AS cn,
        |  CAST(sum(pk) OVER () AS BIGINT) AS pos,
        |  CAST(sum(nk) OVER () - sum(pk) OVER () AS BIGINT) AS neg
        | FROM lat),
        |d AS (SELECT k, pos, neg,
        |  abs(cp * neg - cn * pos) AS d_scaled FROM cum),
        |mx AS (SELECT max(d_scaled) AS mx FROM d)
        |SELECT max(pos) AS n_pos, max(neg) AS n_neg,
        | CAST(min(k) AS BIGINT) AS cut_k,
        | max(mx)::DOUBLE
        |   / ((max(pos)::DECIMAL(38,0) * max(neg))::VARCHAR)::DOUBLE
        |   AS ks
        |FROM d CROSS JOIN mx WHERE d_scaled = mx""".stripMargin,

    "a122_median_polish" ->
      s"""WITH RECURSIVE cells AS (SELECT event_type AS tp,
        |  (epoch_us(ts) // 86400000000) % 7 AS dow,
        |  CAST(sum(${latticeSql("value", 100)}) AS BIGINT)
        |    AS cents
        | FROM events GROUP BY 1, 2),
        |r1 AS (SELECT tp, dow, cents,
        |  cents - quantile_disc(cents, 0.5) OVER (PARTITION BY tp) AS v,
        |  quantile_disc(cents, 0.5) OVER (PARTITION BY tp) AS rm1
        | FROM cells),
        |c1 AS (SELECT tp, dow, cents, rm1,
        |  v - quantile_disc(v, 0.5) OVER (PARTITION BY dow) AS v,
        |  quantile_disc(v, 0.5) OVER (PARTITION BY dow) AS cm1
        | FROM r1),
        |r2 AS (SELECT tp, dow, cents, rm1, cm1,
        |  v - quantile_disc(v, 0.5) OVER (PARTITION BY tp) AS v,
        |  quantile_disc(v, 0.5) OVER (PARTITION BY tp) AS rm2
        | FROM c1),
        |c2 AS (SELECT tp, dow, cents, rm1, cm1, rm2,
        |  v - quantile_disc(v, 0.5) OVER (PARTITION BY dow) AS v,
        |  quantile_disc(v, 0.5) OVER (PARTITION BY dow) AS cm2
        | FROM r2)
        |SELECT tp AS event_type, dow, cents,
        | CAST(rm1 + rm2 AS BIGINT) AS row_eff,
        | CAST(cm1 + cm2 AS BIGINT) AS col_eff,
        | CAST(v AS BIGINT) AS residual
        |FROM c2""".stripMargin,

    "w86_drawdown" ->
      s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |  CAST(sum(${latticeSql("value", 100)}) AS BIGINT)
        |    AS cents
        | FROM events GROUP BY 1),
        |c AS (SELECT day, cents,
        |  CAST(sum(cents) OVER (ORDER BY day) AS BIGINT) AS cum
        | FROM daily)
        |SELECT day, cents, cum,
        | CAST(max(cum) OVER (ORDER BY day) AS BIGINT) AS runmax,
        | CAST(max(cum) OVER (ORDER BY day) - cum AS BIGINT) AS drawdown
        |FROM c""".stripMargin)
}
