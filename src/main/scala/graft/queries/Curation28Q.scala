package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-6 batch 28: bitemporal as-of lookup and prequential
  * (progressive-validation) evaluation. Net-new vs the reference
  * (SURVEY.md §2.11). All integer-decided.
  */
object Curation28Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // J24: BITEMPORAL as-of — the two-axis time query (valid time ×
    // transaction time) behind reproducible feature lookups: "what
    // did we BELIEVE at tx version T the price WAS on day V". The
    // versioned dimension is synthesized deterministically from
    // part (5 tx versions, each moving the valid_from forward and
    // bumping the cent price); the pick is the max (valid_from,
    // tx_v) among rows visible at (V, T) — one packed-BIGINT max
    // per key, no window sort. Pure integer comparisons.
    "j24_bitemporal" -> ((s, dir) => {
      val versions = s.range(0, 5).select(col("id").as("tx_v"))
      val dim = part(s, dir).filter(col("p_partkey") < 100)
        .select(col("p_partkey"),
          lattice(col("p_retailprice"), 100).as("base_cents"))
        .crossJoin(broadcast(versions))
        .select(col("p_partkey"), col("tx_v"),
          (col("tx_v") * 365L).as("valid_from_day"),
          (col("base_cents") + col("tx_v") * 17L).as("price_cents"))
      // as-of valid day 800, tx version 3
      val visible = dim.filter(col("valid_from_day") <= 800 &&
        col("tx_v") <= 3)
      visible.groupBy("p_partkey")
        .agg(max(col("valid_from_day") * 8 + col("tx_v")).as("pk"))
        .join(visible
            .withColumn("pk", col("valid_from_day") * 8 + col("tx_v")),
          Seq("p_partkey", "pk"))
        .select(col("p_partkey"), col("tx_v").as("asof_tx"),
          col("valid_from_day").as("asof_valid_day"), col("price_cents"))
    }),

    // M33: prequential (test-then-train) evaluation — the streaming
    // ML validation protocol: each event is first PREDICTED by the
    // majority label of everything before it, then folded in. The
    // running majority is an exact cumulative-count comparison, the
    // error indicator is integer, and the output is the per-day
    // prequential error profile — learning-curve monitoring with no
    // holdout set. One time-ordered window pass.
    "m33_prequential" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_id"), col("ts_us"),
          when(col("event_id") % 3 === 0, 1L).otherwise(0L).as("y"))
      // the protocol is inherently sequential, but its running counts
      // are PREFIX SUMS — DistRank's time-bucketed two-pass computes
      // them p-way parallel (each bucket sorts its own time slice,
      // earlier-slice totals arrive as broadcast offsets), so the
      // stream never funnels into one sort task.
      val scored = graft.operators.DistRank.cumsum(e, col("ts_us"),
        Seq(col("ts_us"), col("event_id")),
        Seq((lit(1L), "n_prev"), (col("y"), "pos_prev")),
        inclusive = false)
        // majority vote; ties and cold start predict 0
        .withColumn("pred",
          when(col("pos_prev") * 2 > col("n_prev"), 1L).otherwise(0L))
        .withColumn("err", (col("pred") =!= col("y")).cast("long"))
      scored.groupBy(expr("ts_us DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("n"), sum("err").as("n_err"))
        .select(col("day"), col("n"), col("n_err"),
          (col("n_err").cast("double") / col("n").cast("double"))
            .as("preq_error"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "j24_bitemporal" ->
      s"""WITH v AS (SELECT unnest(range(0, 5)) AS tx_v),
        |dim AS (SELECT p_partkey, tx_v,
        |  tx_v * 365 AS valid_from_day,
        |  ${latticeSql("p_retailprice", 100)} + tx_v * 17
        |    AS price_cents
        | FROM part CROSS JOIN v WHERE p_partkey < 100),
        |vis AS (SELECT * FROM dim
        | WHERE valid_from_day <= 800 AND tx_v <= 3),
        |pick AS (SELECT p_partkey,
        |  max(valid_from_day * 8 + tx_v) AS pk FROM vis GROUP BY 1)
        |SELECT p_partkey, tx_v AS asof_tx,
        | valid_from_day AS asof_valid_day, price_cents
        |FROM vis JOIN pick USING (p_partkey)
        |WHERE valid_from_day * 8 + tx_v = pk""".stripMargin,

    "m33_prequential" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us,
        |  CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END::BIGINT AS y
        | FROM events),
        |m AS (SELECT event_id, ts_us, y,
        |  count(*) OVER w AS n_prev,
        |  coalesce(sum(y) OVER w, 0) AS pos_prev
        | FROM e WINDOW w AS (ORDER BY ts_us, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s AS (SELECT ts_us, y,
        |  CASE WHEN pos_prev * 2 > n_prev THEN 1 ELSE 0 END AS pred
        | FROM m)
        |SELECT ts_us // 86400000000 AS day, count(*)::BIGINT AS n,
        | sum(CASE WHEN pred != y THEN 1 ELSE 0 END)::BIGINT AS n_err,
        | sum(CASE WHEN pred != y THEN 1 ELSE 0 END)::DOUBLE
        |   / count(*)::DOUBLE AS preq_error
        |FROM s GROUP BY 1""".stripMargin)
}
