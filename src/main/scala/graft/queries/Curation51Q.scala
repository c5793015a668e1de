package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 51: two classical residual/outlier diagnostics the
  * surface lacked, both riding the exact cent lattice so every moment
  * is an exact integer and the only doubles are ONE pinned-order
  * division/sqrt tail (the m14_auc portability class):
  *  - Grubbs' test statistic (max studentized deviation) per group,
  *    with the argmax row identified by an exact integer comparison;
  *  - Durbin–Watson first-order autocorrelation statistic per series
  *    (mean-centered residuals — the mean CANCELS in successive
  *    differences, so the numerator is an exact integer too).
  * Net-new vs the 417-query surface (grep-checked).
  */
object Curation51Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // A96: Grubbs' outlier statistic G = max|c − mean| / s per
    // event_type. Scaled deviation n·c − Σc is an exact DECIMAL(38,0)
    // (no early division, the g9 overflow rule), so BOTH the max and
    // the argmax (smallest event_id among ties) are exact integer
    // decisions; G itself is the one IEEE tail
    // maxd / (n · √(num / (n·(n−1)))) with num = n·Σc² − (Σc)²,
    // mirrored operation-for-operation in the oracle. Plan: one
    // hash-agg for moments, a broadcast join back (≤ #event_types
    // rows), one fused max(struct) pass for (max, argmax) — no sort,
    // no window, scale-safe at any row count.
    "a96_grubbs" -> ((s, dir) => {
      val e = events(s, dir).select(col("event_type"), col("event_id"),
        lattice(col("value"), 100).as("c"))
      val g = e.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("scc"))
      val dev = e.join(broadcast(g), "event_type")
        .withColumn("absd",
          abs(col("c").cast("decimal(38,0)") * col("n") - col("sc")))
      // fused (max deviation, argmax id): ties take the SMALLEST
      // event_id via the negated-id struct-max (exact integers only)
      val mo = dev.groupBy("event_type")
        .agg(max(struct(col("absd"),
          (lit(0L) - col("event_id")).as("nid"))).as("m"))
        .select(col("event_type"), col("m.absd").as("maxd"),
          (lit(0L) - col("m.nid")).as("outlier_event_id"))
      g.join(mo, "event_type")
        .withColumn("num",
          col("scc") * col("n") - col("sc").cast("decimal(38,0)") * col("sc"))
        .filter(col("n") >= 3 && col("num") > 0)
        .select(col("event_type"), col("n"),
          r6(col("maxd").cast("double") /
            (col("n").cast("double") *
              sqrt(col("num").cast("double") /
                (col("n").cast("double") *
                  (col("n").cast("double") - lit(1.0)))))).as("g_stat"),
          col("outlier_event_id"))
    }),

    // A97: Durbin–Watson statistic per user series,
    // DW = Σ(eₜ − eₜ₋₁)² / Σeₜ² with e the mean-centered cents. The
    // mean cancels in the differences, so Σd² is exact; Σe² scales to
    // num/n with num = n·Σc² − (Σc)² exact, giving
    // DW = n·Σd² / num — exact integers until ONE pinned division.
    // DW ≈ 2 ⇒ no lag-1 autocorrelation; ≪2 ⇒ positive. One per-user
    // ordered window (the w1_lag exchange) + one hash-agg.
    "a97_dw" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          lattice(col("value"), 100).as("c"))
        .withColumn("d", col("c") - lag(col("c"), 1).over(w))
      e.groupBy("user_id").agg(
          count(lit(1)).as("n"), sum(col("c")).as("sc"),
          sum(col("c").cast("decimal(38,0)") * col("c")).as("scc"),
          sum(col("d").cast("decimal(38,0)") * col("d")).as("sdd"))
        .withColumn("num",
          col("scc") * col("n") - col("sc").cast("decimal(38,0)") * col("sc"))
        .filter(col("n") >= 3 && col("num") > 0)
        .select(col("user_id"), col("n"),
          r6((col("n").cast("double") * col("sdd").cast("double")) /
            col("num").cast("double")).as("dw"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a96_grubbs" ->
      s"""WITH e AS (SELECT event_type, event_id,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |g AS (SELECT event_type, count(*)::BIGINT AS n,
        |  sum(c)::BIGINT AS sc, sum(c::DECIMAL(38,0) * c) AS scc
        | FROM e GROUP BY 1),
        |dev AS (SELECT e.event_type, e.event_id,
        |  abs(e.c::DECIMAL(38,0) * g.n - g.sc) AS absd
        | FROM e JOIN g USING (event_type)),
        |mo AS (SELECT event_type, max(absd) AS maxd FROM dev GROUP BY 1),
        |o AS (SELECT dev.event_type, min(event_id)::BIGINT
        |    AS outlier_event_id
        | FROM dev JOIN mo USING (event_type)
        | WHERE absd = maxd GROUP BY 1)
        |SELECT g.event_type, g.n,
        | round(maxd::DOUBLE / (g.n::DOUBLE *
        |   sqrt(num::DOUBLE / (g.n::DOUBLE * (g.n::DOUBLE - 1.0)))), 6)
        |   AS g_stat,
        | outlier_event_id
        |FROM (SELECT *, scc * n - sc::DECIMAL(38,0) * sc AS num FROM g) g
        | JOIN mo USING (event_type) JOIN o USING (event_type)
        |WHERE g.n >= 3 AND num > 0""".stripMargin,

    "a97_dw" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |d AS (SELECT user_id, c,
        |  c - lag(c) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |    AS d
        | FROM e),
        |g AS (SELECT user_id, count(*)::BIGINT AS n, sum(c)::BIGINT AS sc,
        |  sum(c::DECIMAL(38,0) * c) AS scc,
        |  sum(d::DECIMAL(38,0) * d) AS sdd
        | FROM d GROUP BY 1)
        |SELECT user_id, n,
        | round((n::DOUBLE * (sdd::VARCHAR)::DOUBLE) / (num::VARCHAR)::DOUBLE, 6) AS dw
        |FROM (SELECT *, scc * n - sc::DECIMAL(38,0) * sc AS num FROM g)
        |WHERE n >= 3 AND num > 0""".stripMargin)
}
