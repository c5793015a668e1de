package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-6 batch 27: partition-skew auditing, funnel latency
  * percentiles, and autocorrelation periodicity detection. Net-new
  * vs the reference (SURVEY.md §2.11). Exact integers everywhere;
  * floats are pinned-order chains of divisions of exact BIGINTs.
  */
object Curation27Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // O24: partition-skew audit — the pre-join diagnostic that
    // decides whether a key needs salting (operators/Skew): the
    // per-key row histogram collapsed to order statistics (type-1
    // p50/p99 via the rank pattern — no arrays) plus the
    // cross-multiplied hot-key flag max > 10·p50. One groupBy on the
    // key, then a tiny aggregated lattice.
    "o24_skew_audit" -> ((s, dir) => {
      val counts = lineitem(s, dir).groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"))
      // the key-count lattice is as unbounded as the key domain —
      // rank it with DistRank's bucketed two-pass, key count as the
      // literal total
      val ranked = graft.operators.DistRank.rowNumber(counts, col("n"),
        Seq(col("n"), col("l_suppkey")), "rn", totalAs = Some("nk"))
      ranked.groupBy(col("nk").as("n_keys"))
        .agg(sum("n").as("n_rows"), max("n").as("max_rows"),
          max(when(col("rn") === expr("(nk + 1) DIV 2"), col("n")))
            .as("p50_rows"),
          max(when(col("rn") === expr("(nk * 99 + 99) DIV 100"), col("n")))
            .as("p99_rows"))
        .withColumn("hot_key", col("max_rows") > col("p50_rows") * 10)
    }),

    // J23: funnel latency percentiles — how long click→purchase
    // takes, per day: the latency distribution of w58's attributed
    // conversions, collapsed to type-1 median/p90 on the integer
    // micros lattice with the rank pattern (day-keyed windows, no
    // arrays, no global sort).
    "j23_funnel_latency" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      val conv = graft.io.Tables.eventsUs(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("event_type"))
        .withColumn("lc", last(when(col("event_type") === "click",
          col("ts_us")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase" && col("lc").isNotNull &&
          col("ts_us") - col("lc") <= lit(7L * 86400L * 1000000L))
        .select(expr("ts_us DIV 86400000000").as("day"),
          (col("ts_us") - col("lc")).as("lat"))
      val wd = Window.partitionBy("day")
      conv
        .withColumn("nc", count(lit(1)).over(wd))
        .withColumn("rn", row_number().over(wd.orderBy("lat")))
        .groupBy(col("day"))
        .agg(max("nc").as("n_conv"),
          max(when(col("rn") === expr("(nc + 1) DIV 2"), col("lat")))
            .as("med_latency_us"),
          max(when(col("rn") === expr("greatest(1L, (nc * 9 + 9) DIV 10)"),
            col("lat"))).as("p90_latency_us"))
    }),

    // W64: periodicity detection — lag-k autocorrelation of the
    // hourly total-cents series for k = 1..48, with the detected
    // period = argmax r_k over k ≥ 2. The series AGGREGATES to ≤720
    // hourly buckets at any SF before the lag self-joins, so the
    // pair work is bounded by the calendar, not the data. Moment
    // cross products multiply as pinned-order doubles (they pass
    // 2^63 at the 10x step — the g9 lesson, applied from day one).
    "w64_period_detect" -> ((s, dir) => {
      val hourly = graft.io.Tables.eventsUs(s, dir)
        .groupBy(expr("ts_us DIV 3600000000").as("h"))
        .agg(sum(lattice(col("value"), 100)).as("c"))
      val lags = s.range(1, 49).select(col("id").as("lag"))
      val pairs = hourly.select(col("h"), col("c"))
        .crossJoin(broadcast(lags))
        .join(hourly.select((col("h")).as("h2"), col("c").as("c2")),
          col("h2") === col("h") + col("lag"))
      val g = pairs.groupBy("lag").agg(
        count(lit(1)).as("np"), sum("c").as("sx"), sum("c2").as("sy"),
        sum(col("c") * col("c")).as("sxx"),
        sum(col("c2") * col("c2")).as("syy"),
        sum(col("c") * col("c2")).as("sxy"))
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val num = d(col("np")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))
      val d1 = d(col("np")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
      val d2 = d(col("np")) * d(col("syy")) - d(col("sy")) * d(col("sy"))
      val withR = g.select(col("lag"), col("np"),
        when(d1 > 0.0 && d2 > 0.0, num / (sqrt(d1) * sqrt(d2)))
          .otherwise(lit(null).cast("double")).as("r"))
      val wAll = Window.partitionBy(lit(1))
      withR.withColumn("rk", row_number().over(
          wAll.orderBy(col("r").desc_nulls_last, col("lag"))))
        .withColumn("detected_period",
          col("rk") === 1 && col("lag") >= 2)
        .drop("rk")
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "o24_skew_audit" ->
      """WITH c AS (SELECT l_suppkey, count(*)::BIGINT AS n
        | FROM lineitem GROUP BY l_suppkey),
        |r AS (SELECT *, count(*) OVER ()::BIGINT AS nk,
        |  row_number() OVER (ORDER BY n, l_suppkey) AS rn FROM c)
        |SELECT nk AS n_keys, sum(n)::BIGINT AS n_rows,
        | max(n)::BIGINT AS max_rows,
        | max(CASE WHEN rn = (nk + 1) // 2 THEN n END)::BIGINT AS p50_rows,
        | max(CASE WHEN rn = (nk * 99 + 99) // 100 THEN n END)::BIGINT
        |   AS p99_rows,
        | max(n) > max(CASE WHEN rn = (nk + 1) // 2 THEN n END) * 10
        |   AS hot_key
        |FROM r GROUP BY nk""".stripMargin,

    "j23_funnel_latency" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         |  event_type FROM events
         | WHERE event_type IN ('click', 'purchase')),
         |m AS (SELECT *,
         |  last_value(CASE WHEN event_type = 'click' THEN ts_us END
         |    IGNORE NULLS) OVER (PARTITION BY user_id
         |    ORDER BY ts_us, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc
         | FROM e),
         |conv AS (SELECT ts_us // 86400000000 AS day,
         |  ts_us - lc AS lat FROM m
         | WHERE event_type = 'purchase' AND lc IS NOT NULL
         |   AND ts_us - lc <= ${7L * 86400L * 1000000L}),
         |r AS (SELECT day, lat,
         |  count(*) OVER (PARTITION BY day)::BIGINT AS nc,
         |  row_number() OVER (PARTITION BY day ORDER BY lat) AS rn
         | FROM conv)
         |SELECT day, max(nc)::BIGINT AS n_conv,
         | max(CASE WHEN rn = (nc + 1) // 2 THEN lat END)::BIGINT
         |   AS med_latency_us,
         | max(CASE WHEN rn = greatest(1, (nc * 9 + 9) // 10) THEN lat
         |   END)::BIGINT AS p90_latency_us
         |FROM r GROUP BY day""".stripMargin,

    "w64_period_detect" ->
      s"""WITH h AS (SELECT epoch_us(ts) // 3600000000 AS h,
        |  sum(${latticeSql("value", 100)})::BIGINT AS c
        | FROM events GROUP BY 1),
        |lags AS (SELECT unnest(range(1, 49)) AS lag),
        |p AS (SELECT lag, a.c AS c, b.c AS c2
        | FROM h a CROSS JOIN lags JOIN h b ON b.h = a.h + lag),
        |g AS (SELECT lag, count(*)::BIGINT AS np,
        |  sum(c)::BIGINT AS sx, sum(c2)::BIGINT AS sy,
        |  sum(c * c)::BIGINT AS sxx, sum(c2 * c2)::BIGINT AS syy,
        |  sum(c * c2)::BIGINT AS sxy
        | FROM p GROUP BY lag),
        |w AS (SELECT lag, np,
        |  CASE WHEN np::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0
        |    AND np::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE > 0
        |   THEN (np::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |    / (sqrt(np::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |       * sqrt(np::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
        |  END AS r
        | FROM g),
        |k AS (SELECT *, row_number() OVER
        |  (ORDER BY r DESC NULLS LAST, lag) AS rk FROM w)
        |SELECT lag, np, r, rk = 1 AND lag >= 2 AS detected_period
        |FROM k""".stripMargin)
}
