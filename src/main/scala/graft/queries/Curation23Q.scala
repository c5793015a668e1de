package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-6 batch 23: causal readout (diff-in-differences), forecast
  * baseline evaluation (seasonal-naive + MASE), and privacy auditing
  * (l-diversity). Net-new vs the reference (SURVEY.md §2.11). Every
  * count/sum is exact; emitted floats are fixed chains of divisions
  * of exact BIGINTs, mirrored token-for-token.
  */
object Curation23Q extends QueryModule {

  private val DayUs = 86400L * 1000000L

  val queries: Seq[(String, QueryFn)] = Seq(

    // A63: difference-in-differences per event_type — the workhorse
    // causal estimator when treatment wasn't randomized: treated
    // (even users) vs control (odd), pre (first 15 days) vs post.
    // Four exact (n, Σcents) cells per type; DID is a fixed chain of
    // four divisions and three subtractions over exact integers —
    // identical IEEE ops both engines.
    "a63_did" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir).select(
        col("event_type"),
        (col("user_id") % 2 === 0).cast("long").as("treated"),
        (col("ts_us") >= lit(1704067200000000L) + lit(15L) * DayUs)
          .cast("long").as("post"),
        lattice(col("value"), 100).as("c"))
      def cell(t: Int, p: Int, agg: String) = {
        val m = col("treated") === t && col("post") === p
        if (agg == "n") sum(when(m, 1L).otherwise(0L))
        else sum(when(m, col("c")).otherwise(0L))
      }
      val g = e.groupBy("event_type").agg(
        cell(1, 0, "n").as("n_t_pre"), cell(1, 0, "s").as("s_t_pre"),
        cell(1, 1, "n").as("n_t_post"), cell(1, 1, "s").as("s_t_post"),
        cell(0, 0, "n").as("n_c_pre"), cell(0, 0, "s").as("s_c_pre"),
        cell(0, 1, "n").as("n_c_post"), cell(0, 1, "s").as("s_c_post"))
      def mean(sc: String, nc: String) =
        col(sc).cast("double") / col(nc).cast("double")
      g.select(col("event_type"),
        col("n_t_pre"), col("n_t_post"), col("n_c_pre"), col("n_c_post"),
        ((mean("s_t_post", "n_t_post") - mean("s_t_pre", "n_t_pre")) -
          (mean("s_c_post", "n_c_post") - mean("s_c_pre", "n_c_pre")))
          .as("did_cents"))
    }),

    // W61: seasonal-naive forecast + MASE — the baseline every
    // forecasting pipeline must beat, and the scale-free accuracy
    // metric used to compare across series. Daily per-user cent
    // totals; forecast(d) = actual(d-7), naive(d) = actual(d-1);
    // MASE = Σ|err_seasonal| / Σ|err_naive| over days where both
    // lags exist. Two self-equi-joins on (user, day) — no window
    // sort, no cross join; all sums exact.
    "w61_seasonal_naive" -> ((s, dir) => {
      val d = graft.io.Tables.eventsUs(s, dir)
        .groupBy(col("user_id"),
          expr("(ts_us - 1704067200000000) DIV 86400000000").as("day"))
        .agg(sum(lattice(col("value"), 100)).as("c"))
      val s7 = d.select(col("user_id"), (col("day") + 7).as("day"),
        col("c").as("c7"))
      val s1 = d.select(col("user_id"), (col("day") + 1).as("day"),
        col("c").as("c1"))
      d.join(s7, Seq("user_id", "day")).join(s1, Seq("user_id", "day"))
        .groupBy("user_id").agg(
          count(lit(1)).as("n_scored"),
          sum(abs(col("c") - col("c7"))).as("sae_seasonal"),
          sum(abs(col("c") - col("c1"))).as("sae_naive"))
        .select(col("user_id"), col("n_scored"), col("sae_seasonal"),
          col("sae_naive"),
          when(col("sae_naive") > 0,
            col("sae_seasonal").cast("double") /
              col("sae_naive").cast("double"))
            .otherwise(lit(null).cast("double")).as("mase"))
    }),

    // A65: l-diversity audit — k-anonymity's (a36) sharper sibling:
    // a quasi-identifier group is unsafe when its SENSITIVE attribute
    // is nearly uniform even if the group is large. QI = (nation,
    // $1000 balance bucket); sensitive = market segment; integer-
    // decided violation at l < 3. Exact distinct counts, one
    // groupBy.
    "a65_ldiv" -> ((s, dir) => {
      // +10^6 offset before the DIV: balances go negative and Spark's
      // DIV truncates toward zero while DuckDB's // floors — the
      // standard offset-positive-first rule (ORACLE_NOTES.md).
      customer(s, dir).select(col("c_nationkey"),
          expr(s"(${latticeSql("c_acctbal", 100)} + 1000000) DIV 100000")
            .as("bal_bucket"),
          col("c_mktsegment"))
        .groupBy("c_nationkey", "bal_bucket")
        .agg(count(lit(1)).as("n"),
          countDistinct("c_mktsegment").as("l_div"))
        .withColumn("unsafe", col("l_div") < 3)
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a63_did" ->
      s"""WITH e AS (SELECT event_type,
         |  CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treated,
         |  CASE WHEN epoch_us(ts) >= 1704067200000000 + 15 * $DayUs
         |    THEN 1 ELSE 0 END AS post,
         |  ${latticeSql("value", 100)} AS c FROM events),
         |g AS (SELECT event_type,
         |  sum(CASE WHEN treated = 1 AND post = 0 THEN 1 ELSE 0 END)::BIGINT AS n_t_pre,
         |  sum(CASE WHEN treated = 1 AND post = 0 THEN c ELSE 0 END)::BIGINT AS s_t_pre,
         |  sum(CASE WHEN treated = 1 AND post = 1 THEN 1 ELSE 0 END)::BIGINT AS n_t_post,
         |  sum(CASE WHEN treated = 1 AND post = 1 THEN c ELSE 0 END)::BIGINT AS s_t_post,
         |  sum(CASE WHEN treated = 0 AND post = 0 THEN 1 ELSE 0 END)::BIGINT AS n_c_pre,
         |  sum(CASE WHEN treated = 0 AND post = 0 THEN c ELSE 0 END)::BIGINT AS s_c_pre,
         |  sum(CASE WHEN treated = 0 AND post = 1 THEN 1 ELSE 0 END)::BIGINT AS n_c_post,
         |  sum(CASE WHEN treated = 0 AND post = 1 THEN c ELSE 0 END)::BIGINT AS s_c_post
         | FROM e GROUP BY event_type)
         |SELECT event_type, n_t_pre, n_t_post, n_c_pre, n_c_post,
         | (s_t_post::DOUBLE / n_t_post::DOUBLE
         |   - s_t_pre::DOUBLE / n_t_pre::DOUBLE)
         | - (s_c_post::DOUBLE / n_c_post::DOUBLE
         |   - s_c_pre::DOUBLE / n_c_pre::DOUBLE) AS did_cents
         |FROM g""".stripMargin,

    "w61_seasonal_naive" ->
      s"""WITH d AS (SELECT user_id,
        |  (epoch_us(ts) - 1704067200000000) // 86400000000 AS day,
        |  sum(${latticeSql("value", 100)})::BIGINT AS c
        | FROM events GROUP BY 1, 2),
        |j AS (SELECT d.user_id, d.c, s7.c AS c7, s1.c AS c1
        | FROM d
        | JOIN d s7 ON s7.user_id = d.user_id AND s7.day + 7 = d.day
        | JOIN d s1 ON s1.user_id = d.user_id AND s1.day + 1 = d.day)
        |SELECT user_id, count(*)::BIGINT AS n_scored,
        | sum(abs(c - c7))::BIGINT AS sae_seasonal,
        | sum(abs(c - c1))::BIGINT AS sae_naive,
        | CASE WHEN sum(abs(c - c1)) > 0 THEN
        |  sum(abs(c - c7))::DOUBLE / sum(abs(c - c1))::DOUBLE END AS mase
        |FROM j GROUP BY user_id""".stripMargin,

    "a65_ldiv" ->
      s"""SELECT c_nationkey,
        | (${latticeSql("c_acctbal", 100)} + 1000000) // 100000
        |   AS bal_bucket,
        | count(*)::BIGINT AS n,
        | count(DISTINCT c_mktsegment)::BIGINT AS l_div,
        | count(DISTINCT c_mktsegment) < 3 AS unsafe
        |FROM customer GROUP BY 1, 2""".stripMargin)
}
