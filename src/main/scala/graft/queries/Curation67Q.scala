package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 67: Weight-of-Evidence / Information Value (the
  * credit-scoring feature screen that complements a27's PSI — PSI
  * measures a feature's DRIFT, WoE/IV measures its SEPARATION power)
  * and the Chow structural-break test (did the regression's level and
  * slope CHANGE at a known break date — the causal cousin of
  * a92's changepoint argmax, which finds the break; Chow tests a
  * hypothesized one). Net-new vs the 453-query surface (grep-checked:
  * no woe/iv/chow).
  */
object Curation67Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // M57: WoE/IV per spend-cent bin against the purchase outcome.
    // Good/bad counts per bin are exact BIGINTs from ONE aggregate;
    // distribution shares cross-multiply so WoE_bin =
    // ln(g·B / (b·G)) is a SINGLE ln of one exact integer ratio (the
    // m20/LLR class), and the IV term (g/G − b/B)·WoE =
    // ((g·B − b·G)/(G·B))·WoE keeps its decisive factor exact.
    // Laplace +1 on both counts (the a77 Haldane convention) keeps
    // empty cells finite on both engines identically. Terms out,
    // caller sums (the m12 contract).
    "m57_woe_iv" -> ((s, dir) => {
      val e = events(s, dir).select(
        expr(s"${latticeSql("value", 100)} DIV 5000").as("bin"),
        (col("event_type") === "purchase").cast("long").as("y"))
      val g = e.groupBy("bin").agg(
        (sum("y") + 1L).as("g1"),
        (count(lit(1)) - sum("y") + 1L).as("b1"))
      val tot = g.agg(sum("g1").as("gt"), sum("b1").as("bt"))
      val woe = log((col("g1") * col("bt")).cast("double") /
        (col("b1") * col("gt")).cast("double"))
      g.crossJoin(broadcast(tot))
        .select(col("bin"), (col("g1") - 1L).as("n_pos"),
          (col("b1") - 1L).as("n_neg"),
          r6(woe).as("woe"),
          r6((col("g1") * col("bt") - col("b1") * col("gt")).cast("double")
            / (col("gt") * col("bt")).cast("double") * woe).as("iv_term"))
    }),

    // A113: Chow test for a structural break in the daily-revenue
    // trend at the series midpoint. Each segment's OLS residual sum
    // RSS = Syy − Sxy²/Sxx comes from exact integer moments (day
    // index × daily cent sums — all BIGINT/DECIMAL(38,0) products,
    // VARCHAR-routed in the oracle); the F statistic
    // F = ((RSSp − RSS1 − RSS2)/2) / ((RSS1 + RSS2)/(n − 4))
    // is a pointwise chain over those exact-moment rationals. The
    // break day is integer-decided (median day index); segments with
    // < 3 points emit null.
    "a113_chow" -> ((s, dir) => {
      val daily = graft.io.Tables.eventsUs(s, dir)
        .select(expr("ts_us DIV 86400000000").as("day"),
          lattice(col("value"), 100).as("c"))
        .groupBy("day").agg(sum("c").as("cents"))
      val bounds = daily.agg(min("day").as("d0"), max("day").as("d1"))
      val t = daily.crossJoin(broadcast(bounds))
        .select((col("day") - col("d0")).as("x"), col("cents").as("y"),
          expr("(d1 - d0) DIV 2").as("mid"))
        .withColumn("s1", (col("x") <= col("mid")).cast("long"))
      val dec = "decimal(38,0)"
      def seg(tag: String, in: org.apache.spark.sql.Column) = Seq(
        sum(in).as(s"n$tag"),
        sum(in * col("x")).as(s"sx$tag"),
        sum(in * col("x") * col("x")).as(s"sxx$tag"),
        sum(in.cast(dec) * col("y")).as(s"sy$tag"),
        sum(in.cast(dec) * col("x") * col("y")).as(s"sxy$tag"),
        sum(in.cast(dec) * col("y") * col("y")).as(s"syy$tag"))
      val aggs = seg("1", col("s1")) ++ seg("2", lit(1L) - col("s1")) :+
        max("mid").as("break_x")
      val m = t.agg(aggs.head, aggs.tail: _*)
      // RSS from exact moments:
      //   ((n·Syy − Sy²) − (n·Sxy − Sx·Sy)²/(n·Sxx − Sx²)) / n
      def rss(tag: String) = {
        def c(n: String) = col(s"$n$tag")
        val vy = (c("n").cast(dec) * c("syy") - c("sy") * c("sy"))
          .cast("double")
        val cxy = (c("n").cast(dec) * c("sxy") -
          c("sx").cast(dec) * c("sy")).cast("double")
        val vx = (c("n") * c("sxx") - c("sx") * c("sx")).cast("double")
        (vy - cxy * cxy / vx) / c("n").cast("double")
      }
      // pooled moments are the segment sums (same regressor x)
      val withPool = m.select(col("*"),
        (col("n1") + col("n2")).as("np"), (col("sx1") + col("sx2")).as("sxp"),
        (col("sxx1") + col("sxx2")).as("sxxp"),
        (col("sy1") + col("sy2")).as("syp"),
        (col("sxy1") + col("sxy2")).as("sxyp"),
        (col("syy1") + col("syy2")).as("syyp"))
      val ok = col("n1") >= 3L && col("n2") >= 3L
      // RSS/F are emitted RAW: every operand is an exact integer whose
      // double is correctly rounded, and the chain is pointwise IEEE
      // with pinned association — bitwise identical on both engines.
      // round(x, 2) at 1e13 magnitude is BELOW double resolution and
      // the engines' round() disagree on the exact-expansion tie
      // (verify gotcha 2) — measured at sf1.
      withPool.select(col("np").as("n"), col("n1"), col("n2"),
        col("break_x"),
        when(ok, rss("p")).as("rss_pooled"),
        when(ok, rss("1")).as("rss_pre"),
        when(ok, rss("2")).as("rss_post"),
        when(ok, ((rss("p") - rss("1") - rss("2")) / 2.0) /
          ((rss("1") + rss("2")) / (col("np") - 4L).cast("double")))
          .as("f_chow"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "m57_woe_iv" ->
      s"""WITH e AS (SELECT
        |  ${latticeSql("value", 100)} // 5000 AS bin,
        |  (event_type = 'purchase')::BIGINT AS y FROM events),
        |g AS (SELECT bin, CAST(sum(y) + 1 AS BIGINT) AS g1,
        |  CAST(count(*) - sum(y) + 1 AS BIGINT) AS b1
        | FROM e GROUP BY bin),
        |t AS (SELECT CAST(sum(g1) AS BIGINT) AS gt,
        |  CAST(sum(b1) AS BIGINT) AS bt FROM g)
        |SELECT bin, g1 - 1 AS n_pos, b1 - 1 AS n_neg,
        | round(ln((g1 * bt)::DOUBLE / (b1 * gt)::DOUBLE), 6) AS woe,
        | round((g1 * bt - b1 * gt)::DOUBLE / (gt * bt)::DOUBLE
        |   * ln((g1 * bt)::DOUBLE / (b1 * gt)::DOUBLE), 6) AS iv_term
        |FROM g CROSS JOIN t""".stripMargin,

    "a113_chow" -> {
      def rss(tag: String) =
        s"""((((n$tag::DECIMAL(38,0) * syy$tag - sy$tag * sy$tag)::VARCHAR)::DOUBLE
           |  - (((n$tag::DECIMAL(38,0) * sxy$tag
           |       - sx$tag::DECIMAL(38,0) * sy$tag)::VARCHAR)::DOUBLE
           |     * ((n$tag::DECIMAL(38,0) * sxy$tag
           |       - sx$tag::DECIMAL(38,0) * sy$tag)::VARCHAR)::DOUBLE)
           |    / (n$tag * sxx$tag - sx$tag * sx$tag)::DOUBLE)
           | / n$tag::DOUBLE)""".stripMargin
      s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
         |  CAST(sum(${latticeSql("value", 100)}) AS BIGINT) AS cents
         | FROM events GROUP BY 1),
         |bd AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
         |t AS (SELECT day - d0 AS x, cents AS y, (d1 - d0) // 2 AS mid,
         |  (day - d0 <= (d1 - d0) // 2)::BIGINT AS s1
         | FROM daily CROSS JOIN bd),
         |m AS (SELECT
         |  CAST(sum(s1) AS BIGINT) AS n1,
         |  CAST(sum(s1 * x) AS BIGINT) AS sx1,
         |  CAST(sum(s1 * x * x) AS BIGINT) AS sxx1,
         |  sum(s1::DECIMAL(38,0) * y) AS sy1,
         |  sum(s1::DECIMAL(38,0) * x * y) AS sxy1,
         |  sum(s1::DECIMAL(38,0) * y * y) AS syy1,
         |  CAST(sum(1 - s1) AS BIGINT) AS n2,
         |  CAST(sum((1 - s1) * x) AS BIGINT) AS sx2,
         |  CAST(sum((1 - s1) * x * x) AS BIGINT) AS sxx2,
         |  sum((1 - s1)::DECIMAL(38,0) * y) AS sy2,
         |  sum((1 - s1)::DECIMAL(38,0) * x * y) AS sxy2,
         |  sum((1 - s1)::DECIMAL(38,0) * y * y) AS syy2,
         |  max(mid) AS break_x
         | FROM t),
         |p AS (SELECT *, n1 + n2 AS np, sx1 + sx2 AS sxp,
         |  sxx1 + sxx2 AS sxxp, sy1 + sy2 AS syp,
         |  sxy1 + sxy2 AS sxyp, syy1 + syy2 AS syyp
         | FROM m)
         |SELECT np AS n, n1, n2, break_x,
         | CASE WHEN n1 >= 3 AND n2 >= 3
         |   THEN ${rss("p")} END AS rss_pooled,
         | CASE WHEN n1 >= 3 AND n2 >= 3
         |   THEN ${rss("1")} END AS rss_pre,
         | CASE WHEN n1 >= 3 AND n2 >= 3
         |   THEN ${rss("2")} END AS rss_post,
         | CASE WHEN n1 >= 3 AND n2 >= 3
         |   THEN ((${rss("p")} - ${rss("1")} - ${rss("2")}) / 2.0)
         |     / ((${rss("1")} + ${rss("2")}) / (np - 4)::DOUBLE)
         | END AS f_chow
         |FROM p""".stripMargin
    })
}
