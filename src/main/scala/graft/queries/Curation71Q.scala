package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 71: the volatility / causality / drift quartet —
  * Average True Range (the gap-aware volatility measure; w2's rolling
  * std never sees an overnight gap because it has no open/close),
  * Granger causality (does event VOLUME predict next-day REVENUE —
  * the lagged-regression F-test; a113's Chow tests a break in ONE
  * series, Granger tests information flow between TWO), the
  * stochastic oscillator %K/%D (where does today's close sit inside
  * the recent range — w73's RSI is magnitude-based, %K is
  * position-based), and a Page-Hinkley drift detector with a frozen
  * calibration reference (w27's CUSUM resets at zero; PH tracks the
  * all-time excursion from the reference mean, the classic
  * concept-drift alarm). Net-new vs the 465-query surface
  * (grep-checked: no atr/true_range/granger/stochastic/page_hinkley).
  *
  * Portability: the day series is the batch-70 bounded calendar
  * lattice; TR and %K are exact-integer decided with single closing
  * divisions; ATR is a dyadic (α=1/16) recursion emitted raw; the
  * Granger tail is ONE shared SQL text over exact DECIMAL(38,0)
  * moments (the w78 Durbin-Levinson pattern); Page-Hinkley stays
  * entirely on the ×n_cal integer lattice — no float ever
  * accumulates.
  */
object Curation71Q extends QueryModule {

  private def dailyOhlc(s: org.apache.spark.sql.SparkSession,
                        dir: String) = {
    val e = graft.io.Tables.eventsUs(s, dir)
      .select(col("ts_us"), col("event_id"),
        lattice(col("value"), 100).as("c"))
      .withColumn("day", expr("ts_us DIV 86400000000"))
    // the w51 pack: order key = epoch-second·2^10 + id mod 1024, then
    // ·2^21 + (c + 10^6) decodes first/last cents via min/max
    val ordKey = expr("ts_us DIV 1000000") * 1024L +
      pmod(col("event_id"), lit(1024L))
    val packed = ordKey * 2097152L + (col("c") + 1000000L)
    e.groupBy("day").agg(
      count(lit(1)).as("n"),
      min("c").as("low"), max("c").as("high"),
      (pmod(min(packed), lit(2097152L)) - 1000000L).as("open"),
      (pmod(max(packed), lit(2097152L)) - 1000000L).as("close"))
  }

  private val dailyOhlcSql =
    s"""SELECT ts_us // 86400000000 AS day, count(*) AS n,
      |  min(c) AS low, max(c) AS high,
      |  min(((ts_us // 1000000) * 1024 + event_id % 1024) * 2097152
      |      + (c + 1000000)) % 2097152 - 1000000 AS open,
      |  max(((ts_us // 1000000) * 1024 + event_id % 1024) * 2097152
      |      + (c + 1000000)) % 2097152 - 1000000 AS close
      | FROM (SELECT epoch_us(ts) AS ts_us, event_id,
      |   ${latticeSql("value", 100)} AS c FROM events)
      | GROUP BY 1""".stripMargin

  /** Granger tail: pinned chain over the double moment columns, as
    * ONE shared SQL text both engines parse identically. Moments are
    * the ×n² centered lattice (n·Σab − Σa·Σb); b/c/RSS are
    * scale-invariant in them except the final /n. */
  private[queries] val grangerLadder: Seq[(String, String)] = Seq(
    "det" -> "suu * svv - suv * suv",
    "bnum" -> "suy * svv - svy * suv",
    "cnum" -> "svy * suu - suy * suv",
    "rss_u" -> "(syy - (bnum / det) * suy - (cnum / det) * svy) / n",
    "rss_r" -> "(syy - (suy / suu) * suy) / n",
    "f_granger" -> "(rss_r - rss_u) / (rss_u / (n - 3))")

  val queries: Seq[(String, QueryFn)] = Seq(

    // W81: ATR(16) over daily OHLC cents. TR_t = max(h−l, |h−pc|,
    // |l−pc|) is an exact BIGINT (greatest/abs of exact lattice
    // diffs; day 1 falls back to h−l); ATR is the α=1/16 dyadic
    // adjust=False recursion over TR — exact binary, raw doubles.
    "w81_atr" -> ((s, dir) => {
      import graft.functions.EwmAvg
      val wd = Window.orderBy("day")
      val tr = dailyOhlc(s, dir)
        .withColumn("pc", lag("close", 1).over(wd))
        .select(col("day"), col("n"),
          when(col("pc").isNull, col("high") - col("low"))
            .otherwise(greatest(col("high") - col("low"),
              abs(col("high") - col("pc")),
              abs(col("low") - col("pc")))).as("tr"))
      tr.withColumn("atr",
        EwmAvg.ewmAvg(col("tr").cast("double"), 0.0625, Seq(),
          Seq(col("day"))))
        .select(col("day"), col("n"), col("tr"), col("atr"))
    }),

    // W82: Granger causality, lag 1: does yesterday's event VOLUME
    // (x) improve today's REVENUE (y) prediction beyond yesterday's
    // revenue? Exact ×n² centered DECIMAL(38,0) moments feed the
    // shared pinned Cramer/RSS/F text; RSS and F are emitted RAW
    // (trap 8: rounding a portable chain only adds divergence).
    "w82_granger" -> ((s, dir) => {
      val wd = Window.orderBy("day")
      val d = graft.io.Tables.eventsUs(s, dir)
        .select(expr("ts_us DIV 86400000000").as("day"),
          lattice(col("value"), 100).as("c"))
        .groupBy("day").agg(sum("c").as("cents"),
          count(lit(1)).as("cnt"))
      val t = d.select(col("day"), col("cents").as("y"),
        lag("cents", 1).over(wd).as("u"),
        lag("cnt", 1).over(wd).as("v"))
        .filter(col("u").isNotNull)
      val dec = "decimal(38,0)"
      val m = t.agg(count(lit(1)).as("n"),
        sum("y").as("sy"), sum("u").as("su"), sum("v").as("sv"),
        sum(col("y").cast(dec) * col("y")).as("syy0"),
        sum(col("u").cast(dec) * col("u")).as("suu0"),
        sum(col("v").cast(dec) * col("v")).as("svv0"),
        sum(col("u").cast(dec) * col("y")).as("suy0"),
        sum(col("v").cast(dec) * col("y")).as("svy0"),
        sum(col("u").cast(dec) * col("v")).as("suv0"))
      val cen = m.selectExpr("n",
        "CAST(CAST(n AS DECIMAL(38,0)) * syy0 - CAST(sy AS DECIMAL(38,0)) * sy AS DOUBLE) AS syy",
        "CAST(CAST(n AS DECIMAL(38,0)) * suu0 - CAST(su AS DECIMAL(38,0)) * su AS DOUBLE) AS suu",
        "CAST(CAST(n AS DECIMAL(38,0)) * svv0 - CAST(sv AS DECIMAL(38,0)) * sv AS DOUBLE) AS svv",
        "CAST(CAST(n AS DECIMAL(38,0)) * suy0 - CAST(su AS DECIMAL(38,0)) * sy AS DOUBLE) AS suy",
        "CAST(CAST(n AS DECIMAL(38,0)) * svy0 - CAST(sv AS DECIMAL(38,0)) * sy AS DOUBLE) AS svy",
        "CAST(CAST(n AS DECIMAL(38,0)) * suv0 - CAST(su AS DECIMAL(38,0)) * sv AS DOUBLE) AS suv")
      val out = grangerLadder.foldLeft(cen) { case (df, (nm, e)) =>
        df.selectExpr("*", s"$e AS $nm")
      }
      out.selectExpr("n", "rss_r", "rss_u", "f_granger")
    }),

    // W83: stochastic oscillator over daily OHLC — %K = 100·(close −
    // L16)/(H16 − L16) with L/H the trailing-16-day low/high (exact
    // integers, one division; flat ranges emit null), %D = the
    // 3-sample smoothing as an EXPLICIT pinned lag chain
    // (k + k₁ + k₂)/3 — never a windowed float sum.
    "w83_stochastic" -> ((s, dir) => {
      val wd = Window.orderBy("day")
      val wf = wd.rowsBetween(-15, 0)
      val k = dailyOhlc(s, dir)
        .withColumn("l16", min("low").over(wf))
        .withColumn("h16", max("high").over(wf))
        .withColumn("nf", count(lit(1)).over(wf))
        .filter(col("nf") === 16)
        .select(col("day"), col("close"), col("l16"), col("h16"),
          when(col("h16") > col("l16"),
            ((col("close") - col("l16")) * 100L).cast("double") /
              (col("h16") - col("l16")).cast("double")).as("pct_k"))
      k.select(col("day"), col("close"), col("l16"), col("h16"),
        col("pct_k"),
        ((col("pct_k") + lag("pct_k", 1).over(wd) +
          lag("pct_k", 2).over(wd)) / 3.0).as("pct_d"))
    }),

    // W84: Page-Hinkley with a frozen calibration reference — per
    // user, the first 8 events fix μ_ref = S_cal/8; the detection
    // stream's excursion m_t = Σ(x_i − μ_ref − δ) rides the ×8
    // integer lattice (8·CS_t − t·(S_cal + 8δ), δ = 50¢), the
    // drift-up statistic is max_t(m_t − min_{i≤t} m_i), and the
    // alarm λ = 3000¢ is integer-decided. Nothing floats.
    "w84_page_hinkley" -> ((s, dir) => {
      val wu = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          lattice(col("value"), 100).as("c"))
        .withColumn("rn", row_number().over(wu).cast("long"))
      val cal = e.filter(col("rn") <= 8L)
        .groupBy("user_id").agg(count(lit(1)).as("n_cal"),
          sum("c").as("s_cal"))
        .filter(col("n_cal") === 8L)
      val det = e.filter(col("rn") > 8L).join(cal, "user_id")
      val wd = Window.partitionBy("user_id").orderBy("rn")
      val scaled = det
        .withColumn("i", col("rn") - 8L)
        .withColumn("cs", sum("c").over(wd))
        .withColumn("m8",
          col("cs") * 8L - col("i") * (col("s_cal") + 400L))
      val stat = scaled
        .withColumn("runmin", min("m8").over(wd))
        .groupBy("user_id").agg(
          count(lit(1)).as("n_detect"), max("s_cal").as("s_cal"),
          max(col("m8") - col("runmin")).as("ph8_stat"))
      stat.select(col("user_id"), col("n_detect"), col("s_cal"),
        col("ph8_stat"),
        (col("ph8_stat") > 24000L).cast("long").as("alarm"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "w81_atr" ->
      s"""WITH RECURSIVE ohlc AS ($dailyOhlcSql),
         |t AS (SELECT day, n,
         |  CASE WHEN lag(close) OVER (ORDER BY day) IS NULL
         |    THEN high - low
         |    ELSE greatest(high - low,
         |      abs(high - lag(close) OVER (ORDER BY day)),
         |      abs(low - lag(close) OVER (ORDER BY day))) END AS tr,
         |  row_number() OVER (ORDER BY day) AS k
         | FROM ohlc),
         |rec AS (
         | SELECT day, n, tr, k, CAST(tr AS DOUBLE) AS atr
         | FROM t WHERE k = 1
         | UNION ALL
         | SELECT t.day, t.n, t.tr, t.k,
         |  0.0625 * t.tr + 0.9375 * rec.atr AS atr
         | FROM rec JOIN t ON t.k = rec.k + 1)
         |SELECT day, n, CAST(tr AS BIGINT) AS tr, atr FROM rec""".stripMargin,

    "w82_granger" -> {
      val nested = grangerLadder.foldLeft("cen") { case (inner, (n, e)) =>
        s"(SELECT *, $e AS $n FROM $inner)"
      }
      s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
         |  CAST(sum(${latticeSql("value", 100)}) AS BIGINT)
         |    AS cents,
         |  count(*)::BIGINT AS cnt FROM events GROUP BY 1),
         |t AS (SELECT cents AS y,
         |  lag(cents) OVER (ORDER BY day) AS u,
         |  lag(cnt) OVER (ORDER BY day) AS v FROM daily),
         |m AS (SELECT count(*)::BIGINT AS n,
         |  CAST(sum(y) AS BIGINT) AS sy, CAST(sum(u) AS BIGINT) AS su,
         |  CAST(sum(v) AS BIGINT) AS sv,
         |  sum(y::DECIMAL(38,0) * y) AS syy0,
         |  sum(u::DECIMAL(38,0) * u) AS suu0,
         |  sum(v::DECIMAL(38,0) * v) AS svv0,
         |  sum(u::DECIMAL(38,0) * y) AS suy0,
         |  sum(v::DECIMAL(38,0) * y) AS svy0,
         |  sum(u::DECIMAL(38,0) * v) AS suv0
         | FROM t WHERE u IS NOT NULL),
         |cen AS (SELECT n,
         |  ((n::DECIMAL(38,0) * syy0 - sy::DECIMAL(38,0) * sy)::VARCHAR)::DOUBLE AS syy,
         |  ((n::DECIMAL(38,0) * suu0 - su::DECIMAL(38,0) * su)::VARCHAR)::DOUBLE AS suu,
         |  ((n::DECIMAL(38,0) * svv0 - sv::DECIMAL(38,0) * sv)::VARCHAR)::DOUBLE AS svv,
         |  ((n::DECIMAL(38,0) * suy0 - su::DECIMAL(38,0) * sy)::VARCHAR)::DOUBLE AS suy,
         |  ((n::DECIMAL(38,0) * svy0 - sv::DECIMAL(38,0) * sy)::VARCHAR)::DOUBLE AS svy,
         |  ((n::DECIMAL(38,0) * suv0 - su::DECIMAL(38,0) * sv)::VARCHAR)::DOUBLE AS suv
         | FROM m)
         |SELECT n, rss_r, rss_u, f_granger FROM $nested""".stripMargin
    },

    "w83_stochastic" ->
      s"""WITH ohlc AS ($dailyOhlcSql),
         |f AS (SELECT day, close,
         |  min(low) OVER w AS l16, max(high) OVER w AS h16,
         |  count(*) OVER w AS nf
         | FROM ohlc
         | WINDOW w AS (ORDER BY day ROWS BETWEEN 15 PRECEDING
         |   AND CURRENT ROW)),
         |k AS (SELECT day, close, l16, h16,
         |  CASE WHEN h16 > l16 THEN
         |    ((close - l16) * 100)::DOUBLE / (h16 - l16)::DOUBLE
         |  END AS pct_k
         | FROM f WHERE nf = 16)
         |SELECT day, close, l16, h16, pct_k,
         | (pct_k + lag(pct_k, 1) OVER (ORDER BY day)
         |        + lag(pct_k, 2) OVER (ORDER BY day)) / 3.0 AS pct_d
         |FROM k""".stripMargin,

    "w84_page_hinkley" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  ${latticeSql("value", 100)} AS c,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS rn FROM events),
        |cal AS (SELECT user_id, count(*)::BIGINT AS n_cal,
        |  CAST(sum(c) AS BIGINT) AS s_cal
        | FROM e WHERE rn <= 8 GROUP BY user_id HAVING count(*) = 8),
        |det AS (SELECT e.user_id, e.rn - 8 AS i, e.c, cal.s_cal,
        |  CAST(sum(e.c) OVER (PARTITION BY e.user_id ORDER BY e.rn)
        |    AS BIGINT) AS cs
        | FROM e JOIN cal ON cal.user_id = e.user_id WHERE e.rn > 8),
        |scaled AS (SELECT user_id, i, s_cal,
        |  cs * 8 - i * (s_cal + 400) AS m8 FROM det),
        |st AS (SELECT user_id, i, s_cal, m8,
        |  min(m8) OVER (PARTITION BY user_id ORDER BY i) AS runmin
        | FROM scaled)
        |SELECT user_id, count(*)::BIGINT AS n_detect,
        | max(s_cal) AS s_cal,
        | CAST(max(m8 - runmin) AS BIGINT) AS ph8_stat,
        | (max(m8 - runmin) > 24000)::BIGINT AS alarm
        |FROM st GROUP BY user_id""".stripMargin)
}
