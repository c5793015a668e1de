package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 70: the autocorrelation-structure family over the
  * daily-revenue series — PACF via Durbin-Levinson (a33 gives the
  * ACF; the PARTIAL acf is what order-selects an AR model, killing
  * the pass-through correlation ACF can't), MACD (the classic
  * fast/slow EMA momentum crossover — w73's RSI measures velocity of
  * gains, MACD measures trend divergence), and the Aroon indicator
  * (time-since-extremum — w48's runmax gives the VALUE of the running
  * max, Aroon scores its RECENCY). Net-new vs the 462-query surface
  * (grep-checked: no pacf/durbin-levinson/macd/aroon).
  *
  * Portability: the day series is a BOUNDED lattice (calendar span,
  * not row count), so its global-ordered windows are the
  * a60_kaplan_meier class. PACF's Durbin-Levinson ladder is a pinned
  * pointwise IEEE chain over exact-integer autocovariance moments,
  * expressed as ONE shared SQL text parsed by both engines
  * (left-assoc, identical parse trees → identical bits, emitted raw).
  * MACD is three dyadic (α = 1/4, 1/8, 1/2) recursions — exact
  * binary arithmetic, the w5_ema/w28_holt contract. Aroon is
  * integer-decided via the t_winnow packed-argmax trick and ×6.25 is
  * dyadic-exact.
  */
object Curation70Q extends QueryModule {

  /** Daily revenue cents: the bounded (calendar-span) series. */
  private def daily(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.io.Tables.eventsUs(s, dir)
      .select(expr("ts_us DIV 86400000000").as("day"),
        lattice(col("value"), 100).as("c"))
      .groupBy("day").agg(sum("c").as("cents"))

  private val dailySql =
    s"""SELECT epoch_us(ts) // 86400000000 AS day,
      |  CAST(sum(${latticeSql("value", 100)}) AS BIGINT) AS cents
      | FROM events GROUP BY 1""".stripMargin

  /** Durbin-Levinson ladder to lag 5 over g0..g5 (double columns):
    * (name, expression) steps in dependency order, in the SHARED SQL
    * dialect both engines parse identically. */
  private[queries] val dlLadder: Seq[(String, String)] = Seq(
    "p11" -> "g1 / g0",
    "d2" -> "g0 - p11 * g1",
    "p22" -> "(g2 - p11 * g1) / d2",
    "p21" -> "p11 - p22 * p11",
    "d3" -> "g0 - (p21 * g1 + p22 * g2)",
    "p33" -> "(g3 - (p21 * g2 + p22 * g1)) / d3",
    "p31" -> "p21 - p33 * p22",
    "p32" -> "p22 - p33 * p21",
    "d4" -> "g0 - (p31 * g1 + p32 * g2 + p33 * g3)",
    "p44" -> "(g4 - (p31 * g3 + p32 * g2 + p33 * g1)) / d4",
    "p41" -> "p31 - p44 * p33",
    "p42" -> "p32 - p44 * p32",
    "p43" -> "p33 - p44 * p31",
    "d5" -> "g0 - (p41 * g1 + p42 * g2 + p43 * g3 + p44 * g4)",
    "p55" -> "(g5 - (p41 * g4 + p42 * g3 + p43 * g2 + p44 * g1)) / d5")

  val queries: Seq[(String, QueryFn)] = Seq(

    // W78: PACF at lags 1..5. Mean-centering rides the exact scaled
    // residual d_t = n·x_t − X (never a float mean); the scaled
    // autocovariances gS_k = Σ_{t>k} d_t·d_{t−k} are exact
    // DECIMAL(38,0) (D-L is scale-invariant, so the n³ scale factor
    // cancels in every φ); the ladder is the shared pinned text.
    "w78_pacf" -> ((s, dir) => {
      val d = daily(s, dir)
      val tot = d.agg(count(lit(1)).as("n"), sum("cents").as("x"))
      val wd = Window.orderBy("day")
      val dev = d.crossJoin(broadcast(tot))
        .select(col("day"), col("n"),
          (col("cents").cast("decimal(38,0)") * col("n") - col("x"))
            .as("dd"))
      val lagged = dev.select(Seq(col("n"), col("dd")) ++
        (1 to 5).map(k => lag("dd", k).over(wd).as(s"dd$k")): _*)
      val aggs = Seq(max("n").as("n_days"),
        sum(col("dd") * col("dd")).as("gs0")) ++
        (1 to 5).map(k => sum(col("dd") * col(s"dd$k")).as(s"gs$k"))
      val g = lagged.agg(aggs.head, aggs.tail: _*)
      val asDouble = g.selectExpr(Seq("n_days") ++
        (0 to 5).map(k => s"CAST(gs$k AS DOUBLE) AS g$k"): _*)
      val laddered = dlLadder.foldLeft(asDouble) { case (df, (n, e)) =>
        df.selectExpr("*", s"$e AS $n")
      }
      laddered.selectExpr("n_days", "p11 AS pacf_1", "p22 AS pacf_2",
        "p33 AS pacf_3", "p44 AS pacf_4", "p55 AS pacf_5")
    }),

    // W79: MACD over the daily series — fast EMA α=1/4, slow EMA
    // α=1/8, signal = EMA α=1/2 of the difference, histogram =
    // macd − signal. Three dyadic adjust=False recursions (exact
    // binary); raw doubles.
    "w79_macd" -> ((s, dir) => {
      import graft.functions.EwmAvg
      val d = daily(s, dir).select(col("day"),
        col("cents").cast("double").as("v"))
      val ord = Seq(col("day"))
      val withEmas = d
        .withColumn("ef", EwmAvg.ewmAvg(col("v"), 0.25, Seq(), ord))
        .withColumn("es", EwmAvg.ewmAvg(col("v"), 0.125, Seq(), ord))
        .withColumn("macd", col("ef") - col("es"))
      withEmas
        .withColumn("signal", EwmAvg.ewmAvg(col("macd"), 0.5, Seq(), ord))
        .select(col("day"), col("macd"), col("signal"),
          (col("macd") - col("signal")).as("histogram"))
    }),

    // W80: Aroon(16) — 100·(16 − bars_since_high)/16 over the
    // trailing 16-day frame, the packed-argmax trick: max(cents·2²⁰ +
    // pos) recovers the most recent high's position (ties → most
    // recent, the pos tiebreak); ×6.25 keeps the score dyadic-exact.
    // Only full frames emit (the w2 convention).
    "w80_aroon" -> ((s, dir) => {
      val wd = Window.orderBy("day")
      val wf = wd.rowsBetween(-15, 0)
      val d = daily(s, dir)
        .withColumn("pos", row_number().over(wd).cast("long"))
      // both packs stay POSITIVE (cents ≥ 0): a negative packed value
      // would split Spark's pmod from DuckDB's truncated % — the low
      // pack flips the tiebreak (2²⁰ − pos) so a MIN recovers the
      // most recent low
      val hiPack = max(col("cents") * lit(1L << 20) + col("pos")).over(wf)
      val loPack = min(col("cents") * lit(1L << 20) +
        (lit(1L << 20) - col("pos"))).over(wf)
      d.withColumn("nf", count(lit(1)).over(wf))
        .withColumn("hi_pos", pmod(hiPack, lit(1L << 20)))
        .withColumn("lo_pos", lit(1L << 20) - pmod(loPack, lit(1L << 20)))
        .filter(col("nf") === 16)
        .select(col("day"), col("cents"),
          (col("pos") - col("hi_pos")).as("bars_since_high"),
          (col("pos") - col("lo_pos")).as("bars_since_low"),
          ((lit(16L) - (col("pos") - col("hi_pos"))).cast("double") *
            6.25).as("aroon_up"),
          ((lit(16L) - (col("pos") - col("lo_pos"))).cast("double") *
            6.25).as("aroon_down"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "w78_pacf" -> {
      // the SAME ladder text Spark parses, as a nested-subquery chain
      val nested = dlLadder.foldLeft("gdouble") { case (inner, (n, e)) =>
        s"(SELECT *, $e AS $n FROM $inner)"
      }
      s"""WITH daily AS ($dailySql),
         |tot AS (SELECT count(*)::BIGINT AS n,
         |  CAST(sum(cents) AS BIGINT) AS x FROM daily),
         |dev AS (SELECT day, n,
         |  cents::DECIMAL(38,0) * n - x AS dd
         | FROM daily CROSS JOIN tot),
         |lagged AS (SELECT n, dd,
         |  lag(dd, 1) OVER (ORDER BY day) AS dd1,
         |  lag(dd, 2) OVER (ORDER BY day) AS dd2,
         |  lag(dd, 3) OVER (ORDER BY day) AS dd3,
         |  lag(dd, 4) OVER (ORDER BY day) AS dd4,
         |  lag(dd, 5) OVER (ORDER BY day) AS dd5 FROM dev),
         |g AS (SELECT max(n) AS n_days,
         |  sum(dd * dd) AS gs0, sum(dd * dd1) AS gs1,
         |  sum(dd * dd2) AS gs2, sum(dd * dd3) AS gs3,
         |  sum(dd * dd4) AS gs4, sum(dd * dd5) AS gs5 FROM lagged),
         |gdouble AS (SELECT n_days,
         |  ((gs0)::VARCHAR)::DOUBLE AS g0, ((gs1)::VARCHAR)::DOUBLE AS g1,
         |  ((gs2)::VARCHAR)::DOUBLE AS g2, ((gs3)::VARCHAR)::DOUBLE AS g3,
         |  ((gs4)::VARCHAR)::DOUBLE AS g4, ((gs5)::VARCHAR)::DOUBLE AS g5
         | FROM g)
         |SELECT n_days, p11 AS pacf_1, p22 AS pacf_2, p33 AS pacf_3,
         | p44 AS pacf_4, p55 AS pacf_5
         |FROM $nested""".stripMargin
    },

    "w79_macd" ->
      s"""WITH RECURSIVE daily AS ($dailySql),
         |p AS (SELECT day, CAST(cents AS DOUBLE) AS v,
         |  row_number() OVER (ORDER BY day) AS k FROM daily),
         |rec AS (
         | SELECT day, k, v, v AS ef, v AS es, CAST(0.0 AS DOUBLE) AS sg
         | FROM p WHERE k = 1
         | UNION ALL
         | SELECT p.day, p.k, p.v,
         |  0.25 * p.v + 0.75 * rec.ef AS ef,
         |  0.125 * p.v + 0.875 * rec.es AS es,
         |  0.5 * ((0.25 * p.v + 0.75 * rec.ef)
         |         - (0.125 * p.v + 0.875 * rec.es)) + 0.5 * rec.sg AS sg
         | FROM rec JOIN p ON p.k = rec.k + 1)
         |SELECT day, ef - es AS macd, sg AS signal,
         | (ef - es) - sg AS histogram
         |FROM rec""".stripMargin,

    "w80_aroon" ->
      s"""WITH daily AS ($dailySql),
         |d AS (SELECT day, cents,
         |  row_number() OVER (ORDER BY day) AS pos FROM daily),
         |f AS (SELECT day, cents, pos,
         |  count(*) OVER w AS nf,
         |  max(cents * 1048576 + pos) OVER w % 1048576 AS hi_pos,
         |  1048576 - (min(cents * 1048576 + (1048576 - pos)) OVER w
         |             % 1048576) AS lo_pos
         | FROM d
         | WINDOW w AS (ORDER BY day ROWS BETWEEN 15 PRECEDING
         |   AND CURRENT ROW))
         |SELECT day, cents,
         | CAST(pos - hi_pos AS BIGINT) AS bars_since_high,
         | CAST(pos - lo_pos AS BIGINT) AS bars_since_low,
         | (16 - (pos - hi_pos))::DOUBLE * 6.25 AS aroon_up,
         | (16 - (pos - lo_pos))::DOUBLE * 6.25 AS aroon_down
         |FROM f WHERE nf = 16""".stripMargin)
}
