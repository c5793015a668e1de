package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 62: the AMS F₂ sketch (the second-frequency-moment
  * estimator that completes the sketch family: HLL counts distincts,
  * CMS point-estimates, KMV/bottom-k sample, AMS estimates the skew
  * of the WHOLE distribution in O(1) state), the Pettitt rank-based
  * changepoint test (a92's CUSUM changepoint assumes level shifts in
  * means; Pettitt is its distribution-free Mann-Whitney twin), and the
  * Hosmer-Lemeshow calibration chi-square (m15 tabulates reliability,
  * m21 decomposes Brier — HL is the TEST statistic per bin). Net-new
  * vs the 443-query surface (grep-checked: no ams/pettitt/hosmer).
  * All three are exact-integer constructions end to end.
  */
object Curation62Q extends QueryModule {

  /** 16 engine-portable ±1 hash signs for user u: multiplicative
    * hashing h_i(u) = ((u+1)·C_i) mod P with P = 2³¹−1 and fixed odd
    * multipliers; sign = +1 iff h_i < P/2. Plain integer arithmetic —
    * identical on any engine, unlike library hashes. */
  private val P31 = 2147483647L
  private def sign(u: Column, i: Int): Column = {
    val c = (2654435761L * (i + 1) + 40503L * ((i * i) % 61)) % P31
    when(pmod((u + 1L) * lit(c), lit(P31)) < lit(P31 / 2), 1L)
      .otherwise(-1L)
  }

  val queries: Seq[(String, QueryFn)] = Seq(

    // A110: AMS (Alon-Matias-Szegedy) F₂ sketch vs exact. 16
    // estimators Z_i = Σ_u s_i(u)·f_u (per-user event counts f_u;
    // each Z an exact BIGINT from ONE aggregate), squared, then
    // median-of-means over 4 groups of 4 — medians/means kept on
    // integer lattices: group mean ×4 = the sum of its 4 squares,
    // median of the 4 group values ×2 = (Σ − min − max), so the
    // estimate ×8 is an EXACT BIGINT compared against 8·F₂exact by
    // integer cross-multiplication (the ±50% accuracy gate; Chebyshev
    // for 4-wise groups puts failure well below that). The sketch
    // state is 16 longs — mergeable across any partitioning.
    "a110_ams_f2" -> ((s, dir) => {
      val f = events(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("f"))
      val zs = (0 until 16).map(i =>
        sum(sign(col("user_id"), i) * col("f")).as(s"z$i"))
      val agg = f.agg(zs.head, zs.tail :+
        sum(col("f") * col("f")).as("f2"): _*)
      val grp = (0 until 4).map(g =>
        ((0 until 4).map(j => col(s"z${4 * g + j}") * col(s"z${4 * g + j}"))
          .reduce(_ + _)).as(s"m$g"))
      val withG = agg.select(col("f2") +: grp: _*)
      val ms = (0 until 4).map(g => col(s"m$g"))
      val estX8 = ms.reduce(_ + _) - least(ms: _*) - greatest(ms: _*)
      withG.select(col("f2").as("f2_exact"), estX8.as("est_x8"))
        .select(col("f2_exact"), col("est_x8"),
          r6(col("est_x8").cast("double") /
            (lit(8L) * col("f2_exact")).cast("double")).as("ratio"),
          (when(col("est_x8") >= lit(8L) * col("f2_exact"),
            col("est_x8") - lit(8L) * col("f2_exact"))
            .otherwise(lit(8L) * col("f2_exact") - col("est_x8"))
            <= lit(4L) * col("f2_exact")).as("within_50pct"))
    }),

    // W74: Pettitt changepoint test per user — the rank-based (hence
    // outlier-robust, distribution-free) "did the level shift, and
    // when" twin of a92. EXACT: with doubled midranks R2_i = 2·rank +
    // ties − 1 (the a50 Mann-Whitney lattice), U_t = t(n+1) −
    // Σ_{i≤t} R2_i is an exact BIGINT for every prefix t; K =
    // max|U_t| with the EARLIEST argmax picked via the packed
    // ((|U|+1)·2²⁰ − t) BIGINT max (n per series ≪ 2²⁰). Significance at
    // 5% is integer-decided on the micro-nat lattice: 2e^(−6K²/(n³+n²))
    // < 0.05 ⟺ 6K²·10⁶ > 3688879·(n³+n²) (ln 40 = 3.688879…, floor —
    // no exp() anywhere near a compared column); the cross product
    // rides DECIMAL(38,0). Two per-user window passes, one groupBy.
    "w74_pettitt" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          lattice(col("value"), 100).as("c"))
      val wRank = Window.partitionBy("user_id").orderBy("c")
      val wTies = Window.partitionBy("user_id", "c")
      val wTime = Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
      val r2 = lit(2L) * rank().over(wRank) + count(lit(1)).over(wTies) - 1L
      val d = e.withColumn("r2", r2)
        .withColumn("t", row_number().over(wTime).cast("long"))
        .withColumn("cr2", sum("r2").over(
          wTime.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
      val u = col("t") * (col("n") + 1L) - col("cr2")
      // packed (|U|+1)·2²⁰ − t stays strictly positive (t ≥ 1), so the
      // DIV decode below never hits negative-division semantics; t = n
      // (where U is identically 0) is excluded from the argmax.
      val packed = d.filter(col("t") < col("n"))
        .select(col("user_id"), col("n"),
          ((abs(u) + 1L) * lit(1048576L) - col("t")).as("pk"))
        .groupBy("user_id").agg(max("n").as("n"), max("pk").as("p"))
      val k = expr("p DIV 1048576")
      val tStar = (expr("p DIV 1048576") + 1L) * 1048576L - col("p")
      packed.filter(col("n") >= 8L)
        .select(col("user_id"), col("n"), k.as("k_stat"),
          tStar.as("t_star"),
          (lit(6L) * k.cast("decimal(38,0)") * k * 1000000L >
            lit(3688879L) * (col("n").cast("decimal(38,0)") *
              col("n") * col("n") + col("n").cast("decimal(38,0)") *
              col("n"))).as("significant_5pct"))
    }),

    // M55: Hosmer-Lemeshow calibration chi-square per risk bin. The
    // score is the m15 probability proxy p = cents/50000 ∈ (0,1], so
    // each bin's expected positives ×50000 is the exact BIGINT Σcents
    // and the HL term (O−E)²/(n·p̄(1−p̄)) clears to
    // (5e4·O − S)²·n / (S·(5e4·n − S)) — integer cross products in
    // DECIMAL(38,0), ONE division per bin (the m12 contract: terms
    // out, caller sums). One hash-agg exchange.
    "m55_hosmer" -> ((s, dir) => {
      val e = events(s, dir).select(lattice(col("value"), 100).as("cents"),
        col("event_type").isin("purchase", "signup").cast("long").as("y"))
      val g = e.groupBy(expr("cents DIV 5000").as("bin"))
        .agg(count(lit(1)).as("n"), sum("y").as("obs"),
          sum("cents").as("sc"))
      val dev = (lit(50000L) * col("obs") - col("sc")).cast("decimal(38,0)")
      val num = dev * dev * col("n")
      val den = col("sc").cast("decimal(38,0)") *
        (lit(50000L) * col("n") - col("sc"))
      g.select(col("bin"), col("n"), col("obs"), col("sc").as("exp_x50k"),
        r6(num.cast("double") / den.cast("double")).as("hl_term"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  /** DuckDB mirror of [[sign]]. */
  private def signSql(i: Int): String = {
    val c = (2654435761L * (i + 1) + 40503L * ((i * i) % 61)) % P31
    s"(CASE WHEN ((user_id + 1) * $c) % $P31 < ${P31 / 2} THEN 1 ELSE -1 END)"
  }

  val oracle: Seq[(String, String)] = Seq(

    "a110_ams_f2" -> {
      val zs = (0 until 16).map(i =>
        s"CAST(sum(${signSql(i)} * f) AS BIGINT) AS z$i").mkString(", ")
      val grp = (0 until 4).map(g =>
        (0 until 4).map(j => s"z${4 * g + j} * z${4 * g + j}")
          .mkString("(", " + ", s") AS m$g")).mkString(", ")
      s"""WITH f AS (SELECT user_id, count(*)::BIGINT AS f FROM events
         | GROUP BY user_id),
         |a AS (SELECT $zs, CAST(sum(f * f) AS BIGINT) AS f2 FROM f),
         |g AS (SELECT f2, $grp FROM a),
         |e AS (SELECT f2 AS f2_exact,
         |  CAST(m0 + m1 + m2 + m3 - least(m0, m1, m2, m3)
         |    - greatest(m0, m1, m2, m3) AS BIGINT) AS est_x8
         | FROM g)
         |SELECT f2_exact, est_x8,
         | round(est_x8::DOUBLE / (8 * f2_exact)::DOUBLE, 6) AS ratio,
         | abs(est_x8 - 8 * f2_exact) <= 4 * f2_exact AS within_50pct
         |FROM e""".stripMargin
    },

    "w74_pettitt" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |d AS (SELECT user_id, ts_us, event_id,
        |  2 * rank() OVER (PARTITION BY user_id ORDER BY c)
        |    + count(*) OVER (PARTITION BY user_id, c) - 1 AS r2
        | FROM e),
        |t AS (SELECT user_id,
        |  row_number() OVER w AS t,
        |  CAST(sum(r2) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cr2,
        |  count(*) OVER (PARTITION BY user_id) AS n
        | FROM d WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts_us, event_id)),
        |p AS (SELECT user_id, n,
        |  max((abs(t * (n + 1) - cr2) + 1) * 1048576 - t) AS p
        | FROM t WHERE t < n GROUP BY user_id, n),
        |k AS (SELECT user_id, n, p // 1048576 AS k_stat,
        |  (p // 1048576 + 1) * 1048576 - p AS t_star
        | FROM p WHERE n >= 8)
        |SELECT user_id, n, k_stat, t_star,
        | 6 * k_stat::DECIMAL(38,0) * k_stat * 1000000 >
        |   3688879 * (n::DECIMAL(38,0) * n * n + n::DECIMAL(38,0) * n)
        |   AS significant_5pct
        |FROM k""".stripMargin,

    "m55_hosmer" ->
      s"""WITH e AS (SELECT ${latticeSql("value", 100)} AS cents,
        |  (event_type IN ('purchase', 'signup'))::BIGINT AS y
        | FROM events),
        |g AS (SELECT cents // 5000 AS bin, count(*)::BIGINT AS n,
        |  CAST(sum(y) AS BIGINT) AS obs, CAST(sum(cents) AS BIGINT) AS sc
        | FROM e GROUP BY 1)
        |SELECT bin, n, obs, sc AS exp_x50k,
        | round((((50000 * obs - sc)::DECIMAL(38,0)
        |     * (50000 * obs - sc) * n)::VARCHAR)::DOUBLE
        |   / ((sc::DECIMAL(38,0) * (50000 * n - sc))::VARCHAR)::DOUBLE, 6)
        |   AS hl_term
        |FROM g""".stripMargin)
}
