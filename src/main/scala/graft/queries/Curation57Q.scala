package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 57: ordered-alternative trend testing and seasonal
  * exponential smoothing — net-new vs the 434-query surface
  * (grep-checked: no page-trend/holt-winters; w28_holt is Holt
  * LINEAR, no seasonality):
  *  - a105_page_trend: Page's L test — Friedman's within-block ranks
  *    against a MONOTONE ordered alternative (is engagement value
  *    ordered click < purchase < refund < signup < view across every
  *    user?). Friedman asks "any difference"; Page asks "THIS
  *    ordering" and is the standard dose-response/version-ladder
  *    test;
  *  - w72_holt_winters: additive Holt-Winters (level + trend +
  *    period-7 seasonality) over the daily event-count series with
  *    dyadic α=β=γ=1/2 — every update is a halving sum, so the whole
  *    recursion is exact dyadic arithmetic, bit-portable without any
  *    rounding (the w5_ema determinism argument extended to a
  *    9-component state).
  *
  * Scale shapes: Page rides a87_friedman's bounded k²-per-block
  * pairwise ranks (one keyed shuffle); Holt-Winters aggregates
  * row-scale events to the BOUNDED day grain first (~31 rows at
  * every SF — the a90/w68 driver-fold class) and replays the pinned
  * recursion on that metadata, mirrored by a recursive CTE over
  * per-step scalars in the oracle (struct accumulators are trap-8).
  */
object Curation57Q extends QueryModule {

  private val DayUs = 86400000000L

  val queries: Seq[(String, QueryFn)] = Seq(

    // A105: Page's L. Within-block doubled mid-ranks mr2 of the
    // per-(user, event_type) cross-multiplied mean values (the a87
    // construction verbatim), L2 = Σ_j c_j·R2_j with c_j = 1-based
    // alphabetical position of the event type (the pinned ordered
    // alternative), z from the no-tie moments (deterministic pinned
    // IEEE; mid-rank ties make it conservative, documented).
    "a105_page_trend" -> ((s, dir) => {
      val cell = events(s, dir)
        .select(col("user_id"), col("event_type"),
          lattice(col("value"), 100).as("c"))
        .groupBy("user_id", "event_type")
        .agg(sum(col("c")).as("sc"), count(lit(1)).as("nc"))
      val kAll = cell.select(col("event_type")).distinct()
        .agg(count(lit(1)).as("k"))
      val complete = cell.groupBy("user_id")
        .agg(count(lit(1)).as("kt"))
        .crossJoin(broadcast(kAll))
        .filter(col("kt") === col("k"))
        .select("user_id")
      val blocks = cell.join(complete, "user_id")
      val a = blocks.select(col("user_id"), col("event_type").as("ga"),
        col("sc").as("sa"), col("nc").as("na"))
      val b = blocks.select(col("user_id"), col("event_type").as("gb"),
        col("sc").as("sb"), col("nc").as("nb"))
      val mr = a.join(b, "user_id").groupBy(col("user_id"), col("ga"))
        .agg(
          sum(when(col("sb") * col("na") < col("sa") * col("nb"), 1L)
            .otherwise(0L)).as("lt"),
          sum(when(col("sb") * col("na") === col("sa") * col("nb"), 1L)
            .otherwise(0L)).as("eq"))
        .select(col("user_id"), col("ga"),
          (col("lt") * 2 + col("eq") + 1).as("mr2"))
      val rj = mr.groupBy("ga").agg(sum("mr2").as("r2_j"))
      val nBlocks = complete.agg(count(lit(1)).as("nb"))
      // c_j from the alphabetical fold position: sort_array gives the
      // event types in the pinned order, and the fold index IS c_j
      val folded = rj.agg(
        count(lit(1)).as("k"),
        aggregate(
          transform(sort_array(collect_list(struct(col("ga"),
            col("r2_j")))), x => x("r2_j")),
          struct(lit(0L).as("j"), lit(0L).as("l2")),
          (acc, r2) => struct((acc("j") + 1).as("j"),
            (acc("l2") + (acc("j") + 1) * r2).as("l2")))("l2").as("l2"))
      folded.crossJoin(broadcast(nBlocks))
        .select(col("nb").as("n_blocks"), col("k"), col("l2"),
          col("nb").cast("double").as("nd"),
          col("k").cast("double").as("kd"))
        .select(col("n_blocks"), col("k"), col("l2"),
          // z = (L − n·k(k+1)²/4) / sqrt(n·k²(k+1)(k²−1)/144), L = l2/2
          ((col("l2").cast("double") / lit(2.0) -
            col("nd") * col("kd") * (col("kd") + 1.0) *
              (col("kd") + 1.0) / lit(4.0)) /
            sqrt(col("nd") * col("kd") * col("kd") * (col("kd") + 1.0) *
              (col("kd") * col("kd") - 1.0) / lit(144.0))).as("z"))
        .select(col("n_blocks"), col("k"), col("l2"), col("z"),
          (col("z") > 1.644854).cast("long").as("significant"))
    }),

    // W72: additive Holt-Winters on the gap-filled daily count
    // series. State (level, trend, s[0..6]) seeds at (y₀, 0, 0⁷);
    // per step: fitted = l + t + s[d%7]; l' = (y − s)/2 + (l + t)/2;
    // t' = (l' − l)/2 + t/2; s' = (y − l')/2 + s/2. α=β=γ=1/2 keeps
    // every quantity a dyadic rational — exact in IEEE, no rounding
    // emitted. The day grain is bounded (~31 rows at every SF), the
    // a90/w68 driver-fold class; the oracle replays the identical
    // recursion as a recursive CTE over per-step scalars (every base
    // cast ::DOUBLE — the w68 DECIMAL-quantization trap).
    "w72_holt_winters" -> ((s, dir) => {
      val counts = graft.io.Tables.eventsUs(s, dir)
        .select(expr(s"ts_us DIV ${DayUs}L").as("day"))
        .groupBy("day").agg(count(lit(1)).as("x"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val d0 = counts.keys.min
      val d1 = counts.keys.max
      val ys = (d0 to d1).map(d => counts.getOrElse(d, 0L)).toArray
      var lvl = ys(0).toDouble
      var trd = 0.0
      val sea = Array.fill(7)(0.0)
      val out = ys.zipWithIndex.map { case (y, t) =>
        val j = t % 7
        val fitted = lvl + trd + sea(j)
        val l2 = (y.toDouble - sea(j)) / 2.0 + (lvl + trd) / 2.0
        trd = (l2 - lvl) / 2.0 + trd / 2.0
        lvl = l2
        sea(j) = (y.toDouble - lvl) / 2.0 + sea(j) / 2.0
        (d0 + t, y, fitted, lvl, trd, sea(j))
      }
      import s.implicits._
      out.toSeq
        .toDF("day", "x", "fitted", "level", "trend", "seasonal")
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a105_page_trend" ->
      s"""WITH cell AS (SELECT user_id, event_type,
        |  sum(${latticeSql("value", 100)})::BIGINT AS sc,
        |  count(*)::BIGINT AS nc
        | FROM events GROUP BY user_id, event_type),
        |kall AS (SELECT count(DISTINCT event_type)::BIGINT AS k
        | FROM cell),
        |complete AS (SELECT user_id FROM cell, kall
        | GROUP BY user_id, k HAVING count(*) = k),
        |blocks AS (SELECT cell.* FROM cell JOIN complete USING (user_id)),
        |mr AS (SELECT a.user_id, a.event_type AS ga,
        |  (2 * sum(CASE WHEN b.sc * a.nc < a.sc * b.nc
        |     THEN 1 ELSE 0 END) +
        |   sum(CASE WHEN b.sc * a.nc = a.sc * b.nc THEN 1 ELSE 0 END)
        |   + 1)::BIGINT AS mr2
        | FROM blocks a JOIN blocks b USING (user_id)
        | GROUP BY a.user_id, a.event_type),
        |rj AS (SELECT ga, sum(mr2)::BIGINT AS r2_j FROM mr GROUP BY ga),
        |ranked AS (SELECT r2_j,
        |  row_number() OVER (ORDER BY ga) AS cj FROM rj),
        |f AS (SELECT count(*)::BIGINT AS k,
        |  sum(cj * r2_j)::BIGINT AS l2 FROM ranked),
        |nb AS (SELECT count(*)::BIGINT AS nb FROM complete)
        |SELECT nb AS n_blocks, k, l2,
        | (l2::DOUBLE / 2.0 -
        |   nb::DOUBLE * k::DOUBLE * (k::DOUBLE + 1.0) *
        |     (k::DOUBLE + 1.0) / 4.0) /
        |  sqrt(nb::DOUBLE * k::DOUBLE * k::DOUBLE * (k::DOUBLE + 1.0) *
        |    (k::DOUBLE * k::DOUBLE - 1.0) / 144.0) AS z,
        | (CASE WHEN (l2::DOUBLE / 2.0 -
        |   nb::DOUBLE * k::DOUBLE * (k::DOUBLE + 1.0) *
        |     (k::DOUBLE + 1.0) / 4.0) /
        |  sqrt(nb::DOUBLE * k::DOUBLE * k::DOUBLE * (k::DOUBLE + 1.0) *
        |    (k::DOUBLE * k::DOUBLE - 1.0) / 144.0) > 1.644854
        |  THEN 1 ELSE 0 END)::BIGINT AS significant
        |FROM f, nb""".stripMargin,

    "w72_holt_winters" ->
      """WITH RECURSIVE ev AS (SELECT epoch_us(ts) // 86400000000 AS day
        | FROM events),
        |counts AS (SELECT day, count(*)::BIGINT AS x FROM ev
        | GROUP BY day),
        |bounds AS (SELECT min(day) AS mn, max(day) AS mx FROM counts),
        |days AS (SELECT unnest(range(mn, mx + 1)) AS day FROM bounds),
        |series AS (SELECT row_number() OVER (ORDER BY days.day) - 1
        |   AS t, days.day, coalesce(x, 0)::BIGINT AS x
        | FROM days LEFT JOIN counts ON days.day = counts.day),
        |hw AS (
        | SELECT t, day, x,
        |  x::DOUBLE AS fitted,
        |  x::DOUBLE AS lvl, 0::DOUBLE AS trd,
        |  (x::DOUBLE - x::DOUBLE) / 2.0 + 0::DOUBLE / 2.0 AS s0,
        |  0::DOUBLE AS s1, 0::DOUBLE AS s2, 0::DOUBLE AS s3,
        |  0::DOUBLE AS s4, 0::DOUBLE AS s5, 0::DOUBLE AS s6
        | FROM series WHERE t = 0
        | UNION ALL
        | SELECT s.t, s.day, s.x,
        |  hw.lvl + hw.trd + CASE s.t % 7
        |    WHEN 0 THEN hw.s0 WHEN 1 THEN hw.s1 WHEN 2 THEN hw.s2
        |    WHEN 3 THEN hw.s3 WHEN 4 THEN hw.s4 WHEN 5 THEN hw.s5
        |    ELSE hw.s6 END AS fitted,
        |  (s.x::DOUBLE - CASE s.t % 7
        |    WHEN 0 THEN hw.s0 WHEN 1 THEN hw.s1 WHEN 2 THEN hw.s2
        |    WHEN 3 THEN hw.s3 WHEN 4 THEN hw.s4 WHEN 5 THEN hw.s5
        |    ELSE hw.s6 END) / 2.0 + (hw.lvl + hw.trd) / 2.0 AS lvl,
        |  (((s.x::DOUBLE - CASE s.t % 7
        |    WHEN 0 THEN hw.s0 WHEN 1 THEN hw.s1 WHEN 2 THEN hw.s2
        |    WHEN 3 THEN hw.s3 WHEN 4 THEN hw.s4 WHEN 5 THEN hw.s5
        |    ELSE hw.s6 END) / 2.0 + (hw.lvl + hw.trd) / 2.0) - hw.lvl)
        |    / 2.0 + hw.trd / 2.0 AS trd,
        |  CASE WHEN s.t % 7 = 0 THEN (s.x::DOUBLE -
        |    ((s.x::DOUBLE - hw.s0) / 2.0 + (hw.lvl + hw.trd) / 2.0))
        |    / 2.0 + hw.s0 / 2.0 ELSE hw.s0 END AS s0,
        |  CASE WHEN s.t % 7 = 1 THEN (s.x::DOUBLE -
        |    ((s.x::DOUBLE - hw.s1) / 2.0 + (hw.lvl + hw.trd) / 2.0))
        |    / 2.0 + hw.s1 / 2.0 ELSE hw.s1 END AS s1,
        |  CASE WHEN s.t % 7 = 2 THEN (s.x::DOUBLE -
        |    ((s.x::DOUBLE - hw.s2) / 2.0 + (hw.lvl + hw.trd) / 2.0))
        |    / 2.0 + hw.s2 / 2.0 ELSE hw.s2 END AS s2,
        |  CASE WHEN s.t % 7 = 3 THEN (s.x::DOUBLE -
        |    ((s.x::DOUBLE - hw.s3) / 2.0 + (hw.lvl + hw.trd) / 2.0))
        |    / 2.0 + hw.s3 / 2.0 ELSE hw.s3 END AS s3,
        |  CASE WHEN s.t % 7 = 4 THEN (s.x::DOUBLE -
        |    ((s.x::DOUBLE - hw.s4) / 2.0 + (hw.lvl + hw.trd) / 2.0))
        |    / 2.0 + hw.s4 / 2.0 ELSE hw.s4 END AS s4,
        |  CASE WHEN s.t % 7 = 5 THEN (s.x::DOUBLE -
        |    ((s.x::DOUBLE - hw.s5) / 2.0 + (hw.lvl + hw.trd) / 2.0))
        |    / 2.0 + hw.s5 / 2.0 ELSE hw.s5 END AS s5,
        |  CASE WHEN s.t % 7 = 6 THEN (s.x::DOUBLE -
        |    ((s.x::DOUBLE - hw.s6) / 2.0 + (hw.lvl + hw.trd) / 2.0))
        |    / 2.0 + hw.s6 / 2.0 ELSE hw.s6 END AS s6
        | FROM hw JOIN series s ON s.t = hw.t + 1)
        |SELECT day, x, fitted, lvl AS level, trd AS trend,
        | CASE t % 7
        |  WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 3 THEN s3
        |  WHEN 4 THEN s4 WHEN 5 THEN s5 ELSE s6 END AS seasonal
        |FROM hw""".stripMargin)
}
