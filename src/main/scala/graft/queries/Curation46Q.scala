package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-8 batch 46: offline changepoint estimation (WHERE did the
  * hourly level shift — w27_cusum only flags that it drifted), the
  * Hodges-Lehmann robust location estimator (the rank-test-consistent
  * point estimate, Theil-Sen's location sibling), and quadratic-
  * weighted Cohen's kappa (the ordinal-rating agreement metric;
  * a32_kappa is its unweighted binary special case). Net-new vs the
  * 405-query surface (grep-checked). Every statistic is exact
  * integers up to at most ONE closing division.
  */
object Curation46Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // A92: single-changepoint estimate over the hourly event-count
    // series — argmax_t |t·S_n − n·S_t| (the CUSUM-distance form with
    // all denominators cleared, so the argmax is decided on exact
    // BIGINTs; ties take the earliest hour via the packed struct
    // max). Cumulative sums come from DistRank (no global window);
    // the final row carries the exact statistic and the two
    // single-division segment means.
    "a92_changepoint" -> ((s, dir) => {
      val ev = graft.io.Tables.eventsUs(s, dir)
        .select(expr("ts_us DIV 3600000000").as("h"))
      val counts = ev.groupBy("h").agg(count(lit(1)).as("x"))
      val bounds = counts.agg(min("h").as("mn"), max("h").as("mx"))
      val hours = bounds.select(
        explode(sequence(col("mn"), col("mx"))).as("h"))
      val series = hours.join(counts, Seq("h"), "left")
        .select(col("h"), coalesce(col("x"), lit(0L)).as("x"))
      val cum = graft.operators.DistRank.cumsum(series, col("h"),
        Seq(col("h")), Seq((col("x"), "st")), inclusive = true,
        totalsSuffix = Some("_n"), rowNumberAs = Some("t"))
      val tot = cum.agg(max(col("t")).as("n"))
      val d = cum.crossJoin(broadcast(tot))
        .filter(col("t") < col("n")) // a boundary "split" is no split
        .select(col("n"), col("st_n").as("sn"),
          abs(col("t") * col("st_n") - col("n") * col("st")).as("dstat"),
          col("t"), col("st"))
      d.agg(max(struct(col("dstat"), (-col("t")).as("negt"),
          col("st"), col("n"), col("sn"))).as("b"))
        .select(col("b.n").as("n_hours"),
          (-col("b.negt")).as("t_star"),
          col("b.dstat").as("stat"),
          (col("b.st").cast("double") / (-col("b.negt")).cast("double"))
            .as("mean_before"),
          ((col("b.sn") - col("b.st")).cast("double") /
            (col("b.n") + col("b.negt")).cast("double")).as("mean_after"))
    }),

    // A93: Hodges-Lehmann estimator of each user's weekly revenue —
    // the median of all pairwise Walsh averages (i ≤ j), the robust
    // location estimate consistent with the signed-rank test. The
    // ≤ 13-week series makes the ≤ 91 Walsh sums a bounded per-user
    // fold: sums live on the ×2 cent lattice (exact), the median of
    // an even count averages two lattice points — still an exact
    // double (x.5 is representable), identical in both engines.
    "a93_hodges_lehmann" -> ((s, dir) => {
      val w = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), expr("ts_us DIV 604800000000").as("wk"),
          lattice(col("value"), 100).as("c"))
        .groupBy("user_id", "wk").agg(sum("c").as("cw"))
      val a = w.select(col("user_id"), col("wk").as("wa"),
        col("cw").as("ca"))
      val b = w.select(col("user_id"), col("wk").as("wb"),
        col("cw").as("cb"))
      val walsh = a.join(b, "user_id").filter(col("wa") <= col("wb"))
        .select(col("user_id"), (col("ca") + col("cb")).as("w2"))
      val nn = w.groupBy("user_id").agg(count(lit(1)).as("n_weeks"))
      walsh.groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          sort_array(collect_list(col("w2"))).as("ws"))
        .join(nn, "user_id")
        .select(col("user_id"), col("n_weeks"), col("n_pairs"),
          (when(pmod(col("n_pairs"), lit(2L)) === 1,
            element_at(col("ws"),
              ((col("n_pairs") + 1) / 2).cast("int")).cast("double")
            ).otherwise(
            (element_at(col("ws"), (col("n_pairs") / 2).cast("int")) +
              element_at(col("ws"),
                (col("n_pairs") / 2 + 1).cast("int"))).cast("double") /
              lit(2.0)) / lit(2.0)).as("hl_cents"))
    }),

    // M44: quadratic-weighted Cohen's kappa over two derived ordinal
    // 0..4 ratings — THE ordinal-agreement metric (essay scoring,
    // relevance grades). With weights (i−j)² and denominators
    // cleared, κ = 1 − n·ΣwO / Σw(row·col): both operands exact
    // DECIMAL(38) integers (row·col products overflow BIGINT at the
    // 100x step), ONE closing division — a32_kappa's recipe lifted
    // to the weighted 5×5 grid.
    "m44_qwk" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir).select(
        least(expr(s"${latticeSql("value", 100)} DIV 2000"),
          lit(4L)).as("ra"),
        least(greatest((lattice(col("value"), 100) +
          (pmod(col("event_id"), lit(7L)) - 3L) * 500L)
          .cast("long"), lit(0L)), lit(9999L)).as("cb"))
        .select(col("ra"), expr("cb DIV 2000").as("rb"))
      val o = e.groupBy("ra", "rb").agg(count(lit(1)).as("obs"))
      val rows = o.groupBy("ra").agg(sum("obs").as("nr"))
      val cols = o.groupBy("rb").agg(sum("obs").as("nc"))
      val n1 = o.agg(sum("obs").as("n"))
      val num = o.agg(sum((col("ra") - col("rb")) * (col("ra") - col("rb"))
        * col("obs")).as("swo"))
      val den = rows.crossJoin(cols)
        .agg(sum((col("ra") - col("rb")) * (col("ra") - col("rb")) *
          col("nr").cast("decimal(38,0)") * col("nc")).as("swe"))
      n1.crossJoin(broadcast(num)).crossJoin(broadcast(den))
        .select(col("n"), col("swo"), col("swe"),
          (lit(1.0) - (col("n").cast("decimal(38,0)") * col("swo"))
            .cast("double") / col("swe").cast("double")).as("qwk"))
        .select(col("n"), col("swo"),
          col("swe").cast("double").as("swe_d"), col("qwk"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a92_changepoint" ->
      """WITH ev AS (SELECT epoch_us(ts) // 3600000000 AS h FROM events),
        |counts AS (SELECT h, count(*)::BIGINT AS x FROM ev GROUP BY h),
        |bounds AS (SELECT min(h) AS mn, max(h) AS mx FROM counts),
        |hours AS (SELECT unnest(range(mn, mx + 1)) AS h FROM bounds),
        |series AS (SELECT hours.h, coalesce(x, 0)::BIGINT AS x
        | FROM hours LEFT JOIN counts ON hours.h = counts.h),
        |cum AS (SELECT h, x,
        |  sum(x) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND
        |   CURRENT ROW)::BIGINT AS st,
        |  row_number() OVER (ORDER BY h)::BIGINT AS t
        | FROM series),
        |tot AS (SELECT max(t)::BIGINT AS n, max(st)::BIGINT AS sn
        | FROM cum),
        |d AS (SELECT n, sn, abs(t * sn - n * st)::BIGINT AS dstat, t, st
        | FROM cum, tot WHERE t < n)
        |SELECT n AS n_hours, t AS t_star, dstat AS stat,
        | st::DOUBLE / t::DOUBLE AS mean_before,
        | (sn - st)::DOUBLE / (n - t)::DOUBLE AS mean_after
        |FROM d ORDER BY dstat DESC, t LIMIT 1""".stripMargin,

    "a93_hodges_lehmann" ->
      s"""WITH w AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk,
        |  sum(${latticeSql("value", 100)})::BIGINT AS cw
        | FROM events GROUP BY user_id, wk),
        |walsh AS (SELECT a.user_id, (a.cw + b.cw)::BIGINT AS w2
        | FROM w a JOIN w b ON a.user_id = b.user_id AND a.wk <= b.wk),
        |nn AS (SELECT user_id, count(*)::BIGINT AS n_weeks FROM w
        | GROUP BY user_id),
        |g AS (SELECT user_id, count(*)::BIGINT AS n_pairs,
        |  list(w2 ORDER BY w2) AS ws
        | FROM walsh GROUP BY user_id)
        |SELECT g.user_id, n_weeks, n_pairs,
        | (CASE WHEN n_pairs % 2 = 1
        |   THEN ws[((n_pairs + 1) // 2)::INT]::DOUBLE
        |   ELSE (ws[(n_pairs // 2)::INT] +
        |     ws[(n_pairs // 2 + 1)::INT])::DOUBLE / 2.0
        |  END) / 2.0 AS hl_cents
        |FROM g JOIN nn USING (user_id)""".stripMargin,

    "m44_qwk" ->
      s"""WITH e AS (SELECT
        |  least(${latticeSql("value", 100)} // 2000, 4) AS ra,
        |  least(greatest(${latticeSql("value", 100)} +
        |    (event_id % 7 - 3) * 500, 0), 9999) // 2000 AS rb
        | FROM events),
        |o AS (SELECT ra, rb, count(*)::BIGINT AS obs FROM e
        | GROUP BY ra, rb),
        |r AS (SELECT ra, sum(obs)::BIGINT AS nr FROM o GROUP BY ra),
        |c AS (SELECT rb, sum(obs)::BIGINT AS nc FROM o GROUP BY rb),
        |n1 AS (SELECT sum(obs)::BIGINT AS n FROM o),
        |num AS (SELECT sum((ra - rb) * (ra - rb) * obs)::BIGINT AS swo
        | FROM o),
        |den AS (SELECT sum((ra - rb) * (ra - rb) *
        |  nr::DECIMAL(38,0) * nc) AS swe FROM r, c)
        |SELECT n, swo, (swe::VARCHAR)::DOUBLE AS swe_d,
        | 1.0 - ((n::DECIMAL(38,0) * swo)::VARCHAR)::DOUBLE / (swe::VARCHAR)::DOUBLE AS qwk
        |FROM n1, num, den""".stripMargin)
}
