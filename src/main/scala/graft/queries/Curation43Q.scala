package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-8 batch 43: distribution-shift and uncertainty tooling —
  * exact Wasserstein-1 drift between two value distributions (the
  * transport metric a27_psi/a41_jsd can't see: PSI/JSD ignore HOW FAR
  * mass moved), split-conformal prediction intervals with the
  * finite-sample coverage gate (the distribution-free uncertainty
  * wrapper), and the Mann-Kendall trend test (the nonparametric
  * "is this series trending" statistic, Theil-Sen's a58 test twin).
  * Net-new vs the 397-query surface (grep-checked). All ranks and
  * counts are exact integers; the only doubles are single divisions /
  * sqrt of exact operands in pinned order, emitted raw.
  */
object Curation43Q extends QueryModule {

  private val WeekUs = 7L * 86400000000L

  val queries: Seq[(String, QueryFn)] = Seq(

    // A88: exact 1-Wasserstein (earth-mover) distance between the
    // click and purchase cent distributions: W1 = ∫|F1−F2| dv over
    // the merged support. One distinct-value aggregate, ONE DistRank
    // pass carrying both cumulative counts AND the support rank (the
    // multi-value cumsum — no global window), a rank self-join for
    // the right gap, and a DECIMAL(38) sum of the exact
    // |c1·n2 − c2·n1|·gap terms (a BIGINT term would overflow at the
    // 100x step). The single closing division is raw-double portable.
    "a88_wasserstein" -> ((s, dir) => {
      val e = events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type"), lattice(col("value"), 100).as("c"))
      val vc = e.groupBy("c").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("m1"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("m2"))
      val cum = graft.operators.DistRank.cumsum(vc, col("c"),
        Seq(col("c")), Seq((col("m1"), "c1"), (col("m2"), "c2")),
        inclusive = true, totalsSuffix = Some("_n"),
        rowNumberAs = Some("rn"))
      val nxt = cum.select((col("rn") - 1).as("rn"), col("c").as("cnext"))
      val terms = cum.join(nxt, "rn")
        .select(col("c1_n").as("n1"), col("c2_n").as("n2"),
          (abs(col("c1").cast("decimal(38,0)") * col("c2_n") -
            col("c2").cast("decimal(38,0)") * col("c1_n")) *
            (col("cnext") - col("c"))).as("term"))
      val sup = vc.agg(count(lit(1)).as("n_support"))
      terms.groupBy("n1", "n2")
        .agg(sum(col("term")).as("sd"))
        .crossJoin(broadcast(sup))
        .select(col("n1"), col("n2"), col("n_support"),
          (col("sd").cast("double") /
            (col("n1").cast("double") * col("n2").cast("double")))
            .as("w1_cents"))
    }),

    // M43: split-conformal prediction intervals per event type — the
    // distribution-free uncertainty wrapper (Vovk; Lei et al.): the
    // per-type calibration mean predicts, nonconformity lives on the
    // EXACT scaled lattice a = |c·n_cal − s_cal| (never a float
    // mean), q̂ is the ⌈0.9(n+1)⌉-th order statistic — found by a
    // composite-key DistRank (type packs into the bucket key's high
    // bits; within-type rank = global rank − the 5-row type-offset
    // frame, computed on DistRank's parts=1 aggregate-grain fast
    // path), and the holdout coverage check is pure integer counts
    // with the 0.88 must-cover gate.
    "m43_conformal" -> ((s, dir) => {
      import graft.operators.DistRank
      val e = graft.io.Tables.eventsUs(s, dir).select(
        col("event_id"), col("event_type"),
        lattice(col("value"), 100).as("c"))
      val cal = e.filter(pmod(col("event_id"), lit(2)) === 0)
      val tst = e.filter(pmod(col("event_id"), lit(2)) === 1)
      val pred = cal.groupBy("event_type")
        .agg(sum("c").as("sc"), count(lit(1)).as("nc"))
      // deterministic dense type index 0..k-1 on the tiny aggregate —
      // the parts=1 fast path (aggregate grain proven structurally)
      val typed = DistRank.rowNumber(pred,
        DistRank.stringKey(col("event_type")), Seq(col("event_type")),
        "ti1", parts = 1)
        .select(col("event_type"), col("sc"), col("nc"),
          (col("ti1") - 1).as("ti"))
      val offs = DistRank.cumsum(typed, col("ti"), Seq(col("ti")),
        Seq((col("nc"), "off")), inclusive = false, parts = 1)
        .select(col("event_type"), col("sc"), col("nc"), col("ti"),
          col("off"))
      val calA = cal.join(broadcast(offs), "event_type")
        .select(col("event_type"), col("nc"), col("off"), col("ti"),
          col("event_id"),
          abs(col("c") * col("nc") - col("sc")).as("a"))
      // bucket key = ti·2^44 + a: monotone in (ti, a), exact double
      // (a < 2^44 by construction: |c·n − s| ≤ 10^5·n, n ≤ 10^8)
      val ranked = DistRank.rowNumber(calA,
        col("ti") * lit(1L << 44) + col("a"),
        Seq(col("ti"), col("a"), col("event_id")), "rn")
        .select(col("event_type"), (col("rn") - col("off")).as("rwithin"),
          col("a"), col("nc"))
      // q_idx = ceil(0.9·(n_cal+1)) exactly: (9(n+1)+9) div 10
      val qhat = ranked
        .filter(col("rwithin") ===
          ((col("nc") + 1L) * 9L + 9L - pmod((col("nc") + 1L) * 9L + 9L,
            lit(10L))) / 10L)
        .select(col("event_type"), col("a").as("q_scaled"))
      tst.join(broadcast(offs), "event_type")
        .join(broadcast(qhat), "event_type")
        .select(col("event_type"), col("nc"), col("q_scaled"),
          (abs(col("c") * col("nc") - col("sc")) <= col("q_scaled"))
            .cast("long").as("cov"))
        .groupBy(col("event_type"), col("nc").as("n_cal"),
          col("q_scaled"))
        .agg(count(lit(1)).as("n_test"), sum("cov").as("n_covered"))
        .select(col("event_type"), col("n_cal"), col("q_scaled"),
          col("n_test"), col("n_covered"),
          (col("n_covered") * 100L >= col("n_test") * 88L).cast("long")
            .as("coverage_gate"))
    }),

    // W67: Mann-Kendall trend test per user over weekly revenue —
    // S = Σ sign(c_j − c_i) over ordered week pairs (exact, the
    // bounded ≤13-week-per-user pair join), tie-corrected variance on
    // the ×18 integer lattice, z from one sqrt + division of exact
    // operands (raw double), and the ±1.96 two-sided trend verdict.
    "w67_mannkendall" -> ((s, dir) => {
      val w = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"),
          expr(s"ts_us DIV $WeekUs").as("wk"),
          lattice(col("value"), 100).as("c"))
        .groupBy("user_id", "wk").agg(sum("c").as("cw"))
      val a = w.select(col("user_id"), col("wk").as("wa"),
        col("cw").as("ca"))
      val b = w.select(col("user_id"), col("wk").as("wb"),
        col("cw").as("cb"))
      val st = a.join(b, "user_id").filter(col("wa") < col("wb"))
        .groupBy("user_id")
        .agg(sum(signum(col("cb") - col("ca")).cast("long")).as("s"))
      val nn = w.groupBy("user_id").agg(count(lit(1)).as("n"))
      val ties = w.groupBy("user_id", "cw")
        .agg(count(lit(1)).as("t"))
        .filter(col("t") > 1)
        .groupBy("user_id")
        .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5))
          .as("tsum"))
      val full = nn.join(st, "user_id").join(ties, Seq("user_id"), "left")
        .select(col("user_id"), col("n"), col("s"),
          (col("n") * (col("n") - 1) * (col("n") * 2 + 5) -
            coalesce(col("tsum"), lit(0L))).as("v18"))
      full.select(col("user_id"), col("n").as("n_weeks"), col("s"),
          col("v18"),
          when(col("v18") <= 0, lit(0.0))
            .when(col("s") > 0,
              (col("s") - 1).cast("double") /
                sqrt(col("v18").cast("double") / lit(18.0)))
            .when(col("s") < 0,
              (col("s") + 1).cast("double") /
                sqrt(col("v18").cast("double") / lit(18.0)))
            .otherwise(lit(0.0)).as("z"))
        .select(col("user_id"), col("n_weeks"), col("s"), col("v18"),
          col("z"),
          (when(col("z") > 1.959964, 1L)
            .when(col("z") < -1.959964, -1L)
            .otherwise(0L)).as("trend"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a88_wasserstein" ->
      s"""WITH e AS (SELECT event_type,
        |  ${latticeSql("value", 100)} AS c FROM events
        | WHERE event_type IN ('click', 'purchase')),
        |vc AS (SELECT c,
        |  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT
        |   AS m1,
        |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
        |   AS m2
        | FROM e GROUP BY c),
        |cum AS (SELECT c,
        |  sum(m1) OVER w::BIGINT AS c1, sum(m2) OVER w::BIGINT AS c2,
        |  lead(c) OVER (ORDER BY c) AS cnext
        | FROM vc WINDOW w AS (ORDER BY c
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT (SELECT sum(m1)::BIGINT FROM vc) AS n1,
        |  (SELECT sum(m2)::BIGINT FROM vc) AS n2,
        |  (SELECT count(*)::BIGINT FROM vc) AS n_support),
        |s AS (SELECT sum(abs(c1::DECIMAL(38,0) * n2 -
        |   c2::DECIMAL(38,0) * n1) * (cnext - c)) AS sd
        | FROM cum, t WHERE cnext IS NOT NULL)
        |SELECT n1, n2, n_support,
        | sd::DOUBLE / (n1::DOUBLE * n2::DOUBLE) AS w1_cents
        |FROM s, t""".stripMargin,

    "m43_conformal" ->
      s"""WITH e AS (SELECT event_id, event_type,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |cal AS (SELECT * FROM e WHERE event_id % 2 = 0),
        |tst AS (SELECT * FROM e WHERE event_id % 2 = 1),
        |pred AS (SELECT event_type, sum(c)::BIGINT AS sc,
        |  count(*)::BIGINT AS nc FROM cal GROUP BY event_type),
        |ranked AS (SELECT cal.event_type, nc,
        |  abs(c * nc - sc) AS a,
        |  row_number() OVER (PARTITION BY cal.event_type
        |    ORDER BY abs(c * nc - sc), event_id) AS rwithin
        | FROM cal JOIN pred USING (event_type)),
        |qhat AS (SELECT event_type, a AS q_scaled FROM ranked
        | WHERE rwithin = (9 * (nc + 1) + 9) // 10)
        |SELECT t.event_type, nc AS n_cal, q_scaled,
        | count(*)::BIGINT AS n_test,
        | sum(CASE WHEN abs(c * nc - sc) <= q_scaled THEN 1 ELSE 0 END)
        |   ::BIGINT AS n_covered,
        | CASE WHEN sum(CASE WHEN abs(c * nc - sc) <= q_scaled
        |     THEN 1 ELSE 0 END) * 100 >= count(*) * 88
        |  THEN 1 ELSE 0 END::BIGINT AS coverage_gate
        |FROM tst t JOIN pred USING (event_type)
        | JOIN qhat USING (event_type)
        |GROUP BY t.event_type, nc, q_scaled""".stripMargin,

    "w67_mannkendall" ->
      s"""WITH w AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk,
        |  sum(${latticeSql("value", 100)})::BIGINT AS cw
        | FROM events GROUP BY user_id, wk),
        |st AS (SELECT a.user_id,
        |  sum(CASE WHEN b.cw > a.cw THEN 1 WHEN b.cw < a.cw THEN -1
        |   ELSE 0 END)::BIGINT AS s
        | FROM w a JOIN w b ON a.user_id = b.user_id AND a.wk < b.wk
        | GROUP BY a.user_id),
        |nn AS (SELECT user_id, count(*)::BIGINT AS n FROM w
        | GROUP BY user_id),
        |ties AS (SELECT user_id,
        |  sum(t * (t - 1) * (t * 2 + 5))::BIGINT AS tsum
        | FROM (SELECT user_id, cw, count(*)::BIGINT AS t FROM w
        |   GROUP BY user_id, cw) WHERE t > 1 GROUP BY user_id),
        |fl AS (SELECT nn.user_id, n, s,
        |  n * (n - 1) * (n * 2 + 5) - coalesce(tsum, 0) AS v18
        | FROM nn JOIN st USING (user_id)
        |  LEFT JOIN ties USING (user_id))
        |SELECT user_id, n AS n_weeks, s, v18, z,
        | CASE WHEN z > 1.959964 THEN 1 WHEN z < -1.959964 THEN -1
        |  ELSE 0 END::BIGINT AS trend
        |FROM (SELECT user_id, n, s, v18,
        |  CASE WHEN v18 <= 0 THEN 0.0
        |   WHEN s > 0 THEN (s - 1)::DOUBLE / sqrt(v18::DOUBLE / 18.0)
        |   WHEN s < 0 THEN (s + 1)::DOUBLE / sqrt(v18::DOUBLE / 18.0)
        |   ELSE 0.0 END AS z
        | FROM fl)""".stripMargin)
}
