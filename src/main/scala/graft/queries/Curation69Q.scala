package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 69: the distribution-shape screens a31's Gini leaves
  * open — Theil's T and Atkinson's index (the DECOMPOSABLE /
  * welfare-weighted inequality measures; Gini can't attribute
  * inequality to subgroups, Theil can), the Ansari-Bradley test (the
  * rank test for DISPERSION shift — a50/a112 test location; equal
  * medians with inflated spread sails through both), and Bowker's
  * symmetry test (is the event-type transition matrix symmetric — the
  * k×k generalization of m35_mcnemar). Net-new vs the 459-query
  * surface (grep-checked: no theil_t/atkinson/ansari/bowker).
  *
  * Portability: counts/rank moments are exact BIGINT/DECIMAL(38,0)
  * lattice aggregates; the only order-sensitive float sums (Theil's
  * Σ m·c·ln c, Bowker's ≤10 off-diagonal terms) ride pinned left
  * folds over domain-bounded sorted lists (≤ ~56k value ticks, ≤ 10
  * type pairs) — scale-independent of N.
  */
object Curation69Q extends QueryModule {

  private val dec = "decimal(38,0)"

  val queries: Seq[(String, QueryFn)] = Seq(

    // A117: Theil T and Atkinson(ε=1) over positive event values on
    // the cent lattice. T = S₁/X − ln(X/n) and A = 1 − exp(S₂/n)·n/X
    // where S₁ = Σ m_c·(c·ln c), S₂ = Σ m_c·ln c are pinned folds
    // over the value-sorted lattice and X = Σ m_c·c, n are exact
    // BIGINTs. Both indices are scale-invariant, so the cent lattice
    // (not dollars) changes nothing.
    "a117_inequality" -> ((s, dir) => {
      val lat = events(s, dir)
        .select(lattice(col("value"), 100).as("c"))
        .filter(col("c") >= 1L)
        .groupBy("c").agg(count(lit(1)).as("m"))
      val g = lat.agg(
        sort_array(collect_list(struct(col("c"), col("m")))).as("xs"),
        sum("m").as("n"), sum(col("m") * col("c")).as("x"))
      val s1 = fold(col("xs")) { (a, t) =>
        val cd = t.getField("c").cast("double")
        a + t.getField("m").cast("double") * (cd * log(cd))
      }
      val s2 = fold(col("xs")) { (a, t) =>
        a + t.getField("m").cast("double") *
          log(t.getField("c").cast("double"))
      }
      // r6: both indices end in libm (ln/exp, not correctly rounded
      // across engines — a 1-ulp exp() split surfaced at sf1) and sit
      // far off the 6-dp boundary, the rule-3 shape
      g.select(col("n"), col("x").as("total_cents"),
        r6(s1 / col("x").cast("double") -
          log(col("x").cast("double") / col("n").cast("double")))
          .as("theil_t"),
        r6(lit(1.0) - exp(s2 / col("n").cast("double")) *
          col("n").cast("double") / col("x").cast("double"))
          .as("atkinson_1"))
    }),

    // A118: Ansari-Bradley dispersion test between the even/odd user
    // arms per event type, tie-adjusted via midrank scores held on
    // the ×2 integer lattice: twice the midrank of value v is
    // dr(v) = 2·cumBelow(v) + m(v) + 1, twice the AB score is
    // s2(v) = min(dr, 2(N+1) − dr). AB sum, the conditional null
    // mean na·S/(2N) and variance na·nb·(N·SS − S²)/(4N²(N−1)) all
    // come from exact lattice moments (S = Σ m·s2, SS = Σ m·s2²);
    // z is a pointwise pinned chain. Small |z| = equal spread.
    "a118_ansari_bradley" -> ((s, dir) => {
      val w = Window.partitionBy("tp").orderBy("c")
      val lat = events(s, dir)
        .select(col("event_type").as("tp"),
          (col("user_id") % 2 === 0).as("arma"),
          lattice(col("value"), 100).as("c"))
        .groupBy("tp", "c")
        .agg(sum(when(col("arma"), 1L).otherwise(0L)).as("ma"),
          count(lit(1)).as("m"))
      val cum = lat.select(col("tp"), col("ma"), col("m"),
        (sum("m").over(w) - col("m")).as("below"),
        sum("m").over(Window.partitionBy("tp")).as("ntot"))
      val scored = cum.select(col("tp"), col("ma"), col("m"),
        least(col("below") * 2 + col("m") + 1,
          (col("ntot") + 1) * 2 - (col("below") * 2 + col("m") + 1))
          .as("s2"), col("ntot"))
      val g = scored.groupBy("tp").agg(
        sum("ma").as("na"), max("ntot").as("ntot"),
        sum(col("ma").cast(dec) * col("s2")).as("ab2"),
        sum(col("m").cast(dec) * col("s2")).as("ssum"),
        sum(col("m").cast(dec) * col("s2") * col("s2")).as("sss"))
        .withColumn("nb", col("ntot") - col("na"))
        .filter(col("na") >= 2L && col("nb") >= 2L)
      val nD = col("ntot").cast("double")
      // E[AB] = na·(ΣS)/N with ΣS = ssum/2 on the ×2 lattice
      val meanAb = (col("na").cast(dec) * col("ssum")).cast("double") /
        (nD * 2.0)
      // Var[AB] = na·nb·(N·Σs² − (Σs)²)/(N²(N−1)); ×2 lattice → /4
      val varAb = col("na").cast("double") * col("nb").cast("double") *
        (col("ntot").cast(dec) * col("sss") - col("ssum") * col("ssum"))
          .cast("double") /
        (nD * nD * (nD - 1.0) * 4.0)
      g.select(col("tp").as("event_type"), col("na"), col("nb"),
        col("ab2").cast("long").as("ab2"),
        meanAb.as("ab_mean"),
        when(varAb > 0.0,
          (col("ab2").cast("double") / 2.0 - meanAb) / sqrt(varAb))
          .as("z_ab"))
    }),

    // A119: Bowker's test of transition symmetry over consecutive
    // same-user event types: χ² = Σ_{i<j} (n_ij − n_ji)²/(n_ij + n_ji)
    // on the bounded 5×5 grid (w32's lag-transition counts, folded to
    // unordered pairs). Numerators are exact integers; the ≤10-term
    // sum is a pinned fold over the (i,j)-sorted pair list. df counts
    // the pairs with any traffic.
    "a119_bowker" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val tr = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"))
        .select(lag("event_type", 1).over(w).as("a"),
          col("event_type").as("b"))
        .filter(col("a").isNotNull && col("a") =!= col("b"))
      val cells = tr.groupBy("a", "b").agg(count(lit(1)).as("nab"))
      val lo = least(col("a"), col("b")).as("i")
      val hi = greatest(col("a"), col("b")).as("j")
      val pairs = cells.select(lo, hi,
        when(col("a") < col("b"), col("nab")).otherwise(0L).as("fwd"),
        when(col("a") > col("b"), col("nab")).otherwise(0L).as("bwd"))
        .groupBy("i", "j")
        .agg(sum("fwd").as("nij"), sum("bwd").as("nji"))
      val g = pairs.agg(
        sort_array(collect_list(struct(col("i"), col("j"), col("nij"),
          col("nji")))).as("xs"),
        sum(when(col("nij") + col("nji") > 0L, 1L).otherwise(0L))
          .as("df"),
        sum(col("nij") + col("nji")).as("n_trans"))
      val chi2 = fold(col("xs")) { (a, x) =>
        val d = (x.getField("nij") - x.getField("nji")).cast("double")
        val t = (x.getField("nij") + x.getField("nji")).cast("double")
        a + when(t > 0.0, d * d / t).otherwise(lit(0.0))
      }
      g.select(col("df"), col("n_trans"), chi2.as("chi2_bowker"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a117_inequality" ->
      s"""WITH lat AS (SELECT ${latticeSql("value", 100)} AS c,
        |  count(*)::BIGINT AS m FROM events
        | WHERE ${latticeSql("value", 100)} >= 1 GROUP BY c),
        |g AS (SELECT list(struct_pack(c := c, m := m) ORDER BY c) AS xs,
        |  CAST(sum(m) AS BIGINT) AS n, CAST(sum(m * c) AS BIGINT) AS x
        | FROM lat)
        |SELECT n, x AS total_cents,
        | round(list_reduce(list_prepend(0.0::DOUBLE, list_transform(xs, t ->
        |    t.m::DOUBLE * (t.c::DOUBLE * ln(t.c::DOUBLE)))),
        |   (a, b) -> a + b) / x::DOUBLE
        |  - ln(x::DOUBLE / n::DOUBLE), 6) AS theil_t,
        | round(1.0 - exp(list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(xs, t -> t.m::DOUBLE * ln(t.c::DOUBLE))),
        |   (a, b) -> a + b) / n::DOUBLE) * n::DOUBLE / x::DOUBLE, 6)
        |   AS atkinson_1
        |FROM g""".stripMargin,

    "a118_ansari_bradley" ->
      s"""WITH e AS (SELECT event_type AS tp, (user_id % 2 = 0) AS arma,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |lat AS (SELECT tp, c,
        |  CAST(sum(CASE WHEN arma THEN 1 ELSE 0 END) AS BIGINT) AS ma,
        |  count(*)::BIGINT AS m FROM e GROUP BY tp, c),
        |cum AS (SELECT tp, ma, m,
        |  CAST(sum(m) OVER (PARTITION BY tp ORDER BY c) - m AS BIGINT)
        |    AS below,
        |  CAST(sum(m) OVER (PARTITION BY tp) AS BIGINT) AS ntot
        | FROM lat),
        |scored AS (SELECT tp, ma, m,
        |  least(below * 2 + m + 1, (ntot + 1) * 2 - (below * 2 + m + 1))
        |    AS s2, ntot FROM cum),
        |g AS (SELECT tp, CAST(sum(ma) AS BIGINT) AS na, max(ntot) AS ntot,
        |  sum(ma::DECIMAL(38,0) * s2) AS ab2,
        |  sum(m::DECIMAL(38,0) * s2) AS ssum,
        |  sum(m::DECIMAL(38,0) * s2 * s2) AS sss
        | FROM scored GROUP BY tp),
        |f AS (SELECT tp, na, ntot - na AS nb, ntot, ab2, ssum, sss
        | FROM g WHERE na >= 2 AND ntot - na >= 2)
        |SELECT tp AS event_type, na, nb, CAST(ab2 AS BIGINT) AS ab2,
        | ((na::DECIMAL(38,0) * ssum)::VARCHAR)::DOUBLE
        |   / (ntot::DOUBLE * 2.0) AS ab_mean,
        | CASE WHEN na::DOUBLE * nb::DOUBLE *
        |     (((ntot::DECIMAL(38,0) * sss - ssum * ssum)::VARCHAR)::DOUBLE)
        |     / (ntot::DOUBLE * ntot::DOUBLE * (ntot::DOUBLE - 1.0) * 4.0)
        |     > 0.0
        |  THEN (((ab2)::VARCHAR)::DOUBLE / 2.0
        |    - ((na::DECIMAL(38,0) * ssum)::VARCHAR)::DOUBLE
        |      / (ntot::DOUBLE * 2.0))
        |   / sqrt(na::DOUBLE * nb::DOUBLE *
        |     (((ntot::DECIMAL(38,0) * sss - ssum * ssum)::VARCHAR)::DOUBLE)
        |     / (ntot::DOUBLE * ntot::DOUBLE * (ntot::DOUBLE - 1.0) * 4.0))
        | END AS z_ab
        |FROM f""".stripMargin,

    "a119_bowker" ->
      """WITH tr AS (SELECT
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS a,
        |  event_type AS b FROM events),
        |cells AS (SELECT a, b, count(*)::BIGINT AS nab FROM tr
        | WHERE a IS NOT NULL AND a <> b GROUP BY a, b),
        |pairs AS (SELECT least(a, b) AS i, greatest(a, b) AS j,
        |  CAST(sum(CASE WHEN a < b THEN nab ELSE 0 END) AS BIGINT) AS nij,
        |  CAST(sum(CASE WHEN a > b THEN nab ELSE 0 END) AS BIGINT) AS nji
        | FROM cells GROUP BY 1, 2),
        |g AS (SELECT
        |  list(struct_pack(i := i, j := j, nij := nij, nji := nji)
        |       ORDER BY i, j) AS xs,
        |  CAST(sum(CASE WHEN nij + nji > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS df,
        |  CAST(sum(nij + nji) AS BIGINT) AS n_trans FROM pairs)
        |SELECT df, n_trans,
        | list_reduce(list_prepend(0.0::DOUBLE, list_transform(xs, x ->
        |    CASE WHEN (x.nij + x.nji)::DOUBLE > 0.0 THEN
        |      (x.nij - x.nji)::DOUBLE * (x.nij - x.nji)::DOUBLE
        |      / (x.nij + x.nji)::DOUBLE ELSE 0.0 END)),
        |   (a, b) -> a + b) AS chi2_bowker
        |FROM g""".stripMargin)
}
