package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Q._
import graft.operators.DistRank

/** Round-9 batch 55: modern rank statistics + binned ranking eval,
  * net-new vs the 428-query surface (grep-checked):
  *  - Chatterjee's ξ (2020) — the asymmetric "is y a measurable
  *    function of x" coefficient, tie-aware form; detects ANY
  *    functional dependence, not just monotone (Spearman/Kendall,
  *    which the surface already has, miss non-monotone);
  *  - Bartels' rank von Neumann ratio — the rank test for serial
  *    randomness of a series (≈2 under randomness, <2 trending);
  *  - binned average precision (PR-AUC) on the m15_calibration
  *    dollar-bin lattice — the ranking-eval companion to m14_auc
  *    (ROC-AUC is rank-exact; AP needs a sequential fold, so it
  *    rides a BOUNDED bin lattice to stay pinned).
  *
  * Cross-engine discipline: every rank is an exact BIGINT from a
  * value-count cumsum (never a row-scale sort — DistRank two-pass);
  * adjacent-pair sums come from DistRank.adjacentSum in Spark and from
  * a pos→pos+1 self-join on the exact global row number in the
  * oracle; numerators/denominators are
  * exact DECIMAL(38,0) with ONE final division, VARCHAR-routed in
  * the oracle (round-9 trap 7).
  */
object Curation55Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // A102: Chatterjee's ξ of quantity → extended price. Tie-aware:
    // ξ = 1 − n·Σ|r_{i+1} − r_i| / (2·Σ l_i·(n − l_i)) with
    // r_i = #{y_j ≤ y_i}, l_i = #{y_j ≥ y_i}, rows ordered by
    // (x, orderkey, linenumber) — the pinned-tiebreak deterministic
    // variant of the original's random tie-breaking (documented; both
    // engines replay it identically).
    "a102_chatterjee_xi" -> ((s, dir) => {
      val li = lineitem(s, dir).select(
        col("l_quantity").cast("long").as("x"),
        lattice(col("l_extendedprice"), 100).as("y"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
      // (ok, ln) is NOT unique in the synthetic lineitem (11785 dup
      // pairs at sf0.01) — append y to the order: remaining ties have
      // equal y hence equal rank r, so the r-SEQUENCE (all ξ reads)
      // is invariant under their arbitrary arrangement on both
      // engines.
      val (cum, rows) = latticeRanks(li, "y",
        Seq((col("clo") + col("m")).as("r"),
          (col("clo_tot") - col("clo")).as("l")),
        Seq("x", "ok", "ln", "y", "r"))
      // Σ l·(n−l) = n·Σl − Σl² from the lattice moments — exact
      // integers, so the final double ops see the oracle's operands
      val adj = DistRank.adjacentSum(rows, col("x"),
        Seq(col("x"), col("ok"), col("ln"), col("y")),
        (a, b) => abs(b("r") - a("r")).cast("decimal(38,0)"))
      val den = cum.agg(
        sum(col("m")).as("n"),
        sum(col("l").cast("decimal(38,0)") * col("m")).as("sl1"),
        sum(col("l").cast("decimal(38,0)") * col("l") * col("m")).as("sl2"))
      den.crossJoin(broadcast(adj))
        .select(col("n"),
          (lit(1.0) - (col("sum") * col("n")).cast("double") /
            ((col("sl1") * col("n") - col("sl2")) * 2).cast("double"))
            .as("xi"))
    }),

    // A103: Bartels' rank von Neumann ratio of the event-value series
    // in (ts, event_id) order. Mid-ranks live on the doubled lattice
    // (mr2 = 2·below + ties + 1, exact BIGINT; the 2× cancels in the
    // ratio), successive differences come from the adjacent-pair sum,
    // and RVN = n·Σ(Δmr2)² / (n·Σmr2² − (Σmr2)²) is exact until one
    // division.
    "a103_bartels_rvn" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir).select(
        col("ts_us"), col("event_id"), lattice(col("value"), 100).as("c"))
      val (mr, rows) = latticeRanks(e, "c",
        Seq((col("clo") * 2 + col("m") + 1).as("mr2")),
        Seq("ts_us", "event_id", "mr2"))
      // n comes from the same lattice moments pass (identical integer,
      // identical final double ops)
      val num = DistRank.adjacentSum(rows, col("ts_us"),
        Seq(col("ts_us"), col("event_id")),
        (a, b) => (b("mr2") - a("mr2")).cast("decimal(38,0)") *
          (b("mr2") - a("mr2")))
      val den = mr.agg(
        sum(col("mr2").cast("decimal(38,0)") * col("mr2") * col("m")).as("s2"),
        sum(col("mr2") * col("m")).as("s1"), sum(col("m")).as("n"))
      den.crossJoin(broadcast(num))
        .select(col("n"),
          ((col("sum") * col("n")).cast("double") /
            (col("s2") * col("n") -
              col("s1").cast("decimal(38,0)") * col("s1")).cast("double"))
            .as("rvn"))
    }),

    // M53: binned average precision on the m15 dollar-bin lattice
    // (cents DIV 1000) — descending-bin exclusive cumulatives are
    // exact BIGINTs from ONE aggregate-grain cumsum; the AP fold runs
    // over the BOUNDED bin list in descending-bin order with a scalar
    // accumulator (the a84 rule), each term
    // (tp_b/P)·(TPcum_b/cum_b) a pinned two-division product.
    "m53_pr_auc" -> ((s, dir) => {
      val e = events(s, dir).select(
        expr(s"${latticeSql("value", 100)} DIV 1000").as("bin"),
        col("event_type").isin("purchase", "signup").cast("long").as("y"))
      val g = e.groupBy("bin").agg(count(lit(1)).as("cnt"),
        sum(col("y")).as("pos"))
      val cum = DistRank.cumsum(g, -col("bin"), Seq(col("bin").desc),
        Seq((col("cnt"), "chi"), (col("pos"), "phi")), inclusive = true,
        totalsSuffix = Some("_tot"))
      cum.agg(
          max(col("phi_tot")).as("p"), max(col("chi_tot")).as("n"),
          aggregate(
            transform(
              reverse(sort_array(collect_list(struct(col("bin"),
                col("pos"), col("phi"), col("chi"), col("phi_tot"))))),
              x => (x("pos").cast("double") / x("phi_tot").cast("double")) *
                (x("phi").cast("double") / x("chi").cast("double"))),
            lit(0.0), (a, x) => a + x).as("ap"))
        .select(col("n"), col("p"), col("ap"))
    }))

  /** The rank shape a102 and a103 share. The value-lattice counts `m`
    * of `rows`' column `c` get their exclusive running count `clo` and
    * its total `clo_tot` from one DistRank cumsum at LATTICE grain
    * (distinct cents saturate at any SF while the rows keep growing);
    * `ranks` derives the per-value columns from them. The lattice is
    * the side to broadcast: the rank join never shuffles the row side,
    * and the moments fold at lattice grain (Σ over rows of f = Σ over
    * values of m·f, the identical exact integers). Returns the lattice
    * and `rows` joined to it, cut to `keep`. Neither is cached: the
    * adjacent-pair sum reads the rows twice (its sketch and its pass),
    * and an sf0.1 A/B measured the uncached form faster. */
  private def latticeRanks(rows: DataFrame, c: String, ranks: Seq[Column],
      keep: Seq[String]): (DataFrame, DataFrame) = {
    val vc = rows.groupBy(c).agg(count(lit(1)).as("m"))
    val lat = DistRank.cumsum(vc, col(c), Seq(col(c)),
      Seq((col("m"), "clo")), inclusive = false, totalsSuffix = Some("_tot"))
      .select(col(c) +: col("m") +: ranks: _*)
    (lat, rows.join(broadcast(lat), c).select(keep.map(col): _*))
  }

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a102_chatterjee_xi" ->
      s"""WITH li AS (SELECT l_quantity::BIGINT AS x,
        |  ${latticeSql("l_extendedprice", 100)} AS y,
        |  l_orderkey AS ok, l_linenumber AS ln FROM lineitem),
        |vc AS (SELECT y AS c, count(*)::BIGINT AS m FROM li GROUP BY y),
        |cum AS (SELECT c,
        |  coalesce(sum(m) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND 1 PRECEDING), 0)::BIGINT AS clo, m,
        |  sum(m) OVER ()::BIGINT AS mt FROM vc),
        |rk AS (SELECT c, clo + m AS r, mt - clo AS l FROM cum),
        |rows_ AS (SELECT x, ok, ln, r, l,
        |  row_number() OVER (ORDER BY x, ok, ln, y) AS pos,
        |  count(*) OVER ()::BIGINT AS n
        | FROM li JOIN rk ON li.y = rk.c),
        |adj AS (SELECT sum(abs(b.r - a.r)::DECIMAL(38,0)) AS sad
        | FROM rows_ a JOIN rows_ b ON b.pos = a.pos + 1),
        |den AS (SELECT sum(l::DECIMAL(38,0) * (n - l)) AS sl,
        |  max(n)::BIGINT AS n FROM rows_)
        |SELECT n,
        | 1.0 - ((sad * n)::VARCHAR)::DOUBLE / ((sl * 2)::VARCHAR)::DOUBLE
        |   AS xi
        |FROM den, adj""".stripMargin,

    "a103_bartels_rvn" ->
      s"""WITH e AS (SELECT epoch_us(ts) AS ts_us, event_id,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |vc AS (SELECT c, count(*)::BIGINT AS m FROM e GROUP BY c),
        |mr AS (SELECT c,
        |  coalesce(sum(m) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND 1 PRECEDING), 0)::BIGINT * 2 + m + 1 AS mr2
        | FROM vc),
        |rows_ AS (SELECT mr2,
        |  row_number() OVER (ORDER BY ts_us, event_id) AS pos,
        |  count(*) OVER ()::BIGINT AS n
        | FROM e JOIN mr USING (c)),
        |num AS (SELECT sum((b.mr2 - a.mr2)::DECIMAL(38,0) *
        |   (b.mr2 - a.mr2)) AS sdd
        | FROM rows_ a JOIN rows_ b ON b.pos = a.pos + 1),
        |den AS (SELECT sum(mr2::DECIMAL(38,0) * mr2) AS s2,
        |  sum(mr2)::BIGINT AS s1, max(n)::BIGINT AS n FROM rows_)
        |SELECT n,
        | ((sdd * n)::VARCHAR)::DOUBLE /
        |  ((s2 * n - s1::DECIMAL(38,0) * s1)::VARCHAR)::DOUBLE AS rvn
        |FROM den, num""".stripMargin,

    "m53_pr_auc" ->
      s"""WITH e AS (SELECT
        |  ${latticeSql("value", 100)} // 1000 AS bin,
        |  CASE WHEN event_type IN ('purchase', 'signup')
        |    THEN 1 ELSE 0 END::BIGINT AS y FROM events),
        |g AS (SELECT bin, count(*)::BIGINT AS cnt, sum(y)::BIGINT AS pos
        | FROM e GROUP BY bin),
        |cum AS (SELECT bin, pos,
        |  sum(cnt) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW)::BIGINT AS chi,
        |  sum(pos) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW)::BIGINT AS phi,
        |  sum(cnt) OVER ()::BIGINT AS n, sum(pos) OVER ()::BIGINT AS p
        | FROM g)
        |SELECT max(n)::BIGINT AS n, max(p)::BIGINT AS p,
        | list_reduce(list_prepend(0.0,
        |   list((pos::DOUBLE / p::DOUBLE) * (phi::DOUBLE / chi::DOUBLE)
        |     ORDER BY bin DESC)), (a, x) -> a + x) AS ap
        |FROM cum""".stripMargin)
}
