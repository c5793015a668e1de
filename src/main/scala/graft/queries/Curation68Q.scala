package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 68: the two-sample distribution-comparison family's
  * missing members — the Anderson-Darling k-sample statistic (tail-
  * sensitive where a35_ks is midbody-sensitive and a76_cvm is
  * quadratic-mean; AD weights deviations by 1/(F(1−F)), so it is THE
  * test that notices tail drift first), Somers' D (the ASYMMETRIC
  * ordinal association — a108's gamma throws away ties entirely,
  * Kendall's tau-b splits them symmetrically; D(y|x) charges ties on y
  * against the relationship, which is what "does priority PREDICT
  * quarter" asks), and Cliff's delta with Vargha-Delaney A (the
  * dominance effect sizes that give a50_mannwhitney's U a scale-free
  * interpretation). Net-new vs the 456-query surface (grep-checked:
  * no anderson/ad2/somers/cliff/vargha).
  *
  * Portability: every count is an exact BIGINT from lattice/grid
  * aggregates; wide cross-products ride DECIMAL(38,0) and reach
  * doubles through the correctly-rounded cast (VARCHAR-routed in the
  * oracle per ORACLE_NOTES trap 7); the one order-sensitive float
  * reduction (AD's per-value term sum) is a pinned left fold over the
  * value-sorted lattice list, whose size is bounded by the VALUE
  * DOMAIN (≤ ~56k cent ticks), not the row count — scale-safe at any
  * N.
  */
object Curation68Q extends QueryModule {

  private val dec = "decimal(38,0)"

  val queries: Seq[(String, QueryFn)] = Seq(

    // A114: Anderson-Darling 2-sample statistic (Scholz-Stephens
    // A²kN, eq. 6, midrank=false, k=2) between the even/odd user arms
    // per event type. The pooled lattice (value cents → per-arm
    // counts) plus ONE per-type cumsum window over that bounded
    // lattice gives M_ij (arm cum count) and B_j (pooled cum count);
    // each term l_j·(N·M_ij − n_i·B_j)²/(B_j·(N−B_j)) is a pointwise
    // IEEE chain over exact DECIMAL(38,0) operands, and the cross-
    // value sum is a pinned fold per arm. A²kN near (k−1)=1 means
    // "same distribution"; large means tail drift.
    "a114_ad2" -> ((s, dir) => {
      val w = Window.partitionBy("tp").orderBy("c")
      val lat = events(s, dir)
        .select(col("event_type").as("tp"),
          (col("user_id") % 2 === 0).as("arma"),
          lattice(col("value"), 100).as("c"))
        .groupBy("tp", "c")
        .agg(sum(when(col("arma"), 1L).otherwise(0L)).as("ma"),
          sum(when(!col("arma"), 1L).otherwise(0L)).as("mb"))
      val cum = lat.select(col("tp"), col("c"),
        (col("ma") + col("mb")).as("l"),
        sum("ma").over(w).as("ba"), sum("mb").over(w).as("bb"))
      val g = cum.groupBy("tp").agg(
        sort_array(collect_list(struct(col("c"), col("l"), col("ba"),
          col("bb")))).as("xs"),
        max("ba").as("na"), max("bb").as("nb"),
        count(lit(1)).as("n_support"))
        .filter(col("na") >= 1L && col("nb") >= 1L)
      val nTot = col("na") + col("nb")
      // Σ_j l_j · (N·M_ij − n_i·B_j)² / (B_j·(N−B_j)) over j with
      // B_j < N, per arm i — exact operands, pinned (l·num)·num/den
      def armSum(mField: String, nArm: Column) =
        fold(col("xs")) { (acc, x) =>
          val bj = x.getField("ba") + x.getField("bb")
          val num = (nTot.cast(dec) * x.getField(mField) -
            nArm.cast(dec) * bj).cast("double")
          val den = (bj.cast(dec) * (nTot - bj)).cast("double")
          acc + when(bj < nTot,
            x.getField("l").cast("double") * num * num / den)
            .otherwise(lit(0.0))
        }
      g.select(col("tp").as("event_type"), col("na"), col("nb"),
        col("n_support"),
        ((armSum("ba", col("na")) / col("na").cast("double") +
          armSum("bb", col("nb")) / col("nb").cast("double")) /
          nTot.cast("double")).as("a2_kn"))
    }),

    // A115: Somers' D between order priority (x, the "1-URGENT"
    // leading digit) and order quarter (y) — both directions. C and D
    // come from the a108 bounded-grid pair join (≤ 400 cell pairs);
    // the direction-specific denominators are the pairs NOT tied on
    // the conditioning variable: (N² − Σ margin²)/2 in DECIMAL(38,0).
    // D(y|x) = (C−D)/pairs_x, D(x|y) = (C−D)/pairs_y — each ONE
    // division of exact operands.
    "a115_somers_d" -> ((s, dir) => {
      val cells = orders(s, dir)
        .select(substring(col("o_orderpriority"), 1, 1).cast("long")
          .as("pr"), quarter(col("o_orderdate")).cast("long").as("q"))
        .groupBy("pr", "q").agg(count(lit(1)).as("obs"))
      val b = cells.select(col("pr").as("pr_b"), col("q").as("q_b"),
        col("obs").as("obs_b"))
      val pairs = cells.join(broadcast(b), col("pr_b") > col("pr"))
        .agg(
          sum(when(col("q_b") > col("q"),
            col("obs").cast(dec) * col("obs_b"))
            .otherwise(lit(0L).cast(dec))).as("c_pairs"),
          sum(when(col("q_b") < col("q"),
            col("obs").cast(dec) * col("obs_b"))
            .otherwise(lit(0L).cast(dec))).as("d_pairs"))
      val margins = cells.agg(
        sum("obs").as("n"),
        sum(col("obs").cast(dec) * col("obs")).as("sobs2"))
      val mx = cells.groupBy("pr").agg(sum("obs").as("m"))
        .agg(sum(col("m").cast(dec) * col("m")).as("sx2"))
      val my = cells.groupBy("q").agg(sum("obs").as("m"))
        .agg(sum(col("m").cast(dec) * col("m")).as("sy2"))
      pairs.crossJoin(broadcast(margins)).crossJoin(broadcast(mx))
        .crossJoin(broadcast(my))
        .select(col("n"), col("c_pairs").cast("long").as("c_pairs"),
          col("d_pairs").cast("long").as("d_pairs"),
          ((col("c_pairs") - col("d_pairs")).cast("double") * 2.0 /
            (col("n").cast(dec) * col("n") - col("sx2")).cast("double"))
            .as("somers_d_yx"),
          ((col("c_pairs") - col("d_pairs")).cast("double") * 2.0 /
            (col("n").cast(dec) * col("n") - col("sy2")).cast("double"))
            .as("somers_d_xy"))
    }),

    // A116: Cliff's delta and Vargha-Delaney A between the even/odd
    // user arms per event type — dominance counts from the SAME
    // bounded value lattice as a114: one exclusive cumsum of arm-B
    // counts turns #(a>b) into Σ_v ma(v)·cumB(<v) without any pair
    // join. δ = (gt−lt)/(na·nb) ∈ [−1,1]; A = (gt + tie/2)/(na·nb)
    // ∈ [0,1] (0.5 = stochastic equality) — both as single divisions
    // of exact DECIMAL(38,0) counts.
    "a116_cliffs_delta" -> ((s, dir) => {
      val w = Window.partitionBy("tp").orderBy("c")
      val lat = events(s, dir)
        .select(col("event_type").as("tp"),
          (col("user_id") % 2 === 0).as("arma"),
          lattice(col("value"), 100).as("c"))
        .groupBy("tp", "c")
        .agg(sum(when(col("arma"), 1L).otherwise(0L)).as("ma"),
          sum(when(!col("arma"), 1L).otherwise(0L)).as("mb"))
      val cum = lat.select(col("tp"), col("c"), col("ma"), col("mb"),
        (sum("mb").over(w) - col("mb")).as("bb_lt"))
      val g = cum.groupBy("tp").agg(
        sum("ma").as("na"), sum("mb").as("nb"),
        sum(col("ma").cast(dec) * col("bb_lt")).as("n_gt"),
        sum(col("ma").cast(dec) * col("mb")).as("n_tie"))
        .filter(col("na") >= 1L && col("nb") >= 1L)
      val nm = col("na").cast(dec) * col("nb")
      g.select(col("tp").as("event_type"), col("na"), col("nb"),
        col("n_gt").cast("long").as("n_gt"),
        (nm - col("n_gt") - col("n_tie")).cast("long").as("n_lt"),
        col("n_tie").cast("long").as("n_tie"),
        ((col("n_gt") - (nm - col("n_gt") - col("n_tie")))
          .cast("double") / nm.cast("double")).as("cliffs_delta"),
        ((col("n_gt") * 2 + col("n_tie")).cast("double") /
          (nm * 2).cast("double")).as("vda_a"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a114_ad2" -> {
      def armSum(m: String, nArm: String) =
        s"""list_reduce(list_prepend(0.0::DOUBLE, list_transform(xs, x ->
           |  CASE WHEN x.ba + x.bb < na + nb THEN
           |    x.l::DOUBLE
           |    * ((((na + nb)::DECIMAL(38,0) * x.$m
           |         - $nArm::DECIMAL(38,0) * (x.ba + x.bb))::VARCHAR)::DOUBLE)
           |    * ((((na + nb)::DECIMAL(38,0) * x.$m
           |         - $nArm::DECIMAL(38,0) * (x.ba + x.bb))::VARCHAR)::DOUBLE)
           |    / ((((x.ba + x.bb)::DECIMAL(38,0)
           |         * (na + nb - x.ba - x.bb))::VARCHAR)::DOUBLE)
           |  ELSE 0.0 END)), (a, b) -> a + b)""".stripMargin
      s"""WITH e AS (SELECT event_type AS tp, (user_id % 2 = 0) AS arma,
         |  ${latticeSql("value", 100)} AS c FROM events),
         |lat AS (SELECT tp, c,
         |  CAST(sum(CASE WHEN arma THEN 1 ELSE 0 END) AS BIGINT) AS ma,
         |  CAST(sum(CASE WHEN NOT arma THEN 1 ELSE 0 END) AS BIGINT) AS mb
         | FROM e GROUP BY tp, c),
         |cum AS (SELECT tp, c, ma + mb AS l,
         |  CAST(sum(ma) OVER (PARTITION BY tp ORDER BY c) AS BIGINT) AS ba,
         |  CAST(sum(mb) OVER (PARTITION BY tp ORDER BY c) AS BIGINT) AS bb
         | FROM lat),
         |g AS (SELECT tp,
         |  list(struct_pack(c := c, l := l, ba := ba, bb := bb)
         |       ORDER BY c) AS xs,
         |  max(ba) AS na, max(bb) AS nb, count(*)::BIGINT AS n_support
         | FROM cum GROUP BY tp)
         |SELECT tp AS event_type, na, nb, n_support,
         | (${armSum("ba", "na")} / na::DOUBLE
         |  + ${armSum("bb", "nb")} / nb::DOUBLE) / (na + nb)::DOUBLE
         |   AS a2_kn
         |FROM g WHERE na >= 1 AND nb >= 1""".stripMargin
    },

    "a115_somers_d" ->
      """WITH cells AS (SELECT
        |  CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pr,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  count(*)::BIGINT AS obs FROM orders GROUP BY 1, 2),
        |p AS (SELECT
        |  sum(CASE WHEN b.q > a.q
        |      THEN a.obs::DECIMAL(38,0) * b.obs ELSE 0 END) AS c_pairs,
        |  sum(CASE WHEN b.q < a.q
        |      THEN a.obs::DECIMAL(38,0) * b.obs ELSE 0 END) AS d_pairs
        | FROM cells a JOIN cells b ON b.pr > a.pr),
        |m AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells),
        |mx AS (SELECT sum(m::DECIMAL(38,0) * m) AS sx2 FROM
        |  (SELECT CAST(sum(obs) AS BIGINT) AS m FROM cells GROUP BY pr)),
        |my AS (SELECT sum(m::DECIMAL(38,0) * m) AS sy2 FROM
        |  (SELECT CAST(sum(obs) AS BIGINT) AS m FROM cells GROUP BY q))
        |SELECT n, CAST(c_pairs AS BIGINT) AS c_pairs,
        | CAST(d_pairs AS BIGINT) AS d_pairs,
        | (((c_pairs - d_pairs)::VARCHAR)::DOUBLE) * 2.0
        |   / (((n::DECIMAL(38,0) * n - sx2)::VARCHAR)::DOUBLE)
        |   AS somers_d_yx,
        | (((c_pairs - d_pairs)::VARCHAR)::DOUBLE) * 2.0
        |   / (((n::DECIMAL(38,0) * n - sy2)::VARCHAR)::DOUBLE)
        |   AS somers_d_xy
        |FROM p CROSS JOIN m CROSS JOIN mx CROSS JOIN my""".stripMargin,

    "a116_cliffs_delta" ->
      s"""WITH e AS (SELECT event_type AS tp, (user_id % 2 = 0) AS arma,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |lat AS (SELECT tp, c,
        |  CAST(sum(CASE WHEN arma THEN 1 ELSE 0 END) AS BIGINT) AS ma,
        |  CAST(sum(CASE WHEN NOT arma THEN 1 ELSE 0 END) AS BIGINT) AS mb
        | FROM e GROUP BY tp, c),
        |cum AS (SELECT tp, c, ma, mb,
        |  CAST(sum(mb) OVER (PARTITION BY tp ORDER BY c) - mb AS BIGINT)
        |    AS bb_lt
        | FROM lat),
        |g AS (SELECT tp, CAST(sum(ma) AS BIGINT) AS na,
        |  CAST(sum(mb) AS BIGINT) AS nb,
        |  sum(ma::DECIMAL(38,0) * bb_lt) AS n_gt,
        |  sum(ma::DECIMAL(38,0) * mb) AS n_tie
        | FROM cum GROUP BY tp)
        |SELECT tp AS event_type, na, nb,
        | CAST(n_gt AS BIGINT) AS n_gt,
        | CAST(na::DECIMAL(38,0) * nb - n_gt - n_tie AS BIGINT) AS n_lt,
        | CAST(n_tie AS BIGINT) AS n_tie,
        | (((n_gt - (na::DECIMAL(38,0) * nb - n_gt - n_tie))::VARCHAR)::DOUBLE)
        |   / (((na::DECIMAL(38,0) * nb)::VARCHAR)::DOUBLE) AS cliffs_delta,
        | (((n_gt * 2 + n_tie)::VARCHAR)::DOUBLE)
        |   / (((na::DECIMAL(38,0) * nb * 2)::VARCHAR)::DOUBLE) AS vda_a
        |FROM g WHERE na >= 1 AND nb >= 1""".stripMargin)
}
