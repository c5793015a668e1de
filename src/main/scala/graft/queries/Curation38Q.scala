package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** Round-7 batch 38: k-truss edge peeling (the cohesive-subgraph
  * refinement of k-core), a vacuum/retention planner over the commit
  * log (the GC decision o23's time travel enables), EXACT Shapley
  * attribution for the additive AdaBoost model, and Cohen's d effect
  * size. Net-new vs the 376-query surface (grep-checked).
  */
object Curation38Q extends QueryModule {

  /** Per-round edge support = closed wedges: for undirected survivors
    * E (a<b), wedges through a shared neighbor c closed by (a,b). One
    * self-join on the neighbor key + one keyed count — never a
    * correlated probe. */
  private def withSupport(e: DataFrame): DataFrame = {
    val sym = e.select(col("a"), col("b"))
      .union(e.select(col("b").as("a"), col("a").as("b")))
    val wed = sym.select(col("a").as("x"), col("b").as("c"))
      .join(sym.select(col("a").as("y"), col("b").as("c")), "c")
      .filter(col("x") < col("y"))
      .groupBy(col("x").as("a"), col("y").as("b"))
      .agg(count(lit(1)).as("sup"))
    e.join(wed, Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("sup"), lit(0L)).as("sup"))
  }

  val queries: Seq[(String, QueryFn)] = Seq(

    // G16: k-truss (k = 4: every surviving edge sits in >= 2
    // triangles of the surviving subgraph) on the domestic co-supply
    // graph — the community-core refinement of g5's k-core (edges,
    // not nodes, get peeled). 3 fixed synchronous peel rounds (both
    // engines run the SAME rounds, so the fixed-round variant is
    // hash-exact by construction; convergence on this graph is
    // typically 1-2 rounds), then supports are re-counted on the
    // survivors for the emitted column. The nation restriction keeps
    // wedge counts a union of 25 bounded subgraphs at every sf (the
    // g2_triangles argument).
    "g16_ktruss" -> ((s, dir) => {
      var e = GraphQ.domesticCoSupply(s, dir).cache()
      for (_ <- 1 to 3)
        e = withSupport(e).filter(col("sup") >= 2L).select("a", "b")
          .localCheckpoint() // truncate the per-round plan growth
      withSupport(e).select(col("a"), col("b"), col("sup").as("support"))
    }),

    // O31: vacuum/retention planner over the o23 commit log — which
    // data files can be physically deleted while keeping every
    // version in the retention window (>= 35 of 0..49, a 15-version
    // horizon) reconstructible. A file is vacuumable iff it is live
    // in NO retained version: removed before the horizon, or (never
    // the case here) added after the last version. Pure integer
    // set logic on the log — no fact-table scan; the reclaimable
    // row count is the vacuum's payoff readout.
    "o31_vacuum_plan" -> ((s, dir) => {
      val files = lineitem(s, dir)
        .groupBy(pmod(col("l_orderkey"), lit(50L)).as("file_id"))
        .agg(count(lit(1)).as("n_rows"))
      val adds = s.range(0, 50).select(col("id").as("file_id"),
        col("id").as("added_v"))
      val removes = s.range(0, 50)
        .filter(col("id") % 5 === 0 && col("id") >= 10)
        .select((col("id") - 10).as("file_id"), col("id").as("removed_v"))
      val horizon = 35L
      adds.join(removes, Seq("file_id"), "left").join(files, "file_id")
        .select(col("file_id"), col("n_rows"), col("added_v"),
          col("removed_v"),
          // live in some retained v >= horizon iff added <= 49 (always)
          // and (never removed, or removed AFTER the horizon)
          (col("removed_v").isNotNull && col("removed_v") <= horizon)
            .cast("long").as("vacuumable"),
          when(col("removed_v").isNotNull && col("removed_v") <= horizon,
            col("n_rows")).otherwise(0L).as("reclaimable_rows"))
    }),

    // M40: EXACT Shapley attribution for the m38 AdaBoost model — an
    // additive model (each stump reads one feature), so the Shapley
    // value of feature j is exactly Σ_{stumps k on j}
    // α_k·(h_k(x) − E[h_k]): no sampling, no approximation. On the
    // ×n lattice (phi_n = n·α_k·h_k − α_k·Σh_k) every attribution is
    // an exact BIGINT, and efficiency (Σ_j φ_j = F(x) − E[F]) is an
    // integer identity the spec asserts. One 1-row moments agg + a
    // map-side select. (n·α stays under 2^63 to ~10^12 rows.)
    "m40_shapley" -> ((s, dir) => {
      val fit = Curation35Q.adaboostFit(s, dir)
      val h1 = fit.pred(fit.f1, fit.t1, fit.p1)
      val h2 = fit.pred(fit.f2, fit.t2, fit.p2)
      val sums = fit.base.agg(sum(h1).as("sh1"), sum(h2).as("sh2")).head()
      val (sh1, sh2) = (sums.getLong(0), sums.getLong(1))
      def contrib(alpha: Long, h: Column, sh: Long): Column =
        lit(fit.n) * alpha * h - lit(alpha * sh)
      val c1 = contrib(fit.alpha1, h1, sh1)
      val c2 = contrib(fit.alpha2, h2, sh2)
      val phi0 = (if (fit.f1 == 0) c1 else lit(0L)) +
        (if (fit.f2 == 0) c2 else lit(0L))
      val phi1 = (if (fit.f1 == 1) c1 else lit(0L)) +
        (if (fit.f2 == 1) c2 else lit(0L))
      fit.base.select(col("vec_id"),
        phi0.as("phi0_n"), phi1.as("phi1_n"),
        (lit(fit.n) * fit.alpha1 * h1 + lit(fit.n) * fit.alpha2 * h2)
          .as("fx_n"),
        lit(fit.alpha1 * sh1 + fit.alpha2 * sh2).as("base_n"))
    }),

    // A80: Cohen's d effect size per event type (even- vs odd-user
    // arms) — the magnitude readout a bare p-value (a35_ab) lacks.
    // All moments are exact BIGINTs on the cent lattice; the pooled-
    // variance chain is mirrored token-for-token (single sqrt,
    // correctly-rounded ops — bitwise before the final r6).
    "a80_cohens_d" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir).select(col("event_type"),
        (pmod(col("user_id"), lit(2L)) === 0L).cast("long").as("ia"),
        lattice(col("value"), 100).as("c"))
      val g = e.groupBy("event_type").agg(
        sum("ia").as("na"),
        sum(col("ia") * col("c")).as("sa1"),
        sum(col("ia") * col("c") * col("c")).as("sa2"),
        (count(lit(1)) - sum("ia")).as("nb"),
        sum((lit(1L) - col("ia")) * col("c")).as("sb1"),
        sum((lit(1L) - col("ia")) * col("c") * col("c")).as("sb2"))
        .filter(col("na") >= 2L && col("nb") >= 2L)
      def varOf(n: Column, s1: Column, s2: Column): Column =
        (n.cast("double") * s2.cast("double") -
          s1.cast("double") * s1.cast("double")) /
          (n.cast("double") * (n - 1L).cast("double"))
      val va = varOf(col("na"), col("sa1"), col("sa2"))
      val vb = varOf(col("nb"), col("sb1"), col("sb2"))
      val pooled = ((col("na") - 1L).cast("double") * va +
        (col("nb") - 1L).cast("double") * vb) /
        (col("na") + col("nb") - 2L).cast("double")
      g.select(col("event_type"), col("na"), col("nb"),
        r6((col("sa1").cast("double") / col("na") -
          col("sb1").cast("double") / col("nb")) / sqrt(pooled))
          .as("cohens_d"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  /** One k-truss peel round over edge CTE e$i → e${i+1}. */
  private def trussRound(i: Int): String =
    s"""sym$i AS (SELECT a, b FROM e$i UNION ALL SELECT b, a FROM e$i),
       |wed$i AS (SELECT s1.a AS x, s2.a AS y, count(*)::BIGINT AS sup
       | FROM sym$i s1 JOIN sym$i s2 ON s1.b = s2.b AND s1.a < s2.a
       | GROUP BY 1, 2),
       |e${i + 1} AS (SELECT e.a, e.b FROM e$i e
       | JOIN wed$i w ON w.x = e.a AND w.y = e.b WHERE w.sup >= 2)"""
      .stripMargin

  val oracle: Seq[(String, String)] = Seq(

    "g16_ktruss" ->
      s"""WITH ${GraphQ.domesticCoSupplySql("e0")},
         |${(0 until 3).map(trussRound).mkString(",\n")},
         |symf AS (SELECT a, b FROM e3 UNION ALL SELECT b, a FROM e3),
         |wedf AS (SELECT s1.a AS x, s2.a AS y, count(*)::BIGINT AS sup
         | FROM symf s1 JOIN symf s2 ON s1.b = s2.b AND s1.a < s2.a
         | GROUP BY 1, 2)
         |SELECT e.a, e.b, coalesce(w.sup, 0)::BIGINT AS support
         |FROM e3 e LEFT JOIN wedf w ON w.x = e.a AND w.y = e.b"""
        .stripMargin,

    "o31_vacuum_plan" ->
      """WITH files AS (SELECT l_orderkey % 50 AS file_id,
        |  count(*)::BIGINT AS n_rows FROM lineitem GROUP BY 1),
        |adds AS (SELECT v AS file_id, v AS added_v
        | FROM (SELECT unnest(range(0, 50)) AS v)),
        |removes AS (SELECT v - 10 AS file_id, v AS removed_v
        | FROM (SELECT unnest(range(0, 50)) AS v)
        | WHERE v % 5 = 0 AND v >= 10)
        |SELECT a.file_id::BIGINT AS file_id, f.n_rows,
        | a.added_v::BIGINT AS added_v, r.removed_v::BIGINT AS removed_v,
        | (r.removed_v IS NOT NULL AND r.removed_v <= 35)::BIGINT
        |   AS vacuumable,
        | CASE WHEN r.removed_v IS NOT NULL AND r.removed_v <= 35
        |   THEN f.n_rows ELSE 0 END::BIGINT AS reclaimable_rows
        |FROM adds a LEFT JOIN removes r ON r.file_id = a.file_id
        |JOIN files f ON f.file_id = a.file_id""".stripMargin,

    "m40_shapley" -> {
      def hSql(sel: String) =
        s"""(SELECT CASE WHEN $sel.pol = 0
           | THEN CASE WHEN (CASE WHEN $sel.f = 0 THEN e.x0 ELSE e.x1 END)
           |   > $sel.thr THEN 1 ELSE -1 END
           | ELSE CASE WHEN (CASE WHEN $sel.f = 0 THEN e.x0 ELSE e.x1 END)
           |   > $sel.thr THEN -1 ELSE 1 END END FROM $sel)""".stripMargin
      s"""WITH ${Curation35Q.AdaCtes},
         |hs AS (SELECT sum(${hSql("s1")})::BIGINT AS sh1,
         |  sum(${hSql("s2")})::BIGINT AS sh2 FROM e),
         |pr AS (SELECT e.vec_id,
         |  n.n * (SELECT alpha1 FROM a1) * ${hSql("s1")}
         |    - (SELECT alpha1 FROM a1) * hs.sh1 AS c1,
         |  n.n * (SELECT alpha2 FROM a2) * ${hSql("s2")}
         |    - (SELECT alpha2 FROM a2) * hs.sh2 AS c2,
         |  n.n * (SELECT alpha1 FROM a1) * ${hSql("s1")}
         |    + n.n * (SELECT alpha2 FROM a2) * ${hSql("s2")} AS fx,
         |  (SELECT alpha1 FROM a1) * hs.sh1
         |    + (SELECT alpha2 FROM a2) * hs.sh2 AS base_n
         | FROM e CROSS JOIN n CROSS JOIN hs)
         |SELECT vec_id,
         | (CASE WHEN (SELECT f FROM s1) = 0 THEN c1 ELSE 0 END
         |  + CASE WHEN (SELECT f FROM s2) = 0 THEN c2 ELSE 0 END)::BIGINT
         |   AS phi0_n,
         | (CASE WHEN (SELECT f FROM s1) = 1 THEN c1 ELSE 0 END
         |  + CASE WHEN (SELECT f FROM s2) = 1 THEN c2 ELSE 0 END)::BIGINT
         |   AS phi1_n,
         | fx::BIGINT AS fx_n, base_n::BIGINT AS base_n
         |FROM pr""".stripMargin
    },

    "a80_cohens_d" ->
      s"""WITH e AS (SELECT event_type,
        |  (user_id % 2 = 0)::BIGINT AS ia,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |g AS (SELECT event_type,
        |  sum(ia)::BIGINT AS na,
        |  sum(ia * c)::BIGINT AS sa1, sum(ia * c * c)::BIGINT AS sa2,
        |  (count(*) - sum(ia))::BIGINT AS nb,
        |  sum((1 - ia) * c)::BIGINT AS sb1,
        |  sum((1 - ia) * c * c)::BIGINT AS sb2
        | FROM e GROUP BY event_type)
        |SELECT event_type, na, nb,
        | round((sa1::DOUBLE / na - sb1::DOUBLE / nb) / sqrt(
        |  ((na - 1)::DOUBLE * ((na::DOUBLE * sa2::DOUBLE
        |      - sa1::DOUBLE * sa1::DOUBLE) / (na::DOUBLE * (na - 1)::DOUBLE))
        |   + (nb - 1)::DOUBLE * ((nb::DOUBLE * sb2::DOUBLE
        |      - sb1::DOUBLE * sb1::DOUBLE) / (nb::DOUBLE * (nb - 1)::DOUBLE)))
        |  / (na + nb - 2)::DOUBLE), 6) AS cohens_d
        |FROM g WHERE na >= 2 AND nb >= 2""".stripMargin)
}
