package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 76: streaming drift parity, forecast decomposition,
  * and an ordered-alternative trend test — streaming Page-Hinkley
  * (the batch w84 monitor as a transformWithState citizen with O(1)
  * integer state, extending the streaming family's batch-parity
  * contract), the Murphy decomposition of the Brier score (m21 gives
  * per-bin Brier/reliability TERMS; Murphy's identity REL − RES +
  * UNC = Brier is the calibration-vs-sharpness accounting, closed by
  * an in-band residual), and the Jonckheere-Terpstra test (a98's
  * ANOVA asks "are the k groups different"; JT asks the sharper
  * ORDERED question "does the response INCREASE with line number" —
  * the a105 Page test's unpaired cousin). Net-new vs the 481-query
  * surface (grep-checked: no stream_ph/murphy/decomposition-identity/
  * jonckheere).
  */
object Curation76Q extends QueryModule {

  private val dec = "decimal(38,0)"

  val queries: Seq[(String, QueryFn)] = Seq(

    // W85: streaming Page-Hinkley — identical statistic to w84
    // (everything integer, so batch parity is exact by construction);
    // the oracle IS w84's SQL.
    "w85_stream_ph" -> ((s, dir) => {
      TemporalQ.runStream(s, "w85_stream_ph_sink",
        graft.streaming.StreamingTemporal.pageHinkleyStream(
          TemporalQ.obsStream(s, dir)))
        .select(col("key").cast("long").as("user_id"), col("n_detect"),
          col("s_cal"), col("ph8_stat"), col("alarm"))
    }),

    // M63: Murphy decomposition over the m21 forecast fixture at the
    // DISTINCT-FORECAST grain (101 cent values): REL =
    // Σ(k·n_k − 100·so_k)²/n_k / (10⁴N), RES = Σ(so_k·N − SO·n_k)²
    // /n_k / N³, UNC = SO(N−SO)/N², and the in-band identity
    // residual brier − (REL − RES + UNC) ≈ 0. The two folds ride the
    // bounded 101-value lattice; every term is a pinned chain over
    // exact integers (< 2⁵³ at the tested scales; the lattice is
    // 101 cells by construction).
    "m63_brier_decomp" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir).select(
        ((col("event_id") * 37) % 101).as("k"),
        when(col("event_id") % 3 === 0, 1L).otherwise(0L).as("o"))
      val lat = e.groupBy("k").agg(count(lit(1)).as("nk"),
        sum("o").as("sok"))
      val g = lat.agg(
        sort_array(collect_list(struct(col("k"), col("nk"),
          col("sok")))).as("xs"),
        sum("nk").as("n"), sum("sok").as("so"),
        // Σ(c−100o)² from the lattice: Σ_k n_k·k² − 200·k·so_k + 10⁴·so_k
        sum(col("nk").cast(dec) * col("k") * col("k") -
          lit(200L).cast(dec) * col("k") * col("sok") +
          lit(10000L).cast(dec) * col("sok")).as("sse"))
      val nD = col("n").cast("double")
      val rel = fold(col("xs")) { (a, x) =>
        val d = (x.getField("k") * x.getField("nk") -
          lit(100L) * x.getField("sok")).cast("double")
        a + d * d / x.getField("nk").cast("double")
      } / (lit(10000.0) * nD)
      val res = fold(col("xs")) { (a, x) =>
        val d = (x.getField("sok") * col("n") -
          col("so") * x.getField("nk")).cast("double")
        a + d * d / x.getField("nk").cast("double")
      } / (nD * nD * nD)
      val unc = (col("so").cast(dec) * (col("n") - col("so")))
        .cast("double") / (nD * nD)
      val brier = col("sse").cast("double") / (lit(10000.0) * nD)
      g.select(col("n"), col("so"), brier.as("brier"),
        rel.as("reliability"), res.as("resolution"),
        unc.as("uncertainty"),
        (brier - (rel - res + unc)).as("decomp_residual"))
    }),

    // A121: Jonckheere-Terpstra across the ordered l_linenumber
    // groups (does quantity trend with position in the order?). The
    // (group, quantity) grid is ≤ 7×50 cells; 2·JT = Σ m_a·m_b·
    // (2·[v_a<v_b] + [v_a=v_b]) over the a<b grid self-join; the
    // tie-corrected null mean/variance are exact DECIMAL(38,0)
    // moment sums whose final combination is a pinned double chain;
    // z is one closing division.
    "a121_jonckheere" -> ((s, dir) => {
      val grid = lineitem(s, dir)
        .select(col("l_linenumber").cast("long").as("g"),
          col("l_quantity").cast("long").as("v"))
        .groupBy("g", "v").agg(count(lit(1)).as("m"))
      val b = grid.select(col("g").as("gb"), col("v").as("vb"),
        col("m").as("mb"))
      val jt2 = grid.join(broadcast(b), col("gb") > col("g"))
        .agg(sum(col("m").cast(dec) * col("mb") *
          (when(col("v") < col("vb"), 2L)
            .when(col("v") === col("vb"), 1L).otherwise(0L)))
          .as("jt2"))
      val groups = grid.groupBy("g").agg(sum("m").as("ng"))
        .agg(sum("ng").as("n"),
          sum(col("ng").cast(dec) * col("ng")).as("sn2"),
          sum(col("ng").cast(dec) * (col("ng") - 1) * (col("ng") * 2 + 5))
            .as("a_g"),
          sum(col("ng").cast(dec) * (col("ng") - 1) * (col("ng") - 2))
            .as("b_g"),
          sum(col("ng").cast(dec) * (col("ng") - 1)).as("c_g"))
      val ties = grid.groupBy("v").agg(sum("m").as("tv"))
        .agg(sum(col("tv").cast(dec) * (col("tv") - 1) * (col("tv") * 2 + 5))
          .as("a_t"),
          sum(col("tv").cast(dec) * (col("tv") - 1) * (col("tv") - 2))
            .as("b_t"),
          sum(col("tv").cast(dec) * (col("tv") - 1)).as("c_t"))
      val j = jt2.crossJoin(broadcast(groups)).crossJoin(broadcast(ties))
      val nD = col("n").cast("double")
      val aTerm = ((col("n").cast(dec) * (col("n") - 1) *
        (col("n") * 2 + 5) - col("a_g") - col("a_t")).cast("double")) / 72.0
      val bTerm = col("b_g").cast("double") * col("b_t").cast("double") /
        (lit(36.0) * nD * (nD - 1.0) * (nD - 2.0))
      val cTerm = col("c_g").cast("double") * col("c_t").cast("double") /
        (lit(8.0) * nD * (nD - 1.0))
      val varJt = aTerm + bTerm + cTerm
      val meanJt = (col("n").cast(dec) * col("n") - col("sn2"))
        .cast("double") / 4.0
      j.select(col("n"), col("jt2").cast("long").as("jt2"),
        meanJt.as("jt_mean"),
        when(varJt > 0.0,
          (col("jt2").cast("double") / 2.0 - meanJt) / sqrt(varJt))
          .as("z_jt"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "w85_stream_ph" -> Curation71Q.oracle.toMap.apply("w84_page_hinkley"),

    "m63_brier_decomp" ->
      """WITH e AS (SELECT (event_id * 37) % 101 AS k,
        |  CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END::BIGINT AS o
        | FROM events),
        |lat AS (SELECT k, count(*)::BIGINT AS nk,
        |  CAST(sum(o) AS BIGINT) AS sok FROM e GROUP BY k),
        |g AS (SELECT
        |  list(struct_pack(k := k, nk := nk, sok := sok) ORDER BY k)
        |    AS xs,
        |  CAST(sum(nk) AS BIGINT) AS n, CAST(sum(sok) AS BIGINT) AS so,
        |  sum(nk::DECIMAL(38,0) * k * k - 200::DECIMAL(38,0) * k * sok
        |      + 10000::DECIMAL(38,0) * sok) AS sse
        | FROM lat),
        |f AS (SELECT n, so, ((sse)::VARCHAR)::DOUBLE AS sse,
        |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(xs, x ->
        |    (x.k * x.nk - 100 * x.sok)::DOUBLE
        |    * (x.k * x.nk - 100 * x.sok)::DOUBLE / x.nk::DOUBLE)),
        |   (a, b) -> a + b) / (10000.0 * n::DOUBLE) AS rel,
        |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(xs, x ->
        |    (x.sok * n - so * x.nk)::DOUBLE
        |    * (x.sok * n - so * x.nk)::DOUBLE / x.nk::DOUBLE)),
        |   (a, b) -> a + b) / (n::DOUBLE * n::DOUBLE * n::DOUBLE) AS res,
        |  ((so::DECIMAL(38,0) * (n - so))::VARCHAR)::DOUBLE
        |    / (n::DOUBLE * n::DOUBLE) AS unc
        | FROM g)
        |SELECT n, so, sse / (10000.0 * n::DOUBLE) AS brier,
        | rel AS reliability, res AS resolution, unc AS uncertainty,
        | sse / (10000.0 * n::DOUBLE) - (rel - res + unc)
        |   AS decomp_residual
        |FROM f""".stripMargin,

    "a121_jonckheere" ->
      """WITH grid AS (SELECT CAST(l_linenumber AS BIGINT) AS g,
        |  CAST(l_quantity AS BIGINT) AS v, count(*)::BIGINT AS m
        | FROM lineitem GROUP BY g, v),
        |jt AS (SELECT sum(a.m::DECIMAL(38,0) * b.m *
        |  (CASE WHEN a.v < b.v THEN 2
        |    WHEN a.v = b.v THEN 1 ELSE 0 END)) AS jt2
        | FROM grid a JOIN grid b ON b.g > a.g),
        |grp AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
        |  sum(ng::DECIMAL(38,0) * ng) AS sn2,
        |  sum(ng::DECIMAL(38,0) * (ng - 1) * (ng * 2 + 5)) AS a_g,
        |  sum(ng::DECIMAL(38,0) * (ng - 1) * (ng - 2)) AS b_g,
        |  sum(ng::DECIMAL(38,0) * (ng - 1)) AS c_g
        | FROM (SELECT g, CAST(sum(m) AS BIGINT) AS ng FROM grid
        |       GROUP BY g)),
        |tie AS (SELECT
        |  sum(tv::DECIMAL(38,0) * (tv - 1) * (tv * 2 + 5)) AS a_t,
        |  sum(tv::DECIMAL(38,0) * (tv - 1) * (tv - 2)) AS b_t,
        |  sum(tv::DECIMAL(38,0) * (tv - 1)) AS c_t
        | FROM (SELECT v, CAST(sum(m) AS BIGINT) AS tv FROM grid
        |       GROUP BY v)),
        |j AS (SELECT * FROM jt CROSS JOIN grp CROSS JOIN tie)
        |SELECT n, CAST(jt2 AS BIGINT) AS jt2,
        | ((n::DECIMAL(38,0) * n - sn2)::VARCHAR)::DOUBLE / 4.0 AS jt_mean,
        | CASE WHEN
        |   ((n::DECIMAL(38,0) * (n - 1) * (n * 2 + 5) - a_g - a_t)
        |     ::VARCHAR)::DOUBLE / 72.0
        |   + ((b_g)::VARCHAR)::DOUBLE * ((b_t)::VARCHAR)::DOUBLE
        |     / (36.0 * n::DOUBLE * (n::DOUBLE - 1.0) * (n::DOUBLE - 2.0))
        |   + ((c_g)::VARCHAR)::DOUBLE * ((c_t)::VARCHAR)::DOUBLE
        |     / (8.0 * n::DOUBLE * (n::DOUBLE - 1.0)) > 0.0
        |  THEN (((jt2)::VARCHAR)::DOUBLE / 2.0
        |    - ((n::DECIMAL(38,0) * n - sn2)::VARCHAR)::DOUBLE / 4.0)
        |   / sqrt(
        |   ((n::DECIMAL(38,0) * (n - 1) * (n * 2 + 5) - a_g - a_t)
        |     ::VARCHAR)::DOUBLE / 72.0
        |   + ((b_g)::VARCHAR)::DOUBLE * ((b_t)::VARCHAR)::DOUBLE
        |     / (36.0 * n::DOUBLE * (n::DOUBLE - 1.0) * (n::DOUBLE - 2.0))
        |   + ((c_g)::VARCHAR)::DOUBLE * ((c_t)::VARCHAR)::DOUBLE
        |     / (8.0 * n::DOUBLE * (n::DOUBLE - 1.0)))
        | END AS z_jt
        |FROM j""".stripMargin)
}
