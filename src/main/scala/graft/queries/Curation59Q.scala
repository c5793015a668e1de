package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 59: the categorical-association family — Cramér's V
  * (chi-square normalized to [0,1]), Theil's uncertainty coefficient U
  * (the ASYMMETRIC, entropy-based "how much of X does knowing Y
  * explain"), and Goodman-Kruskal gamma (ordinal concordance). m12
  * gives the per-cell chi-square terms and m20/m11 the entropy/PMI
  * screens, but none of the three normalized association COEFFICIENTS
  * an auto-profiler emits per column pair existed on the 434-query
  * surface (grep-checked: no cramer/theil_u/gamma). All three reduce
  * over the BOUNDED status×priority (3×5) contingency grid, so the
  * cross-cell float folds ride sorted collected lists (trap-10 pinned
  * left-association); everything upstream of the folds is an exact
  * BIGINT cell count from ONE grouped aggregate over orders.
  */
object Curation59Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // A106: Cramér's V between order status and priority. Cell counts,
    // row/column margins and the grand total are exact BIGINTs; each
    // cell's (O−E)²/E term is the SAME pointwise IEEE expression tree
    // as m12_chisq (exact operands, bit-portable); the cross-cell sum
    // — the one order-sensitive float reduction — is a left fold over
    // the (status, priority)-sorted collected cell list. V =
    // sqrt(chi²/(n·min(r−1,c−1))), one division + one sqrt at the end.
    "a106_cramers_v" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val cells = orders(s, dir)
        .groupBy(col("o_orderstatus").as("st"),
          col("o_orderpriority").as("pr"))
        .agg(count(lit(1)).as("obs"))
        .select(col("st"), col("pr"), col("obs"),
          sum("obs").over(w.partitionBy("st")).as("rt"),
          sum("obs").over(w.partitionBy("pr")).as("ct"))
      val l = cells.agg(
        sort_array(collect_list(struct(col("st"), col("pr"),
          col("obs"), col("rt"), col("ct")))).as("xs"),
        sum("obs").as("n"),
        countDistinct("st").as("r"), countDistinct("pr").as("c"))
      val chi2 = fold(col("xs")) { (a, x) =>
        val e = (x.getField("rt") * x.getField("ct")).cast("double") /
          col("n").cast("double")
        val dev = x.getField("obs").cast("double") - e
        a + dev * dev / e
      }
      l.select(col("n"), col("r"), col("c"), chi2.as("__chi2"))
        .select(col("n"), col("r"), col("c"),
          r6(col("__chi2")).as("chi2"),
          r6(sqrt(col("__chi2") / (col("n") *
            least(col("r") - 1L, col("c") - 1L)).cast("double")))
            .as("cramers_v"))
    }),

    // A107: Theil's uncertainty coefficient over the same grid —
    // U(st|pr) = I(st;pr)/H(st) and the transpose. Each entropy is
    // ln(n) − (Σ m·ln m)/n with the Σ a pinned fold of single-ln
    // terms over the sorted margin (or cell) list — margins re-grouped
    // from the cells so each appears exactly once. MI = H(st) + H(pr)
    // − H(st,pr), clamped at 0.
    "a107_theil_u" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val cells = orders(s, dir)
        .groupBy(col("o_orderstatus").as("st"),
          col("o_orderpriority").as("pr"))
        .agg(count(lit(1)).as("obs"))
      val rts = cells.groupBy("st").agg(sum("obs").as("m"))
      val cts = cells.groupBy("pr").agg(sum("obs").as("m"))
      def entSum(df: org.apache.spark.sql.DataFrame, key: String) =
        df.agg(sort_array(collect_list(struct(col(key), col("m"))))
          .as("xs"), sum("m").as("n"))
          .select(col("n"), fold(col("xs")) { (a, x) =>
            a + x.getField("m").cast("double") *
              log(x.getField("m").cast("double"))
          }.as("s"))
          .select(col("n"),
            (log(col("n").cast("double")) -
              col("s") / col("n").cast("double")).as("h"))
      val hSt = entSum(rts, "st").select(col("h").as("h_st"))
      val hPr = entSum(cts, "pr").select(col("h").as("h_pr"))
      val hJoint = cells
        .agg(sort_array(collect_list(struct(col("st"), col("pr"),
          col("obs")))).as("xs"), sum("obs").as("n"))
        .select(col("n"), (log(col("n").cast("double")) -
          fold(col("xs")) { (a, x) =>
            a + x.getField("obs").cast("double") *
              log(x.getField("obs").cast("double"))
          } / col("n").cast("double")).as("h_joint"))
      val j = hJoint.crossJoin(broadcast(hSt)).crossJoin(broadcast(hPr))
      val mi = greatest(lit(0.0),
        col("h_st") + col("h_pr") - col("h_joint"))
      j.select(col("n"), r6(col("h_st")).as("h_status"),
        r6(col("h_pr")).as("h_priority"),
        r6(col("h_joint")).as("h_joint"),
        r6(mi).as("mi"),
        r6(mi / col("h_st")).as("u_status_given_priority"),
        r6(mi / col("h_pr")).as("u_priority_given_status"))
    }),

    // A108: Goodman-Kruskal gamma between two ORDINALS — priority
    // rank (the "1-URGENT" leading digit) and order-date quarter.
    // Concordant/discordant pair counts come from a self-join of the
    // BOUNDED 5×4 cell grid (≤400 pair terms), each pair counted once
    // from its lower cell: C = Σ n_a·N(pr>,q>), D = Σ n_a·N(pr>,q<).
    // Both are exact BIGINTs; gamma = (C−D)/(C+D) is ONE division.
    "a108_gk_gamma" -> ((s, dir) => {
      val cells = orders(s, dir)
        .select(substring(col("o_orderpriority"), 1, 1).cast("long")
          .as("pr"), quarter(col("o_orderdate")).cast("long").as("q"))
        .groupBy("pr", "q").agg(count(lit(1)).as("obs"))
      val b = cells.select(col("pr").as("pr_b"), col("q").as("q_b"),
        col("obs").as("obs_b"))
      val pairs = cells.join(broadcast(b), col("pr_b") > col("pr"), "inner")
      val conc = sum(when(col("q_b") > col("q"),
        col("obs") * col("obs_b")).otherwise(0L))
      val disc = sum(when(col("q_b") < col("q"),
        col("obs") * col("obs_b")).otherwise(0L))
      pairs.agg(conc.as("c_pairs"), disc.as("d_pairs"))
        .select(col("c_pairs"), col("d_pairs"),
          r6((col("c_pairs") - col("d_pairs")).cast("double") /
            (col("c_pairs") + col("d_pairs")).cast("double"))
            .as("gamma"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a106_cramers_v" ->
      """WITH cells AS (SELECT o_orderstatus AS st, o_orderpriority AS pr,
        |  count(*)::BIGINT AS obs FROM orders GROUP BY 1, 2),
        |m AS (SELECT st, pr, obs,
        |  CAST(sum(obs) OVER (PARTITION BY st) AS BIGINT) AS rt,
        |  CAST(sum(obs) OVER (PARTITION BY pr) AS BIGINT) AS ct
        | FROM cells),
        |l AS (SELECT list(struct_pack(st := st, pr := pr, obs := obs,
        |    rt := rt, ct := ct) ORDER BY st, pr) AS xs,
        |  CAST(sum(obs) AS BIGINT) AS n,
        |  count(DISTINCT st)::BIGINT AS r, count(DISTINCT pr)::BIGINT AS c
        | FROM m),
        |f AS (SELECT n, r, c,
        |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(xs, x ->
        |    (x.obs::DOUBLE - (x.rt * x.ct)::DOUBLE / n::DOUBLE)
        |    * (x.obs::DOUBLE - (x.rt * x.ct)::DOUBLE / n::DOUBLE)
        |    / ((x.rt * x.ct)::DOUBLE / n::DOUBLE))),
        |   (a, b) -> a + b) AS chi2
        | FROM l)
        |SELECT n, r, c, round(chi2, 6) AS chi2,
        | round(sqrt(chi2 / (n * least(r - 1, c - 1))::DOUBLE), 6)
        |   AS cramers_v
        |FROM f""".stripMargin,

    "a107_theil_u" ->
      """WITH cells AS (SELECT o_orderstatus AS st, o_orderpriority AS pr,
        |  count(*)::BIGINT AS obs FROM orders GROUP BY 1, 2),
        |hst AS (SELECT ln(sum(m)::DOUBLE) -
        |   list_reduce(list_prepend(0.0::DOUBLE, list_transform(
        |     list(struct_pack(st := st, m := m) ORDER BY st),
        |     x -> x.m::DOUBLE * ln(x.m::DOUBLE))), (a, b) -> a + b)
        |   / sum(m)::DOUBLE AS h_st
        | FROM (SELECT st, CAST(sum(obs) AS BIGINT) AS m FROM cells
        |       GROUP BY st)),
        |hpr AS (SELECT ln(sum(m)::DOUBLE) -
        |   list_reduce(list_prepend(0.0::DOUBLE, list_transform(
        |     list(struct_pack(pr := pr, m := m) ORDER BY pr),
        |     x -> x.m::DOUBLE * ln(x.m::DOUBLE))), (a, b) -> a + b)
        |   / sum(m)::DOUBLE AS h_pr
        | FROM (SELECT pr, CAST(sum(obs) AS BIGINT) AS m FROM cells
        |       GROUP BY pr)),
        |hj AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
        |  ln(sum(obs)::DOUBLE) -
        |   list_reduce(list_prepend(0.0::DOUBLE, list_transform(
        |     list(struct_pack(st := st, pr := pr, obs := obs)
        |          ORDER BY st, pr),
        |     x -> x.obs::DOUBLE * ln(x.obs::DOUBLE))), (a, b) -> a + b)
        |   / sum(obs)::DOUBLE AS h_joint
        | FROM cells)
        |SELECT n, round(h_st, 6) AS h_status, round(h_pr, 6) AS h_priority,
        | round(h_joint, 6) AS h_joint,
        | round(greatest(0.0, h_st + h_pr - h_joint), 6) AS mi,
        | round(greatest(0.0, h_st + h_pr - h_joint) / h_st, 6)
        |   AS u_status_given_priority,
        | round(greatest(0.0, h_st + h_pr - h_joint) / h_pr, 6)
        |   AS u_priority_given_status
        |FROM hj CROSS JOIN hst CROSS JOIN hpr""".stripMargin,

    "a108_gk_gamma" ->
      """WITH cells AS (SELECT
        |  CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS pr,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  count(*)::BIGINT AS obs FROM orders GROUP BY 1, 2),
        |p AS (SELECT a.obs AS oa, a.q AS qa, b.obs AS ob, b.q AS qb
        | FROM cells a JOIN cells b ON b.pr > a.pr),
        |f AS (SELECT
        |  CAST(sum(CASE WHEN qb > qa THEN oa * ob ELSE 0 END) AS BIGINT)
        |    AS c_pairs,
        |  CAST(sum(CASE WHEN qb < qa THEN oa * ob ELSE 0 END) AS BIGINT)
        |    AS d_pairs
        | FROM p)
        |SELECT c_pairs, d_pairs,
        | round((c_pairs - d_pairs)::DOUBLE / (c_pairs + d_pairs)::DOUBLE,
        |   6) AS gamma
        |FROM f""".stripMargin)
}
