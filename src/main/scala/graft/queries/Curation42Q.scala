package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-8 batch 42: the nonparametric test family the analytics
  * surface was missing — Kruskal-Wallis (k-sample rank ANOVA, the
  * k-group extension of a50_mannwhitney), the two-group log-rank test
  * (survival-curve comparison on a60's day lattice), Chao1 species
  * richness (how many vocabulary types the corpus has NOT yet shown —
  * distinct from t_heaps' growth curve and t_good_turing's r*
  * smoothing), and Friedman's test (within-block rank ANOVA over
  * repeated measures). Net-new vs the 393-query surface
  * (grep-checked). Cross-engine discipline: every rank lives on the
  * doubled mid-rank integer lattice, every bounded-domain reduction
  * folds a `list(... ORDER BY key)` with a SCALAR accumulator on both
  * engines (the a60/a82 pinned-fold rule; struct accumulators are
  * trap-8 nondeterministic in DuckDB), and folded doubles are emitted
  * RAW — round() is engine-divergent on bitwise-equal inputs, pinned
  * folds are not.
  */
object Curation42Q extends QueryModule {

  private val DayUs = 86400000000L

  val queries: Seq[(String, QueryFn)] = Seq(

    // A84: Kruskal-Wallis H — "do the k event types draw from the
    // same value distribution?" Global mid-ranks of the cent lattice
    // come from ONE distinct-value aggregate + a DistRank exclusive
    // cumsum (doubled mid-rank mr2 = 2·below + ties + 1 is exact
    // BIGINT; never a row-scale global sort), per-group rank sums are
    // exact, and the 5-row Σ R²/n reduction folds in event-type
    // order. Tie correction Σ(t³−t) sums on DECIMAL(38) (a
    // value shared by millions of rows would cube past BIGINT).
    "a84_kruskal_wallis" -> ((s, dir) => {
      val e = events(s, dir).select(col("event_type"),
        lattice(col("value"), 100).as("c"))
      val vc = e.groupBy("c").agg(count(lit(1)).as("m"))
      val cum = graft.operators.DistRank.cumsum(vc, col("c"),
        Seq(col("c")), Seq((col("m"), "clo")), inclusive = false)
      val mr = cum.select(col("c"),
        (col("clo") * 2 + col("m") + 1).as("mr2"))
      val gs = e.join(mr, "c").groupBy("event_type").agg(
        count(lit(1)).as("n_g"), sum(col("mr2")).as("r2_g"))
      val ties = vc.agg(
        sum(col("m").cast("decimal(38,0)") * col("m") * col("m") -
          col("m")).as("t"),
        sum(col("m")).as("n"))
      val folded = gs.agg(
        count(lit(1)).as("k"),
        aggregate(
          transform(
            sort_array(collect_list(struct(col("event_type").as("g"),
              col("n_g"), col("r2_g")))),
            x => (x("r2_g").cast("double") * x("r2_g").cast("double")) /
              (x("n_g").cast("double") * lit(4.0))),
          lit(0.0), (a, x) => a + x).as("sr"))
      folded.crossJoin(broadcast(ties)).select(
          col("n"), (col("k") - 1).as("df"), col("sr"),
          col("t").cast("double").as("td"), col("n").cast("double").as("nd"))
        .select(col("n"), col("df"),
          ((lit(12.0) / (col("nd") * (col("nd") + 1.0)) * col("sr") -
            lit(3.0) * (col("nd") + 1.0)) /
            (lit(1.0) - col("td") /
              (col("nd") * col("nd") * col("nd") - col("nd"))))
            .as("h"))
        .select(col("n"), col("df"), col("h"),
          (col("h") > 9.487729).cast("long").as("significant"))
    }),

    // A85: two-group log-rank test on the a60 survival construction
    // (duration = days to first purchase, else censored at last
    // activity; groups = user parity). Counts per (day, group) are
    // exact; at-risk is a reverse cumsum over the ≤31-row day lattice
    // (bounded by construction, the a60 window); E and V fold in day
    // order as two SEPARATE scalar-accumulator folds. O1 is exact
    // BIGINT; e1/v/z2 are pinned-fold doubles emitted raw.
    "a85_logrank" -> ((s, dir) => {
      val u = graft.io.Tables.eventsUs(s, dir)
        .groupBy("user_id").agg(
          min("ts_us").as("t0"), max("ts_us").as("t1"),
          min(when(col("event_type") === "purchase", col("ts_us")))
            .as("tp"))
        .select(
          ((coalesce(col("tp"), col("t1")) - col("t0")) / lit(DayUs))
            .cast("long").as("day"),
          col("tp").isNotNull.cast("long").as("event"),
          pmod(col("user_id"), lit(2)).as("grp"))
      val g = u.groupBy("day").agg(
        sum(when(col("grp") === 1, col("event")).otherwise(0L)).as("d1"),
        sum(col("event")).as("d"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("l1"),
        count(lit(1)).as("l"))
      val wd = Window.orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val perDay = g
        .withColumn("n1", sum("l1").over(wd))
        .withColumn("n", sum("l").over(wd))
        .select(col("day"), col("d1"), col("d"),
          (col("d").cast("double") * col("n1").cast("double") /
            col("n").cast("double")).as("eterm"),
          when(col("n") > 1,
            (col("d").cast("double") *
              (col("n1").cast("double") / col("n").cast("double"))) *
              ((col("n") - col("n1")).cast("double") /
                col("n").cast("double")) *
              ((col("n") - col("d")).cast("double") /
                (col("n") - 1).cast("double")))
            .otherwise(lit(0.0)).as("vterm"))
      val f = perDay.agg(
        sum(col("d1")).as("o1"),
        aggregate(transform(sort_array(collect_list(
          struct(col("day"), col("eterm")))), x => x("eterm")),
          lit(0.0), (a, x) => a + x).as("e1"),
        aggregate(transform(sort_array(collect_list(
          struct(col("day"), col("vterm")))), x => x("vterm")),
          lit(0.0), (a, x) => a + x).as("v"))
      f.select(col("o1"), col("e1"), col("v"),
          ((col("o1") - col("e1")) * (col("o1") - col("e1")) / col("v"))
            .as("z2"))
        .select(col("o1"), col("e1"), col("v"), col("z2"),
          (col("z2") > 3.841459).cast("long").as("significant"))
    }),

    // A86: Chao1 richness + Good-Turing coverage of the corpus
    // vocabulary — "how much vocabulary is still unseen" (the
    // bias-corrected form V + f1(f1−1)/(2(f2+1)), defined even at
    // f2 = 0). All spectrum facts are exact BIGINTs off one token
    // aggregate; the two estimates are single divisions of exact
    // integers — bitwise-portable raw doubles.
    "a86_chao1" -> ((s, dir) => {
      val tok = documents(s, dir)
        .select(explode(graft.functions.Text.tokens(
          graft.functions.Text.normalizeAz(col("text")))).as("w"))
      val f = tok.groupBy("w").agg(count(lit(1)).as("fr"))
      f.agg(
          count(lit(1)).as("v"),
          sum(when(col("fr") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("fr") === 2, 1L).otherwise(0L)).as("f2"),
          sum(col("fr")).as("n_tokens"))
        .select(col("v"), col("f1"), col("f2"), col("n_tokens"),
          (col("v") + (col("f1") * (col("f1") - 1)).cast("double") /
            ((col("f2") + 1) * 2).cast("double")).as("chao1"),
          (lit(1.0) - col("f1").cast("double") /
            col("n_tokens").cast("double")).as("coverage"))
    }),

    // A87: Friedman's test — within-user (block) rank ANOVA of the
    // per-type mean cents over COMPLETE blocks (users seen in every
    // type). Within-block ranks compare means as exact cross-products
    // (sc_i·nc_j vs sc_j·nc_i — never a float mean), on the doubled
    // mid-rank lattice via the bounded k×k per-user pair join; the
    // k-row Σ R² reduction folds in type order; per-block tie terms
    // Σ(t³−t) are exact BIGINTs (≤ k³ each).
    "a87_friedman" -> ((s, dir) => {
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
      // mr2 = 2·(#strictly-less) + (#ties incl. self) + 1, exact
      val mr = a.join(b, "user_id").groupBy(col("user_id"), col("ga"))
        .agg(
          sum(when(col("sb") * col("na") < col("sa") * col("nb"), 1L)
            .otherwise(0L)).as("lt"),
          sum(when(col("sb") * col("na") === col("sa") * col("nb"), 1L)
            .otherwise(0L)).as("eq"))
        .select(col("user_id"), col("ga"),
          (col("lt") * 2 + col("eq") + 1).as("mr2"))
      val rj = mr.groupBy("ga").agg(sum("mr2").as("r2_j"))
      // per-block tie mass Σ(t³−t): every member of a t-sized tie
      // group carries t, so summing (t³−t)/t per member counts each
      // group exactly once; t³−t = t(t²−1) is divisible, the division
      // is exact
      val ties = a.join(b, "user_id")
        .filter(col("sb") * col("na") === col("sa") * col("nb"))
        .groupBy(col("user_id"), col("ga"))
        .agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(
          ((col("t") * col("t") * col("t") - col("t")) / col("t"))
            .cast("long")), lit(0L)).as("tsum"))
      val nBlocks = complete.agg(count(lit(1)).as("nb"))
      val folded = rj.agg(
        count(lit(1)).as("k"),
        aggregate(
          transform(sort_array(collect_list(struct(col("ga"),
            col("r2_j")))),
            x => (x("r2_j").cast("double") * x("r2_j").cast("double")) /
              lit(4.0)),
          lit(0.0), (a2, x) => a2 + x).as("sr"))
      folded.crossJoin(broadcast(nBlocks)).crossJoin(broadcast(ties))
        .select(col("nb"), col("k"), col("sr"),
          col("nb").cast("double").as("nd"), col("k").cast("double").as("kd"),
          col("tsum").cast("double").as("td"))
        .select(col("nb").as("n_blocks"), col("k"),
          (((lit(12.0) * col("sr")) / (col("nd") * col("kd") *
            (col("kd") + 1.0)) -
            lit(3.0) * col("nd") * (col("kd") + 1.0)) /
            (lit(1.0) - col("td") /
              (col("nd") * col("kd") *
                (col("kd") * col("kd") - 1.0)))).as("chi2"))
        .select(col("n_blocks"), col("k"), col("chi2"),
          (col("chi2") > 9.487729).cast("long").as("significant"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a84_kruskal_wallis" ->
      s"""WITH e AS (SELECT event_type,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |vc AS (SELECT c, count(*)::BIGINT AS m FROM e GROUP BY c),
        |cum AS (SELECT c, m, coalesce(sum(m) OVER (ORDER BY c
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |  AS clo FROM vc),
        |mr AS (SELECT c, clo * 2 + m + 1 AS mr2 FROM cum),
        |gs AS (SELECT event_type AS g, count(*)::BIGINT AS n_g,
        |  sum(mr2)::BIGINT AS r2_g
        | FROM e JOIN mr USING (c) GROUP BY 1),
        |t AS (SELECT sum(m::DECIMAL(38,0) * m * m - m) AS tt,
        |  sum(m)::BIGINT AS n FROM vc),
        |f AS (SELECT count(*)::BIGINT AS k,
        |  list_reduce(list_prepend(0.0,
        |    list((r2_g::DOUBLE * r2_g::DOUBLE) / (n_g::DOUBLE * 4.0)
        |      ORDER BY g)), (a, x) -> a + x) AS sr
        | FROM gs)
        |SELECT n, k - 1 AS df, h,
        | CASE WHEN h > 9.487729 THEN 1 ELSE 0 END::BIGINT AS significant
        |FROM (SELECT n, k,
        |  (12.0 / (n::DOUBLE * (n::DOUBLE + 1.0)) * sr
        |    - 3.0 * (n::DOUBLE + 1.0)) /
        |  (1.0 - (tt::VARCHAR)::DOUBLE /
        |    (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)) AS h
        | FROM f, t)""".stripMargin,

    "a85_logrank" ->
      """WITH u AS (SELECT user_id,
        |  (coalesce(tp, t1) - t0) // 86400000000 AS day,
        |  CASE WHEN tp IS NULL THEN 0 ELSE 1 END::BIGINT AS event,
        |  user_id % 2 AS grp
        | FROM (SELECT user_id, min(epoch_us(ts)) AS t0,
        |    max(epoch_us(ts)) AS t1,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |      AS tp
        |   FROM events GROUP BY user_id)),
        |g AS (SELECT day,
        |  sum(CASE WHEN grp = 1 THEN event ELSE 0 END)::BIGINT AS d1,
        |  sum(event)::BIGINT AS d,
        |  sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS l1,
        |  count(*)::BIGINT AS l
        | FROM u GROUP BY day),
        |pd AS (SELECT day, d1, d,
        |  sum(l1) OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND
        |    UNBOUNDED FOLLOWING)::BIGINT AS n1,
        |  sum(l) OVER (ORDER BY day ROWS BETWEEN CURRENT ROW AND
        |    UNBOUNDED FOLLOWING)::BIGINT AS n
        | FROM g),
        |terms AS (SELECT day, d1,
        |  d::DOUBLE * n1::DOUBLE / n::DOUBLE AS eterm,
        |  CASE WHEN n > 1 THEN
        |   (d::DOUBLE * (n1::DOUBLE / n::DOUBLE)) *
        |   ((n - n1)::DOUBLE / n::DOUBLE) *
        |   ((n - d)::DOUBLE / (n - 1)::DOUBLE)
        |  ELSE 0.0 END AS vterm
        | FROM pd),
        |f AS (SELECT sum(d1)::BIGINT AS o1,
        |  list_reduce(list_prepend(0.0, list(eterm ORDER BY day)),
        |    (a, x) -> a + x) AS e1,
        |  list_reduce(list_prepend(0.0, list(vterm ORDER BY day)),
        |    (a, x) -> a + x) AS v
        | FROM terms)
        |SELECT o1, e1, v, z2,
        | CASE WHEN z2 > 3.841459 THEN 1 ELSE 0 END::BIGINT AS significant
        |FROM (SELECT o1, e1, v,
        |  (o1 - e1) * (o1 - e1) / v AS z2 FROM f)""".stripMargin,

    "a86_chao1" ->
      """WITH tok AS (SELECT unnest(list_filter(string_split(
        |   regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |   w -> length(w) > 0)) AS w FROM documents),
        |f AS (SELECT w, count(*)::BIGINT AS fr FROM tok GROUP BY w)
        |SELECT count(*)::BIGINT AS v,
        | sum(CASE WHEN fr = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
        | sum(CASE WHEN fr = 2 THEN 1 ELSE 0 END)::BIGINT AS f2,
        | sum(fr)::BIGINT AS n_tokens,
        | count(*)::BIGINT + (sum(CASE WHEN fr = 1 THEN 1 ELSE 0 END) *
        |   (sum(CASE WHEN fr = 1 THEN 1 ELSE 0 END) - 1))::DOUBLE /
        |  ((sum(CASE WHEN fr = 2 THEN 1 ELSE 0 END) + 1) * 2)::DOUBLE
        |  AS chao1,
        | 1.0 - sum(CASE WHEN fr = 1 THEN 1 ELSE 0 END)::DOUBLE /
        |  sum(fr)::DOUBLE AS coverage
        |FROM f""".stripMargin,

    "a87_friedman" ->
      s"""WITH cell AS (SELECT user_id, event_type,
        |  sum(${latticeSql("value", 100)})::BIGINT AS sc,
        |  count(*)::BIGINT AS nc
        | FROM events GROUP BY user_id, event_type),
        |kk AS (SELECT count(DISTINCT event_type)::BIGINT AS k FROM cell),
        |complete AS (SELECT user_id FROM cell, kk
        | GROUP BY user_id, k HAVING count(*) = k),
        |blocks AS (SELECT cell.* FROM cell JOIN complete USING (user_id)),
        |mr AS (SELECT a.user_id, a.event_type AS ga,
        |  sum(CASE WHEN b.sc * a.nc < a.sc * b.nc THEN 1 ELSE 0 END)
        |    ::BIGINT * 2 +
        |  sum(CASE WHEN b.sc * a.nc = a.sc * b.nc THEN 1 ELSE 0 END)
        |    ::BIGINT + 1 AS mr2
        | FROM blocks a JOIN blocks b ON a.user_id = b.user_id
        | GROUP BY a.user_id, a.event_type),
        |ties AS (SELECT coalesce(sum((t*t*t - t) // t), 0)::BIGINT AS tsum
        | FROM (SELECT a.user_id, a.event_type,
        |   count(*)::BIGINT AS t
        |  FROM blocks a JOIN blocks b ON a.user_id = b.user_id
        |   AND b.sc * a.nc = a.sc * b.nc
        |  GROUP BY a.user_id, a.event_type)),
        |rj AS (SELECT ga, sum(mr2)::BIGINT AS r2_j FROM mr GROUP BY ga),
        |nb AS (SELECT count(*)::BIGINT AS n_blocks FROM complete),
        |f AS (SELECT count(*)::BIGINT AS k,
        |  list_reduce(list_prepend(0.0,
        |    list((r2_j::DOUBLE * r2_j::DOUBLE) / 4.0 ORDER BY ga)),
        |    (a, x) -> a + x) AS sr
        | FROM rj)
        |SELECT n_blocks, k, chi2,
        | CASE WHEN chi2 > 9.487729 THEN 1 ELSE 0 END::BIGINT AS significant
        |FROM (SELECT n_blocks, k,
        |  ((12.0 * sr) / (n_blocks::DOUBLE * k::DOUBLE *
        |    (k::DOUBLE + 1.0)) -
        |   3.0 * n_blocks::DOUBLE * (k::DOUBLE + 1.0)) /
        |  (1.0 - tsum::DOUBLE / (n_blocks::DOUBLE * k::DOUBLE *
        |    (k::DOUBLE * k::DOUBLE - 1.0))) AS chi2
        | FROM f, nb, ties)""".stripMargin)
}
