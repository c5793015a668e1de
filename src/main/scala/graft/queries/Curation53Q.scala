package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 53: the classical PARAMETRIC test family the surface
  * was missing — the rank/nonparametric analogues all exist
  * (a84 Kruskal-Wallis, a50 Mann-Whitney, a87 Friedman) but not their
  * moment-based originals. Net-new vs the 421-query surface
  * (grep-checked: no anova/levene/jarque/mood):
  *  - one-way ANOVA F + eta-squared (k-group mean comparison);
  *  - Brown-Forsythe test (Levene's test on |y − group median| — the
  *    robust variance-homogeneity screen that decides whether ANOVA's
  *    pooled-variance assumption holds);
  *  - Jarque-Bera normality test (skewness/kurtosis lattice);
  *  - Mood's median test (k-group location on a 2×k count table).
  *
  * Cross-engine discipline: every sum is an exact integer/DECIMAL(38)
  * on the cent lattice, every k-row reduction folds a
  * `list(... ORDER BY g)` with a SCALAR accumulator on both engines
  * (the a84 pinned-fold rule), and folded doubles are emitted RAW.
  * Scale shape: one row-scale groupBy each (map-side partial agg),
  * then arithmetic on a ≤3-row frame — no row-scale windows, no
  * global sorts; the a99 median windows partition by returnflag over
  * the (flag, cent)-aggregated frame, the a29_wmedian precedent.
  */
object Curation53Q extends QueryModule {

  /** One-way ANOVA over a k-row group-moment frame
    * (g: group key, n: BIGINT count, sv: BIGINT Σv,
    * qv: DECIMAL(38,0) Σv²) → 1-row (n, k, f, eta2).
    * SSB_g = S_g²/n_g and SSW_g = (n_g·Q_g − S_g²)/n_g ride exact
    * DECIMAL(38,0) numerators; only the final per-group division and
    * the k-term fold are IEEE, in pinned group order.
    */
  private def anovaFold(gs: DataFrame): DataFrame =
    gs.agg(
        count(lit(1)).as("k"),
        sum(col("n")).as("n_tot"),
        sum(col("sv")).as("s_tot"),
        aggregate(
          transform(
            sort_array(collect_list(struct(col("g"), col("n"), col("sv")))),
            x => (x("sv").cast("decimal(38,0)") * x("sv"))
              .cast("double") / x("n").cast("double")),
          lit(0.0), (a, x) => a + x).as("ssb_raw"),
        aggregate(
          transform(
            sort_array(collect_list(struct(col("g"), col("n"), col("sv"),
              col("qv")))),
            x => (x("qv") * x("n") -
              x("sv").cast("decimal(38,0)") * x("sv"))
              .cast("double") / x("n").cast("double")),
          lit(0.0), (a, x) => a + x).as("ssw"))
      .select(col("n_tot").as("n"), col("k"), col("ssw"),
        (col("ssb_raw") -
          (col("s_tot").cast("decimal(38,0)") * col("s_tot"))
            .cast("double") / col("n_tot").cast("double")).as("ssb"))
      .select(col("n"), col("k"),
        ((col("ssb") / (col("k") - 1).cast("double")) /
          (col("ssw") / (col("n") - col("k")).cast("double"))).as("f"),
        (col("ssb") / (col("ssb") + col("ssw"))).as("eta2"))

  val queries: Seq[(String, QueryFn)] = Seq(

    // A98: one-way ANOVA F — do the three return-flag populations
    // share a mean extended price? eta² is the variance-explained
    // effect size. Plan: one partial-agg groupBy to 3 rows, one fold.
    "a98_anova_f" -> ((s, dir) => {
      val li = lineitem(s, dir).select(col("l_returnflag").as("g"),
        lattice(col("l_extendedprice"), 100).as("y"))
      val gs = li.groupBy("g").agg(
        count(lit(1)).as("n"), sum(col("y")).as("sv"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("qv"))
      anovaFold(gs)
        .select(col("n"), col("k"), col("f"), col("eta2"),
          (col("f") > 2.995732).cast("long").as("significant"))
    }),

    // A99: Brown-Forsythe — ANOVA on z = |y − median_g|. The doubled
    // lattice z2 = |2y − med2| keeps z exact BIGINT (F is
    // scale-invariant, so running the ANOVA machinery on z2 IS the
    // Brown-Forsythe statistic). med2 is a 3-row broadcast join.
    "a99_levene_bf" -> ((s, dir) => {
      val li = lineitem(s, dir).select(col("l_returnflag").as("g"),
        lattice(col("l_extendedprice"), 100).as("y"))
      // groupedMedianDoubled replaces the former groupBy(g, y) lattice
      // + per-flag windows (a row-scale shuffle of a 97%-distinct cent
      // lattice) with bucket metadata + a 2/p-bucket refinement — the
      // a101 medianDoubled shape, per group (round 12)
      val med = graft.operators.DistRank
        .groupedMedianDoubled(li, col("g"), col("y"))
        .select(col("g"), (col("vlo") + col("vhi")).as("med2"))
      val z = li.join(broadcast(med), "g")
        .select(col("g"), abs(col("y") * 2 - col("med2")).as("y"))
      val gs = z.groupBy("g").agg(
        count(lit(1)).as("n"), sum(col("y")).as("sv"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("qv"))
      anovaFold(gs)
        .select(col("n"), col("k"), col("f"), col("eta2"),
          (col("f") > 2.995732).cast("long").as("significant"))
    }),

    // A100: Jarque-Bera normality of the price-cent distribution.
    // Sums of powers CENTER ON THE INTEGER-FLOOR MEAN μ̃ = S div N so
    // Σd⁴ stays inside DECIMAL(38,0) at every SF (raw Σy⁴·binomial
    // cross terms would overflow: S⁴ ~ 1e54); the residual shift
    // δ = (S mod N)/N ∈ [0,1) enters only the final pinned IEEE
    // binomial correction. sqrt is correctly rounded, so
    // m2^1.5 = sqrt(m2)³ is bit-portable; pow() stays banned.
    "a100_jarque_bera" -> ((s, dir) => {
      val li = lineitem(s, dir).select(
        lattice(col("l_extendedprice"), 100).as("y"))
      val base = li.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
        .select(col("n"), expr("sy DIV n").as("mu0"),
          (col("sy") % col("n")).as("r"))
      val d = li.crossJoin(broadcast(base))
        .select(col("n"), col("r"), (col("y") - col("mu0")).as("d"))
      val m = d.groupBy("n", "r").agg(
        sum(col("d")).as("sd"),
        sum(col("d").cast("decimal(38,0)") * col("d")).as("sd2"),
        sum(col("d").cast("decimal(38,0)") * col("d") * col("d")).as("sd3"),
        sum(col("d").cast("decimal(38,0)") * col("d") * col("d") *
          col("d")).as("sd4"))
      val nd = col("n").cast("double")
      val del = col("r").cast("double") / nd
      val mom = m.select(col("n"),
        ((col("sd2").cast("double") -
          lit(2.0) * del * col("sd").cast("double") +
          nd * del * del) / nd).as("m2"),
        ((col("sd3").cast("double") -
          lit(3.0) * del * col("sd2").cast("double") +
          lit(3.0) * del * del * col("sd").cast("double") -
          nd * del * del * del) / nd).as("m3"),
        ((col("sd4").cast("double") -
          lit(4.0) * del * col("sd3").cast("double") +
          lit(6.0) * del * del * col("sd2").cast("double") -
          lit(4.0) * del * del * del * col("sd").cast("double") +
          nd * del * del * del * del) / nd).as("m4"))
      mom.select(col("n"),
          (col("m3") / (sqrt(col("m2")) * sqrt(col("m2")) *
            sqrt(col("m2")))).as("skew"),
          (col("m4") / (col("m2") * col("m2")) - lit(3.0)).as("kurt_ex"))
        .select(col("n"), col("skew"), col("kurt_ex"),
          (col("n").cast("double") *
            (col("skew") * col("skew") / lit(6.0) +
              col("kurt_ex") * col("kurt_ex") / lit(24.0))).as("jb"))
        .select(col("n"), col("skew"), col("kurt_ex"), col("jb"),
          (col("jb") > 5.991465).cast("long").as("significant"))
    }),

    // A101: Mood's median test — global doubled median from ONE
    // value-count cumsum (DistRank, never a row-scale sort), then a
    // 2×k above/below table and a Pearson χ² fold in flag order.
    // Ties with the median are excluded (the classical convention);
    // n reported is the tie-free count.
    "a101_mood_median" -> ((s, dir) => {
      val li = lineitem(s, dir).select(col("l_returnflag").as("g"),
        lattice(col("l_extendedprice"), 100).as("y"))
      // medianDoubled replaces the former groupBy(y)→cumsum→aggregate
      // chain (3 row-scale groupBy shuffles of a 97%-distinct cent
      // lattice, whose cache cost more than the recompute it saved)
      // with bucket metadata + a ~2/p-bucket refinement: no row-scale
      // shuffle at any SF, same exact integers (round 12).
      val med = graft.operators.DistRank.medianDoubled(li, col("y"))
      val tab = li.crossJoin(broadcast(med)).groupBy("g").agg(
        sum(when(col("y") * 2 > col("med2"), 1L).otherwise(0L)).as("ab"),
        sum(when(col("y") * 2 < col("med2"), 1L).otherwise(0L)).as("be"))
      val tot = tab.agg(count(lit(1)).as("k"),
        sum(col("ab")).as("ta"), sum(col("be")).as("tb"))
      // expected counts as NAMED columns first (ea, eb), then the χ²
      // cell term from those columns — one IEEE op sequence, mirrored
      // verbatim in the oracle
      val terms = tab.crossJoin(broadcast(tot))
        .select(col("g"), col("ab"), col("be"),
          ((col("ab") + col("be")).cast("double") *
            col("ta").cast("double") /
            (col("ta") + col("tb")).cast("double")).as("ea"),
          ((col("ab") + col("be")).cast("double") *
            col("tb").cast("double") /
            (col("ta") + col("tb")).cast("double")).as("eb"))
        .select(col("g"),
          ((col("ab").cast("double") - col("ea")) *
            (col("ab").cast("double") - col("ea")) / col("ea") +
            (col("be").cast("double") - col("eb")) *
            (col("be").cast("double") - col("eb")) / col("eb")).as("t"))
      val chi = terms.agg(
        aggregate(
          transform(sort_array(collect_list(struct(col("g"), col("t")))),
            x => x("t")),
          lit(0.0), (a, x) => a + x).as("chi2"))
      tot.crossJoin(chi)
        .select((col("ta") + col("tb")).as("n"), (col("k") - 1).as("df"),
          col("chi2"),
          (col("chi2") > 5.991465).cast("long").as("significant"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  private val anovaSql =
    """SELECT n, k,
      | ((ssb / (k - 1)::DOUBLE) / (ssw / (n - k)::DOUBLE)) AS f,
      | (ssb / (ssb + ssw)) AS eta2
      |FROM (SELECT n, k, ssw,
      |  ssb_raw - ((s_tot::DECIMAL(38,0) * s_tot)::VARCHAR)::DOUBLE / n::DOUBLE
      |    AS ssb
      | FROM (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS n,
      |   sum(sv)::BIGINT AS s_tot,
      |   list_reduce(list_prepend(0.0,
      |     list((sv::DECIMAL(38,0) * sv)::DOUBLE / n::DOUBLE
      |       ORDER BY g)), (a, x) -> a + x) AS ssb_raw,
      |   list_reduce(list_prepend(0.0,
      |     list(((qv * n - sv::DECIMAL(38,0) * sv)::VARCHAR)::DOUBLE / n::DOUBLE
      |       ORDER BY g)), (a, x) -> a + x) AS ssw
      |  FROM gs))""".stripMargin

  val oracle: Seq[(String, String)] = Seq(

    "a98_anova_f" ->
      s"""WITH li AS (SELECT l_returnflag AS g,
        |  ${latticeSql("l_extendedprice", 100)} AS y
        | FROM lineitem),
        |gs AS (SELECT g, count(*)::BIGINT AS n, sum(y)::BIGINT AS sv,
        |  sum(y::DECIMAL(38,0) * y) AS qv FROM li GROUP BY g),
        |res AS ($anovaSql)
        |SELECT n, k, f, eta2,
        | (CASE WHEN f > 2.995732 THEN 1 ELSE 0 END)::BIGINT
        |   AS significant
        |FROM res""".stripMargin,

    "a99_levene_bf" ->
      s"""WITH li AS (SELECT l_returnflag AS g,
        |  ${latticeSql("l_extendedprice", 100)} AS y
        | FROM lineitem),
        |vc AS (SELECT g, y AS c, count(*)::BIGINT AS m FROM li
        | GROUP BY g, y),
        |cum AS (SELECT g, c, sum(m) OVER (PARTITION BY g ORDER BY c
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |   AS ci,
        |  sum(m) OVER (PARTITION BY g)::BIGINT AS ng FROM vc),
        |med AS (SELECT g,
        |  min(CASE WHEN ci * 2 >= ng THEN c END) +
        |  min(CASE WHEN ci * 2 > ng THEN c END) AS med2
        | FROM cum GROUP BY g),
        |z AS (SELECT li.g, abs(y * 2 - med2) AS y
        | FROM li JOIN med ON li.g = med.g),
        |gs AS (SELECT g, count(*)::BIGINT AS n, sum(y)::BIGINT AS sv,
        |  sum(y::DECIMAL(38,0) * y) AS qv FROM z GROUP BY g),
        |res AS ($anovaSql)
        |SELECT n, k, f, eta2,
        | (CASE WHEN f > 2.995732 THEN 1 ELSE 0 END)::BIGINT
        |   AS significant
        |FROM res""".stripMargin,

    "a100_jarque_bera" ->
      s"""WITH li AS (SELECT
        |  ${latticeSql("l_extendedprice", 100)} AS y
        | FROM lineitem),
        |base AS (SELECT count(*)::BIGINT AS n,
        |  sum(y)::BIGINT // count(*)::BIGINT AS mu0,
        |  sum(y)::BIGINT % count(*)::BIGINT AS r FROM li),
        |m AS (SELECT n, r, sum(y - mu0)::BIGINT AS sd,
        |  sum((y - mu0)::DECIMAL(38,0) * (y - mu0)) AS sd2,
        |  sum((y - mu0)::DECIMAL(38,0) * (y - mu0) * (y - mu0)) AS sd3,
        |  sum((y - mu0)::DECIMAL(38,0) * (y - mu0) * (y - mu0) *
        |    (y - mu0)) AS sd4
        | FROM li, base GROUP BY n, r),
        |mom AS (SELECT n,
        |  ((sd2::VARCHAR)::DOUBLE - 2.0 * (r::DOUBLE / n::DOUBLE) * sd::DOUBLE +
        |   n::DOUBLE * (r::DOUBLE / n::DOUBLE) * (r::DOUBLE / n::DOUBLE))
        |   / n::DOUBLE AS m2,
        |  ((sd3::VARCHAR)::DOUBLE - 3.0 * (r::DOUBLE / n::DOUBLE) * (sd2::VARCHAR)::DOUBLE +
        |   3.0 * (r::DOUBLE / n::DOUBLE) * (r::DOUBLE / n::DOUBLE) *
        |     sd::DOUBLE -
        |   n::DOUBLE * (r::DOUBLE / n::DOUBLE) * (r::DOUBLE / n::DOUBLE)
        |     * (r::DOUBLE / n::DOUBLE)) / n::DOUBLE AS m3,
        |  ((sd4::VARCHAR)::DOUBLE - 4.0 * (r::DOUBLE / n::DOUBLE) * (sd3::VARCHAR)::DOUBLE +
        |   6.0 * (r::DOUBLE / n::DOUBLE) * (r::DOUBLE / n::DOUBLE) *
        |     (sd2::VARCHAR)::DOUBLE -
        |   4.0 * (r::DOUBLE / n::DOUBLE) * (r::DOUBLE / n::DOUBLE) *
        |     (r::DOUBLE / n::DOUBLE) * sd::DOUBLE +
        |   n::DOUBLE * (r::DOUBLE / n::DOUBLE) * (r::DOUBLE / n::DOUBLE)
        |     * (r::DOUBLE / n::DOUBLE) * (r::DOUBLE / n::DOUBLE))
        |   / n::DOUBLE AS m4
        | FROM m),
        |st AS (SELECT n,
        |  m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) AS skew,
        |  m4 / (m2 * m2) - 3.0 AS kurt_ex FROM mom),
        |jbq AS (SELECT n, skew, kurt_ex,
        |  n::DOUBLE * (skew * skew / 6.0 + kurt_ex * kurt_ex / 24.0)
        |    AS jb FROM st)
        |SELECT n, skew, kurt_ex, jb,
        | (CASE WHEN jb > 5.991465 THEN 1 ELSE 0 END)::BIGINT
        |   AS significant
        |FROM jbq""".stripMargin,

    "a101_mood_median" ->
      s"""WITH li AS (SELECT l_returnflag AS g,
        |  ${latticeSql("l_extendedprice", 100)} AS y
        | FROM lineitem),
        |vc AS (SELECT y AS c, count(*)::BIGINT AS m FROM li GROUP BY y),
        |cum AS (SELECT c, sum(m) OVER (ORDER BY c
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |   AS ci,
        |  sum(m) OVER ()::BIGINT AS mt FROM vc),
        |med AS (SELECT
        |  min(CASE WHEN ci * 2 >= mt THEN c END) +
        |  min(CASE WHEN ci * 2 > mt THEN c END) AS med2 FROM cum),
        |tab AS (SELECT g,
        |  sum(CASE WHEN y * 2 > med2 THEN 1 ELSE 0 END)::BIGINT AS ab,
        |  sum(CASE WHEN y * 2 < med2 THEN 1 ELSE 0 END)::BIGINT AS be
        | FROM li, med GROUP BY g),
        |tot AS (SELECT count(*)::BIGINT AS k, sum(ab)::BIGINT AS ta,
        |  sum(be)::BIGINT AS tb FROM tab),
        |ex AS (SELECT g, ab, be,
        |  (ab + be)::DOUBLE * ta::DOUBLE / (ta + tb)::DOUBLE AS ea,
        |  (ab + be)::DOUBLE * tb::DOUBLE / (ta + tb)::DOUBLE AS eb
        | FROM tab, tot),
        |terms AS (SELECT g,
        |  (ab::DOUBLE - ea) * (ab::DOUBLE - ea) / ea +
        |  (be::DOUBLE - eb) * (be::DOUBLE - eb) / eb AS t FROM ex),
        |chi AS (SELECT list_reduce(list_prepend(0.0,
        |   list(t ORDER BY g)), (a, x) -> a + x) AS chi2 FROM terms)
        |SELECT ta + tb AS n, k - 1 AS df, chi2,
        | (CASE WHEN chi2 > 5.991465 THEN 1 ELSE 0 END)::BIGINT
        |   AS significant
        |FROM tot, chi""".stripMargin)
}
