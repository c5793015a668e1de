package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.operators.DistRank
import Q._

/** Round-7 batch 35: quantile normalization composed from DistRank
  * (per-group exact ranks WITHOUT per-group windows), a 2-round
  * discrete AdaBoost whose weights stay exact integers, Dunning
  * log-likelihood-ratio collocations, and the Nelson-Aalen cumulative
  * hazard. Net-new vs the 364-query surface (grep-checked: Dunning
  * G² is a different statistic from a51_sprt's Wald LLR increments).
  */
object Curation35Q extends QueryModule {

  /** Stump grid: thresholds −750+100·i milli over embedding dims 0-1,
    * both polarities — 2·16·2 = 64 candidates evaluated in ONE agg. */
  private val Thr = (0 until 16).map(i => -750L + 100L * i)

  /** x·ln(x) with S(0) = 0 — the entropy term of Dunning's G². */
  private def sTerm(x: Column): Column =
    when(x > 0L, x.cast("double") * log(x.cast("double"))).otherwise(lit(0.0))

  val queries: Seq[(String, QueryFn)] = Seq(

    // A74: quantile normalization across sources (the batch-effect
    // corrector from bioinformatics, equally at home normalizing
    // per-source quality scores before mixing corpora): every source's
    // value at percentile p maps to the cross-source mean at p. The
    // 100 TB point: per-source ranks come from ONE global DistRank
    // pass ordered (source, value, id) minus broadcast per-source
    // offsets — no per-source window (a handful of sources would make
    // those single-task sorts), no global window. The percentile grid
    // is integer floor division; the target is one exact-sum/count
    // division per grid point.
    "a74_quantile_norm" -> ((s, dir) => {
      val d = documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      // per source, in source order: its 0-based index and its offset
      // (the rows of earlier sources), in the plan — one sorted list
      // of the <= #sources count rows, exploded with positions (a
      // window over those rows would be a single-partition window)
      val srcDf = d.groupBy("source").agg(count(lit(1)).as("n_s"))
        .agg(sort_array(collect_list(struct(col("source"), col("n_s"))))
          .as("xs"))
        .select(col("xs"), posexplode(col("xs")).as(Seq("i", "x")))
        .select(col("x.source").as("source"),
          col("i").cast("long").as("src_idx"),
          aggregate(slice(col("xs"), lit(1), col("i")), lit(0L),
            (acc, x) => acc + x.getField("n_s")).as("off"),
          col("x.n_s").as("n_s"))
      val keyed = d.join(broadcast(srcDf), "source")
      val ranked = DistRank.rowNumber(keyed,
        (col("src_idx") * 10000000000L + col("n_chars")).cast("double"),
        Seq(col("src_idx"), col("n_chars"), col("doc_id")), "grk")
        .filter(col("n_s") >= 2)
        .select(col("doc_id"), col("source"), col("n_chars"),
          (col("grk") - col("off")).as("r_src"), col("n_s"))
        .withColumn("q_pct",
          DistRank.ldiv((col("r_src") - 1L) * 100L, col("n_s") - 1L))
      val target = ranked.groupBy("q_pct")
        .agg(sum("n_chars").as("tsum"), count(lit(1)).as("tn"))
      ranked.join(broadcast(target), "q_pct")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("r_src"), col("q_pct"),
          r6(col("tsum").cast("double") / col("tn")).as("norm_val"))
    }),

    // M38: discrete AdaBoost, 2 rounds of decision stumps — and the
    // reason it fits this engine: with uniform initial weights the
    // round-2 reweighting exp(±α) has ratio exp(2α) = (1−ε)/ε
    // EXACTLY, so scaling by n·ε(1−ε) makes the round-2 weights the
    // INTEGERS {err, n−err} — both weighted-error argmins are packed
    // integer decisions, nothing float picks a stump. Each round is
    // ONE aggregate evaluating all 64 stump candidates as columns +
    // a bounded 1-row driver fetch (s_kcenter class); α lands on the
    // micro-nat lattice only for reporting and the ensemble sign,
    // whose inputs are exact integers. Oracle: a generated CTE chain.
    "m38_adaboost" -> ((s, dir) => {
      val fit = adaboostFit(s, dir)
      val ens = (fit.pred(fit.f1, fit.t1, fit.p1) * fit.alpha1 +
        fit.pred(fit.f2, fit.t2, fit.p2) * fit.alpha2)
      val acc = fit.base.agg(sum(when(
        when(ens >= 0L, 1L).otherwise(-1L) === col("y"), 1L).otherwise(0L)))
        .head().getLong(0)
      val accPpm = acc * 1000000L / fit.n
      s.createDataFrame(Seq(
        (1L, fit.f1.toLong, fit.t1, fit.p1.toLong, fit.e1r, fit.n,
          fit.alpha1, accPpm),
        (2L, fit.f2.toLong, fit.t2, fit.p2.toLong, fit.e2r, fit.wtot,
          fit.alpha2, accPpm)))
        .toDF("round", "feature", "thr_milli", "polarity", "err_w",
          "w_tot", "alpha6", "ens_acc_ppm")
    }),

    // T: Dunning log-likelihood-ratio collocations (Dunning 1993) —
    // THE collocation test (robust where PMI explodes on rare pairs).
    // The 2×2 table (k11 bigram, k12/k21 marginals-minus, k22 rest)
    // is exact BIGINT algebra; G² = 2·(ΣS(k) − ΣS(margins) + S(N))
    // with S(x) = x·ln x mirrored in pinned written order (single-ln
    // terms — the audited t_tfidf class; G² never orders anything:
    // the top-200 boundary is the integer (count, w1, w2) order).
    "t_llr" -> ((s, dir) => {
      val grams = documents(s, dir)
        .select(Text.tokens(Text.normalizeAz(col("text"))).as("__toks"))
        .select(explode(Curation30Q.bigramsOf(col("__toks"))).as("g"))
        .select(split(col("g"), " ").getItem(0).as("w1"),
          split(col("g"), " ").getItem(1).as("w2"))
      val bi = grams.groupBy("w1", "w2").agg(count(lit(1)).as("c")).cache()
      val left = bi.groupBy("w1").agg(sum("c").as("cw1"))
      val right = bi.groupBy("w2").agg(sum("c").as("cw2"))
      val n = bi.agg(sum("c")).head().getLong(0)
      val k11 = col("c")
      val k12 = col("cw1") - col("c")
      val k21 = col("cw2") - col("c")
      val k22 = lit(n) - col("cw1") - col("cw2") + col("c")
      bi.join(left, "w1").join(right, "w2")
        .select(col("w1"), col("w2"), col("c"), col("cw1"), col("cw2"),
          r6(lit(2.0) * (sTerm(k11) + sTerm(k12) + sTerm(k21) + sTerm(k22)
            - sTerm(col("cw1")) - sTerm(lit(n) - col("cw1"))
            - sTerm(col("cw2")) - sTerm(lit(n) - col("cw2"))
            + sTerm(lit(n)))).as("llr"))
        .orderBy(col("c").desc, col("w1"), col("w2"))
        .limit(200)
    }),

    // A75: Nelson-Aalen cumulative hazard (the estimator next to
    // a60's Kaplan-Meier: H(t) = Σ d/n, with Var = Σ d/n² — both
    // cumulative IEEE sums in day order over the bounded day lattice,
    // each term ONE correctly-rounded division of exact BIGINTs, so
    // the fold is bitwise cross-engine). Same user-lifetime reduction
    // as a60; the day-lattice global window carries the same bounded-
    // by-construction justification.
    "a75_nelson_aalen" -> ((s, dir) => {
      val DayUs = 86400000000L
      val u = graft.io.Tables.eventsUs(s, dir)
        .groupBy("user_id").agg(
          min("ts_us").as("t0"), max("ts_us").as("t1"),
          min(when(col("event_type") === "purchase", col("ts_us")))
            .as("tp"))
        .select(
          ((coalesce(col("tp"), col("t1")) - col("t0")) / lit(DayUs))
            .cast("long").as("day"),
          col("tp").isNotNull.cast("long").as("event"))
      val g = u.groupBy("day").agg(
        sum("event").as("d"), count(lit(1)).as("leaving"))
      val wd = Window.orderBy("day")
      g.withColumn("n_risk",
          sum("leaving").over(wd.rowsBetween(Window.currentRow,
            Window.unboundedFollowing)))
        .withColumn("h_term",
          col("d").cast("double") / col("n_risk").cast("double"))
        .withColumn("v_term", col("d").cast("double") /
          (col("n_risk") * col("n_risk")).cast("double"))
        .withColumn("hazard",
          sum("h_term").over(wd.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("hazard_var",
          sum("v_term").over(wd.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("day"), col("n_risk"), col("d").as("d_events"),
          col("hazard"), col("hazard_var"))
    }))


  /** The fitted 2-round AdaBoost model (m38) — shared with m40's
    * exact Shapley attribution. `pred` is the stump h(x) ∈ {−1,+1}. */
  private[queries] case class AdaFit(base: DataFrame,
      f1: Int, t1: Long, p1: Int, e1r: Long, alpha1: Long, n: Long,
      f2: Int, t2: Long, p2: Int, e2r: Long, alpha2: Long, wtot: Long) {
    def pred(f: Int, t: Long, pol: Int): Column = {
      val x = if (f == 0) col("x0") else col("x1")
      val raw = when(x > t, 1L).otherwise(-1L)
      if (pol == 0) raw else -raw
    }
  }

  private[queries] def adaboostFit(s: SparkSession, dir: String): AdaFit = {
    val e = embeddings(s, dir).select(col("vec_id"),
      lattice(col("embedding").getItem(0).cast("double"), 1000).as("x0"),
      lattice(col("embedding").getItem(1).cast("double"), 1000).as("x1"),
      (pmod(col("label").cast("long"), lit(2L)) * 2L - 1L).as("y"))
      .cache()
    def pred(f: Int, t: Long, pol: Int): Column = {
      val x = if (f == 0) col("x0") else col("x1")
      val raw = when(x > t, 1L).otherwise(-1L)
      if (pol == 0) raw else -raw
    }
    val cands = for {
      f <- 0 to 1; t <- Thr; pol <- 0 to 1
    } yield (f, t, pol)
    def pick(weight: Column): (Int, Long, Int, Long, Long) = {
      val aggs = cands.map { case (f, t, pol) =>
        sum(when(pred(f, t, pol) =!= col("y"), weight).otherwise(0L))
          .as(s"e_${f}_${t}_$pol") } :+ sum(weight).as("wtot")
      val row = e.agg(aggs.head, aggs.tail: _*).head()
      val errs = cands.zipWithIndex.map { case ((f, t, pol), i) =>
        (row.getLong(i), f, t, pol) }
      val (err, f, t, pol) = errs.min // (err, f, thr, pol) tie order
      (f, t, pol, err, row.getLong(cands.size))
    }
    val (f1, t1, p1, e1r, n) = pick(lit(1L))
    val err1 = math.max(1L, math.min(n - 1L, e1r)) // degeneracy clamp
    val alpha1 = math.round(1e6 * 0.5 *
      math.log((n - err1).toDouble / err1))
    val w2 = when(pred(f1, t1, p1) === col("y"), lit(err1))
      .otherwise(lit(n - err1))
    val (f2, t2, p2, e2r, wtot) = pick(w2)
    val err2 = math.max(1L, math.min(wtot - 1L, e2r))
    val alpha2 = math.round(1e6 * 0.5 *
      math.log((wtot - err2).toDouble / err2))
    AdaFit(e, f1, t1, p1, e1r, alpha1, n, f2, t2, p2, e2r, alpha2, wtot)
  }

  // ---- oracle SQL ----------------------------------------------------

  /** DuckDB stump prediction for grid row columns f/thr/pol. */
  private val PredSql =
    """CASE WHEN pol = 0
      | THEN CASE WHEN (CASE WHEN f = 0 THEN x0 ELSE x1 END) > thr
      |   THEN 1 ELSE -1 END
      | ELSE CASE WHEN (CASE WHEN f = 0 THEN x0 ELSE x1 END) > thr
      |   THEN -1 ELSE 1 END END""".stripMargin

  /** The m38 fitting chain (through a2) as shareable CTEs — used by
    * m38's readout and m40's Shapley oracle. */
  private[queries] val AdaCtes: String = {
    val gridVals = (for {
      f <- 0 to 1; t <- Thr; pol <- 0 to 1
    } yield s"($f, $t, $pol)").mkString(", ")
    s"""e AS (SELECT vec_id,
       |  ${latticeSql("embedding[1]::DOUBLE", 1000)} AS x0,
       |  ${latticeSql("embedding[2]::DOUBLE", 1000)} AS x1,
       |  (label % 2) * 2 - 1 AS y FROM embeddings),
       |grid(f, thr, pol) AS (VALUES $gridVals),
       |n AS (SELECT count(*)::BIGINT AS n FROM e),
       |r1 AS (SELECT f, thr, pol,
       |  sum(CASE WHEN ($PredSql) <> y THEN 1 ELSE 0 END)::BIGINT AS err
       | FROM e CROSS JOIN grid GROUP BY 1, 2, 3),
       |s1 AS (SELECT f, thr, pol, err FROM r1
       | ORDER BY err, f, thr, pol LIMIT 1),
       |a1 AS (SELECT greatest(1, least(n - 1, err)) AS err1,
       |  CAST(round(1e6 * 0.5 * ln((n - greatest(1, least(n - 1, err)))
       |    ::DOUBLE / greatest(1, least(n - 1, err)))) AS BIGINT)
       |    AS alpha1
       | FROM s1 CROSS JOIN n),
       |w AS (SELECT e.*, CASE WHEN (SELECT CASE WHEN s1.pol = 0
       |   THEN CASE WHEN (CASE WHEN s1.f = 0 THEN e.x0 ELSE e.x1 END)
       |     > s1.thr THEN 1 ELSE -1 END
       |   ELSE CASE WHEN (CASE WHEN s1.f = 0 THEN e.x0 ELSE e.x1 END)
       |     > s1.thr THEN -1 ELSE 1 END END FROM s1) = e.y
       |  THEN (SELECT err1 FROM a1 CROSS JOIN n)
       |  ELSE (SELECT n - err1 FROM a1 CROSS JOIN n) END AS wt
       | FROM e),
       |r2 AS (SELECT f, thr, pol,
       |  sum(CASE WHEN ($PredSql) <> y THEN wt ELSE 0 END)::BIGINT AS err
       | FROM w CROSS JOIN grid GROUP BY 1, 2, 3),
       |wt2 AS (SELECT sum(wt)::BIGINT AS wtot FROM w),
       |s2 AS (SELECT f, thr, pol, err FROM r2
       | ORDER BY err, f, thr, pol LIMIT 1),
       |a2 AS (SELECT greatest(1, least(wtot - 1, err)) AS err2,
       |  CAST(round(1e6 * 0.5 *
       |    ln((wtot - greatest(1, least(wtot - 1, err)))::DOUBLE
       |      / greatest(1, least(wtot - 1, err)))) AS BIGINT) AS alpha2
       | FROM s2 CROSS JOIN wt2)""".stripMargin
  }

  val oracle: Seq[(String, String)] = Seq(

    "a74_quantile_norm" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |cnt AS (SELECT source, count(*)::BIGINT AS n_s FROM d GROUP BY 1),
        |r AS (SELECT doc_id, source, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars, doc_id)::BIGINT AS r_src
        | FROM d),
        |q AS (SELECT r.doc_id, r.source, r.n_chars, r.r_src,
        |  ((r.r_src - 1) * 100) // (cnt.n_s - 1) AS q_pct
        | FROM r JOIN cnt USING (source) WHERE cnt.n_s >= 2),
        |t AS (SELECT q_pct, sum(n_chars)::BIGINT AS tsum,
        |  count(*)::BIGINT AS tn FROM q GROUP BY 1)
        |SELECT doc_id, source, n_chars, r_src, q_pct::BIGINT AS q_pct,
        | round(tsum::DOUBLE / tn, 6) AS norm_val
        |FROM q JOIN t USING (q_pct)""".stripMargin,

    "m38_adaboost" ->
      s"""WITH $AdaCtes,
         |ens AS (SELECT sum(CASE WHEN (CASE WHEN
         |   ((SELECT CASE WHEN s1.pol = 0 THEN CASE WHEN (CASE WHEN s1.f = 0
         |      THEN e.x0 ELSE e.x1 END) > s1.thr THEN 1 ELSE -1 END
         |     ELSE CASE WHEN (CASE WHEN s1.f = 0 THEN e.x0 ELSE e.x1 END)
         |      > s1.thr THEN -1 ELSE 1 END END FROM s1)
         |     * (SELECT alpha1 FROM a1)
         |    + (SELECT CASE WHEN s2.pol = 0 THEN CASE WHEN (CASE WHEN
         |       s2.f = 0 THEN e.x0 ELSE e.x1 END) > s2.thr THEN 1 ELSE -1
         |       END ELSE CASE WHEN (CASE WHEN s2.f = 0 THEN e.x0 ELSE
         |       e.x1 END) > s2.thr THEN -1 ELSE 1 END END FROM s2)
         |     * (SELECT alpha2 FROM a2)) >= 0 THEN 1 ELSE -1 END) = e.y
         |  THEN 1 ELSE 0 END)::BIGINT AS acc FROM e),
         |app AS (SELECT acc * 1000000 // n AS acc_ppm FROM ens CROSS JOIN n)
         |SELECT 1::BIGINT AS round, s1.f::BIGINT AS feature,
         | s1.thr::BIGINT AS thr_milli, s1.pol::BIGINT AS polarity,
         | s1.err AS err_w, n.n AS w_tot, a1.alpha1 AS alpha6,
         | app.acc_ppm::BIGINT AS ens_acc_ppm
         |FROM s1 CROSS JOIN n CROSS JOIN a1 CROSS JOIN app
         |UNION ALL
         |SELECT 2, s2.f, s2.thr, s2.pol, s2.err, wt2.wtot, a2.alpha2,
         | app.acc_ppm
         |FROM s2 CROSS JOIN wt2 CROSS JOIN a2 CROSS JOIN app"""
        .stripMargin,

    "t_llr" -> {
      def sT(x: String) =
        s"CASE WHEN $x > 0 THEN $x::DOUBLE * ln($x::DOUBLE) ELSE 0.0 END"
      s"""WITH $TokCte,
         |g AS (SELECT string_split(u, ' ')[1] AS w1,
         |  string_split(u, ' ')[2] AS w2 FROM
         |  (SELECT unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i + 1])
         |    ELSE [] END) AS u FROM tok)),
         |bi AS (SELECT w1, w2, count(*)::BIGINT AS c FROM g GROUP BY 1, 2),
         |lf AS (SELECT w1, sum(c)::BIGINT AS cw1 FROM bi GROUP BY 1),
         |rt AS (SELECT w2, sum(c)::BIGINT AS cw2 FROM bi GROUP BY 1),
         |nn AS (SELECT sum(c)::BIGINT AS n FROM bi)
         |SELECT w1, w2, c, cw1, cw2,
         | round(2.0 * (${sT("c")} + ${sT("(cw1 - c)")} + ${sT("(cw2 - c)")}
         |   + ${sT("(n - cw1 - cw2 + c)")}
         |   - ${sT("cw1")} - ${sT("(n - cw1)")}
         |   - ${sT("cw2")} - ${sT("(n - cw2)")}
         |   + ${sT("n")}), 6) AS llr
         |FROM bi JOIN lf USING (w1) JOIN rt USING (w2) CROSS JOIN nn
         |ORDER BY c DESC, w1, w2 LIMIT 200""".stripMargin
    },

    "a75_nelson_aalen" ->
      s"""WITH u AS (SELECT user_id,
         |  CAST((coalesce(min(CASE WHEN event_type = 'purchase'
         |      THEN epoch_us(ts) END), max(epoch_us(ts)))
         |    - min(epoch_us(ts))) // 86400000000 AS BIGINT) AS day,
         |  CASE WHEN min(CASE WHEN event_type = 'purchase'
         |      THEN epoch_us(ts) END) IS NOT NULL
         |    THEN 1 ELSE 0 END::BIGINT AS event
         | FROM events GROUP BY user_id),
         |g AS (SELECT day, sum(event)::BIGINT AS d,
         |  count(*)::BIGINT AS leaving FROM u GROUP BY day),
         |r AS (SELECT day, d, leaving,
         |  sum(leaving) OVER (ORDER BY day ROWS BETWEEN CURRENT ROW
         |    AND UNBOUNDED FOLLOWING)::BIGINT AS n_risk FROM g)
         |SELECT day, n_risk, d AS d_events,
         | sum(d::DOUBLE / n_risk) OVER (ORDER BY day
         |   ROWS UNBOUNDED PRECEDING) AS hazard,
         | sum(d::DOUBLE / (n_risk * n_risk)) OVER (ORDER BY day
         |   ROWS UNBOUNDED PRECEDING) AS hazard_var
         |FROM r""".stripMargin)
}
