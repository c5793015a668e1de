package graft

import scala.util.control.NonFatal

import org.apache.spark.graftshim.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tools.PlanAudit

/** CI gate over every registered query, in ONE build pass per query
  * that feeds two audits.
  *
  * Plan SHAPE: the scale-killing shapes (cartesian products,
  * single-partition windows) can never silently regress, and
  * broadcast nested-loop joins stay confined to the documented
  * tiny-frame exceptions. A failure here means either (a) a new query
  * planned a shape that does not survive 100 TB — fix the plan
  * (DistRank for global ranks, broadcast/equi-join for cartesians),
  * or (b) a new INTENTIONAL bounded-frame exception — add it to the
  * allow-list below WITH a justification comment.
  *
  * Plan-build SIDE EFFECTS: constructing a registered query's plan
  * must not run Spark jobs. A build-time action (`.count()`,
  * `.collect()`, an eager MLlib fit) executes at PLAN time — before
  * any caller decides partitioning, limits, or whether to run the
  * query at all — and at 100 TB that is an unbounded hidden scan (the
  * m30_assoc_rules round-10 fix class, which the shape audit cannot
  * see).
  *
  * Job attribution uses the thread-local job group: construction
  * happens on this suite's thread inside a `graft-build:<name>` group,
  * so only jobs submitted synchronously during build carry it; the
  * shape audit runs after the group is cleared. The listener bus is
  * drained via the private-API bridge before asserting, so the count
  * is deterministic, not racy. The whole pass runs with AQE off: the
  * window detector needs the static plan, and build-job attribution
  * holds either way (zero actions means zero jobs).
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Queries allowed to plan a window with an empty partition spec:
    * each one's input frame is bounded by CONSTRUCTION (a fixed
    * lattice/domain), not by the data volume, so the one-task sort
    * touches O(domain) rows at any scale. */
  private val globalWindowAllowed = Set(
    // per-day survival curve: the day lattice is the output grain,
    // and the survival product is an IEEE-ordered fold that a
    // distributed regroup would change bitwise
    "a60_kaplan_meier",
    // BH ranks its p-values over the EVENT-TYPE domain (5 rows by
    // construction); the step-up scan is the same bounded frame
    "a81_bh_fdr",
    // Nelson-Aalen shares a60's justification: the frame is the
    // bounded-by-construction day lattice, and the cumulative-hazard
    // fold is an IEEE-ordered sum a distributed regroup would change
    "a75_nelson_aalen",
    // bottom-k sketch MERGE: at most 64 rows per scope survive the
    // per-scope (partitioned) stage; the constant-scope merge frame
    // is <= 64 * |scopes|
    "a62_bottomk_quantiles",
    // the closed-form isotonic twin is BY DESIGN an O(m^3) exact
    // oracle over a <= 101-value score lattice (score = id % 101);
    // the scale path is MLlib PAV in m25_isotonic
    "m25_isotonic_closed",
    // top-20 BPE merge candidates over char-bigram counts: the pair
    // domain is bounded by the alphabet squared (<= ~27^2 rows)
    "t_bpe_learn",
    // DeLong's placement moments aggregate per SCORE GROUP on the
    // 101-value lattice (the m15/a70 fixture) — bounded domain
    "m41_delong",
    // autocorrelation peak over a FIXED 48-lag frame
    "w64_period_detect",
    // log-rank at-risk counts: reverse cumsum over the a60-style
    // bounded day lattice (duration days, ≤ data span by construction)
    "a85_logrank",
    // DistRank parts=1 fast path on the 5-row per-type aggregate:
    // the constant-bucket window is the documented aggregate-grain
    // single-bucket plan (structurally guarded in DistRank)
    "m43_conformal",
    // same parts=1 fast path: categorical label counts (m18) and the
    // distinct dimension-pair key frame (o12) — both aggregate-grain
    "m18_stringindex", "o12_surrogate",
    // batch 70: the daily-revenue series is a bounded CALENDAR-SPAN
    // lattice (the a60_kaplan_meier class) — its ordered windows
    // (PACF lags, MACD recursions, Aroon frames) touch O(days) rows
    // at any data scale
    "w78_pacf", "w79_macd", "w80_aroon",
    // batch 71: same bounded day-lattice series (OHLC grain)
    "w81_atr", "w82_granger", "w83_stochastic",
    // batch 77: the 101-value score lattice (m64) and the day
    // lattice (w86) — both bounded by domain
    "m64_ks_stat", "w86_drawdown",
    // round 10: the m25 gate embeds the closed twin's bounded
    // <=101-score lattice window (same justification as
    // m25_isotonic_closed)
    "m25_isotonic_gate")

  /** Queries allowed to plan a BroadcastNestedLoopJoin: every entry
    * is an intentional crossJoin(broadcast(x)) of a scalar/parameter
    * frame (grand totals, fitted cut points, centroids, thresholds)
    * or a documented bounded recall-oracle. */
  private val bnlAllowed = Set(
    "a17_binning", "a24_constraints", "a27_psi", "a28_benford",
    "a34_cms", "a41_jsd", "a48_cuped", "c_curation", "d_dupstats",
    "d_embdup", "e2_seqfeatures", "j19_entity_res", "j24_bitemporal",
    "m11_pmi", "m12_chisq", "m15_cooccur", "m19_rfm", "m20_infogain",
    // m34: the same ivfAssign centroid crossJoin-of-broadcast(K=sqrt N)
    // as s_knn_join — the documented IVF blocking pass
    "m34_knn_clf",
    // m36: the 5-row class parameter frame fans out each test doc —
    // an intentional broadcast of the (class, prior, denominator) table
    "m36_nb_clf",
    // m37: the same ivfAssign centroid broadcast as s_knn_join/m34
    "m37_retrieval_eval",
    "m25_isotonic_closed", "m28_best_f1", "m4_residual", "m6_scaler",
    // round 10: the m25 gate embeds the closed twin's bounded-lattice
    // theta-join (<=101 rows by construction)
    "m25_isotonic_gate",
    "m8_scorer", "o23_timetravel", "s_ivf_recall", "s_ivf_topk",
    // s_two_stage: the 5-row query parameter frame fans out for the
    // brute-force recall oracle (the s_ivf_recall class)
    "s_two_stage",
    // s_rrf: the 1-ROW query-vector parameter frame broadcasts; the
    // constant-key equi-join folds to a BNL of one row by design
    "s_rrf",
    "s_knn_join", "t_bigram_rare", "t_bpe_merges",
    // t_textrank: m15_cooccur's 1-row corpus-size scalar crossJoin
    // feeding the relative df cap
    "t_textrank",
    "t_ccnet_buckets", "t_dsir", "t_heaps", "t_keyphrase", "t_mixture",
    "t_stopword_discovery", "t_tfidf", "t_time_split", "t_unigram_lp",
    "t_upsample", "w62_ewma_chart", "w64_period_detect",
    // batch 42-44 scalar-parameter crossJoins: the tie/total/support
    // one-row aggregates broadcast into the final single-row compute
    "a84_kruskal_wallis", "a87_friedman", "a88_wasserstein",
    "a89_cochran_q",
    // m49: the 1-row OLS scalar frame (slope/intercept/s²) broadcasts
    // into the per-row influence map
    "m49_cooks",
    // m30: the 1-row transaction-count scalar frame broadcasts into
    // the pair-support threshold + lift (round 10: replaced the
    // build-time .count() so plan construction is action-free)
    "m30_assoc_rules",
    // g20: the 11-row literal k-ladder joins the bounded degree
    // histograms on an inequality — broadcast of a constant frame
    "g20_richclub",
    // a91: the (n, sx) scalar totals and num0 one-row frames
    // broadcast into the bounded 24-lag compute
    "a91_ljungbox",
    // a100/a101: the 1-row mean-anchor / median / totals frames
    // broadcast into the row-scale moment pass and the 3-row table
    "a100_jarque_bera", "a101_mood_median",
    // m51: the 1-row nvec/ssw scalar frames broadcast into the
    // 64-row per-dim moment combine
    "m51_calinski",
    // a102/a103: the 1-row adjacent-pair sum broadcasts into the
    // 1-row denominator combine (the final crossJoin)
    "a102_chatterjee_xi", "a103_bartels_rvn",
    // g21: the per-round 1-row max-renormalizer broadcasts into the
    // node-score frame; w71: the 1-row global-moment frame broadcasts
    // into the per-day subgroup table
    "g21_eigencentrality", "w71_xbar_chart",
    // a105: the 1-row k / n_blocks scalar frames broadcast into the
    // completeness filter and the final single-row compute (the a87
    // Friedman shape)
    "a105_page_trend",
    // a92: the one-row (n) total crossJoins into the hour lattice;
    // m44: the 5-row marginal frames crossJoin into the 25-cell
    // expected-agreement sum — all bounded parameter frames
    "a92_changepoint", "m44_qwk",
    // m45: the 50-row LCG draw-pair parameter frame broadcasts into
    // the hour-lattice inlier count
    "m45_ransac",
    // m46: cell-pair concordance — both sides of the crossJoin are
    // the bounded (day × event × riskband ≤ ~1300 rows) lattice;
    // a94: the one-row B total broadcasts into the final row
    "m46_cindex", "a94_fleiss_kappa",
    // batch 59-67 parameter frames: a107's two 1-row entropy frames;
    // a108's inequality join of the bounded 5×4 contingency grid with
    // itself; m54's cumulative self-join of the 10-row decile table;
    // a113's 1-row day-bounds frame into the day-grain series; m57's
    // 1-row good/bad totals; a111's 1-row theta/exact frames; j26's
    // 1-row blocking-stats frame (the j19 shape); s_hard_negatives'
    // ivfAssign centroid broadcast (the s_knn_join class)
    "a107_theil_u", "a108_gk_gamma", "m54_qini", "a113_chow",
    "m57_woe_iv", "a111_theta_sketch", "j26_jw_entity",
    "s_hard_negatives",
    // a115: a108's inequality join of the bounded 5×4 grid with
    // itself plus three 1-row margin frames
    "a115_somers_d",
    // w78: the 1-row (n, total) frame broadcasts into the bounded
    // day-lattice series (the a113_chow shape)
    "w78_pacf",
    // g23: three 1-row scalar frames (start node, far node, sweep-2
    // extent) combine into the single output row; m60: the 1-row
    // moment frame broadcasts into the per-row distance map (the
    // m49_cooks shape)
    "g23_pseudo_diameter", "m60_mahalanobis",
    // j27: j26's 1-row blocking-stats frame; d_bloom_handshake: the
    // 4-row shard parameter frame fans each doc out to its 3 peers
    "j27_dl_entity", "d_bloom_handshake",
    // m58: fifteen 1-row entropy frames combine into the 4-row
    // feature ladder (the a107 shape, one frame per margin)
    "m58_mrmr",
    // a121: the a108-style inequality join of the bounded 7×50 grid
    // with itself plus two 1-row moment frames
    "a121_jonckheere",
    // m64: the 1-row argmax frame re-enters the 101-row lattice
    "m64_ks_stat")

  /** Queries whose construction INTENTIONALLY runs jobs — four
    * classes, every one a documented multi-pass or materializing
    * operator. Anything NOT listed must build with ZERO jobs; add an
    * entry only with its class (or a new written justification).
    *
    * (a) Eager fits / iterative driver loops: the model or fixpoint
    *     IS the query — MLlib GBT/isotonic/FP-Growth, Lloyd steps,
    *     power iteration, IPF raking, greedy MMR/k-center/mRMR,
    *     AdaBoost rounds, Holt-Winters/DTW/Markov packed-fold params,
    *     median polish. Each iteration is a distributed pass; only
    *     O(params) lands on the driver.
    * (b) Graph/closure frontier loops: Pregel-shape iterate-until-
    *     fixpoint (PageRank, k-core, k-truss, components, PPR,
    *     harmonic, pseudo-diameter, TextRank) with a driver-side
    *     convergence check (1-row collect per round).
    * (c) IO round-trips: the sink is the operator under test — the
    *     query writes files then reads them back (s1/s6–s20 csv,
    *     jsonl, orc, text, xml, zstd, bucketed, partitioned,
    *     merge-schema, bloom, dynamic-overwrite, s5 model artifacts).
    * (d) Structured-streaming batch-parity harnesses: a bounded
    *     memory-source stream must RUN its micro-batches to emit the
    *     sink table the query returns.
    * Plus bounded driver collects feeding literal/broadcast frames
    * (centroids, cut points, corpus scalars) — aggregate-grain or
    * capped by construction, never row-scale. */
  private val buildJobsAllowed: Set[String] = Set(
    // (a) eager fits / iterative driver loops
    "e1_rmse_gate", "e1_tree_ensemble", "m2_gbt", "m2_rmse_gate",
    "m25_isotonic", "m25_isotonic_gate", "m26_fpgrowth",
    "m27_perm_importance", "m29_gbt_importance", "m36_nb_clf",
    "m38_adaboost", "m39_learning_curve", "m42_replay_eval",
    "m45_ransac", "m47_pca", "m50_davies_bouldin", "m51_calinski",
    "m52_silhouette", "m58_mrmr", "m5_ridge", "m5_ridge_closed",
    "m61_dbscan_grid", "m8_nn_gate", "s_kcenter", "s_kmeans_ivf",
    "s_mmr", "t_quality_clf", "a90_raking", "a95_entropy_rate",
    "a122_median_polish", "w66_dtw", "w68_markov_stationary",
    "w72_holt_winters",
    // (a/bounded collects) IVF centroid / scalar parameter frames
    "s_brute_topk", "s_ivf_recall", "s_ivf_topk", "s_rrf",
    "v_proj_recall", "t_bm25", "t_ccnet_buckets", "t_kneser_ney",
    "t_kwic", "t_llr", "j16_bloom",
    // m40: the AdaBoost fit it explains (m38_adaboost's rounds) plus
    // its 1-row stump-sum fetch
    "m40_shapley",
    // (b) graph/closure frontier loops
    "c_curation", "d_components", "d_embclusters",
    "g13_modularity", "g16_ktruss", "g17_harmonic", "g19_bipartite",
    "g21_eigencentrality", "g23_pseudo_diameter", "g5_kcore",
    // (b) rank loops, whose rounds build lazily: the jobs left are the
    // caller's edge (and seed) frame stages that adaptive execution
    // materializes when Graph.rankLoop converts the frame with `.rdd`
    // (the bipartite join and distinct; t_textrank's term and pair caches)
    "g10_ppr", "g_pagerank", "t_textrank",
    // (c) IO round-trips (the sink is the operator under test)
    "s10_bucketed", "s11_text", "s12_xml", "s13_binaryfile",
    "s14_badrecords", "s15_recursive", "s16_zstd", "s17_wholetext",
    "s18_multiline_csv", "s19_parquet_bloom", "s1_csv_roundtrip",
    "s20_dynamic_overwrite", "s5_artifacts", "s5_roundtrip_gate",
    "s6_jsonl", "s7_partitioned", "s8_orc", "s9_mergeschema",
    // o20: write-audit-publish writes the staged parquet, audits it
    // with a 1-row fetch and reads the published directory back
    "o20_wap",
    // (d) streaming batch-parity harnesses
    "w10_stream_ema", "w11_stream_roll", "w12_stream_window",
    "w14_stream_join", "w15_stream_dedup", "w18_stream_enrich",
    "w19_stateful_v2", "w29_stream_cusum", "w36_stream_topk",
    "w37_stream_session", "w38_stream_typecounts", "w50_stream_timer",
    "w56_stream_update", "w59_stream_attribution",
    "w60_stream_left_join", "w70_stream_hll", "w76_stream_kalman",
    "w85_stream_ph")

  /** What the one pass over the registry found. */
  private final case class Pass(planFailures: Seq[String],
      buildFailures: Seq[String], buildJobs: Map[String, Int])

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: " + String.valueOf(e.getMessage).take(120)

  private lazy val pass: Pass = {
    val sc = spark.sparkContext
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null && g.startsWith("graft-build:")) {
          val q = g.stripPrefix("graft-build:")
          counts.merge(q, 1, (a: Int, b: Int) => a + b)
        }
      }
    }
    // warm Tables' schema cache OUTSIDE the measured groups: the
    // first read per path runs the one-task parquet footer-inference
    // job by design (the catalog stands in for it on a cluster)
    graft.io.Tables.names.foreach(graft.io.Tables.load(spark, dir, _))
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    val buildFailures = scala.collection.mutable.ArrayBuffer[String]()
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.addSparkListener(listener)
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        sc.setJobGroup(s"graft-build:$name", s"build $name")
        val built: Option[DataFrame] =
          try Some(fn(spark, dir))
          catch { case NonFatal(e) =>
            buildFailures += s"$name: ${describe(e)}"
            failures += s"$name: plan build failed: ${describe(e)}"
            None
          } finally sc.clearJobGroup()
        built.foreach { df =>
          val flags =
            try PlanAudit.audit(df)
            catch { case NonFatal(e) =>
              failures += s"$name: plan build failed: ${describe(e)}"
              PlanAudit.Flags(cartesian = false, bnl = false,
                globalWindow = false, exchanges = 0)
            }
          if (flags.cartesian)
            failures += s"$name: CartesianProduct (never allowed)"
          if (flags.globalWindow && !globalWindowAllowed(name))
            failures += s"$name: single-partition window not in allow-list"
          if (flags.bnl && !bnlAllowed(name))
            failures += s"$name: BroadcastNestedLoopJoin not in allow-list"
        }
      }
      ListenerBusBridge.waitUntilEmpty(sc)
    } finally {
      sc.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
    import scala.jdk.CollectionConverters._
    Pass(failures.toSeq, buildFailures.toSeq, counts.asScala.toMap)
  }

  test("no cartesian, no unlisted global window or BNL, all plans build") {
    val failures = pass.planFailures
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("plan construction fires no Spark jobs outside the allow-list") {
    val buildFailures = pass.buildFailures
    info(s"${pass.buildJobs.size} queries fire build-time jobs: " +
      pass.buildJobs.toSeq.sorted.map { case (q, n) => s"$q=$n" }
        .mkString(" "))
    assert(buildFailures.isEmpty, buildFailures.mkString("\n"))
    val offenders = pass.buildJobs.toSeq
      .filterNot { case (q, _) => buildJobsAllowed(q) }
      .sortBy(_._1)
      .map { case (q, n) => s"$q: $n job(s) during plan construction" }
    assert(offenders.isEmpty,
      "hidden build-time actions (add to allow-list ONLY with a " +
        "written justification):\n" + offenders.mkString("\n"))
  }

  test("a global window inside a scalar subquery is flagged") {
    // the frame's only window sorts the subquery's whole input in one
    // task; the outer plan has none
    val ranked = spark.range(50)
      .withColumn("r", row_number().over(Window.orderBy("id")))
      .agg(max("r")).scalar()
    val df = spark.range(10).select(col("id"), ranked.as("top"))
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try Seq("false", "true").foreach { on =>
      spark.conf.set("spark.sql.adaptive.enabled", on)
      assert(PlanAudit.audit(df).globalWindow, s"AQE=$on")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
