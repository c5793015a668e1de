package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.metrics.Score
import graft.operators.{Aggregations, DistRank}
import Q._

/** Registered queries for the aggregation/join/set operators (SURVEY
  * §2.4 A2-A8, §2.3 J3/J4, §2.7 O3/O5).
  *
  * Scale notes: every groupBy here is a single hash-partial +
  * final-agg shuffle (map-side combine); the customer join broadcasts
  * the small dimension; the grouped-transform windows share one
  * exchange on user_id.
  */
object AggQ extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(
    // A2: multi-agg with named outputs incl. the pre-multiplied
    // weighted sum (`main_cuda.py:365-380`; the algebraic rewrite
    // weight*value BEFORE the agg is kept explicit — Catalyst won't
    // invent it).
    "a2_multiagg" -> ((s, dir) => {
      lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          r2(sum(col("l_quantity"))).as("sum_qty"),
          r2(sum(col("l_extendedprice"))).as("sum_price"),
          r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("sum_disc_price"),
          r6(avg(col("l_quantity"))).as("avg_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          count(lit(1)).as("count_order"),
          sum(when(col("l_quantity") > 25, 1L).otherwise(0L)).as("n_big"))
    }),

    // Per-group 3-sigma outlier flag with ZERO float ops: the z-test
    // |x-mean| > 3*std is algebraically cleared of divisions/sqrt —
    //   (n·c − S1)²·(n−1) > 9·n·(n·S2 − S1²)
    // over exact integer cents, evaluated in decimal(38,0) (the n²·s2
    // terms exceed int64 once groups grow past ~1e6 rows; DuckDB's
    // sum(BIGINT)→HUGEINT matches). The boolean is bit-portable by
    // construction — no rounding boundary exists to drift
    // (ORACLE_NOTES.md rule 1). The event-value distribution is
    // heavy-tailed (kurtosis ≈ 7 for clicks), so the flag actually
    // fires — on a platykurtic column 3σ is unreachable (max |z| on
    // uniform data is √3). Scale shape: one map-side-combined groupBy
    // produces a per-type stats table broadcast back over the fact —
    // no second shuffle.
    "a25_outliers" -> ((s, dir) => {
      val o = events(s, dir).select(col("event_id"), col("event_type"),
        lattice(col("value"), 100).as("cents"))
      val cd = col("cents").cast("decimal(38,0)")
      val stats = o.groupBy("event_type").agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(cd).as("s1"),
        sum(cd * cd).as("s2"))
      val n = col("n")
      val dev = n * cd - col("s1")
      val lhs = dev * dev * (n - lit(1).cast("decimal(38,0)"))
      val rhs = lit(9).cast("decimal(38,0)") * n *
        (n * col("s2") - col("s1") * col("s1"))
      o.join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"), col("cents"),
          dev.cast("long").as("dev_scaled"),
          (lhs > rhs).as("is_outlier"))
    }),

    // Grouped skewness / excess kurtosis from exact integer power
    // sums S1..S4 (decimal(38,0) ↔ DuckDB HUGEINT — S4 of cents
    // overflows int64 beyond ~1e3 rows/group): the only float work
    // is the FINAL closed-form
    // moment formula, written token-for-token identically in the
    // oracle so both engines execute the same IEEE op sequence on
    // bit-identical inputs. Skew/kurtosis are scale-invariant, so
    // the cents lattice cancels out of the results.
    "a26_moments" -> ((s, dir) => {
      val cd = lattice(col("value"), 100).cast("decimal(38,0)")
      val agg = events(s, dir)
        .select(col("event_type"), cd.as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("c")).as("sl1"),
          sum(col("c") * col("c")).as("sl2"),
          sum(col("c") * col("c") * col("c")).as("sl3"),
          sum(col("c") * col("c") * col("c") * col("c")).as("sl4"))
      val nd = col("n").cast("double")
      val s1 = col("sl1").cast("double")
      val s2 = col("sl2").cast("double")
      val s3 = col("sl3").cast("double")
      val s4 = col("sl4").cast("double")
      val m2 = (s2 - s1 * s1 / nd) / nd
      val m3 = (s3 - lit(3.0) * s1 * s2 / nd +
        lit(2.0) * s1 * s1 * s1 / (nd * nd)) / nd
      val m4 = (s4 - lit(4.0) * s1 * s3 / nd +
        lit(6.0) * s1 * s1 * s2 / (nd * nd) -
        lit(3.0) * s1 * s1 * s1 * s1 / (nd * nd * nd)) / nd
      agg.select(col("event_type"), col("n"),
        r6(m3 / sqrt(m2 * m2 * m2)).as("skewness"),
        r6(m4 / (m2 * m2) - lit(3.0)).as("kurtosis"))
    }),

    // Population Stability Index (PSI) — THE industry drift metric
    // between two cohorts of the same feature (here the deterministic
    // event_id-parity split). Counts are exact integers via integer
    // binning (cents DIV 2500, capped); each bin's PSI term
    // (pa−pb)·ln(pa/pb) divides exact longs and takes ONE ln —
    // the proven single-libm class (t_tfidf). Bins empty on either
    // side yield null (no epsilon fudge). Scale: one groupBy on a
    // ~20-row bin table; totals broadcast back.
    "a27_psi" -> ((s, dir) => {
      val cents = lattice(col("value"), 100)
      val b = events(s, dir)
        .withColumn("cents", cents)
        .select(least(expr("cents DIV 2500"), lit(19L)).as("bin"),
          (col("event_id") % 2 === 0).as("is_a"))
      val agg = b.groupBy("bin").agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb"))
      val tot = agg.agg(sum("na").as("ta"), sum("nb").as("tb"))
      val pa = col("na").cast("double") / col("ta")
      val pb = col("nb").cast("double") / col("tb")
      agg.crossJoin(broadcast(tot)).select(
        col("bin"), col("na"), col("nb"),
        r6(when(col("na") > 0 && col("nb") > 0,
          (pa - pb) * log(pa / pb)).otherwise(lit(null).cast("double")))
          .as("psi_term"))
    }),

    // Pointwise mutual information over the (event_type × value-bin)
    // contingency table — the feature-association screen of a feature
    // store. All margins are exact integer sums over the TINY cell
    // table (the only shuffle is the cell groupBy; margin windows run
    // on ~100 rows); pmi = ln((n_cell·N)/(n_row·n_col)) divides exact
    // longs and takes one ln.
    "m11_pmi" -> ((s, dir) => {
      val cents = lattice(col("value"), 100)
      val cells = events(s, dir)
        .withColumn("cents", cents)
        .select(col("event_type"),
          least(expr("cents DIV 2500"), lit(19L)).as("bin"))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n_cell"))
      val wType = Window.partitionBy("event_type")
      val wBin = Window.partitionBy("bin")
      // grand total as a broadcast scalar, not a partitionBy() window
      val tot = cells.agg(sum("n_cell").as("__tot"))
      cells.crossJoin(broadcast(tot))
        .select(col("event_type"), col("bin"), col("n_cell"),
          r6(log((col("n_cell") * col("__tot")).cast("double") /
            (sum("n_cell").over(wType) * sum("n_cell").over(wBin))))
            .as("pmi"))
    }),

    // M12/net-new: chi-square association between two categoricals,
    // per contingency cell (feature-selection screen). The classic
    // statistic sums (O−E)²/E over cells — a float reduction whose
    // summation order is engine-defined, so the CELL TERMS are the
    // output (the caller sums; the driver hashes the deterministic
    // parts). rt·ct is an exact BIGINT; expected and chi_term are a
    // fixed pointwise IEEE expression tree on exact operands —
    // bit-portable unrounded (ORACLE_NOTES rule 1 + pointwise chain).
    "m12_chisq" -> ((s, dir) => {
      val cells = orders(s, dir)
        .groupBy(col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("obs"))
      val wS = Window.partitionBy("status")
      val wP = Window.partitionBy("priority")
      // grand total as a broadcast scalar, not a partitionBy() window
      val tot = cells.agg(sum("obs").as("__tot"))
      val e = (sum("obs").over(wS) * sum("obs").over(wP)).cast("double") /
        col("__tot").cast("double")
      val dev = col("obs").cast("double") - e
      cells.crossJoin(broadcast(tot))
        .select(col("status"), col("priority"), col("obs"),
          e.as("expected"), (dev * dev / e).as("chi_term"))
    }),

    // A28/net-new: Benford first-digit profile (fraud/quality screen
    // for numeric columns). The leading digit is taken from the
    // INTEGER cents' decimal string — never via log10, which is not
    // correctly rounded and can misbucket exact powers of ten.
    "a28_benford" -> ((s, dir) => {
      val cents = lattice(col("l_extendedprice"), 100)
      val d = lineitem(s, dir)
        .select(substring(cents.cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      // total as a broadcast scalar, not a partitionBy() window
      val tot = d.agg(sum("n").as("__tot"))
      d.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          (col("n").cast("double") / col("__tot").cast("double"))
            .as("share"))
    }),

    // A3: grouped transform — group stats broadcast back to rows via
    // an unbounded window (`main_cuda.py:253-257`). Stats are computed
    // over exact integer cents (values are 2-decimal): the group sums
    // are exact BIGINTs, so mean/std come out bitwise identical in any
    // engine and any summation order — no float-rounding boundary.
    "a3_transform" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
      val c = lattice(col("value"), 100)
      val n = count(c).over(w)
      val s1 = sum(c).over(w).cast("double")
      val s2 = sum(c * c).over(w).cast("double")
      val meanC = s1 / n
      val varC = (s2 - s1 * s1 / n) / (n - lit(1))
      // dev_scaled = n*c - sum(c): the per-row deviation from the group
      // mean scaled by n*100 — exact BIGINT, engine-portable with no
      // rounding at all (value-mean itself lands on exact decimal ties
      // for power-of-two group sizes, where engines' round() disagree).
      events(s, dir)
        .withColumn("__c", c)
        .select(
          col("event_id"), col("value"),
          (n * col("__c") - sum(col("__c")).over(w)).as("dev_scaled"),
          r6((col("__c").cast("double") - meanC) / sqrt(varC)).as("zscore"),
          min(col("value")).over(w).as("grp_min"),
          max(col("value")).over(w).as("grp_max"))
    }),

    // A4: group-mean imputation (`nn/nn-mps.py:573-629`).
    "a4_impute" -> ((s, dir) => {
      // The group mean is computed EXACTLY on the cent lattice
      // (Σcents as BIGINT, ONE division by 100·n) and emitted raw:
      // a float avg() + round(...,6) put 32-in-a-million rows on a
      // rounding tick at the 10x scale step, where the engines'
      // different summation orders flipped the 6th decimal. Exact
      // integer sums have no order sensitivity and one correctly-
      // rounded division is bitwise identical everywhere.
      val w = Window.partitionBy("user_id")
      val masked = when(col("event_type") === "error", lit(null))
        .otherwise(col("value"))
      val cents = when(col("event_type") =!= "error",
        lattice(col("value"), 100))
      events(s, dir)
        .withColumn("masked", masked)
        .withColumn("gmean",
          sum(cents).over(w).cast("double") /
            (count(cents).over(w) * 100).cast("double"))
        .select(col("event_id"),
          coalesce(col("masked"), col("gmean")).as("imputed"))
    }),

    // A5: circular mean of angles per group
    // (atan2(avg sin, avg cos), `nn/nn-mps.py:395-413`).
    "a5_circmean" -> ((s, dir) => {
      events(s, dir)
        .groupBy("user_id")
        .agg(
          r6(atan2(avg(sin(radians(col("value")))),
            avg(cos(radians(col("value")))))).as("circ_mean"),
          count(lit(1)).as("n"))
    }),

    // A7/J4/M9: the competition metric end-to-end — id concat, inner
    // join, RMSE (`scoring.py:10-53`, id `main_cuda.py:1533-1540`).
    "a7_score" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val id = concat_ws("_", col("l_orderkey"), col("l_linenumber"))
      val sol = li.select(id.as("id"), col("l_quantity").as("x"),
        (col("l_discount") * 100).as("y"))
      val sub = li.select(id.as("id"),
        (col("l_quantity") + (col("l_linenumber") % 3 - 1) * 0.1).as("x"),
        (col("l_discount") * 100 + 0.05).as("y"))
      Score.rmseDF(sol, sub).select(r6(col("rmse")).as("rmse"))
    }),

    // A8: fold-ensemble averaging — mean across model prediction
    // columns (`main_cuda.py:1503-1521`), array-fold form.
    "a8_ensemble" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val preds = array(
        col("l_quantity") * 1.1,
        col("l_quantity") + col("l_discount") * 5,
        col("l_quantity") * 0.9 + col("l_tax") * 20)
      li.select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        r6(aggregate(preds, lit(0.0), (a, x) => a + x) / size(preds))
          .as("ens_mean"))
    }),

    // M4: residual-ensemble blend with inverse-RMSE weights
    // (`main_cuda.py:1009-1126`): per-model global RMSE → weights →
    // blended prediction. The 1-row stats join is a broadcast.
    "m4_residual" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val base = li.select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity").as("truth"),
        (col("l_quantity") + (col("l_linenumber") % 5 - 2) * 0.2).as("p1"),
        (col("l_quantity") + col("l_discount") * 4 - 0.2).as("p2"))
      val stats = base.agg(
        sqrt(avg(pow(col("truth") - col("p1"), 2))).as("rmse1"),
        sqrt(avg(pow(col("truth") - col("p2"), 2))).as("rmse2"))
      val blended = base.crossJoin(broadcast(stats))
        .withColumn("w1", (lit(1.0) / col("rmse1")) /
          (lit(1.0) / col("rmse1") + lit(1.0) / col("rmse2")))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          r6(col("w1") * col("p1") + (lit(1.0) - col("w1")) * col("p2"))
            .as("blend"))
      blended
    }),

    // J3: feature-table left join back onto the main table
    // (`main_cuda.py:1380`), small side broadcast.
    "j3_featjoin" -> ((s, dir) => {
      val o = orders(s, dir)
      val c = customer(s, dir)
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"), "left")
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(count(lit(1)).as("n"), r2(sum(col("o_totalprice"))).as("total"))
    }),

    // O3: pivot rank→columns with an explicit value list
    // (`main_cuda.py:385-387`).
    "o3_pivot" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id"))
      events(s, dir)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .groupBy("user_id")
        .pivot("rnk", Seq(1, 2, 3))
        .agg(first(col("value")))
        .withColumnRenamed("1", "v1")
        .withColumnRenamed("2", "v2")
        .withColumnRenamed("3", "v3")
    }),

    // J11: snowflake dimension chain supplier -> nation -> region, both
    // dims broadcast — the chained small-dim lookup every star-schema
    // pipeline does; also the only consumers of the region/supplier
    // tables, completing driver-table coverage.
    "j11_snowflake" -> ((s, dir) => {
      supplier(s, dir)
        .join(broadcast(nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_suppliers"),
          r2(sum(col("s_acctbal"))).as("acctbal_sum"),
          countDistinct(col("n_name")).as("n_nations"))
    }),

    // J9/net-new: null-safe equality join (<=>) — NULL keys match each
    // other instead of dropping, the semantics imputation pipelines
    // need when the "unknown" bucket is a real group.
    "j9_nullsafe" -> ((s, dir) => {
      val e = events(s, dir).select(col("event_id"),
        when(col("event_type") === "error", lit(null))
          .otherwise(col("event_type")).as("mkey"))
      val counts = e.groupBy("mkey").agg(count(lit(1)).as("type_n"))
        .withColumnRenamed("mkey", "ckey")
      e.join(counts, col("mkey") <=> col("ckey"))
        .select(col("event_id"), col("mkey"), col("type_n"))
    }),

    // J10/net-new: left-semi and left-anti joins (existence filters
    // that never duplicate or widen rows), tagged and unioned.
    "j10_semi_anti" -> ((s, dir) => {
      val li = lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"))
      val fOrders = orders(s, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"))
      val semi = li.join(fOrders, col("l_orderkey") === col("o_orderkey"),
        "left_semi").withColumn("tag", lit("semi"))
      val anti = li.join(fOrders, col("l_orderkey") === col("o_orderkey"),
        "left_anti").withColumn("tag", lit("anti"))
      semi.unionByName(anti)
    }),

    // J16/net-new: bloom-filter semi-join reduction. The small side's
    // join keys are aggregated into a bloom filter whose codegen'd
    // `might_contain` probe pre-filters the big side BEFORE the join
    // shuffle — at 100 TB the true negatives (most of the scan) never
    // leave the scan stage. False positives only let a few extra rows
    // into the exact join, so the result is exact and oracle-able as
    // the plain join. (functions/BloomKeyFilter.scala)
    "j16_bloom" -> ((s, dir) => {
      val urgent = orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      // Sized to the dim-side key count (~20% of orders): the filter
      // bytes ride the serialized plan into every task binary, so
      // over-sizing inflates scheduling cost; under-sizing only raises
      // the false-positive rate (never wrong results).
      val bytes = graft.functions.BloomKeyFilter.build(
        urgent, "o_orderkey", expectedItems = 200000L)
      lineitem(s, dir)
        .filter(graft.functions.BloomKeyFilter.mightContain(col("l_orderkey"), bytes))
        .select(col("l_orderkey"), lattice(col("l_quantity"), 100).as("qc"))
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_lines"), sum(col("qc")).as("qty_cents"))
    }),

    // O7/net-new: unpivot (wide metric columns -> long rows), the
    // inverse of the O3 pivot.
    "o7_unpivot" -> ((s, dir) => {
      lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity").as("qty"), (col("l_discount") * 100).as("disc_pct"),
          col("l_tax").as("tax"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("qty"), col("disc_pct"), col("tax")),
          "metric", "value")
        .select(col("l_orderkey"), col("l_linenumber"), col("metric"),
          r6(col("value")).as("value"))
    }),

    // O8/net-new: INTERSECT / EXCEPT set operations, tagged and
    // unioned (distinct-set semantics on both engines).
    "o8_setops" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val big = li.filter(col("l_quantity") > 45).select("l_orderkey").distinct()
      val disc = li.filter(col("l_discount") > 0.08).select("l_orderkey").distinct()
      big.intersect(disc).withColumn("tag", lit("both"))
        .unionByName(big.except(disc).withColumn("tag", lit("big_only")))
    }),

    // J8/net-new: range (band) join — same-user event pairs whose
    // values differ by <= 10 cents, via bucket blocking
    // (`operators/Spatial.bandJoin`). Values become exact integer cents
    // first so bucket coverage is float-proof; the oracle is the plain
    // theta-join, feasible only at oracle scale — which is the point.
    "j8_range" -> ((s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_id"),
        lattice(col("value"), 100).as("cv"))
      val a = e.select(col("user_id"), col("event_id").as("id_a"),
        col("cv").as("cv_a"))
      val b = e.select(col("user_id"), col("event_id").as("id_b"),
        col("cv").as("cv_b"))
      graft.operators.Spatial.bandJoin(a, b, Seq("user_id"),
          "cv_a", "cv_b", 10.0)
        .filter(col("id_a") < col("id_b"))
        .select(col("user_id"), col("id_a"), col("id_b"),
          (col("cv_b") - col("cv_a")).as("dcents"))
    }),

    // A9/net-new: exact interpolated quantiles per group — Spark's
    // `percentile` (exact, (n-1)p linear interpolation; same definition
    // as DuckDB quantile_cont). percentile_approx is the 100 TB path
    // but is algorithm-specific, so the EXACT variant is the oracled
    // surface; a 60-row group sort per user is one hash shuffle.
    "a9_quantiles" -> ((s, dir) => {
      events(s, dir)
        .groupBy("user_id")
        .agg(
          r6(percentile(col("value"), lit(0.5))).as("p50"),
          r6(percentile(col("value"), lit(0.9))).as("p90"),
          count(lit(1)).as("n"))
    }),

    // A10/net-new: rollup subtotals (grouping-set aggregation). Data
    // has no null group keys, so subtotal rows are distinguished by a
    // literal sentinel — portable without engines' grouping_id
    // encodings having to agree.
    "a10_rollup" -> ((s, dir) => {
      lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), r2(sum(col("l_quantity"))).as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
          col("n"), col("qty"))
    }),

    // Skew-salted join (100 TB toolbox, `operators/Skew.scala`): ~90%
    // of lineitem rows share hot key 0; the salted plan spreads them
    // across `factor` sub-keys while the replicated 25-row nation dim
    // guarantees every (key, salt) bucket still matches. Output is
    // identical to the plain equi-join by construction — which is
    // exactly what the oracle checks.
    "skew_salted" -> ((s, dir) => {
      val large = lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        when(col("l_partkey") % 10 === 0, col("l_suppkey") % 25)
          .otherwise(lit(0L)).as("k"))
      val small = nation(s, dir).select(
        col("n_nationkey").cast("long").as("k"), col("n_name"))
      graft.operators.Skew.saltedJoin(large, small, Seq("k"), factor = 8)
        .select("l_orderkey", "l_linenumber", "k", "n_name")
    }),

    // O5: dedup on keys, deterministic keeper (min id per key) —
    // dropDuplicates itself is order-nondeterministic under shuffle,
    // so the engine's exact-dedup pattern is groupBy+min.
    "o5_dedup" -> ((s, dir) => {
      events(s, dir)
        .groupBy("user_id", "event_type")
        .agg(min(col("event_id")).as("keep_event_id"),
          count(lit(1)).as("n_dups"))
    }),

    // A11/net-new: HLL++ approximate count-distinct — THE 100 TB
    // cardinality operator (exact distinct shuffles every key; the
    // sketch is a few KB per group, merged map-side). The sketch is
    // algorithm-specific, so the oracle encodes a TOLERANCE instead of
    // a value: ratio_x20 = round(approx/exact * 20) must equal 20,
    // i.e. the estimate lands within 2.5% of truth (rsd=0.01 gives
    // ~1% typical error). Register-max merging is order-independent,
    // so the estimate itself is deterministic under any partitioning.
    "a11_approx" -> ((s, dir) => {
      // Two-phase: reduce to distinct (flag, partkey) pairs first (one
      // map-side-combinable shuffle), then count + HLL over the deduped
      // set. HLL registers are insertion-multiset-invariant, so the
      // estimate is identical to hashing the raw column — but this
      // shape avoids the Expand a combined exact+approx agg plans, and
      // the exact count becomes a cheap count(*). At 100 TB the first
      // phase is the only big shuffle and it combines map-side.
      lineitem(s, dir)
        .groupBy("l_returnflag", "l_partkey").agg(count(lit(1)).as("__n"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("exact_nd"),
          approx_count_distinct(col("l_partkey"), 0.01).as("approx_nd"))
        .select(col("l_returnflag"), col("exact_nd"),
          round(col("approx_nd").cast("double") / col("exact_nd") * 20)
            .cast("long").as("ratio_x20"))
    }),

    // A12/net-new: full grouping-set aggregation (CUBE) with explicit
    // GROUPING flags — extends a10's ROLLUP to all 2^k subtotal
    // combinations. Null group keys are disambiguated BOTH ways: the
    // sentinel coalesce (portable display) and grouping() flags (the
    // real API). One expand + one hash-agg shuffle.
    "a12_cube" -> ((s, dir) => {
      lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"),
          count(lit(1)).as("n"), r2(sum(col("l_quantity"))).as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
          col("g_rf"), col("g_ls"), col("n"), col("qty"))
    }),

    // A15/net-new: approximate-quantile ERROR-BOUND oracle. The sketch
    // value itself is engine-specific (not mirrorable), but its
    // accuracy contract is: with accuracy A, the result must sit
    // within rank-error N/A of the exact quantile. We emit the exact
    // p50 plus a boolean asserting the sketch landed within the
    // rank-tolerance VALUE window — deterministically TRUE in both
    // engines unless the sketch breaks its bound, which is exactly
    // what makes an approximate algorithm hash-checkable.
    "a15_approxq" -> ((s, dir) =>
      events(s, dir).groupBy("user_id").agg(
        r6(percentile(col("value"), lit(0.5))).as("p50_exact"),
        // accuracy 100 bounds rank error by ceil(n/100) ≈ 1 rank for
        // these group sizes; the exact 0.4/0.6 quantiles are ~±6 ranks
        // out, so a contract-keeping sketch ALWAYS lands inside
        percentile_approx(col("value"), lit(0.5), lit(100))
          .between(percentile(col("value"), lit(0.4)),
            percentile(col("value"), lit(0.6))).as("within_bounds"),
        count(lit(1)).as("n"))),

    // A14/net-new: robust MAD outlier flags per user (see
    // Aggregations.madOutliers for the rounded-boundary design).
    "a14_mad" -> ((s, dir) =>
      graft.operators.Aggregations.madOutliers(
        events(s, dir).select("event_id", "user_id", "value"),
        groups = Seq("user_id"), idCols = Seq("event_id"),
        valueCol = "value", k = 3.0)),

    // A13/net-new: per-group OLS (closed form) in ONE hash-agg pass —
    // the distributed "fit a line per key" primitive. Engine-portable
    // by construction: x and y are integerized (quantity is
    // integer-valued; floor(price) is exact on doubles), so every
    // Σ is an exact BIGINT unaffected by summation order, and the only
    // float ops are two correctly-rounded divisions at the end. Raw
    // doubles emitted — bitwise identical cross-engine.
    "a13_grouplr" -> ((s, dir) => {
      val x = col("l_quantity").cast("long")
      val y = floor(col("l_extendedprice")).cast("long")
      val a = lineitem(s, dir).groupBy("l_suppkey").agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(x * y).as("sxy"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val den = col("n") * col("sxx") - col("sx") * col("sx")
      val slope = num.cast("double") / den.cast("double")
      a.select(col("l_suppkey"), col("n"),
        when(den =!= 0, slope).as("slope"),
        when(den =!= 0,
          (col("sy").cast("double") - slope * col("sx").cast("double")) /
            col("n").cast("double")).as("intercept"))
    }),

    // A17/net-new: exact quantile-binning discretizer — FIT quartile
    // cut points (distinct-value compression + cumulative counts, an
    // actual data value per cut ⇒ bitwise portable), then TRANSFORM
    // by broadcast-joining the one-row cuts frame. The exact twin of
    // MLlib's approximate QuantileDiscretizer.
    "a17_binning" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val cuts = Aggregations.exactQuantileCuts(
        li, col("l_extendedprice"), Seq(1, 2, 3), 4)
      Aggregations.binByCuts(
          li.select(col("l_orderkey"), col("l_linenumber").cast("long"),
            col("l_extendedprice").as("price")),
          col("price"), cuts, 3)
    }),

    // O12/net-new: surrogate-key assignment — dense ids from the
    // natural key's total order, broadcast back. Engine-portable
    // unlike hash/monotonic ids. The keys are DISTINCT, so dense_rank
    // over them equals row_number — computed by DistRank's bucketed
    // two-pass (string sort keys bucket on their 6-byte UTF-8 prefix)
    // so even an unbounded key domain never funnels into one task.
    "o12_surrogate" -> ((s, dir) => {
      val keys = customer(s, dir)
        .select(col("c_mktsegment"), col("c_nationkey")).distinct()
      // the distinct (segment, nation) key frame is dimension-sized —
      // the parts=1 aggregate-grain fast path applies (Deduplicate
      // core); an unbounded key domain would keep the bucketed path
      val sk = DistRank.rowNumber(keys,
        DistRank.stringKey(col("c_mktsegment")),
        Seq(col("c_mktsegment"), col("c_nationkey")), "segment_nation_sk",
        parts = 1)
      customer(s, dir).join(broadcast(sk), Seq("c_mktsegment", "c_nationkey"))
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_nationkey"), col("segment_nation_sk"))
    }),

    // A29/net-new: exact weighted median per group (sampling weights,
    // importance-weighted quantiles). Values aggregate per (group,
    // value) FIRST, so the cumulative rule never depends on row order
    // within ties; the median is the smallest value whose cumulative
    // weight reaches half the total — all BIGINT comparisons, no
    // interpolation, bit-portable.
    "a29_wmedian" -> ((s, dir) => {
      val b = lineitem(s, dir).select(col("l_returnflag").as("flag"),
        lattice(col("l_extendedprice"), 100).as("pc"),
        lattice(col("l_quantity"), 100).as("wc"))
      // groupedMedianDoubled's vlo IS the weighted-median rule
      // (min pc with 2·cumw ≥ totw): bucket metadata + 2/p-bucket
      // refinement replaces the row-scale (flag, pc) lattice shuffle
      // and its two windows (round 12); identical exact integers
      graft.operators.DistRank
        .groupedMedianDoubled(b, col("flag"), col("pc"), col("wc"))
        .select(col("g").as("flag"), col("vlo").as("wmedian_cents"),
          col("wtot").as("total_weight"))
    }),

    // A32/net-new: Cohen's kappa — chance-corrected agreement between
    // two labelers (annotation QA for training data). All four counts
    // are exact; po/pe/kappa are ONE fixed pointwise IEEE expression
    // tree on exact operands, mirrored token-for-token in the oracle.
    "a32_kappa" -> ((s, dir) => {
      val e = events(s, dir).select(
        col("event_type").isin("purchase", "signup").cast("long").as("a"),
        (lattice(col("value"), 100) >= 5000L).cast("long").as("b"))
      val g = e.agg(count(lit(1)).as("n"),
        sum(col("a")).as("na"), sum(col("b")).as("nb"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"))
      val n = col("n").cast("double")
      val pa = col("na").cast("double") / n
      val pb = col("nb").cast("double") / n
      val po = col("agree").cast("double") / n
      val pe = pa * pb + (lit(1.0) - pa) * (lit(1.0) - pb)
      g.select(col("n"), col("agree"), ((po - pe) / (lit(1.0) - pe)).as("kappa"))
    }),

    // M13/net-new: binary-classification evaluation — confusion counts
    // plus precision/recall/F1. The counts are exact; the three
    // metrics are single-division / short pointwise IEEE expressions
    // on exact operands, mirrored token-for-token (the a32_kappa
    // class).
    "m13_confusion" -> ((s, dir) => {
      val e = events(s, dir).select(
        col("event_type").isin("purchase", "signup").cast("long").as("actual"),
        (lattice(col("value"), 100) >= 5000L).cast("long").as("pred"))
      val g = e.agg(
        sum(when(col("pred") === 1 && col("actual") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") === 1 && col("actual") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("pred") === 0 && col("actual") === 1, 1L).otherwise(0L)).as("fn"),
        sum(when(col("pred") === 0 && col("actual") === 0, 1L).otherwise(0L)).as("tn"))
      val p = col("tp").cast("double") / (col("tp") + col("fp")).cast("double")
      val r = col("tp").cast("double") / (col("tp") + col("fn")).cast("double")
      g.select(col("tp"), col("fp"), col("fn"), col("tn"),
        p.as("precision"), r.as("recall"),
        (lit(2.0) * p * r / (p + r)).as("f1"))
    }),

    // A35/net-new: two-sample Kolmogorov–Smirnov distance between the
    // 'view' and 'click' value distributions — the nonparametric
    // drift test complementing PSI. D = max |F_a − F_b| over the
    // merged support, computed as exact integers by cross-multiplying
    // the CDF numerators: |cumA·nB − cumB·nA|, one division at the
    // end. The cumsum runs over the per-VALUE aggregate (score
    // lattice), not raw rows.
    "a35_ks" -> ((s, dir) => {
      val e = events(s, dir)
        .filter(col("event_type").isin("view", "click"))
        .select(lattice(col("value"), 100).as("c"),
          (col("event_type") === "view").cast("long").as("isA"))
      val g = e.groupBy("c").agg(sum(col("isA")).as("ca"),
        sum(lit(1L) - col("isA")).as("cb"))
      // distributed CDF: DistRank two-pass cumsum over the value
      // lattice (c is unique post-agg, so a total order) — no
      // single-partition window even if the lattice is unbounded;
      // grand totals ride along as literals instead of a global
      // partitionBy() window.
      val cum = DistRank.cumsum(g, col("c"), Seq(col("c")),
          Seq((col("ca"), "cumA"), (col("cb"), "cumB")),
          totalsSuffix = Some("_t"))
        .withColumnRenamed("cumA_t", "na").withColumnRenamed("cumB_t", "nb")
      cum.agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          max(abs(col("cumA") * col("nb") - col("cumB") * col("na")))
            .as("d_num"))
        .select(col("n_a"), col("n_b"), col("d_num"),
          (col("d_num").cast("double") /
            (col("n_a") * col("n_b")).cast("double")).as("ks_d"))
    }),

    // M14/net-new: ROC AUC by the rank statistic (Mann–Whitney), tie-
    // aware: per distinct score, positives take the group's AVERAGE
    // rank. Doubling the rank sums keeps half-integer average ranks
    // exact in BIGINT — 2·Σranks_pos = Σ_groups pos·(2·before+cnt+1) —
    // so AUC = (2·Σranks_pos − n_pos·(n_pos+1)) / (2·n_pos·n_neg) is
    // exact until ONE final division. The standard eval for a binary
    // scorer, no sort of raw rows (aggregate per score value first).
    "m14_auc" -> ((s, dir) => {
      val e = events(s, dir).select(lattice(col("value"), 100).as("score"),
        col("event_type").isin("purchase", "signup").cast("long").as("y"))
      val g = e.groupBy("score").agg(count(lit(1)).as("cnt"),
        sum(col("y")).as("pos"))
      // The global cumsum runs over the per-SCORE aggregate (distinct
      // score values, not rows) and through DistRank's two-pass
      // bucketed plan, so even an unbounded score domain never funnels
      // into one sort task.
      val ranked = DistRank.cumsum(g, col("score"), Seq(col("score")),
        Seq((col("cnt"), "before")), inclusive = false)
      val agg = ranked.agg(
        sum(col("pos") * (lit(2L) * col("before") + col("cnt") + 1)).as("r2"),
        sum(col("pos")).as("np"), sum(col("cnt") - col("pos")).as("nn"))
      agg.select(col("np").as("n_pos"), col("nn").as("n_neg"),
        ((col("r2") - col("np") * (col("np") + 1)).cast("double") /
          (lit(2L) * col("np") * col("nn")).cast("double")).as("auc"))
    }),

    // M15/net-new: calibration reliability table — the standard
    // classifier-calibration diagnostic (is a 0.7-score bucket right
    // 70% of the time?). Scores bucket on the exact cent lattice
    // (bin = cents DIV 1000), counts are exact BIGINTs, and the two
    // emitted rates are single divisions of exact operands — the
    // m14_auc portability class. One hash-agg exchange on the bin key.
    "m15_calibration" -> ((s, dir) => {
      val e = events(s, dir).select(lattice(col("value"), 100).as("cents"),
        col("event_type").isin("purchase", "signup").cast("long").as("y"))
      e.groupBy(expr("cents DIV 1000").as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
          sum(col("cents")).as("sc"))
        .select(col("bin"), col("n"), col("n_pos"),
          ((col("sc").cast("double") / col("n")) / 100.0)
            .as("mean_score"),
          (col("n_pos").cast("double") / col("n")).as("pos_rate"))
    }),

    // M16/net-new: cumulative gains / lift curve keyed by distinct
    // score threshold (descending): for each score s, the share of all
    // positives captured by predicting positive at >= s, and the lift
    // over the base rate. Decile-ntile formulations are NON-deterministic
    // under score ties (the row boundary lands inside a tie group), so
    // the curve is keyed on the distinct-score lattice — exact
    // cumulative BIGINTs, cross-multiplied lift = (cum_pos·n) /
    // (cum_n·total_pos) as ONE division of exact products. Cumsum runs
    // over the per-score aggregate (lattice-bounded), not raw rows —
    // same scale contract as m14_auc.
    "m16_gains" -> ((s, dir) => {
      val e = events(s, dir).select(lattice(col("value"), 100).as("score"),
        col("event_type").isin("purchase", "signup").cast("long").as("y"))
      val g = e.groupBy("score").agg(count(lit(1)).as("cnt"),
        sum(col("y")).as("pos"))
      // descending cumsum distributes via a negated bucket key; the
      // grand totals (n, tot_pos) come from DistRank's metadata
      // subquery, not a global-partition window.
      DistRank.cumsum(g, -col("score"), Seq(col("score").desc),
          Seq((col("cnt"), "cum_n"), (col("pos"), "cum_pos")),
          totalsSuffix = Some("_t"))
        .withColumnRenamed("cum_n_t", "n")
        .withColumnRenamed("cum_pos_t", "tot_pos")
        .select(col("score"), col("cum_n"), col("cum_pos"),
          (col("cum_pos").cast("double") / col("tot_pos").cast("double"))
            .as("capture_rate"),
          ((col("cum_pos") * col("n")).cast("double") /
            (col("cum_n") * col("tot_pos")).cast("double")).as("lift"))
    }),

    // A36/net-new: k-anonymity audit — training-data governance: any
    // quasi-identifier combination shared by fewer than k individuals
    // re-identifies them; the release rule is suppress-or-generalize
    // those groups. Pure integer grouping (one exchange on the QI key)
    // with an integer-decided violation flag; the summary twin a36 row
    // counts suppressed individuals exactly.
    "a36_kanon" -> ((s, dir) => {
      val k = 5L
      customer(s, dir)
        .groupBy(col("c_nationkey").cast("long").as("nationkey"),
          col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"))
        .select(col("nationkey"), col("segment"), col("n"),
          (col("n") < k).cast("long").as("violates_k5"))
    }),

    // M18/net-new: frequency-ordered categorical indexer — MLlib
    // StringIndexer semantics (frequencyDesc, label ties break
    // alphabetically) as pure relational algebra: fit = row_number
    // over the tiny per-label count aggregate; transform = broadcast
    // map-back onto the fact rows. Exact integers end to end.
    "m18_stringindex" -> ((s, dir) => {
      val cnt = events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))
      // fit ranks the label-count aggregate with DistRank,
      // frequencyDesc + lexicographic ties. The aggregate is
      // categorical-domain-sized, so the parts=1 fast path skips the
      // boundary/totals jobs (structurally guarded: the input must be
      // aggregate-grain); a corpus-unbounded label column would
      // switch back to the bucketed default.
      val idx = DistRank.rowNumber(cnt, -col("cnt"),
          Seq(col("cnt").desc, col("event_type")), "__rn", parts = 1)
        .select(col("event_type"), col("cnt"),
          (col("__rn") - 1L).as("type_idx"))
      events(s, dir).select("event_id", "event_type")
        .join(broadcast(idx), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("type_idx"))
    }),

    // A37/net-new: winsorized mean per group — the robust mean that
    // clamps the tails at exact p10/p90 cut points instead of dropping
    // them. Cuts use the integer-decided type-1 quantile rule
    // (first value whose cumcount reaches ceil(n·p): cum·10 ≥ n·p10
    // cross-multiplied, the a17_binning recipe), the clamp is
    // greatest/least on the cent lattice, and the mean is ONE division
    // of an exact BIGINT sum. Two exchanges: the per-(group, value)
    // aggregate and the tiny cuts frame broadcast back.
    "a37_winsor" -> ((s, dir) => {
      val b = lineitem(s, dir).select(col("l_returnflag").as("flag"),
        lattice(col("l_extendedprice"), 100).as("cents"))
      val g = b.groupBy("flag", "cents").agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy("flag").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy("flag")
      val cum = g.select(col("flag"), col("cents"),
        sum("cnt").over(wCum).as("cum"), sum("cnt").over(wAll).as("n"))
      val cuts = cum.groupBy("flag").agg(
        min(when(col("cum") * 10 >= col("n"), col("cents"))).as("lo"),
        min(when(col("cum") * 10 >= col("n") * 9, col("cents"))).as("hi"))
      b.join(broadcast(cuts), Seq("flag"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n"), min(col("lo")).as("lo_cents"),
          min(col("hi")).as("hi_cents"),
          sum(greatest(col("lo"), least(col("hi"), col("cents"))))
            .as("wsum"))
        .select(col("flag"), col("n"), col("lo_cents"), col("hi_cents"),
          ((col("wsum").cast("double") / col("n")) / 100.0)
            .as("winsor_mean"))
    }),

    // A38/net-new: contribution / percent-of-total analysis — each
    // nation's share of its region's order revenue. Exact cent sums at
    // the nation grain, the region total via a window over the tiny
    // nation-level aggregate (no second scan of orders), share as ONE
    // division. orders→customer is the only big exchange; nation and
    // region are broadcast.
    "a38_contribution" -> ((s, dir) => {
      val rev = orders(s, dir).select(col("o_custkey"),
          lattice(col("o_totalprice"), 100).as("cents"))
        .join(customer(s, dir).select(col("c_custkey").as("o_custkey"),
          col("c_nationkey")), Seq("o_custkey"))
        .join(broadcast(nation(s, dir).select(
          col("n_nationkey").as("c_nationkey"), col("n_name"),
          col("n_regionkey"))), Seq("c_nationkey"))
        .join(broadcast(region(s, dir).select(
          col("r_regionkey").as("n_regionkey"), col("r_name"))),
          Seq("n_regionkey"))
      val g = rev.groupBy("r_name", "n_name")
        .agg(sum(col("cents")).as("cents"))
      val wReg = Window.partitionBy("r_name")
      g.select(col("r_name"), col("n_name"), col("cents"),
        (col("cents").cast("double") /
          sum("cents").over(wReg).cast("double")).as("share"))
    }),

    // A39/net-new: Pareto 80/20 coverage — the smallest number of
    // customers whose revenue reaches 80% of their region's total,
    // decided entirely in BIGINT (row i counts iff the cumsum BEFORE it
    // is under 4/5 of the total: (cum−x)·5 < tot·4 — no float
    // threshold). The cumsum runs over the per-customer aggregate with
    // a (cents DESC, custkey) total order; at an unbounded customer
    // count this window range-partitions by the region key the same
    // way the exact-quantile path does.
    "a39_pareto" -> ((s, dir) => {
      val rev = orders(s, dir).select(col("o_custkey"),
          lattice(col("o_totalprice"), 100).as("cents"))
        .groupBy("o_custkey").agg(sum(col("cents")).as("cents"))
        .join(customer(s, dir).select(col("c_custkey").as("o_custkey"),
          col("c_nationkey")), Seq("o_custkey"))
        .join(broadcast(nation(s, dir).select(
          col("n_nationkey").as("c_nationkey"), col("n_regionkey"))),
          Seq("c_nationkey"))
        .join(broadcast(region(s, dir).select(
          col("r_regionkey").as("n_regionkey"), col("r_name"))),
          Seq("n_regionkey"))
      val wCum = Window.partitionBy("r_name")
        .orderBy(col("cents").desc, col("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy("r_name")
      rev.select(col("r_name"), col("cents"), col("o_custkey"))
        .select(col("r_name"),
          sum("cents").over(wCum).as("cum"), col("cents"),
          sum("cents").over(wAll).as("tot"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_customers"),
          sum(when((col("cum") - col("cents")) * 5 < col("tot") * 4, 1L)
            .otherwise(0L)).as("n_top80"))
    }),

    // A31/net-new: Gini coefficient per group (distribution-inequality
    // profiling of e.g. token/domain shares). Sorted-rank formula
    // G = (2·Σi·x − (n+1)·Σx) / (n·Σx) with ranks from row_number over
    // the value order — tied values are interchangeable so the rank
    // products are permutation-invariant. Sums ride decimal(38,0)
    // (DuckDB HUGEINT class; Σi·x of cents overflows int64 past ~1e6
    // rows/group), and the ONLY float op is one division of two
    // correctly-rounded decimal→double casts.
    "a31_gini" -> ((s, dir) => {
      val b = lineitem(s, dir).select(col("l_returnflag").as("flag"),
        lattice(col("l_extendedprice"), 100).as("pc"))
      val i = row_number()
        .over(Window.partitionBy("flag").orderBy("pc")).cast("long")
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val r = b.withColumn("ix", dec(i) * dec(col("pc")))
      val agg = r.groupBy("flag").agg(
        count(lit(1)).as("n"),
        sum(dec(col("pc"))).as("sx"),
        sum(col("ix")).as("six"))
      agg.select(col("flag"), col("n"),
        ((dec(lit(2)) * col("six") - dec(col("n") + 1) * col("sx"))
          .cast("double") /
          (dec(col("n")) * col("sx")).cast("double")).as("gini"))
    }),

    // A30/net-new: re-aggregatable distinct-count sketches — the
    // 100 TB rollup pattern: HLL-sketch once at the fine grain
    // (nation), MERGE upward (region) without rescanning the fact
    // data. The estimate is engine-specific, so the driver-graded
    // output is the exact count plus a within-5% accuracy gate
    // decided in integer arithmetic (the a15_approxq pattern).
    "a30_hll_merge" -> ((s, dir) => {
      val perNation = customer(s, dir)
        .groupBy("c_nationkey")
        .agg(hll_sketch_agg(col("c_custkey")).as("sk"),
          count_distinct(col("c_custkey")).as("exact_n"))
      val n2r = nation(s, dir).select(col("n_nationkey"), col("n_regionkey"))
      val rg = region(s, dir).select(col("r_regionkey"), col("r_name"))
      perNation
        .join(broadcast(n2r), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_regionkey")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
          sum("exact_n").as("exact")) // keys partition by nation: sum is exact
        .join(broadcast(rg), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("exact"),
          (abs(col("est") - col("exact")) * 20 <= col("exact"))
            .as("within_5pct"))
    }),

    // A34/net-new: mergeable Count-Min frequency sketch — the
    // heavy-hitter companion to the HLL rollup (a30): build ONE
    // sketch over the full stream with Spark's map-side-combined
    // count_min_sketch aggregate (partials merge by counter addition
    // — commutative, so the merged sketch is partitioning-invariant
    // given the fixed seed), then probe the top-20 hot keys with the
    // native CmsEstimate expression — sketch→merge→probe entirely
    // in-engine, no driver round-trip. At 100 TB the sketch is the
    // point: ~1 MB of state summarizes any stream cardinality. The
    // estimate is engine-specific (only Spark computes it), so the
    // graded columns are the exact counts plus integer-decided gates:
    // CMS never undercounts, and the planted slack (est−exact)·1000
    // ≤ N is 10× the eps·N expected collision mass.
    "a34_cms" -> ((s, dir) => {
      val e = events(s, dir)
      val sk = e.agg(count_min_sketch(col("user_id"),
        lit(0.0001), lit(0.99), lit(42)).as("sk"))
      val tot = e.agg(count(lit(1)).as("__N"))
      val hot = e.groupBy("user_id").agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("user_id")).limit(20)
      val est = graft.functions.CmsEstimate.estimate(col("sk"),
        col("user_id").cast("long"))
      hot.crossJoin(broadcast(sk)).crossJoin(broadcast(tot))
        .select(col("user_id"), col("exact"),
          (est >= col("exact")).as("never_under"),
          ((est - col("exact")) * 1000 <= col("__N")).as("within_slack"))
    }),

    // A35/net-new: two-sample A/B gate (Welch) decided ENTIRELY in
    // exact integers — the experimentation-platform primitive. The
    // variant split is deterministic (user_id parity); the decision
    // |t| ≥ 2 is cross-multiplied free of every division and sqrt:
    //   (S₁n₂−S₂n₁)²(n₁−1)(n₂−1) ≥ 4[(n₁Q₁−S₁²)n₂²(n₂−1)
    //                               + (n₂Q₂−S₂²)n₁²(n₁−1)]
    // over per-variant exact sums S=Σc, Q=Σc² of cents. A boolean
    // decided in the integer domain has no float boundary to drift
    // (ORACLE_NOTES.md rule-1 corollary, the a25 pattern).
    // Magnitude bound: ≤ ~1e35 at sf0.1 — inside both decimal(38,0)
    // and HUGEINT; beyond ~sf0.3 rescale the lattice (dollars) or
    // shard-mean the inputs first (documented, not silent).
    "a35_ab" -> ((s, dir) => {
      val big = "decimal(38,0)"
      val g = events(s, dir)
        .withColumn("c", lattice(col("value"), 100))
        .withColumn("variant", col("user_id") % 2)
        .groupBy("event_type", "variant")
        .agg(count(lit(1)).cast(big).as("n"),
          sum(col("c").cast(big)).as("s"),
          sum((col("c") * col("c")).cast(big)).as("q"))
      val a = g.filter(col("variant") === 0).select(col("event_type"),
        col("n").as("n1"), col("s").as("s1"), col("q").as("q1"))
      val b = g.filter(col("variant") === 1).select(col("event_type"),
        col("n").as("n2"), col("s").as("s2"), col("q").as("q2"))
      val one = lit(1).cast(big)
      val lhsD = col("s1") * col("n2") - col("s2") * col("n1")
      val lhs = lhsD * lhsD * (col("n1") - one) * (col("n2") - one)
      val rhs = lit(4).cast(big) *
        ((col("n1") * col("q1") - col("s1") * col("s1")) *
          col("n2") * col("n2") * (col("n2") - one) +
         (col("n2") * col("q2") - col("s2") * col("s2")) *
          col("n1") * col("n1") * (col("n1") - one))
      a.join(b, "event_type").select(col("event_type"),
        col("n1").cast("long").as("n_a"),
        col("n2").cast("long").as("n_b"),
        lhsD.cast("long").as("diff_scaled"),
        (lhs >= rhs).as("significant_2se"))
    }),

    // J19/net-new: entity resolution — blocking + pairwise scoring +
    // deterministic classification, the record-linkage pipeline shape.
    // A synthetic "dirty" feed perturbs names deterministically (one
    // appended char / a prepended tag / a replaced name). Blocking key
    // = (nation, $100 balance band) so candidates form inside small
    // blocks; over-cap blocks are dropped exactly like over-popular
    // LSH buckets (no O(block²) blow-up on a hot band). Scoring is
    // integer Levenshtein (cross-engine parity proven by t_editdist);
    // thresholds classify match / possible / non_match.
    "j19_entity_res" -> ((s, dir) => {
      // DENSITY-ADAPTIVE blocking: the balance-bucket count scales
      // with the table (target ~10 rows per nation x bucket cell), so
      // per-block pair work stays constant and total candidate pairs
      // grow LINEARLY with n — a fixed bucket width made block
      // occupancy (and the Levenshtein pair join) grow quadratically:
      // 46x wall at the 10x scale step. Stats are one broadcast row;
      // the formula is exact integer math mirrored in the oracle.
      val c = customer(s, dir).select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), lattice(col("c_acctbal"), 100).as("bal_cents"))
      val stats = c.agg(min("bal_cents").as("mn"),
        (max("bal_cents") - min("bal_cents") + 1).as("rng"),
        greatest(lit(1L), (count(lit(1)) / 250).cast("long")).as("nb"))
      val cb = c.crossJoin(broadcast(stats))
        .withColumn("blk", col("c_nationkey") * 1000000000L +
          expr("((bal_cents - mn) * nb) DIV rng"))
      val dirty = cb.select(col("c_custkey").as("rid"),
        when(col("c_custkey") % 3 === 0, concat(col("c_name"), lit("X")))
          .when(col("c_custkey") % 3 === 1, concat(lit("ZZZ"), col("c_name")))
          .otherwise(concat(lit("Unknown#"), col("c_custkey").cast("string")))
          .as("d_name"),
        col("blk"))
      val lb = cb.select(col("c_custkey"), col("c_name"), col("blk"))
      val keptBlk = dirty.groupBy("blk").agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= 100).select("blk")
      val lev = levenshtein(col("c_name"), col("d_name"))
      lb.join(keptBlk, "blk").join(dirty, "blk")
        .select(col("c_custkey"), col("rid"), lev.cast("long").as("lev"),
          when(lev <= 1, "match").when(lev <= 4, "possible")
            .otherwise("non_match").as("verdict"))
    }),

    // O13/net-new: small-file compaction planning — the lakehouse
    // maintenance op behind OPTIMIZE/rewriteDataFiles: within each
    // table partition (lang), files pack in deterministic id order
    // into ~target-size output groups by running-sum division. One
    // window exchange on the partition key; every value is an exact
    // integer. At 100 TB the input here is the file LISTING (millions
    // of rows), never the data, which is exactly why the plan step is
    // its own operator.
    "o13_compaction" -> ((s, dir) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("bytes_before", coalesce(sum("n_chars").over(w), lit(0L)))
        .withColumn("file_bin", expr("bytes_before DIV 16000"))
    }),

    // J15/net-new: snapshot diff (CDC between two table versions):
    // full-outer join on the key classifies every row as inserted /
    // deleted / changed / unchanged. The "new" snapshot is synthesized
    // from orders deterministically.
    "j15_snapshot_diff" -> ((s, dir) => {
      val base = orders(s, dir)
        .select(col("o_orderkey"), r2(col("o_totalprice")).as("price"))
      val next = orders(s, dir)
        .where(col("o_orderkey") % 11 =!= 0) // deletions
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 7 === 0,
            r2(col("o_totalprice") + 5.0)) // changes
            .otherwise(r2(col("o_totalprice"))).as("price"))
        .unionByName(
          orders(s, dir).where(col("o_orderkey") % 1000 === 1)
            .select((col("o_orderkey") + 900000000L).as("o_orderkey"),
              r2(col("o_totalprice")).as("price"))) // insertions
      base.withColumnRenamed("price", "old_price")
        .join(next.withColumnRenamed("price", "new_price"),
          Seq("o_orderkey"), "full_outer")
        .select(col("o_orderkey"), col("old_price"), col("new_price"),
          when(col("old_price").isNull, "inserted")
            .when(col("new_price").isNull, "deleted")
            .when(col("old_price") =!= col("new_price"), "changed")
            .otherwise("unchanged").as("change_type"))
        .where(col("change_type") =!= "unchanged")
    }),

    // A21/net-new: fixed-width histogram (the other profiling shape
    // next to a17's quantile cuts): bucket = floor(x / width) is one
    // correctly-rounded division + exact floor — bitwise portable —
    // and ONE hash-agg shuffle of (bucket, partial count).
    "a21_histogram" -> ((s, dir) => {
      val bucket = floor(col("l_extendedprice") / 5000.0).cast("long")
      lineitem(s, dir)
        .where(col("l_extendedprice").isNotNull)
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"))
    }),

    // J13/net-new: MERGE-style upsert expressed relationally (no Delta
    // in this environment; this is the plan a MERGE INTO compiles to):
    // full-outer join base × changes on the key, changed columns
    // coalesce change-side first. Matching keys update, unmatched
    // changes insert, untouched base rows carry through — one shuffle
    // each side (or broadcast when the change set is small, the
    // common case).
    "j13_upsert" -> ((s, dir) => {
      val base = orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderstatus"))
      // synthetic change set: every 3rd order re-priced; plus brand-new
      // keys above the current max
      val changes = orders(s, dir)
        .filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"),
          col("o_custkey"),
          r2(col("o_totalprice") + 1000.0).as("c_totalprice"),
          lit("U").as("c_status"))
        .unionByName(
          orders(s, dir).filter(col("o_orderkey") % 1000 === 1)
            .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
              col("o_custkey"),
              r2(col("o_totalprice")).as("c_totalprice"),
              lit("N").as("c_status")))
      base.join(changes.withColumnRenamed("o_custkey", "c_custkey"),
          Seq("o_orderkey"), "full_outer")
        .select(col("o_orderkey"),
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          coalesce(col("c_totalprice"), r2(col("o_totalprice")))
            .as("totalprice"),
          coalesce(col("c_status"), col("o_orderstatus")).as("status"))
    }),

    // A20/net-new: one-pass data profiling (the ANALYZE/data-quality
    // sweep every ingest pipeline runs): per column — rows, nulls,
    // exact NDV, min, max — emitted long-format. ONE scan for all
    // columns; the exact countDistincts expand the scan k-ways, which
    // is the exact-path trade (at 100 TB swap in
    // approx_count_distinct and the expand disappears).
    "a20_profile" -> ((s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val aggs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"ndv_$c"),
        min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c")))
      val a = lineitem(s, dir).agg(aggs.head, aggs.tail: _*)
      val rows = cols.map(c => struct(lit(c).as("col_name"),
        col("n").as("n"), col(s"nn_$c").as("n_null"),
        col(s"ndv_$c").as("ndv"),
        col(s"min_$c").as("vmin"), col(s"max_$c").as("vmax")))
      a.select(explode(array(rows: _*)).as("s")).select("s.*")
    }),

    // A24/net-new: declarative data-quality CONSTRAINT checks (the
    // Deequ/Great-Expectations gate an ingest pipeline runs before
    // publishing a table): completeness, key uniqueness, value
    // bounds, domain membership in ONE scan-wide aggregate, plus
    // referential integrity as a left-anti count against the parent
    // table (broadcast-or-shuffle by the planner, scale-safe either
    // way). Long-format output (check, n_violations, passed) — all
    // exact integers.
    "a24_constraints" -> ((s, dir) => {
      val li = lineitem(s, dir)
      val scan = li.agg(
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L))
          .as("v_complete"),
        // distinct over a STRUCT of the key columns: a struct is
        // never null, so NULL-bearing key tuples count as distinct
        // groups (plain multi-col countDistinct silently DROPS them —
        // exactly the dirty-data rows a uniqueness check exists for,
        // and DuckDB's DISTINCT subquery keeps them)
        (count(lit(1)) -
          countDistinct(struct(col("l_orderkey"), col("l_linenumber"))))
          .as("v_unique"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("v_bounds"),
        sum(when(!col("l_returnflag").isin("R", "A", "N"), 1L)
          .otherwise(0L)).as("v_domain"))
      val orphans = li.select("l_orderkey")
        .join(orders(s, dir).select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("v_fk"))
      val m = scan.crossJoin(orphans)
      val checks = Seq("complete", "unique", "bounds", "domain", "fk")
      val rows = checks.map(c => struct(lit(c).as("check"),
        col(s"v_$c").cast("long").as("n_violations"),
        when(col(s"v_$c") === 0, 1L).otherwise(0L).as("passed")))
      m.select(explode(array(rows: _*)).as("s")).select("s.*")
    }),

    // A18/net-new: per-group Pearson correlation matrix from exact
    // integer co-moments (quantity units, price dollars, discount
    // ticks) — raw unrounded doubles hash-match because every output
    // is a fixed tree of correctly-rounded ops over exact BIGINTs.
    "a18_corrmat" -> ((s, dir) => {
      Aggregations.integerCorrMatrix(
        lineitem(s, dir), Seq("l_suppkey"), Seq(
          "qty" -> col("l_quantity").cast("long"),
          "price" -> floor(col("l_extendedprice")).cast("long"),
          "disc" -> lattice(col("l_discount"), 100)))
    }))

  val oracle: Seq[(String, String)] = Seq(
    "a2_multiagg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_price,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_quantity), 6) AS avg_qty,
        | min(l_quantity) AS min_qty,
        | max(l_quantity) AS max_qty,
        | count(*) AS count_order,
        | CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_big
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "a25_outliers" ->
      s"""WITH o AS (SELECT event_id, event_type,
        |  ${latticeSql("value", 100)} AS cents FROM events),
        |st AS (SELECT event_type, count(*)::HUGEINT AS n,
        |  sum(cents)::HUGEINT AS s1, sum(cents * cents)::HUGEINT AS s2
        | FROM o GROUP BY event_type)
        |SELECT event_id, event_type, cents,
        | CAST(n * cents - s1 AS BIGINT) AS dev_scaled,
        | ((n * cents - s1) * (n * cents - s1) * (n - 1))
        |   > (9 * n * (n * s2 - s1 * s1)) AS is_outlier
        |FROM o JOIN st USING (event_type)""".stripMargin,

    "a26_moments" ->
      s"""WITH o AS (SELECT event_type,
        |  ${latticeSql("value", 100, "HUGEINT")} AS c FROM events),
        |st AS (SELECT event_type, count(*)::BIGINT AS n,
        |  sum(c) AS sl1, sum(c * c) AS sl2,
        |  sum(c * c * c) AS sl3, sum(c * c * c * c) AS sl4
        | FROM o GROUP BY event_type),
        |d AS (SELECT event_type, n,
        |  CAST(n AS DOUBLE) AS nd,
        |  CAST(sl1 AS DOUBLE) AS s1, CAST(sl2 AS DOUBLE) AS s2,
        |  CAST(sl3 AS DOUBLE) AS s3, CAST(sl4 AS DOUBLE) AS s4
        | FROM st),
        |m AS (SELECT event_type, n,
        |  (s2 - s1 * s1 / nd) / nd AS m2,
        |  (s3 - 3.0 * s1 * s2 / nd + 2.0 * s1 * s1 * s1 / (nd * nd)) / nd AS m3,
        |  (s4 - 4.0 * s1 * s3 / nd + 6.0 * s1 * s1 * s2 / (nd * nd)
        |    - 3.0 * s1 * s1 * s1 * s1 / (nd * nd * nd)) / nd AS m4
        | FROM d)
        |SELECT event_type, n,
        | round(m3 / sqrt(m2 * m2 * m2), 6) AS skewness,
        | round(m4 / (m2 * m2) - 3.0, 6) AS kurtosis
        |FROM m""".stripMargin,

    "a27_psi" ->
      s"""WITH b AS (SELECT
        |  least(${latticeSql("value", 100)} // 2500, 19) AS bin,
        |  event_id % 2 = 0 AS is_a FROM events),
        |agg AS (SELECT bin,
        |  sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS na,
        |  sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)::BIGINT AS nb
        | FROM b GROUP BY bin),
        |tot AS (SELECT sum(na)::BIGINT AS ta, sum(nb)::BIGINT AS tb FROM agg)
        |SELECT bin, na, nb,
        | round(CASE WHEN na > 0 AND nb > 0
        |  THEN (na::DOUBLE / ta - nb::DOUBLE / tb)
        |    * ln((na::DOUBLE / ta) / (nb::DOUBLE / tb))
        |  ELSE NULL END, 6) AS psi_term
        |FROM agg CROSS JOIN tot""".stripMargin,

    "m11_pmi" ->
      s"""WITH c AS (SELECT event_type,
        |  least(${latticeSql("value", 100)} // 2500, 19) AS bin
        | FROM events),
        |cells AS (SELECT event_type, bin, count(*)::BIGINT AS n_cell
        | FROM c GROUP BY event_type, bin)
        |SELECT event_type, bin, n_cell,
        | round(ln((n_cell * sum(n_cell) OVER ())::DOUBLE /
        |   (sum(n_cell) OVER (PARTITION BY event_type)
        |    * sum(n_cell) OVER (PARTITION BY bin))), 6) AS pmi
        |FROM cells""".stripMargin,

    "m12_chisq" ->
      """WITH cells AS (SELECT o_orderstatus AS status,
        |  o_orderpriority AS priority, count(*)::BIGINT AS obs
        | FROM orders GROUP BY 1, 2),
        |t AS (SELECT status, priority, obs,
        |  CAST((CAST(sum(obs) OVER (PARTITION BY status) AS BIGINT)
        |        * CAST(sum(obs) OVER (PARTITION BY priority) AS BIGINT)) AS DOUBLE)
        |    / CAST(CAST(sum(obs) OVER () AS BIGINT) AS DOUBLE) AS expected
        | FROM cells)
        |SELECT status, priority, obs, expected,
        | (CAST(obs AS DOUBLE) - expected) * (CAST(obs AS DOUBLE) - expected)
        |   / expected AS chi_term
        |FROM t""".stripMargin,

    "a28_benford" ->
      s"""WITH d AS (SELECT CAST(substr(CAST(${latticeSql("l_extendedprice", 100)}
        |    AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM lineitem),
        |c AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY digit)
        |SELECT digit, n,
        | CAST(n AS DOUBLE) / CAST(CAST(sum(n) OVER () AS BIGINT) AS DOUBLE) AS share
        |FROM c""".stripMargin,

    "a3_transform" ->
      s"""WITH t AS (SELECT event_id, user_id, value,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |s AS (SELECT event_id, value, c,
        |  count(c) OVER w AS n,
        |  CAST(sum(c) OVER w AS BIGINT) AS s1i,
        |  CAST(sum(c) OVER w AS DOUBLE) AS s1,
        |  CAST(sum(c * c) OVER w AS DOUBLE) AS s2,
        |  min(value) OVER w AS grp_min,
        |  max(value) OVER w AS grp_max
        | FROM t WINDOW w AS (PARTITION BY user_id))
        |SELECT event_id, value,
        | n * c - s1i AS dev_scaled,
        | round((CAST(c AS DOUBLE) - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS zscore,
        | grp_min, grp_max
        |FROM s""".stripMargin,

    "a4_impute" ->
      s"""WITH t AS (SELECT event_id, user_id,
        |  CASE WHEN event_type = 'error' THEN NULL ELSE value END AS masked,
        |  CASE WHEN event_type != 'error'
        |    THEN ${latticeSql("value", 100)} END AS cents
        | FROM events)
        |SELECT event_id,
        | coalesce(masked,
        |   (sum(cents) OVER w)::DOUBLE
        |     / ((count(cents) OVER w) * 100)::DOUBLE) AS imputed
        |FROM t WINDOW w AS (PARTITION BY user_id)""".stripMargin,

    "a5_circmean" ->
      """SELECT user_id,
        | round(atan2(avg(sin(radians(value))), avg(cos(radians(value)))), 6) AS circ_mean,
        | count(*) AS n
        |FROM events GROUP BY user_id""".stripMargin,

    "a7_score" ->
      """WITH sol AS (SELECT concat_ws('_', l_orderkey, l_linenumber) AS id,
        |  l_quantity AS x, l_discount * 100 AS y FROM lineitem),
        |sub AS (SELECT concat_ws('_', l_orderkey, l_linenumber) AS id,
        |  l_quantity + (l_linenumber % 3 - 1) * 0.1 AS x,
        |  l_discount * 100 + 0.05 AS y FROM lineitem)
        |SELECT round(sqrt(0.5 * (avg((sol.x - sub.x) * (sol.x - sub.x))
        |                       + avg((sol.y - sub.y) * (sol.y - sub.y)))), 6) AS rmse
        |FROM sol JOIN sub USING (id)""".stripMargin,

    "a8_ensemble" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | round((0.0 + l_quantity * 1.1
        |      + (l_quantity + l_discount * 5)
        |      + (l_quantity * 0.9 + l_tax * 20)) / 3, 6) AS ens_mean
        |FROM lineitem""".stripMargin,

    "m4_residual" ->
      """WITH base AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_quantity AS truth,
        |  l_quantity + (l_linenumber % 5 - 2) * 0.2 AS p1,
        |  l_quantity + l_discount * 4 - 0.2 AS p2
        | FROM lineitem),
        |stats AS (SELECT sqrt(avg((truth - p1) * (truth - p1))) AS rmse1,
        |                 sqrt(avg((truth - p2) * (truth - p2))) AS rmse2 FROM base),
        |wgt AS (SELECT (1.0 / rmse1) / (1.0 / rmse1 + 1.0 / rmse2) AS w1 FROM stats)
        |SELECT l_orderkey, l_linenumber,
        | round(w1 * p1 + (1.0 - w1) * p2, 6) AS blend
        |FROM base, wgt""".stripMargin,

    "j3_featjoin" ->
      """SELECT c_mktsegment, o_orderstatus,
        | count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment, o_orderstatus""".stripMargin,

    "o3_pivot" ->
      """WITH r AS (SELECT user_id, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
        | FROM events)
        |SELECT user_id,
        | max(CASE WHEN rnk = 1 THEN value END) AS v1,
        | max(CASE WHEN rnk = 2 THEN value END) AS v2,
        | max(CASE WHEN rnk = 3 THEN value END) AS v3
        |FROM r WHERE rnk <= 3 GROUP BY user_id""".stripMargin,

    "j11_snowflake" ->
      """SELECT r_name, count(*) AS n_suppliers,
        | round(sum(s_acctbal), 2) AS acctbal_sum,
        | count(DISTINCT n_name) AS n_nations
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "j9_nullsafe" ->
      """WITH e AS (SELECT event_id,
        |  CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS mkey
        | FROM events),
        |c AS (SELECT mkey, count(*) AS type_n FROM e GROUP BY mkey)
        |SELECT e.event_id, e.mkey, c.type_n
        |FROM e JOIN c ON e.mkey IS NOT DISTINCT FROM c.mkey""".stripMargin,

    "j10_semi_anti" ->
      """WITH li AS (SELECT l_orderkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber FROM lineitem),
        |f AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        |SELECT l_orderkey, l_linenumber, 'semi' AS tag FROM li
        | WHERE EXISTS (SELECT 1 FROM f WHERE o_orderkey = l_orderkey)
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'anti' AS tag FROM li
        | WHERE NOT EXISTS (SELECT 1 FROM f WHERE o_orderkey = l_orderkey)""".stripMargin,

    // The bloom pre-filter is transparent to semantics: the oracle is
    // the plain exact join.
    "j16_bloom" ->
      s"""WITH u AS (SELECT o_orderkey, o_custkey FROM orders
        |           WHERE o_orderpriority = '1-URGENT')
        |SELECT o_custkey, count(*)::BIGINT AS n_lines,
        |  CAST(sum(${latticeSql("l_quantity", 100)}) AS BIGINT) AS qty_cents
        |FROM lineitem JOIN u ON l_orderkey = o_orderkey
        |GROUP BY o_custkey""".stripMargin,

    "o7_unpivot" ->
      """WITH b AS (SELECT l_orderkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_quantity AS qty, l_discount * 100 AS disc_pct, l_tax AS tax
        | FROM lineitem)
        |SELECT l_orderkey, l_linenumber, 'qty' AS metric, round(qty, 6) AS value FROM b
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'disc_pct', round(disc_pct, 6) FROM b
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'tax', round(tax, 6) FROM b""".stripMargin,

    "o8_setops" ->
      """WITH big AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_quantity > 45),
        |disc AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_discount > 0.08)
        |SELECT l_orderkey, 'both' AS tag FROM (SELECT * FROM big INTERSECT SELECT * FROM disc)
        |UNION ALL
        |SELECT l_orderkey, 'big_only' AS tag FROM (SELECT * FROM big EXCEPT SELECT * FROM disc)""".stripMargin,

    "j8_range" ->
      s"""WITH e AS (SELECT user_id, event_id,
        |  ${latticeSql("value", 100)} AS cv FROM events)
        |SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
        | b.cv - a.cv AS dcents
        |FROM e a JOIN e b
        | ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND abs(a.cv - b.cv) <= 10""".stripMargin,

    "a9_quantiles" ->
      """SELECT user_id,
        | round(quantile_cont(value, 0.5), 6) AS p50,
        | round(quantile_cont(value, 0.9), 6) AS p90,
        | count(*) AS n
        |FROM events GROUP BY user_id""".stripMargin,

    "a10_rollup" ->
      """SELECT coalesce(l_returnflag, '(all)') AS rf,
        | coalesce(l_linestatus, '(all)') AS ls,
        | count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "skew_salted" ->
      """WITH large AS (SELECT l_orderkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CASE WHEN l_partkey % 10 = 0 THEN l_suppkey % 25 ELSE 0 END AS k
        | FROM lineitem),
        |small AS (SELECT CAST(n_nationkey AS BIGINT) AS k, n_name FROM nation)
        |SELECT l_orderkey, l_linenumber, k, n_name
        |FROM large JOIN small USING (k)""".stripMargin,

    "o5_dedup" ->
      """SELECT user_id, event_type,
        | min(event_id) AS keep_event_id, count(*) AS n_dups
        |FROM events GROUP BY user_id, event_type""".stripMargin,

    "a11_approx" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS exact_nd,
        | 20::BIGINT AS ratio_x20
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "a12_cube" ->
      """SELECT coalesce(l_returnflag, '(all)') AS rf,
        | coalesce(l_linestatus, '(all)') AS ls,
        | GROUPING(l_returnflag)::BIGINT AS g_rf,
        | GROUPING(l_linestatus)::BIGINT AS g_ls,
        | count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "a15_approxq" ->
      """SELECT user_id, round(quantile_cont(value, 0.5), 6) AS p50_exact,
        | TRUE AS within_bounds, count(*) AS n
        |FROM events GROUP BY user_id""".stripMargin,

    "a14_mad" ->
      """WITH med AS (SELECT user_id, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY user_id),
        |dev AS (SELECT e.event_id, e.user_id, m.med,
        |  abs(e.value - m.med) AS adev
        | FROM events e JOIN med m USING (user_id)),
        |mad AS (SELECT user_id, quantile_cont(adev, 0.5) AS mad
        | FROM dev GROUP BY user_id)
        |SELECT d.user_id, d.event_id, round(d.med, 6) AS med,
        | round(m.mad, 6) AS mad,
        | (round(d.adev, 6) > 3.0 * round(m.mad, 6)) AS outlier
        |FROM dev d JOIN mad m USING (user_id)""".stripMargin,

    "a13_grouplr" ->
      """WITH a AS (SELECT l_suppkey, count(*)::BIGINT AS n,
        |  sum(l_quantity::BIGINT)::BIGINT AS sx,
        |  sum(floor(l_extendedprice)::BIGINT)::BIGINT AS sy,
        |  sum((l_quantity::BIGINT) * (l_quantity::BIGINT))::BIGINT AS sxx,
        |  sum((l_quantity::BIGINT) * (floor(l_extendedprice)::BIGINT))::BIGINT AS sxy
        | FROM lineitem GROUP BY l_suppkey)
        |SELECT l_suppkey, n,
        | CASE WHEN (n*sxx - sx*sx) <> 0
        |  THEN ((n*sxy - sx*sy)::DOUBLE) / ((n*sxx - sx*sx)::DOUBLE) END AS slope,
        | CASE WHEN (n*sxx - sx*sx) <> 0
        |  THEN (sy::DOUBLE - (((n*sxy - sx*sy)::DOUBLE) / ((n*sxx - sx*sx)::DOUBLE))
        |        * sx::DOUBLE) / n::DOUBLE END AS intercept
        |FROM a""".stripMargin,

    "o12_surrogate" ->
      """WITH k AS (SELECT DISTINCT c_mktsegment, c_nationkey FROM customer),
        |sk AS (SELECT c_mktsegment, c_nationkey,
        |  dense_rank() OVER (ORDER BY c_mktsegment, c_nationkey)::BIGINT
        |    AS segment_nation_sk FROM k)
        |SELECT c_custkey, c_mktsegment, c_nationkey, segment_nation_sk
        |FROM customer JOIN sk USING (c_mktsegment, c_nationkey)""".stripMargin,

    "a35_ks" ->
      s"""WITH e AS (SELECT ${latticeSql("value", 100)} AS c,
        |  CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS isA
        | FROM events WHERE event_type IN ('view', 'click')),
        |g AS (SELECT c, CAST(sum(isA) AS BIGINT) AS ca,
        |  CAST(sum(1 - isA) AS BIGINT) AS cb FROM e GROUP BY c),
        |cum AS (SELECT c,
        |  CAST(sum(ca) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS BIGINT) AS cumA,
        |  CAST(sum(cb) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS BIGINT) AS cumB,
        |  CAST(sum(ca) OVER () AS BIGINT) AS na,
        |  CAST(sum(cb) OVER () AS BIGINT) AS nb
        | FROM g),
        |a AS (SELECT max(na) AS n_a, max(nb) AS n_b,
        |  CAST(max(abs(cumA * nb - cumB * na)) AS BIGINT) AS d_num FROM cum)
        |SELECT n_a, n_b, d_num,
        | CAST(d_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS ks_d
        |FROM a""".stripMargin,

    "m14_auc" ->
      s"""WITH e AS (SELECT ${latticeSql("value", 100)} AS score,
        |  CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS y
        | FROM events),
        |g AS (SELECT score, count(*)::BIGINT AS cnt,
        |  CAST(sum(y) AS BIGINT) AS pos FROM e GROUP BY score),
        |r AS (SELECT score, cnt, pos,
        |  COALESCE(CAST(sum(cnt) OVER (ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |    AS "before"
        | FROM g),
        |a AS (SELECT
        |  CAST(sum(pos * (2 * "before" + cnt + 1)) AS BIGINT) AS r2,
        |  CAST(sum(pos) AS BIGINT) AS np,
        |  CAST(sum(cnt - pos) AS BIGINT) AS nn
        | FROM r)
        |SELECT np AS n_pos, nn AS n_neg,
        | CAST(r2 - np * (np + 1) AS DOUBLE)
        |   / CAST(2 * np * nn AS DOUBLE) AS auc
        |FROM a""".stripMargin,

    "m13_confusion" ->
      s"""WITH e AS (SELECT
        |  CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS actual,
        |  CASE WHEN ${latticeSql("value", 100)} >= 5000
        |    THEN 1 ELSE 0 END AS pred FROM events),
        |g AS (SELECT
        |  CAST(sum(CASE WHEN pred = 1 AND actual = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(sum(CASE WHEN pred = 1 AND actual = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |  CAST(sum(CASE WHEN pred = 0 AND actual = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |  CAST(sum(CASE WHEN pred = 0 AND actual = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        | FROM e)
        |SELECT tp, fp, fn, tn,
        | CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
        | CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
        | 2.0 * (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE))
        |     * (CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))
        |   / (CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
        |      + CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)) AS f1
        |FROM g""".stripMargin,

    "m15_calibration" ->
      s"""WITH e AS (SELECT ${latticeSql("value", 100)} AS cents,
        |  CAST(CASE WHEN event_type IN ('purchase', 'signup')
        |    THEN 1 ELSE 0 END AS BIGINT) AS y FROM events)
        |SELECT cents // 1000 AS bin, count(*)::BIGINT AS n,
        | CAST(sum(y) AS BIGINT) AS n_pos,
        | (CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) / count(*)) / 100.0
        |   AS mean_score,
        | CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) / count(*) AS pos_rate
        |FROM e GROUP BY 1""".stripMargin,

    "m16_gains" ->
      s"""WITH e AS (SELECT ${latticeSql("value", 100)} AS score,
        |  CAST(CASE WHEN event_type IN ('purchase', 'signup')
        |    THEN 1 ELSE 0 END AS BIGINT) AS y FROM events),
        |g AS (SELECT score, count(*)::BIGINT AS cnt,
        |  CAST(sum(y) AS BIGINT) AS pos FROM e GROUP BY score),
        |c AS (SELECT score,
        |  CAST(sum(cnt) OVER wd AS BIGINT) AS cum_n,
        |  CAST(sum(pos) OVER wd AS BIGINT) AS cum_pos,
        |  CAST(sum(cnt) OVER () AS BIGINT) AS n,
        |  CAST(sum(pos) OVER () AS BIGINT) AS tot_pos
        | FROM g WINDOW wd AS (ORDER BY score DESC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT score, cum_n, cum_pos,
        | CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE) AS capture_rate,
        | CAST(cum_pos * n AS DOUBLE) / CAST(cum_n * tot_pos AS DOUBLE)
        |   AS lift
        |FROM c""".stripMargin,

    "a36_kanon" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        | c_mktsegment AS segment, count(*)::BIGINT AS n,
        | CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS BIGINT)
        |   AS violates_k5
        |FROM customer GROUP BY 1, 2""".stripMargin,

    "m18_stringindex" ->
      """WITH c AS (SELECT event_type, count(*)::BIGINT AS cnt
        | FROM events GROUP BY event_type),
        |i AS (SELECT event_type, cnt,
        |  (row_number() OVER (ORDER BY cnt DESC, event_type) - 1)::BIGINT
        |    AS type_idx
        | FROM c)
        |SELECT event_id, event_type, type_idx
        |FROM events JOIN i USING (event_type)""".stripMargin,

    "a37_winsor" ->
      s"""WITH b AS (SELECT l_returnflag AS flag,
        |  ${latticeSql("l_extendedprice", 100)} AS cents
        | FROM lineitem),
        |g AS (SELECT flag, cents, count(*)::BIGINT AS cnt
        | FROM b GROUP BY flag, cents),
        |cum AS (SELECT flag, cents,
        |  CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST(sum(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
        | FROM g),
        |cuts AS (SELECT flag,
        |  min(CASE WHEN cum * 10 >= n THEN cents END) AS lo,
        |  min(CASE WHEN cum * 10 >= n * 9 THEN cents END) AS hi
        | FROM cum GROUP BY flag)
        |SELECT flag, count(*)::BIGINT AS n,
        | min(lo) AS lo_cents, min(hi) AS hi_cents,
        | (CAST(CAST(sum(greatest(lo, least(hi, cents))) AS BIGINT)
        |    AS DOUBLE) / count(*)) / 100.0 AS winsor_mean
        |FROM b JOIN cuts USING (flag) GROUP BY flag""".stripMargin,

    "a38_contribution" ->
      s"""WITH g AS (SELECT r_name, n_name,
        |  CAST(sum(${latticeSql("o_totalprice", 100)}) AS BIGINT)
        |    AS cents
        | FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | GROUP BY r_name, n_name)
        |SELECT r_name, n_name, cents,
        | CAST(cents AS DOUBLE) /
        |   CAST(CAST(sum(cents) OVER (PARTITION BY r_name) AS BIGINT)
        |     AS DOUBLE) AS share
        |FROM g""".stripMargin,

    "a39_pareto" ->
      s"""WITH rev AS (SELECT o_custkey,
        |  CAST(sum(${latticeSql("o_totalprice", 100)}) AS BIGINT)
        |    AS cents
        | FROM orders GROUP BY o_custkey),
        |r AS (SELECT r_name, cents, o_custkey
        | FROM rev
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey),
        |c AS (SELECT r_name, cents,
        |  CAST(sum(cents) OVER (PARTITION BY r_name
        |    ORDER BY cents DESC, o_custkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum,
        |  CAST(sum(cents) OVER (PARTITION BY r_name) AS BIGINT) AS tot
        | FROM r)
        |SELECT r_name, count(*)::BIGINT AS n_customers,
        | CAST(sum(CASE WHEN (cum - cents) * 5 < tot * 4 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_top80
        |FROM c GROUP BY r_name""".stripMargin,

    "a32_kappa" ->
      s"""WITH e AS (SELECT
        |  CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS a,
        |  CASE WHEN ${latticeSql("value", 100)} >= 5000
        |    THEN 1 ELSE 0 END AS b FROM events),
        |g AS (SELECT count(*)::BIGINT AS n,
        |  CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb,
        |  CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
        | FROM e)
        |SELECT n, agree,
        | (CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
        |   - (CAST(na AS DOUBLE) / CAST(n AS DOUBLE)
        |        * (CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
        |      + (1.0 - CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (1.0 - CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))))
        | / (1.0 - (CAST(na AS DOUBLE) / CAST(n AS DOUBLE)
        |        * (CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
        |      + (1.0 - CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (1.0 - CAST(nb AS DOUBLE) / CAST(n AS DOUBLE)))) AS kappa
        |FROM g""".stripMargin,

    // HUGEINT is DuckDB's decimal(38,0)-class exact integer; the final
    // division's two operands cast correctly-rounded to double on both
    // engines (the a26_moments parity).
    "a31_gini" ->
      s"""WITH b AS (SELECT l_returnflag AS flag,
        |  ${latticeSql("l_extendedprice", 100)} AS pc FROM lineitem),
        |r AS (SELECT flag, pc,
        |  row_number() OVER (PARTITION BY flag ORDER BY pc)::BIGINT AS i
        | FROM b),
        |a AS (SELECT flag, count(*)::BIGINT AS n,
        |  sum(CAST(pc AS HUGEINT)) AS sx,
        |  sum(CAST(i AS HUGEINT) * CAST(pc AS HUGEINT)) AS six
        | FROM r GROUP BY flag)
        |SELECT flag, n,
        | CAST(2::HUGEINT * six - CAST(n + 1 AS HUGEINT) * sx AS DOUBLE)
        |  / CAST(CAST(n AS HUGEINT) * sx AS DOUBLE) AS gini
        |FROM a""".stripMargin,

    "a29_wmedian" ->
      s"""WITH b AS (SELECT l_returnflag AS flag,
        |  ${latticeSql("l_extendedprice", 100)} AS pc,
        |  ${latticeSql("l_quantity", 100)} AS wc FROM lineitem),
        |g AS (SELECT flag, pc, CAST(sum(wc) AS BIGINT) AS w
        |      FROM b GROUP BY flag, pc),
        |c AS (SELECT flag, pc, w,
        |  CAST(sum(w) OVER (PARTITION BY flag ORDER BY pc
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
        |  CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
        | FROM g)
        |SELECT flag, min(pc) AS wmedian_cents, max(tw) AS total_weight
        |FROM c WHERE cw * 2 >= tw GROUP BY flag""".stripMargin,

    // The sketch estimate is engine-specific; the graded columns are
    // the exact count and the integer-decided accuracy gate.
    "a30_hll_merge" ->
      """SELECT r_name, count(DISTINCT c_custkey)::BIGINT AS exact,
        | TRUE AS within_5pct
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    // The sketch estimate is Spark-side only; graded columns are the
    // exact hot-key counts plus the constant-true gates.
    "a34_cms" ->
      """SELECT user_id, count(*)::BIGINT AS exact,
        | TRUE AS never_under, TRUE AS within_slack
        |FROM events GROUP BY user_id
        |ORDER BY exact DESC, user_id LIMIT 20""".stripMargin,

    // Identical cross-multiplied Welch decision in HUGEINT.
    "a35_ab" ->
      s"""WITH e AS (SELECT event_type, user_id % 2 AS variant,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |g AS (SELECT event_type, variant, count(*)::HUGEINT AS n,
        |  sum(c)::HUGEINT AS s, sum(c * c)::HUGEINT AS q
        | FROM e GROUP BY event_type, variant),
        |a AS (SELECT event_type, n AS n1, s AS s1, q AS q1 FROM g
        |      WHERE variant = 0),
        |b AS (SELECT event_type, n AS n2, s AS s2, q AS q2 FROM g
        |      WHERE variant = 1)
        |SELECT a.event_type,
        | CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
        | CAST(s1 * n2 - s2 * n1 AS BIGINT) AS diff_scaled,
        | (s1 * n2 - s2 * n1) * (s1 * n2 - s2 * n1) * (n1 - 1) * (n2 - 1)
        |  >= 4 * ((n1 * q1 - s1 * s1) * n2 * n2 * (n2 - 1)
        |        + (n2 * q2 - s2 * s2) * n1 * n1 * (n1 - 1))
        |  AS significant_2se
        |FROM a JOIN b ON a.event_type = b.event_type""".stripMargin,

    "j19_entity_res" ->
      s"""WITH c AS (SELECT c_custkey, c_name, c_nationkey,
        |  ${latticeSql("c_acctbal", 100)} AS bal_cents FROM customer),
        |st AS (SELECT min(bal_cents) AS mn,
        |  (max(bal_cents) - min(bal_cents) + 1)::BIGINT AS rng,
        |  greatest(1, count(*) // 250)::BIGINT AS nb FROM c),
        |cb AS (SELECT c.*, c_nationkey * 1000000000::BIGINT +
        |  ((bal_cents - mn) * nb) // rng AS blk FROM c, st),
        |dirty AS (SELECT c_custkey AS rid,
        |  CASE WHEN c_custkey % 3 = 0 THEN c_name || 'X'
        |       WHEN c_custkey % 3 = 1 THEN 'ZZZ' || c_name
        |       ELSE 'Unknown#' || c_custkey END AS d_name,
        |  blk FROM cb),
        |lb AS (SELECT c_custkey, c_name, blk FROM cb),
        |kept AS (SELECT blk FROM dirty GROUP BY blk HAVING count(*) <= 100)
        |SELECT c_custkey, rid,
        | levenshtein(c_name, d_name)::BIGINT AS lev,
        | CASE WHEN levenshtein(c_name, d_name) <= 1 THEN 'match'
        |      WHEN levenshtein(c_name, d_name) <= 4 THEN 'possible'
        |      ELSE 'non_match' END AS verdict
        |FROM lb JOIN kept USING (blk) JOIN dirty USING (blk)""".stripMargin,

    "o13_compaction" ->
      """SELECT doc_id, lang, n_chars, bytes_before,
        | bytes_before // 16000 AS file_bin
        |FROM (SELECT doc_id, lang, n_chars,
        |  COALESCE(CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |    AS bytes_before
        | FROM documents)""".stripMargin,

    "j15_snapshot_diff" ->
      """WITH base AS (SELECT o_orderkey, round(o_totalprice, 2) AS old_price
        |  FROM orders),
        |next AS (
        | SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN round(o_totalprice + 5.0, 2)
        |   ELSE round(o_totalprice, 2) END AS new_price
        | FROM orders WHERE o_orderkey % 11 <> 0
        | UNION ALL
        | SELECT o_orderkey + 900000000, round(o_totalprice, 2)
        | FROM orders WHERE o_orderkey % 1000 = 1)
        |SELECT coalesce(b.o_orderkey, n.o_orderkey) AS o_orderkey,
        | b.old_price, n.new_price,
        | CASE WHEN b.old_price IS NULL THEN 'inserted'
        |  WHEN n.new_price IS NULL THEN 'deleted'
        |  WHEN b.old_price <> n.new_price THEN 'changed'
        |  ELSE 'unchanged' END AS change_type
        |FROM base b FULL OUTER JOIN next n ON b.o_orderkey = n.o_orderkey
        |WHERE (CASE WHEN b.old_price IS NULL THEN 'inserted'
        |  WHEN n.new_price IS NULL THEN 'deleted'
        |  WHEN b.old_price <> n.new_price THEN 'changed'
        |  ELSE 'unchanged' END) <> 'unchanged'""".stripMargin,

    "a21_histogram" ->
      """SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
        | count(*) AS n,
        | min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        |FROM lineitem WHERE l_extendedprice IS NOT NULL
        |GROUP BY 1""".stripMargin,

    "j13_upsert" ->
      """WITH changes AS (
        | SELECT o_orderkey, o_custkey AS c_custkey,
        |  round(o_totalprice + 1000.0, 2) AS c_totalprice, 'U' AS c_status
        | FROM orders WHERE o_orderkey % 3 = 0
        | UNION ALL
        | SELECT o_orderkey + 100000000, o_custkey,
        |  round(o_totalprice, 2), 'N'
        | FROM orders WHERE o_orderkey % 1000 = 1)
        |SELECT coalesce(b.o_orderkey, c.o_orderkey) AS o_orderkey,
        | coalesce(c.c_custkey, b.o_custkey) AS custkey,
        | coalesce(c.c_totalprice, round(b.o_totalprice, 2)) AS totalprice,
        | coalesce(c.c_status, b.o_orderstatus) AS status
        |FROM orders b FULL OUTER JOIN changes c
        | ON b.o_orderkey = c.o_orderkey""".stripMargin,

    "a24_constraints" ->
      """WITH s AS (SELECT
        | sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT
        |   AS v_complete,
        | (count(*) - (SELECT count(*) FROM
        |    (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)))::BIGINT
        |   AS v_unique,
        | sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0
        |   END)::BIGINT AS v_bounds,
        | sum(CASE WHEN l_returnflag NOT IN ('R', 'A', 'N') THEN 1 ELSE 0
        |   END)::BIGINT AS v_domain,
        | (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderkey IS NULL)::BIGINT AS v_fk
        | FROM lineitem)
        |SELECT 'complete' AS "check", v_complete AS n_violations,
        | (CASE WHEN v_complete = 0 THEN 1 ELSE 0 END)::BIGINT AS passed
        | FROM s
        |UNION ALL SELECT 'unique', v_unique,
        | (CASE WHEN v_unique = 0 THEN 1 ELSE 0 END)::BIGINT FROM s
        |UNION ALL SELECT 'bounds', v_bounds,
        | (CASE WHEN v_bounds = 0 THEN 1 ELSE 0 END)::BIGINT FROM s
        |UNION ALL SELECT 'domain', v_domain,
        | (CASE WHEN v_domain = 0 THEN 1 ELSE 0 END)::BIGINT FROM s
        |UNION ALL SELECT 'fk', v_fk,
        | (CASE WHEN v_fk = 0 THEN 1 ELSE 0 END)::BIGINT FROM s""".stripMargin,

    "a20_profile" ->
      """WITH a AS (SELECT count(*)::BIGINT AS n,
        | sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT AS nn_q,
        | count(DISTINCT l_quantity)::BIGINT AS ndv_q,
        | min(l_quantity) AS min_q, max(l_quantity) AS max_q,
        | sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)::BIGINT AS nn_p,
        | count(DISTINCT l_extendedprice)::BIGINT AS ndv_p,
        | min(l_extendedprice) AS min_p, max(l_extendedprice) AS max_p,
        | sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)::BIGINT AS nn_d,
        | count(DISTINCT l_discount)::BIGINT AS ndv_d,
        | min(l_discount) AS min_d, max(l_discount) AS max_d
        | FROM lineitem)
        |SELECT 'l_quantity' AS col_name, n, nn_q AS n_null, ndv_q AS ndv,
        | min_q AS vmin, max_q AS vmax FROM a
        |UNION ALL
        |SELECT 'l_extendedprice', n, nn_p, ndv_p, min_p, max_p FROM a
        |UNION ALL
        |SELECT 'l_discount', n, nn_d, ndv_d, min_d, max_d FROM a""".stripMargin,

    "a17_binning" ->
      """WITH d AS (SELECT l_extendedprice AS v, count(*) AS cnt
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY v),
        |cum AS (SELECT v,
        |  sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW)::BIGINT AS cum,
        |  (SELECT count(l_extendedprice) FROM lineitem)::BIGINT AS n
        | FROM d),
        |cuts AS (SELECT
        |  min(CASE WHEN cum*4 >= n*1 THEN v END) AS cut_0,
        |  min(CASE WHEN cum*4 >= n*2 THEN v END) AS cut_1,
        |  min(CASE WHEN cum*4 >= n*3 THEN v END) AS cut_2 FROM cum)
        |SELECT l_orderkey, l_linenumber::BIGINT AS l_linenumber,
        | l_extendedprice AS price,
        | CASE WHEN l_extendedprice IS NULL THEN NULL ELSE
        | ((CASE WHEN l_extendedprice > cut_0 THEN 1 ELSE 0 END) +
        |  (CASE WHEN l_extendedprice > cut_1 THEN 1 ELSE 0 END) +
        |  (CASE WHEN l_extendedprice > cut_2 THEN 1 ELSE 0 END)) END::BIGINT
        |  AS bin
        |FROM lineitem, cuts""".stripMargin,

    "a18_corrmat" ->
      s"""WITH t AS (SELECT l_suppkey,
        |  l_quantity::BIGINT AS x,
        |  floor(l_extendedprice)::BIGINT AS y,
        |  ${latticeSql("l_discount", 100)} AS z FROM lineitem),
        |a AS (SELECT l_suppkey, count(*)::BIGINT AS n,
        |  sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy, sum(z)::BIGINT AS sz,
        |  sum(x*x)::BIGINT AS sxx, sum(x*y)::BIGINT AS sxy,
        |  sum(x*z)::BIGINT AS sxz, sum(y*y)::BIGINT AS syy,
        |  sum(y*z)::BIGINT AS syz, sum(z*z)::BIGINT AS szz
        | FROM t GROUP BY l_suppkey)
        |SELECT l_suppkey, n,
        | CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0 THEN
        |  ((n*sxy - sx*sy)::DOUBLE) /
        |  (sqrt((n*sxx - sx*sx)::DOUBLE) * sqrt((n*syy - sy*sy)::DOUBLE))
        | END AS corr_qty_price,
        | CASE WHEN (n*sxx - sx*sx) > 0 AND (n*szz - sz*sz) > 0 THEN
        |  ((n*sxz - sx*sz)::DOUBLE) /
        |  (sqrt((n*sxx - sx*sx)::DOUBLE) * sqrt((n*szz - sz*sz)::DOUBLE))
        | END AS corr_qty_disc,
        | CASE WHEN (n*syy - sy*sy) > 0 AND (n*szz - sz*sz) > 0 THEN
        |  ((n*syz - sy*sz)::DOUBLE) /
        |  (sqrt((n*syy - sy*sy)::DOUBLE) * sqrt((n*szz - sz*sz)::DOUBLE))
        | END AS corr_price_disc
        |FROM a""".stripMargin)
}
