package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.EwmAvg
import graft.operators.Temporal
import Q._

/** Registered queries for the temporal operators (SURVEY §2.6 W1-W8,
  * §2.4 A1/A6, §2.8 M8-sequence) over the `events` table: per-user
  * time series ordered by (ts, event_id).
  *
  * The canonical window partitions by user_id — ONE exchange serves
  * every operator here; at 100 TB this is a single hash shuffle on the
  * entity key, identical to the reference's per-(game,play,nfl) frame
  * ordering (`main_cuda.py:208-232`).
  */
object TemporalQ extends QueryModule {

  private def w(s: org.apache.spark.sql.SparkSession) =
    Temporal.spec(Seq(col("user_id")), Seq(col("ts"), col("event_id")))

  private def eventsRawUs(s: org.apache.spark.sql.SparkSession,
                          dir: String) = graft.io.Tables.eventsUs(s, dir)

  /** Runs `body` with the RocksDB state-store provider set (the
    * transformWithState queries need multi-column-family state), then
    * restores the session's previous provider, or unsets the key when
    * the session had none. */
  private def withRocksDb[T](s: org.apache.spark.sql.SparkSession)(
      body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(p) => s.conf.set(key, p)
      case None => s.conf.unset(key)
    }
  }

  /** W5 (w5_ema and w5_ema_native): pandas `ewm(0.5, adjust=False)`
    * per user in (ts, event_id) order through the native window
    * function, one ordered pass per partition. alpha = 0.5 is in the
    * reference's alpha set, and multiplying by a power of two is EXACT,
    * so the recursion is bitwise identical across engines; non-dyadic
    * alphas drift apart under DuckDB's fused multiply-add and are
    * property-tested in GraftProps against the sequential fold
    * instead. No rounding: with the dyadic alpha the raw doubles match,
    * while round() itself disagrees between engines on tie-looking
    * values (DuckDB rounds the shortest decimal repr, Spark the exact
    * one). */
  private val ema05: QueryFn = (s, dir) =>
    events(s, dir).select(col("event_id"),
      EwmAvg.ewmAvg(col("value"), 0.5, Seq(col("user_id")),
        Seq(col("ts"), col("event_id"))).as("ema"))

  val queries: Seq[(String, QueryFn)] = Seq(
    "w1_lag" -> ((s, dir) => {
      val ww = w(s)
      events(s, dir).select(
        col("event_id"), col("user_id"), col("value"),
        Temporal.lagK(col("value"), 1, ww).as("lag1"),
        Temporal.lagK(col("value"), 3, ww).as("lag3"))
    }),

    // Gap imputation: forward/backward fill (pandas ffill/bfill) over
    // planted gaps, in the exact-cents domain (filled values are
    // COPIES of exact longs — nothing recomputed, bit-portable by
    // construction). Both fills ride the key's one window exchange.
    "w26_ffill" -> ((s, dir) => {
      val ww = w(s)
      val gap = when(col("event_id") % 7 === 0, lit(null).cast("long"))
        .otherwise(lattice(col("value"), 100))
      events(s, dir).withColumn("cents_gap", gap).select(
        col("event_id"), col("user_id"), col("cents_gap"),
        Temporal.ffill(col("cents_gap"), ww).as("cents_ffill"),
        Temporal.bfill(col("cents_gap"), ww).as("cents_bfill"))
    }),

    // CUSUM change-point statistic (Page): s_t = max(0, s_{t-1} +
    // (x_t - k)) per user series, via the native CusumLong window
    // function — one ordered pass inside the window engine, sharing
    // the canonical per-user exchange. Runs in the exact-cents
    // domain (ORACLE_NOTES.md rule 1): every state is an exact
    // BIGINT in both engines. Allowance k = 6000 cents sits between
    // the series median (~3600) and its heavy upper tail, so the
    // statistic resets on quiet stretches and climbs on hot ones;
    // h = 30000 flags the top ~1% excursions (calibrated on the
    // driver tables).
    "w27_cusum" -> ((s, dir) => {
      val cents = lattice(col("value"), 100)
      events(s, dir)
        .withColumn("cents", cents)
        .select(
          col("event_id"), col("user_id"), col("cents"),
          graft.functions.CusumLong.cusum(col("cents"), 6000L,
            Seq(col("user_id")), Seq(col("ts"), col("event_id")))
            .as("cusum"))
        .withColumn("drifted", (col("cusum") > 30000L).cast("boolean"))
    }),

    // Holt double exponential smoothing (level + trend) via the
    // two-state native window function: one ordered pass per user
    // emits BOTH states from a struct. Dyadic α=β=0.5 → bitwise-
    // portable raw doubles (same contract as w5_ema); the oracle is a
    // recursive CTE over per-step scalars.
    "w28_holt" -> ((s, dir) => {
      val h = graft.functions.HoltLinear.holt(col("value"), 0.5, 0.5,
        Seq(col("user_id")), Seq(col("ts"), col("event_id")))
      events(s, dir)
        .withColumn("h", h)
        .select(col("event_id"), col("user_id"),
          col("h.level").as("holt_level"),
          col("h.trend").as("holt_trend"))
    }),

    "w2_rolling" -> ((s, dir) => {
      val ww = w(s)
      events(s, dir).select(
        col("event_id"),
        r6(Temporal.rollingMean(col("value"), 5, ww)).as("roll_mean5"),
        r6(Temporal.rollingStd(col("value"), 5, ww)).as("roll_std5"),
        Temporal.rollingMin(col("value"), 3, ww).as("roll_min3"),
        Temporal.rollingMax(col("value"), 3, ww).as("roll_max3"))
    }),

    // A34/net-new: seasonal decomposition (STL-lite): trend = centered
    // 25-row rolling mean, seasonal index = per-phase (hour-of-day)
    // mean of the detrended series. Exactness: only INTERIOR rows
    // (full 25-row frames) contribute, so the scaled residual
    // c·25 − Σc is an exact BIGINT with one constant scale, the phase
    // sums are exact, and ONE final division produces the index.
    "a34_decompose" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          lattice(col("value"), 100).as("c"))
        .withColumn("phase", expr("(ts_us DIV 3600000000) % 24"))
      val wk = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(-12, 12)
      val withFrame = e
        .withColumn("fn", count(col("c")).over(wk))
        .withColumn("fs", sum(col("c")).over(wk))
        .filter(col("fn") === 25)
        .withColumn("resid_scaled", col("c") * 25 - col("fs"))
      withFrame.groupBy("phase")
        .agg(count(lit(1)).as("n_interior"),
          sum(col("resid_scaled")).as("resid_sum"))
        .select(col("phase"), col("n_interior"),
          (col("resid_sum").cast("double") /
            (col("n_interior") * lit(2500L)).cast("double"))
            .as("seasonal_idx"))
    }),

    // W34/net-new: EWM variance (volatility tracking), adjust=False,
    // dyadic alpha — TWO exact dyadic recursions (EWM of x and of x²)
    // whose states stay exact binary, then a pointwise m2 − m·m tail:
    // bitwise-portable unrounded, the w5_ema/w28_holt class. Both
    // recursions ride the same per-user window exchange.
    "w34_ewmvar" -> ((s, dir) => {
      val entity = Seq(col("user_id"))
      val ord = Seq(col("ts"), col("event_id"))
      val e = events(s, dir).withColumn("v2", col("value") * col("value"))
      val m = EwmAvg.ewmAvg(col("value"), 0.5, entity, ord)
      val m2 = EwmAvg.ewmAvg(col("v2"), 0.5, entity, ord)
      e.select(col("event_id"), m.as("ewm_mean"), (m2 - m * m).as("ewm_var"))
    }),

    // W46/net-new: EWM correlation between two co-observed series —
    // the online feature-vs-feature drift tracker. FIVE dyadic
    // recursions (EWM of x, y, x², y², xy) sharing ONE window
    // exchange+sort; every state is exact binary (w5_ema/w34 class),
    // and the corr tail is pointwise correctly-rounded ops of
    // bitwise-identical states — raw doubles, no rounding, portable.
    // The second series is a deterministic integer-valued double so
    // products with the raw parquet doubles stay correctly rounded.
    "w46_ewmcorr" -> ((s, dir) => {
      val entity = Seq(col("user_id"))
      val ord = Seq(col("ts"), col("event_id"))
      def ewm(c: org.apache.spark.sql.Column) =
        EwmAvg.ewmAvg(c, 0.5, entity, ord)
      val e = events(s, dir)
        .withColumn("y", ((col("event_id") * 13) % 89).cast("double"))
      val mx = ewm(col("value")); val my = ewm(col("y"))
      val mxx = ewm(col("value") * col("value"))
      val myy = ewm(col("y") * col("y"))
      val mxy = ewm(col("value") * col("y"))
      val vx = mxx - mx * mx; val vy = myy - my * my
      e.select(col("event_id"),
        when(vx > 0 && vy > 0, (mxy - mx * my) / sqrt(vx * vy))
          .otherwise(lit(null).cast("double")).as("ewm_corr"))
    }),

    // A33/net-new: lag-k autocorrelation per series — seasonality /
    // persistence screen. Formulated as the Pearson correlation of
    // (x_t, x_{t−3}) pairs, so it reuses the w30 exact-BIGINT recipe:
    // five exact sums over the lag-joined pairs, pointwise IEEE tail.
    "a33_autocorr" -> ((s, dir) => {
      val ww = w(s)
      val b = events(s, dir)
        .withColumn("a", lattice(col("value"), 100))
        .withColumn("bl", Temporal.lagK(col("a"), 3, ww))
        .filter(col("bl").isNotNull)
      val g = b.groupBy("user_id").agg(count(lit(1)).as("n"),
        sum(col("a")).as("sa"), sum(col("bl")).as("sb"),
        sum(col("a") * col("bl")).as("sab"),
        sum(col("a") * col("a")).as("saa"),
        sum(col("bl") * col("bl")).as("sbb"))
      val va = col("n") * col("saa") - col("sa") * col("sa")
      val vb = col("n") * col("sbb") - col("sb") * col("sb")
      g.select(col("user_id"), col("n"),
        when(col("n") > 1 && va > 0 && vb > 0,
          (col("n") * col("sab") - col("sa") * col("sb")).cast("double") /
            sqrt(va.cast("double") * vb.cast("double"))).as("acf3"))
    }),

    // W31/net-new: rolling z-score anomaly flag — |x − mean₁₆| > 3·std₁₆
    // — with the comparison done ENTIRELY in BIGINT so the flag is
    // exact on every engine: squaring both sides of
    // (c·n − s1)² / n² > 9 · (n·s2 − s1²) / (n·(n−1)) and clearing
    // denominators gives (c·n − s1)²·(n−1) > 9·n·(n·s2 − s1²). No
    // float ever exists, so no tick can flip. The anomaly-detection
    // primitive for metric/sensor streams.
    "w31_anomaly" -> ((s, dir) => {
      val wk = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-15, 0)
      val b = events(s, dir).select(col("event_id"), col("user_id"),
        col("ts"), lattice(col("value"), 100).as("c"))
      val n = count(col("c")).over(wk)
      val s1 = sum(col("c")).over(wk)
      val s2 = sum(col("c") * col("c")).over(wk)
      val dev = col("c") * n - s1
      b.select(col("event_id"), col("user_id"), col("c").as("cents"),
        (n > 1 && dev * dev * (n - 1) > lit(9L) * n * (n * s2 - s1 * s1))
          .as("is_anomaly"))
    }),

    // W30/net-new: rolling Pearson correlation between two co-observed
    // series (feature-drift / co-movement monitoring), engine-portable
    // by the exact-integer contract: all five rolling sums are BIGINTs
    // over the cents lattices, the three normalized second moments
    // (n·Sxy − Sx·Sy etc.) are exact BIGINTs < 2^53, and the only
    // float ops are one multiply, one sqrt, one divide on identical
    // exact operands — IEEE-deterministic on every engine. Everything
    // rides ONE window exchange on l_suppkey.
    "w30_rollcorr" -> ((s, dir) => {
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic
      // lineitem — ordering also by the two measures makes any
      // remaining tie value-identical, so every engine's frame holds
      // the same multiset and the sums agree.
      val wk = Window.partitionBy("l_suppkey")
        .orderBy("l_orderkey", "l_linenumber", "xc", "yc").rowsBetween(-7, 0)
      val b = lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_suppkey"), lattice(col("l_quantity"), 100).as("xc"),
        lattice(col("l_extendedprice"), 100).as("yc"))
      val n = count(col("xc")).over(wk)
      val sx = sum(col("xc")).over(wk)
      val sy = sum(col("yc")).over(wk)
      val sxy = sum(col("xc") * col("yc")).over(wk)
      val sxx = sum(col("xc") * col("xc")).over(wk)
      val syy = sum(col("yc") * col("yc")).over(wk)
      val varX = n * sxx - sx * sx
      val varY = n * syy - sy * sy
      b.select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        when(n > 1 && varX > 0 && varY > 0,
          (n * sxy - sx * sy).cast("double") /
            sqrt(varX.cast("double") * varY.cast("double")))
          .as("roll_corr8"))
    }),

    // Resample to a regular grid + forward-fill (pandas
    // `resample('1h').ffill()`): per user, hourly ticks spanning the
    // observed range, each tick carrying the latest at-or-before
    // observation via the as-of union+window machinery. Three keyed
    // exchanges by design: the per-user bounds aggregate (tiny), the
    // (user, ts) dedup that makes the fill deterministic (~full event
    // set — the unavoidable cost of a unique right side), and the
    // user-keyed as-of window that carries grid+events. Guard:
    // sequence(gs, ge) DESCENDS when gs > ge (sub-hour users) — such
    // users get no ticks, filtered explicitly.
    "w25_resample" -> ((s, dir) => {
      val hourUs = 3600L * 1000000L
      val e = eventsRawUs(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
      val bounds = e.groupBy("user_id").agg(
        min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
      val grid = bounds
        .select(col("user_id"),
          expr(s"(mn + ${hourUs - 1}) DIV $hourUs").as("gs"),
          expr(s"mx DIV $hourUs").as("ge"))
        .where(col("gs") <= col("ge"))
        .select(col("user_id"),
          explode(sequence(col("gs"), col("ge"))).as("tick"))
        .select(col("user_id"), (col("tick") * hourUs).as("tick_us"))
      // deterministic right side: unique per (user, ts); value of the
      // max event id at that instant
      val r = e.groupBy("user_id", "ts_us").agg(
        max(col("event_id")).as("ffill_event"),
        expr("max_by(value, event_id)").as("ffill_value"))
      Temporal.asofJoin(grid, r, Seq("user_id"), "tick_us", "ts_us",
        Seq("ffill_value", "ffill_event"))
        .select("user_id", "tick_us", "ffill_value", "ffill_event")
    }),

    // Typed mergeable top-k aggregate (functions/TopKAgg.scala): the
    // map-side-combine alternative to the W6 window rank — the
    // shuffle carries at most k rows per group per input partition.
    "w24_topk_agg" -> ((s, dir) => {
      val topk = udaf(new graft.functions.TopKAgg(3))
      events(s, dir)
        // TopKAgg takes primitive-encoded inputs — nulls must not
        // reach it (none in events; the guard keeps the op total)
        .where(col("value").isNotNull && col("event_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(topk(col("value"), col("event_id")).as("top3_ids"))
    }),

    // SCD-2 history build: each change row becomes a validity
    // interval [valid_from, valid_to) via lead() over the entity's
    // change log; the open (current) row gets a null valid_to. The
    // dimension-history staple — one window shuffle on the entity key.
    "w23_scd2" -> ((s, dir) => {
      val e = eventsRawUs(s, dir)
      val ww = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      e.select(col("user_id"), col("event_id"), col("event_type"),
          col("ts_us").as("valid_from"),
          lead(col("ts_us"), 1).over(ww).as("valid_to"),
          (lead(col("ts_us"), 1).over(ww).isNull).as("is_current"))
    }),

    // Rolling exact MEDIAN (robust center, `rolling(5).median()`).
    // Only full frames are emitted: odd k on a full frame picks an
    // actual data value — raw doubles, bitwise portable; partial
    // frames would interpolate (engine-divergent association).
    "w21_rollmedian" -> ((s, dir) => {
      val ww = w(s)
      events(s, dir).select(
          col("event_id"),
          row_number().over(ww).as("rn"),
          Temporal.rollingMedian(col("value"), 5, ww).as("roll_med5"))
        .filter(col("rn") >= 5)
        .select("event_id", "roll_med5")
    }),

    // Rolling DISTINCT count (unique event types over the trailing 10
    // rows). Window distinct-aggregates don't exist in either engine;
    // the portable form is collect-over-frame + distinct + size —
    // bounded frame ⇒ bounded per-row state. Output is an exact
    // integer.
    "w22_rolldistinct" -> ((s, dir) => {
      val ww = w(s)
      events(s, dir).select(
        col("event_id"),
        size(array_distinct(collect_list(col("event_type"))
          .over(Temporal.rollingFrame(ww, 10)))).cast("long")
          .as("nd_types_10"))
    }),

    // W35/net-new: Hampel outlier filter — the robust despiking pass
    // sensor/feature pipelines run before model features (rolling
    // median + rolling MAD instead of mean/std, so one spike can't
    // mask itself by inflating the std). Entirely in the exact-cents
    // domain (ORACLE_NOTES.md rule 1): with ODD k over a FULL frame
    // both the median and the MAD are actual data values — integer
    // selections, no interpolation — and the decision threshold
    // |c−med|·10⁴ > 44478·mad (= 3·1.4826 Gaussian-consistent sigmas,
    // scaled to integers) has no float boundary to drift. The frame's
    // value multiset rides ONE collect over the canonical per-user
    // exchange; per-row cost is O(k log k) for small fixed k.
    "w35_hampel" -> ((s, dir) => {
      val ww = w(s)
      val k = 7
      events(s, dir)
        .withColumn("c", lattice(col("value"), 100))
        .withColumn("rn", row_number().over(ww))
        .withColumn("arr",
          collect_list(col("c")).over(Temporal.rollingFrame(ww, k)))
        .filter(col("rn") >= k)
        .withColumn("med", element_at(array_sort(col("arr")), (k + 1) / 2))
        .withColumn("mad", element_at(
          array_sort(transform(col("arr"), x => abs(x - col("med")))),
          (k + 1) / 2))
        .select(col("event_id"), col("med"), col("mad"),
          (abs(col("c") - col("med")) * lit(10000L) >
            col("mad") * lit(44478L)).as("is_outlier"))
    }),

    "w3_diff" -> ((s, dir) => {
      val ww = w(s)
      events(s, dir).select(
        col("event_id"),
        Temporal.diff(col("value"), ww).as("d1"))
    }),

    "w4_delta2" -> ((s, dir) => {
      val ww = w(s)
      events(s, dir).select(
        col("event_id"),
        Temporal.delta2(col("value"), ww).as("d2"))
    }),

    "w5_ema" -> ema05,
    "w5_ema_native" -> ema05,

    // W5 with the pandas DEFAULT null semantics (ignore_na=False, what
    // the reference's ewm(alpha, adjust=False) actually does): nulls
    // (masked error events) decay older weights by absolute position.
    // alpha=0.5 keeps every weight dyadic and the blend divides
    // identical operands — raw doubles hash-match.
    "w5_ema_nafalse" -> ((s, dir) => {
      val mv = when(col("event_type") === "error", lit(null).cast("double"))
        .otherwise(col("value"))
      events(s, dir).select(col("event_id"),
        EwmAvg.ewmAvg(mv, 0.5, Seq(col("user_id")),
          Seq(col("ts"), col("event_id")), ignoreNa = false).as("ema_nf"))
    }),

    // Dyadic-alpha coverage beyond 0.5: 0.75 = 3/4 and 0.25 = 1/4 are
    // exact in binary, so both recursions stay bitwise identical across
    // engines — they bracket the reference's {0.3, 0.5, 0.7} set
    // (`main_mps.py:231-240`) whose non-dyadic members are
    // property-tested in GraftProps instead.
    "w5_ema_75" -> ((s, dir) => events(s, dir).select(col("event_id"),
      EwmAvg.ewmAvg(col("value"), 0.75, Seq(col("user_id")),
        Seq(col("ts"), col("event_id"))).as("ema75"))),

    "w5_ema_25" -> ((s, dir) => events(s, dir).select(col("event_id"),
      EwmAvg.ewmAvg(col("value"), 0.25, Seq(col("user_id")),
        Seq(col("ts"), col("event_id"))).as("ema25"))),

    // W5/streaming: the SAME EMA recursion run through Structured
    // Streaming — file-source read of the events parquet (no
    // driver-side data path), per-key state in flatMapGroupsWithState,
    // AvailableNow trigger, memory sink. The oracle is the batch w5_ema
    // SQL: hash-equality IS the batch-parity proof. Cross-micro-batch
    // state continuation is covered in StreamingSpec (a file source
    // can't split one parquet file into multiple batches).
    "w10_stream_ema" -> ((s, dir) => {
      runStream(s, "w10_stream_ema_sink",
        graft.streaming.StreamingTemporal.emaStream(obsStream(s, dir), 0.5))
        .select(col("id").as("event_id"), col("ema"))
    }),

    // W27/streaming: the CUSUM drift monitor through the same harness
    // — O(1) exact-integer state per key, continued across batches.
    // The oracle is the batch w27 recursion: hash-equality IS the
    // batch-parity proof.
    "w29_stream_cusum" -> ((s, dir) => {
      runStream(s, "w29_stream_cusum_sink",
        graft.streaming.StreamingTemporal.cusumStream(obsStream(s, dir), 6000L))
        .select(col("id").as("event_id"), col("cents"), col("cusum"))
    }),

    // W58/streaming: last-touch attribution as an always-on stream —
    // O(1) last-click state per user via flatMapGroupsWithState,
    // continued across micro-batches. Oracle = the batch w58 SQL:
    // hash-equality IS the batch-parity proof.
    "w59_stream_attribution" -> ((s, dir) => {
      import s.implicits._
      val src = eventsStream(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id").cast("string").as("key"),
          unix_micros(col("ts")).as("ts"),
          col("event_id").cast("long").as("id"),
          col("event_type").as("typ"))
        .as[graft.streaming.AttrObs]
      runStream(s, "w59_stream_attribution_sink",
        graft.streaming.StreamingTemporal
          .attributionStream(src, 7L * 86400L * 1000000L))
        .select(col("purchase_id"), col("key").cast("long").as("user_id"),
          col("ts").as("ts_us"), col("click_id"),
          col("click_ts").as("click_ts_us"),
          (col("ts") - col("click_ts")).as("gap_us"), col("attributed"))
    }),

    // W2/streaming: the trailing rolling mean through the same
    // streaming harness. The state is bounded to k values per key; the
    // in-state sum folds oldest-first so it is bitwise identical to
    // the oracle's window-list fold.
    "w11_stream_roll" -> ((s, dir) => {
      runStream(s, "w11_stream_roll_sink",
        graft.streaming.StreamingTemporal.rollingMeanStream(obsStream(s, dir), 5))
        .select(col("id").as("event_id"), col("roll_mean"),
          col("roll_n").cast("long").as("roll_n"))
    }),

    // Stream-static enrichment: the streaming event feed joined
    // against a broadcast static dimension — the canonical "enrich a
    // firehose with reference data" production shape. Stateless
    // (append mode, no watermark needed); the static side is planned
    // once and broadcast into every micro-batch, so the stream never
    // shuffles.
    "w18_stream_enrich" -> ((s, dir) => {
      val dim = events(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("user_total"))
      val enriched = eventsStream(s, dir)
        .select(col("event_id"), col("user_id"))
        .join(broadcast(dim), Seq("user_id"))
      runStream(s, "w18_stream_enrich_sink", enriched)
        .select(col("event_id"), col("user_id"), col("user_total"))
    }),

    // Spark 4 transformWithState (the arbitrary-state successor of
    // [flat]mapGroupsWithState): running per-key count+max through a
    // StatefulProcessor with RocksDB-backed ValueState — the modern
    // state API a long-lived 100 TB streaming job should target (state
    // off-heap in RocksDB, changelog checkpointing, TTL support). One
    // output row per key for the AvailableNow batch; aggregates are
    // order-free so the result is deterministic and oracled.
    "w19_stateful_v2" -> ((s, dir) => {
      withRocksDb(s) {
        import s.implicits._
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val out = obsStream(s, dir)
          .groupByKey(_.key)
          .transformWithState(new graft.streaming.KeyStatsProcessor,
            TimeMode.None(), OutputMode.Append())
        runStream(s, "w19_stateful_v2_sink", out)
          .select(col("key").cast("long").as("user_id"),
            col("n"), col("max_value"))
      }
    }),

    // W36/streaming: per-key top-k through transformWithState — the
    // bounded-state streaming twin of the w6/w24 top-k family (O(k)
    // RocksDB-backed state per key vs an unbounded buffer; a rank
    // window would need the whole history). The oracle is the batch
    // top-3: hash-equality IS the batch-parity proof.
    "w36_stream_topk" -> ((s, dir) => {
      withRocksDb(s) {
        import s.implicits._
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val out = obsStream(s, dir)
          .groupByKey(_.key)
          .transformWithState(new graft.streaming.TopKProcessor(3),
            TimeMode.None(), OutputMode.Append())
        runStream(s, "w36_stream_topk_sink", out)
          .select(col("key").cast("long").as("user_id"),
            col("id").as("event_id"), col("value"),
            col("rnk").cast("long").as("rnk"))
      }
    }),

    // W38/streaming: per-key category histogram through MapState —
    // the third transformWithState state primitive (Value w19 / List
    // w36 / Map here): one point-updated RocksDB entry per category,
    // never a full-map rewrite. Oracle = the batch two-key count.
    "w38_stream_typecounts" -> ((s, dir) => {
      withRocksDb(s) {
        import s.implicits._
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val typed = eventsStream(s, dir)
          .select(col("user_id").cast("string").as("key"),
            col("event_type").as("typ"), col("event_id").as("id"))
          .as[graft.streaming.TypedObs]
        val out = typed.groupByKey(_.key)
          .transformWithState(new graft.streaming.TypeCountsProcessor,
            TimeMode.None(), OutputMode.Append())
        runStream(s, "w38_stream_typecounts_sink", out)
          .select(col("key").cast("long").as("user_id"),
            col("typ").as("event_type"), col("n"))
      }
    }),

    // W50/streaming: timeout sessionization through transformWithState
    // EVENT-TIME TIMERS (the 4th arbitrary-state primitive after
    // Value/List/Map state): sessions close either inline on an
    // in-batch gap or from handleExpiredTimer when the watermark
    // passes the per-key idle timer — emission-path-invariant content,
    // so the batch gap-sessionization SQL is the exact oracle. The
    // w37 sentinel-flush pattern pushes the final watermark past every
    // real session's timeout. Gap = 10 min (the w20 batch constant).
    "w50_stream_timer" -> ((s, dir) => {
      withRocksDb(s) {
        import s.implicits._
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val ev = events(s, dir)
        // per-JVM reused scratch (overwrite write), JVM-exit delete
        val flushDir = Q.scratchDir("graft_w50_flush")
        ev.groupBy("user_id")
          .agg(max(col("ts")).as("mx"))
          .select(lit(-1L).as("event_id"),
            (max(col("mx")).over(Window.partitionBy()) +
              expr("INTERVAL 5 HOURS")).as("ts"),
            col("user_id"), lit("flush").as("event_type"),
            lit(0.0).as("value"), lit("").as("props"))
          .write.mode("overwrite").parquet(flushDir)
        val flushSrc = s.readStream.schema(ev.schema)
          .option("pathGlobFilter", "*.parquet").parquet(flushDir)
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        val stream = eventsStream(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
          .union(flushSrc)
          .withWatermark("ts", "10 seconds")
        val obs = stream.select(
            col("user_id").cast("string").as("key"),
            unix_micros(col("ts")).as("ts"),
            col("event_id").cast("long").as("id"), col("value"))
          .as[graft.streaming.Obs]
        val out = obs.groupByKey(_.key)
          .transformWithState(
            new graft.streaming.SessionTimerProcessor(600000000L),
            TimeMode.EventTime(), OutputMode.Append())
        runStream(s, "w50_stream_timer_sink", out)
          .filter(col("session_first") >= 0)
          .select(col("key").cast("long").as("user_id"),
            col("session_first"), col("n_events"), col("sum_cents"))
      }
    }),

    // W37/streaming: TRUE streaming sessionization — the w9 batch
    // session_window expression run under readStream + watermark in
    // APPEND mode (the only mode session aggregation supports), with
    // the production "graceful flush" pattern: append only emits a
    // session once the watermark passes its end, so a bounded replay's
    // LAST session per user would be withheld forever. The stream is
    // unioned with one far-future sentinel row per user (event_id −1,
    // ts = global max + 5h > gap + watermark) that pushes the final
    // watermark past every real session's end; the sentinel's own
    // single-row sessions are dropped by their session_first = −1.
    "w37_stream_session" -> ((s, dir) => {
      val ev = events(s, dir)
      // per-JVM reused scratch (overwrite write), JVM-exit delete
      val flushDir = Q.scratchDir("graft_w37_flush")
      ev.groupBy("user_id")
        .agg(max(col("ts")).as("mx"))
        .select(lit(-1L).as("event_id"),
          (max(col("mx")).over(Window.partitionBy()) +
            expr("INTERVAL 5 HOURS")).as("ts"),
          col("user_id"), lit("flush").as("event_type"),
          lit(0.0).as("value"), lit("").as("props"))
        .write.mode("overwrite").parquet(flushDir)
      val schema = ev.schema
      def src(d: String, glob: String) = s.readStream.schema(schema)
        .option("pathGlobFilter", glob).parquet(d)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val stream = eventsStream(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .union(src(flushDir, "*.parquet"))
        .withWatermark("ts", "10 seconds")
      runStream(s, "w37_stream_session_sink",
        stream
          .groupBy(col("user_id"), session_window(col("ts"), "4 hours"))
          .agg(min(col("event_id")).as("session_first"),
            count(lit(1)).as("n_events"),
            r6(sum(col("value"))).as("val_sum")))
        .filter(col("session_first") >= 0)
        .select("user_id", "session_first", "n_events", "val_sum")
    }),

    "w6_topk" -> ((s, dir) => {
      Temporal.topKPerGroup(
        events(s, dir).select("event_id", "user_id", "value"),
        Seq(col("user_id")), Seq(col("value").desc, col("event_id")), 3)
        .select(col("user_id"), col("event_id"), col("value"),
          col("rnk").cast("long").as("rnk"))
    }),

    // W13/net-new: relative-rank windows — percent_rank, cume_dist and
    // ntile quartiles over the per-user value ordering (standard
    // normalization features; same single exchange as every window op).
    "w13_pctrank" -> ((s, dir) => {
      val ww = Temporal.spec(Seq(col("user_id")),
        Seq(col("value"), col("event_id")))
      events(s, dir).select(
        col("event_id"),
        r6(percent_rank().over(ww)).as("pct_rank"),
        r6(cume_dist().over(ww)).as("cume"),
        ntile(4).over(ww).cast("long").as("quartile"))
    }),

    "a1_grouptail" -> ((s, dir) => {
      Temporal.groupTail(
        events(s, dir).select("event_id", "user_id", "ts", "event_type", "value"),
        Seq(col("user_id")), Seq(col("ts"), col("event_id")))
        .select("user_id", "event_id", "event_type", "value")
    }),

    "a6_cumcount" -> ((s, dir) => {
      val ww = w(s)
      events(s, dir).select(
        col("event_id"),
        Temporal.cumCount(ww).cast("long").as("cumcount"),
        r6(Temporal.cumCount(ww).cast("double") /
          (count(lit(1)).over(Window.partitionBy(col("user_id"))) - lit(1)))
          .as("progress"))
    }),

    "w9_session" -> ((s, dir) => {
      // Sessionization: built-in session_window (streaming-capable —
      // the same expression runs under readStream+watermark). A new
      // session starts when the gap since the previous event reaches
      // 4 hours. Session identity for the oracle: min event_id.
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "4 hours"))
        .agg(
          min(col("event_id")).as("session_first"),
          count(lit(1)).as("n_events"),
          r6(sum(col("value"))).as("val_sum"))
        .select("user_id", "session_first", "n_events", "val_sum")
    }),

    // Streaming event-time tumbling-window aggregation with watermark
    // through the file-source harness, complete mode (the memory sink
    // holds every finalized window). Hour buckets are epoch-aligned in
    // both engines.
    // W56/streaming: UPDATE output mode — the third OutputMode
    // (append: most queries here; complete: w12). Update emits only
    // keys whose aggregate changed in the batch; the memory sink
    // accumulates one row per (key, change), so the final state is
    // the per-key MAX of the running count — identical to the batch
    // aggregate whatever the file batching was (counts only grow).
    "w56_stream_update" -> ((s, dir) => {
      val stream = eventsStream(s, dir).select(col("event_type"), col("value"))
      runStream(s, "w56_stream_update_sink",
        stream.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(lattice(col("value"), 100)).as("sum_cents")),
        mode = "update")
        // latest update per key = the row with the highest running n
        // (struct max carries its sum along — no only-grows assumption
        // on the cent sum itself)
        .groupBy("event_type")
        .agg(max(struct(col("n"), col("sum_cents"))).as("m"))
        .select(col("event_type"), col("m.n").as("n"),
          col("m.sum_cents").as("sum_cents"))
    }),

    "w12_stream_window" -> ((s, dir) => {
      val stream = eventsStream(s, dir)
        .select(col("user_id"), col("ts"), col("value"))
      runStream(s, "w12_stream_window_sink",
        graft.streaming.StreamingTemporal.windowedMean(
          stream, "ts", "value", "user_id", "1 hour"),
        mode = "complete")
        .select(col("user_id"),
          unix_micros(col("window.start")).as("win_start"),
          r6(col("mean_value")).as("mean_value"), col("n"))
    }),

    // Streaming dedup-within-watermark: the same events file streamed
    // TWICE and unioned (every row a duplicate), deduped on event_id
    // with a watermark bounding the dedup state. Output = the distinct
    // events — the oracle is a plain scan.
    "w15_stream_dedup" -> ((s, dir) => {
      def src = eventsStream(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          col("ts").as("ets"))
      runStream(s, "w15_stream_dedup_sink",
        src.union(src)
          .withWatermark("ets", "10 seconds")
          .dropDuplicatesWithinWatermark("event_id"))
        .select("event_id", "user_id", "value")
    }),

    // Sliding event-time windows (1 hour window, 30 minute slide):
    // every event lands in exactly two epoch-aligned windows.
    "w16_sliding" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"), r6(avg(col("value"))).as("mean_value"))
        .select(unix_micros(col("window.start")).as("win_start"),
          col("n"), col("mean_value"))
    }),

    // Stream-stream interval join with watermarks on BOTH sides — the
    // event-time range condition is what lets the state store evict
    // rows at scale (purchases older than the interval + watermark are
    // dropped). Run to completion via AvailableNow; the oracle is the
    // equivalent batch interval join on microsecond-exact times.
    "w14_stream_join" -> ((s, dir) => {
      def stream(tag: String) = eventsStream(s, dir)
        .select(col("event_id").as(s"${tag}_id"),
          col("user_id").as(s"${tag}_user"),
          col("event_type").as(s"${tag}_type"),
          col("ts").as(s"${tag}_ts"))
        .withWatermark(s"${tag}_ts", "10 seconds")
      val clicks = stream("c").filter(col("c_type") === "click")
      val purchases = stream("p").filter(col("p_type") === "purchase")
      runStream(s, "w14_stream_join_sink",
        clicks.join(purchases,
          col("c_user") === col("p_user") &&
            col("p_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR") &&
            col("p_ts") <= col("c_ts")))
        .select(col("c_id").as("click_id"),
          col("p_id").as("purchase_id"),
          col("c_user").as("user_id"))
    }),

    // Stream-stream LEFT OUTER interval join — completes the
    // streaming join-mode surface (inner ✓ w14): clicks with no
    // purchase inside [c_ts, c_ts + 1h] emit null-padded once the
    // watermark passes their interval. Outer results near stream end
    // only flush when the watermark moves past them, so a far-future
    // sentinel row rides BOTH sides (the w37 graceful-flush pattern)
    // and is filtered from the output by id sign. State eviction is
    // exactly the interval + watermark — the property that lets this
    // run forever at scale.
    "w60_stream_left_join" -> ((s, dir) => {
      val ev = events(s, dir)
      // per-JVM reused scratch (overwrite write), JVM-exit delete
      val flushDir = Q.scratchDir("graft_w60_flush")
      ev.agg(max(col("ts")).as("mx"))
        .select(lit(-1L).as("event_id"),
          (col("mx") + expr("INTERVAL 5 HOURS")).as("ts"),
          lit(-1L).as("user_id"), lit("flush").as("event_type"),
          lit(0.0).as("value"), lit("").as("props"))
        .write.mode("overwrite").parquet(flushDir)
      val schema = ev.schema
      def side(types: Seq[String], tag: String) = {
        val base = eventsStream(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("ts"))
          .union(s.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet").parquet(flushDir)
            .select(col("event_id"), col("user_id"), col("event_type"),
              col("ts")))
          .filter(col("event_type").isin(types: _*))
        base.select(col("event_id").as(s"${tag}_id"),
          col("user_id").as(s"${tag}_user"), col("ts").as(s"${tag}_ts"))
          .withWatermark(s"${tag}_ts", "10 seconds")
      }
      val clicks = side(Seq("click", "flush"), "c")
      val purchases = side(Seq("purchase", "flush"), "p")
      runStream(s, "w60_stream_left_join_sink",
        clicks.join(purchases,
          col("c_user") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
          "leftOuter"))
        .filter(col("c_id") >= 0)
        .select(col("c_id").as("click_id"),
          col("c_user").as("user_id"),
          col("p_id").as("purchase_id"))
    }),

    // J7/net-new: as-of join — each event picks up the latest
    // earlier-or-equal purchase by the same user (point-in-time
    // lookup). Times are micro-second timestamps on both sides —
    // identical to DuckDB's internal TIMESTAMP resolution, so <=
    // comparisons agree exactly. The right side is
    // pre-aggregated unique per (user, t) so the match is
    // deterministic; the oracle is DuckDB's NATIVE ASOF LEFT JOIN — an
    // independent algorithm validating the union+window formulation.
    // J20/net-new: point-in-time feature join — the feature-store
    // correctness pattern: enrich every observation with the latest
    // value from SEVERAL feature tables as of the observation's own
    // time, never the future. Two chained as-of scans, one keyed
    // exchange each; at 100 TB this replaces the (wrong) plain join +
    // dedup and the (quadratic) theta-join.
    "j20_pit" -> ((s, dir) => {
      val e = events(s, dir)
      def ref(t: String, idName: String, vName: String) =
        e.filter(col("event_type") === t).groupBy("user_id", "ts")
          .agg(max(col("event_id")).as(idName),
            max_by(col("value"), col("event_id")).as(vName))
      val base = e.select("event_id", "user_id", "ts")
      val j1 = Temporal.asofJoin(base,
        ref("purchase", "purch_event_id", "purch_value"),
        Seq("user_id"), "ts", "ts", Seq("purch_event_id", "purch_value"))
      Temporal.asofJoin(j1,
        ref("signup", "signup_event_id", "signup_value"),
        Seq("user_id"), "ts", "ts", Seq("signup_event_id", "signup_value"))
        .select("event_id", "purch_event_id", "purch_value",
          "signup_event_id", "signup_value")
    }),

    // J18/net-new: FORWARD as-of join (pandas merge_asof
    // direction='forward') — "next purchase at or after this event";
    // the reversed-scan twin of j7_asof, same one-shuffle cost.
    "j18_asof_fwd" -> ((s, dir) => {
      val e = events(s, dir)
      val ref = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max(col("event_id")).as("ref_event_id"),
          max_by(col("value"), col("event_id")).as("ref_value"))
      Temporal.asofJoinForward(
        e.select("event_id", "user_id", "ts"), ref, Seq("user_id"),
        "ts", "ts", Seq("ref_event_id", "ref_value"))
        .select("event_id", "ref_event_id", "ref_value")
    }),

    // W33/net-new: rolling OLS slope (trend detection) with x = the
    // row's position in its user series — numerator and denominator
    // are exact BIGINTs from four rolling sums, one final division.
    "w33_rollslope" -> ((s, dir) => {
      val pos = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val b = events(s, dir).select(col("event_id"), col("user_id"),
          col("ts"), lattice(col("value"), 100).as("c"))
        .withColumn("i", row_number().over(pos).cast("long"))
      val wk = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-7, 0)
      val n = count(col("c")).over(wk)
      val sx = sum(col("i")).over(wk)
      val sy = sum(col("c")).over(wk)
      val sxy = sum(col("i") * col("c")).over(wk)
      val sxx = sum(col("i") * col("i")).over(wk)
      b.select(col("event_id"), col("user_id"),
        when(n > 1,
          (n * sxy - sx * sy).cast("double") /
            (n * sxx - sx * sx).cast("double")).as("slope8"))
    }),

    // J21/net-new: TOLERANCE-bounded as-of join (pandas merge_asof
    // tolerance=1h): the latest earlier-or-equal purchase counts only
    // if it is at most one hour old — stale matches null out, exactly
    // pandas' semantics. Same single-exchange union+window scan as j7;
    // the tolerance is a post-match conditional, not a join predicate
    // (a range predicate would forfeit the one-pass as-of shape).
    "j21_asof_tol" -> ((s, dir) => {
      val e = events(s, dir)
      val ref = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max(col("event_id")).as("ref_event_id"),
          max_by(col("value"), col("event_id")).as("ref_value"))
        .withColumn("ref_ts", col("ts"))
      val j = Temporal.asofJoin(
        e.select("event_id", "user_id", "ts"), ref, Seq("user_id"),
        "ts", "ts", Seq("ref_ts", "ref_event_id", "ref_value"))
      val fresh = col("ts") - col("ref_ts") <= expr("INTERVAL 1 HOUR")
      j.select(col("event_id"),
        when(fresh, col("ref_event_id")).as("ref_event_id"),
        when(fresh, col("ref_value")).as("ref_value"))
    }),

    // J22/net-new: NEAREST as-of join (pandas merge_asof
    // direction='nearest') — completes the direction family
    // (backward j7, forward j18, tolerance j21): each event takes
    // whichever of its latest-earlier / earliest-later purchase is
    // closer in time, ties to the earlier one (pandas' rule). Two
    // one-exchange as-of scans + an integer-micros distance compare;
    // no range join, no theta join.
    "j22_asof_nearest" -> ((s, dir) => {
      val e = events(s, dir)
      val ref = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max(col("event_id")).as("r_id"),
          max_by(col("value"), col("event_id")).as("r_val"))
        .withColumn("r_ts", col("ts"))
      val base = e.select("event_id", "user_id", "ts")
      val back = Temporal.asofJoin(base, ref, Seq("user_id"), "ts", "ts",
        Seq("r_ts", "r_id", "r_val"))
        .withColumnRenamed("r_ts", "b_ts")
        .withColumnRenamed("r_id", "b_id")
        .withColumnRenamed("r_val", "b_val")
      val both = Temporal.asofJoinForward(back, ref, Seq("user_id"),
        "ts", "ts", Seq("r_ts", "r_id", "r_val"))
      // distances on the exact micros domain; a missing side loses
      val dB = when(col("b_ts").isNotNull,
        unix_micros(col("ts")) - unix_micros(col("b_ts")))
      val dF = when(col("r_ts").isNotNull,
        unix_micros(col("r_ts")) - unix_micros(col("ts")))
      val useBack = col("b_ts").isNotNull &&
        (col("r_ts").isNull || dB <= dF)
      both.select(col("event_id"),
        when(useBack, col("b_id")).otherwise(col("r_id")).as("ref_event_id"),
        when(useBack, col("b_val")).otherwise(col("r_val")).as("ref_value"))
    }),

    "j7_asof" -> ((s, dir) => {
      val e = events(s, dir)
      val ref = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max(col("event_id")).as("ref_event_id"),
          max_by(col("value"), col("event_id")).as("ref_value"))
      Temporal.asofJoin(
        e.select("event_id", "user_id", "ts"), ref, Seq("user_id"),
        "ts", "ts", Seq("ref_event_id", "ref_value"))
        .select("event_id", "ref_event_id", "ref_value")
    }),

    // W39/net-new: rolling skewness — the third-moment rolling stat
    // (distribution-shape drift per entity), trailing 8 rows. The
    // a26_moments recipe windowed: Σc, Σc², Σc³ ride decimal(38,0)
    // (exact under any frame/merge order), the closed-form population
    // skewness m3/m2^1.5 is the ONLY float work, token-mirrored, and
    // the emit condition (n ≥ 3, positive variance) is decided on the
    // exact integers n·Σc² − (Σc)² — no float threshold.
    "w39_rollskew" -> ((s, dir) => {
      val wk = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-7, 0)
      val cd = lattice(col("value"), 100).cast("decimal(38,0)")
      val b = events(s, dir).select(col("event_id"), col("user_id"),
          col("ts"), cd.as("c"))
        .select(col("event_id"),
          count(col("c")).over(wk).as("n"),
          sum(col("c")).over(wk).as("sl1"),
          sum(col("c") * col("c")).over(wk).as("sl2"),
          sum(col("c") * col("c") * col("c")).over(wk).as("sl3"))
      val nd = col("n").cast("double")
      val s1 = col("sl1").cast("double")
      val s2 = col("sl2").cast("double")
      val s3 = col("sl3").cast("double")
      val m2 = (s2 - s1 * s1 / nd) / nd
      val m3 = (s3 - lit(3.0) * s1 * s2 / nd +
        lit(2.0) * s1 * s1 * s1 / (nd * nd)) / nd
      b.select(col("event_id"), col("n"),
        when(col("n") >= 3 &&
          col("n").cast("decimal(38,0)") * col("sl2") -
            col("sl1") * col("sl1") > 0,
          r6(m3 / sqrt(m2 * m2 * m2))).as("skew8"))
    }),

    // A40/net-new: 2-D histogram (value bucket × hour-of-day) — the
    // joint-density grid behind heatmaps and feature-pair drift
    // monitors; both axes integer-derived (cent kilobuckets; hour from
    // integer micros), one hash-agg exchange on the composite bin key.
    "a40_hist2d" -> ((s, dir) => {
      eventsRawUs(s, dir)
        .select(expr(s"${latticeSql("value", 100)} DIV 1000").as("vbin"),
          (expr("ts_us DIV 3600000000") % 24).as("hod"))
        .groupBy("vbin", "hod")
        .agg(count(lit(1)).as("n"))
    }),

    // W43/net-new: consecutive-increase streak length — gaps-and-
    // islands at row grain (how many successive upticks ended here):
    // reset rows (first of user, or non-increase on the exact cent
    // compare) carry their own index; every row's streak is its index
    // minus the latest reset index from a running MAX over the CASE —
    // all integers, one window exchange, no self-join.
    "w43_streak" -> ((s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val b = events(s, dir).select(col("event_id"), col("user_id"),
          col("ts"), lattice(col("value"), 100).as("c"))
        .withColumn("i", row_number().over(wOrd).cast("long"))
        .withColumn("inc",
          (lag(col("c"), 1).over(wOrd).isNotNull &&
            col("c") > lag(col("c"), 1).over(wOrd)).cast("long"))
      b.select(col("event_id"),
        (col("i") - max(when(col("inc") === 0, col("i")))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
          .as("streak"))
    }),

    // M19/net-new: RFM (recency/frequency/monetary) customer scoring —
    // the classic segmentation feature: per user, micros since their
    // last event (vs the global max — exact integers), event count,
    // exact cent revenue; each dimension quintiled by ntile over a
    // TOTAL order (metric + user_id tiebreak — plain ntile over a
    // tied metric is partition-order-dependent, determinism trap).
    // One exchange for the per-user aggregate; the three quintiles
    // are ONE fused DistRank.rowNumbers call (user grain is row-scale
    // on a real corpus — three orderings still need three bucketed
    // sorts, but the boundary sketches share one job, the bucket
    // counts share one job, and the three window passes chain over a
    // single scan with no per-score self-join; the reference anchor,
    // max event time, is a scalar agg broadcast, not a partitionBy()
    // window). Ranks are exact, so the fusion is hash-identical to
    // the unfused form.
    "m19_rfm" -> ((s, dir) => {
      import graft.operators.DistRank
      val e = eventsRawUs(s, dir)
      val g = e.groupBy("user_id").agg(
        max(col("ts_us")).as("last_us"),
        count(lit(1)).as("freq"),
        sum(lattice(col("value"), 100)).as("cents"))
      val mx = g.agg(max(col("last_us")).as("__mx"))
      val gm = g.crossJoin(broadcast(mx)).select(col("user_id"),
        (col("__mx") - col("last_us")).as("recency_us"),
        col("freq"), col("cents"))
      val ranked = DistRank.rowNumbers(gm, Seq(
        DistRank.RankSpec(col("recency_us"),
          Seq(col("recency_us"), col("user_id")), "__rr"),
        DistRank.RankSpec(-col("freq"),
          Seq(col("freq").desc, col("user_id")), "__rf"),
        DistRank.RankSpec(-col("cents"),
          Seq(col("cents").desc, col("user_id")), "__rm")),
        totalAs = Some("__n"))
      ranked.select(col("user_id"), col("recency_us"), col("freq"),
        col("cents"),
        DistRank.ntileOf(col("__rr"), col("__n"), 5).as("r_score"),
        DistRank.ntileOf(col("__rf"), col("__n"), 5).as("f_score"),
        DistRank.ntileOf(col("__rm"), col("__n"), 5).as("m_score"))
    }),

    // M17/net-new: group-wise min-max normalization — the per-entity
    // [0,1] feature rescale (vs m6's global standard scaler): min/max
    // on the exact cent lattice via the group window, ONE division of
    // exact integers per row, integer-decided degenerate-group guard
    // (max == min → null, both engines).
    "m17_minmax" -> ((s, dir) => {
      val wAll = Window.partitionBy("user_id")
      val b = events(s, dir).select(col("event_id"), col("user_id"),
        lattice(col("value"), 100).as("c"))
      b.select(col("event_id"),
        min(col("c")).over(wAll).as("lo"),
        max(col("c")).over(wAll).as("hi"), col("c"))
        .select(col("event_id"),
          when(col("hi") > col("lo"),
            (col("c") - col("lo")).cast("double") /
              (col("hi") - col("lo")).cast("double")).as("minmax"))
    }),

    // W41/net-new: period-over-period growth — monthly revenue per
    // user with LAG percent change (the BI staple). Months are
    // date_trunc buckets (identical calendars both engines), revenue
    // is exact cents, pct_change ONE division of exact integer
    // operands; the first month and zero-revenue predecessors yield
    // null (integer-decided).
    "w41_pct_change" -> ((s, dir) => {
      val m = events(s, dir).select(
        col("user_id"),
        date_trunc("month", col("ts")).as("mon"),
        lattice(col("value"), 100).as("c"))
        .groupBy("user_id", "mon")
        .agg(sum(col("c")).as("cents"))
      val wm = Window.partitionBy("user_id").orderBy("mon")
      m.select(col("user_id"),
          unix_micros(col("mon")).as("mon_us"), col("cents"),
          lag(col("cents"), 1).over(wm).as("prev"))
        .select(col("user_id"), col("mon_us"), col("cents"),
          when(col("prev") > 0,
            (col("cents") - col("prev")).cast("double") /
              col("prev").cast("double")).as("pct_change"))
    }),

    // W42/net-new: linear gap interpolation (pandas interpolate
    // 'linear', interior-only): a deterministic mask nulls every 5th
    // observation's cents; each masked row rebuilds its value from the
    // surrounding known points as pv + (nv−pv)·(i−pi)/(ni−pi) — the
    // numerator/denominator exact BIGINTs (positions from row_number,
    // cents lattice), ONE division + ONE add of correctly-rounded
    // doubles, token-mirrored. Rows with no known neighbor on either
    // side stay null (integer-decided). All four fills ride the ONE
    // per-user window exchange.
    "w42_interpolate" -> ((s, dir) => {
      val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val b = events(s, dir).select(col("event_id"), col("user_id"),
          col("ts"),
          when(col("event_id") % 5 =!= 0,
            lattice(col("value"), 100)).as("c"))
        .withColumn("i", row_number().over(wOrd).cast("long"))
      val known = when(col("c").isNotNull, col("i"))
      val pv = Temporal.ffill(col("c"), wOrd)
      val pi = Temporal.ffill(known, wOrd)
      val nv = Temporal.bfill(col("c"), wOrd)
      val ni = Temporal.bfill(known, wOrd)
      b.select(col("event_id"),
        col("c").isNotNull.cast("long").as("is_known"),
        when(col("c").isNotNull, col("c").cast("double") / 100.0)
          .otherwise(
            when(pv.isNotNull && nv.isNotNull,
              (pv.cast("double") +
                ((nv - pv) * (col("i") - pi)).cast("double") /
                  (ni - pi).cast("double")) / 100.0))
          .as("filled"))
    }),

    // W40/net-new: rolling excess kurtosis — w39's recipe with the
    // fourth power sum (tail-heaviness drift per entity; the pair is
    // the standard rolling shape-monitor). Same decimal(38,0) exact
    // sums, token-mirrored m4/m2² − 3 float tail, integer-decided emit.
    "w40_rollkurt" -> ((s, dir) => {
      val wk = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-7, 0)
      val cd = lattice(col("value"), 100).cast("decimal(38,0)")
      val b = events(s, dir).select(col("event_id"), col("user_id"),
          col("ts"), cd.as("c"))
        .select(col("event_id"),
          count(col("c")).over(wk).as("n"),
          sum(col("c")).over(wk).as("sl1"),
          sum(col("c") * col("c")).over(wk).as("sl2"),
          sum(col("c") * col("c") * col("c")).over(wk).as("sl3"),
          sum(col("c") * col("c") * col("c") * col("c")).over(wk).as("sl4"))
      val nd = col("n").cast("double")
      val s1 = col("sl1").cast("double")
      val s2 = col("sl2").cast("double")
      val s3 = col("sl3").cast("double")
      val s4 = col("sl4").cast("double")
      val m2 = (s2 - s1 * s1 / nd) / nd
      val m4 = (s4 - lit(4.0) * s1 * s3 / nd +
        lit(6.0) * s1 * s1 * s2 / (nd * nd) -
        lit(3.0) * s1 * s1 * s1 * s1 / (nd * nd * nd)) / nd
      b.select(col("event_id"), col("n"),
        when(col("n") >= 4 &&
          col("n").cast("decimal(38,0)") * col("sl2") -
            col("sl1") * col("sl1") > 0,
          r6(m4 / (m2 * m2) - lit(3.0))).as("kurt8"))
    }),

    // W17/net-new: TIME-range rolling window (RANGE BETWEEN INTERVAL),
    // complementing the row-count windows of w2: each event sees the
    // trailing 10 minutes of its user's stream. Aggregates are
    // restricted to order-free ones (count, max) — a windowed SUM of
    // doubles would depend on intra-frame accumulation order, which is
    // unstable under ts ties (determinism trap #4's windowed cousin).
    // The frame is defined on MICROSECOND integer time on both sides:
    // DuckDB's TIMESTAMP is micros internally, so both engines see the
    // same instants and the 600 s boundary membership agrees exactly.
    "w17_timerange" -> ((s, dir) => {
      val e = eventsRawUs(s, dir)
      val tw = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-600L * 1000000L, 0L)
      e.select(col("event_id"), col("user_id"), col("ts_us"),
          col("value"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          count(lit(1)).over(tw).as("n_10m"),
          max(col("value")).over(tw).as("max_10m"))
    }),

    "m8_seqbuild" -> ((s, dir) => {
      // Sequence-tensor builder: trailing 8-observation window per
      // entity (`nn/nn-mps.py:566-665` in collect_list form). Output
      // hash-friendly scalar reductions of the sequence.
      val ww = w(s)
      val seq8 = collect_list(col("value")).over(ww.rowsBetween(-7, 0))
      events(s, dir).select(
        col("event_id"),
        size(seq8).cast("long").as("seq_len"),
        r6(aggregate(seq8, lit(0.0), (a, x) => a + x)).as("seq_sum"),
        element_at(seq8, 1).as("seq_first"),
        element_at(seq8, -1).as("seq_last"))
    }))

  /** The events file as a streaming DataFrame via a parquet FILE
    * SOURCE (no driver-side data path — the production shape), with
    * `ts` normalized to a micro-second TimestampType whatever the
    * file's encoding (schema-adaptive, see [[graft.io.Tables.eventsRaw]]
    * — a FileStreamSource needs the on-disk schema, so the conversion
    * is applied AFTER the source). The source also wants a directory,
    * hence the sf dir + glob filter selecting the events file. */
  private[queries] def eventsStream(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
    s.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts",
        graft.io.Tables.tsAsTimestamp(rawSchema("ts").dataType))
  }

  /** Typed per-key observation stream. Obs.ts is INTEGER epoch-micros
    * (unix_micros, NOT cast("long") which would yield epoch seconds
    * and collapse sub-second ordering to the id tiebreak) — the same
    * (micros, id) total order the batch oracle sorts by. */
  private[queries] def obsStream(s: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.Dataset[graft.streaming.Obs] = {
    import s.implicits._
    eventsStream(s, dir)
      .select(col("user_id").cast("string").as("key"),
        unix_micros(col("ts")).as("ts"),
        col("event_id").cast("long").as("id"), col("value"))
      .as[graft.streaming.Obs]
  }

  /** Run a streaming Dataset to completion (AvailableNow) into a
    * memory sink and return the sink table.
    *
    * Stateful-stream partition sizing: a streaming job's state-store
    * COUNT is `spark.sql.shuffle.partitions` at first-batch planning
    * (then frozen into the checkpoint), and every store pays per-batch
    * setup/commit/snapshot whether or not it holds state — measured
    * here, 32 stores on sf0.1's tiny state spent ~3 min of sys time on
    * store machinery vs 19 s at 8 (w14's 8 s bench cost was store
    * count, not the join). So state partitions are sized to STATE
    * VOLUME, not core count — the standard stateful-streaming tuning
    * rule; a production job with GBs of state would raise it back. */
  private val StreamStatePartitions = "8"
  private[queries] def runStream[T](s: org.apache.spark.sql.SparkSession,
                           sink: String,
                           ds: org.apache.spark.sql.Dataset[T],
                           mode: String = "append"): org.apache.spark.sql.DataFrame = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions)
    try {
      val q = ds.writeStream.format("memory").queryName(sink)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", prev)
    s.table(sink)
  }

  private val over = "OVER (PARTITION BY user_id ORDER BY ts, event_id"
  /** Oracle of [[ema05]] and of its streaming twin w10_stream_ema. */
  private val Ema05Sql =
    s"""SELECT event_id,
       | list_reduce(list(value) $over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |   (acc, x) -> 0.5 * x + 0.5 * acc) AS ema
       |FROM events""".stripMargin

  val oracle: Seq[(String, String)] = Seq(
    "a34_decompose" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  ${latticeSql("value", 100)} AS c,
        |  (epoch_us(ts) // 3600000000) % 24 AS phase FROM events),
        |f AS (SELECT phase, c,
        |  count(c) OVER wk AS fn, CAST(sum(c) OVER wk AS BIGINT) AS fs
        | FROM e WINDOW wk AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
        |g AS (SELECT phase, count(*)::BIGINT AS n_interior,
        |  CAST(sum(c * 25 - fs) AS BIGINT) AS resid_sum
        | FROM f WHERE fn = 25 GROUP BY phase)
        |SELECT phase, n_interior,
        | CAST(resid_sum AS DOUBLE) / CAST(n_interior * 2500 AS DOUBLE)
        |   AS seasonal_idx
        |FROM g""".stripMargin,

    "w34_ewmvar" ->
      s"""WITH f AS (SELECT event_id,
         | list_reduce(list(value) $over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |   (acc, x) -> 0.5 * x + 0.5 * acc) AS m,
         | list_reduce(list(value * value) $over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |   (acc, x) -> 0.5 * x + 0.5 * acc) AS m2
         | FROM events)
         |SELECT event_id, m AS ewm_mean, m2 - m * m AS ewm_var
         |FROM f""".stripMargin,

    "w46_ewmcorr" ->
      s"""WITH s0 AS (SELECT event_id, user_id, ts, value,
         |  ((event_id * 13) % 89)::DOUBLE AS y FROM events),
         |f AS (SELECT event_id,
         | list_reduce(list(value) $over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |   (acc, x) -> 0.5 * x + 0.5 * acc) AS mx,
         | list_reduce(list(y) $over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |   (acc, x) -> 0.5 * x + 0.5 * acc) AS my,
         | list_reduce(list(value * value) $over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |   (acc, x) -> 0.5 * x + 0.5 * acc) AS mxx,
         | list_reduce(list(y * y) $over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |   (acc, x) -> 0.5 * x + 0.5 * acc) AS myy,
         | list_reduce(list(value * y) $over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |   (acc, x) -> 0.5 * x + 0.5 * acc) AS mxy
         | FROM s0)
         |SELECT event_id,
         | CASE WHEN mxx - mx * mx > 0 AND myy - my * my > 0
         |   THEN (mxy - mx * my) / sqrt((mxx - mx * mx) * (myy - my * my))
         | END AS ewm_corr
         |FROM f""".stripMargin,

    "a33_autocorr" ->
      s"""WITH b AS (SELECT user_id,
         |  ${latticeSql("value", 100)} AS a,
         |  lag(${latticeSql("value", 100)}, 3) $over) AS bl
         | FROM events),
         |g AS (SELECT user_id, count(*)::BIGINT AS n,
         |  CAST(sum(a) AS BIGINT) AS sa, CAST(sum(bl) AS BIGINT) AS sb,
         |  CAST(sum(a * bl) AS BIGINT) AS sab,
         |  CAST(sum(a * a) AS BIGINT) AS saa,
         |  CAST(sum(bl * bl) AS BIGINT) AS sbb
         | FROM b WHERE bl IS NOT NULL GROUP BY user_id)
         |SELECT user_id, n,
         | CASE WHEN n > 1 AND n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0
         |   THEN CAST(n * sab - sa * sb AS DOUBLE)
         |     / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
         |            * CAST(n * sbb - sb * sb AS DOUBLE))
         | END AS acf3
         |FROM g""".stripMargin,

    "w31_anomaly" ->
      s"""WITH b AS (SELECT event_id, user_id, ts,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |r AS (SELECT event_id, user_id, c,
        |  count(c) OVER wk AS n,
        |  CAST(sum(c) OVER wk AS BIGINT) AS s1,
        |  CAST(sum(c * c) OVER wk AS BIGINT) AS s2
        | FROM b WINDOW wk AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 15 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, c AS cents,
        | n > 1 AND (c * n - s1) * (c * n - s1) * (n - 1)
        |   > 9 * n * (n * s2 - s1 * s1) AS is_anomaly
        |FROM r""".stripMargin,

    "w30_rollcorr" ->
      s"""WITH b AS (SELECT l_suppkey, l_orderkey,
        |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  ${latticeSql("l_quantity", 100)} AS xc,
        |  ${latticeSql("l_extendedprice", 100)} AS yc FROM lineitem),
        |r AS (SELECT l_orderkey, l_linenumber, l_suppkey,
        |  count(*) OVER wk AS n,
        |  CAST(sum(xc) OVER wk AS BIGINT) AS sx,
        |  CAST(sum(yc) OVER wk AS BIGINT) AS sy,
        |  CAST(sum(xc * yc) OVER wk AS BIGINT) AS sxy,
        |  CAST(sum(xc * xc) OVER wk AS BIGINT) AS sxx,
        |  CAST(sum(yc * yc) OVER wk AS BIGINT) AS syy
        | FROM b WINDOW wk AS (PARTITION BY l_suppkey
        |   ORDER BY l_orderkey, l_linenumber, xc, yc
        |   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
        |SELECT l_orderkey, l_linenumber, l_suppkey,
        | CASE WHEN n > 1 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |   THEN CAST(n * sxy - sx * sy AS DOUBLE)
        |     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |            * CAST(n * syy - sy * sy AS DOUBLE))
        | END AS roll_corr8
        |FROM r""".stripMargin,

    "w21_rollmedian" ->
      s"""SELECT event_id, roll_med5 FROM (
         |SELECT event_id,
         | row_number() $over) AS rn,
         | quantile_cont(value, 0.5) $over
         |   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_med5
         |FROM events) WHERE rn >= 5""".stripMargin,

    // Same integer selections via DuckDB's list window aggregate;
    // 1-based list indexing picks the same middle element as Spark's
    // element_at(…, 4) for k=7.
    "w35_hampel" ->
      s"""WITH m AS (SELECT event_id,
         | ${latticeSql("value", 100)} AS c,
         | row_number() $over) AS rn,
         | list(${latticeSql("value", 100)}) $over
         |   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS arr
         |FROM events),
         |h AS (SELECT event_id, c, arr, list_sort(arr)[4] AS med
         |      FROM m WHERE rn >= 7)
         |SELECT event_id, med,
         | list_sort(list_transform(arr, x -> abs(x - med)))[4] AS mad,
         | abs(c - med) * 10000 >
         |   list_sort(list_transform(arr, x -> abs(x - med)))[4] * 44478
         |   AS is_outlier
         |FROM h""".stripMargin,

    "w25_resample" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
        |  FROM events),
        |b AS (SELECT user_id,
        |  (min(ts_us) + 3599999999) // 3600000000 AS gs,
        |  max(ts_us) // 3600000000 AS ge
        | FROM e GROUP BY user_id),
        |g AS (SELECT user_id, unnest(generate_series(gs, ge)) AS tick
        | FROM b WHERE gs <= ge),
        |gt AS (SELECT user_id, tick * 3600000000 AS tick_us FROM g),
        |r AS (SELECT user_id, ts_us, max(event_id) AS ffill_event,
        |  arg_max(value, event_id) AS ffill_value
        | FROM e GROUP BY user_id, ts_us)
        |SELECT gt.user_id, gt.tick_us, r.ffill_value, r.ffill_event
        |FROM gt ASOF LEFT JOIN r
        | ON gt.user_id = r.user_id AND r.ts_us <= gt.tick_us""".stripMargin,

    "w24_topk_agg" ->
      """SELECT user_id,
        | array_to_string(list_transform(
        |   list({'v': value, 'id': event_id} ORDER BY value DESC, event_id)[1:3],
        |   s -> s.id::VARCHAR), ':') AS top3_ids
        |FROM events GROUP BY user_id""".stripMargin,

    "w23_scd2" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_us(ts) AS ts_us FROM events)
        |SELECT user_id, event_id, event_type,
        | ts_us AS valid_from,
        | lead(ts_us) OVER w AS valid_to,
        | (lead(ts_us) OVER w IS NULL) AS is_current
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin,

    "w22_rolldistinct" ->
      s"""SELECT event_id,
         | len(list_distinct(list(event_type) $over
         |   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)))::BIGINT AS nd_types_10
         |FROM events""".stripMargin,

    "w17_timerange" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)
        |SELECT event_id, user_id, ts_us,
        | count(*) OVER w AS n_10m,
        | max(value) OVER w AS max_10m
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        | RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "w19_stateful_v2" ->
      """SELECT user_id, count(*)::BIGINT AS n, max(value) AS max_value
        |FROM events GROUP BY user_id""".stripMargin,

    "w18_stream_enrich" ->
      """SELECT e.event_id, e.user_id, c.user_total
        |FROM events e JOIN
        | (SELECT user_id, count(*)::BIGINT AS user_total
        |  FROM events GROUP BY user_id) c USING (user_id)""".stripMargin,

    "w1_lag" ->
      s"""SELECT event_id, user_id, value,
         | lag(value, 1) $over) AS lag1,
         | lag(value, 3) $over) AS lag3
         |FROM events""".stripMargin,

    "w26_ffill" ->
      s"""WITH e AS (SELECT event_id, user_id, ts,
         |  CASE WHEN event_id % 7 = 0 THEN NULL
         |       ELSE ${latticeSql("value", 100)} END AS cents_gap
         | FROM events)
         |SELECT event_id, user_id, cents_gap,
         | last_value(cents_gap IGNORE NULLS) $over
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cents_ffill,
         | first_value(cents_gap IGNORE NULLS) $over
         |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS cents_bfill
         |FROM e""".stripMargin,

    "w2_rolling" ->
      s"""SELECT event_id,
         | round(avg(value) $over ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS roll_mean5,
         | round(stddev_samp(value) $over ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS roll_std5,
         | min(value) $over ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll_min3,
         | max(value) $over ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll_max3
         |FROM events""".stripMargin,

    "w27_cusum" ->
      s"""WITH e AS (SELECT event_id, user_id, ts,
         |  ${latticeSql("value", 100)} AS cents FROM events)
         |SELECT event_id, user_id, cents,
         | list_reduce(list_prepend(0::BIGINT,
         |   list(cents - 6000) $over
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |   (acc, v) -> greatest(0::BIGINT, acc + v)) AS cusum,
         | list_reduce(list_prepend(0::BIGINT,
         |   list(cents - 6000) $over
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |   (acc, v) -> greatest(0::BIGINT, acc + v)) > 30000 AS drifted
         |FROM e""".stripMargin,

    // Two-state Holt recursion as a RECURSIVE CTE (same op order as
    // the Catalyst updateExpressions: stepped = 0.5*x + 0.5*(l+b),
    // trend = 0.5*(stepped - l) + 0.5*b; dyadic coefficients keep raw
    // doubles bitwise-portable, no rounding).
    "w28_holt" ->
      s"""WITH RECURSIVE p AS (SELECT event_id, user_id, value,
         |  row_number() $over) AS k
         | FROM events),
         |rec AS (
         | SELECT event_id, user_id, k,
         |  CAST(value AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b
         | FROM p WHERE k = 1
         | UNION ALL
         | SELECT p.event_id, p.user_id, p.k,
         |  0.5 * p.value + 0.5 * (rec.l + rec.b) AS l,
         |  0.5 * ((0.5 * p.value + 0.5 * (rec.l + rec.b)) - rec.l)
         |    + 0.5 * rec.b AS b
         | FROM rec JOIN p ON p.user_id = rec.user_id AND p.k = rec.k + 1)
         |SELECT event_id, user_id, l AS holt_level, b AS holt_trend
         |FROM rec""".stripMargin,

    "w29_stream_cusum" ->
      s"""WITH e AS (SELECT event_id, user_id, ts,
         |  ${latticeSql("value", 100)} AS cents FROM events)
         |SELECT event_id, cents,
         | list_reduce(list_prepend(0::BIGINT,
         |   list(cents - 6000) $over
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |   (acc, v) -> greatest(0::BIGINT, acc + v)) AS cusum
         |FROM e""".stripMargin,

    // Batch-parity: the streaming attribution answers the batch
    // w58 question exactly.
    "w59_stream_attribution" -> Curation20Q.oracle.toMap.apply("w58_attribution"),

    "w60_stream_left_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts
        | FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, ts
        | FROM events WHERE event_type = 'purchase')
        |SELECT click_id, c.user_id, purchase_id
        |FROM c LEFT JOIN p ON p.user_id = c.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""".stripMargin,

    "w3_diff" ->
      s"SELECT event_id, value - lag(value, 1) $over) AS d1 FROM events",

    "w4_delta2" ->
      s"SELECT event_id, value - 2 * lag(value, 1) $over) + lag(value, 2) $over) AS d2 FROM events",

    "w5_ema" -> Ema05Sql,

    "w5_ema_native" -> Ema05Sql,

    // NOTE: a struct-accumulator list_reduce formulation of this fold
    // returned DIFFERENT values run-to-run in DuckDB 1.0 (lambda +
    // window-list nondeterminism) — the recursive CTE below is plain
    // scalar arithmetic, deterministic, and matches pandas
    // ewm(0.5, adjust=False, ignore_na=False) exactly.
    "w5_ema_nafalse" ->
      s"""WITH RECURSIVE m AS (SELECT event_id, user_id, ts,
         |  CASE WHEN event_type = 'error' THEN NULL ELSE value END AS mv
         | FROM events),
         |p AS (SELECT event_id, user_id, mv,
         |  row_number() $over) AS pos,
         |  count(mv) $over) AS nvalid
         | FROM m),
         |valid AS (SELECT user_id, mv, pos,
         |  row_number() OVER (PARTITION BY user_id ORDER BY pos) AS k,
         |  pos - lag(pos) OVER (PARTITION BY user_id ORDER BY pos) AS delta
         | FROM p WHERE mv IS NOT NULL),
         |rec AS (
         | SELECT user_id, k, CAST(mv AS DOUBLE) AS y FROM valid WHERE k = 1
         | UNION ALL
         | SELECT v.user_id, v.k,
         |  (pow(0.5, v.delta) * rec.y + 0.5 * v.mv)
         |    / (pow(0.5, v.delta) + 0.5)
         | FROM rec JOIN valid v ON v.user_id = rec.user_id AND v.k = rec.k + 1)
         |SELECT p.event_id, rec.y AS ema_nf
         |FROM p LEFT JOIN rec
         | ON rec.user_id = p.user_id AND rec.k = p.nvalid""".stripMargin,

    "w5_ema_75" ->
      s"""SELECT event_id,
         | list_reduce(list(value) $over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |   (acc, x) -> 0.75 * x + 0.25 * acc) AS ema75
         |FROM events""".stripMargin,

    "w5_ema_25" ->
      s"""SELECT event_id,
         | list_reduce(list(value) $over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |   (acc, x) -> 0.25 * x + 0.75 * acc) AS ema25
         |FROM events""".stripMargin,

    "w10_stream_ema" -> Ema05Sql,

    "w11_stream_roll" ->
      s"""SELECT event_id,
         | list_reduce(list_prepend(0.0, list(value) $over ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
         |   (a, x) -> a + x)
         |  / count(*) $over ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_mean,
         | count(*) $over ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_n
         |FROM events""".stripMargin,

    "w6_topk" ->
      """SELECT user_id, event_id, value, rnk FROM (
        | SELECT user_id, event_id, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
        | FROM events) WHERE rnk <= 3""".stripMargin,

    "w36_stream_topk" ->
      """SELECT user_id, event_id, value, rnk FROM (
        | SELECT user_id, event_id, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
        | FROM events) WHERE rnk <= 3""".stripMargin,

    "w38_stream_typecounts" ->
      """SELECT user_id, event_type, count(*) AS n
        |FROM events GROUP BY user_id, event_type""".stripMargin,

    "w37_stream_session" ->
      s"""WITH f AS (SELECT user_id, event_id, value, ts,
         |  CASE WHEN lag(ts) $over) IS NULL
         |        OR ts - lag(ts) $over) >= INTERVAL 4 HOUR THEN 1 ELSE 0 END AS is_new
         | FROM events),
         |s AS (SELECT user_id, event_id, value,
         |  sum(is_new) $over) AS sid FROM f)
         |SELECT user_id, min(event_id) AS session_first,
         | count(*) AS n_events, round(sum(value), 6) AS val_sum
         |FROM s GROUP BY user_id, sid""".stripMargin,

    "w50_stream_timer" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  ${latticeSql("value", 100)} AS cents FROM events),
        |g AS (SELECT *, CASE WHEN lag(ts_us) OVER
        |   (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
        |   OR ts_us - lag(ts_us) OVER
        |   (PARTITION BY user_id ORDER BY ts_us, event_id) > 600000000
        |   THEN 1 ELSE 0 END AS is_new FROM e),
        |x AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
        |   ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING
        |   AND CURRENT ROW) AS sid FROM g),
        |y AS (SELECT *, first_value(event_id) OVER (PARTITION BY user_id,
        |   sid ORDER BY ts_us, event_id) AS first_id FROM x)
        |SELECT user_id, first_id AS session_first,
        | count(*) AS n_events, sum(cents)::BIGINT AS sum_cents
        |FROM y GROUP BY user_id, first_id""".stripMargin,

    "w13_pctrank" ->
      """SELECT event_id,
        | round(percent_rank() OVER w, 6) AS pct_rank,
        | round(cume_dist() OVER w, 6) AS cume,
        | ntile(4) OVER w AS quartile
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)""".stripMargin,

    "a1_grouptail" ->
      """SELECT user_id, event_id, event_type, value FROM (
        | SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1""".stripMargin,

    "a6_cumcount" ->
      s"""SELECT event_id,
         | row_number() $over) - 1 AS cumcount,
         | round(CAST(row_number() $over) - 1 AS DOUBLE) /
         |   (count(*) OVER (PARTITION BY user_id) - 1), 6) AS progress
         |FROM events""".stripMargin,

    "w9_session" ->
      s"""WITH f AS (SELECT user_id, event_id, value, ts,
         |  CASE WHEN lag(ts) $over) IS NULL
         |        OR ts - lag(ts) $over) >= INTERVAL 4 HOUR THEN 1 ELSE 0 END AS is_new
         | FROM events),
         |s AS (SELECT user_id, event_id, value,
         |  sum(is_new) $over) AS sid FROM f)
         |SELECT user_id, min(event_id) AS session_first,
         | count(*) AS n_events, round(sum(value), 6) AS val_sum
         |FROM s GROUP BY user_id, sid""".stripMargin,

    "w12_stream_window" ->
      """SELECT user_id,
        | epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS win_start,
        | round(avg(value), 6) AS mean_value,
        | count(*) AS n
        |FROM events GROUP BY user_id, time_bucket(INTERVAL 1 HOUR, ts)""".stripMargin,

    "w15_stream_dedup" ->
      "SELECT event_id, user_id, value FROM events",

    "w56_stream_update" ->
      s"""SELECT event_type, count(*) AS n,
        | sum(${latticeSql("value", 100)})::BIGINT AS sum_cents
        |FROM events GROUP BY event_type""".stripMargin,

    "w16_sliding" ->
      """WITH c AS (SELECT value, ts,
        | unnest([time_bucket(INTERVAL 30 MINUTE, ts),
        |         time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS ws
        | FROM events)
        |SELECT epoch_us(ws) AS win_start, count(*) AS n,
        | round(avg(value), 6) AS mean_value
        |FROM c WHERE ts >= ws AND ts < ws + INTERVAL 1 HOUR
        |GROUP BY ws""".stripMargin,

    "w14_stream_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  epoch_ns(ts) // 1000 AS tus FROM events)
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        | c.user_id
        |FROM e c JOIN e p
        | ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.tus BETWEEN c.tus - 3600000000 AND c.tus""".stripMargin,

    "j7_asof" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |  epoch_ns(ts) AS tns FROM events),
        |ref AS (SELECT user_id, tns,
        |  max(event_id) AS ref_event_id,
        |  arg_max(value, event_id) AS ref_value
        | FROM e WHERE event_type = 'purchase' GROUP BY user_id, tns)
        |SELECT l.event_id, r.ref_event_id, r.ref_value
        |FROM e l ASOF LEFT JOIN ref r
        | ON l.user_id = r.user_id AND r.tns <= l.tns""".stripMargin,

    "j22_asof_nearest" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |  epoch_us(ts) AS tus FROM events),
        |ref AS (SELECT user_id, tus,
        |  max(event_id) AS r_id,
        |  arg_max(value, event_id) AS r_val
        | FROM e WHERE event_type = 'purchase' GROUP BY user_id, tus),
        |bk AS (SELECT l.event_id, l.user_id, l.tus,
        |  r.tus AS b_tus, r.r_id AS b_id, r.r_val AS b_val
        | FROM e l ASOF LEFT JOIN ref r
        |  ON l.user_id = r.user_id AND r.tus <= l.tus),
        |fw AS (SELECT l.event_id, l.tus, l.b_tus, l.b_id, l.b_val,
        |  r.tus AS f_tus, r.r_id AS f_id, r.r_val AS f_val
        | FROM bk l ASOF LEFT JOIN ref r
        |  ON l.user_id = r.user_id AND r.tus >= l.tus)
        |SELECT event_id,
        | CASE WHEN b_tus IS NOT NULL AND (f_tus IS NULL
        |        OR tus - b_tus <= f_tus - tus)
        |      THEN b_id ELSE f_id END AS ref_event_id,
        | CASE WHEN b_tus IS NOT NULL AND (f_tus IS NULL
        |        OR tus - b_tus <= f_tus - tus)
        |      THEN b_val ELSE f_val END AS ref_value
        |FROM fw""".stripMargin,

    "j21_asof_tol" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |  epoch_ns(ts) AS tns FROM events),
        |ref AS (SELECT user_id, tns,
        |  max(event_id) AS ref_event_id,
        |  arg_max(value, event_id) AS ref_value
        | FROM e WHERE event_type = 'purchase' GROUP BY user_id, tns),
        |j AS (SELECT l.event_id, l.tns, r.tns AS rtns,
        |  r.ref_event_id, r.ref_value
        | FROM e l ASOF LEFT JOIN ref r
        |  ON l.user_id = r.user_id AND r.tns <= l.tns)
        |SELECT event_id,
        | CASE WHEN tns - rtns <= 3600000000000 THEN ref_event_id END
        |   AS ref_event_id,
        | CASE WHEN tns - rtns <= 3600000000000 THEN ref_value END
        |   AS ref_value
        |FROM j""".stripMargin,

    "j20_pit" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |  epoch_ns(ts) AS tns FROM events),
        |r1 AS (SELECT user_id, tns, max(event_id) AS purch_event_id,
        |  arg_max(value, event_id) AS purch_value
        | FROM e WHERE event_type = 'purchase' GROUP BY user_id, tns),
        |r2 AS (SELECT user_id, tns, max(event_id) AS signup_event_id,
        |  arg_max(value, event_id) AS signup_value
        | FROM e WHERE event_type = 'signup' GROUP BY user_id, tns),
        |j1 AS (SELECT l.event_id, l.user_id, l.tns,
        |  r.purch_event_id, r.purch_value
        | FROM e l ASOF LEFT JOIN r1 r
        |   ON l.user_id = r.user_id AND r.tns <= l.tns)
        |SELECT j1.event_id, j1.purch_event_id, j1.purch_value,
        | r.signup_event_id, r.signup_value
        |FROM j1 ASOF LEFT JOIN r2 r
        | ON j1.user_id = r.user_id AND r.tns <= j1.tns""".stripMargin,

    "j18_asof_fwd" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |  epoch_ns(ts) AS tns FROM events),
        |ref AS (SELECT user_id, tns,
        |  max(event_id) AS ref_event_id,
        |  arg_max(value, event_id) AS ref_value
        | FROM e WHERE event_type = 'purchase' GROUP BY user_id, tns)
        |SELECT l.event_id, r.ref_event_id, r.ref_value
        |FROM e l ASOF LEFT JOIN ref r
        | ON l.user_id = r.user_id AND r.tns >= l.tns""".stripMargin,

    // pv/nv via PACKED integer keys (i·1e7 + c: i dominates, c < 1e7)
    // instead of IGNORE NULLS — version-independent, and max/min of
    // exact integers is order-free. Values match Spark's
    // last/first(ignoreNulls) fills exactly.
    "w42_interpolate" ->
      s"""WITH b AS (SELECT event_id, user_id, ts,
        |  CASE WHEN event_id % 5 <> 0
        |    THEN ${latticeSql("value", 100)} END AS c,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)::BIGINT AS i
        | FROM events),
        |p AS (SELECT event_id, c, i,
        |  max(CASE WHEN c IS NOT NULL THEN i * 10000000 + c END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk,
        |  min(CASE WHEN c IS NOT NULL THEN i * 10000000 + c END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nk
        | FROM b)
        |SELECT event_id,
        | CAST(c IS NOT NULL AS BIGINT) AS is_known,
        | CASE WHEN c IS NOT NULL THEN CAST(c AS DOUBLE) / 100.0
        |      WHEN pk IS NOT NULL AND nk IS NOT NULL THEN
        |   (CAST(pk % 10000000 AS DOUBLE)
        |    + CAST((nk % 10000000 - pk % 10000000) * (i - pk // 10000000) AS DOUBLE)
        |      / CAST(nk // 10000000 - pk // 10000000 AS DOUBLE)) / 100.0
        | END AS filled
        |FROM p""".stripMargin,

    "a40_hist2d" ->
      s"""SELECT ${latticeSql("value", 100)} // 1000 AS vbin,
        | (epoch_us(ts) // 3600000000) % 24 AS hod,
        | count(*)::BIGINT AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    "w43_streak" ->
      s"""WITH b AS (SELECT event_id, user_id, ts,
         |  ${latticeSql("value", 100)} AS c,
         |  row_number() $over)::BIGINT AS i
         | FROM events),
         |m AS (SELECT event_id, i,
         |  CASE WHEN lag(c) $over) IS NOT NULL AND c > lag(c) $over)
         |    THEN 1 ELSE 0 END AS inc,
         |  c, user_id, ts FROM b)
         |SELECT event_id,
         | i - max(CASE WHEN inc = 0 THEN i END)
         |   $over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |   AS streak
         |FROM m""".stripMargin,

    "m19_rfm" ->
      s"""WITH g AS (SELECT user_id,
        |  max(epoch_us(ts)) AS last_us, count(*)::BIGINT AS freq,
        |  CAST(sum(${latticeSql("value", 100)}) AS BIGINT) AS cents
        | FROM events GROUP BY user_id),
        |m AS (SELECT user_id,
        |  max(last_us) OVER () - last_us AS recency_us, freq, cents
        | FROM g)
        |SELECT user_id, recency_us, freq, cents,
        | ntile(5) OVER (ORDER BY recency_us, user_id)::BIGINT AS r_score,
        | ntile(5) OVER (ORDER BY freq DESC, user_id)::BIGINT AS f_score,
        | ntile(5) OVER (ORDER BY cents DESC, user_id)::BIGINT AS m_score
        |FROM m""".stripMargin,

    "m17_minmax" ->
      s"""WITH b AS (SELECT event_id, user_id,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |g AS (SELECT event_id, c,
        |  min(c) OVER (PARTITION BY user_id) AS lo,
        |  max(c) OVER (PARTITION BY user_id) AS hi
        | FROM b)
        |SELECT event_id,
        | CASE WHEN hi > lo THEN
        |   CAST(c - lo AS DOUBLE) / CAST(hi - lo AS DOUBLE) END AS minmax
        |FROM g""".stripMargin,

    "w41_pct_change" ->
      s"""WITH m AS (SELECT user_id, date_trunc('month', ts) AS mon,
        |  CAST(sum(${latticeSql("value", 100)}) AS BIGINT) AS cents
        | FROM events GROUP BY user_id, date_trunc('month', ts)),
        |l AS (SELECT user_id, epoch_us(mon) AS mon_us, cents,
        |  lag(cents, 1) OVER (PARTITION BY user_id ORDER BY mon) AS prev
        | FROM m)
        |SELECT user_id, mon_us, cents,
        | CASE WHEN prev > 0 THEN
        |   CAST(cents - prev AS DOUBLE) / CAST(prev AS DOUBLE) END
        |   AS pct_change
        |FROM l""".stripMargin,

    "w40_rollkurt" ->
      s"""WITH o AS (SELECT event_id, user_id, ts,
         |  ${latticeSql("value", 100, "HUGEINT")} AS c FROM events),
         |st AS (SELECT event_id,
         |  count(c) OVER wk AS n,
         |  sum(c) OVER wk AS sl1,
         |  sum(c * c) OVER wk AS sl2,
         |  sum(c * c * c) OVER wk AS sl3,
         |  sum(c * c * c * c) OVER wk AS sl4
         | FROM o WINDOW wk AS (PARTITION BY user_id ORDER BY ts, event_id
         |   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
         |d AS (SELECT event_id, n, sl1, sl2,
         |  CAST(n AS DOUBLE) AS nd, CAST(sl1 AS DOUBLE) AS s1,
         |  CAST(sl2 AS DOUBLE) AS s2, CAST(sl3 AS DOUBLE) AS s3,
         |  CAST(sl4 AS DOUBLE) AS s4
         | FROM st)
         |SELECT event_id, n::BIGINT AS n,
         | CASE WHEN n >= 4 AND CAST(n AS HUGEINT) * sl2 - sl1 * sl1 > 0
         |  THEN round(
         |   ((s4 - 4.0 * s1 * s3 / nd + 6.0 * s1 * s1 * s2 / (nd * nd)
         |     - 3.0 * s1 * s1 * s1 * s1 / (nd * nd * nd)) / nd)
         |   / (((s2 - s1 * s1 / nd) / nd) * ((s2 - s1 * s1 / nd) / nd))
         |   - 3.0, 6)
         | END AS kurt8
         |FROM d""".stripMargin,

    "w39_rollskew" ->
      s"""WITH o AS (SELECT event_id, user_id, ts,
         |  ${latticeSql("value", 100, "HUGEINT")} AS c FROM events),
         |st AS (SELECT event_id,
         |  count(c) OVER wk AS n,
         |  sum(c) OVER wk AS sl1,
         |  sum(c * c) OVER wk AS sl2,
         |  sum(c * c * c) OVER wk AS sl3
         | FROM o WINDOW wk AS (PARTITION BY user_id ORDER BY ts, event_id
         |   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
         |d AS (SELECT event_id, n, sl1, sl2,
         |  CAST(n AS DOUBLE) AS nd, CAST(sl1 AS DOUBLE) AS s1,
         |  CAST(sl2 AS DOUBLE) AS s2, CAST(sl3 AS DOUBLE) AS s3
         | FROM st)
         |SELECT event_id, n::BIGINT AS n,
         | CASE WHEN n >= 3 AND CAST(n AS HUGEINT) * sl2 - sl1 * sl1 > 0
         |  THEN round(
         |   ((s3 - 3.0 * s1 * s2 / nd + 2.0 * s1 * s1 * s1 / (nd * nd)) / nd)
         |   / sqrt(((s2 - s1 * s1 / nd) / nd) * ((s2 - s1 * s1 / nd) / nd)
         |          * ((s2 - s1 * s1 / nd) / nd)), 6)
         | END AS skew8
         |FROM d""".stripMargin,

    "w33_rollslope" ->
      s"""WITH b AS (SELECT event_id, user_id, ts,
         |  ${latticeSql("value", 100)} AS c,
         |  row_number() $over)::BIGINT AS i FROM events),
         |r AS (SELECT event_id, user_id,
         |  count(c) OVER wk AS n,
         |  CAST(sum(i) OVER wk AS BIGINT) AS sx,
         |  CAST(sum(c) OVER wk AS BIGINT) AS sy,
         |  CAST(sum(i * c) OVER wk AS BIGINT) AS sxy,
         |  CAST(sum(i * i) OVER wk AS BIGINT) AS sxx
         | FROM b WINDOW wk AS (PARTITION BY user_id ORDER BY ts, event_id
         |   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW))
         |SELECT event_id, user_id,
         | CASE WHEN n > 1 THEN CAST(n * sxy - sx * sy AS DOUBLE)
         |   / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope8
         |FROM r""".stripMargin,

    "m8_seqbuild" ->
      s"""SELECT event_id,
         | len(seq) AS seq_len,
         | round(list_reduce(list_prepend(0.0, seq), (a, x) -> a + x), 6) AS seq_sum,
         | seq[1] AS seq_first,
         | seq[-1] AS seq_last
         |FROM (SELECT event_id,
         |  list(value) $over ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS seq
         | FROM events)""".stripMargin)
}
