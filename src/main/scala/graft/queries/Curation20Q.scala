package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-6 batch 20: survival analysis, marketing attribution,
  * distributed bootstrap, and Hilbert-curve clustering. Net-new vs
  * the reference (SURVEY.md §2.11). Every compared float is either
  * one division of exact BIGINTs or a fixed-order product of such
  * divisions (the v_randproj raw-double rule); everything else is
  * integer-decided.
  */
object Curation20Q extends QueryModule {

  private val DayUs = 86400L * 1000000L

  val queries: Seq[(String, QueryFn)] = Seq(

    // A60: Kaplan–Meier survival curve over user lifetimes — THE
    // churn/conversion statistic (how long until a user converts,
    // with non-converts correctly treated as censored, which a plain
    // conversion-time mean gets wrong). Duration = days from first
    // activity to first purchase (converts) or to last activity
    // (censored). The curve lives on the ≤31-row aggregated day
    // lattice: d/n are exact counts, each factor is ONE division,
    // and the survival product folds in day order over the tiny
    // lattice — both engines left-fold the identical doubles, so the
    // output is bitwise portable. One user-key exchange, then tiny.
    "a60_kaplan_meier" -> ((s, dir) => {
      val u = graft.io.Tables.eventsUs(s, dir)
        .groupBy("user_id").agg(
          min("ts_us").as("t0"), max("ts_us").as("t1"),
          min(when(col("event_type") === "purchase", col("ts_us")))
            .as("tp"))
        .select(col("user_id"),
          ((coalesce(col("tp"), col("t1")) - col("t0")) / lit(DayUs))
            .cast("long").as("day"),
          col("tp").isNotNull.cast("long").as("event"))
      val g = u.groupBy("day").agg(
        sum("event").as("d"), count(lit(1)).as("leaving"))
      val wd = Window.orderBy("day")
      val atRisk = g
        .withColumn("n_risk",
          sum("leaving").over(wd.rowsBetween(Window.currentRow,
            Window.unboundedFollowing)))
        .withColumn("factor",
          lit(1.0) - col("d").cast("double") / col("n_risk").cast("double"))
      atRisk
        .withColumn("surv", aggregate(
          collect_list(col("factor"))
            .over(wd.rowsBetween(Window.unboundedPreceding, 0)),
          lit(1.0), (a, x) => a * x))
        .select(col("day"), col("n_risk"), col("d").as("d_events"),
          col("surv"))
    }),

    // W58: last-touch attribution — for every purchase, the most
    // recent click of the same user and whether it falls inside the
    // 7-day window. The j7_asof union+window shape: ONE exchange on
    // the user key, a running last-click struct with ignoreNulls, no
    // pair join. All integers.
    "w58_attribution" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      val e = graft.io.Tables.eventsUs(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("event_type"))
      val withClick = e.withColumn("lc",
        last(when(col("event_type") === "click",
          struct(col("ts_us").as("cts"), col("event_id").as("cid"))),
          ignoreNulls = true).over(w))
      withClick.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts_us"),
          col("lc.cid").as("click_id"), col("lc.cts").as("click_ts_us"),
          (col("ts_us") - col("lc.cts")).as("gap_us"),
          (col("lc.cts").isNotNull &&
            col("ts_us") - col("lc.cts") <= lit(7L * DayUs))
            .as("attributed"))
    }),

    // A61: Poisson-bootstrap confidence replicates of the mean — the
    // distributed bootstrap (Chamandy et al., Google): resampling n
    // rows WITH replacement needs global coordination, but giving
    // each row an independent Poisson(1) weight per replicate is
    // map-side and converges to the same bootstrap distribution.
    // Weights come from an integer LCG draw against the exact
    // cumulative-Poisson thresholds on the millionth lattice —
    // deterministic across engines/partitionings; each replicate
    // mean is ONE division of exact BIGINTs. 32 replicates explode
    // map-side; the shuffle carries 32 partial-agg rows.
    "a61_bootstrap" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_id"), lattice(col("value"), 100).as("cents"))
        .select(col("event_id"), col("cents"),
          explode(sequence(lit(0L), lit(31L))).as("b"))
      val u = (col("event_id") * lit(2654435761L) + col("b") * lit(104729L)) % 1000000L
      // P[X<=k] for Poisson(1), floored to the millionth lattice
      val wgt = when(u < 367879L, 0L).when(u < 735758L, 1L)
        .when(u < 919698L, 2L).when(u < 981011L, 3L)
        .when(u < 996340L, 4L).when(u < 999405L, 5L)
        .when(u < 999916L, 6L).otherwise(7L)
      e.select(col("b"), wgt.as("w"), col("cents"))
        .groupBy("b").agg(
          sum("w").as("n_eff"),
          sum(col("w") * col("cents")).as("sum_wc"))
        .select(col("b").as("replicate"), col("n_eff"), col("sum_wc"),
          (col("sum_wc").cast("double") / col("n_eff").cast("double"))
            .as("boot_mean_cents"))
    }),

    // O21: Hilbert-curve clustering key — see
    // [[graft.functions.Hilbert]]. The liquid-clustering layout key:
    // consecutive indices are grid-adjacent, so key-range files get
    // tight min/max zones on both dimensions (o16_zonemap is the
    // read side that cashes this in).
    "o21_hilbert" -> ((s, dir) => {
      val base = lineitem(s, dir).select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        pmod(col("l_partkey"), lit(1024L)).as("px"),
        pmod(col("l_suppkey"), lit(1024L)).as("py"))
      graft.functions.Hilbert.withHilbert(
        base, col("px"), col("py"), 10, "hval")
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a60_kaplan_meier" ->
      s"""WITH u AS (SELECT user_id,
         |  CAST((coalesce(min(CASE WHEN event_type = 'purchase'
         |      THEN epoch_us(ts) END), max(epoch_us(ts)))
         |    - min(epoch_us(ts))) // $DayUs AS BIGINT) AS day,
         |  CASE WHEN min(CASE WHEN event_type = 'purchase'
         |      THEN epoch_us(ts) END) IS NOT NULL
         |    THEN 1 ELSE 0 END::BIGINT AS event
         | FROM events GROUP BY user_id),
         |g AS (SELECT day, sum(event)::BIGINT AS d,
         |  count(*)::BIGINT AS leaving FROM u GROUP BY day),
         |r AS (SELECT day, d, leaving,
         |  sum(leaving) OVER (ORDER BY day ROWS BETWEEN CURRENT ROW
         |    AND UNBOUNDED FOLLOWING)::BIGINT AS n_risk
         | FROM g),
         |f AS (SELECT day, n_risk, d,
         |  1.0 - d::DOUBLE / n_risk::DOUBLE AS factor FROM r)
         |SELECT day, n_risk, d AS d_events,
         | list_reduce(list(factor) OVER (ORDER BY day
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |   (a, b) -> a * b) AS surv
         |FROM f""".stripMargin,

    "w58_attribution" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         |  event_type FROM events
         | WHERE event_type IN ('click', 'purchase')),
         |m AS (SELECT event_id, user_id, ts_us, event_type,
         |  last_value(CASE WHEN event_type = 'click'
         |      THEN {'cts': ts_us, 'cid': event_id} END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc
         | FROM e)
         |SELECT event_id AS purchase_id, user_id, ts_us,
         | lc.cid AS click_id, lc.cts AS click_ts_us,
         | ts_us - lc.cts AS gap_us,
         | lc.cts IS NOT NULL AND ts_us - lc.cts <= ${7L * DayUs}
         |   AS attributed
         |FROM m WHERE event_type = 'purchase'""".stripMargin,

    "a61_bootstrap" ->
      s"""WITH e AS (SELECT event_id,
        |  ${latticeSql("value", 100)} AS cents FROM events),
        |x AS (SELECT event_id, cents, b
        | FROM e CROSS JOIN (SELECT unnest(range(0, 32)) AS b)),
        |w AS (SELECT b, cents,
        |  (event_id * 2654435761::BIGINT + b * 104729) % 1000000 AS u
        | FROM x),
        |p AS (SELECT b, cents,
        |  CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
        |       WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
        |       WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
        |       WHEN u < 999916 THEN 6 ELSE 7 END::BIGINT AS w
        | FROM w)
        |SELECT b AS replicate, sum(w)::BIGINT AS n_eff,
        | sum(w * cents)::BIGINT AS sum_wc,
        | sum(w * cents)::DOUBLE / sum(w)::DOUBLE AS boot_mean_cents
        |FROM p GROUP BY b""".stripMargin,

    "o21_hilbert" -> {
      val keys = Seq("l_orderkey", "l_linenumber", "px", "py")
      s"""WITH h0 AS (SELECT l_orderkey,
         |  l_linenumber::BIGINT AS l_linenumber,
         |  l_partkey % 1024 AS px, l_suppkey % 1024 AS py,
         |  l_partkey % 1024 AS x, l_suppkey % 1024 AS y,
         |  0::BIGINT AS d FROM lineitem),
         |${graft.functions.Hilbert.hilbertSql(10, keys)}
         |SELECT l_orderkey, l_linenumber, px, py, d AS hval
         |FROM g10""".stripMargin
    })
}
