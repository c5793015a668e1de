package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Sessions
import Q._

/** Event-log analytics over the `events` table: batch sessionization,
  * cohort retention, staged funnels (operators/Sessions.scala).
  * Net-new vs the reference (SURVEY §2.11) — the batch reprocessing
  * twins of the streaming session/window queries.
  *
  * Determinism: all timestamp math is integer epoch-micros
  * (schema-adaptive `Tables.eventsUs` — trap #9 in the verify skill),
  * value sums are exact cents (trap #1), orderings carry an `event_id`
  * tiebreak. Nothing here emits an unrounded float.
  */
object EventsQ extends QueryModule {

  private def eventsUs(s: SparkSession, dir: String): DataFrame =
    graft.io.Tables.eventsUs(s, dir)

  private val GapUs = 600L * 1000000L // 10 minutes

  val queries: Seq[(String, Q.QueryFn)] = Seq(
    // J20/net-new: last-touch conversion attribution — assign each
    // purchase to the user's most recent PRIOR non-purchase event's
    // channel (first question every event-analytics user asks of a
    // funnel). The "most recent prior" lookup is a running MAX over a
    // packed BIGINT (rn·8 + channel_code): rn is unique within the
    // user's ordered series, so the max IS the latest prior touch and
    // the low 3 bits decode its channel — argmax-with-payload as one
    // window aggregate (the t_winnow packing trick), riding the
    // canonical per-user exchange with no self-join. Purchases with no
    // prior touch fall out as NULL → 'direct'. Integer-exact
    // throughout (ORACLE_NOTES.md rule 1).
    "j20_attribution" -> ((s, dir) => {
      val ww = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
      val code = when(col("event_type") === "click", 1L)
        .when(col("event_type") === "view", 2L)
        .when(col("event_type") === "signup", 3L)
        .otherwise(4L)
      eventsUs(s, dir)
        .withColumn("cents", lattice(col("value"), 100))
        // rn materializes BEFORE the max frame (window functions don't
        // nest); both windows share one exchange+sort on the same spec.
        .withColumn("rn", row_number().over(ww).cast("long"))
        .withColumn("packed",
          when(col("event_type") =!= "purchase", col("rn") * 8 + code))
        .withColumn("last_packed", max(col("packed"))
          .over(ww.rowsBetween(Window.unboundedPreceding, -1)))
        .filter(col("event_type") === "purchase")
        .withColumn("channel",
          when(col("last_packed").isNull, "direct")
            .when(col("last_packed") % 8 === 1, "click")
            .when(col("last_packed") % 8 === 2, "view")
            .when(col("last_packed") % 8 === 3, "signup")
            .otherwise("error"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("cents")).as("revenue_cents"))
    }),

    "w20_sessionize" -> ((s, dir) => {
      // Gap-based sessionization (gap > 10 min ⇒ new session) +
      // per-session summary; one shuffle on user_id end-to-end.
      val e = eventsUs(s, dir)
        .withColumn("cents", lattice(col("value"), 100))
      Sessions.sessionize(e, col("user_id"), col("ts_us"),
          col("event_id"), GapUs)
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"),
          max(col("ts_us")).as("end_us"),
          sum(col("cents")).as("value_cents"))
        .withColumn("duration_us", col("end_us") - col("start_us"))
    }),

    "a16_retention" -> ((s, dir) => {
      // Weekly cohort retention: cohort = user's first epoch-week,
      // n_active = distinct users per (cohort, week offset).
      val weekUs = 7L * 86400L * 1000000L
      val e = eventsUs(s, dir)
        .withColumn("week", expr(s"ts_us DIV $weekUs"))
      Sessions.retention(e, col("user_id"), col("week"))
        .orderBy("cohort", "offset")
    }),

    // Time-weighted average per user (TWAP): each observation is
    // weighted by its holding duration (micros until the next event).
    // cents × micros products are exact BIGINTs, so the final single
    // division is bitwise portable; one window + one agg on the same
    // key — one shuffle.
    "a22_twap" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val e = eventsUs(s, dir)
        .withColumn("cents", lattice(col("value"), 100))
        .withColumn("dt_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
        .where(col("dt_us").isNotNull) // last observation has no duration
      e.groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(col("cents") * col("dt_us")).as("wsum"),
          sum(col("dt_us")).as("tsum"))
        .select(col("user_id"), col("n"),
          (col("wsum").cast("double") /
            col("tsum").cast("double") / 100.0).as("twap"))
    }),

    "j12_funnel" -> ((s, dir) => {
      // Strictly-ordered view → click → purchase funnel: stage i
      // counts a user only if its first qualifying ts is at-or-after
      // stage i-1's.
      Sessions.funnel(eventsUs(s, dir), Seq(col("user_id")), col("ts_us"),
        col("event_type"), Seq("view", "click", "purchase"))
    }),

    // Operators COMPOSE: the funnel counted within each session
    // (keys = user_id, session_idx) instead of per user. The keys are
    // passed as PLAIN columns so funnel's windows and group-by are
    // satisfied by sessionize's hash partitioning on the user_id
    // prefix — one data exchange for the whole chain (plan-proven in
    // SessionsSpec; a struct-wrapped key would force a second
    // full-data shuffle).
    "j14_session_funnel" -> ((s, dir) => {
      val sess = Sessions.sessionize(eventsUs(s, dir), col("user_id"),
        col("ts_us"), col("event_id"), GapUs)
      Sessions.funnel(sess,
        Seq(col("user_id"), col("session_idx")),
        col("ts_us"), col("event_type"),
        Seq("view", "click", "purchase"))
    }),

    // J17/net-new: merge overlapping per-key intervals — the classic
    // gaps-and-islands reduction (calendar/availability merging,
    // coverage dedup). Island boundary = start strictly after the
    // running max end of all earlier intervals; one window + one
    // group-by share a single exchange on user_id. All arithmetic is
    // integer micros (portability rule 1); the synthetic interval
    // length is |cents| % 120 + 30 seconds so sf growth densifies
    // overlaps instead of widening them.
    "j17_intervals" -> ((s, dir) => {
      val len = (abs(lattice(col("value"), 100)) % 120 + 30) *
        lit(1000000L)
      val e = eventsUs(s, dir).select(col("user_id"), col("event_id"),
        col("ts_us").as("start_us"), (col("ts_us") + len).as("end_us"))
      val w = Window.partitionBy("user_id").orderBy("start_us", "event_id")
      val prevMax = max(col("end_us"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
      e.withColumn("is_new",
          when(prevMax.isNull || col("start_us") > prevMax, 1L).otherwise(0L))
        .withColumn("island",
          sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("start_us")).as("merged_start_us"),
          max(col("end_us")).as("merged_end_us"),
          count(lit(1)).as("n_intervals"))
    }),

    // W32/net-new: first-order Markov transition matrix over each
    // user's event sequence — the behavioral-modeling summary (what
    // follows what, with conditional probability). One window exchange
    // on user_id feeds the pair counts; the conditional p is a single
    // division of exact BIGINTs.
    "w32_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      eventsUs(s, dir)
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") /
            sum("n").over(Window.partitionBy("from_type")).cast("double"))
            .as("p"))
    }))

  val oracle: Seq[(String, String)] = Seq(
    // Same packed-BIGINT argmax recursion-free attribution; rn·8+code
    // stays far under 2^53 so the packing is exact in both engines.
    "j20_attribution" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type,
        |  epoch_us(ts) AS ts_us,
        |  ${latticeSql("value", 100)} AS cents FROM events),
        |r AS (SELECT *,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |    ::BIGINT AS rn FROM e),
        |p AS (SELECT *, CASE WHEN event_type <> 'purchase'
        |  THEN rn * 8 + CASE event_type WHEN 'click' THEN 1
        |    WHEN 'view' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END
        |  END AS packed FROM r),
        |lt AS (SELECT *, max(packed) OVER (PARTITION BY user_id
        |  ORDER BY ts_us, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_packed
        | FROM p)
        |SELECT CASE last_packed % 8 WHEN 1 THEN 'click' WHEN 2 THEN 'view'
        |  WHEN 3 THEN 'signup' WHEN 4 THEN 'error' ELSE 'direct' END
        |  AS channel,
        | count(*) AS n_purchases,
        | CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM lt WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,

    "w20_sessionize" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  ${latticeSql("value", 100)} AS cents FROM events),
        |g AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER
        |   (PARTITION BY user_id ORDER BY ts_us, event_id) > 600000000
        |   OR lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |   IS NULL THEN 1 ELSE 0 END AS is_new FROM e),
        |x AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |   ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |   CURRENT ROW) AS BIGINT) AS session_idx FROM g)
        |SELECT user_id, session_idx, count(*) AS n_events,
        | min(ts_us) AS start_us, max(ts_us) AS end_us,
        | CAST(sum(cents) AS BIGINT) AS value_cents,
        | max(ts_us) - min(ts_us) AS duration_us
        |FROM x GROUP BY user_id, session_idx""".stripMargin,

    "a16_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week
        |  FROM events),
        |c AS (SELECT *, min(week) OVER (PARTITION BY user_id) AS cohort
        |  FROM e)
        |SELECT cohort, week - cohort AS "offset",
        | count(DISTINCT user_id) AS n_active
        |FROM c GROUP BY cohort, week - cohort
        |ORDER BY cohort, "offset"""".stripMargin,

    "a22_twap" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  ${latticeSql("value", 100)} AS cents FROM events),
        |d AS (SELECT user_id, cents,
        |  lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |    - ts_us AS dt_us FROM e),
        |a AS (SELECT user_id, count(*)::BIGINT AS n,
        |  sum(cents * dt_us)::BIGINT AS wsum, sum(dt_us)::BIGINT AS tsum
        | FROM d WHERE dt_us IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n,
        | ((wsum::DOUBLE) / (tsum::DOUBLE)) / 100.0 AS twap
        |FROM a""".stripMargin,

    "j14_session_funnel" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts,
        |  event_type AS typ FROM events),
        |g AS (SELECT *, CASE WHEN ts - lag(ts) OVER
        |   (PARTITION BY user_id ORDER BY ts, event_id) > 600000000
        |   OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |   IS NULL THEN 1 ELSE 0 END AS is_new FROM e),
        |x AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |   CURRENT ROW) AS BIGINT) AS sess FROM g),
        |f0 AS (SELECT *, min(CASE WHEN typ = 'view' THEN ts END)
        |  OVER (PARTITION BY user_id, sess) AS first_0 FROM x),
        |f1 AS (SELECT *, min(CASE WHEN typ = 'click' AND ts >= first_0
        |  THEN ts END) OVER (PARTITION BY user_id, sess) AS first_1 FROM f0),
        |f2 AS (SELECT *, min(CASE WHEN typ = 'purchase' AND ts >= first_1
        |  THEN ts END) OVER (PARTITION BY user_id, sess) AS first_2 FROM f1),
        |k AS (SELECT user_id, sess, max(first_0) AS first_0,
        |  max(first_1) AS first_1, max(first_2) AS first_2
        |  FROM f2 GROUP BY user_id, sess),
        |a AS (SELECT
        |  CAST(sum(CASE WHEN first_0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_0,
        |  CAST(sum(CASE WHEN first_1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
        |  CAST(sum(CASE WHEN first_2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_2
        |  FROM k)
        |SELECT s.stage_idx, s.stage,
        | CASE s.stage_idx WHEN 0 THEN n_0 WHEN 1 THEN n_1 ELSE n_2 END AS n_keys
        |FROM a, (VALUES (CAST(0 AS BIGINT), 'view'), (1, 'click'),
        |  (2, 'purchase')) AS s(stage_idx, stage)""".stripMargin,

    "j12_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type AS typ
        |  FROM events),
        |f0 AS (SELECT *, min(CASE WHEN typ = 'view' THEN ts END)
        |  OVER (PARTITION BY user_id) AS first_0 FROM e),
        |f1 AS (SELECT *, min(CASE WHEN typ = 'click' AND ts >= first_0
        |  THEN ts END) OVER (PARTITION BY user_id) AS first_1 FROM f0),
        |f2 AS (SELECT *, min(CASE WHEN typ = 'purchase' AND ts >= first_1
        |  THEN ts END) OVER (PARTITION BY user_id) AS first_2 FROM f1),
        |k AS (SELECT user_id, max(first_0) AS first_0,
        |  max(first_1) AS first_1, max(first_2) AS first_2
        |  FROM f2 GROUP BY user_id),
        |a AS (SELECT
        |  CAST(sum(CASE WHEN first_0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_0,
        |  CAST(sum(CASE WHEN first_1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
        |  CAST(sum(CASE WHEN first_2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_2
        |  FROM k)
        |SELECT s.stage_idx, s.stage,
        | CASE s.stage_idx WHEN 0 THEN n_0 WHEN 1 THEN n_1 ELSE n_2 END AS n_keys
        |FROM a, (VALUES (CAST(0 AS BIGINT), 'view'), (1, 'click'),
        |  (2, 'purchase')) AS s(stage_idx, stage)""".stripMargin,

    "j17_intervals" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS start_us,
        |  epoch_us(ts) + (abs(${latticeSql("value", 100)}) % 120 + 30)
        |    * 1000000 AS end_us FROM events),
        |g AS (SELECT *, max(end_us) OVER (PARTITION BY user_id
        |   ORDER BY start_us, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        | FROM e),
        |h AS (SELECT *, CASE WHEN prev_max IS NULL OR start_us > prev_max
        |   THEN 1 ELSE 0 END AS is_new FROM g),
        |x AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |   ORDER BY start_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING
        |   AND CURRENT ROW) AS BIGINT) AS island FROM h)
        |SELECT user_id, island, min(start_us) AS merged_start_us,
        | max(end_us) AS merged_end_us, count(*) AS n_intervals
        |FROM x GROUP BY user_id, island""".stripMargin,

    "w32_transitions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  event_type FROM events),
        |x AS (SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |    AS to_type FROM e),
        |c AS (SELECT from_type, to_type, count(*)::BIGINT AS n FROM x
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        | CAST(n AS DOUBLE) / CAST(CAST(sum(n) OVER (PARTITION BY from_type)
        |   AS BIGINT) AS DOUBLE) AS p
        |FROM c""".stripMargin)
}
