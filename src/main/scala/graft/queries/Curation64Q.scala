package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.Text.P
import Q._

/** Round-9 batch 64: theta-sketch set operations (the mergeable
  * distinct-sketch algebra HLL cannot do — HLL merges are union-only,
  * so intersection/difference cardinalities need the theta/KMV
  * "keep the k smallest hashes, cut both sketches at the smaller
  * theta" construction), and the streaming Kalman level filter (w75's
  * recursion as O(1)-state always-on monitoring through the
  * flatMapGroupsWithState harness). Net-new vs the 447-query surface
  * (grep-checked: no theta/stream_kalman).
  */
object Curation64Q extends QueryModule {

  private val K = 64

  val queries: Seq[(String, QueryFn)] = Seq(

    // A111: theta-sketch union/intersection/difference estimates for
    // two user sets (purchasers vs clickers), each sketched as its
    // K = 64 minimum hash values on the a57_kmv lattice (engine-exact
    // integer hash, total (h, user) order). theta_X = the K-th
    // smallest hash (P when |X| < K); the combined estimate counts
    // sketch entries BELOW theta = min(theta_A, theta_B) and scales
    // by ONE integer DIV: est = n_below·P DIV theta — the sketch
    // algebra is entirely integer, bitwise-portable, and mergeable
    // (keep the K smallest of a union). Exact counts ride beside the
    // estimates with a ±50% integer-decided gate (RSE ≈ 1/√63 ≈ 13%,
    // so the gate is ≈ 4σ). The K-smallest cut is a distributed
    // TakeOrdered, never a global window.
    "a111_theta_sketch" -> ((s, dir) => {
      def side(typ: String) = events(s, dir)
        .filter(col("event_type") === typ)
        .select(col("user_id")).distinct()
        .select(col("user_id"),
          pmod(col("user_id") * 2654435761L + 104729L, lit(P)).as("h"))
      val a = side("purchase").cache()
      val b = side("click").cache()
      def sketch(x: org.apache.spark.sql.DataFrame, tag: String) = {
        val bot = x.orderBy(col("h"), col("user_id")).limit(K)
          .agg(max("h").as(s"hk_$tag"), count(lit(1)).as(s"nk_$tag"))
        x.agg(count(lit(1)).as(s"n_$tag")).crossJoin(broadcast(bot))
          .select(col(s"n_$tag"),
            when(col(s"nk_$tag") < K, lit(P))
              .otherwise(col(s"hk_$tag")).as(s"theta_$tag"))
      }
      val thetas = sketch(a, "a").crossJoin(broadcast(sketch(b, "b")))
        .select(least(col("theta_a"), col("theta_b")).as("theta"))
      // sketch entries: each side's K minimum (h, user) rows
      val sa = a.orderBy(col("h"), col("user_id")).limit(K)
        .select(col("user_id"), col("h"), lit(1L).as("in_a"))
      val sb = b.orderBy(col("h"), col("user_id")).limit(K)
        .select(col("user_id"), col("h"), lit(1L).as("in_b"))
      val comb = sa.join(sb.withColumnRenamed("h", "h_b"),
          Seq("user_id"), "full_outer")
        .select(col("user_id"), coalesce(col("h"), col("h_b")).as("h"),
          coalesce(col("in_a"), lit(0L)).as("in_a"),
          coalesce(col("in_b"), lit(0L)).as("in_b"))
        .crossJoin(broadcast(thetas))
        .filter(col("h") < col("theta"))
      val est = comb.groupBy("theta").agg(
        count(lit(1)).as("nu"),
        sum(col("in_a") * col("in_b")).as("ni"),
        sum(col("in_a") * (lit(1L) - col("in_b"))).as("nd"))
      val exact = a.join(b.withColumnRenamed("h", "hb"),
          Seq("user_id"), "full_outer")
        .agg(count(lit(1)).as("exact_union"),
          sum(when(col("h").isNotNull && col("hb").isNotNull, 1L)
            .otherwise(0L)).as("exact_inter"))
      est.crossJoin(broadcast(exact))
        .select(col("exact_union"), col("exact_inter"),
          expr(s"nu * ${P}L DIV theta").as("est_union"),
          expr(s"ni * ${P}L DIV theta").as("est_inter"),
          expr(s"nd * ${P}L DIV theta").as("est_diff_ab"))
        .withColumn("union_within_50pct",
          col("est_union") * 2 >= col("exact_union") &&
            col("est_union") <= col("exact_union") * 2)
        .withColumn("inter_within_50pct",
          col("est_inter") * 2 >= col("exact_inter") &&
            col("est_inter") <= col("exact_inter") * 2)
    }),

    // W76/streaming: the Kalman level filter as an always-on stream —
    // O(1) (x, p, n) doubles per user via flatMapGroupsWithState,
    // same dyadic q = 2²², r = 2²⁴ as batch w75. One running-state
    // row per key for the AvailableNow batch; the oracle replays the
    // FULL per-user history fold (w75's recursion without the
    // bounded-tail cut — the stream never collects, so it needs no
    // bound). Hash-equality is the batch-parity proof.
    "w76_stream_kalman" -> ((s, dir) => {
      TemporalQ.runStream(s, "w76_stream_kalman_sink",
        graft.streaming.StreamingTemporal.kalmanStream(
          TemporalQ.obsStream(s, dir), 4194304.0, 16777216.0))
        .select(col("key").cast("long").as("user_id"), col("n"),
          col("kalman_x"), col("kalman_p"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a111_theta_sketch" ->
      s"""WITH a AS (SELECT DISTINCT user_id,
         |  ((user_id * 2654435761 + 104729) % $P) AS h
         | FROM events WHERE event_type = 'purchase'),
         |b AS (SELECT DISTINCT user_id,
         |  ((user_id * 2654435761 + 104729) % $P) AS h
         | FROM events WHERE event_type = 'click'),
         |ta AS (SELECT CASE WHEN (SELECT count(*) FROM a) < $K THEN $P
         |  ELSE (SELECT max(h) FROM (SELECT h FROM a
         |        ORDER BY h, user_id LIMIT $K)) END AS theta_a),
         |tb AS (SELECT CASE WHEN (SELECT count(*) FROM b) < $K THEN $P
         |  ELSE (SELECT max(h) FROM (SELECT h FROM b
         |        ORDER BY h, user_id LIMIT $K)) END AS theta_b),
         |th AS (SELECT least(theta_a, theta_b) AS theta
         | FROM ta CROSS JOIN tb),
         |sa AS (SELECT user_id, h, 1::BIGINT AS in_a FROM a
         |  ORDER BY h, user_id LIMIT $K),
         |sb AS (SELECT user_id, h, 1::BIGINT AS in_b FROM b
         |  ORDER BY h, user_id LIMIT $K),
         |comb AS (SELECT coalesce(sa.user_id, sb.user_id) AS user_id,
         |  coalesce(sa.h, sb.h) AS h,
         |  coalesce(in_a, 0) AS in_a, coalesce(in_b, 0) AS in_b
         | FROM sa FULL OUTER JOIN sb USING (user_id)),
         |est AS (SELECT count(*)::BIGINT AS nu,
         |  CAST(sum(in_a * in_b) AS BIGINT) AS ni,
         |  CAST(sum(in_a * (1 - in_b)) AS BIGINT) AS nd, theta
         | FROM comb CROSS JOIN th WHERE h < theta GROUP BY theta),
         |ex AS (SELECT count(*)::BIGINT AS exact_union,
         |  CAST(sum(CASE WHEN a.user_id IS NOT NULL
         |    AND b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS exact_inter
         | FROM a FULL OUTER JOIN b USING (user_id))
         |SELECT exact_union, exact_inter,
         | nu * $P // theta AS est_union,
         | ni * $P // theta AS est_inter,
         | nd * $P // theta AS est_diff_ab,
         | est_union * 2 >= exact_union AND est_union <= exact_union * 2
         |   AS union_within_50pct,
         | est_inter * 2 >= exact_inter AND est_inter <= exact_inter * 2
         |   AS inter_within_50pct
         |FROM est CROSS JOIN ex""".stripMargin,

    "w76_stream_kalman" ->
      s"""WITH t AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |g AS (SELECT user_id,
        |  list(struct_pack(ts_us := ts_us, event_id := event_id,
        |    z := c::DOUBLE) ORDER BY ts_us, event_id) AS xs
        | FROM t GROUP BY user_id),
        |f AS (SELECT user_id, len(xs)::BIGINT AS n,
        |  list_reduce(
        |    list_prepend({'x': xs[1].z, 'p': 16777216.0::DOUBLE},
        |      list_transform(xs[2:], e -> {'x': e.z, 'p': 0.0::DOUBLE})),
        |    (acc, el) -> {
        |      'x': acc.x + ((acc.p + 4194304.0) /
        |             (acc.p + 4194304.0 + 16777216.0))
        |             * (el.x - acc.x),
        |      'p': (1.0 - (acc.p + 4194304.0) /
        |             (acc.p + 4194304.0 + 16777216.0))
        |             * (acc.p + 4194304.0)}) AS st
        | FROM g)
        |SELECT user_id, n, st.x AS kalman_x, st.p AS kalman_p
        |FROM f""".stripMargin)
}
