package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** Round-7 batch 41: streaming HyperLogLog register maintenance
  * (mergeable distinct-count state per event-time window), offline
  * bandit policy evaluation by replay, and the local clustering
  * coefficient. Net-new vs the 387-query surface (grep-checked:
  * a30_hll_merge is the BATCH rollup; the streaming register build is
  * the state-maintenance shape; o23's "replay" is commit-log replay,
  * a different thing entirely).
  */
object Curation41Q extends QueryModule {

  /** 20-bit lattice hash: low 6 bits pick the register, the top 14
    * feed the rho (trailing-zero) count — every step engine-portable
    * integer arithmetic (no xxhash64, no ctz builtin: rho is an
    * unrolled rest % 2^(k+1) == 2^k chain). */
  private def h20(key: Column): Column =
    pmod(pmod(key, lit(720720L)) * 1103515245L + 12345L, lit(1L << 20))

  private def rhoOf(rest: Column): Column =
    (1 to 14).foldLeft(when(lit(false), lit(0L))) { (acc, k) =>
      acc.when(pmod(rest, lit(1L << k)) === lit(1L << (k - 1)), k.toLong)
    }.otherwise(15L) // rest == 0: max rho for the 14-bit domain

  val queries: Seq[(String, QueryFn)] = Seq(

    // W70: streaming HLL register maintenance — the mergeable
    // distinct-users state every streaming dashboard keeps per
    // window (registers are max-merged, so late data, retries and
    // re-partitioning all commute; a30_hll_merge already proves the
    // batch rollup/estimate side). Per 1-day event-time window and
    // 64-register bucket: rho_max = max trailing-zero rank — O(1)
    // state per (window, bucket), the same windowed-agg shape as
    // w12_stream_window, batch-parity oracled.
    "w70_stream_hll" -> ((s, dir) => {
      val stream = TemporalQ.eventsStream(s, dir)
        .select(col("ts"), col("user_id"))
      val h = h20(col("user_id"))
      val agg = stream
        .select(col("ts"), pmod(h, lit(64L)).as("bucket"),
          rhoOf(((h - pmod(h, lit(64L))) / 64L).cast("long")).as("rho"))
        .groupBy(window(col("ts"), "1 day"), col("bucket"))
        .agg(max("rho").as("rho_max"), count(lit(1)).as("n_rows"))
      TemporalQ.runStream(s, "w70_stream_hll_sink", agg, mode = "complete")
        .select(unix_micros(col("window.start")).as("win_start"),
          col("bucket"), col("rho_max"), col("n_rows"))
    }),

    // M42: offline policy evaluation by REPLAY (Li et al. 2011) — the
    // unbiased "what would this bandit policy have earned" estimator
    // over logged uniform-ish traffic: keep exactly the events where
    // the policy's deterministic choice matches the LOGGED arm, and
    // average their rewards. Policy: epsilon-greedy (eps = 1/10) —
    // greedy arm 'click', exploration arm drawn from the sorted arm
    // list by a lattice draw. All decisions integer (the draws are
    // the a78 lattice family; the arm list is a bounded 5-row sorted
    // fetch, mirrored as a DuckDB ordered list); the estimate is one
    // division, with the naive logged average beside it for the
    // selection-bias contrast.
    "m42_replay_eval" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_id"), col("event_type"),
          (lattice(col("value"), 100) >= 10000L).cast("long")
            .as("reward"))
      val arms = e.select("event_type").distinct()
        .orderBy("event_type").collect().map(_.getString(0)).toSeq
      val d1 = pmod(pmod(col("event_id"), lit(720720L)) * 48271L + 7L,
        lit(10L)) // epsilon draw: < 1 -> explore
      val d2 = pmod(pmod(col("event_id"), lit(720720L)) * 69621L + 11L,
        lit(arms.size.toLong)) // exploration arm index
      val chosen = when(d1 < 1L,
        element_at(typedLit(arms), (d2 + 1L).cast("int")))
        .otherwise(lit("click"))
      val marked = e.select(col("reward"),
        (chosen === col("event_type")).cast("long").as("matched"))
      marked.agg(
          count(lit(1)).as("n_events"),
          sum("matched").as("n_matched"),
          sum(col("matched") * col("reward")).as("n_reward"),
          sum("reward").as("n_reward_all"))
        .select(col("n_events"), col("n_matched"), col("n_reward"),
          r6(col("n_reward").cast("double") / col("n_matched"))
            .as("replay_reward_rate"),
          r6(col("n_reward_all").cast("double") / col("n_events"))
            .as("logged_reward_rate"))
    }),

    // G18: local clustering coefficient — per node, how close its
    // neighborhood is to a clique: cc = 2·tri(v) / (deg·(deg−1)).
    // Node triangle counts come from the degree-ordered exact
    // enumeration (Graph.triangles — each triangle once, O(m^1.5)
    // wedge bound), exploded to its three corners; one keyed count +
    // one division. The nation restriction bounds density exactly as
    // in g2_triangles.
    "g18_clustcoef" -> ((s, dir) => {
      val e = GraphQ.domesticCoSupply(s, dir).cache()
      // e is already canonical (a < b, distinct) — skip the operator's
      // normalize+distinct re-exchange (round 12)
      val tris = graft.operators.Graph.triangles(e, canonical = true)
      val triPerNode = tris.select(col("n1").as("node"))
        .union(tris.select(col("n2").as("node")))
        .union(tris.select(col("n3").as("node")))
        .groupBy("node").agg(count(lit(1)).as("tri"))
      val deg = e.select(col("a"), col("b"))
        .union(e.select(col("b").as("a"), col("a").as("b")))
        .groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
      deg.filter(col("deg") >= 2L)
        .join(triPerNode, Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("tri"), lit(0L)).as("tri"),
          r6(coalesce(col("tri"), lit(0L)).cast("double") * 2.0 /
            (col("deg") * (col("deg") - 1L)).cast("double")).as("cc"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  /** The unrolled trailing-zero chain (rhoOf mirror) over `rest`. */
  private val RhoSql = (1 to 14)
    .map(k => s"WHEN rest % ${1L << k} = ${1L << (k - 1)} THEN $k")
    .mkString("CASE ", " ", " ELSE 15 END")

  val oracle: Seq[(String, String)] = Seq(

    "w70_stream_hll" ->
      s"""WITH h AS (SELECT ts,
         |  ((user_id % 720720) * 1103515245 + 12345) % ${1L << 20} AS hv
         | FROM events),
         |r AS (SELECT ts, hv % 64 AS bucket,
         |  $RhoSql AS rho
         | FROM (SELECT ts, hv, hv // 64 AS rest FROM h))
         |SELECT epoch_us(time_bucket(INTERVAL 1 DAY, ts)) AS win_start,
         | bucket::BIGINT AS bucket, max(rho)::BIGINT AS rho_max,
         | count(*)::BIGINT AS n_rows
         |FROM r GROUP BY 1, 2""".stripMargin,

    "m42_replay_eval" ->
      s"""WITH arms AS (SELECT list(DISTINCT event_type ORDER BY event_type)
        |   AS a FROM events),
        |e AS (SELECT event_id, event_type,
        |  (${latticeSql("value", 100)} >= 10000)::BIGINT AS reward,
        |  ((event_id % 720720) * 48271 + 7) % 10 AS d1,
        |  ((event_id % 720720) * 69621 + 11)
        |    % (SELECT len(a) FROM arms) AS d2
        | FROM events),
        |m AS (SELECT reward,
        |  (CASE WHEN d1 < 1
        |    THEN (SELECT a[(d2 + 1)::INT] FROM arms)
        |    ELSE 'click' END = event_type)::BIGINT AS matched
        | FROM e)
        |SELECT count(*)::BIGINT AS n_events,
        | sum(matched)::BIGINT AS n_matched,
        | sum(matched * reward)::BIGINT AS n_reward,
        | round(sum(matched * reward)::DOUBLE / sum(matched), 6)
        |   AS replay_reward_rate,
        | round(sum(reward)::DOUBLE / count(*), 6) AS logged_reward_rate
        |FROM m""".stripMargin,

    "g18_clustcoef" ->
      s"""WITH ${GraphQ.domesticCoSupplySql("e")},
        |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT a AS n, count(*)::BIGINT AS d FROM sym GROUP BY a),
        |o AS (SELECT s.a AS src, s.b AS dst, db.d AS dd
        |      FROM sym s JOIN deg da ON s.a = da.n JOIN deg db ON s.b = db.n
        |      WHERE da.d < db.d OR (da.d = db.d AND s.a < s.b)),
        |w AS (SELECT o1.src AS apex, o1.dst AS b, o2.dst AS c
        |      FROM o o1 JOIN o o2 ON o1.src = o2.src
        |      WHERE o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst)),
        |t AS (SELECT w.apex, w.b, w.c FROM w
        |      WHERE EXISTS (SELECT 1 FROM o WHERE o.src = w.b AND o.dst = w.c)),
        |tn AS (SELECT node, count(*)::BIGINT AS tri FROM (
        |  SELECT apex AS node FROM t
        |  UNION ALL SELECT b FROM t
        |  UNION ALL SELECT c FROM t) GROUP BY node)
        |SELECT deg.n AS node, deg.d AS deg,
        | coalesce(tn.tri, 0)::BIGINT AS tri,
        | round(coalesce(tn.tri, 0)::DOUBLE * 2.0 / (deg.d * (deg.d - 1)), 6)
        |   AS cc
        |FROM deg LEFT JOIN tn ON tn.node = deg.n
        |WHERE deg.d >= 2""".stripMargin)
}
