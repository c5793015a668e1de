package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-6 batch 26: lakehouse commit-log replay (time travel) and
  * expected calibration error. Net-new vs the reference
  * (SURVEY.md §2.11). All integers; ECE is ONE division.
  */
object Curation26Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // O23: commit-log replay / time travel — the transaction-log
    // primitive behind Delta/Iceberg: a log of add/remove file
    // actions replayed to the live snapshot AT EVERY VERSION. The
    // log is deterministic (50 versions; version v adds file v and
    // every 5th version retires file v−10), file row counts come
    // from lineitem bucket stats, and each version's snapshot is an
    // inequality join on the tiny log — the data files themselves
    // are never rescanned, which is the whole point of a commit log.
    "o23_timetravel" -> ((s, dir) => {
      val files = lineitem(s, dir)
        .groupBy(pmod(col("l_orderkey"), lit(50L)).as("file_id"))
        .agg(count(lit(1)).as("n_rows"))
      val adds = s.range(0, 50).select(col("id").as("version"),
        col("id").as("file_id"), lit("add").as("action"))
      val removes = s.range(0, 50)
        .filter(col("id") % 5 === 0 && col("id") >= 10)
        .select(col("id").as("version"), (col("id") - 10).as("file_id"),
          lit("remove").as("action"))
      val log = adds.unionByName(removes).join(files, "file_id")
      val versions = s.range(0, 50).select(col("id").as("v"))
      // per (version, file): live iff added <= v and not removed <= v
      val state = log.join(versions, col("version") <= col("v"))
        .groupBy("v", "file_id", "n_rows")
        .agg(sum(when(col("action") === "remove", 1L).otherwise(0L))
          .as("removed"))
        .filter(col("removed") === 0)
      state.groupBy(col("v").as("version"))
        .agg(count(lit(1)).as("n_live_files"),
          sum("n_rows").as("total_rows"))
    }),

    // A70/M: expected calibration error over the m15 cent-bin
    // lattice — the single-number calibration summary. The per-bin
    // |accuracy − confidence| gap telescopes to
    // Σ_b |100·Σo_b − Σp_b| / (100·n): an EXACT integer numerator
    // and ONE division — no per-bin floats at all.
    "a70_ece" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir).select(
        ((col("event_id") * 37) % 101).as("p_cents"),
        when(col("event_id") % 3 === 0, 1L).otherwise(0L).as("o"))
      val bins = e.groupBy(expr("p_cents DIV 10").as("bin"))
        .agg(count(lit(1)).as("nb"), sum("o").as("so"),
          sum("p_cents").as("sp"))
      bins.agg(sum("nb").as("n"),
          sum(abs(col("so") * 100 - col("sp"))).as("abs_dev_sum"))
        .select(col("n"), col("abs_dev_sum"),
          (col("abs_dev_sum").cast("double") /
            (col("n") * 100).cast("double")).as("ece"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "o23_timetravel" ->
      """WITH files AS (SELECT l_orderkey % 50 AS file_id,
        |  count(*)::BIGINT AS n_rows FROM lineitem GROUP BY 1),
        |adds AS (SELECT v AS version, v AS file_id, 'add' AS action
        | FROM (SELECT unnest(range(0, 50)) AS v)),
        |removes AS (SELECT v AS version, v - 10 AS file_id,
        |  'remove' AS action
        | FROM (SELECT unnest(range(0, 50)) AS v)
        | WHERE v % 5 = 0 AND v >= 10),
        |log AS (SELECT * FROM adds UNION ALL SELECT * FROM removes),
        |lg AS (SELECT log.*, n_rows FROM log JOIN files USING (file_id)),
        |vs AS (SELECT unnest(range(0, 50)) AS v),
        |state AS (SELECT v, file_id, n_rows,
        |  sum(CASE WHEN action = 'remove' THEN 1 ELSE 0 END) AS removed
        | FROM lg JOIN vs ON version <= v
        | GROUP BY v, file_id, n_rows
        | HAVING sum(CASE WHEN action = 'remove' THEN 1 ELSE 0 END) = 0)
        |SELECT v AS version, count(*)::BIGINT AS n_live_files,
        | sum(n_rows)::BIGINT AS total_rows
        |FROM state GROUP BY v""".stripMargin,

    "a70_ece" ->
      """WITH e AS (SELECT (event_id * 37) % 101 AS p_cents,
        |  CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END::BIGINT AS o
        | FROM events),
        |b AS (SELECT p_cents // 10 AS bin, count(*)::BIGINT AS nb,
        |  sum(o)::BIGINT AS so, sum(p_cents)::BIGINT AS sp
        | FROM e GROUP BY 1)
        |SELECT sum(nb)::BIGINT AS n,
        | sum(abs(so * 100 - sp))::BIGINT AS abs_dev_sum,
        | sum(abs(so * 100 - sp))::DOUBLE
        |   / (sum(nb) * 100)::DOUBLE AS ece
        |FROM b""".stripMargin)
}
