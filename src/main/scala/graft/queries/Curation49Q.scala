package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-8 batch 49: survival-model discrimination (Harrell's
  * concordance index — completes the survival family a60/a75/a85
  * with its standard evaluation metric) and multi-rater agreement
  * (Fleiss' kappa — a32's two-rater and m44's weighted kappa extend
  * to n raters). Net-new vs the 413-query surface (grep-checked).
  * Both metrics reduce to exact integer counts with ONE closing
  * division — no float path before the emitted quotient.
  */
object Curation49Q extends QueryModule {

  private val DayUs = 86400000000L

  val queries: Seq[(String, QueryFn)] = Seq(

    // M46: Harrell's C-index of an activity-based risk score against
    // the a60 survival construction (duration to first purchase,
    // censored at last activity). Pairs never form at row grain: the
    // cohort aggregates to the bounded (day ≤ span, event, riskband
    // ≤ 21) cell lattice, and the concordance counts multiply CELL
    // pairs (≤ 1300² rows of metadata, a broadcast crossJoin).
    // Comparable: t_i < t_j with event_i = 1 (the standard strict
    // form); risk ties score ½ on the ×2 lattice. Exact BIGINTs,
    // one closing division.
    "m46_cindex" -> ((s, dir) => {
      val u = graft.io.Tables.eventsUs(s, dir)
        .groupBy("user_id").agg(
          min("ts_us").as("t0"), max("ts_us").as("t1"),
          min(when(col("event_type") === "purchase", col("ts_us")))
            .as("tp"),
          count(lit(1)).as("n_ev"))
        .select(
          ((coalesce(col("tp"), col("t1")) - col("t0")) / lit(DayUs))
            .cast("long").as("day"),
          col("tp").isNotNull.cast("long").as("event"),
          least(expr("n_ev DIV 10"), lit(20L)).as("risk"))
      val cells = u.groupBy("day", "event", "risk")
        .agg(count(lit(1)).as("m"))
      val a = cells.select(col("day").as("da"), col("event").as("ea"),
        col("risk").as("ra"), col("m").as("ma"))
      val b = cells.select(col("day").as("db"), col("risk").as("rb"),
        col("m").as("mb"))
      val pairs = a.crossJoin(broadcast(b))
        .filter(col("ea") === 1L && col("da") < col("db"))
        .select(
          (col("ma") * col("mb")).as("npair"),
          when(col("ra") > col("rb"), col("ma") * col("mb") * 2L)
            .when(col("ra") === col("rb"), col("ma") * col("mb"))
            .otherwise(0L).as("conc2"))
      pairs.agg(sum("npair").as("n_comparable"),
          sum("conc2").as("conc2"))
        .select(col("n_comparable"), col("conc2"),
          (col("conc2").cast("double") /
            (col("n_comparable") * 2L).cast("double")).as("c_index"))
    }),

    // A94: Fleiss' kappa over three deterministic derived raters
    // (value band, value band under the m44 noise schedule, and a
    // second noise seed), 5 ordinal categories. With n = 3 raters
    // the per-item agreement has denominator 6, so
    // κ = (3N·A − 2B) / (18N² − 2B) with A = Σᵢ(Σⱼ n_ij² − 3) and
    // B = Σⱼ(Σᵢ n_ij)² — every operand an exact DECIMAL(38) integer
    // (N² passes BIGINT only through the 100x step), one division.
    "a94_fleiss_kappa" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir).select(
        col("event_id"),
        expr(s"least(${latticeSql("value", 100)} DIV 2000, 4)")
          .as("r1"),
        expr(s"""least(greatest(${latticeSql("value", 100)} +
          (event_id % 7 - 3) * 500, 0), 9999) DIV 2000""").as("r2"),
        expr(s"""least(greatest(${latticeSql("value", 100)} +
          (event_id % 5 - 2) * 700, 0), 9999) DIV 2000""").as("r3"))
      val long = e.select(col("event_id"),
        explode(array(col("r1"), col("r2"), col("r3"))).as("cat"))
      val nij = long.groupBy("event_id", "cat")
        .agg(count(lit(1)).as("nij"))
      val perItem = nij.groupBy("event_id")
        .agg((sum(col("nij") * col("nij")) - 3L).as("pi6"))
      val aTot = perItem.agg(sum("pi6").as("aa"),
        count(lit(1)).as("n"))
      val bTot = nij.groupBy("cat").agg(sum("nij").as("sj"))
        .agg(sum(col("sj").cast("decimal(38,0)") * col("sj")).as("bb"))
      aTot.crossJoin(broadcast(bTot))
        .select(col("n").as("n_items"), lit(3L).as("n_raters"),
          lit(5L).as("k"),
          ((col("n").cast("decimal(38,0)") * col("aa") * 3L -
            col("bb") * 2L).cast("double") /
            (col("n").cast("decimal(38,0)") * col("n") * 18L -
              col("bb") * 2L).cast("double")).as("kappa"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "m46_cindex" ->
      """WITH u AS (SELECT
        |  (coalesce(tp, t1) - t0) // 86400000000 AS day,
        |  CASE WHEN tp IS NULL THEN 0 ELSE 1 END::BIGINT AS event,
        |  least(n_ev // 10, 20)::BIGINT AS risk
        | FROM (SELECT user_id, min(epoch_us(ts)) AS t0,
        |    max(epoch_us(ts)) AS t1,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |      AS tp,
        |    count(*)::BIGINT AS n_ev
        |   FROM events GROUP BY user_id)),
        |cells AS (SELECT day, event, risk, count(*)::BIGINT AS m
        | FROM u GROUP BY day, event, risk),
        |pairs AS (SELECT a.m * b.m AS npair,
        |  CASE WHEN a.risk > b.risk THEN a.m * b.m * 2
        |   WHEN a.risk = b.risk THEN a.m * b.m ELSE 0 END AS conc2
        | FROM cells a, cells b
        | WHERE a.event = 1 AND a.day < b.day)
        |SELECT n_comparable, conc2,
        | conc2::DOUBLE / (n_comparable * 2)::DOUBLE AS c_index
        |FROM (SELECT sum(npair)::BIGINT AS n_comparable,
        |  sum(conc2)::BIGINT AS conc2 FROM pairs)""".stripMargin,

    "a94_fleiss_kappa" ->
      s"""WITH e AS (SELECT event_id,
        |  least(${latticeSql("value", 100)} // 2000, 4) AS r1,
        |  least(greatest(${latticeSql("value", 100)} +
        |    (event_id % 7 - 3) * 500, 0), 9999) // 2000 AS r2,
        |  least(greatest(${latticeSql("value", 100)} +
        |    (event_id % 5 - 2) * 700, 0), 9999) // 2000 AS r3
        | FROM events),
        |lng AS (SELECT event_id, unnest([r1, r2, r3]) AS cat FROM e),
        |nij AS (SELECT event_id, cat, count(*)::BIGINT AS nij
        | FROM lng GROUP BY event_id, cat),
        |per_item AS (SELECT event_id,
        |  (sum(nij * nij) - 3)::BIGINT AS pi6 FROM nij
        | GROUP BY event_id),
        |at AS (SELECT sum(pi6)::BIGINT AS aa, count(*)::BIGINT AS n
        | FROM per_item),
        |bt AS (SELECT sum(sj::DECIMAL(38,0) * sj) AS bb FROM
        |  (SELECT cat, sum(nij)::BIGINT AS sj FROM nij GROUP BY cat))
        |SELECT n AS n_items, 3::BIGINT AS n_raters, 5::BIGINT AS k,
        | (n::DECIMAL(38,0) * aa * 3 - bb * 2)::DOUBLE /
        | (n::DECIMAL(38,0) * n * 18 - bb * 2)::DOUBLE AS kappa
        |FROM at, bt""".stripMargin)
}
