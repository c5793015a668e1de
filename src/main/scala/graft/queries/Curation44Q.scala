package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-8 batch 44: Cochran's Q (the k-treatment binary
  * repeated-measures test — a32_kappa's k-way successor, a35_ab's
  * within-subject counterpart), the stationary distribution of the
  * behavioral Markov chain (the long-run state mix w32_transitions's
  * one-step matrix only hints at), and a parquet bloom-filter
  * round-trip (the 100 TB point-lookup pruning knob). Net-new vs the
  * 400-query surface (grep-checked).
  */
object Curation44Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // A89: Cochran's Q — "does purchase propensity differ by weekday
    // WITHIN users?" x_{ij} = user i purchased on dow j (0/1);
    // discriminating blocks only (all-0/all-1 rows carry no
    // information and the standard statistic excludes them). Q =
    // (k−1)(k·ΣC_j² − N²)/(k·N − ΣR_i²) is a SINGLE division of
    // exact BIGINTs — no float path at all before the raw quotient;
    // the χ²₆ gate is integer-decided on the pinned critical value.
    "a89_cochran_q" -> ((s, dir) => {
      val k = 7L
      val x = graft.io.Tables.eventsUs(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          pmod(expr("ts_us DIV 86400000000"), lit(k)).cast("long")
            .as("dow"))
        .distinct()
      val r = x.groupBy("user_id").agg(count(lit(1)).as("ri"))
        .filter(col("ri") > 0 && col("ri") < k)
      val kept = x.join(r, "user_id")
      val cj = kept.groupBy("dow").agg(count(lit(1)).as("c"))
      val sums = cj.agg(sum(col("c") * col("c")).as("sc2"),
        sum(col("c")).as("n"))
      val rsum = r.agg(sum(col("ri") * col("ri")).as("sr2"),
        count(lit(1)).as("n_blocks"))
      sums.crossJoin(broadcast(rsum))
        .select(col("n_blocks"), lit(k).as("k"),
          ((lit(k - 1) * (lit(k) * col("sc2") - col("n") * col("n")))
            .cast("double") /
            (lit(k) * col("n") - col("sr2")).cast("double")).as("q"))
        .select(col("n_blocks"), col("k"), col("q"),
          (col("q") > 12.591587).cast("long").as("significant"))
    }),

    // W68: stationary distribution of the per-user event-type Markov
    // chain — 20 synchronous power-iteration steps from a point mass
    // on the first state. The transition counts distribute (the w32
    // window + pair aggregate); the k×k matrix itself is bounded
    // cluster METADATA (k ≤ 5 event types), fetched like DistRank's
    // bucket offsets, and the iteration folds rows in sorted-state
    // order with a scalar accumulator — the identical pinned
    // (p·c)/r then add sequence the oracle's recursive CTE folds, so
    // the 20-step result is bitwise portable.
    "w68_markov_stationary" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val t = graft.io.Tables.eventsUs(s, dir)
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("f"), col("to_type").as("g"))
        .agg(count(lit(1)).as("n"))
      // shared pinned fold — graft.operators.MarkovChain (a95 reads
      // the same matrix; one implementation, one fold order)
      val tr = graft.operators.MarkovChain.fromCounts(t)
      val p = graft.operators.MarkovChain.stationary(tr, 20)
      import s.implicits._
      tr.states.zipWithIndex.map { case (st, i) => (st, p(i), 20L) }
        .toSeq.toDF("state", "pi", "n_iter")
    }),

    // S19: parquet bloom-filter round-trip — write orders with a
    // bloom filter on the customer key, read back a single-customer
    // point lookup. At 100 TB the bloom page lets the reader skip
    // row groups that min/max zonemaps cannot (hash-scattered keys
    // overlap every range), the difference between a targeted read
    // and a full scan. Value equality vs the source proves the
    // filtered path lossless.
    "s19_parquet_bloom" -> ((s, dir) => {
      val base = Q.scratchDir("graft_bloom")
      orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          lattice(col("o_totalprice"), 100).as("cents"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "100000")
        .parquet(base)
      s.read.parquet(base)
        .filter(col("o_custkey") === 7L)
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_orderkey"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a89_cochran_q" ->
      """WITH x AS (SELECT DISTINCT user_id,
        |  (epoch_us(ts) // 86400000000) % 7 AS dow
        | FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, count(*)::BIGINT AS ri FROM x
        | GROUP BY user_id HAVING count(*) > 0 AND count(*) < 7),
        |kept AS (SELECT x.* FROM x JOIN r USING (user_id)),
        |cj AS (SELECT dow, count(*)::BIGINT AS c FROM kept GROUP BY dow),
        |s AS (SELECT sum(c * c)::BIGINT AS sc2, sum(c)::BIGINT AS n
        | FROM cj),
        |rr AS (SELECT sum(ri * ri)::BIGINT AS sr2,
        |  count(*)::BIGINT AS n_blocks FROM r)
        |SELECT n_blocks, 7::BIGINT AS k, q,
        | CASE WHEN q > 12.591587 THEN 1 ELSE 0 END::BIGINT AS significant
        |FROM (SELECT n_blocks,
        |  (6 * (7 * sc2 - n * n))::DOUBLE /
        |  (7 * n - sr2)::DOUBLE AS q
        | FROM s, rr)""".stripMargin,

    "w68_markov_stationary" ->
      """WITH RECURSIVE e AS (SELECT user_id, event_type,
        |  epoch_us(ts) AS ts_us, event_id FROM events),
        |seq AS (SELECT user_id, event_type AS f,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS g
        | FROM e),
        |t AS (SELECT f, g, count(*)::BIGINT AS n FROM seq
        | WHERE g IS NOT NULL GROUP BY f, g),
        |states AS (SELECT list(DISTINCT st ORDER BY st) AS sl,
        |  count(DISTINCT st)::BIGINT AS k
        | FROM (SELECT f AS st FROM t UNION SELECT g FROM t)),
        |idx AS (SELECT generate_subscripts(sl, 1) - 1 AS i FROM states),
        |dense AS (SELECT ia.i AS i, ib.i AS j,
        |  coalesce((SELECT n FROM t
        |    WHERE t.f = sl[ia.i + 1] AND t.g = sl[ib.i + 1]), 0)::DOUBLE
        |    AS c
        | FROM idx ia, idx ib, states),
        |cm AS (SELECT list(c ORDER BY i, j) AS cl FROM dense),
        |rsl AS (SELECT list(rs ORDER BY i) AS rl FROM
        |  (SELECT i, sum(c) AS rs FROM dense GROUP BY i)),
        |it AS (
        | SELECT 0 AS step,
        |  list_transform(range((SELECT k FROM states)),
        |    i -> CASE WHEN i = 0 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END)
        |    AS p
        | UNION ALL
        | SELECT step + 1,
        |  list_transform(range(k),
        |    j -> list_reduce(list_prepend(0.0, list_transform(range(k),
        |      i -> CASE WHEN rl[i + 1] > 0
        |        THEN p[i + 1] * cl[i * k + j + 1] / rl[i + 1]
        |        WHEN i = j THEN p[i + 1] ELSE 0.0 END)),
        |      (a, b) -> a + b))
        | FROM it, states, cm, rsl WHERE step < 20)
        |SELECT sl[i + 1] AS state, p[i + 1] AS pi, 20::BIGINT AS n_iter
        |FROM (SELECT p FROM it WHERE step = 20), states,
        | (SELECT DISTINCT i FROM dense) d""".stripMargin,

    "s19_parquet_bloom" ->
      s"""SELECT count(*)::BIGINT AS n_orders,
        | sum(${latticeSql("o_totalprice", 100)})::BIGINT
        |   AS sum_cents,
        | min(o_orderkey) AS min_orderkey
        |FROM orders WHERE o_custkey = 7""".stripMargin)
}
