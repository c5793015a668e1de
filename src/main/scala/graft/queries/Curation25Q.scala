package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Graph
import Q._

/** Round-6 batch 25: EWMA control chart, personalized PageRank,
  * Cronbach's alpha, and the LSH S-curve tuning table. Net-new vs
  * the reference (SURVEY.md §2.11). Determinism per ORACLE_NOTES:
  * dyadic EWMA recursions, exact-BIGINT moments with pinned-order
  * double products, explicit multiplication chains instead of pow().
  */
object Curation25Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // W62: EWMA control chart (the SPC monitoring layer on top of
    // w5's recursion): per-user EWMA of cents (α=1/2, dyadic → the
    // recursion is exact and bitwise portable), centered on the
    // exact global mean with time-dependent control limits
    // σ_t = σ·sqrt(α/(2−α)·(1−(1−α)^{2t})). (1−α)^{2t} = 2^{-2t} is
    // computed as an exact integer reciprocal (1/(1<<2t)) while it
    // is representable and exactly 0 beyond (1−2^{-54} rounds to 1),
    // so every emitted double is a pinned chain of correctly-rounded
    // ops — no pow(). Breach flags compare identical doubles.
    "w62_ewma_chart" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          lattice(col("value"), 100).as("c"))
      val stats = e.agg(count(lit(1)).as("n"), sum("c").as("sc"),
        sum(col("c") * col("c")).as("sc2"))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val withEwma = e
        .withColumn("ewma", graft.functions.EwmAvg.ewmAvg(
          col("c").cast("double"), 0.5,
          Seq(col("user_id")), Seq(col("ts_us"), col("event_id"))))
        .withColumn("t", row_number().over(w).cast("long"))
        .crossJoin(broadcast(stats))
      val mu0 = col("sc").cast("double") / col("n").cast("double")
      val varPop = col("sc2").cast("double") / col("n").cast("double") -
        (col("sc").cast("double") / col("n").cast("double")) *
          (col("sc").cast("double") / col("n").cast("double"))
      val decay = when(col("t") <= 26,
        lit(1.0) - lit(1.0) /
          expr("shiftleft(cast(1 as bigint), cast(2*t as int))")
            .cast("double"))
        .otherwise(lit(1.0))
      val sigmaT = sqrt(varPop * decay / lit(3.0))
      withEwma.select(col("event_id"), col("t"), col("ewma"),
        (abs(col("ewma") - mu0) > lit(3.0) * sigmaT).as("breach"))
    }),

    // G10: personalized PageRank — teleport mass restricted to a
    // seed set (every 100th customer), measuring graph proximity to
    // the seeds: the related-entities primitive behind graph
    // expansion/recommendation. Same exact-integer lattice and
    // Pregel shuffles as g_pagerank; oracle is the generated
    // 5-iteration CTE chain with the seed-conditional base.
    "g10_ppr" -> ((s, dir) => {
      val seeds = GraphQ.bipartite(s, dir).select(col("a").as("seed"))
        .filter(col("seed") % 100 === 0).distinct()
      Graph.personalizedPageRank(GraphQ.symEdges(s, dir).toDF("src", "dst"),
        seeds, iters = 5)
    }),

    // A69: Cronbach's alpha — the internal-consistency reliability
    // of the 5 per-type spend "items" across users (the survey/
    // feature-battery QA statistic). Item matrix = conditional cent
    // sums per (user, type); all second moments are exact BIGINTs;
    // variances are pinned-order double chains (the m31 rule) and
    // the item-variance sum folds in a FIXED alphabetical order.
    "a69_cronbach" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), col("event_type"),
          lattice(col("value"), 100).as("c"))
      val items = e.groupBy("user_id").agg(
        types.map(t => sum(when(col("event_type") === t, col("c"))
          .otherwise(0L)).as(s"x_$t")).head,
        types.map(t => sum(when(col("event_type") === t, col("c"))
          .otherwise(0L)).as(s"x_$t")).tail: _*)
        .withColumn("rowsum",
          types.map(t => col(s"x_$t")).reduce(_ + _))
      val aggExprs = count(lit(1)).as("n") +:
        (types.flatMap(t => Seq(sum(col(s"x_$t")).as(s"s_$t"),
          sum(col(s"x_$t") * col(s"x_$t")).as(s"ss_$t"))) :+
          sum("rowsum").as("s_tot") :+
          sum(col("rowsum") * col("rowsum")).as("ss_tot"))
      val agg = items.agg(aggExprs.head, aggExprs.tail: _*)
      def varOf(sc: String, ssc: String) =
        col(ssc).cast("double") / col("n").cast("double") -
          (col(sc).cast("double") / col("n").cast("double")) *
            (col(sc).cast("double") / col("n").cast("double"))
      val sumItemVar = types.map(t => varOf(s"s_$t", s"ss_$t"))
        .reduce(_ + _)
      val varTot = varOf("s_tot", "ss_tot")
      agg.select(col("n"), col("s_tot"), col("ss_tot"),
        (lit(5.0) / lit(4.0) * (lit(1.0) - sumItemVar / varTot))
          .as("cronbach_alpha"))
    }),

    // D: the LSH S-curve tuning table — P(candidate | sim s) =
    // 1 − (1 − s^r)^b for the banding scheme (b=8 bands, r=6 rows,
    // the d_minhash family's shape), tabulated on the s = k/20
    // lattice. THE table an engineer reads to pick (b, r) for a
    // target threshold. Powers are explicit multiplication chains
    // (s²·s → s³, s³·s³ → s⁶; q²,q⁴,q⁸) — pow() is banned from
    // compared outputs; chained products of identical doubles are
    // correctly rounded and engine-exact.
    "d_lsh_scurve" -> ((s, dir) => {
      val base = s.range(1, 20).select(col("id").as("tick"),
        (col("id").cast("double") / lit(20.0)).as("sim"))
      val s2 = col("sim") * col("sim")
      val s6 = (s2 * col("sim")) * (s2 * col("sim"))
      val q = lit(1.0) - s6
      val q2 = q * q
      val q8 = (q2 * q2) * (q2 * q2)
      base.select(col("tick"), col("sim"),
        (lit(1.0) - q8).as("p_candidate"),
        (lit(1.0) - q8 > 0.5).as("above_half"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "w62_ewma_chart" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |st AS (SELECT count(*)::BIGINT AS n, sum(c)::BIGINT AS sc,
        |  sum(c * c)::BIGINT AS sc2 FROM e),
        |m AS (SELECT event_id,
        |  row_number() OVER w AS t,
        |  list_reduce(list(c::DOUBLE) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    (acc, x) -> 0.5 * x + 0.5 * acc) AS ewma
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT event_id, t::BIGINT AS t, ewma,
        | abs(ewma - sc::DOUBLE / n::DOUBLE) > 3.0 * sqrt(
        |  (sc2::DOUBLE / n::DOUBLE
        |    - (sc::DOUBLE / n::DOUBLE) * (sc::DOUBLE / n::DOUBLE))
        |  * (CASE WHEN t <= 26
        |     THEN 1.0 - 1.0 / ((1::BIGINT << (2 * t)::INTEGER)::DOUBLE)
        |     ELSE 1.0 END) / 3.0) AS breach
        |FROM m, st""".stripMargin,

    "g10_ppr" -> {
      s"""WITH ${GraphQ.SymSql},
         |e AS (SELECT a AS src, b AS dst FROM sym),
         |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
         |sd AS (SELECT DISTINCT a AS node FROM pairs WHERE a % 100 = 0),
         |nodes AS (SELECT DISTINCT n.node,
         |  CASE WHEN sd.node IS NOT NULL THEN 1 ELSE 0 END::BIGINT AS is_seed
         | FROM (SELECT DISTINCT src AS node FROM e) n
         | LEFT JOIN sd ON sd.node = n.node),
         |r0 AS (SELECT node, is_seed,
         |  (CASE WHEN is_seed = 1 THEN 1000000 ELSE 0 END)::BIGINT AS r
         | FROM nodes),
         |${GraphQ.rankRounds(5,
             "(CASE WHEN n.is_seed = 1 THEN 150000 ELSE 0 END)",
             Seq("is_seed"))}
         |SELECT node, is_seed, r FROM r5""".stripMargin
    },

    "a69_cronbach" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val itemCols = types.map(t =>
        s"sum(CASE WHEN event_type = '$t' THEN c ELSE 0 END)::BIGINT AS x_$t")
        .mkString(",\n|  ")
      val moms = types.map(t =>
        s"sum(x_$t)::BIGINT AS s_$t, sum(x_$t * x_$t)::BIGINT AS ss_$t")
        .mkString(",\n|  ")
      def v(sc: String, ssc: String) =
        s"($ssc::DOUBLE / n::DOUBLE - ($sc::DOUBLE / n::DOUBLE) * ($sc::DOUBLE / n::DOUBLE))"
      val sumVars = types.map(t => v(s"s_$t", s"ss_$t")).mkString(" + ")
      s"""WITH e AS (SELECT user_id, event_type,
         |  ${latticeSql("value", 100)} AS c FROM events),
         |items AS (SELECT user_id,
         |  $itemCols
         | FROM e GROUP BY user_id),
         |rs AS (SELECT *, ${types.map(t => s"x_$t").mkString(" + ")} AS rowsum
         | FROM items),
         |agg AS (SELECT count(*)::BIGINT AS n,
         |  $moms,
         |  sum(rowsum)::BIGINT AS s_tot,
         |  sum(rowsum * rowsum)::BIGINT AS ss_tot
         | FROM rs)
         |SELECT n, s_tot, ss_tot,
         | 5.0 / 4.0 * (1.0 - ($sumVars) / ${v("s_tot", "ss_tot")})
         |   AS cronbach_alpha
         |FROM agg""".stripMargin
    },

    "d_lsh_scurve" ->
      """WITH t AS (SELECT unnest(range(1, 20)) AS tick),
        |b AS (SELECT tick, tick::DOUBLE / 20.0 AS sim FROM t),
        |c AS (SELECT tick, sim,
        |  ((sim * sim) * sim) * ((sim * sim) * sim) AS s6 FROM b),
        |d AS (SELECT tick, sim, 1.0 - s6 AS q FROM c),
        |f AS (SELECT tick, sim,
        |  ((q * q) * (q * q)) * ((q * q) * (q * q)) AS q8 FROM d)
        |SELECT tick, sim, 1.0 - q8 AS p_candidate,
        | 1.0 - q8 > 0.5 AS above_half
        |FROM f""".stripMargin)
}
