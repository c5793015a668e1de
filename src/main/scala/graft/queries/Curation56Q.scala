package graft.queries

import org.apache.spark.sql.functions._
import Q._
import graft.operators.DistRank

/** Round-9 batch 56: eigenvector centrality, Kuiper's test, and the
  * Shewhart X-bar chart — net-new vs the 431-query surface
  * (grep-checked: no eigenvector/kuiper/xbar):
  *  - g21_eigencentrality: the "influence of your neighbours'
  *    influence" score (PageRank without teleport/degree damping) on
  *    the within-nation co-supply graph, as an exact-integer power
  *    iteration with per-round max-renormalization;
  *  - a104_kuiper: the rotation-invariant KS variant V = D⁺ + D⁻ —
  *    unlike KS it weights both tails equally (the standard drift
  *    test for cyclic/bounded metrics);
  *  - w71_xbar_chart: per-day subgroup means with 3σ control limits
  *    where the out-of-control flag is decided on EXACT cross-
  *    multiplied integers, never on the emitted IEEE ratio.
  *
  * Scale shapes: the power iteration is a DataFrame Pregel loop (one
  * keyed shuffle per round, localCheckpoint against plan growth);
  * Kuiper rides the a35_ks value-lattice cumsum; the chart
  * is one groupBy plus a broadcast scalar frame.
  */
object Curation56Q extends QueryModule {

  private val Scale = 1000000L
  private val Iters = 6
  private val DayUs = 86400000000L

  val queries: Seq[(String, QueryFn)] = Seq(

    // G21: eigenvector centrality by power iteration on the g2
    // co-supply graph. x₀ = Scale; each round sums neighbour scores
    // (exact BIGINT) and renormalizes so max = Scale via the
    // truncating integer division both engines share (all values
    // nonnegative, so DIV == //). 6 rounds, the oracle unrolls the
    // same 6 CTEs — even a non-converged cap matches bit-for-bit.
    "g21_eigencentrality" -> ((s, dir) => {
      val e0 = GraphQ.domesticCoSupply(s, dir)
      val sym = e0.select(col("a").as("src"), col("b").as("dst"))
        .union(e0.select(col("b").as("src"), col("a").as("dst")))
        .localCheckpoint()
      val nodes = sym.select(col("src").as("node")).distinct()
      var r = nodes.withColumn("x", lit(Scale))
      for (_ <- 1 to Iters) {
        val inc = sym.join(r, col("src") === col("node"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("x")).as("xs"))
        val mx = inc.agg(max(col("xs")).as("mx"))
        r = inc.crossJoin(broadcast(mx))
          .select(col("node"), expr(s"xs * ${Scale}L DIV mx").as("x"))
          .localCheckpoint()
      }
      r.orderBy("node")
    }),

    // A104: Kuiper's V between the 'view' and 'click' value
    // distributions — D⁺ and D⁻ are exact cross-multiplied integer
    // maxima over the merged value lattice (the a35_ks machinery run
    // twice, signed), one division at the end.
    "a104_kuiper" -> ((s, dir) => {
      val e = events(s, dir)
        .filter(col("event_type").isin("view", "click"))
        .select(lattice(col("value"), 100).as("c"),
          (col("event_type") === "view").cast("long").as("isA"))
      val g = e.groupBy("c").agg(sum(col("isA")).as("ca"),
        sum(lit(1L) - col("isA")).as("cb"))
      val cum = DistRank.cumsum(g, col("c"), Seq(col("c")),
          Seq((col("ca"), "cumA"), (col("cb"), "cumB")),
          totalsSuffix = Some("_t"))
        .withColumnRenamed("cumA_t", "na").withColumnRenamed("cumB_t", "nb")
      cum.agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          max(col("cumA") * col("nb") - col("cumB") * col("na"))
            .as("dplus_num"),
          max(col("cumB") * col("na") - col("cumA") * col("nb"))
            .as("dminus_num"))
        .select(col("n_a"), col("n_b"), col("dplus_num"),
          col("dminus_num"),
          ((col("dplus_num") + col("dminus_num")).cast("double") /
            (col("n_a") * col("n_b")).cast("double")).as("kuiper_v"))
    }),

    // W71: Shewhart X-bar chart over daily event-value subgroups.
    // Center/limits derive from the global exact moments; the
    // out-of-control flag tests (S_d·N − S·n_d)² > 9·(N·Q − S²)·n_d
    // — the 3σ rule cross-multiplied onto the exact integer lattice,
    // immune to tick-boundary round() divergence. xbar/ucl are
    // emitted as informational IEEE ratios of exact operands.
    "w71_xbar_chart" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir).select(
        expr(s"ts_us DIV ${DayUs}L").as("day"),
        lattice(col("value"), 100).as("c"))
      val days = e.groupBy("day").agg(
        count(lit(1)).as("n"), sum(col("c")).as("s"))
      val tot = e.agg(count(lit(1)).as("nn"), sum(col("c")).as("ss"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("qq"))
      days.crossJoin(broadcast(tot))
        .select(col("day"), col("n"), col("s"),
          (col("s").cast("double") / col("n").cast("double"))
            .as("xbar"),
          (col("ss").cast("double") / col("nn").cast("double"))
            .as("center"),
          ((col("s").cast("decimal(38,0)") * col("nn") -
            col("ss").cast("decimal(38,0)") * col("n")).as("dev")),
          ((col("qq") * col("nn") -
            col("ss").cast("decimal(38,0)") * col("ss")).as("varnum")))
        .select(col("day"), col("n"), col("xbar"), col("center"),
          (col("dev") * col("dev") >
            col("varnum") * lit(9L) * col("n")).cast("long").as("ooc"))
        .orderBy("day")
    }))

  // ---- oracle SQL ----------------------------------------------------

  private def eigIter(r: Int): String =
    s"""i$r AS MATERIALIZED (SELECT dst AS node, sum(x)::BIGINT AS xs
       | FROM sym JOIN x${r - 1} ON src = node GROUP BY dst),
       |m$r AS (SELECT max(xs)::BIGINT AS mx FROM i$r),
       |x$r AS MATERIALIZED (SELECT node, (xs * $Scale // mx)::BIGINT AS x
       | FROM i$r, m$r)""".stripMargin

  val oracle: Seq[(String, String)] = Seq(

    "g21_eigencentrality" ->
      s"""WITH ${GraphQ.domesticCoSupplySql("e")},
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
         | UNION ALL SELECT b, a FROM e),
         |x0 AS (SELECT DISTINCT src AS node, $Scale::BIGINT AS x
         | FROM sym),
         |${(1 to Iters).map(eigIter).mkString(",\n")}
         |SELECT node, x FROM x$Iters ORDER BY node""".stripMargin,

    "a104_kuiper" ->
      s"""WITH e AS (SELECT ${latticeSql("value", 100)} AS c,
        |  CASE WHEN event_type = 'view' THEN 1 ELSE 0 END::BIGINT
        |    AS isA
        | FROM events WHERE event_type IN ('view', 'click')),
        |g AS (SELECT c, sum(isA)::BIGINT AS ca,
        |  sum(1 - isA)::BIGINT AS cb FROM e GROUP BY c),
        |cum AS (SELECT c,
        |  sum(ca) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW)::BIGINT AS cumA,
        |  sum(cb) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW)::BIGINT AS cumB,
        |  sum(ca) OVER ()::BIGINT AS na, sum(cb) OVER ()::BIGINT AS nb
        | FROM g)
        |SELECT max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
        | max(cumA * nb - cumB * na)::BIGINT AS dplus_num,
        | max(cumB * na - cumA * nb)::BIGINT AS dminus_num,
        | (max(cumA * nb - cumB * na) + max(cumB * na - cumA * nb))::DOUBLE
        |   / (max(na) * max(nb))::DOUBLE AS kuiper_v
        |FROM cum""".stripMargin,

    "w71_xbar_chart" ->
      s"""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |days AS (SELECT day, count(*)::BIGINT AS n, sum(c)::BIGINT AS s
        | FROM e GROUP BY day),
        |tot AS (SELECT count(*)::BIGINT AS nn, sum(c)::BIGINT AS ss,
        |  sum(c::DECIMAL(38,0) * c) AS qq FROM e)
        |SELECT day, n,
        | s::DOUBLE / n::DOUBLE AS xbar,
        | ss::DOUBLE / nn::DOUBLE AS center,
        | (CASE WHEN (s::DECIMAL(38,0) * nn - ss::DECIMAL(38,0) * n) *
        |    (s::DECIMAL(38,0) * nn - ss::DECIMAL(38,0) * n) >
        |    (qq * nn - ss::DECIMAL(38,0) * ss) * 9 * n
        |   THEN 1 ELSE 0 END)::BIGINT AS ooc
        |FROM days, tot ORDER BY day""".stripMargin)
}
