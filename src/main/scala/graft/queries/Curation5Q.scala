package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-5 batch 5: experimentation and graph-quality operators —
  * CUPED variance-reduced A/B readout, community conductance, and
  * soft-dedup weighting. Net-new vs the reference (SURVEY.md §2.11).
  * All follow ORACLE_NOTES rule 1: every aggregate is an exact BIGINT
  * sum on the cent lattice; emitted floats are fixed IEEE chains over
  * exact integers mirrored token-for-token in the oracle.
  */
object Curation5Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // CUPED variance-reduced experiment readout (the industry-standard
    // pre-period adjustment): per user, pre/post cent sums split at
    // the global time midpoint (one min/max aggregate, broadcast);
    // arm = user parity. Per arm, θ = cov(pre,post)/var(pre) from five
    // exact BIGINT user-level sums, and the adjusted mean
    // post̄ − θ·(prē − prē_all) is a fixed chain over exact integers.
    // Shuffles: one user groupBy + two tiny arm aggregates.
    "a48_cuped" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"),
          lattice(col("value"), 100).as("c"))
      val bounds = e.agg(min("ts_us").as("lo"), max("ts_us").as("hi"))
      val users = e.crossJoin(broadcast(bounds))
        .withColumn("pre_part",
          col("ts_us") * 2 < col("lo") + col("hi"))
        .groupBy("user_id").agg(
          sum(when(col("pre_part"), col("c")).otherwise(0L)).as("x"),
          sum(when(!col("pre_part"), col("c")).otherwise(0L)).as("y"))
        .withColumn("arm", (col("user_id") % 2).cast("long"))
      val overall = users.agg(sum("x").as("sxa"), count(lit(1)).as("na"))
      val arms = users.groupBy("arm").agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val den = col("n") * col("sxx") - col("sx") * col("sx")
      val theta = num.cast("double") / den.cast("double")
      val preAll = col("sxa").cast("double") / col("na")
      arms.crossJoin(broadcast(overall)).select(
        col("arm"), col("n"), col("sx"), col("sy"),
        when(den > 0, theta).as("theta"),
        when(den > 0,
          col("sy").cast("double") / col("n") -
            theta * (col("sx").cast("double") / col("n") - preAll))
          .as("adj_mean_cents"))
    }),

    // Community conductance on the customer–supplier graph with
    // nation communities: per nation, volume = edges leaving its
    // customers, cut = those landing on a supplier of ANOTHER nation.
    // The standard partition-quality metric (high conductance = the
    // community is not a community). Exact integer counts, one
    // division; two broadcast dimension joins + one groupBy.
    "g8_conductance" -> ((s, dir) => {
      val edges = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
      val cn = customer(s, dir).select(col("c_custkey").as("cust"),
        col("c_nationkey").as("cnat"))
      val sn = supplier(s, dir).select(col("s_suppkey").as("supp"),
        col("s_nationkey").as("snat"))
      edges.join(broadcast(cn), "cust").join(broadcast(sn), "supp")
        .groupBy(col("cnat").as("nation"))
        .agg(count(lit(1)).as("vol"),
          sum(when(col("cnat") =!= col("snat"), 1L).otherwise(0L)).as("cut"))
        .select(col("nation"), col("vol"), col("cut"),
          (col("cut").cast("double") / col("vol")).as("conductance"))
    }),

    // Soft dedup: instead of dropping duplicates, weight each doc by
    // the inverse of its exact-duplicate cluster size (the SoftDeDup
    // downweighting recipe) — preserves corpus diversity while
    // removing duplication bias. Weight is ONE division of exact
    // integers; the ppm-scaled integer twin rides along for
    // float-free downstream thresholds.
    "d_softdedup" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
      documents(s, dir)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .withColumn("cluster_sz", count(lit(1)).over(w))
        .select(col("doc_id"), col("cluster_sz"),
          (lit(1.0) / col("cluster_sz")).as("weight"),
          expr("1000000 DIV cluster_sz").as("weight_ppm"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a48_cuped" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |b AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM e),
        |u AS (SELECT user_id,
        |  sum(CASE WHEN ts_us * 2 < lo + hi THEN c ELSE 0 END)::BIGINT AS x,
        |  sum(CASE WHEN NOT (ts_us * 2 < lo + hi) THEN c ELSE 0 END)::BIGINT
        |    AS y,
        |  user_id % 2 AS arm
        | FROM e, b GROUP BY user_id),
        |o AS (SELECT sum(x)::BIGINT AS sxa, count(*)::BIGINT AS na FROM u),
        |a AS (SELECT arm, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |  sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
        |  sum(x * y)::BIGINT AS sxy
        | FROM u GROUP BY arm)
        |SELECT arm, n, sx, sy,
        | CASE WHEN n * sxx - sx * sx > 0 THEN
        |   (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE
        | END AS theta,
        | CASE WHEN n * sxx - sx * sx > 0 THEN
        |   sy::DOUBLE / n - ((n * sxy - sx * sy)::DOUBLE
        |     / (n * sxx - sx * sx)::DOUBLE)
        |     * (sx::DOUBLE / n - sxa::DOUBLE / na)
        | END AS adj_mean_cents
        |FROM a, o""".stripMargin,

    "g8_conductance" ->
      """WITH edges AS (SELECT DISTINCT o_custkey AS cust,
        |  l_suppkey AS supp
        | FROM lineitem JOIN orders ON o_orderkey = l_orderkey)
        |SELECT c.c_nationkey AS nation, count(*) AS vol,
        | sum(CASE WHEN c.c_nationkey != s.s_nationkey THEN 1 ELSE 0 END)
        |   ::BIGINT AS cut,
        | sum(CASE WHEN c.c_nationkey != s.s_nationkey THEN 1 ELSE 0 END)
        |   ::DOUBLE / count(*) AS conductance
        |FROM edges e JOIN customer c ON c.c_custkey = e.cust
        |JOIN supplier s ON s.s_suppkey = e.supp
        |GROUP BY 1""".stripMargin,

    "d_softdedup" ->
      """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
        |c AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS cluster_sz
        | FROM h)
        |SELECT doc_id, cluster_sz,
        | 1.0 / cluster_sz AS weight,
        | 1000000 // cluster_sz AS weight_ppm
        |FROM c""".stripMargin)
}
