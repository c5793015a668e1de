package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-8 batch 48: graph bipartiteness audit (odd-cycle detection
  * by BFS-layer parity — the "is this interaction graph 2-colorable"
  * screen that decides whether bipartite-only algorithms apply), and
  * the dynamic partition-overwrite write path (replace ONLY the
  * partitions present in the incoming batch — the idempotent
  * backfill primitive; a static overwrite would wipe the table).
  * Net-new vs the 411-query surface (grep-checked).
  */
object Curation48Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // G19: bipartiteness of the g2 co-supply graph (same-nation
    // suppliers co-appearing in an order — triangles exist, so some
    // components MUST fail). Parity comes from the shortest BFS
    // depth, which is ORDER-INDEPENDENT (unlike a BFS tree):
    // synchronous distance relaxation from each component's min-id
    // root, 12 capped rounds (the cap is mirrored in the oracle and
    // reported in-band via n_unreached — the j22 bounded-census
    // rule). A conflict edge joins two same-parity nodes; a
    // component is bipartite iff it has none and everyone was
    // reached. Per round: one frontier join + min-agg with
    // localCheckpoint lineage truncation — the g4_sssp playbook.
    "g19_bipartite" -> ((s, dir) => {
      val edges = GraphQ.domesticCoSupply(s, dir).localCheckpoint()
      val comp = graft.operators.Graph.connectedComponents(edges)
        .distinct()
      val sym = edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
      var dist = comp.select(col("node"),
          when(col("node") === col("component"), 0L).as("d"))
        .localCheckpoint()
      // early exit (round 11): in unweighted BFS a node's first
      // assignment IS its minimum, so once every node is labeled the
      // remaining rounds are no-ops — stop instead of paying the
      // fixed 12 (3 shuffles each). The unlabeled count is one tiny
      // job over the checkpointed frame; output rows are identical,
      // and the 12-round cap stays as the worst-case bound.
      var r = 0
      var unlabeled = -1L
      while (r < 12 && unlabeled != 0L) {
        val relaxed = dist.join(sym, col("node") === col("u"))
          .filter(col("d").isNotNull)
          .select(col("v").as("node"), (col("d") + 1L).as("nd"))
          .groupBy("node").agg(min("nd").as("nd"))
        dist = dist.join(relaxed, Seq("node"), "left")
          .select(col("node"),
            least(coalesce(col("d"), col("nd")),
              coalesce(col("nd"), col("d"))).as("d"))
          .localCheckpoint()
        unlabeled = dist.filter(col("d").isNull).count()
        r += 1
      }
      val labeled = comp.join(dist, "node")
        .select(col("node"), col("component"), col("d"))
      val conf = labeled.select(col("node").as("a"),
          col("component"), pmod(col("d"), lit(2L)).as("pa"))
        .join(edges, "a")
        .join(labeled.select(col("node").as("b"),
          pmod(col("d"), lit(2L)).as("pb")), "b")
        .filter(col("pa").isNotNull && col("pb").isNotNull &&
          col("pa") === col("pb"))
        .groupBy("component").agg(count(lit(1)).as("n_conflicts"))
      val sizes = labeled.groupBy("component").agg(
        count(lit(1)).as("n_nodes"),
        sum(col("d").isNull.cast("long")).as("n_unreached"))
      val ecnt = labeled.select(col("node").as("a"), col("component"))
        .join(edges, "a")
        .groupBy("component").agg(count(lit(1)).as("n_edges"))
      sizes.join(ecnt, Seq("component"), "left")
        .join(conf, Seq("component"), "left")
        .select(col("component"), col("n_nodes"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"),
          coalesce(col("n_conflicts"), lit(0L)).as("n_conflicts"),
          col("n_unreached"),
          (coalesce(col("n_conflicts"), lit(0L)) === 0L &&
            col("n_unreached") === 0L).cast("long").as("is_bipartite"))
    }),

    // S20: dynamic partition overwrite — write orders partitioned by
    // an order-key bucket, then overwrite ONLY bucket 3 with a
    // restated (doubled-cents) batch in partitionOverwriteMode=
    // dynamic. The readback proves the other six partitions
    // survived untouched — the difference between an idempotent
    // partition backfill and wiping the table (static mode's
    // behavior). The oracle states the expected end state from the
    // source alone.
    "s20_dynamic_overwrite" -> ((s, dir) => {
      val base = Q.scratchDir("graft_dynow")
      val src = orders(s, dir).select(col("o_orderkey"),
        lattice(col("o_totalprice"), 100).as("cents"),
        pmod(col("o_orderkey"), lit(7L)).as("part"))
      src.write.mode("overwrite").partitionBy("part").parquet(base)
      src.filter(col("part") === 3L)
        .withColumn("cents", col("cents") * 2L)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part").parquet(base)
      s.read.parquet(base)
        .groupBy("part")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(col("part").cast("long").as("part"), col("n"),
          col("sum_cents"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "g19_bipartite" ->
      s"""WITH RECURSIVE ${GraphQ.domesticCoSupplySql("edges")},
        |sym AS (SELECT a AS u, b AS v FROM edges
        | UNION ALL SELECT b, a FROM edges),
        |nodes AS (SELECT DISTINCT u AS node FROM sym),
        |cc AS (SELECT node, node AS lbl FROM nodes
        | UNION SELECT sym.v, least(cc.lbl, sym.v)
        |  FROM cc JOIN sym ON cc.node = sym.u),
        |comp AS (SELECT node, min(lbl)::BIGINT AS component FROM cc
        | GROUP BY node),
        |reach AS (SELECT node, 0::BIGINT AS d FROM comp
        |  WHERE node = component
        | UNION SELECT sym.v, d + 1 FROM reach JOIN sym
        |  ON reach.node = sym.u WHERE d < 12),
        |dist AS (SELECT node, min(d)::BIGINT AS d FROM reach
        | GROUP BY node),
        |lab AS (SELECT comp.node, component, dist.d
        | FROM comp LEFT JOIN dist ON comp.node = dist.node),
        |conf AS (SELECT la.component,
        |  count(*)::BIGINT AS n_conflicts
        | FROM edges JOIN lab la ON la.node = edges.a
        |  JOIN lab lb ON lb.node = edges.b
        | WHERE la.d IS NOT NULL AND lb.d IS NOT NULL
        |  AND la.d % 2 = lb.d % 2
        | GROUP BY la.component),
        |sizes AS (SELECT component, count(*)::BIGINT AS n_nodes,
        |  sum(CASE WHEN d IS NULL THEN 1 ELSE 0 END)::BIGINT
        |   AS n_unreached
        | FROM lab GROUP BY component),
        |ec AS (SELECT la.component, count(*)::BIGINT AS n_edges
        | FROM edges JOIN lab la ON la.node = edges.a
        | GROUP BY la.component)
        |SELECT sizes.component, n_nodes,
        | coalesce(n_edges, 0)::BIGINT AS n_edges,
        | coalesce(n_conflicts, 0)::BIGINT AS n_conflicts, n_unreached,
        | CASE WHEN coalesce(n_conflicts, 0) = 0 AND n_unreached = 0
        |  THEN 1 ELSE 0 END::BIGINT AS is_bipartite
        |FROM sizes LEFT JOIN ec USING (component)
        | LEFT JOIN conf USING (component)""".stripMargin,

    "s20_dynamic_overwrite" ->
      s"""SELECT o_orderkey % 7 AS part, count(*)::BIGINT AS n,
        | sum(${latticeSql("o_totalprice", 100)} *
        |   CASE WHEN o_orderkey % 7 = 3 THEN 2 ELSE 1 END)::BIGINT
        |  AS sum_cents
        |FROM orders GROUP BY 1""".stripMargin)
}
