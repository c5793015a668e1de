package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.Text.P
import Q._

/** Round-7 batch 29: label-propagation communities, deterministic
  * random-walk corpus generation (DeepWalk-style), and a Merkle-tree
  * table fingerprint. Net-new vs the reference (SURVEY.md §2.11) and
  * vs the existing graph/maintenance families (no community
  * detection, walk sampling, or hierarchical table digest anywhere
  * in the surface). All integer-decided.
  */
object Curation29Q extends QueryModule {

  /** Label packing base for the LPA argmax: (count, smallest-label)
    * as one BIGINT max — count * 2^32 + (2^32-1-label). */
  private val Pack = 1L << 32

  /** Walk-step packing base: (draw, smallest-neighbor) as one BIGINT
    * min — draw * 2^31 + neighbor. Node ids (customer ids and
    * SuppOffset-shifted supplier ids) stay under 2^31 at every
    * tested SF; a 100 TB deployment with wider ids bumps this to the
    * next power of two (the draw still fits: P < 2^30). */
  private val WalkB = 1L << 31

  /** 3 synchronous LPA rounds over a symmetric edge list `sym`
    * (a, b); returns (node, lbl). Shared with g13_modularity.
    *
    * Callers cache `sym` REPARTITIONED BY b (see g11): the per-round
    * edge–label join then reuses the cached hash(b) layout, so the
    * ~|E| edge side never re-exchanges, and the SHUFFLE_HASH hint on
    * the label side (|V| rows, the small side by the |E|/|V| edge
    * ratio) replaces the sort-merge join that re-SORTED all edges
    * every round — the sort was both ~half the round's wall and the
    * memory spike at the 100x step (run-2 OOM, round 9). Per round:
    * one |V| label shuffle + one (node,lbl) count exchange with
    * map-side combine — the Pregel minimum. */
  private[queries] def lpa3(sym: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // Round 1 specialization: initial labels are the node ids and
    // `sym` is a distinct edge SET, so every neighbor label occurs
    // exactly once — the most-frequent-then-smallest rule degenerates
    // to "smallest neighbor id". One keyed min over the edges, no
    // join, no count exchange; identical to the generic round by the
    // packed order (all c = 1 → max picks Pack−1−lbl max = lbl min).
    var lbl = sym.groupBy(col("a").as("node")).agg(min(col("b")).as("lbl"))
    for (_ <- 2 to 3) {
      // the (node, lbl) message rides the count exchange PACKED into
      // one 62-bit long (both are node ids < 2^31, the WalkB id
      // contract above) — one 8-byte key instead of two, ~1/3 fewer
      // shuffle bytes on the round's dominant exchange
      lbl = sym.join(lbl.withColumnRenamed("node", "b").hint("SHUFFLE_HASH"),
          "b")
        .select((col("a") * WalkB + col("lbl")).as("nl"))
        .groupBy("nl").agg(count(lit(1)).as("c"))
        .select(shiftright(col("nl"), 31).as("node"),
          col("nl").bitwiseAND(lit(WalkB - 1)).as("lbl"), col("c"))
        .groupBy("node")
        .agg(max(col("c") * Pack + (lit(Pack - 1) - col("lbl"))).as("pk"))
        .select(col("node"),
          (lit(Pack - 1) - pmod(col("pk"), lit(Pack))).as("lbl"))
    }
    lbl
  }

  val queries: Seq[(String, QueryFn)] = Seq(

    // G11: label-propagation communities (Raghavan et al. 2007) on
    // the customer-supplier bipartite graph — the near-linear-time
    // community detector. SYNCHRONOUS variant, 3 FIXED rounds: every
    // node adopts the most frequent neighbor label, ties to the
    // smallest label — one packed-BIGINT max per node, no window.
    // (On bipartite graphs synchronous LPA can oscillate; the fixed
    // round count keeps it deterministic and oracle-matched — the
    // async/semi-synchronous variant is the convergence fix at
    // scale.) Pregel shape: per round one edge-label shuffle join +
    // two keyed aggs; no all-pairs anywhere.
    "g11_labelprop" -> ((s, dir) => {
      // cache the edges ALREADY hash-partitioned on the join key: all
      // 3 rounds (and the size join) reuse the layout — the |E| side
      // exchanges once total, not once per round
      val sym = GraphQ.symEdges(s, dir).repartition(col("b")).cache()
      // cached: the size aggregation AND the final join both read the
      // 3-round result — uncached, the whole fixed-point chain ran
      // TWICE (no cross-join-side subtree reuse; the g13 precedent)
      val lbl = lpa3(sym).cache()
      val sizes = lbl.groupBy("lbl").agg(count(lit(1)).as("community_size"))
      lbl.join(sizes, "lbl")
        .select(col("node"), col("lbl").as("community"),
          col("community_size"))
    }),

    // G12: deterministic random-walk corpus (DeepWalk / node2vec
    // p=q=1 sampling, Perozzi et al. 2014): a 3-step walk from every
    // 10th node, where step r leaves node `cur` for the neighbor
    // minimizing an integer hash draw of (start, r, neighbor) — a
    // pseudo-random but REPRODUCIBLE choice (mix of three co-prime
    // multipliers mod P, mirrored verbatim in SQL; DuckDB has no
    // xxhash64, the engine-portable lattice hash is the repo rule).
    // The walk table is what a skip-gram embedding trains on. Scale
    // shape: per step one shuffle join walks->edges + one argmin
    // keyed agg — node2vec's sampling pass as 3 Pregel rounds, never
    // materializing adjacency in one task.
    "g12_randomwalk" -> ((s, dir) => {
      // cache hash-partitioned on the per-step join key (a → cur;
      // rename preserves the layout): the 3 step joins reuse the
      // cached exchange — the g11 pattern (round 11)
      val sym = GraphQ.symEdges(s, dir).repartition(col("a")).cache()
      var walk = sym.select(col("a").as("start")).distinct()
        .filter(pmod(col("start"), lit(10L)) === 0)
        .select(col("start"), col("start").as("cur"))
      for (r <- 1 to 3) {
        val nxt = walk.join(sym.withColumnRenamed("a", "cur"), "cur")
          .select(col("start"),
            (pmod(col("start") * 2654435761L + lit(r.toLong) * 97L
              + col("b") * 40503L, lit(P)) * WalkB + col("b")).as("pk"))
          .groupBy("start").agg(min("pk").as("pk"))
          .select(col("start"), pmod(col("pk"), lit(WalkB)).as(s"n$r"))
        walk = walk.drop("cur").join(nxt, "start")
          .withColumn("cur", col(s"n$r"))
      }
      walk.select(col("start"), col("n1"), col("n2"), col("n3"))
    }),

    // O26: Merkle-style hierarchical table fingerprint — the
    // replica-diff / integrity primitive behind "which of my 10^5
    // partitions diverged" at 100 TB: leaf digests are COMMUTATIVE
    // sums of lattice row-hashes per bucket (order- and
    // partitioning-independent, incrementally mergeable — a delta
    // updates one leaf and log-many parents), upper levels weight
    // each child digest by its position so sibling swaps change the
    // parent. Comparing two replicas descends the tree: root match
    // = done in O(1), else follow mismatched children. One full
    // scan for the leaves; upper levels are 16-row and 1-row aggs.
    "o26_merkle" -> ((s, dir) => {
      val rows = lineitem(s, dir).select(
        pmod(col("l_orderkey"), lit(256L)).as("bucket"),
        pmod(col("l_orderkey") * 2654435761L + col("l_linenumber") * 97L
          + lattice(col("l_extendedprice"), 100) * 40503L,
          lit(P)).as("rh"))
      val leaves = rows.groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"), pmod(sum("rh"), lit(P)).as("digest"))
      val mid = leaves
        .groupBy(expr("bucket DIV 16").as("node"))
        .agg(sum("n_rows").as("n_rows"),
          pmod(sum(col("digest") * (col("bucket") + 1)), lit(P))
            .as("digest"))
      val root = mid
        .select(col("n_rows"), (col("digest") * (col("node") + 1)).as("wd"))
        .agg(sum("n_rows").as("n_rows"),
          pmod(sum("wd"), lit(P)).as("digest"))
      leaves.select(lit(0L).as("level"), col("bucket").as("node"),
          col("n_rows"), col("digest"))
        .unionByName(mid.select(lit(1L).as("level"), col("node"),
          col("n_rows"), col("digest")))
        .unionByName(root.select(lit(2L).as("level"), lit(0L).as("node"),
          col("n_rows"), col("digest")))
    }))

  // ---- oracle SQL ----------------------------------------------------

  private[queries] def lpaRound(r: Int): String =
    s"""l$r AS (SELECT node,
       | (${Pack - 1} - (max(c * ${Pack}::BIGINT
       |    + (${Pack - 1} - lbl)) % ${Pack}::BIGINT))::BIGINT AS lbl
       | FROM (SELECT s.a AS node, l.lbl, count(*)::BIGINT AS c
       |   FROM sym s JOIN l${r - 1} l ON s.b = l.node GROUP BY 1, 2)
       | GROUP BY node)""".stripMargin

  /** One walk round: s$r picks the argmin-draw neighbor of the
    * previous cursor; w$r carries (start, n1..n$r) and re-aims `cur`
    * at the new step. */
  private def walkRound(r: Int): String = {
    val prev = if (r == 1) "w0" else s"w${r - 1}"
    val carried = (1 until r).map(i => s"$prev.n$i, ").mkString
    s"""s$r AS (SELECT start,
       | (min(((start * 2654435761 + $r * 97 + b * 40503) % $P)
       |    * ${WalkB}::BIGINT + b) % ${WalkB}::BIGINT)::BIGINT AS n$r
       | FROM $prev JOIN sym ON sym.a = $prev.cur GROUP BY start),
       |w$r AS (SELECT $prev.start, ${carried}n$r AS cur, n$r
       | FROM $prev JOIN s$r USING (start))""".stripMargin
  }

  val oracle: Seq[(String, String)] = Seq(

    "g11_labelprop" ->
      s"""WITH ${GraphQ.SymSql},
         |l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM sym),
         |${lpaRound(1)},
         |${lpaRound(2)},
         |${lpaRound(3)},
         |sz AS (SELECT lbl, count(*)::BIGINT AS community_size
         | FROM l3 GROUP BY lbl)
         |SELECT node, l3.lbl AS community, community_size
         |FROM l3 JOIN sz USING (lbl)""".stripMargin,

    "g12_randomwalk" ->
      s"""WITH ${GraphQ.SymSql},
         |w0 AS (SELECT DISTINCT a AS start, a AS cur FROM sym
         | WHERE a % 10 = 0),
         |${walkRound(1)},
         |${walkRound(2)},
         |${walkRound(3)}
         |SELECT start, n1, n2, n3 FROM w3""".stripMargin,

    "o26_merkle" ->
      s"""WITH r AS (SELECT l_orderkey % 256 AS bucket,
         |  (l_orderkey * 2654435761 + l_linenumber * 97
         |   + ${latticeSql("l_extendedprice", 100)} * 40503) % $P
         |    AS rh
         | FROM lineitem),
         |leaves AS (SELECT bucket, count(*)::BIGINT AS n_rows,
         |  (sum(rh)::BIGINT % $P)::BIGINT AS digest
         | FROM r GROUP BY bucket),
         |mid AS (SELECT bucket // 16 AS node,
         |  sum(n_rows)::BIGINT AS n_rows,
         |  (sum(digest * (bucket + 1))::BIGINT % $P)::BIGINT AS digest
         | FROM leaves GROUP BY 1),
         |root AS (SELECT 0::BIGINT AS node, sum(n_rows)::BIGINT AS n_rows,
         |  (sum(digest * (node + 1))::BIGINT % $P)::BIGINT AS digest
         | FROM mid)
         |SELECT 0::BIGINT AS level, bucket::BIGINT AS node, n_rows, digest
         | FROM leaves
         |UNION ALL SELECT 1::BIGINT, node::BIGINT, n_rows, digest FROM mid
         |UNION ALL SELECT 2::BIGINT, node, n_rows, digest FROM root"""
        .stripMargin)
}
