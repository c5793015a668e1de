package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 72: multivariate diagnostics and a graph-extent
  * probe — pseudo-diameter by the classic double-sweep BFS (g17's
  * harmonic centrality averages distances; the double sweep finds the
  * graph's EXTENT, the standard cheap diameter lower bound), variance
  * inflation factors (the multicollinearity screen a18's correlation
  * matrix feeds but never inverts), and Mahalanobis outliers (a25
  * flags per-COLUMN 3σ outliers; Mahalanobis catches points that are
  * normal per-column but IMPOSSIBLE jointly). Net-new vs the
  * 469-query surface (grep-checked: no diameter/vif/mahalanobis).
  *
  * Portability: BFS distances are integer set-semantics over bounded
  * unrolled rounds (the g3_bfs contract); VIF and Mahalanobis reach
  * doubles only through exact DECIMAL(38,0) moments (VARCHAR-routed)
  * and then ride SHARED pinned SQL text (the w78 ladder pattern) —
  * sqrt/± are correctly rounded, so raw outputs are bit-portable.
  */
object Curation72Q extends QueryModule {

  /** VIF ladder over r12/r13/r23 (pairwise correlations, doubles):
    * R⁻¹ diagonals of the 3×3 unit-diagonal correlation matrix. */
  private[queries] val vifLadder: Seq[(String, String)] = Seq(
    "det_r" -> ("(1.0 - r23 * r23) - r12 * (r12 - r13 * r23)" +
      " + r13 * (r12 * r23 - r13)"),
    "vif_1" -> "(1.0 - r23 * r23) / det_r",
    "vif_2" -> "(1.0 - r13 * r13) / det_r",
    "vif_3" -> "(1.0 - r12 * r12) / det_r")

  val queries: Seq[(String, QueryFn)] = Seq(

    // G23: pseudo-diameter of the co-supply graph. Sweep 1 starts at
    // the max-degree supplier (ties → min id, packed argmax) and runs
    // 4 frontier rounds; sweep 2 restarts at the farthest node found
    // (ties → min id) — its eccentricity within the horizon is the
    // pseudo-diameter lower bound. Every round is ONE equi-join
    // shuffle + distinct, the Pregel BFS shape; the 4-round horizon
    // is the documented cap that keeps the unrolled oracle tractable
    // (this graph's within-component diameter is ≤ 4 by
    // construction: co-supply neighborhoods are dense).
    "g23_pseudo_diameter" -> ((s, dir) => {
      val e0 = GraphQ.coSupply(s, dir)
      val sym = e0.select(col("a").as("src"), col("b").as("dst"))
        .union(e0.select(col("b").as("src"), col("a").as("dst")))
        .localCheckpoint()
      // packed argmax: degree·2^40 + (2^40−1−node) → max-degree,
      // min-id start (node ids < 2^40 by the supplier key domain; the
      // −1 keeps node 0 off the modulus boundary)
      def argmaxNode(deg: org.apache.spark.sql.DataFrame) =
        deg.agg(max(col("d") * lit(1L << 40) +
          (lit((1L << 40) - 1L) - col("n"))).as("pk"))
          .select((lit((1L << 40) - 1L) - pmod(col("pk"), lit(1L << 40)))
            .as("node"))
      // DELTA frontier: expand only nodes first reached THIS hop
      // (anti-join vs visited). The round-9 shape re-expanded the
      // full reached set every hop — in this dense co-supply graph
      // the hop-2 frontier is already ≈ the whole component, so hops
      // 3-4 each paid a full-graph join for near-zero new distance
      // rows (165 s at sf10). The min-agg result is identical: every
      // node's FIRST discovery hop is its distance either way.
      def sweep(seed: org.apache.spark.sql.DataFrame) = {
        var visited = seed.localCheckpoint()
        var dist = visited.withColumn("dist", lit(0L))
        var frontier = visited
        for (h <- 1 to 4) {
          frontier = frontier.join(sym, col("node") === col("src"))
            .select(col("dst").as("node")).distinct()
            .join(visited, Seq("node"), "left_anti").localCheckpoint()
          // lazy union of checkpointed frontiers (round 11): the
          // anti-join reads the same materialized blocks, minus one
          // eager re-materialization job per hop (depth ≤ 4)
          visited = visited.union(frontier)
          dist = dist.union(frontier.withColumn("dist", lit(h.toLong)))
        }
        dist.groupBy("node").agg(min("dist").as("dist"))
      }
      val deg = sym.groupBy(col("src").as("n"))
        .agg(count(lit(1)).as("d"))
      val start = argmaxNode(deg)
      val d1 = sweep(start)
      // farthest from start, ties → min node id (same pack)
      val far = argmaxNode(d1.select(col("node").as("n"),
        col("dist").as("d")))
      val d2 = sweep(far)
      d1.agg(max("dist").as("ecc_start"),
        count(lit(1)).as("n_reached1"))
        .crossJoin(broadcast(start.select(col("node").as("start_node"))))
        .crossJoin(broadcast(far.select(col("node").as("far_node"))))
        .crossJoin(broadcast(d2.agg(max("dist").as("pseudo_diameter"),
          count(lit(1)).as("n_reached2"))))
        .select(col("start_node"), col("ecc_start"), col("n_reached1"),
          col("far_node"), col("pseudo_diameter"), col("n_reached2"))
    }),

    // M59: VIF over (quantity, discount¢, tax¢). Pairwise r's are
    // single sqrt-closed chains over exact ×n² centered moments;
    // the 3×3 inverse diagonal rides the shared ladder. VIF ≈ 1 =
    // independent regressors; > 5 = multicollinear.
    "m59_vif" -> ((s, dir) => {
      val dec = "decimal(38,0)"
      val f = lineitem(s, dir).select(
        col("l_quantity").cast("long").as("x1"),
        lattice(col("l_discount"), 100).as("x2"),
        lattice(col("l_tax"), 100).as("x3"))
      val aggs = Seq(count(lit(1)).as("n"),
        sum("x1").as("s1"), sum("x2").as("s2"), sum("x3").as("s3")) ++
        Seq((1, 1), (2, 2), (3, 3), (1, 2), (1, 3), (2, 3)).map {
          case (i, j) => sum(col(s"x$i").cast(dec) * col(s"x$j"))
            .as(s"s$i$j")
        }
      val m = f.agg(aggs.head, aggs.tail: _*)
      def cen(i: Int, j: Int) =
        s"CAST(CAST(n AS DECIMAL(38,0)) * s$i$j - " +
          s"CAST(s$i AS DECIMAL(38,0)) * s$j AS DOUBLE)"
      val rs = m.selectExpr("n",
        s"${cen(1, 2)} / sqrt(${cen(1, 1)} * ${cen(2, 2)}) AS r12",
        s"${cen(1, 3)} / sqrt(${cen(1, 1)} * ${cen(3, 3)}) AS r13",
        s"${cen(2, 3)} / sqrt(${cen(2, 2)} * ${cen(3, 3)}) AS r23")
      val out = vifLadder.foldLeft(rs) { case (df, (nm, e)) =>
        df.selectExpr("*", s"$e AS $nm")
      }
      out.selectExpr("n", "r12", "r13", "r23",
        "vif_1 AS vif_quantity", "vif_2 AS vif_discount",
        "vif_3 AS vif_tax")
    }),

    // M60: top-20 joint (value¢, hour-of-day) Mahalanobis outliers.
    // Scaled residuals dx = n·x − Sx are exact; d² =
    // num·(n(n−1)) / (n²·det) with num/det the pinned 2×2 closed
    // form — identical bits per row on both engines, so the
    // (d² DESC, event_id) top-20 agrees without any rank machinery
    // (TakeOrdered, never a global sort).
    "m60_mahalanobis" -> ((s, dir) => {
      val dec = "decimal(38,0)"
      val e = graft.io.Tables.eventsUs(s, dir).select(
        col("event_id"),
        lattice(col("value"), 100).as("x"),
        expr("(ts_us DIV 3600000000) % 24").as("h"))
      val m = e.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("h").as("sh"),
        sum(col("x").cast(dec) * col("x")).as("sxx0"),
        sum(col("h").cast(dec) * col("h")).as("shh0"),
        sum(col("x").cast(dec) * col("h")).as("sxh0"))
      val scal = m.selectExpr("n",
        "CAST(n AS DOUBLE) AS nd", "sx", "sh",
        "CAST(CAST(n AS DECIMAL(38,0)) * sxx0 - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE) AS sxx",
        "CAST(CAST(n AS DECIMAL(38,0)) * shh0 - CAST(sh AS DECIMAL(38,0)) * sh AS DOUBLE) AS shh",
        "CAST(CAST(n AS DECIMAL(38,0)) * sxh0 - CAST(sx AS DECIMAL(38,0)) * sh AS DOUBLE) AS sxh")
      e.crossJoin(broadcast(scal))
        .selectExpr("event_id", "x", "h",
          "CAST(CAST(n AS DECIMAL(38,0)) * x - sx AS DOUBLE) AS dx",
          "CAST(CAST(n AS DECIMAL(38,0)) * h - sh AS DOUBLE) AS dy",
          "nd", "sxx", "shh", "sxh")
        .selectExpr("event_id", "x", "h",
          "(shh * (dx * dx) - 2.0 * sxh * (dx * dy) + sxx * (dy * dy))" +
            " * (nd * (nd - 1.0)) / ((nd * nd) * (sxx * shh - sxh * sxh))" +
            " AS md2")
        .orderBy(desc("md2"), asc("event_id"))
        .limit(20)
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "g23_pseudo_diameter" -> {
      // every CTE past the shared co-supply fragment is MATERIALIZED:
      // the sweep chain references each level twice and the final row
      // re-reads both distance tables — inlined CTEs would recompute
      // the edge build exponentially (the g21_eigencentrality lesson);
      // `e` materializes once, so it builds `e0` twice at most
      def sweepSql(seedCte: String, p: String) =
        s"""${p}f1 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM e
           |  JOIN $seedCte s ON e.src = s.node),
           |${p}f2 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM e
           |  JOIN ${p}f1 ON e.src = ${p}f1.node),
           |${p}f3 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM e
           |  JOIN ${p}f2 ON e.src = ${p}f2.node),
           |${p}f4 AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM e
           |  JOIN ${p}f3 ON e.src = ${p}f3.node),
           |${p}d AS MATERIALIZED (
           |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
           |  SELECT node, 0 AS dist FROM $seedCte
           |  UNION ALL SELECT node, 1 FROM ${p}f1
           |  UNION ALL SELECT node, 2 FROM ${p}f2
           |  UNION ALL SELECT node, 3 FROM ${p}f3
           |  UNION ALL SELECT node, 4 FROM ${p}f4) GROUP BY node)"""
          .stripMargin
      s"""WITH ${GraphQ.coSupplySql("e0")},
         |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |      UNION ALL SELECT b, a FROM e0),
         |deg AS (SELECT src AS n, count(*)::BIGINT AS d FROM e GROUP BY src),
         |st AS MATERIALIZED (SELECT 1099511627775 -
         |   (max(d * 1099511627776 + (1099511627775 - n)) % 1099511627776)
         |   AS node FROM deg),
         |${sweepSql("st", "a")},
         |far AS MATERIALIZED (SELECT 1099511627775 -
         |   (max(dist * 1099511627776 + (1099511627775 - node))
         |    % 1099511627776) AS node FROM ad),
         |${sweepSql("far", "b")}
         |SELECT (SELECT node FROM st) AS start_node,
         | (SELECT max(dist) FROM ad) AS ecc_start,
         | (SELECT count(*)::BIGINT FROM ad) AS n_reached1,
         | (SELECT node FROM far) AS far_node,
         | (SELECT max(dist) FROM bd) AS pseudo_diameter,
         | (SELECT count(*)::BIGINT FROM bd) AS n_reached2""".stripMargin
    },

    "m59_vif" -> {
      def cen(i: Int, j: Int) =
        s"((n::DECIMAL(38,0) * s$i$j - s$i::DECIMAL(38,0) * s$j)" +
          "::VARCHAR)::DOUBLE"
      val nested = vifLadder.foldLeft("rs") { case (inner, (n, e)) =>
        s"(SELECT *, $e AS $n FROM $inner)"
      }
      s"""WITH f AS (SELECT CAST(l_quantity AS BIGINT) AS x1,
         |  ${latticeSql("l_discount", 100)} AS x2,
         |  ${latticeSql("l_tax", 100)} AS x3 FROM lineitem),
         |m AS (SELECT count(*)::BIGINT AS n,
         |  CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         |  CAST(sum(x3) AS BIGINT) AS s3,
         |  sum(x1::DECIMAL(38,0) * x1) AS s11,
         |  sum(x2::DECIMAL(38,0) * x2) AS s22,
         |  sum(x3::DECIMAL(38,0) * x3) AS s33,
         |  sum(x1::DECIMAL(38,0) * x2) AS s12,
         |  sum(x1::DECIMAL(38,0) * x3) AS s13,
         |  sum(x2::DECIMAL(38,0) * x3) AS s23 FROM f),
         |rs AS (SELECT n,
         |  ${cen(1, 2)} / sqrt(${cen(1, 1)} * ${cen(2, 2)}) AS r12,
         |  ${cen(1, 3)} / sqrt(${cen(1, 1)} * ${cen(3, 3)}) AS r13,
         |  ${cen(2, 3)} / sqrt(${cen(2, 2)} * ${cen(3, 3)}) AS r23
         | FROM m)
         |SELECT n, r12, r13, r23, vif_1 AS vif_quantity,
         | vif_2 AS vif_discount, vif_3 AS vif_tax
         |FROM $nested""".stripMargin
    },

    "m60_mahalanobis" ->
      s"""WITH e AS (SELECT event_id,
        |  ${latticeSql("value", 100)} AS x,
        |  (epoch_us(ts) // 3600000000) % 24 AS h FROM events),
        |m AS (SELECT count(*)::BIGINT AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(h) AS BIGINT) AS sh,
        |  sum(x::DECIMAL(38,0) * x) AS sxx0,
        |  sum(h::DECIMAL(38,0) * h) AS shh0,
        |  sum(x::DECIMAL(38,0) * h) AS sxh0 FROM e),
        |scal AS (SELECT n, n::DOUBLE AS nd, sx, sh,
        |  ((n::DECIMAL(38,0) * sxx0 - sx::DECIMAL(38,0) * sx)::VARCHAR)::DOUBLE AS sxx,
        |  ((n::DECIMAL(38,0) * shh0 - sh::DECIMAL(38,0) * sh)::VARCHAR)::DOUBLE AS shh,
        |  ((n::DECIMAL(38,0) * sxh0 - sx::DECIMAL(38,0) * sh)::VARCHAR)::DOUBLE AS sxh
        | FROM m),
        |d AS (SELECT event_id, x, h,
        |  ((n::DECIMAL(38,0) * x - sx)::VARCHAR)::DOUBLE AS dx,
        |  ((n::DECIMAL(38,0) * h - sh)::VARCHAR)::DOUBLE AS dy,
        |  nd, sxx, shh, sxh
        | FROM e CROSS JOIN scal),
        |md AS (SELECT event_id, x, h,
        |  (shh * (dx * dx) - 2.0 * sxh * (dx * dy) + sxx * (dy * dy))
        |   * (nd * (nd - 1.0)) / ((nd * nd) * (sxx * shh - sxh * sxh))
        |   AS md2
        | FROM d)
        |SELECT event_id, x, h, md2 FROM md
        |ORDER BY md2 DESC, event_id LIMIT 20""".stripMargin)
}
