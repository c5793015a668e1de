package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text
import Q._

/** Round-7 batch 40: fixed-effect meta-analysis pooling (with
  * Cochran's Q / I² heterogeneity), term burstiness (variance-to-mean
  * dispersion across documents), the Hurst exponent by rescaled-range
  * analysis, and harmonic centrality from bounded-hop per-seed BFS.
  * Net-new vs the 383-query surface (grep-checked). Float folds over
  * groups ride sorted collected lists (the trap-10 pinned-order
  * pattern); everything that decides is integer or a single division
  * of exact BIGINTs.
  */
object Curation40Q extends QueryModule {

  /** Harmonic lattice: LCM(1..4) = 12, so 12/d is exact for every
    * bounded-hop distance. */
  private val H12 = 12L

  val queries: Seq[(String, QueryFn)] = Seq(

    // A82: fixed-effect meta-analysis of the per-event-type even-vs-
    // odd-user mean difference — the "pool the segment effects" step
    // after a80/a81, with Cochran's Q and I² saying whether pooling
    // is even honest. Per-type moments are exact BIGINTs; weights
    // 1/var, the pooled effect Σw·Δ/Σw, and Q fold over the 5 types
    // in EVENT-TYPE order via a sorted collected list (pinned
    // left-association on both engines — never an unordered float
    // sum). One grouped agg + one 1-row fold.
    "a82_meta_analysis" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir).select(col("event_type"),
        (pmod(col("user_id"), lit(2L)) === 0L).cast("long").as("ia"),
        lattice(col("value"), 100).as("c"))
      val g = e.groupBy("event_type").agg(
        sum("ia").as("na"),
        sum(col("ia") * col("c")).as("sa1"),
        sum(col("ia") * col("c") * col("c")).as("sa2"),
        (count(lit(1)) - sum("ia")).as("nb"),
        sum((lit(1L) - col("ia")) * col("c")).as("sb1"),
        sum((lit(1L) - col("ia")) * col("c") * col("c")).as("sb2"))
        .filter(col("na") >= 2L && col("nb") >= 2L)
      def varOf(n: Column, s1: Column, s2: Column): Column =
        (n.cast("double") * s2.cast("double") -
          s1.cast("double") * s1.cast("double")) /
          (n.cast("double") * (n - 1L).cast("double"))
      val delta = col("sa1").cast("double") / col("na") -
        col("sb1").cast("double") / col("nb")
      val v = varOf(col("na"), col("sa1"), col("sa2")) / col("na") +
        varOf(col("nb"), col("sb1"), col("sb2")) / col("nb")
      val terms = g.select(col("event_type"), delta.as("d"),
        (lit(1.0) / v).as("w"))
      // pinned folds in event_type order over the collected 5 rows
      val lst = terms.agg(sort_array(collect_list(struct(
        col("event_type"), col("d"), col("w")))).as("xs"))
      def fold(f: (Column, Column) => Column): Column =
        aggregate(col("xs"), lit(0.0), f)
      val sw = fold((a, x) => a + x.getField("w"))
      val swd = fold((a, x) => a + x.getField("w") * x.getField("d"))
      val k = size(col("xs")).cast("long")
      val pooled = swd / sw
      lst.select(k.as("k"),
          sw.as("__sw"), swd.as("__swd"), pooled.as("__p"),
          aggregate(col("xs"), lit(0.0), (a, x) =>
            a + x.getField("w") * (x.getField("d") - pooled) *
              (x.getField("d") - pooled)).as("__q"))
        .select(col("k"), r6(col("__p")).as("pooled_effect"),
          r6(sqrt(lit(1.0) / col("__sw"))).as("pooled_se"),
          r6(col("__q")).as("cochran_q"),
          r6(greatest(lit(0.0),
            (col("__q") - (col("k") - 1L).cast("double")) / col("__q")))
            .as("i2"))
    }),

    // T: term burstiness (Church & Gale) — the variance-to-mean
    // dispersion of per-document term counts, separating "appears
    // everywhere evenly" function words from "clumps in a few docs"
    // content words (a signal TF-IDF misses). With N docs and exact
    // Σtf, Σtf² (zeros included via N): VMR·(N−1)·Σtf and the
    // burstiness b = (VMR−1)/(VMR+1) both reduce to ONE division of
    // exact BIGINTs. Top-200 terms by (df desc, term).
    "t_burstiness" -> ((s, dir) => {
      val d = documents(s, dir)
      // the corpus size N rides the plan as a one-row scalar subquery
      val n = d.select(count(lit(1))).scalar()
      val tf = d.select(col("doc_id"),
          explode(Text.tokens(Text.normalizeAz(col("text")))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val byTerm = tf.groupBy("term").agg(
        count(lit(1)).as("df"), sum("tf").as("s1"),
        sum(col("tf") * col("tf")).as("s2"))
        .filter(col("df") >= 5L)
      // num = N·Σtf² − (Σtf)²  (= N(N−1)·var);  den = (N−1)·Σtf
      val num = n * col("s2") - col("s1") * col("s1")
      val den = (n - 1L) * col("s1")
      byTerm.select(col("term"), col("df"), col("s1").as("n_occ"),
          r6(num.cast("double") / den.cast("double")).as("vmr"),
          r6((num - den).cast("double") / (num + den).cast("double"))
            .as("burstiness"))
        .orderBy(col("df").desc, col("term"))
        .limit(200)
    }),

    // A83: Hurst exponent by rescaled-range analysis over each
    // user's last 32 event values — the long-memory diagnostic
    // (H≈0.5 random walk, >0.5 trending, <0.5 mean-reverting).
    // EXACTNESS: within a w-block, the scaled cumulative deviations
    // w·prefix_j − j·S_block are integers, so the range R and the
    // variance proxy w·Σx²−S² are exact BIGINTs and each block's
    // R/S is ONE division + ONE sqrt: R_int / sqrt(w·Σx² − S²).
    // Windows w ∈ {8,16,32} over the fixed 32-value tail (7 blocks,
    // all generated as explicit slices); the log-log slope is the
    // exact-OLS-over-single-lns t_zipf_slope class.
    "a83_hurst" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us").desc, col("event_id").desc)
      val tail = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          lattice(col("value"), 100).as("c"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 32)
      val series = tail.groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          transform(sort_array(collect_list(struct(
            col("ts_us"), col("event_id"), col("c")))), x => x.getField("c"))
            .as("arr"))
        .filter(col("n") === 32)
      // R/S of the length-w slice starting at 1-based `st`
      def rs(st: Int, wlen: Int): Column = {
        val blk = slice(col("arr"), st, wlen)
        val sB = aggregate(blk, lit(0L), (a, x) => a + x)
        val s2B = aggregate(blk, lit(0L), (a, x) => a + x * x)
        // scaled prefixes w·prefix_j − j·S, j = 1..w (exact BIGINTs);
        // prefix via an O(w²) indexed sum — w ≤ 32 is a constant
        val pref = transform(sequence(lit(1), lit(wlen)), j =>
          aggregate(slice(blk, lit(1), j), lit(0L), (a, x) => a + x) *
            wlen.toLong - j.cast("long") * sB)
        val r = aggregate(pref, lit(Long.MinValue), (a, x) =>
          greatest(a, x)) -
          aggregate(pref, lit(Long.MaxValue), (a, x) => least(a, x))
        r.cast("double") /
          sqrt((lit(wlen.toLong) * s2B - sB * sB).cast("double"))
      }
      def meanRs(wlen: Int): Column = {
        val blocks = (0 until (32 / wlen)).map(i => rs(1 + i * wlen, wlen))
        blocks.reduce(_ + _) / blocks.size.toDouble
      }
      val rs8 = meanRs(8); val rs16 = meanRs(16); val rs32 = meanRs(32)
      // OLS slope over (ln w, ln RS_w), 3 points, pinned closed form
      val lx = Seq(math.log(8.0), math.log(16.0), math.log(32.0))
      val mx = (lx(0) + lx(1) + lx(2)) / 3.0
      val sxx = lx.map(x => (x - mx) * (x - mx)).sum
      val hurst = (lit(lx(0) - mx) * log(rs8) + lit(lx(1) - mx) * log(rs16) +
        lit(lx(2) - mx) * log(rs32)) / sxx
      series.select(col("user_id"),
        r6(rs8).as("rs8"), r6(rs16).as("rs16"), r6(rs32).as("rs32"),
        r6(hurst).as("hurst"))
    }),

    // G17: harmonic centrality of the 8 smallest customer nodes over
    // the customer-supplier graph, bounded to 4 hops — the
    // disconnected-graph-safe closeness (sums 1/d, unreachable adds
    // 0). Per-seed frontiers carry the seed key, each hop is one
    // equi-join + distinct (localCheckpoint per round), and the
    // score rides the LCM(1..4) = 12 lattice: score12 = Σ 12/d is an
    // exact BIGINT.
    "g17_harmonic" -> ((s, dir) => {
      val sym = GraphQ.symEdges(s, dir).cache()
      val seeds = sym.select(col("a").as("node")).distinct()
        .orderBy("node").limit(8)
        .select(col("node").as("seed"), col("node"))
      // DELTA frontier per seed (the g23_pseudo_diameter pattern,
      // round 11): expand only nodes first reached THIS hop
      // (anti-join vs visited). The dense co-supply graph makes the
      // hop-2 frontier ≈ the component, so full-frontier hops 3-4
      // each paid a component-scale join for near-zero new rows.
      // min-dist is identical either way: a node's FIRST discovery
      // hop is its distance.
      var reach = seeds.withColumn("dist", lit(0L))
      // visited = lazy union of the per-hop CHECKPOINTED frontiers:
      // each hop's anti-join scans the same materialized blocks either
      // way, but the union itself no longer pays an eager
      // re-materialization job per hop (round-11 optimization; the
      // union depth is bounded by the 4-hop cap)
      var visited = seeds.localCheckpoint()
      var frontier = visited
      for (h <- 1 to 4) {
        frontier = frontier
          .join(sym.select(col("a").as("node"), col("b")), "node")
          .select(col("seed"), col("b").as("node")).distinct()
          .join(visited, Seq("seed", "node"), "left_anti")
          .localCheckpoint()
        visited = visited.union(frontier)
        reach = reach.union(frontier.withColumn("dist", lit(h.toLong)))
      }
      reach.groupBy("seed", "node").agg(min("dist").as("dist"))
        .filter(col("dist") >= 1L)
        .groupBy("seed")
        .agg(count(lit(1)).as("n_reached"),
          sum((lit(H12) - pmod(lit(H12), col("dist"))) / col("dist"))
            .cast("long").as("score12"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  /** One per-seed BFS hop for g17. */
  private def hop(h: Int): String =
    s"""f$h AS (SELECT DISTINCT f.seed, s.b AS node
       | FROM f${h - 1} f JOIN sym s ON s.a = f.node)""".stripMargin

  val oracle: Seq[(String, String)] = Seq(

    "a82_meta_analysis" ->
      s"""WITH e AS (SELECT event_type,
        |  (user_id % 2 = 0)::BIGINT AS ia,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |g AS (SELECT event_type,
        |  sum(ia)::BIGINT AS na,
        |  sum(ia * c)::BIGINT AS sa1, sum(ia * c * c)::BIGINT AS sa2,
        |  (count(*) - sum(ia))::BIGINT AS nb,
        |  sum((1 - ia) * c)::BIGINT AS sb1,
        |  sum((1 - ia) * c * c)::BIGINT AS sb2
        | FROM e GROUP BY event_type HAVING sum(ia) >= 2
        |  AND count(*) - sum(ia) >= 2),
        |t AS (SELECT event_type,
        |  sa1::DOUBLE / na - sb1::DOUBLE / nb AS d,
        |  1.0 / (((na::DOUBLE * sa2::DOUBLE - sa1::DOUBLE * sa1::DOUBLE)
        |     / (na::DOUBLE * (na - 1)::DOUBLE)) / na::DOUBLE
        |   + ((nb::DOUBLE * sb2::DOUBLE - sb1::DOUBLE * sb1::DOUBLE)
        |     / (nb::DOUBLE * (nb - 1)::DOUBLE)) / nb::DOUBLE) AS w
        | FROM g),
        |l AS (SELECT list(struct_pack(event_type := event_type, d := d,
        |   w := w) ORDER BY event_type) AS xs, count(*)::BIGINT AS k
        | FROM t),
        |f AS (SELECT k,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(xs, x -> x.w)), (a, b) -> a + b) AS sw,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(xs, x -> x.w * x.d)), (a, b) -> a + b) AS swd,
        |  xs FROM l),
        |q AS (SELECT k, sw, swd, swd / sw AS p,
        |  list_reduce(list_prepend(0.0::DOUBLE,
        |    list_transform(xs, x -> x.w * (x.d - swd / sw)
        |      * (x.d - swd / sw))), (a, b) -> a + b) AS qq
        | FROM f)
        |SELECT k, round(p, 6) AS pooled_effect,
        | round(sqrt(1.0 / sw), 6) AS pooled_se,
        | round(qq, 6) AS cochran_q,
        | round(greatest(0.0, (qq - (k - 1)) / qq), 6) AS i2
        |FROM q""".stripMargin,

    "t_burstiness" ->
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, g AS term, count(*)::BIGINT AS tf FROM
         |  (SELECT doc_id, unnest(toks) AS g FROM tok) GROUP BY 1, 2),
         |nn AS (SELECT count(*)::BIGINT AS n FROM documents),
         |bt AS (SELECT term, count(*)::BIGINT AS df,
         |  sum(tf)::BIGINT AS s1, sum(tf * tf)::BIGINT AS s2
         | FROM tf GROUP BY term HAVING count(*) >= 5)
         |SELECT term, df, s1 AS n_occ,
         | round((n * s2 - s1 * s1)::DOUBLE / ((n - 1) * s1), 6) AS vmr,
         | round((n * s2 - s1 * s1 - (n - 1) * s1)::DOUBLE
         |   / (n * s2 - s1 * s1 + (n - 1) * s1), 6) AS burstiness
         |FROM bt CROSS JOIN nn
         |ORDER BY df DESC, term LIMIT 200""".stripMargin,

    "a83_hurst" -> {
      def rsSql(st: Int, w: Int): String = {
        val en = st + w - 1
        val sB = s"list_sum(arr[$st:$en])"
        val sqB = s"list_sum(list_transform(arr[$st:$en], x -> x * x))"
        val pref = s"list_transform(range(1, ${w + 1}), " +
          s"j -> list_sum(arr[$st:${st - 1} + j]) * $w - j * $sB)"
        val out = s"((list_max($pref) - list_min($pref))::DOUBLE" +
          s" / sqrt(($w * $sqB - $sB * $sB)::DOUBLE))"
        require(out.count(_ == '(') == out.count(_ == ')'), out)
        out
      }
      def meanRs(w: Int): String =
        (0 until (32 / w)).map(i => rsSql(1 + i * w, w))
          .mkString("(", " + ", s") / ${32 / w}.0")
      val lx = Seq(math.log(8.0), math.log(16.0), math.log(32.0))
      val mx = (lx(0) + lx(1) + lx(2)) / 3.0
      val sxx = lx.map(x => (x - mx) * (x - mx)).sum
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         |  ${latticeSql("value", 100)} AS c,
         |  row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) AS rn
         | FROM events),
         |u AS (SELECT user_id, list(c ORDER BY ts_us, event_id) AS arr
         | FROM e WHERE rn <= 32 GROUP BY user_id HAVING count(*) = 32),
         |rsv AS (SELECT user_id, ${meanRs(8)} AS rs8,
         |  ${meanRs(16)} AS rs16, ${meanRs(32)} AS rs32 FROM u)
         |SELECT user_id, round(rs8, 6) AS rs8, round(rs16, 6) AS rs16,
         | round(rs32, 6) AS rs32,
         | round(((${lx(0) - mx}) * ln(rs8) + (${lx(1) - mx}) * ln(rs16)
         |   + (${lx(2) - mx}) * ln(rs32)) / $sxx, 6) AS hurst
         |FROM rsv""".stripMargin
    },

    "g17_harmonic" ->
      s"""WITH ${GraphQ.SymSql},
         |seeds AS (SELECT a AS seed, a AS node FROM
         |  (SELECT DISTINCT a FROM sym ORDER BY a LIMIT 8)),
         |f0 AS (SELECT seed, node FROM seeds),
         |${(1 to 4).map(hop).mkString(",\n")},
         |reach AS (SELECT seed, node, 0 AS dist FROM f0
         | ${(1 to 4).map(h => s"UNION ALL SELECT seed, node, $h FROM f$h")
             .mkString("\n ")}),
         |mn AS (SELECT seed, node, min(dist)::BIGINT AS dist
         | FROM reach GROUP BY 1, 2)
         |SELECT seed, count(*)::BIGINT AS n_reached,
         | sum($H12 // dist)::BIGINT AS score12
         |FROM mn WHERE dist >= 1 GROUP BY seed""".stripMargin)
}
