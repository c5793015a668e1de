package graft.queries

import org.apache.spark.sql.functions._
import Q._
import graft.operators.{DistRank, Similarity}

/** Round-8 batch 47: the skyline (Pareto-dominance) operator — the
  * classic multi-objective DB query the surface lacked — on a new
  * DistRank.cummin primitive (two-pass distributed running minimum:
  * the o(n log n) sort-scan skyline, never the O(n²) dominance join
  * and never a one-task window); RANSAC robust line fitting with a
  * deterministic LCG draw schedule (the consensus alternative to
  * a58_theilsen — every dominance/inlier decision on cleared-
  * denominator exact integers); and a random-projection recall audit
  * (does JL-projected cosine top-k agree with full-dimension top-k —
  * the v_randproj quality gate, the s_ivf_recall pattern for the
  * projection index). Net-new vs the 408-query surface (grep-checked).
  */
object Curation47Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // O32: 2D skyline of lineitem on (price, quantity), both
    // minimized — "no other line is cheaper AND smaller". The
    // sort-scan formulation: per distinct price, the min quantity;
    // DistRank.cummin gives every price the best quantity among
    // STRICTLY cheaper prices (exclusive frame) as an exact BIGINT;
    // a row is dominated iff that bound is ≤ its quantity (strict in
    // price) or a same-price row has strictly smaller quantity.
    // Duplicate (p,q) pairs tie — both survive, the standard
    // distinct-value skyline. One value-grain aggregate + the p-way
    // bucketed cummin + one broadcast-joinable value table: no pair
    // join, no global window.
    "o32_skyline" -> ((s, dir) => {
      val pts = lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        lattice(col("l_extendedprice"), 100).as("p"),
        col("l_quantity").cast("long").as("q"))
      val perP = pts.groupBy("p").agg(min("q").as("minq_same"))
      val cm = DistRank.cummin(perP, col("p"), Seq(col("p")),
        Seq((col("minq_same"), "minq_lt")), inclusive = false)
      pts.join(cm, "p")
        .filter(!(col("minq_lt") <= col("q") ||
          col("minq_same") < col("q")))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("p").as("price_cents"), col("q").as("quantity"))
    }),

    // M45: RANSAC line fit over the hourly revenue series — 50
    // deterministic candidate pairs from a public LCG (rerun- and
    // engine-stable, unlike random sampling), inliers counted with
    // denominators cleared: |Δy·(t−t_i) − Δt·(y−y_i)| ≤ tol·|Δt| is
    // all BIGINT, so the consensus argmax (most inliers, earliest
    // draw) is integer-decided; only the winning slope is a closing
    // division. Shape: one keyed agg, a 50-row parameter frame
    // fanned out by broadcast, one argmax.
    "m45_ransac" -> ((s, dir) => {
      val tol = 200000L
      val ev = graft.io.Tables.eventsUs(s, dir)
        .select(expr("ts_us DIV 3600000000").as("h"),
          lattice(col("value"), 100).as("c"))
      val hourly = ev.groupBy("h").agg(sum("c").as("y"))
      val idx = DistRank.rowNumber(hourly, col("h"), Seq(col("h")),
        "t", totalAs = Some("n"))
      val draws = idx.agg(max("n").as("n")).select(col("n"),
          explode(sequence(lit(0L), lit(49L))).as("d"))
        .select(col("d"),
          (pmod(col("d") * 2L * 1103515245L + 12345L,
            lit(2147483648L)) % col("n") + 1L).as("ti"),
          (pmod((col("d") * 2L + 1L) * 1103515245L + 12345L,
            lit(2147483648L)) % col("n") + 1L).as("tj"))
      val pi = idx.select(col("t").as("ti"), col("y").as("yi"))
      val pj = idx.select(col("t").as("tj"), col("y").as("yj"))
      val pairs = draws.join(pi, "ti").join(pj, "tj")
        .filter(col("ti") =!= col("tj"))
      val inl = idx.crossJoin(broadcast(pairs))
        .filter(abs((col("yj") - col("yi")) * (col("t") - col("ti")) -
          (col("tj") - col("ti")) * (col("y") - col("yi"))) <=
          lit(tol) * abs(col("tj") - col("ti")))
        .groupBy("d", "ti", "tj", "yi", "yj")
        .agg(count(lit(1)).as("n_inliers"))
      inl.agg(max(struct(col("n_inliers"), (-col("d")).as("negd"),
          col("ti"), col("tj"), col("yi"), col("yj"))).as("b"))
        .select((-col("b.negd")).as("draw"),
          col("b.ti").as("t_i"), col("b.tj").as("t_j"),
          col("b.n_inliers").as("n_inliers"),
          ((col("b.yj") - col("b.yi")).cast("double") /
            (col("b.tj") - col("b.ti")).cast("double")).as("slope"))
    }),

    // V: projection-recall audit — for the 5 benchmark query vectors,
    // how much of the exact full-dimension cosine top-10 does the
    // JL-projected (64→8) cosine top-10 recover? Both sides rank on
    // round(cos, 6) with id tiebreak; the projected cosine is a
    // pinned pointwise expression over the bitwise-portable
    // v_randproj columns, so membership is engine-exact. Per query
    // the top-10 is a distributed TakeOrdered (5 bounded jobs), not
    // a 5-partition window.
    "v_proj_recall" -> ((s, dir) => {
      import graft.functions.Vectors
      val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val proj = Similarity.randomProjection(e, "embedding",
        inDims = 64, outDims = 8)
      val qFull = e.filter(col("vec_id") < 5)
        .collect().map(r => r.getLong(0) ->
          r.getSeq[Float](1).map(_.toDouble).toSeq).toMap
      val qProj = proj.filter(col("vec_id") < 5)
        .collect().map(r => r.getLong(0) ->
          (0 until 8).map(j => r.getDouble(1 + j))).toMap
      def topFull(q: Long) = e.filter(col("vec_id") =!= q)
        .select(lit(q).as("query_id"), col("vec_id"),
          r6(Vectors.cosine(col("embedding"),
            Similarity.queryLit(qFull(q)))).as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(10)
      def topProj(q: Long) = {
        val v = qProj(q)
        val dot = (0 until 8).map(j => col(s"p$j") * lit(v(j)))
          .reduceLeft(_ + _)
        val na = sqrt((0 until 8).map(j => col(s"p$j") * col(s"p$j"))
          .reduceLeft(_ + _))
        val nb = math.sqrt(v.map(x => x * x).reduceLeft(_ + _))
        proj.filter(col("vec_id") =!= q)
          .select(lit(q).as("query_id"), col("vec_id"),
            r6(when(na * lit(nb) > 0, dot / (na * lit(nb)))
              .otherwise(lit(0.0))).as("cosp"))
          .orderBy(col("cosp").desc, col("vec_id")).limit(10)
      }
      val ids = (0L until 5L)
      val full = ids.map(topFull).reduce(_ union _)
      val pr = ids.map(topProj).reduce(_ union _)
      full.join(pr, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
        .select(col("query_id"), col("n_overlap"),
          (col("n_overlap").cast("double") / lit(10.0)).as("recall"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  private def projSql(alias: String): String = {
    val scale = math.sqrt(8.0)
    (0 until 8).map { j =>
      val sum = (0 until 64).map { i =>
        s"(${Similarity.projSign(j, i, 64)}) * (embedding[${i + 1}]::DOUBLE)"
      }.mkString(" + ")
      s"(($sum) / $scale) AS p$j"
    }.mkString(",\n ")
  }

  val oracle: Seq[(String, String)] = Seq(

    "o32_skyline" ->
      s"""WITH pts AS (SELECT l_orderkey, l_linenumber,
        |  ${latticeSql("l_extendedprice", 100)} AS p,
        |  CAST(l_quantity AS BIGINT) AS q FROM lineitem),
        |perp AS (SELECT p, min(q)::BIGINT AS minq_same FROM pts
        | GROUP BY p),
        |cm AS (SELECT p, minq_same,
        |  coalesce(min(minq_same) OVER (ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |   9223372036854775807)::BIGINT AS minq_lt
        | FROM perp)
        |SELECT l_orderkey, l_linenumber, p AS price_cents,
        | q AS quantity
        |FROM pts JOIN cm USING (p)
        |WHERE NOT (minq_lt <= q OR minq_same < q)""".stripMargin,

    "m45_ransac" ->
      s"""WITH ev AS (SELECT epoch_us(ts) // 3600000000 AS h,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |hourly AS (SELECT h, sum(c)::BIGINT AS y FROM ev GROUP BY h),
        |idx AS (SELECT h, y,
        |  row_number() OVER (ORDER BY h)::BIGINT AS t FROM hourly),
        |nn AS (SELECT count(*)::BIGINT AS n FROM idx),
        |draws AS (SELECT d,
        |  (d * 2 * 1103515245 + 12345) % 2147483648 % n + 1 AS ti,
        |  ((d * 2 + 1) * 1103515245 + 12345) % 2147483648 % n + 1 AS tj
        | FROM (SELECT unnest(range(0, 50)) AS d), nn),
        |pairs AS (SELECT d, ti, tj, a.y AS yi, b.y AS yj
        | FROM draws JOIN idx a ON a.t = draws.ti
        |  JOIN idx b ON b.t = draws.tj
        | WHERE ti <> tj),
        |inl AS (SELECT d, ti, tj, yi, yj, count(*)::BIGINT AS n_inliers
        | FROM idx, pairs
        | WHERE abs((yj - yi) * (t - ti) - (tj - ti) * (y - yi)) <=
        |  200000 * abs(tj - ti)
        | GROUP BY d, ti, tj, yi, yj)
        |SELECT d AS draw, ti AS t_i, tj AS t_j, n_inliers,
        | (yj - yi)::DOUBLE / (tj - ti)::DOUBLE AS slope
        |FROM inl ORDER BY n_inliers DESC, d LIMIT 1""".stripMargin,

    "v_proj_recall" -> {
      s"""WITH proj AS (SELECT vec_id,
         | ${projSql("e")}
         |FROM embeddings),
         |qf AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         | WHERE vec_id < 5),
         |qp AS (SELECT vec_id AS qid, p0 AS q0, p1 AS q1, p2 AS q2,
         |  p3 AS q3, p4 AS q4, p5 AS q5, p6 AS q6, p7 AS q7
         | FROM proj WHERE vec_id < 5),
         |tf AS (SELECT qid AS query_id, vec_id FROM (
         | SELECT qf.qid, e.vec_id,
         |  row_number() OVER (PARTITION BY qf.qid ORDER BY
         |   round(${LlmQ.cosSql("e.embedding", "qf.qe")}, 6) DESC,
         |   e.vec_id) AS rn
         | FROM embeddings e, qf WHERE e.vec_id <> qf.qid)
         | WHERE rn <= 10),
         |tp AS (SELECT qid AS query_id, vec_id FROM (
         | SELECT qp.qid, proj.vec_id,
         |  row_number() OVER (PARTITION BY qp.qid ORDER BY
         |   round(CASE WHEN
         |     sqrt(p0*p0 + p1*p1 + p2*p2 + p3*p3 + p4*p4 + p5*p5 +
         |       p6*p6 + p7*p7) *
         |     sqrt(q0*q0 + q1*q1 + q2*q2 + q3*q3 + q4*q4 + q5*q5 +
         |       q6*q6 + q7*q7) > 0
         |    THEN (p0*q0 + p1*q1 + p2*q2 + p3*q3 + p4*q4 + p5*q5 +
         |       p6*q6 + p7*q7) /
         |     (sqrt(p0*p0 + p1*p1 + p2*p2 + p3*p3 + p4*p4 + p5*p5 +
         |       p6*p6 + p7*p7) *
         |      sqrt(q0*q0 + q1*q1 + q2*q2 + q3*q3 + q4*q4 + q5*q5 +
         |       q6*q6 + q7*q7))
         |    ELSE 0.0 END, 6) DESC, proj.vec_id) AS rn
         | FROM proj, qp WHERE proj.vec_id <> qp.qid)
         | WHERE rn <= 10)
         |SELECT tf.query_id, count(*)::BIGINT AS n_overlap,
         | count(*)::DOUBLE / 10.0 AS recall
         |FROM tf JOIN tp USING (query_id, vec_id)
         |GROUP BY tf.query_id""".stripMargin
    })
}
