package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 52: regression influence diagnostics and a network
  * topology summary, both net-new vs the 419-query surface
  * (grep-checked):
  *  - Cook's distance for the simple OLS price~quantity fit — the
  *    standard "which rows move the fit" audit a feature pipeline
  *    runs before trusting a learned scaler/imputer;
  *  - rich-club coefficient ladder — do high-degree nodes link to
  *    each other more than chance (hub collusion / spam-farm
  *    densification screen), on the same within-nation co-supply
  *    graph as g2_triangles.
  */
object Curation52Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // M49: Cook's distance D_i = e_i²·h_i / (p·s²·(1−h_i)²) for the
    // OLS cents(extendedprice) ~ quantity fit (p = 2). Every moment
    // (n, Σx, Σy, Σx², Σxy, Σy²) is an exact integer, so the
    // centered forms num_b = n·Σxy − Σx·Σy, den = n·Σx² − (Σx)²,
    // numYY = n·Σy² − (Σy)² are exact DECIMAL(38,0); slope/intercept/
    // s² are pinned IEEE tails over those exact operands, and each
    // row's leverage rides the exact integer dx = n·x − Σx:
    // h = 1/n + dx²/(n·den). Both engines replay the identical
    // correctly-rounded op sequence (+,−,·,/ only), so the top-20
    // selection ORDER BY raw D is deterministic cross-engine (the
    // gotcha-5 rule: order by the RAW double, emit the rounded one;
    // ties broken by the row key). Plan: one moments agg → broadcast
    // scalar frame → per-row map → global top-k (TakeOrdered, no full
    // sort).
    "m49_cooks" -> ((s, dir) => {
      val li = lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("x"),
        lattice(col("l_extendedprice"), 100).as("y"))
      val mom = li.agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
        .select(col("n"), col("sx"), col("sy"),
          (col("sxy") * col("n") - col("sx").cast("decimal(38,0)") *
            col("sy")).as("numb"),
          (col("sxx") * col("n") - col("sx").cast("decimal(38,0)") *
            col("sx")).as("den"),
          (col("syy") * col("n") - col("sy").cast("decimal(38,0)") *
            col("sy")).as("numyy"))
      val scal = mom.select(col("n"), col("sx"), col("sy"), col("den"),
        (col("numb").cast("double") / col("den").cast("double")).as("b"),
        col("numb"), col("numyy"))
        .select(col("n"), col("sx"), col("den"), col("b"),
          ((col("sy").cast("double") - col("b") * col("sx").cast("double"))
            / col("n").cast("double")).as("a"),
          // s² = SSE/(n−2), SSE = (numYY − b·numXY)/n — pinned order
          (((col("numyy").cast("double") -
            col("b") * col("numb").cast("double")) /
            col("n").cast("double")) /
            (col("n").cast("double") - lit(2.0))).as("s2"))
      val d = li.crossJoin(broadcast(scal))
        .withColumn("dx", col("n") * col("x") - col("sx"))
        .withColumn("h", lit(1.0) / col("n").cast("double") +
          (col("dx").cast("double") * col("dx").cast("double")) /
            (col("n").cast("double") * col("den").cast("double")))
        .withColumn("e", col("y").cast("double") -
          (col("a") + col("b") * col("x").cast("double")))
        .withColumn("cook", (col("e") * col("e") * col("h")) /
          (lit(2.0) * col("s2") *
            (lit(1.0) - col("h")) * (lit(1.0) - col("h"))))
      d.orderBy(col("cook").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)
        .select(col("l_orderkey"), col("l_linenumber"),
          r6(col("cook")).as("cook_d"), r6(col("h")).as("leverage"))
    }),

    // G20: rich-club coefficient φ(k) = 2·E_{>k} / (N_{>k}·(N_{>k}−1))
    // over a doubling k-ladder, on the g2_triangles within-nation
    // co-supply graph. Everything reduces to two BOUNDED histograms —
    // node count per degree and edge count per min-endpoint-degree —
    // so the per-k tail is suffix sums over the degree domain crossed
    // with a literal 10-element ladder: exact integers, ONE division.
    // Plan: edge build (the g2 shape) → one degree agg → two
    // broadcast-size histograms → tiny cross with the ladder.
    "g20_richclub" -> ((s, dir) => {
      val edges = GraphQ.domesticCoSupply(s, dir).cache()
      val deg = edges.select(col("a").as("nid"))
        .union(edges.select(col("b").as("nid")))
        .groupBy("nid").agg(count(lit(1)).as("d"))
      val nodeHist = deg.groupBy("d").agg(count(lit(1)).as("cnt"))
      val edgeHist = edges
        .join(deg.select(col("nid").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("nid").as("b"), col("d").as("db")), "b")
        .select(least(col("da"), col("db")).as("m"))
        .groupBy("m").agg(count(lit(1)).as("ecnt"))
      val ladder = Seq(0L, 1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L, 512L)
      import s.implicits._
      val ks = ladder.toDF("k")
      val nk = ks.join(nodeHist, col("d") > col("k"), "left")
        .groupBy("k").agg(coalesce(sum(col("cnt")), lit(0L)).as("n_k"))
      val ek = ks.join(edgeHist, col("m") > col("k"), "left")
        .groupBy("k").agg(coalesce(sum(col("ecnt")), lit(0L)).as("e_k"))
      nk.join(ek, "k").filter(col("n_k") >= 2)
        .select(col("k"), col("n_k"), col("e_k"),
          r6((lit(2.0) * col("e_k").cast("double")) /
            (col("n_k").cast("double") *
              (col("n_k").cast("double") - lit(1.0)))).as("phi"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "m49_cooks" ->
      s"""WITH li AS (SELECT l_orderkey, l_linenumber,
        |  l_quantity::BIGINT AS x,
        |  ${latticeSql("l_extendedprice", 100)} AS y
        | FROM lineitem),
        |mom AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |  sum(y)::BIGINT AS sy,
        |  sum(x::DECIMAL(38,0) * x) AS sxx,
        |  sum(x::DECIMAL(38,0) * y) AS sxy,
        |  sum(y::DECIMAL(38,0) * y) AS syy
        | FROM li),
        |cent AS (SELECT n, sx, sy,
        |  sxy * n - sx::DECIMAL(38,0) * sy AS numb,
        |  sxx * n - sx::DECIMAL(38,0) * sx AS den,
        |  syy * n - sy::DECIMAL(38,0) * sy AS numyy
        | FROM mom),
        |scal AS (SELECT n, sx, den,
        |  (numb::VARCHAR)::DOUBLE / (den::VARCHAR)::DOUBLE AS b,
        |  (sy::DOUBLE - ((numb::VARCHAR)::DOUBLE / (den::VARCHAR)::DOUBLE) * sx::DOUBLE)
        |    / n::DOUBLE AS a,
        |  (((numyy::VARCHAR)::DOUBLE - ((numb::VARCHAR)::DOUBLE / (den::VARCHAR)::DOUBLE) * (numb::VARCHAR)::DOUBLE)
        |    / n::DOUBLE) / (n::DOUBLE - 2.0) AS s2
        | FROM cent),
        |d AS (SELECT l_orderkey, l_linenumber,
        |  (e * e * h) / (2.0 * s2 * (1.0 - h) * (1.0 - h)) AS cook, h
        | FROM (SELECT l_orderkey, l_linenumber, s2,
        |   1.0 / n::DOUBLE + (dx::DOUBLE * dx::DOUBLE) /
        |     (n::DOUBLE * (den::VARCHAR)::DOUBLE) AS h,
        |   y::DOUBLE - (a + b * x::DOUBLE) AS e
        |  FROM (SELECT li.*, scal.*, n * x - sx AS dx FROM li, scal)))
        |SELECT l_orderkey, l_linenumber, round(cook, 6) AS cook_d,
        | round(h, 6) AS leverage
        |FROM d ORDER BY cook DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin,

    "g20_richclub" ->
      s"""WITH ${GraphQ.domesticCoSupplySql("e")},
        |deg AS (SELECT nid, count(*)::BIGINT AS d FROM
        |  (SELECT a AS nid FROM e UNION ALL SELECT b FROM e)
        | GROUP BY nid),
        |nh AS (SELECT d, count(*)::BIGINT AS cnt FROM deg GROUP BY d),
        |eh AS (SELECT least(da.d, db.d) AS m, count(*)::BIGINT AS ecnt
        | FROM e JOIN deg da ON e.a = da.nid JOIN deg db ON e.b = db.nid
        | GROUP BY 1),
        |ks AS (SELECT unnest([0,1,2,4,8,16,32,64,128,256,512])::BIGINT
        |  AS k),
        |nk AS (SELECT k, coalesce(sum(cnt), 0)::BIGINT AS n_k
        | FROM ks LEFT JOIN nh ON nh.d > ks.k GROUP BY k),
        |ek AS (SELECT k, coalesce(sum(ecnt), 0)::BIGINT AS e_k
        | FROM ks LEFT JOIN eh ON eh.m > ks.k GROUP BY k)
        |SELECT k, n_k, e_k,
        | round((2.0 * e_k::DOUBLE) /
        |   (n_k::DOUBLE * (n_k::DOUBLE - 1.0)), 6) AS phi
        |FROM nk JOIN ek USING (k)
        |WHERE n_k >= 2""".stripMargin)
}
