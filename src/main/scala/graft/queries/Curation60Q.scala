package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.Text
import Q._

/** Round-9 batch 60: Katz centrality (the damped path-count ladder
  * PageRank's teleport hides), the Hill tail-index estimator (the MLE
  * companion to t_zipf_slope's whole-spectrum OLS), and the Qini
  * uplift curve (the targeting-model evaluation a48_cuped/a63_did
  * stop short of). Net-new vs the 437-query surface (grep-checked:
  * no katz/hill/qini). Exactness: Katz is pure BIGINT path counts on
  * the dyadic β=1/8 lattice (score·4096 is an exact integer); Hill
  * folds 100 single-ln terms over a sorted collected list (trap-10);
  * Qini's per-decile value is ONE division of exact cross-multiplied
  * BIGINT cumulative cells.
  */
object Curation60Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // G22: Katz centrality with β = 1/8, 4 rounds, on the same
    // customer↔supplier bipartite graph as g_pagerank. katz(v) =
    // Σ_{k=1..4} β^k · (#paths of length k ending at v), so
    // katz·8⁴ = 512·p1 + 64·p2 + 8·p3 + p4 is an EXACT BIGINT —
    // no float recursion, bit-identical across engines and
    // partitionings. Pregel shape: each round is ONE frontier
    // shuffle (scores join edges on src, sum by dst); 4 rounds at
    // any scale. The final /4096.0 is exact (dyadic).
    "g22_katz" -> ((s, dir) => {
      val edges = GraphQ.symEdges(s, dir).toDF("src", "dst")
      var x = edges.select(col("src").as("node")).distinct()
        .withColumn("p", lit(1L))
      val paths = (1 to 4).map { _ =>
        x = edges.join(x.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node")).agg(sum("p").as("p"))
          .select(col("node"), col("p"))
        x
      }
      val j = paths.zipWithIndex.map { case (df, i) =>
        df.withColumnRenamed("p", s"p${i + 1}")
      }.reduce((a, b) => a.join(b, Seq("node")))
      j.select(col("node"), col("p1"), col("p2"), col("p3"), col("p4"),
          (lit(512L) * col("p1") + lit(64L) * col("p2") +
            lit(8L) * col("p3") + col("p4")).as("katz_x4096"))
        .withColumn("katz", col("katz_x4096").cast("double") / 4096.0)
    }),

    // A109: Hill estimator of the BIGRAM-frequency tail index — the
    // conditional MLE for the Pareto exponent over the top-k order
    // statistics (k = 100): H = (1/k)·Σ_{i≤k} ln(f_i / f_(k+1)),
    // α̂ = 1 + 1/H. Where t_zipf_slope fits the whole log-log
    // spectrum by OLS (biased by the non-power-law body), Hill uses
    // only the tail — the standard check that a corpus's head terms
    // actually follow a power law. Word bigrams (the t_bigram_rare
    // lattice) give the spectrum enough support for k = 100 — the
    // unigram vocabulary of the synthetic corpus is only 31 types.
    // The k+1 order statistics are selected on the total (count
    // desc, term) order; the float sum is a pinned fold over the
    // rank-sorted collected list.
    "a109_hill" -> ((s, dir) => {
      val toks = Text.tokens(Text.normalizeAz(col("text")))
      val m = greatest(size(col("toks")) - 1, lit(0))
      val bigrams = zip_with(
        slice(col("toks"), lit(1), m), slice(col("toks"), lit(2), m),
        (a, b) => concat(a, lit("_"), b))
      val tf = documents(s, dir)
        .select(col("doc_id"), toks.as("toks"))
        .select(explode(bigrams).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      val top = tf.orderBy(col("cnt").desc, col("term")).limit(101)
      val l = top.agg(sort_array(collect_list(struct(
        (-col("cnt")).as("nc"), col("term"), col("cnt")))).as("xs"))
        .select(col("xs"), element_at(col("xs"), 101)
          .getField("cnt").as("f_tail"))
      val hillSum = aggregate(slice(col("xs"), 1, 100), lit(0.0),
        (a, x) => a + log(x.getField("cnt").cast("double") /
          col("f_tail").cast("double")))
      l.select(lit(100L).as("k"), col("f_tail"),
          (hillSum / 100.0).as("__h"))
        .select(col("k"), col("f_tail"), r6(col("__h")).as("hill_h"),
          r6(lit(1.0) + lit(1.0) / col("__h")).as("alpha"))
    }),

    // M54: Qini uplift curve by spend decile — treatment = even
    // user_id (the a48/a82 A/B convention), outcome = "any
    // purchase", targeting score = total spend cents. Users are
    // ranked by (score desc, user_id) via DistRank (never a global
    // window), cut into ntile deciles; cumulative treated/control
    // counts and conversions come from a bounded 10×10 cell
    // self-join. qini(d) = Yt_cum − Yc_cum·Nt_cum/Nc_cum, emitted
    // as the exact cross-multiplied numerator over Nc_cum — ONE
    // division of exact BIGINTs per decile.
    "m54_qini" -> ((s, dir) => {
      import graft.operators.DistRank
      val e = graft.io.Tables.eventsUs(s, dir)
      val g = e.groupBy("user_id").agg(
        sum(lattice(col("value"), 100)).as("cents"),
        max((col("event_type") === "purchase").cast("long")).as("y"))
        .select(col("user_id"), col("cents"), col("y"),
          (pmod(col("user_id"), lit(2L)) === 0L).cast("long").as("t"))
      val ranked = DistRank.rowNumber(g, -col("cents"),
        Seq(col("cents").desc, col("user_id")), "__r",
        totalAs = Some("__n"))
      val deciles = ranked
        .select(col("t"), col("y"),
          DistRank.ntileOf(col("__r"), col("__n"), 10).as("decile"))
        .groupBy("decile").agg(
          sum("t").as("nt"), (count(lit(1)) - sum("t")).as("nc"),
          sum(col("t") * col("y")).as("yt"),
          sum((lit(1L) - col("t")) * col("y")).as("yc"))
      val b = deciles.select(col("decile").as("d_b"), col("nt").as("nt_b"),
        col("nc").as("nc_b"), col("yt").as("yt_b"), col("yc").as("yc_b"))
      deciles.join(broadcast(b), col("d_b") <= col("decile"))
        .groupBy("decile").agg(
          sum("nt_b").as("nt_cum"), sum("nc_b").as("nc_cum"),
          sum("yt_b").as("yt_cum"), sum("yc_b").as("yc_cum"))
        .select(col("decile"), col("nt_cum"), col("nc_cum"),
          col("yt_cum"), col("yc_cum"),
          r6((col("yt_cum") * col("nc_cum") -
            col("yc_cum") * col("nt_cum")).cast("double") /
            col("nc_cum").cast("double")).as("qini"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "g22_katz" ->
      s"""WITH ${GraphQ.SymSql},
         |edges AS (SELECT a AS src, b AS dst FROM sym),
         |x0 AS (SELECT DISTINCT src AS node, 1::BIGINT AS p FROM edges),
         |x1 AS (SELECT e.dst AS node, CAST(sum(x.p) AS BIGINT) AS p
         | FROM edges e JOIN x0 x ON x.node = e.src GROUP BY e.dst),
         |x2 AS (SELECT e.dst AS node, CAST(sum(x.p) AS BIGINT) AS p
         | FROM edges e JOIN x1 x ON x.node = e.src GROUP BY e.dst),
         |x3 AS (SELECT e.dst AS node, CAST(sum(x.p) AS BIGINT) AS p
         | FROM edges e JOIN x2 x ON x.node = e.src GROUP BY e.dst),
         |x4 AS (SELECT e.dst AS node, CAST(sum(x.p) AS BIGINT) AS p
         | FROM edges e JOIN x3 x ON x.node = e.src GROUP BY e.dst)
         |SELECT x1.node, x1.p AS p1, x2.p AS p2, x3.p AS p3, x4.p AS p4,
         | CAST(512 * x1.p + 64 * x2.p + 8 * x3.p + x4.p AS BIGINT)
         |   AS katz_x4096,
         | CAST(512 * x1.p + 64 * x2.p + 8 * x3.p + x4.p AS BIGINT)::DOUBLE
         |   / 4096.0 AS katz
         |FROM x1 JOIN x2 USING (node) JOIN x3 USING (node)
         | JOIN x4 USING (node)""".stripMargin,

    "a109_hill" ->
      s"""WITH $TokCte,
         |bg AS (SELECT unnest(list_transform(range(1, len(toks)),
         |  i -> toks[i] || '_' || toks[i + 1])) AS g FROM tok),
         |tf AS (SELECT g AS term, count(*)::BIGINT AS cnt
         |  FROM bg GROUP BY g),
         |top AS (SELECT term, cnt
         | FROM tf ORDER BY cnt DESC, term LIMIT 101),
         |l AS (SELECT list(struct_pack(nc := -cnt, term := term,
         |    cnt := cnt) ORDER BY -cnt, term) AS xs FROM top),
         |f AS (SELECT xs[101].cnt AS f_tail,
         |  list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(xs[1:100], x ->
         |      ln(x.cnt::DOUBLE / xs[101].cnt::DOUBLE))),
         |   (a, b) -> a + b) / 100.0 AS h
         | FROM l)
         |SELECT 100::BIGINT AS k, f_tail, round(h, 6) AS hill_h,
         | round(1.0 + 1.0 / h, 6) AS alpha
         |FROM f""".stripMargin,

    "m54_qini" ->
      s"""WITH g AS (SELECT user_id,
        |  CAST(sum(${latticeSql("value", 100)}) AS BIGINT) AS cents,
        |  max((event_type = 'purchase')::BIGINT) AS y,
        |  (user_id % 2 = 0)::BIGINT AS t
        | FROM events GROUP BY user_id),
        |d AS (SELECT t, y,
        |  ntile(10) OVER (ORDER BY cents DESC, user_id)::BIGINT AS decile
        | FROM g),
        |cells AS (SELECT decile, CAST(sum(t) AS BIGINT) AS nt,
        |  CAST(count(*) - sum(t) AS BIGINT) AS nc,
        |  CAST(sum(t * y) AS BIGINT) AS yt,
        |  CAST(sum((1 - t) * y) AS BIGINT) AS yc
        | FROM d GROUP BY decile),
        |c AS (SELECT a.decile,
        |  CAST(sum(b.nt) AS BIGINT) AS nt_cum,
        |  CAST(sum(b.nc) AS BIGINT) AS nc_cum,
        |  CAST(sum(b.yt) AS BIGINT) AS yt_cum,
        |  CAST(sum(b.yc) AS BIGINT) AS yc_cum
        | FROM cells a JOIN cells b ON b.decile <= a.decile
        | GROUP BY a.decile)
        |SELECT decile, nt_cum, nc_cum, yt_cum, yc_cum,
        | round((yt_cum * nc_cum - yc_cum * nt_cum)::DOUBLE
        |   / nc_cum::DOUBLE, 6) AS qini
        |FROM c""".stripMargin)
}
