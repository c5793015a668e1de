package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import Q._

/** Round-5 batch 3: graph link prediction, rank correlation,
  * incremental aggregate maintenance, time-series symbolization, and
  * audio voice-activity detection. Net-new vs the reference
  * (SURVEY.md §2.11); all follow the ORACLE_NOTES exact-integer
  * contract — counts/ranks/frame-sums are BIGINTs, single-ln terms
  * integerize on the micro lattice, and each emitted float is an IEEE
  * chain over exact integers mirrored token-for-token in the oracle.
  */
object Curation3Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // Link prediction (common-neighbors + Adamic-Adar) on the
    // customer–supplier interaction graph: supplier candidate pairs
    // are scored by their shared customers, each customer voting
    // 1/ln(deg). The AA term integerizes ONCE per customer
    // (round(1e6/ln(deg)) — single-ln, micro lattice), so pair scores
    // are exact BIGINT sums. Scale controls: the wedge pivots on the
    // LOW-degree side (customers, deg capped 2..40 — the g2_triangles
    // hub-cap; suppliers here are ~500-degree hubs and would square),
    // and candidate generation is blocked (supplier-id distance ≤ 5),
    // so both the wedge output and the result stay linear in the edge
    // count at any SF. One groupBy on the (a,b) pair key.
    "g6_linkpred" -> ((s, dir) => {
      val edges = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").cast("long").as("cust"),
          col("l_suppkey").cast("long").as("supp"))
        .distinct()
        // the edge table feeds several aggregates below; identical
        // scan+distinct subtrees are NOT deduped across DataFrame
        // reuse, so cache it once (the t_tfidf lesson)
        .cache()
      val deg = edges.groupBy("cust").agg(count(lit(1)).as("dz"))
        .filter(col("dz") >= 2 && col("dz") <= 40)
        .withColumn("aa6",
          round(lit(1e6) / log(col("dz").cast("double"))).cast("long"))
      val sm = edges.join(deg, "cust")
      val a = sm.select(col("cust"), col("supp").as("sa"), col("aa6"))
      val b = sm.select(col("cust"), col("supp").as("sb"))
      a.join(b, "cust")
        .filter(col("sb") > col("sa") && col("sb") - col("sa") <= 5)
        .groupBy("sa", "sb")
        .agg(count(lit(1)).as("n_common"), sum("aa6").as("aa_sum6"))
        .filter(col("n_common") >= 2)
    }),

    // Spearman rank correlation of value vs time per user — the
    // monotone-trend detector (Pearson a18 misses nonlinear drifts).
    // Both rank vectors ride the DOUBLED-rank integer lattice (time
    // ranks are unique by total order; value ranks are tie-averaged as
    // 2·min_rank + cnt − 1), so all five moment sums are exact
    // BIGINTs; rho is the num/(sqrt·sqrt) IEEE tail over exact ints
    // (the a45_runs pattern). Bounds: n⁴ must stay under 2^63 — fine
    // through ~50k rows per group; shard longer series first.
    "a46_spearman" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          lattice(col("value"), 100).as("c"))
      val wSeq = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val wVal = Window.partitionBy("user_id").orderBy("c")
      val wTie = Window.partitionBy("user_id", "c")
      val ranked = e.select(col("user_id"),
        (row_number().over(wSeq).cast("long") * 2).as("dx"),
        (rank().over(wVal).cast("long") * 2 +
          count(lit(1)).over(wTie) - 1).as("dy"))
      val g = ranked.groupBy("user_id").agg(
        count(lit(1)).as("n"),
        sum("dx").as("sx"), sum("dy").as("sy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"),
        sum(col("dx") * col("dy")).as("sxy"))
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val d1 = col("n") * col("sxx") - col("sx") * col("sx")
      val d2 = col("n") * col("syy") - col("sy") * col("sy")
      g.select(col("user_id"), col("n"),
        when(d1 > 0 && d2 > 0,
          num.cast("double") /
            (sqrt(d1.cast("double")) * sqrt(d2.cast("double"))))
          .otherwise(lit(null).cast("double")).as("rho"))
    }),

    // Incremental aggregate maintenance — the lakehouse pattern that
    // avoids full recompute: a materialized per-key aggregate (base)
    // is merged with a CDC delta batch carrying signed row changes
    // (+1 insert, −1 delete). Counts and sums are re-aggregatable, so
    // the merge is ONE full-outer equi-join of two small aggregates;
    // the raw base table is never rescanned. All-BIGINT.
    "o18_incr_agg" -> ((s, dir) => {
      val li = lineitem(s, dir).select(col("l_suppkey"),
        col("l_orderkey"), col("l_linenumber"),
        lattice(col("l_extendedprice"), 100).as("cents"))
      val bAgg = li.filter(col("l_orderkey") % 10 =!= 0)
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_base"), sum("cents").as("s_base"))
      val dAgg = li.filter(col("l_orderkey") % 10 === 0)
        .withColumn("sgn",
          when(col("l_linenumber") % 2 === 0, -1L).otherwise(1L))
        .groupBy("l_suppkey")
        .agg(sum("sgn").as("n_delta"), sum(col("sgn") * col("cents")).as("s_delta"))
      bAgg.join(dAgg, Seq("l_suppkey"), "full_outer")
        .select(col("l_suppkey"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_delta"), lit(0L)).as("n_delta"),
          (coalesce(col("n_base"), lit(0L)) +
            coalesce(col("n_delta"), lit(0L))).as("n_after"),
          (coalesce(col("s_base"), lit(0L)) +
            coalesce(col("s_delta"), lit(0L))).as("s_after"))
    }),

    // SAX symbolization (PAA + alphabet binning): each user's series
    // is chunked into 4-row pieces in time order; the chunk's exact
    // cent sum bins into {a,b,c,d} by integer breakpoints, and the
    // per-user SAX word concatenates symbols in chunk order — the
    // representation behind wholesale time-series indexing/similarity.
    // Partial tail chunks are dropped (standard PAA framing). Fully
    // integer-decided; one window exchange + one groupBy on user.
    "w49_sax" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          lattice(col("value"), 100).as("c"))
      val wSeq = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val chunks = e
        .withColumn("chunk", ((row_number().over(wSeq) - 1) / 4).cast("long"))
        .groupBy("user_id", "chunk")
        .agg(count(lit(1)).as("n_c"), sum("c").as("s_c"))
        .filter(col("n_c") === 4)
        .withColumn("sym",
          when(col("s_c") < 10000L, "a").when(col("s_c") < 20000L, "b")
            .when(col("s_c") < 30000L, "c").otherwise("d"))
      chunks.groupBy("user_id").agg(
        count(lit(1)).as("n_chunks"),
        array_join(transform(
          array_sort(collect_list(struct(col("chunk"), col("sym")))),
          x => x.getField("sym")), "").as("sax_word"))
    }),

    // Voice-activity detection over REAL s16le PCM decode: deterministic
    // per-doc payloads (the mm_audio generator), framed at 100 samples;
    // voiced = exact frame amplitude sum ≥ threshold; plus the voiced-
    // SEGMENT count (runs of consecutive voiced frames). The oracle
    // reproduces every sample analytically — only a genuine decode
    // matches. Encode + decode are both map-side mapPartitions kernels.
    "mm_vad" -> ((s, dir) => {
      import s.implicits._
      val withPcm = documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.syntheticPcm(id, (500 + (id % 97) * 10).toInt))
        }).toDF("doc_id", "payload")
      Multimodal.vadStats(withPcm, "payload")
        .select(col("doc_id"), col("n_frames").cast("long").as("n_frames"),
          col("n_voiced"), col("n_segments"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "g6_linkpred" ->
      """WITH edges AS (SELECT DISTINCT o_custkey::BIGINT AS cust,
        |  l_suppkey::BIGINT AS supp
        | FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        |deg AS (SELECT cust, count(*) AS dz,
        |  CAST(round(1000000.0 / ln(count(*)::DOUBLE)) AS BIGINT) AS aa6
        | FROM edges GROUP BY cust HAVING count(*) BETWEEN 2 AND 40),
        |sm AS (SELECT e.cust, e.supp, d.aa6 FROM edges e JOIN deg d USING (cust))
        |SELECT a.supp AS sa, b.supp AS sb,
        | count(*) AS n_common, sum(a.aa6)::BIGINT AS aa_sum6
        |FROM sm a JOIN sm b ON b.cust = a.cust
        |  AND b.supp > a.supp AND b.supp - a.supp <= 5
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    "a46_spearman" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |r AS (SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |    ::BIGINT * 2 AS dx,
        |  rank() OVER (PARTITION BY user_id ORDER BY c)::BIGINT * 2
        |    + count(*) OVER (PARTITION BY user_id, c) - 1 AS dy
        | FROM e),
        |g AS (SELECT user_id, count(*)::BIGINT AS n,
        |  sum(dx)::BIGINT AS sx, sum(dy)::BIGINT AS sy,
        |  sum(dx * dx)::BIGINT AS sxx, sum(dy * dy)::BIGINT AS syy,
        |  sum(dx * dy)::BIGINT AS sxy
        | FROM r GROUP BY user_id)
        |SELECT user_id, n,
        | CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |  (n * sxy - sx * sy)::DOUBLE
        |   / (sqrt((n * sxx - sx * sx)::DOUBLE)
        |      * sqrt((n * syy - sy * sy)::DOUBLE))
        | END AS rho
        |FROM g""".stripMargin,

    "o18_incr_agg" ->
      s"""WITH li AS (SELECT l_suppkey, l_orderkey, l_linenumber,
        |  ${latticeSql("l_extendedprice", 100)} AS cents
        | FROM lineitem),
        |b AS (SELECT l_suppkey, count(*) AS n_base, sum(cents)::BIGINT AS s_base
        | FROM li WHERE l_orderkey % 10 != 0 GROUP BY 1),
        |d AS (SELECT l_suppkey,
        |  sum(CASE WHEN l_linenumber % 2 = 0 THEN -1 ELSE 1 END)::BIGINT
        |    AS n_delta,
        |  sum((CASE WHEN l_linenumber % 2 = 0 THEN -1 ELSE 1 END) * cents)
        |    ::BIGINT AS s_delta
        | FROM li WHERE l_orderkey % 10 = 0 GROUP BY 1)
        |SELECT coalesce(b.l_suppkey, d.l_suppkey) AS l_suppkey,
        | coalesce(n_base, 0)::BIGINT AS n_base,
        | coalesce(n_delta, 0)::BIGINT AS n_delta,
        | (coalesce(n_base, 0) + coalesce(n_delta, 0))::BIGINT AS n_after,
        | (coalesce(s_base, 0) + coalesce(s_delta, 0))::BIGINT AS s_after
        |FROM b FULL OUTER JOIN d USING (l_suppkey)""".stripMargin,

    "w49_sax" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |ch AS (SELECT user_id,
        |  (row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |    - 1) // 4 AS chunk, c
        | FROM e),
        |agg AS (SELECT user_id, chunk, count(*) AS n_c, sum(c)::BIGINT AS s_c
        | FROM ch GROUP BY 1, 2),
        |sym AS (SELECT user_id, chunk,
        |  CASE WHEN s_c < 10000 THEN 'a' WHEN s_c < 20000 THEN 'b'
        |       WHEN s_c < 30000 THEN 'c' ELSE 'd' END AS sym
        | FROM agg WHERE n_c = 4)
        |SELECT user_id, count(*)::BIGINT AS n_chunks,
        | string_agg(sym, '' ORDER BY chunk) AS sax_word
        |FROM sym GROUP BY user_id""".stripMargin,

    "mm_vad" ->
      """WITH d AS (SELECT doc_id, 500 + (doc_id % 97) * 10 AS n FROM documents),
        |s AS (SELECT doc_id, i // 100 AS f,
        |  abs(((doc_id * 31 + i * 37) % 4001) - 2000) AS a
        | FROM d, range(0, 1460) AS t(i) WHERE i < (n // 100) * 100),
        |fr AS (SELECT doc_id, f, sum(a)::BIGINT AS sm FROM s GROUP BY 1, 2),
        |v AS (SELECT doc_id, f, sm >= 100000 AS voiced FROM fr),
        |r AS (SELECT doc_id, f, voiced,
        |  lag(voiced) OVER (PARTITION BY doc_id ORDER BY f) AS pv FROM v)
        |SELECT doc_id, count(*)::BIGINT AS n_frames,
        | sum(CASE WHEN voiced THEN 1 ELSE 0 END)::BIGINT AS n_voiced,
        | sum(CASE WHEN voiced AND (pv IS NULL OR NOT pv) THEN 1 ELSE 0 END)
        |   ::BIGINT AS n_segments
        |FROM r GROUP BY doc_id""".stripMargin)
}
