package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import Q._

/** Round-5 batch 10: nonparametric testing (Mann–Whitney U), sketch
  * quality auditing (MinHash vs exact Jaccard), and visualization
  * downsampling (LTTB). Net-new vs the reference (SURVEY.md §2.11).
  * Exactness: doubled tie-averaged ranks and match counts are
  * BIGINTs; the sketch error rides an integer ppm lattice; the LTTB
  * triangle areas are fully cross-multiplied integer determinants
  * with a packed-BIGINT per-bucket argmax.
  */
object Curation10Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // Mann–Whitney U (Wilcoxon rank-sum) per event type: does the
    // even-user arm's value distribution differ from the odd arm's —
    // the nonparametric A/B test the a35_ab t-test can't replace when
    // distributions are skewed. Doubled tie-averaged ranks (the a46
    // lattice) make every rank sum exact; 2·U and the z-statistic's
    // IEEE chain mirror token-for-token. (No tie-variance correction —
    // documented; the z is the large-sample approximation.)
    "a50_mannwhitney" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_type"), (col("user_id") % 2 === 0).as("armA"),
          lattice(col("value"), 100).as("c"),
          col("event_id"))
      val wVal = Window.partitionBy("event_type").orderBy("c")
      val wTie = Window.partitionBy("event_type", "c")
      val ranked = e.select(col("event_type"), col("armA"),
        (rank().over(wVal).cast("long") * 2 +
          count(lit(1)).over(wTie) - 1).as("dr"))
      val g = ranked.groupBy("event_type").agg(
        sum(when(col("armA"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("armA"), 1L).otherwise(0L)).as("nb"),
        sum(when(col("armA"), col("dr")).otherwise(0L)).as("ra2"))
      // 2U_A = ΣdrA − n_A(n_A+1) (doubled-rank form)
      val u2 = col("ra2") - col("na") * (col("na") + 1)
      val mu2 = col("na") * col("nb") // 2·μ_U = n_A·n_B
      val sg = sqrt((col("na") * col("nb") *
        (col("na") + col("nb") + 1)).cast("double") / 12.0)
      g.select(col("event_type"), col("na"), col("nb"), u2.as("u2_a"),
        when(col("na") > 0 && col("nb") > 0,
          ((u2 - mu2).cast("double") / 2.0) / sg)
          .otherwise(lit(null).cast("double")).as("z"))
    }),

    // MinHash estimator error audit: for adjacent doc pairs, the
    // 12-slot signature match count (est ≈ matches/12) against the
    // EXACT Jaccard of the gram-hash sets, with the error on an
    // integer ppm lattice (difference of two integer DIVs — no float
    // compare anywhere). The quality gate that tells you whether 12
    // hashes suffice for your dedup threshold before a 100 TB run.
    "d_minhash_err" -> ((s, dir) => {
      // cached: both join sides read the gram+signature frame; the
      // hash chain would otherwise run twice over the corpus (the
      // t_editdist / t_chrf pattern)
      val d = documents(s, dir).select(col("doc_id"),
        Dedup.gramHashes(col("text")).as("g"))
        .withColumn("sig", Dedup.signatureFromGrams(col("g")))
        .filter(size(col("g")) > 0)
        .cache()
      val a = d.select(col("doc_id").as("doc_a"), col("g").as("ga"),
        col("sig").as("sa"))
      val b = d.select((col("doc_id") - 1).as("doc_a"),
        col("doc_id").as("doc_b"), col("g").as("gb"), col("sig").as("sb"))
      val inter = size(array_intersect(col("ga"), col("gb"))).cast("long")
      val uni = (size(col("ga")) + size(col("gb"))).cast("long") - inter
      val matches = aggregate(
        zip_with(col("sa"), col("sb"), (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), (acc, v) => acc + v)
      a.join(b, "doc_a")
        .select(col("doc_a"), col("doc_b"), matches.as("matches"),
          inter.as("inter"), uni.as("uni"))
        .withColumn("err_ppm",
          abs(expr("matches * 1000000 DIV 12") -
            expr("inter * 1000000 DIV uni")))
    }),

    // Largest-Triangle-Three-Buckets downsampling (the dashboard
    // decimation standard): per user, 10-row PAA buckets; each
    // interior bucket keeps the point maximizing the triangle area
    // against the previous and next bucket CENTROIDS (the one-pass
    // LTTB variant). The area is a fully cross-multiplied integer
    // determinant — centroid denominators cleared by n_prev·n_next —
    // and the per-bucket pick is a packed-BIGINT argmax (area in the
    // high bits, inverted in-bucket rank tiebreak in the low bits).
    // One window exchange + one groupBy, all on the user key.
    "w53_lttb" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          lattice(col("value"), 100).as("y"))
      val wSeq = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val pts = e.withColumn("rn", row_number().over(wSeq).cast("long"))
        .withColumn("bkt", expr("(rn - 1) DIV 10"))
      val aggs = pts.groupBy("user_id", "bkt").agg(
        count(lit(1)).as("n"), sum("rn").as("sx"), sum("y").as("sy"))
      val prev = aggs.select(col("user_id"), (col("bkt") + 1).as("bkt"),
        col("n").as("np"), col("sx").as("sxp"), col("sy").as("syp"))
      val nxt = aggs.select(col("user_id"), (col("bkt") - 1).as("bkt"),
        col("n").as("nn"), col("sx").as("sxn"), col("sy").as("syn"))
      val joined = pts.join(prev, Seq("user_id", "bkt"))
        .join(nxt, Seq("user_id", "bkt"))
      // area ∝ |(ax−nx)(py−ay) − (ax−px)(ny−ay)| with a = prev
      // centroid, nxt = next centroid; cleared of the /np and /(np·nn)
      // denominators (positive factors preserve the argmax). The x
      // coordinate is REBASED to the 3-bucket window's origin (areas
      // are translation-invariant), so every factor is bounded by the
      // bucket span — the packed product stays < 2^52 at ANY group
      // size, not just small ones:
      //   A2 = |(sxp'·nn − sxn'·np)·(py·np − syp)
      //        − (sxp' − px'·np)·(syn·np − syp·nn)|,  v' = v − base
      val base = (col("bkt") - 1) * 10
      val sxpR = col("sxp") - col("np") * base
      val sxnR = col("sxn") - col("nn") * base
      val pxR = col("rn") - base
      val a2 = abs(
        (sxpR * col("nn") - sxnR * col("np")) *
          (col("y") * col("np") - col("syp")) -
        (sxpR - pxR * col("np")) *
          (col("syn") * col("np") - col("syp") * col("nn")))
      val packed = a2 * 1048576L + (lit(1048575L) - pmod(col("rn"), lit(1048576L)))
      val best = joined.withColumn("pk", packed)
        .groupBy("user_id", "bkt").agg(max("pk").as("mx"))
      joined.withColumn("pk", packed)
        .join(best, Seq("user_id", "bkt"))
        .filter(col("pk") === col("mx"))
        .select(col("user_id"), col("bkt"), col("event_id"), col("rn"),
          col("y"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  import LlmQ.slotSql

  val oracle: Seq[(String, String)] = Seq(

    "a50_mannwhitney" ->
      s"""WITH e AS (SELECT event_type, user_id % 2 = 0 AS arma,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |r AS (SELECT event_type, arma,
        |  rank() OVER (PARTITION BY event_type ORDER BY c)::BIGINT * 2
        |   + count(*) OVER (PARTITION BY event_type, c) - 1 AS dr
        | FROM e),
        |g AS (SELECT event_type,
        |  sum(CASE WHEN arma THEN 1 ELSE 0 END)::BIGINT AS na,
        |  sum(CASE WHEN NOT arma THEN 1 ELSE 0 END)::BIGINT AS nb,
        |  sum(CASE WHEN arma THEN dr ELSE 0 END)::BIGINT AS ra2
        | FROM r GROUP BY event_type)
        |SELECT event_type, na, nb,
        | ra2 - na * (na + 1) AS u2_a,
        | CASE WHEN na > 0 AND nb > 0 THEN
        |  (((ra2 - na * (na + 1)) - na * nb)::DOUBLE / 2.0)
        |   / sqrt((na * nb * (na + nb + 1))::DOUBLE / 12.0)
        | END AS z
        |FROM g""".stripMargin,

    "d_minhash_err" -> {
      val matchSql = (0 until 12).map(k =>
        s"CASE WHEN a.m$k = b.m$k THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH norm AS (SELECT doc_id, $NormSql AS t FROM documents),
         |g AS (SELECT doc_id, $GramsSql AS grams FROM norm),
         |sig AS (SELECT doc_id, grams,
         |  ${(0 until 12).map(k => s"${slotSql(k)} AS m$k").mkString(", ")}
         | FROM g WHERE len(grams) > 0)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | ($matchSql)::BIGINT AS matches,
         | len(list_intersect(a.grams, b.grams))::BIGINT AS inter,
         | (len(a.grams) + len(b.grams)
         |   - len(list_intersect(a.grams, b.grams)))::BIGINT AS uni,
         | abs(($matchSql)::BIGINT * 1000000 // 12
         |  - len(list_intersect(a.grams, b.grams))::BIGINT * 1000000
         |    // (len(a.grams) + len(b.grams)
         |        - len(list_intersect(a.grams, b.grams)))::BIGINT)
         |  AS err_ppm
         |FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1""".stripMargin
    },

    "w53_lttb" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  ${latticeSql("value", 100)} AS y FROM events),
        |p AS (SELECT user_id, event_id, y,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |    ::BIGINT AS rn
        | FROM e),
        |pts AS (SELECT *, (rn - 1) // 10 AS bkt FROM p),
        |ag AS (SELECT user_id, bkt, count(*)::BIGINT AS n,
        |  sum(rn)::BIGINT AS sx, sum(y)::BIGINT AS sy
        | FROM pts GROUP BY 1, 2),
        |j AS (SELECT t.user_id, t.bkt, t.event_id, t.rn, t.y,
        |  pv.n AS np, pv.sx AS sxp, pv.sy AS syp,
        |  nx.n AS nn, nx.sx AS sxn, nx.sy AS syn
        | FROM pts t
        | JOIN ag pv ON pv.user_id = t.user_id AND pv.bkt = t.bkt - 1
        | JOIN ag nx ON nx.user_id = t.user_id AND nx.bkt = t.bkt + 1),
        |ar AS (SELECT *,
        |  abs(((sxp - np * ((bkt - 1) * 10)) * nn
        |       - (sxn - nn * ((bkt - 1) * 10)) * np) * (y * np - syp)
        |    - ((sxp - np * ((bkt - 1) * 10))
        |       - (rn - (bkt - 1) * 10) * np) * (syn * np - syp * nn))
        |   * 1048576 + (1048575 - rn % 1048576) AS pk
        | FROM j),
        |best AS (SELECT user_id, bkt, max(pk) AS mx
        | FROM ar GROUP BY 1, 2)
        |SELECT ar.user_id, ar.bkt, ar.event_id, ar.rn, ar.y
        |FROM ar JOIN best ON best.user_id = ar.user_id
        |  AND best.bkt = ar.bkt AND ar.pk = best.mx""".stripMargin)
}
