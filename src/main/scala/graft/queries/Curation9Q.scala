package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text
import Q._

/** Round-5 batch 9: corpus-statistics diagnostics (Zipf slope, Heaps
  * vocabulary growth) and decision-threshold optimization. Net-new vs
  * the reference (SURVEY.md §2.11). Exactness: Zipf integerizes each
  * single-ln term once (micro lattice) then runs OLS over exact
  * BIGINT sums; Heaps counts are pure integers; the F1-optimal
  * threshold is an integer cross-product argmax — no float ever
  * decides anything.
  */
object Curation9Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // Zipf slope of the corpus frequency spectrum — the one-number
    // corpus-health check (natural text ≈ −1; pathological corpora
    // drift). ln(rank) and ln(freq) integerize per vocab entry on the
    // micro-nat lattice (single-ln, the t_unigram_lp audit), so the
    // OLS slope numerator/denominator are exact BIGINT sums and the
    // slope is ONE division. Top-1000 spectrum only: the tail's ties
    // make rank arbitrary and the head is what Zipf fits anyway.
    "t_zipf_slope" -> ((s, dir) => {
      val vocab = documents(s, dir)
        .select(explode(Text.tokens(Text.normalizeAz(col("text")))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("f"))
      // vocab is corpus-unbounded — rank via DistRank's bucketed
      // two-pass, then keep the head
      val ranked = graft.operators.DistRank.rowNumber(vocab, -col("f"),
          Seq(col("f").desc, col("tok")), "r")
        .filter(col("r") <= 1000)
        .select(
          round(lit(1e6) * log(col("r").cast("double"))).cast("long").as("x6"),
          round(lit(1e6) * log(col("f").cast("double"))).cast("long").as("y6"))
      ranked.agg(count(lit(1)).as("n"),
          sum("x6").as("sx"), sum("y6").as("sy"),
          sum(col("x6") * col("x6")).as("sxx"),
          sum(col("x6") * col("y6")).as("sxy"))
        .select(col("n"), col("sx"), col("sy"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("zipf_slope"))
    }),

    // Heaps-law vocabulary growth: distinct vocabulary size after the
    // first k documents, k ∈ {10, 50, 100, 250, 500, ...}. Each
    // token's first-appearance doc is an exact min; the curve is a
    // count per threshold — the diagnostic that tells you whether
    // more data still buys new vocabulary. One token groupBy + a tiny
    // threshold cross join.
    "t_heaps" -> ((s, dir) => {
      val firsts = documents(s, dir)
        .select(col("doc_id"),
          explode(Text.tokens(Text.normalizeAz(col("text")))).as("tok"))
        .groupBy("tok").agg(min("doc_id").as("first_doc"))
      val ks = s.range(1, 11).select((col("id") * 50).as("k"))
      firsts.crossJoin(broadcast(ks))
        .filter(col("first_doc") <= col("k"))
        .groupBy("k").agg(count(lit(1)).as("vocab_size"))
    }),

    // F1-optimal decision threshold from exact cumulative counts: for
    // every distinct score (cents), TP/FP/FN come from two running
    // sums over the score-sorted aggregate, and the best threshold is
    // a packed-BIGINT argmax over the CROSS-MULTIPLIED F1 comparison
    // (F1 = 2TP/(2TP+FP+FN), compared exactly as integer rationals
    // via a common-scale product — no float ranking). Emits the
    // winning threshold row. The per-distinct-score aggregate is tiny
    // (≤ 101 rows on this lattice), so the final window is bounded.
    "m28_best_f1" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir).select(
        ((col("event_id") * 37) % 101).as("score"),
        when(col("event_id") % 3 === 0, 1L).otherwise(0L).as("y"))
      val byScore = e.groupBy("score")
        .agg(count(lit(1)).as("n"), sum("y").as("np"))
      val tot = byScore.agg(sum("np").as("pos_total"))
      // predict positive when score >= threshold; the descending
      // cumsums distribute via DistRank (negated bucket key) even on
      // an unbounded score lattice
      val cum = graft.operators.DistRank.cumsum(byScore, -col("score"),
          Seq(col("score").desc),
          Seq((col("n"), "n_pred"), (col("np"), "tp")))
        .crossJoin(broadcast(tot))
        .select(col("score"), col("tp"),
          (col("n_pred") - col("tp")).as("fp"),
          (col("pos_total") - col("tp")).as("fn"))
      // F1 ranks exactly on a common integer lattice: f16 = 2·tp·10^6
      // DIV (2tp+fp+fn) (integer DIV — Spark's `/` on longs returns
      // DOUBLE), packed with the threshold for tie-safety.
      val withPk = cum.withColumn("pk",
        expr("(tp * 2000000 DIV (tp * 2 + fp + fn)) * 1024 + score % 1024"))
      val best = withPk.agg(max(col("pk")).as("mx"))
      withPk.crossJoin(broadcast(best))
        .filter(col("pk") === col("mx"))
        .select(col("score").as("best_threshold"), col("tp"), col("fp"),
          col("fn"),
          ((col("tp") * 2).cast("double") /
            (col("tp") * 2 + col("fp") + col("fn")).cast("double"))
            .as("f1"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "t_zipf_slope" ->
      s"""WITH vocab AS (SELECT tok, count(*) AS f
         | FROM (SELECT unnest($NormToksSql) AS tok FROM documents)
         | GROUP BY 1),
         |rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS r
         | FROM vocab),
         |top AS (SELECT f, r FROM rk WHERE r <= 1000),
         |p AS (SELECT
         |  CAST(round(1000000.0 * ln(r::DOUBLE)) AS BIGINT) AS x6,
         |  CAST(round(1000000.0 * ln(f::DOUBLE)) AS BIGINT) AS y6
         | FROM top)
         |SELECT count(*)::BIGINT AS n, sum(x6)::BIGINT AS sx,
         | sum(y6)::BIGINT AS sy,
         | (count(*) * sum(x6 * y6) - sum(x6) * sum(y6))::BIGINT::DOUBLE
         |  / (count(*) * sum(x6 * x6) - sum(x6) * sum(x6))::BIGINT::DOUBLE
         |  AS zipf_slope
         |FROM p""".stripMargin,

    "t_heaps" ->
      s"""WITH firsts AS (SELECT tok, min(doc_id) AS first_doc
         | FROM (SELECT doc_id, unnest($NormToksSql) AS tok FROM documents)
         | GROUP BY 1),
         |ks AS (SELECT unnest(range(1, 11)) * 50 AS k)
         |SELECT k::BIGINT AS k, count(*)::BIGINT AS vocab_size
         |FROM firsts, ks WHERE first_doc <= k GROUP BY 1""".stripMargin,

    "m28_best_f1" ->
      """WITH e AS (SELECT (event_id * 37) % 101 AS score,
        |  CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END::BIGINT AS y
        | FROM events),
        |b AS (SELECT score, count(*) AS n, sum(y)::BIGINT AS np
        | FROM e GROUP BY 1),
        |t AS (SELECT sum(np)::BIGINT AS pos_total FROM b),
        |c AS (SELECT score,
        |  sum(n) OVER (ORDER BY score DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS n_pred,
        |  sum(np) OVER (ORDER BY score DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS tp
        | FROM b),
        |m AS (SELECT score, tp, n_pred - tp AS fp, pos_total - tp AS fn,
        |  (tp * 2000000 // (tp * 2 + (n_pred - tp) + (pos_total - tp)))
        |    * 1024 + score % 1024 AS pk
        | FROM c, t),
        |best AS (SELECT max(pk) AS mx FROM m)
        |SELECT score AS best_threshold, tp, fp, fn,
        | (tp * 2)::DOUBLE / (tp * 2 + fp + fn)::DOUBLE AS f1
        |FROM m, best WHERE pk = mx""".stripMargin)
}
