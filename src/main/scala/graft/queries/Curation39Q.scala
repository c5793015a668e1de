package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-7 batch 39: Benjamini-Hochberg FDR control over EXACT
  * permutation p-values, two-stage retrieval (IVF-coarse then
  * exact-cosine rerank, with the recall-vs-brute-force readout
  * in-band), and the DeLong variance / CI of the ROC AUC. Net-new vs
  * the 380-query surface (grep-checked). Every decision is integer:
  * BH's p(i) <= i*alpha/m comparisons cross-multiply to BIGINTs, the
  * rerank boundary is the rounded-cosine total order, and DeLong's
  * placement values live on the doubled 1/(2n) lattice.
  */
object Curation39Q extends QueryModule {

  private val NPerm = 100

  /** Per-permutation arm assignment (the a78 lattice family, offset
    * so the two queries' permutations are independent). */
  private def inA(p: Int): Column =
    pmod(pmod(col("event_id"), lit(720720L)) * (1103515245L + 2L * p + 1L) +
      (54321L + p), lit(1000L)) < 500L

  val queries: Seq[(String, QueryFn)] = Seq(

    // A81: Benjamini-Hochberg FDR over per-segment EXACT permutation
    // p-values — the multiple-testing layer every metrics dashboard
    // needs once it tests 5+ segments at once. Stage 1 reuses the a78
    // machinery GROUPED by event type (one agg, 100 unrolled
    // permutation sums per group, every |T_p| >= |T_obs| comparison a
    // decimal(38,0) cross-multiplication). Stage 2 is BH at alpha =
    // 0.05: with p = (g+1)/101, the step-up condition p(i) <= i/100·
    // (alpha·m/m cancels at m=5, alpha=1/20: (g+1)·100 <= i·101·
    // 100/20... kept fully cross-multiplied below) is pure BIGINT.
    // The ranking window rides the EVENT-TYPE domain (5 rows — a
    // bounded-by-construction frame, the t_bpe_learn class).
    "a81_bh_fdr" -> ((s, dir) => {
      val dec = "decimal(38,0)"
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_type"), col("event_id"),
          lattice(col("value"), 100).as("c"),
          (pmod(col("user_id"), lit(2L)) === 0L).cast("long").as("obs_a"))
      val aggs =
        Seq(sum(when(col("obs_a") === 1L, col("c")).otherwise(0L)).as("s_obs"),
          sum(col("obs_a")).as("n_obs"),
          sum(col("c")).as("s_all"), count(lit(1)).as("n_all")) ++
        (0 until NPerm).flatMap { p =>
          Seq(sum(when(inA(p), col("c")).otherwise(0L)).as(s"s_$p"),
            sum(when(inA(p), 1L).otherwise(0L)).as(s"n_$p"))
        }
      val g = e.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
      def tNum(sA: Column, nA: Column): Column = {
        val sB = col("s_all") - sA
        val nB = col("n_all") - nA
        abs(sA.cast(dec) * nB.cast(dec) - sB.cast(dec) * nA.cast(dec))
      }
      def den(nA: Column): Column = (nA * (col("n_all") - nA)).cast(dec)
      val obsT = tNum(col("s_obs"), col("n_obs"))
      val geCount = (0 until NPerm).map { p =>
        when(tNum(col(s"s_$p"), col(s"n_$p")) * den(col("n_obs")) >=
          obsT * den(col(s"n_$p")), 1L).otherwise(0L)
      }.reduce(_ + _)
      val withP = g.select(col("event_type"), geCount.as("n_ge"),
        r6((geCount + 1L).cast("double") / (NPerm + 1L)).as("p_value"))
      val m = 5L // the event-type domain (bounded by construction)
      val wRank = Window.orderBy(col("n_ge"), col("event_type"))
      val wAll = Window.partitionBy(lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      // BH step-up at alpha = 1/20: p(i) <= i·alpha/m  <=>
      // (g+1)·20·m <= i·(NPerm+1)  — all BIGINT
      withP
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .withColumn("passes",
          ((col("n_ge") + 1L) * 20L * m <= col("rank") * (NPerm + 1L))
            .cast("long"))
        .withColumn("max_pass_rank",
          coalesce(max(when(col("passes") === 1L, col("rank"))).over(wAll),
            lit(0L)))
        .select(col("event_type"), col("n_ge"), col("p_value"), col("rank"),
          col("passes"),
          (col("rank") <= col("max_pass_rank")).cast("long").as("rejected"))
    }),

    // S: two-stage retrieval — the production ANN serving shape:
    // a cheap IVF-coarse candidate pass (within-cluster exact-BIGINT
    // milli dots, top-20) then an exact-cosine rerank (top-5 on the
    // 6-dp rounded total order), with per-query recall vs the
    // brute-force exact top-5 reported IN-BAND (the d_minhash_err
    // estimator-audit class). Query vectors 0-4 broadcast; candidate
    // windows are per-query (the v_mips_topk shape).
    "s_two_stage" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val cents = Q.ivfCentroids(s, dir)
      val asg = graft.operators.Similarity.ivfAssign(
        e, "vec_id", "embedding", cents, "cid", "cemb")
        .select(col("centroid_id"), col("vec_id"), col("embedding"))
        .cache()
      val qs = asg.filter(col("vec_id") < 5L)
        .select(col("vec_id").as("qid"), col("centroid_id").as("qcid"),
          col("embedding").as("qemb"))
      // coarse: same-cluster candidates ranked by exact milli dot
      val comps = (x: Column) =>
        transform(x, v => lattice(v.cast("double"), 1000))
      val cand = asg.join(broadcast(qs),
          col("centroid_id") === col("qcid") && col("vec_id") =!= col("qid"))
        .withColumn("dot6",
          aggregate(zip_with(comps(col("embedding")), comps(col("qemb")),
            (a, b) => a * b), lit(0L), (acc, t) => acc + t))
      val wCoarse = Window.partitionBy("qid")
        .orderBy(col("dot6").desc, col("vec_id"))
      val coarse = cand.withColumn("crk", row_number().over(wCoarse))
        .filter(col("crk") <= 20)
      // rerank: exact cosine on the survivors, 6-dp total order
      val wRe = Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("vec_id"))
      val reranked = coarse.withColumn("cos",
          round(graft.functions.Vectors.cosine(col("embedding"),
            col("qemb")), 6))
        .withColumn("rnk", row_number().over(wRe).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("rnk"), col("vec_id"), col("cos"))
      // brute-force exact top-5 for the recall flag
      val wBf = Window.partitionBy("qid")
        .orderBy(col("bcos").desc, col("vec_id"))
      val exact = e.withColumn("__k", lit(1))
        .join(broadcast(qs.withColumn("__k", lit(1))
          .select(col("__k"), col("qid"), col("qemb"))), "__k")
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("bcos",
          round(graft.functions.Vectors.cosine(col("embedding"),
            col("qemb")), 6))
        .withColumn("brk", row_number().over(wBf))
        .filter(col("brk") <= 5)
        .select(col("qid").as("e_qid"), col("vec_id").as("e_vid"))
      reranked.join(exact,
          col("qid") === col("e_qid") && col("vec_id") === col("e_vid"),
          "left")
        .select(col("qid"), col("rnk"), col("vec_id"), col("cos"),
          col("e_vid").isNotNull.cast("long").as("in_exact_top5"))
    }),

    // M41: DeLong variance and 95% CI of the ROC AUC — the standard
    // "is my AUC 0.71 ± what" readout (DeLong et al. 1988). Scores
    // live on the 101-value lattice (the m15/a70 fixture), outcomes
    // are integer, so every placement value V10/V01 is exact on the
    // doubled 1/(2n) lattice: w_pos(s) = 2·(#neg below s) + (#neg at
    // s). Moments of w aggregate per SCORE GROUP (101 rows — the
    // bounded-domain window class), second moments in decimal(38,0).
    // The only floats are the final mirrored variance/CI chain.
    "m41_delong" -> ((s, dir) => {
      val dec = "decimal(38,0)"
      val e = graft.io.Tables.eventsUs(s, dir).select(
        ((col("event_id") * 37) % 101).as("s"),
        when(col("event_id") % 3 === 0, 1L).otherwise(0L).as("o"))
      val g = e.groupBy("s").agg(
        sum("o").as("np"), (count(lit(1)) - sum("o")).as("nn"))
      val wS = Window.orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wT = Window.partitionBy(lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val placed = g
        .withColumn("neg_below", coalesce(sum("nn").over(wS), lit(0L)))
        .withColumn("pos_below", coalesce(sum("np").over(wS), lit(0L)))
        .withColumn("n_pos", sum("np").over(wT))
        .withColumn("n_neg", sum("nn").over(wT))
        // doubled placements: w10 for positives at s, w01 for negatives
        .withColumn("w10", col("neg_below") * 2L + col("nn"))
        .withColumn("w01",
          (col("n_pos") - col("pos_below") - col("np")) * 2L + col("np"))
      val agg = placed.agg(
        max("n_pos").as("n_pos"), max("n_neg").as("n_neg"),
        sum(col("np") * col("w10")).as("s10_1"),
        sum(col("np").cast(dec) * col("w10").cast(dec) *
          col("w10").cast(dec)).as("s10_2"),
        sum(col("nn") * col("w01")).as("s01_1"),
        sum(col("nn").cast(dec) * col("w01").cast(dec) *
          col("w01").cast(dec)).as("s01_2"))
      // AUC = mean(w10)/(2·n_neg); var terms are sample variances of
      // the placements over positives/negatives
      def meanD(s1: Column, n: Column) = s1.cast("double") / n.cast("double")
      def varD(s1: Column, s2: Column, n: Column) =
        (n.cast("double") * s2.cast("double") -
          s1.cast("double") * s1.cast("double")) /
          (n.cast("double") * (n - 1L).cast("double"))
      val auc = meanD(col("s10_1"), col("n_pos")) /
        (lit(2.0) * col("n_neg").cast("double"))
      val v10 = varD(col("s10_1"), col("s10_2"), col("n_pos")) /
        (lit(4.0) * col("n_neg").cast("double") * col("n_neg").cast("double"))
      val v01 = varD(col("s01_1"), col("s01_2"), col("n_neg")) /
        (lit(4.0) * col("n_pos").cast("double") * col("n_pos").cast("double"))
      val se = sqrt(v10 / col("n_pos").cast("double") +
        v01 / col("n_neg").cast("double"))
      agg.select(col("n_pos"), col("n_neg"),
        r6(auc).as("auc"), r6(se).as("se"),
        r6(auc - lit(1.959964) * se).as("ci_lo"),
        r6(auc + lit(1.959964) * se).as("ci_hi"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a81_bh_fdr" -> {
      def inASql(p: Int) =
        s"((event_id % 720720) * ${1103515245L + 2L * p + 1L} + ${54321 + p}) % 1000 < 500"
      val permSums = (0 until NPerm).map(p =>
        s"sum(CASE WHEN ${inASql(p)} THEN c ELSE 0 END)::BIGINT AS s_$p,\n" +
        s"  sum(CASE WHEN ${inASql(p)} THEN 1 ELSE 0 END)::BIGINT AS n_$p")
        .mkString(",\n  ")
      def tNum(sA: String, nA: String) =
        s"abs($sA::HUGEINT * (n_all - $nA) - (s_all - $sA)::HUGEINT * $nA)"
      val ge = (0 until NPerm).map(p =>
        s"CASE WHEN ${tNum(s"s_$p", s"n_$p")} * (n_obs::HUGEINT * (n_all - n_obs))\n" +
        s"  >= ${tNum("s_obs", "n_obs")} * (n_$p::HUGEINT * (n_all - n_$p))\n" +
        s"  THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH e AS (SELECT event_type, event_id,
         |  ${latticeSql("value", 100)} AS c,
         |  (user_id % 2 = 0)::BIGINT AS obs_a FROM events),
         |agg AS (SELECT event_type,
         |  sum(CASE WHEN obs_a = 1 THEN c ELSE 0 END)::BIGINT AS s_obs,
         |  sum(obs_a)::BIGINT AS n_obs,
         |  sum(c)::BIGINT AS s_all, count(*)::BIGINT AS n_all,
         |  $permSums
         | FROM e GROUP BY event_type),
         |p AS (SELECT event_type, ($ge)::BIGINT AS n_ge,
         |  round((($ge) + 1)::DOUBLE / ${NPerm + 1}, 6) AS p_value
         | FROM agg),
         |rk AS (SELECT *, row_number()
         |    OVER (ORDER BY n_ge, event_type)::BIGINT AS rank FROM p),
         |ps AS (SELECT *,
         |  ((n_ge + 1) * 20 * 5 <= rank * ${NPerm + 1})::BIGINT AS passes
         | FROM rk),
         |mx AS (SELECT coalesce(max(CASE WHEN passes = 1 THEN rank END), 0)
         |  AS mpr FROM ps)
         |SELECT event_type, n_ge, p_value, rank, passes,
         | (rank <= mpr)::BIGINT AS rejected
         |FROM ps CROSS JOIN mx""".stripMargin
    },

    "s_two_stage" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cemb
         |  FROM embeddings WHERE vec_id < greatest(8,
         |    floor(sqrt((SELECT count(*) FROM embeddings)::DOUBLE))::BIGINT)),
         |asg AS (SELECT vec_id, embedding, cid FROM (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |   row_number() OVER (PARTITION BY e.vec_id
         |     ORDER BY ${LlmQ.cosSql("e.embedding", "c.cemb")} DESC,
         |       c.cid) AS rn
         |  FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, cid AS qcid, embedding AS qemb
         | FROM asg WHERE vec_id < 5),
         |cand AS (SELECT q.qid, a.vec_id, a.embedding, q.qemb,
         |  list_sum(list_transform(range(1, len(a.embedding) + 1),
         |   i -> ${latticeSql("a.embedding[i]::DOUBLE", 1000)}
         |      * ${latticeSql("q.qemb[i]::DOUBLE", 1000)}))::BIGINT AS dot6
         | FROM asg a JOIN q ON a.cid = q.qcid AND a.vec_id <> q.qid),
         |coarse AS (SELECT qid, vec_id, embedding, qemb FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY dot6 DESC, vec_id) AS crk FROM cand)
         | WHERE crk <= 20),
         |rr AS (SELECT qid, rnk::BIGINT AS rnk, vec_id, cos FROM (
         |  SELECT qid, vec_id,
         |   round(${LlmQ.cosSql("embedding", "qemb")}, 6) AS cos,
         |   row_number() OVER (PARTITION BY qid ORDER BY
         |     round(${LlmQ.cosSql("embedding", "qemb")}, 6) DESC, vec_id)
         |     AS rnk
         |  FROM coarse) WHERE rnk <= 5),
         |bf AS (SELECT qid AS e_qid, vec_id AS e_vid FROM (
         |  SELECT q.qid, e.vec_id,
         |   row_number() OVER (PARTITION BY q.qid ORDER BY
         |     round(${LlmQ.cosSql("e.embedding", "q.qemb")}, 6) DESC,
         |     e.vec_id) AS brk
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid)
         | WHERE brk <= 5)
         |SELECT rr.qid, rr.rnk, rr.vec_id, rr.cos,
         | (bf.e_vid IS NOT NULL)::BIGINT AS in_exact_top5
         |FROM rr LEFT JOIN bf
         | ON bf.e_qid = rr.qid AND bf.e_vid = rr.vec_id""".stripMargin,

    "m41_delong" ->
      """WITH e AS (SELECT (event_id * 37) % 101 AS s,
        |  CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END::BIGINT AS o
        | FROM events),
        |g AS (SELECT s, sum(o)::BIGINT AS np,
        |  (count(*) - sum(o))::BIGINT AS nn FROM e GROUP BY s),
        |pl AS (SELECT s, np, nn,
        |  coalesce(sum(nn) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |    AS neg_below,
        |  coalesce(sum(np) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |    AS pos_below,
        |  sum(np) OVER ()::BIGINT AS n_pos,
        |  sum(nn) OVER ()::BIGINT AS n_neg
        | FROM g),
        |w AS (SELECT *, neg_below * 2 + nn AS w10,
        |  (n_pos - pos_below - np) * 2 + np AS w01 FROM pl),
        |a AS (SELECT max(n_pos) AS n_pos, max(n_neg) AS n_neg,
        |  sum(np * w10)::BIGINT AS s10_1,
        |  sum(np::HUGEINT * w10 * w10) AS s10_2,
        |  sum(nn * w01)::BIGINT AS s01_1,
        |  sum(nn::HUGEINT * w01 * w01) AS s01_2
        | FROM w)
        |SELECT n_pos, n_neg,
        | round((s10_1::DOUBLE / n_pos) / (2.0 * n_neg), 6) AS auc,
        | round(sqrt(
        |   ((n_pos::DOUBLE * CAST(s10_2 AS DOUBLE)
        |      - s10_1::DOUBLE * s10_1::DOUBLE)
        |     / (n_pos::DOUBLE * (n_pos - 1)::DOUBLE))
        |    / (4.0 * n_neg::DOUBLE * n_neg::DOUBLE) / n_pos::DOUBLE
        |   + ((n_neg::DOUBLE * CAST(s01_2 AS DOUBLE)
        |      - s01_1::DOUBLE * s01_1::DOUBLE)
        |     / (n_neg::DOUBLE * (n_neg - 1)::DOUBLE))
        |    / (4.0 * n_pos::DOUBLE * n_pos::DOUBLE) / n_neg::DOUBLE), 6)
        |   AS se,
        | round((s10_1::DOUBLE / n_pos) / (2.0 * n_neg)
        |  - 1.959964 * sqrt(
        |   ((n_pos::DOUBLE * CAST(s10_2 AS DOUBLE)
        |      - s10_1::DOUBLE * s10_1::DOUBLE)
        |     / (n_pos::DOUBLE * (n_pos - 1)::DOUBLE))
        |    / (4.0 * n_neg::DOUBLE * n_neg::DOUBLE) / n_pos::DOUBLE
        |   + ((n_neg::DOUBLE * CAST(s01_2 AS DOUBLE)
        |      - s01_1::DOUBLE * s01_1::DOUBLE)
        |     / (n_neg::DOUBLE * (n_neg - 1)::DOUBLE))
        |    / (4.0 * n_pos::DOUBLE * n_pos::DOUBLE) / n_neg::DOUBLE), 6)
        |   AS ci_lo,
        | round((s10_1::DOUBLE / n_pos) / (2.0 * n_neg)
        |  + 1.959964 * sqrt(
        |   ((n_pos::DOUBLE * CAST(s10_2 AS DOUBLE)
        |      - s10_1::DOUBLE * s10_1::DOUBLE)
        |     / (n_pos::DOUBLE * (n_pos - 1)::DOUBLE))
        |    / (4.0 * n_neg::DOUBLE * n_neg::DOUBLE) / n_pos::DOUBLE
        |   + ((n_neg::DOUBLE * CAST(s01_2 AS DOUBLE)
        |      - s01_1::DOUBLE * s01_1::DOUBLE)
        |     / (n_neg::DOUBLE * (n_neg - 1)::DOUBLE))
        |    / (4.0 * n_pos::DOUBLE * n_pos::DOUBLE) / n_neg::DOUBLE), 6)
        |   AS ci_hi
        |FROM a""".stripMargin)
}
