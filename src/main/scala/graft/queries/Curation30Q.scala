package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.operators.DistRank
import Q._

/** Round-7 batch 30: partition-quality scoring (Newman modularity of
  * the LPA communities), ROUGE-N summarization overlap, a k-NN label
  * classifier over the IVF-blocked neighbor join, and probability-
  * proportional-to-size systematic sampling via distributed prefix
  * sums. Net-new vs the 344-query surface (grep-checked: no
  * modularity/ROUGE/neighbor-vote/PPS anywhere). All outputs are
  * integer-decided or exact-rational-then-round — no engine-sensitive
  * float path decides a row.
  */
object Curation30Q extends QueryModule {

  /** Vote packing for the k-NN argmax: (count, smallest-label) as one
    * BIGINT max — count * 16 + (15 - label). Labels are 0..9 and vote
    * counts <= k = 3, so 16 is a safe base. */
  private val VotePack = 16L

  /** Token bigrams WITH multiplicity (ROUGE counts clipped
    * occurrences, so no array_distinct — unlike
    * Contamination.tokenNgramsOf). `toks` must be a bound attribute
    * column (the interpreted-HOF O(len²) trap). */
  private[queries] def bigramsOf(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(2)))))
      .otherwise(typedLit(Seq.empty[String]))

  val queries: Seq[(String, QueryFn)] = Seq(

    // G13: Newman modularity of the g11_labelprop partition — the
    // standard "is this community structure real" score (Newman &
    // Girvan 2004): Q = Σ_c [ e_c/m − (d_c/2m)² ]. Computed as exact
    // integers: per community the numerator 4·m·e_c − d_c² is a
    // BIGINT (e_c = within-community undirected edges, d_c = degree
    // sum, m = total undirected edges), divided by the common 4m²
    // only at the final rounded-double step. Scale shape: the LPA
    // rounds are Pregel-shaped (Curation29Q.lpa3); the scoring adds
    // one broadcast-joinable label lookup per edge endpoint and two
    // keyed aggs — no all-pairs, no window.
    "g13_modularity" -> ((s, dir) => {
      // hash(b) layout at cache time — same reuse as g11 (see lpa3)
      val sym = GraphQ.symEdges(s, dir).repartition(col("b")).cache()
      val lbl = Curation29Q.lpa3(sym).cache()
      // m: scalar graph-size PARAMETER (like s_knn_join's N) — sym
      // counts each undirected edge twice.
      val m2 = sym.count() // = 2m
      // degree from the b endpoint: sym is SYMMETRIC, so per-node
      // counts of a and of b are the same multiset — and groupBy(b)
      // reuses the cached hash(b) layout with NO exchange, where
      // groupBy(a) re-shuffled every edge (round 12)
      val deg = sym.groupBy(col("b").as("node"))
        .agg(count(lit(1)).as("deg"))
      val dSum = deg.join(lbl, "node")
        .groupBy("lbl").agg(sum("deg").as("degree_sum"),
          count(lit(1)).as("n_nodes"))
      // label joins keyed on b FIRST: when the label side is too big
      // to broadcast, the first (edge-scale) join then reuses the
      // cached hash(b) layout instead of re-exchanging all edges on a
      // (round 12); with a broadcast label side the order is neutral
      val eIn = sym
        .join(lbl.withColumnRenamed("node", "b")
          .withColumnRenamed("lbl", "lb"), "b")
        .join(lbl.withColumnRenamed("node", "a")
          .withColumnRenamed("lbl", "la"), "a")
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("lbl"))
        // both directions counted -> e_dir = 2·e_c, always even
        .agg((count(lit(1)) / 2).cast("long").as("internal_edges"))
      val qden = m2.toDouble * m2.toDouble // 4m² as exact double
      dSum.join(eIn, Seq("lbl"), "left")
        .select(col("lbl").as("community"), col("n_nodes"),
          col("degree_sum"),
          coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
          (coalesce(col("internal_edges"), lit(0L)) * 2L * m2 -
            col("degree_sum") * col("degree_sum")).as("q_num"),
          // + 0.0 normalizes IEEE negative zero (ORACLE_NOTES rule 4):
          // a tiny negative q_num rounds to -0.0 on one engine only.
          (r6((coalesce(col("internal_edges"), lit(0L)) * 2L * m2 -
            col("degree_sum") * col("degree_sum")) / lit(qden)) + 0.0)
            .as("q_contrib"))
    }),

    // T: ROUGE-1/ROUGE-2 recall (Lin 2004) between adjacent doc pairs
    // (candidate i, reference i+1 — the same collision-free pairing as
    // d_jaccard): Σ_g min(count_cand, count_ref) / Σ count_ref, exact
    // BIGINT numerators/denominators with the division rounded at the
    // end. Scale shape: per-(doc, gram) counts are one keyed agg; the
    // pair overlap joins on (pair id, gram) — linear shuffles, no
    // all-pairs stage (candidate pairing is an input, as in a real
    // summarization-eval table).
    "t_rouge" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"),
        Text.tokens(Text.normalizeAz(col("text"))).as("__toks"))
        .cache()
      def counts(grams: Column) = d
        .select(col("doc_id"), explode(grams).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      def overlap(cnt: DataFrame, name: String) = cnt
        .select((col("doc_id") - 1).as("doc_a"), col("g"),
          col("c").as("cb"))
        .join(cnt.select(col("doc_id").as("doc_a"), col("g"),
          col("c").as("ca")), Seq("doc_a", "g"))
        .groupBy("doc_a")
        .agg(sum(least(col("ca"), col("cb"))).as(name))
      val sizes = d.select(col("doc_id"), size(col("__toks")).cast("long")
        .as("n"))
      val pairs = sizes.select(col("doc_id").as("doc_a"))
        .join(sizes.select((col("doc_id") - 1).as("doc_a"),
          col("doc_id").as("doc_b"), col("n").as("nb")), "doc_a")
      pairs
        .join(overlap(counts(col("__toks")), "o1"), Seq("doc_a"), "left")
        .join(overlap(counts(bigramsOf(col("__toks"))), "o2"),
          Seq("doc_a"), "left")
        .select(col("doc_a"), col("doc_b"),
          coalesce(col("o1"), lit(0L)).as("o1"),
          col("nb").as("d1"),
          r6(when(col("nb") > 0,
            coalesce(col("o1"), lit(0L)) / col("nb"))
            .otherwise(lit(0.0))).as("rouge1"),
          coalesce(col("o2"), lit(0L)).as("o2"),
          greatest(col("nb") - 1, lit(0L)).as("d2"),
          r6(when(col("nb") > 1,
            coalesce(col("o2"), lit(0L)) / (col("nb") - 1))
            .otherwise(lit(0.0))).as("rouge2"))
    }),

    // M34: k-NN classifier over the IVF-blocked neighbor join — the
    // classic lazy-learner evaluated the way a 100 TB deployment
    // would: neighbors come from s_knn_join's blocked join (K = √N
    // centroids, N^1.5 pair work), the 3-vote majority is one packed
    // BIGINT max (count desc, then smallest label), no window. Output
    // is per-vector and fully integer-decided: the neighbor SET is
    // pinned by the rounded-cosine rank (knnJoin's contract) and the
    // vote by the packed argmax.
    "m34_knn_clf" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val cents = Q.ivfCentroids(s, dir)
      val knn = graft.operators.Similarity.knnJoin(
        e, "vec_id", "embedding", cents, "cid", "cemb", 3)
      val lbls = e.select(col("vec_id"), col("label").cast("long")
        .as("label"))
      val pred = knn
        .join(lbls.select(col("vec_id").as("nb_id"),
          col("label").as("nb_label")), "nb_id")
        .groupBy("vec_id", "nb_label").agg(count(lit(1)).as("c"))
        .groupBy("vec_id")
        .agg(max(col("c") * VotePack +
          (lit(VotePack - 1) - col("nb_label"))).as("pk"))
        .select(col("vec_id"),
          (lit(VotePack - 1) - pmod(col("pk"), lit(VotePack)))
            .as("pred_label"))
      pred.join(lbls, "vec_id")
        .select(col("vec_id"), col("label"), col("pred_label"),
          (col("label") === col("pred_label")).cast("long").as("correct"))
    }),

    // T: probability-proportional-to-size SYSTEMATIC sampling
    // (Madow 1949 — the classic fixed-size weighted design): k = 100
    // equally spaced tickets j·W/k over the cumulative weight line
    // (weight = n_chars), a doc is drawn once per ticket inside its
    // weight interval. Exactly k draws, P(draw) ∝ weight, and — the
    // 100 TB point — the cumulative weights come from
    // DistRank.cumsum's two-pass distributed prefix sum, never a
    // single-partition window. Ticket membership is pure BIGINT floor
    // division: n_tickets = ⌊cum·k/W⌋ − ⌊(cum−w)·k/W⌋.
    "t_pps_sample" -> ((s, dir) => {
      val k = 100L
      val d = documents(s, dir)
        .select(col("doc_id"), col("n_chars").cast("long").as("w"))
      val c = DistRank.cumsum(d, col("doc_id"), Seq(col("doc_id")),
        Seq((col("w"), "cum_w")), inclusive = true,
        totalsSuffix = Some("_tot"))
      c.withColumn("n_tickets",
          DistRank.ldiv(col("cum_w") * k, col("cum_w_tot")) -
            DistRank.ldiv((col("cum_w") - col("w")) * k, col("cum_w_tot")))
        .filter(col("n_tickets") > 0)
        .select(col("doc_id"), col("w"), col("cum_w"), col("n_tickets"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "g13_modularity" ->
      s"""WITH ${GraphQ.SymSql},
         |l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM sym),
         |${Curation29Q.lpaRound(1)},
         |${Curation29Q.lpaRound(2)},
         |${Curation29Q.lpaRound(3)},
         |m2 AS (SELECT count(*)::BIGINT AS m2 FROM sym),
         |deg AS (SELECT a AS node, count(*)::BIGINT AS deg
         | FROM sym GROUP BY a),
         |ds AS (SELECT lbl, sum(deg)::BIGINT AS degree_sum,
         |  count(*)::BIGINT AS n_nodes
         | FROM deg JOIN l3 USING (node) GROUP BY lbl),
         |ei AS (SELECT la.lbl AS lbl,
         |  (count(*) // 2)::BIGINT AS internal_edges
         | FROM sym s JOIN l3 la ON s.a = la.node
         |  JOIN l3 lb ON s.b = lb.node
         | WHERE la.lbl = lb.lbl GROUP BY la.lbl)
         |SELECT ds.lbl AS community, n_nodes, degree_sum,
         | coalesce(internal_edges, 0)::BIGINT AS internal_edges,
         | (coalesce(internal_edges, 0) * 2 * m2
         |   - degree_sum * degree_sum)::BIGINT AS q_num,
         | round((coalesce(internal_edges, 0) * 2 * m2
         |   - degree_sum * degree_sum)
         |  / (m2::DOUBLE * m2::DOUBLE), 6) + 0.0 AS q_contrib
         |FROM ds CROSS JOIN m2 LEFT JOIN ei ON ds.lbl = ei.lbl"""
        .stripMargin,

    "t_rouge" ->
      s"""WITH $TokCte,
         |uni AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM
         |  (SELECT doc_id, unnest(toks) AS g FROM tok) GROUP BY 1, 2),
         |big AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM
         |  (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i + 1])
         |    ELSE [] END) AS g FROM tok) GROUP BY 1, 2),
         |sz AS (SELECT doc_id, len(toks)::BIGINT AS n FROM tok),
         |o1 AS (SELECT a.doc_id AS doc_a,
         |  sum(least(a.c, b.c))::BIGINT AS o1
         | FROM uni a JOIN uni b
         |  ON b.doc_id = a.doc_id + 1 AND b.g = a.g GROUP BY 1),
         |o2 AS (SELECT a.doc_id AS doc_a,
         |  sum(least(a.c, b.c))::BIGINT AS o2
         | FROM big a JOIN big b
         |  ON b.doc_id = a.doc_id + 1 AND b.g = a.g GROUP BY 1)
         |SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
         | coalesce(o1.o1, 0)::BIGINT AS o1, sb.n AS d1,
         | round(CASE WHEN sb.n > 0
         |   THEN coalesce(o1.o1, 0) / sb.n::DOUBLE ELSE 0.0 END, 6)
         |   AS rouge1,
         | coalesce(o2.o2, 0)::BIGINT AS o2,
         | greatest(sb.n - 1, 0)::BIGINT AS d2,
         | round(CASE WHEN sb.n > 1
         |   THEN coalesce(o2.o2, 0) / (sb.n - 1)::DOUBLE ELSE 0.0 END, 6)
         |   AS rouge2
         |FROM sz sa JOIN sz sb ON sb.doc_id = sa.doc_id + 1
         |LEFT JOIN o1 ON o1.doc_a = sa.doc_id
         |LEFT JOIN o2 ON o2.doc_a = sa.doc_id""".stripMargin,

    "m34_knn_clf" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cemb
         |  FROM embeddings WHERE vec_id < greatest(8,
         |    floor(sqrt((SELECT count(*) FROM embeddings)::DOUBLE))::BIGINT)),
         |asg AS (SELECT vec_id, embedding, cid FROM (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |   row_number() OVER (PARTITION BY e.vec_id
         |     ORDER BY ${LlmQ.cosSql("e.embedding", "c.cemb")} DESC,
         |       c.cid) AS rn
         |  FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
         |knn AS (SELECT vec_id, nb_id FROM (
         | SELECT a.vec_id, b.vec_id AS nb_id,
         |  row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY round(${LlmQ.cosSql("a.embedding", "b.embedding")},
         |      6) DESC, b.vec_id) AS rnk
         | FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id)
         | WHERE rnk <= 3),
         |votes AS (SELECT k.vec_id, l.label::BIGINT AS nb_label,
         |  count(*)::BIGINT AS c
         | FROM knn k JOIN embeddings l ON l.vec_id = k.nb_id
         | GROUP BY 1, 2),
         |pred AS (SELECT vec_id,
         |  ($VotePack - 1 - (max(c * $VotePack
         |    + ($VotePack - 1 - nb_label)) % $VotePack))::BIGINT
         |    AS pred_label
         | FROM votes GROUP BY vec_id)
         |SELECT p.vec_id, e.label::BIGINT AS label, p.pred_label,
         | (e.label = p.pred_label)::BIGINT AS correct
         |FROM pred p JOIN embeddings e ON e.vec_id = p.vec_id"""
        .stripMargin,

    "t_pps_sample" ->
      s"""WITH d AS (SELECT doc_id, n_chars::BIGINT AS w FROM documents),
         |c AS (SELECT doc_id, w,
         |  sum(w) OVER (ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_w,
         |  (SELECT sum(w)::BIGINT FROM d) AS tw FROM d)
         |SELECT doc_id, w, cum_w,
         | ((cum_w * 100) // tw - ((cum_w - w) * 100) // tw)::BIGINT
         |   AS n_tickets
         |FROM c
         |WHERE (cum_w * 100) // tw > ((cum_w - w) * 100) // tw"""
        .stripMargin)
}
