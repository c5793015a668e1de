package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text
import Q._

/** Round-7 batch 34: retrieval-quality evaluation (MRR + average
  * precision on an exact integer lattice), keyword-in-context
  * concordance, a shard-rebalancing migration audit (mod vs ring),
  * and lexical-diversity indices (Yule's K, Simpson's D). Net-new vs
  * the 360-query surface (grep-checked). All ranks, counts, and
  * migration decisions are integers; emitted floats are single
  * divisions of exact BIGINTs.
  */
object Curation34Q extends QueryModule {

  /** LCM(1..10) — every precision@i and 1/rank with i,rank ≤ 10 is an
    * EXACT integer on this lattice. */
  private val L2520 = 2520L

  /** Ring modulus (LCM of the 8- and 9-shard layouts x 10): ring
    * position p = h mod 720; contiguous range shards are p·n/720. */
  private val Ring = 720L

  val queries: Seq[(String, QueryFn)] = Seq(

    // M37: retrieval evaluation — MRR and average precision of the
    // IVF-blocked top-10 neighbor lists, relevance = label match (the
    // eval loop behind every embedding-retrieval deployment). Both
    // metrics live on the LCM(1..10) = 2520 lattice: 1/first_rel_rank
    // and every precision@i are EXACT integers (2520/r, 2520·cnt/i),
    // so per-query sums are BIGINT-exact and only the final per-query
    // AP emits one division. Scale shape: knnJoin's K=√N blocking,
    // per-query windows over ≤10 rows — no global window.
    "m37_retrieval_eval" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val cents = Q.ivfCentroids(s, dir)
      val knn = graft.operators.Similarity.knnJoin(
        e, "vec_id", "embedding", cents, "cid", "cemb", 10)
      val lbls = e.select(col("vec_id"), col("label").cast("long")
        .as("label"))
      val marked = knn
        .join(lbls.select(col("vec_id").as("nb_id"),
          col("label").as("nb_label")), "nb_id")
        .join(lbls, "vec_id")
        .withColumn("rel", (col("nb_label") === col("label")).cast("long"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy("rnk")
      marked
        .withColumn("cum_rel", sum("rel").over(w))
        .groupBy("vec_id")
        .agg(count(lit(1)).as("n_ret"),
          sum("rel").as("n_rel"),
          coalesce(min(when(col("rel") === 1L, col("rnk"))), lit(0L))
            .as("first_rel_rank"),
          // 2520/rnk and 2520*cum_rel/rnk are exact: rnk <= 10 | 2520.
          // MAX of 2520/rnk = 2520/min(rnk) — the FIRST relevant rank
          coalesce(max(when(col("rel") === 1L, lit(L2520) / col("rnk"))
            .cast("long")), lit(0L)).as("mrr2520"),
          sum(when(col("rel") === 1L,
            lit(L2520) * col("cum_rel") / col("rnk")).otherwise(lit(0.0)))
            .cast("long").as("ap2520_sum"))
        .select(col("vec_id"), col("n_ret"), col("n_rel"),
          col("first_rel_rank"), col("mrr2520"), col("ap2520_sum"),
          r6(when(col("n_rel") > 0,
            col("ap2520_sum") / (col("n_rel") * L2520).cast("double"))
            .otherwise(lit(0.0))).as("ap"))
    }),

    // T: keyword-in-context (KWIC) concordance — the corpus-linguistics
    // primitive behind "show me every use of X with context" (and the
    // span-context extraction stage of targeted curation). The term is
    // data-driven (document-frequency rank 10, below the stopword
    // head; a bounded 10-row TakeOrdered fetch). Entirely map-side
    // after the one df agg: positions by posexplode, contexts are
    // pure array slices — no join, no window, no shuffle on the
    // emission path.
    "t_kwic" -> ((s, dir) => {
      val toksD = documents(s, dir).select(col("doc_id"),
        Text.tokens(Text.normalizeAz(col("text"))).as("__toks")).cache()
      val term = toksD
        .select(explode(array_distinct(col("__toks"))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("t")).limit(10)
        .collect().last.getString(0)
      toksD
        .select(col("doc_id"), col("__toks"),
          posexplode(col("__toks")).as(Seq("p0", "w")))
        .filter(col("w") === term)
        .select(col("doc_id"), (col("p0") + 1L).as("pos"),
          concat_ws(" ", slice(col("__toks"), greatest(col("p0") - 1L, lit(1)),
            least(col("p0"), lit(2L)))).as("left_ctx"),
          lit(term).as("term"),
          concat_ws(" ", slice(col("__toks"), col("p0") + 2L, lit(2)))
            .as("right_ctx"))
    }),

    // O29: shard-rebalancing migration audit — "if I grow 8 shards to
    // 9, how many keys move" under (a) modulo placement (≈ 8/9 move —
    // the classic resharding disaster) vs (b) a consistent-hash RING
    // (one vnode per shard at (161·s) mod 720 — spread-checked:
    // shard arcs 76..85 wide): the new shard only steals the arc
    // before its own vnode, ≈ 1/9 of keys. Key position = the
    // engine-portable lattice mix on a pre-folded key (the fold keeps
    // every product inside BIGINT on engines that ERROR on overflow
    // rather than wrap); ownership = packed argmin of clockwise
    // vnode distance — all literals, map-side, one keyed agg. Rates
    // are exact integer ppm.
    "o29_rebalance" -> ((s, dir) => {
      val vnode = (0 until 9).map(sh => (sh * 161L) % Ring)
      def owner(p: Column, n: Int): Column = {
        // argmin over shards of (clockwise distance, shard): the
        // packed min's low 4 bits are the owner
        val packs = (0 until n).map(sh =>
          pmod(lit(vnode(sh)) - p, lit(Ring)) * 16L + sh)
        pmod(packs.reduce(least(_, _)), lit(16L))
      }
      val h = pmod(pmod(col("event_id"), lit(Ring * 1024L)) *
        1103515245L + 12345L, lit(Ring))
      graft.io.Tables.eventsUs(s, dir)
        .select(h.as("p"))
        .select(col("p"),
          pmod(col("p"), lit(8L)).as("mod8"),
          pmod(col("p"), lit(9L)).as("mod9"),
          owner(col("p"), 8).as("ring8"),
          owner(col("p"), 9).as("ring9"))
        .groupBy("ring8")
        .agg(count(lit(1)).as("n_keys"),
          sum((col("mod8") =!= col("mod9")).cast("long")).as("moved_mod"),
          sum((col("ring8") =!= col("ring9")).cast("long")).as("moved_ring"))
        .select(col("ring8").as("shard"), col("n_keys"), col("moved_mod"),
          col("moved_ring"),
          ((col("moved_mod") * 1000000L -
            pmod(col("moved_mod") * 1000000L, col("n_keys"))) /
            col("n_keys")).cast("long").as("mod_ppm"),
          ((col("moved_ring") * 1000000L -
            pmod(col("moved_ring") * 1000000L, col("n_keys"))) /
            col("n_keys")).cast("long").as("ring_ppm"))
    }),

    // T: lexical-diversity indices per document — Yule's K (repeat-
    // rate, length-robust) and Simpson's D (the repeated-token
    // probability), the classic vocabulary-richness signals next to
    // TTR/entropy in quality scoring. Both are single divisions of
    // exact BIGINT count moments (Σn², Σn(n−1)) — one (doc, term)
    // keyed agg then one per-doc agg, no window.
    "t_yule_k" -> ((s, dir) => {
      val tf = documents(s, dir)
        .select(col("doc_id"),
          explode(Text.tokens(Text.normalizeAz(col("text")))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("n"))
      tf.groupBy("doc_id")
        .agg(sum("n").as("n_tok"),
          count(lit(1)).as("n_types"),
          sum(col("n") * col("n")).as("sum_sq"))
        .filter(col("n_tok") >= 2)
        .select(col("doc_id"), col("n_tok"), col("n_types"), col("sum_sq"),
          r6(lit(10000.0) * (col("sum_sq") - col("n_tok")) /
            (col("n_tok") * col("n_tok")).cast("double")).as("yule_k"),
          r6((col("sum_sq") - col("n_tok")).cast("double") /
            (col("n_tok") * (col("n_tok") - 1L))).as("simpson_d"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "m37_retrieval_eval" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cemb
         |  FROM embeddings WHERE vec_id < greatest(8,
         |    floor(sqrt((SELECT count(*) FROM embeddings)::DOUBLE))::BIGINT)),
         |asg AS (SELECT vec_id, embedding, cid FROM (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |   row_number() OVER (PARTITION BY e.vec_id
         |     ORDER BY ${LlmQ.cosSql("e.embedding", "c.cemb")} DESC,
         |       c.cid) AS rn
         |  FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
         |knn AS (SELECT vec_id, nb_id, rnk FROM (
         | SELECT a.vec_id, b.vec_id AS nb_id,
         |  row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY round(${LlmQ.cosSql("a.embedding", "b.embedding")},
         |      6) DESC, b.vec_id) AS rnk
         | FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id)
         | WHERE rnk <= 10),
         |mk AS (SELECT k.vec_id, k.rnk,
         |  (ln.label = lq.label)::BIGINT AS rel
         | FROM knn k JOIN embeddings ln ON ln.vec_id = k.nb_id
         |  JOIN embeddings lq ON lq.vec_id = k.vec_id),
         |cr AS (SELECT vec_id, rnk, rel,
         |  sum(rel) OVER (PARTITION BY vec_id ORDER BY rnk
         |    ROWS UNBOUNDED PRECEDING) AS cum_rel
         | FROM mk)
         |SELECT vec_id, count(*)::BIGINT AS n_ret,
         | sum(rel)::BIGINT AS n_rel,
         | coalesce(min(CASE WHEN rel = 1 THEN rnk END), 0)::BIGINT
         |   AS first_rel_rank,
         | coalesce(max(CASE WHEN rel = 1 THEN $L2520 // rnk END), 0)::BIGINT
         |   AS mrr2520,
         | coalesce(sum(CASE WHEN rel = 1
         |   THEN $L2520 * cum_rel // rnk ELSE 0 END), 0)::BIGINT
         |   AS ap2520_sum,
         | round(CASE WHEN sum(rel) > 0
         |   THEN sum(CASE WHEN rel = 1 THEN $L2520 * cum_rel // rnk
         |     ELSE 0 END) / (sum(rel) * $L2520)::DOUBLE
         |   ELSE 0.0 END, 6) AS ap
         |FROM cr GROUP BY vec_id""".stripMargin,

    "t_kwic" ->
      s"""WITH $TokCte,
         |df AS (SELECT t, count(*)::BIGINT AS df FROM
         |  (SELECT doc_id, unnest(list_distinct(toks)) AS t FROM tok)
         |  GROUP BY t),
         |term AS (SELECT t FROM df ORDER BY df DESC, t LIMIT 1 OFFSET 9),
         |px AS (SELECT doc_id, toks,
         |  unnest(list_transform(range(1, len(toks) + 1),
         |    i -> {'i': i, 'w': toks[i]})) AS s
         | FROM tok)
         |SELECT doc_id, s.i::BIGINT AS pos,
         | coalesce(array_to_string(toks[greatest(s.i - 2, 1):s.i - 1], ' '),
         |   '') AS left_ctx,
         | (SELECT t FROM term) AS term,
         | coalesce(array_to_string(toks[s.i + 1:s.i + 2], ' '), '')
         |   AS right_ctx
         |FROM px WHERE s.w = (SELECT t FROM term)""".stripMargin,

    "o29_rebalance" -> {
      def ownerSql(n: Int): String = (0 until n)
        .map(sh => s"(((${(sh * 161L) % Ring} - p) % $Ring + $Ring) % $Ring * 16 + $sh)")
        .mkString("least(", ", ", ") % 16")
      s"""WITH h AS (SELECT
         |  ((event_id % ${Ring * 1024L}) * 1103515245 + 12345) % $Ring AS p
         | FROM events),
         |m AS (SELECT p, p % 8 AS mod8, p % 9 AS mod9,
         |  ${ownerSql(8)} AS ring8,
         |  ${ownerSql(9)} AS ring9 FROM h)
         |SELECT ring8::BIGINT AS shard, count(*)::BIGINT AS n_keys,
         | sum((mod8 <> mod9)::INT)::BIGINT AS moved_mod,
         | sum((ring8 <> ring9)::INT)::BIGINT AS moved_ring,
         | (sum((mod8 <> mod9)::INT) * 1000000 // count(*))::BIGINT
         |   AS mod_ppm,
         | (sum((ring8 <> ring9)::INT) * 1000000 // count(*))::BIGINT
         |   AS ring_ppm
         |FROM m GROUP BY ring8""".stripMargin
    },

    "t_yule_k" ->
      s"""WITH $TokCte,
         |tf AS (SELECT doc_id, g, count(*)::BIGINT AS n FROM
         |  (SELECT doc_id, unnest(toks) AS g FROM tok) GROUP BY 1, 2),
         |d AS (SELECT doc_id, sum(n)::BIGINT AS n_tok,
         |  count(*)::BIGINT AS n_types, sum(n * n)::BIGINT AS sum_sq
         | FROM tf GROUP BY doc_id)
         |SELECT doc_id, n_tok, n_types, sum_sq,
         | round(10000.0 * (sum_sq - n_tok)
         |   / (n_tok * n_tok)::DOUBLE, 6) AS yule_k,
         | round((sum_sq - n_tok)::DOUBLE / (n_tok * (n_tok - 1)), 6)
         |   AS simpson_d
         |FROM d WHERE n_tok >= 2""".stripMargin)
}
