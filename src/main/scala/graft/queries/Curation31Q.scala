package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.operators.DistRank
import Q._

/** Round-7 batch 31: Okapi BM25 retrieval scoring, the McNemar paired-
  * classifier test, reciprocal-rank fusion of two retrieval rankings,
  * and a Gonzalez farthest-first k-center coreset. Net-new vs the
  * 348-query surface (grep-checked: no bm25/mcnemar/reciprocal-rank/
  * kcenter-farthest anywhere). Decisions ride exact integers or
  * bitwise-pinned IEEE chains; the only transcendental is BM25's
  * single-ln idf (the audited t_tfidf class).
  */
object Curation31Q extends QueryModule {

  /** Exact integer milli-lattice projection of a float embedding —
    * the v_mips_topk lattice: every pairwise dot/distance over these
    * is an exact BIGINT, so no float comparison decides anything. */
  private def milli(v: Column): Column =
    transform(v, x => lattice(x.cast("double"), 1000))

  /** Exact BIGINT squared L2 distance between two milli-lattice
    * arrays (integer sums are associative — no fold-order pin
    * needed, unlike float folds). */
  private def dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, t) => acc + t)

  /** Exact BIGINT milli-lattice dot product. */
  private def dot6(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, t) => acc + t)

  /** DuckDB mirror of [[dist2]] over q-arrays `$a`/`$b` (1-based
    * indexing; list_sum of BIGINTs returns HUGEINT, cast back). */
  private def dist2Sql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))::BIGINT"

  val queries: Seq[(String, QueryFn)] = Seq(

    // T: Okapi BM25 (Robertson et al.) — the lexical-retrieval scorer
    // every RAG stack pairs with embedding ANN. Query = the corpus
    // terms at document-frequency ranks 10-13 (data-driven, below the
    // stopword-class head; the 13-row TakeOrdered fetch is a bounded
    // parameter read, IoQ.scala:143 class). Exactness: k1 = 6/5 and
    // b = 3/4 are exact rationals, so the tf-saturation term
    // tf·(k1+1) / (tf + k1(1−b) + k1·b·dl·N/L) cross-multiplies to
    // the all-BIGINT 22·tf·L / (10·L·tf + 3·L + 9·dl·N) — ONE
    // correctly-rounded division. idf = ln((2N+2)/(2df+1)) is the
    // single-libm t_tfidf class (transcendental, never on a 6-dp
    // tick). The per-doc score adds the 4 per-term contributions in
    // PINNED left association via conditional aggregation — bitwise
    // cross-engine before the final r6. Scale shape: tf/df/dl are
    // keyed aggs; the 4-term filter prunes before the dl join; only
    // scalars (N, L) and the 4-row term table broadcast.
    "t_bm25" -> ((s, dir) => {
      val d = documents(s, dir)
      val tf = d.select(col("doc_id"),
          explode(Text.tokens(Text.normalizeAz(col("text")))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .cache() // feeds dfreq, dl AND the scoring join (t_tfidf precedent)
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = d.count()
      val bigL = dl.agg(sum("dl")).head().getLong(0)
      // df ranks 10..13 (desc, term tiebreak): TakeOrdered of 13 rows
      val qterms = dfreq.orderBy(col("df").desc, col("term")).limit(13)
        .collect().drop(9).map(r => (r.getString(0), r.getLong(1)))
      val contrib = tf
        .filter(col("term").isin(qterms.map(_._1): _*))
        .join(dl, "doc_id")
        .join(broadcast(s.createDataFrame(qterms.toSeq).toDF("term", "df")),
          "term")
        .withColumn("idf",
          log((lit(2L * n + 2L)).cast("double") / (col("df") * 2L + 1L)))
        .withColumn("sat",
          (col("tf") * 22L * bigL).cast("double") /
            (col("tf") * 10L * bigL + lit(3L * bigL) + col("dl") * 9L * n))
        .withColumn("c", col("idf") * col("sat"))
      // ≤ 1 row per (doc, term): sum() just lifts that row's value
      def pick(t: String) = sum(when(col("term") === t, col("c")))
      val Seq(t1, t2, t3, t4) = qterms.map(_._1).toSeq
      contrib.groupBy("doc_id")
        .agg(first("dl").as("dl"), pick(t1).as("r1"), pick(t2).as("r2"),
          pick(t3).as("r3"), pick(t4).as("r4"))
        .select(col("doc_id"), col("dl"),
          r6(col("r1")).as("c1"), r6(col("r2")).as("c2"),
          r6(col("r3")).as("c3"), r6(col("r4")).as("c4"),
          r6(coalesce(col("r1"), lit(0.0)) + coalesce(col("r2"), lit(0.0)) +
            coalesce(col("r3"), lit(0.0)) + coalesce(col("r4"), lit(0.0)))
            .as("bm25"))
    }),

    // M35: McNemar's test (1947) — "are two classifiers' error rates
    // different on PAIRED predictions", the right test when both
    // models score the same rows (a t-test over accuracies is wrong
    // there). Classifier A: sign of embedding dim 0; classifier B:
    // sign of the pinned left-assoc sum of dims 0-7; truth: odd
    // label. Both decisions compare bitwise-identical doubles to 0,
    // so the 2×2 discordance table (b = A right/B wrong, c = A
    // wrong/B right) is exact; the continuity-corrected statistic
    // (|b−c|−1)²/(b+c) is one division. One keyed-agg pass, 1-row
    // output — trivially 100 TB-safe.
    "m35_mcnemar" -> ((s, dir) => {
      val e = embeddings(s, dir)
      def dim(i: Int) = col("embedding").getItem(i).cast("double")
      val marked = e.select(
        (pmod(col("label").cast("long"), lit(2L)) === 1L).as("truth"),
        (dim(0) > 0.0).as("pa"),
        ((dim(0) + dim(1) + dim(2) + dim(3) + dim(4) + dim(5) + dim(6) +
          dim(7)) > 0.0).as("pb"))
        .select(
          (col("pa") === col("truth")).as("ra"),
          (col("pb") === col("truth")).as("rb"))
      marked.agg(
          count(lit(1)).as("n"),
          sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("both_right"),
          sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L)).as("both_wrong"),
          sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("a_only"),
          sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("b_only"))
        .select(col("n"), col("both_right"), col("both_wrong"),
          col("a_only"), col("b_only"),
          r6(when(col("a_only") + col("b_only") > 0,
            (abs(col("a_only") - col("b_only")) - 1L) *
              (abs(col("a_only") - col("b_only")) - 1L) /
              (col("a_only") + col("b_only")).cast("double"))
            .otherwise(lit(0.0))).as("chi2"),
          (when(col("a_only") + col("b_only") > 0,
            (abs(col("a_only") - col("b_only")) - 1L) *
              (abs(col("a_only") - col("b_only")) - 1L) /
              (col("a_only") + col("b_only")).cast("double"))
            .otherwise(lit(0.0)) > 3.841459).cast("long").as("signif"))
    }),

    // S: reciprocal-rank fusion (Cormack et al. 2009) — THE standard
    // hybrid-retrieval combiner (BM25 list ⊕ ANN list in every RAG
    // stack). Two rankings of the corpus against query vector 0:
    // by 6-dp-rounded cosine and by the exact milli-lattice inner
    // product (rank ties broken by vec_id — both total orders).
    // rrf = 1/(60+r_cos) + 1/(60+r_dot): two correctly-rounded
    // divisions + one pinned add = bitwise cross-engine. The 100 TB
    // point: both global ranks run through DistRank's two-pass
    // distributed row_number — no single-partition window; the query
    // vector joins via a broadcast constant key (hash join, not BNL).
    "s_rrf" -> ((s, dir) => {
      val e = embeddings(s, dir)
        .select(col("vec_id"), milli(col("embedding")).as("q"),
          col("embedding"))
      val qv = e.filter(col("vec_id") === 0L)
        .select(lit(1).as("__k"), col("q").as("qq"),
          col("embedding").as("qemb"))
      val scored = e.filter(col("vec_id") > 0L)
        .withColumn("__k", lit(1))
        .join(broadcast(qv), "__k")
        .select(col("vec_id"),
          r6(graft.functions.Vectors.cosine(col("embedding"), col("qemb")))
            .as("cos"),
          dot6(col("q"), col("qq")).as("dot6"))
      val r1 = DistRank.rowNumber(scored, -col("cos"),
        Seq(col("cos").desc, col("vec_id")), "r_cos")
      val r2 = DistRank.rowNumber(r1, -col("dot6").cast("double"),
        Seq(col("dot6").desc, col("vec_id")), "r_dot")
      r2.select(col("vec_id"), col("cos"), col("dot6"),
        col("r_cos"), col("r_dot"),
        r6(lit(1.0) / (col("r_cos") + 60L) + lit(1.0) / (col("r_dot") + 60L))
          .as("rrf"))
    }),

    // S: k-center coreset by Gonzalez (1985) farthest-first traversal
    // — the 2-approximation every diversity-sampling / landmark-
    // selection pipeline uses (and the classic kmeans++ alternative
    // when determinism matters). 8 centers: start at vec 0, then 7×
    // "farthest point from the chosen set" — each round ONE packed-
    // BIGINT max aggregate (dist²·2³² + reversed vec_id, so ties pick
    // the smallest id) and two 1-row driver fetches (bounded scalar
    // parameter reads, PipelineQ class). All distances are exact
    // BIGINTs on the milli lattice; the final assignment is a packed
    // argmin over the 8 broadcast-literal centers — map-side only.
    // Oracle: a generated 7-round CTE chain (g5_kcore class).
    "s_kcenter" -> ((s, dir) => {
      val e = embeddings(s, dir)
        .select(col("vec_id"), milli(col("embedding")).as("q")).cache()
      val dim0 = e.filter(col("vec_id") === 0L).head()
        .getSeq[Long](1).toArray
      var centers = Vector((0L, dim0))
      for (_ <- 1 to 7) {
        val mind = centers.map(c => dist2(col("q"), typedLit(c._2.toSeq)))
          .reduce(least(_, _))
        val packed = e.agg(max(mind * lit(1L << 32) +
          (lit((1L << 32) - 1L) - col("vec_id")))).head().getLong(0)
        val nextId = (1L << 32) - 1L - java.lang.Long.remainderUnsigned(
          packed, 1L << 32)
        val nextQ = e.filter(col("vec_id") === nextId).head()
          .getSeq[Long](1).toArray
        centers = centers :+ (nextId, nextQ)
      }
      val packs = centers.zipWithIndex.map { case ((_, cq), i) =>
        dist2(col("q"), typedLit(cq.toSeq)) * 16L + i
      }
      val cid = s.createDataFrame(centers.zipWithIndex
          .map { case ((vid, _), i) => (i.toLong, vid) })
        .toDF("center_idx", "center_vec_id")
      e.withColumn("__pk", packs.reduce(least(_, _)))
        .select(col("vec_id"),
          pmod(col("__pk"), lit(16L)).as("center_idx"),
          ((col("__pk") - pmod(col("__pk"), lit(16L))) / 16L).cast("long")
            .as("dist2"))
        .join(broadcast(cid), "center_idx")
        .select(col("vec_id"), col("center_idx"), col("center_vec_id"),
          col("dist2"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  /** One Gonzalez round in DuckDB: min distance to the chosen set,
    * argmax (desc, vec_id tiebreak) = the packed-max semantics. */
  private def kcRound(r: Int): String = {
    val dists = (0 until r)
      .map(i => dist2Sql("p.q", s"c$i.q$i")).mkString("least(", ", ", ")")
    val joins = (0 until r).map(i => s"CROSS JOIN c$i").mkString(" ")
    s"""s$r AS (SELECT vec_id FROM (SELECT p.vec_id, $dists AS d
       |  FROM p $joins) ORDER BY d DESC, vec_id LIMIT 1),
       |c$r AS (SELECT q AS q$r FROM p JOIN s$r USING (vec_id))""".stripMargin
  }

  val oracle: Seq[(String, String)] = Seq(

    "t_bm25" ->
      s"""WITH tok AS (SELECT doc_id,
         |  list_filter(string_split($NormSql, ' '),
         |    w -> length(w) > 0) AS toks FROM documents),
         |tf AS (SELECT doc_id, g AS term, count(*)::BIGINT AS tf FROM
         |  (SELECT doc_id, unnest(toks) AS g FROM tok) GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
         |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         |nl AS (SELECT (SELECT count(*) FROM documents)::BIGINT AS n,
         |  (SELECT sum(dl) FROM dl)::BIGINT AS L),
         |qt AS (SELECT term, df, row_number()
         |    OVER (ORDER BY df DESC, term) AS rn
         |  FROM dfreq QUALIFY rn BETWEEN 10 AND 13),
         |con AS (SELECT tf.doc_id, dl.dl, qt.rn,
         |  ln((2 * n + 2)::DOUBLE / (2 * qt.df + 1)) *
         |   ((22 * tf.tf * L)::DOUBLE /
         |    (10 * L * tf.tf + 3 * L + 9 * dl.dl * n)) AS c
         | FROM tf JOIN qt USING (term) JOIN dl USING (doc_id)
         |  CROSS JOIN nl),
         |agg AS (SELECT doc_id, any_value(dl) AS dl,
         |  sum(CASE WHEN rn = 10 THEN c END) AS r1,
         |  sum(CASE WHEN rn = 11 THEN c END) AS r2,
         |  sum(CASE WHEN rn = 12 THEN c END) AS r3,
         |  sum(CASE WHEN rn = 13 THEN c END) AS r4
         | FROM con GROUP BY doc_id)
         |SELECT doc_id, dl, round(r1, 6) AS c1, round(r2, 6) AS c2,
         | round(r3, 6) AS c3, round(r4, 6) AS c4,
         | round(coalesce(r1, 0) + coalesce(r2, 0) + coalesce(r3, 0)
         |   + coalesce(r4, 0), 6) AS bm25
         |FROM agg""".stripMargin,

    "m35_mcnemar" ->
      """WITH m AS (SELECT (label % 2 = 1) AS truth,
        |  (embedding[1]::DOUBLE > 0) AS pa,
        |  ((embedding[1]::DOUBLE + embedding[2]::DOUBLE
        |    + embedding[3]::DOUBLE + embedding[4]::DOUBLE
        |    + embedding[5]::DOUBLE + embedding[6]::DOUBLE
        |    + embedding[7]::DOUBLE + embedding[8]::DOUBLE) > 0) AS pb
        | FROM embeddings),
        |r AS (SELECT (pa = truth) AS ra, (pb = truth) AS rb FROM m),
        |t AS (SELECT count(*)::BIGINT AS n,
        |  sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END)::BIGINT AS both_right,
        |  sum(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END)::BIGINT
        |    AS both_wrong,
        |  sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END)::BIGINT AS a_only,
        |  sum(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END)::BIGINT AS b_only
        | FROM r)
        |SELECT n, both_right, both_wrong, a_only, b_only,
        | round(CASE WHEN a_only + b_only > 0
        |   THEN (abs(a_only - b_only) - 1) * (abs(a_only - b_only) - 1)
        |     / (a_only + b_only)::DOUBLE ELSE 0.0 END, 6) AS chi2,
        | (CASE WHEN a_only + b_only > 0
        |   THEN (abs(a_only - b_only) - 1) * (abs(a_only - b_only) - 1)
        |     / (a_only + b_only)::DOUBLE ELSE 0.0 END
        |  > 3.841459)::BIGINT AS signif
        |FROM t""".stripMargin,

    "s_rrf" ->
      s"""WITH p AS (SELECT vec_id, embedding,
         |  list_transform(embedding, x -> ${latticeSql("x::DOUBLE", 1000)})
         |    AS q FROM embeddings),
         |qv AS (SELECT embedding AS qemb, q AS qq FROM p WHERE vec_id = 0),
         |sc AS (SELECT vec_id,
         |  round(${LlmQ.cosSql("embedding", "qemb")}, 6) AS cos,
         |  list_sum(list_transform(range(1, len(q) + 1),
         |    i -> q[i] * qq[i]))::BIGINT AS dot6
         | FROM p CROSS JOIN qv WHERE vec_id > 0),
         |rk AS (SELECT vec_id, cos, dot6,
         |  row_number() OVER (ORDER BY cos DESC, vec_id)::BIGINT AS r_cos,
         |  row_number() OVER (ORDER BY dot6 DESC, vec_id)::BIGINT AS r_dot
         | FROM sc)
         |SELECT vec_id, cos, dot6, r_cos, r_dot,
         | round(1.0 / (r_cos + 60) + 1.0 / (r_dot + 60), 6) AS rrf
         |FROM rk""".stripMargin,

    "s_kcenter" ->
      s"""WITH p AS (SELECT vec_id,
         |  list_transform(embedding, x -> ${latticeSql("x::DOUBLE", 1000)})
         |    AS q FROM embeddings),
         |c0 AS (SELECT q AS q0 FROM p WHERE vec_id = 0),
         |${(1 to 7).map(kcRound).mkString(",\n")},
         |cent(center_idx, center_vec_id) AS (
         | SELECT 0::BIGINT, 0::BIGINT
         | ${(1 to 7).map(r => s"UNION ALL SELECT $r::BIGINT, (SELECT vec_id FROM s$r)::BIGINT").mkString("\n ")}),
         |asg AS (SELECT p.vec_id,
         |  list_aggregate(list_value(${(0 until 8).map(i =>
             s"${dist2Sql("p.q", s"c$i.q$i")} * 16 + $i").mkString(", ")}),
         |    'min') AS pk
         | FROM p ${(0 until 8).map(i => s"CROSS JOIN c$i").mkString(" ")})
         |SELECT a.vec_id, (a.pk % 16)::BIGINT AS center_idx,
         | cent.center_vec_id, (a.pk // 16)::BIGINT AS dist2
         |FROM asg a JOIN cent ON cent.center_idx = a.pk % 16"""
        .stripMargin)
}
