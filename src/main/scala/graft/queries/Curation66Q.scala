package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.functions.Vectors
import Q._

/** Round-9 batch 66: incremental-ingest dedup (the production shape —
  * a 100 TB corpus is never re-deduped from scratch; a new batch is
  * LSH-joined against the standing corpus only, so pair work is
  * O(new·bands), not O(corpus²)) and hard-negative mining for
  * contrastive training (top-similar DIFFERENT-label neighbors below
  * the near-dup ceiling — t_negsample draws random negatives, this
  * mines the informative ones). Net-new vs the 451-query surface
  * (grep-checked: no incremental/hard_neg).
  */
object Curation66Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // D/net-new: incremental dedup of a new batch (doc_id % 10 == 0,
    // the simulated daily ingest) against the standing corpus (the
    // other 90%). Same 12-slot MinHash signature, 2×6 banding,
    // ≤1000 bucket cap and ≤64 per-doc candidate cap as d_lsh/
    // d_neardup — but the band join is new-side × corpus-side, so
    // candidate pairs scale with the INGEST, not the corpus. Every
    // capped candidate is emitted with its exact gram-hash Jaccard
    // and the integer-backed is_dup verdict (jaccard is one division
    // of exact counts, so the 0.6 threshold decides identically on
    // both engines); n_cand = the new doc's pre-cap candidate count.
    "d_incremental" -> ((s, dir) => {
      val grams = documents(s, dir)
        .select(col("doc_id").as("doc"), Dedup.gramHashes(col("text")).as("g"))
        .filter(size(col("g")) > 0)
        .withColumn("gsz", size(col("g")))
        .cache()
      val sig = Dedup.signatureFromGramTable(grams)
      val bandRows = 6
      val bandKeys = (0 until Dedup.NumHashes / bandRows).map { b =>
        concat_ws("_",
          (b * bandRows until (b + 1) * bandRows).map(k => col(s"m$k")): _*)
      }
      val bands = sig.select(col("doc"), posexplode(array(bandKeys: _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "band_key")
      val small = bands.groupBy("band", "band_key")
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= Dedup.MaxBucketSize)
        .select("band", "band_key")
      val kept = bands.join(small, Seq("band", "band_key"))
      val newS = kept.filter(col("doc") % 10 === 0)
        .select(col("band"), col("band_key"), col("doc").as("new_id"))
      val corp = kept.filter(col("doc") % 10 =!= 0)
        .select(col("band"), col("band_key"), col("doc").as("corpus_id"))
      val pairs = newS.join(corp, Seq("band", "band_key"))
        .groupBy("new_id", "corpus_id").agg(count(lit(1)).as("__nb"))
      val wA = Window.partitionBy("new_id")
      val wCap = wA.orderBy(col("__nb").desc, col("corpus_id"))
      val capped = pairs
        .withColumn("n_cand", count(lit(1)).over(wA))
        .withColumn("__rn", row_number().over(wCap))
        .filter(col("__rn") <= 64)
        .select("new_id", "corpus_id", "n_cand")
      val inter = graft.functions.LongArrayIntersectCount
        .intersectCount(col("ga"), col("gb")).cast("double")
      capped
        .join(grams.select(col("doc").as("new_id"), col("g").as("ga"),
          col("gsz").as("sza")), "new_id")
        .join(grams.select(col("doc").as("corpus_id"), col("g").as("gb"),
          col("gsz").as("szb")), "corpus_id")
        .withColumn("__i", inter)
        .withColumn("__u", (col("sza") + col("szb")).cast("double") - col("__i"))
        .withColumn("__j",
          when(col("__u") > 0, col("__i") / col("__u")).otherwise(lit(0.0)))
        .select(col("new_id"), col("corpus_id"), r6(col("__j")).as("jaccard"),
          (col("__j") >= 0.6).as("is_dup"), col("n_cand"))
    }),

    // S/net-new: hard-negative mining — for every vector, the top-3
    // most-cosine-similar neighbors with a DIFFERENT label, excluding
    // near-duplicates (rounded cos < 0.95): the contrastive-training
    // negatives that actually move a model, where t_negsample's
    // hash-ring draws are easy negatives. IVF-blocked within
    // K = √N clusters (the s_knn_join scaling), rank on the 6-dp
    // rounded cosine with id tiebreak (engine-identical ordering).
    "s_hard_negatives" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val cents = Q.ivfCentroids(s, dir)
      val assigned = Similarity.ivfAssign(e, "vec_id", "embedding",
          cents, "cid", "cemb")
        .select(col("centroid_id"), col("vec_id"), col("embedding"),
          col("label"))
        .withColumn("__n", Vectors.norm(col("embedding")))
        .cache()
      val a = assigned.select(col("centroid_id"), col("vec_id"),
        col("label"), col("embedding").as("__ea"), col("__n").as("__na"))
      val b = assigned.select(col("centroid_id"), col("vec_id").as("nb_id"),
        col("label").as("nb_label"), col("embedding").as("__eb"),
        col("__n").as("__nb"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("nb_id"))
      a.join(b, Seq("centroid_id"))
        .filter(col("vec_id") =!= col("nb_id") &&
          col("label") =!= col("nb_label"))
        .withColumn("cos", round(Vectors.cosineWithNorms(col("__ea"),
          col("__eb"), col("__na"), col("__nb")), 6))
        .filter(col("cos") < 0.95)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("vec_id"), col("label"), col("nb_id"), col("nb_label"),
          col("cos"), col("rnk").cast("long").as("rnk"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "d_incremental" -> {
      val sigCte =
        s"""norm AS (SELECT doc_id, $NormSql AS t FROM documents),
           |g AS (SELECT doc_id, $GramsSql AS grams FROM norm),
           |sig AS (SELECT doc_id, ${(0 until 12).map(k =>
              s"${LlmQ.slotSql(k)} AS m$k").mkString(", ")}
           | FROM g WHERE len(grams) > 0)""".stripMargin
      s"""WITH $sigCte,
         |bands AS (
         | SELECT doc_id, 0 AS band,
         |  m0::VARCHAR || '_' || m1::VARCHAR || '_' || m2::VARCHAR || '_' ||
         |  m3::VARCHAR || '_' || m4::VARCHAR || '_' || m5::VARCHAR AS bk FROM sig
         | UNION ALL
         | SELECT doc_id, 1 AS band,
         |  m6::VARCHAR || '_' || m7::VARCHAR || '_' || m8::VARCHAR || '_' ||
         |  m9::VARCHAR || '_' || m10::VARCHAR || '_' || m11::VARCHAR AS bk FROM sig),
         |small AS (SELECT band, bk FROM bands GROUP BY band, bk
         |  HAVING count(*) <= 1000),
         |kept AS (SELECT bands.* FROM bands JOIN small USING (band, bk)),
         |cands0 AS (SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
         |  count(*) AS nb
         | FROM kept n JOIN kept c ON n.band = c.band AND n.bk = c.bk
         | WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
         | GROUP BY n.doc_id, c.doc_id),
         |capped AS (SELECT new_id, corpus_id, n_cand FROM (
         | SELECT new_id, corpus_id,
         |  count(*) OVER (PARTITION BY new_id) AS n_cand,
         |  row_number() OVER (PARTITION BY new_id
         |    ORDER BY nb DESC, corpus_id) AS rn
         | FROM cands0) WHERE rn <= 64),
         |v AS (SELECT new_id, corpus_id, n_cand,
         |  CASE WHEN len(a.grams) + len(b.grams)
         |     - len(list_intersect(a.grams, b.grams)) > 0
         |   THEN len(list_intersect(a.grams, b.grams))::DOUBLE /
         |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
         |   ELSE 0.0 END AS jac
         | FROM capped JOIN g a ON capped.new_id = a.doc_id
         |             JOIN g b ON capped.corpus_id = b.doc_id)
         |SELECT new_id, corpus_id, round(jac, 6) AS jaccard,
         | jac >= 0.6 AS is_dup, CAST(n_cand AS BIGINT) AS n_cand
         |FROM v""".stripMargin
    },

    "s_hard_negatives" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cemb
         |  FROM embeddings WHERE vec_id < greatest(8,
         |    floor(sqrt((SELECT count(*) FROM embeddings)::DOUBLE))::BIGINT)),
         |asg AS (SELECT vec_id, embedding, label, cid FROM (
         |  SELECT e.vec_id, e.embedding, e.label, c.cid,
         |   row_number() OVER (PARTITION BY e.vec_id
         |     ORDER BY ${LlmQ.cosSql("e.embedding", "c.cemb")} DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN cents c) WHERE rn = 1)
         |SELECT vec_id, label, nb_id, nb_label, cos, rnk FROM (
         | SELECT a.vec_id, a.label, b.vec_id AS nb_id, b.label AS nb_label,
         |  round(${LlmQ.cosSql("a.embedding", "b.embedding")}, 6) AS cos,
         |  row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY round(${LlmQ.cosSql("a.embedding", "b.embedding")}, 6)
         |      DESC, b.vec_id) AS rnk
         | FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id
         |  AND a.label <> b.label
         | WHERE round(${LlmQ.cosSql("a.embedding", "b.embedding")}, 6) < 0.95)
         |WHERE rnk <= 3""".stripMargin)
}
