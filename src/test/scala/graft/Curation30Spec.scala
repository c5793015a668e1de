package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-7 batch 30 (Curation30Q): modularity
  * accounting identities, ROUGE bounds, k-NN vote validity, and the
  * exactly-k PPS draw. */
class Curation30Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("g13_modularity: contributions sum to a valid Q, edges account") {
    val r = SparkEntry.queries("g13_modularity")(spark, dir)
      .cache()
    assert(r.count() > 0)
    // Σ internal_edges <= m and Σ degree_sum = 2m exactly
    val sym = graft.queries.GraphQ.symEdges(spark, dir)
    val m2 = sym.count()
    val degTot = r.agg(sum("degree_sum")).head().getLong(0)
    assert(degTot == m2, "community degree sums must partition 2m")
    val eIn = r.agg(sum("internal_edges")).head().getLong(0)
    assert(eIn <= m2 / 2, "internal edges cannot exceed m")
    // Q = Σ contrib ∈ [-1, 1]; exact rational check against q_num
    val q = r.agg(sum(col("q_num"))).head().getLong(0).toDouble /
      (m2.toDouble * m2.toDouble)
    assert(q >= -1.0 && q <= 1.0, s"modularity $q out of range")
    // per-row: q_num = 2*m2*e_in - degree_sum^2
    val bad = r.filter(col("q_num") =!=
      col("internal_edges") * 2L * m2 -
        col("degree_sum") * col("degree_sum")).count()
    assert(bad == 0, "q_num identity must hold per community")
  }

  test("t_rouge: recalls in [0,1], self-pair sanity via identical docs") {
    val r = SparkEntry.queries("t_rouge")(spark, dir)
      .cache()
    assert(r.count() > 0)
    assert(r.filter(col("rouge1") < 0 || col("rouge1") > 1 ||
      col("rouge2") < 0 || col("rouge2") > 1).count() == 0)
    // clipped overlap can never exceed its denominator
    assert(r.filter(col("o1") > col("d1") || col("o2") > col("d2"))
      .count() == 0)
    // ROUGE-1 of a doc against itself is exactly 1 — check the kernel
    // on a synthetic identical pair routed through the same query by
    // building a 2-doc frame where doc 1 = doc 0's text.
    import spark.implicits._
    val two = Seq((0L, "the cat sat on the mat"),
      (1L, "the cat sat on the mat")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    withTempDir("rouge") { tmp =>
      two.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val self = SparkEntry.queries("t_rouge")(spark, tmp)
      val row = self.filter(col("doc_a") === 0).head()
      assert(row.getAs[Double]("rouge1") == 1.0)
      assert(row.getAs[Double]("rouge2") == 1.0)
    }
  }

  test("m34_knn_clf: one prediction per vector, labels from the domain") {
    val r = SparkEntry.queries("m34_knn_clf")(spark, dir)
      .cache()
    val n = r.count()
    assert(n > 0 && r.select("vec_id").distinct().count() == n)
    assert(r.filter(col("pred_label") < 0 || col("pred_label") > 9)
      .count() == 0, "votes must elect an existing label")
    val acc = r.agg(sum("correct")).head().getLong(0).toDouble / n
    // labels are random (10 classes) and embeddings are random unit
    // vectors: accuracy should be near chance, never degenerate
    assert(acc >= 0.0 && acc <= 1.0)
  }

  test("t_pps_sample: exactly 100 tickets, weights bound draw counts") {
    val r = SparkEntry.queries("t_pps_sample")(spark, dir)
      .cache()
    val tickets = r.agg(sum("n_tickets")).head().getLong(0)
    assert(tickets == 100L, s"systematic PPS must draw exactly k, got $tickets")
    assert(r.filter(col("n_tickets") <= 0).count() == 0)
    // a doc can only be drawn multiple times if its weight spans
    // multiple ticket intervals: n_tickets <= w*k/W + 1
    val w = graft.queries.Q.documents(spark, dir)
      .agg(sum(col("n_chars"))).head().getLong(0)
    val bad = r.filter(col("n_tickets") >
      col("w") * 100L / lit(w.toDouble) + 1.0).count()
    assert(bad == 0, "draw count must be proportional to weight")
    // cumulative weights are strictly increasing with doc_id
    val rows = r.orderBy("doc_id").select("cum_w").collect().map(_.getLong(0))
    assert(rows.sameElements(rows.sorted), "prefix sums must be monotone")
  }
}
