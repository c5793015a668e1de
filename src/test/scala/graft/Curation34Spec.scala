package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-7 batch 34 (Curation34Q): retrieval-eval
  * lattice identities, KWIC context bounds, the mod-vs-ring migration
  * gap, and lexical-diversity index ranges. */
class Curation34Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("m37_retrieval_eval: lattice identities, bounded lists") {
    val r = SparkEntry.queries("m37_retrieval_eval")(
      spark, dir).cache()
    assert(r.count() > 0)
    assert(r.filter(col("n_ret") > 10 || col("n_rel") > col("n_ret"))
      .count() == 0)
    // mrr2520 = 2520 / first_rel_rank exactly when something is
    // relevant; both zero otherwise
    assert(r.filter(col("n_rel") > 0 &&
      col("mrr2520") * col("first_rel_rank") =!= 2520L).count() == 0)
    assert(r.filter(col("n_rel") === 0 &&
      (col("mrr2520") =!= 0L || col("first_rel_rank") =!= 0L ||
        col("ap2520_sum") =!= 0L)).count() == 0)
    assert(r.filter(col("ap") < 0.0 || col("ap") > 1.0).count() == 0)
    // AP = 1 demands every retrieved prefix be relevant; verify the
    // identity ap2520_sum <= n_rel * 2520 (precision <= 1)
    assert(r.filter(col("ap2520_sum") > col("n_rel") * 2520L).count() == 0)
  }

  test("t_kwic: single data-driven term, tight contexts, 1-based pos") {
    val r = SparkEntry.queries("t_kwic")(spark, dir).cache()
    assert(r.count() > 0)
    assert(r.select("term").distinct().count() == 1)
    assert(r.filter(col("pos") < 1L).count() == 0)
    // contexts hold at most 2 tokens
    assert(r.filter(size(split(col("left_ctx"), " ")) > 2 ||
      size(split(col("right_ctx"), " ")) > 2).count() == 0)
    // a doc-initial hit has no left context
    assert(r.filter(col("pos") === 1L && col("left_ctx") =!= "")
      .count() == 0)
  }

  test("o29_rebalance: ring migration is an order of magnitude cheaper") {
    val r = SparkEntry.queries("o29_rebalance")(spark, dir)
      .cache()
    assert(r.count() == 8, "one row per source shard")
    val t = r.agg(sum("n_keys"), sum("moved_mod"), sum("moved_ring")).head()
    val (n, mm, mr) = (t.getLong(0), t.getLong(1), t.getLong(2))
    assert(n == graft.io.Tables.eventsUs(spark, dir).count(),
      "shards must partition all keys")
    // mod-placement moves ~8/9 of keys, the range ring ~1/9
    assert(mm.toDouble / n > 0.7, s"mod migration $mm/$n suspiciously low")
    assert(mr.toDouble / n < 0.25, s"ring migration $mr/$n suspiciously high")
    assert(mr < mm, "the ring must beat modulo placement")
  }

  test("t_yule_k: index ranges and moment identities") {
    val r = SparkEntry.queries("t_yule_k")(spark, dir).cache()
    assert(r.count() > 0)
    assert(r.filter(col("simpson_d") < 0.0 || col("simpson_d") > 1.0)
      .count() == 0)
    assert(r.filter(col("yule_k") < 0.0).count() == 0)
    assert(r.filter(col("n_types") > col("n_tok") ||
      col("sum_sq") < col("n_tok")).count() == 0)
    // all-distinct tokens => sum_sq = n_tok => both indices zero
    assert(r.filter(col("sum_sq") === col("n_tok") &&
      (col("yule_k") =!= 0.0 || col("simpson_d") =!= 0.0)).count() == 0)
  }
}
