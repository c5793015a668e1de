package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-7 batch (Curation29Q): LPA communities,
  * random-walk validity, and Merkle-level accounting. */
class Curation29Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("g11_labelprop: every node labeled once, sizes account for all nodes") {
    val r = SparkEntry.queries("g11_labelprop")(spark, dir)
      .cache()
    val nodes = r.select("node").distinct().count()
    assert(r.count() == nodes, "one row per node")
    // community labels are node ids from the same graph
    val lblSet = r.select(col("community").as("node")).distinct()
    assert(lblSet.join(r.select("node").distinct(), "node").count()
      == lblSet.count(), "labels are node ids")
    val total = r.select("community", "community_size").distinct()
      .agg(sum("community_size")).head().getLong(0)
    assert(total == nodes, "community sizes partition the node set")
  }

  test("g12_randomwalk: every step follows an edge and alternates sides") {
    val r = SparkEntry.queries("g12_randomwalk")(spark, dir)
      .cache()
    assert(r.count() > 0)
    // each hop must be a real edge of the bipartite graph
    val li = graft.queries.Q.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(graft.queries.Q.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long").as("a"),
        (col("l_suppkey") + 1000000000L  /* GraphQ.SuppOffset */).cast("long")
          .as("b")).distinct()
    val sym = li.union(li.select(col("b").as("a"), col("a").as("b"))).cache()
    val hops = r.select(col("start").as("a"), col("n1").as("b"))
      .union(r.select(col("n1").as("a"), col("n2").as("b")))
      .union(r.select(col("n2").as("a"), col("n3").as("b")))
    assert(hops.exceptAll(hops.join(sym, Seq("a", "b"), "left_semi"))
      .isEmpty, "every hop must be an edge")
    // bipartite: consecutive nodes are on opposite sides
    val off = 1000000000L
    val bad = r.filter(
      ((col("start") >= off) === (col("n1") >= off)) ||
        ((col("n1") >= off) === (col("n2") >= off)) ||
        ((col("n2") >= off) === (col("n3") >= off))).count()
    assert(bad == 0, "walk must alternate customer/supplier sides")
  }

  test("o26_merkle: per-level row accounting and digest ranges") {
    val r = SparkEntry.queries("o26_merkle")(spark, dir)
      .cache()
    val total = graft.queries.Q.lineitem(spark, dir).count()
    val byLevel = r.groupBy("level").agg(
      sum("n_rows").as("n"), count(lit(1)).as("k")).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    // every level partitions the full row count
    (0L to 2L).foreach { l =>
      assert(byLevel(l)._1 == total, s"level $l rows must sum to the table")
    }
    assert(byLevel(0L)._2 <= 256 && byLevel(1L)._2 <= 16
      && byLevel(2L)._2 == 1)
    val P = graft.functions.Text.P
    assert(r.filter(col("digest") < 0 || col("digest") >= P).count() == 0,
      "digests live on [0, P)")
  }
}
