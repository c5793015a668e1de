package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Graph

/** Connected components (large-star/small-star) vs a brute-force
  * union-find oracle, plus dup-cluster resolution semantics. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side union-find for the expected labeling. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** A rank frame's rows, sorted, as LONG sequences. */
  private def rows(df: DataFrame): Seq[Seq[Long]] =
    df.collect().map(r => r.toSeq.map(_.asInstanceOf[Long])).toSeq
      .sortBy(_.head)

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain collapses to its minimum") {
    val got = run(Seq((4L, 3L), (3L, 2L), (2L, 1L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("disjoint components keep separate minima") {
    val got = run(Seq((1L, 2L), (5L, 6L), (6L, 7L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("self-loops and duplicate/reversed edges are harmless") {
    val got = run(Seq((1L, 1L), (2L, 3L), (3L, 2L), (2L, 3L)))
    assert(got == Map(2L -> 2L, 3L -> 2L))
  }

  test("empty edge set yields empty labeling") {
    assert(run(Seq.empty).isEmpty)
  }

  test("matches union-find on a pseudo-random graph") {
    // Deterministic LCG so the test is reproducible.
    var s = 12345L
    def next(n: Int): Long = { s = (s * 1103515245L + 12345L) % 2147483648L; s % n }
    val edges = (1 to 300).map(_ => (next(120), next(120))).filter(e => e._1 != e._2)
    assert(run(edges) == unionFind(edges))
  }

  test("maxIter = 0: one partition is resolved by contraction alone") {
    // Every component lies inside the single partition, so the local
    // union-find already emits a star forest and no round is needed.
    val edges = Seq((4L, 3L), (3L, 2L), (2L, 1L), (9L, 7L), (8L, 9L))
    val got = Graph.connectedComponents(edges.toDF("a", "b").repartition(1),
        maxIter = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(edges))
  }

  test("matches union-find with edges hashed over 6 partitions") {
    // Hashing scatters each component over several partitions: the
    // local contraction leaves nodes with several parents, so the
    // large-star/small-star rounds must finish the job (maxIter = 0
    // throws on the same input).
    var s = 777L
    def next(n: Int): Long = { s = (s * 1103515245L + 12345L) % 2147483648L; s % n }
    val edges = (1 to 400).map(_ => (next(300), next(300))).filter(e => e._1 != e._2)
    val df = edges.toDF("a", "b").repartition(6, col("a"))
    intercept[IllegalStateException](Graph.connectedComponents(df, maxIter = 0))
    val got = Graph.connectedComponents(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == unionFind(edges))
  }

  test("reliable checkpointing: d_components shape with a checkpoint dir") {
    // The production fault-tolerance path: with a checkpoint dir the
    // per-round state goes through eager reliable checkpoint() (files
    // on the fault-tolerant store) instead of executor-local blocks.
    // Same labeling as the default path, and the dir must actually
    // receive checkpoint data.
    withTempDir("graft_ck") { ckDir =>
      val docs = graft.queries.Q.documents(spark, "/root/testdata/sf0.001")
      val expected = Graph.dupClusters(docs, "doc_id", "text",
          threshold = 0.6, bandRows = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = Graph.dupClusters(docs, "doc_id", "text",
          threshold = 0.6, bandRows = 6, checkpointDir = Some(ckDir))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected, "reliable-checkpoint run must match default")
      val written = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(written > 0, "checkpoint dir must contain checkpoint files")
    }
  }

  test("long path (worst case for naive propagation) converges") {
    val n = 513L
    val edges = (1L until n).map(i => (i, i + 1))
    val got = run(edges)
    assert(got.size == n && got.values.forall(_ == 1L))
  }

  test("scale smoke: dupClusters at 16x with planted duplicate structure") {
    import org.apache.spark.sql.functions._
    // 16 identical copies of each base doc (disjoint id ranges): every
    // base text must resolve to ONE cluster of exactly 16 with the
    // minimum id as representative.
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 30)
      .dropDuplicates("text")
      .limit(40).cache()
    val nBase = base.count()
    val big = (0 until 16).map(i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_.unionByName(_))
    val clusters = graft.operators.Graph
      .dupClusters(big, "doc_id", "text", threshold = 0.9, bandRows = 6)
    val sizes = clusters.groupBy("cluster_rep")
      .agg(countDistinct(col("doc_id")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.size == nBase, s"expected $nBase clusters, got ${sizes.size}")
    assert(sizes.values.forall(_ == 16L), "every cluster must have all 16 copies")
    assert(sizes.keys.forall(_ < 1000000L), "rep must be the copy-0 (minimum) id")
    base.unpersist()
  }

  test("pageRank: exact fixed-point iteration, hand-computed, partition-free") {
    import org.apache.spark.sql.functions._
    // Path 1-2-3 symmetric. Iter 1 from uniform r=1e6: node 2 has
    // deg 2 (share 500000 each way), nodes 1,3 have deg 1 (share 1e6
    // to node 2). r1(1)=r1(3)=150000+85*500000/100=575000;
    // r1(2)=150000+85*2000000/100=1850000. Five iterations must be
    // bit-identical regardless of input partitioning.
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val one = graft.operators.Graph.pageRank(edges, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 575000L, 2L -> 1850000L, 3L -> 575000L))
    val five = graft.operators.Graph.pageRank(edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fiveShuffled = graft.operators.Graph
      .pageRank(edges.repartition(7, col("dst")), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(five == fiveShuffled, "integer lattice must kill partition-order drift")
    // symmetric path: ends stay equal, center dominates, mass bounded
    assert(five(1L) == five(3L) && five(2L) > five(1L))
    assert(five.values.forall(v => v >= 150000L && v <= 3000000L))
  }

  test("personalizedPageRank: hand-computed, mass enters at the seeds only") {
    // Path 1-2-3 symmetric, seed {1} (seed 9 is no endpoint and is
    // dropped). r0 = (1e6, 0, 0). Iter 1: node 2 receives 1e6 from
    // node 1 -> r1 = (150000, 850000, 0). Iter 2: node 2 splits
    // 850000 into 425000 each way and receives 150000 from node 1 ->
    // r2 = (150000 + 361250, 127500, 361250).
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val seeds = Seq(1L, 9L).toDF("seed")
    def ppr(iters: Int) = Graph.personalizedPageRank(edges, seeds, iters)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(ppr(1) == Map(1L -> (1L, 150000L), 2L -> (0L, 850000L),
      3L -> (0L, 0L)))
    assert(ppr(2) == Map(1L -> (1L, 511250L), 2L -> (0L, 127500L),
      3L -> (0L, 361250L)))
  }

  test("personalizedPageRank with every node a seed is pageRank") {
    import org.scalacheck.{Gen, Prop, Test}
    // directed edges over 12 nodes: dangling nodes, self-loops and
    // duplicates included; every input layout, shuffle width and AQE
    // mode must give the same rows, and PPR seeded with every node
    // must give pageRank's
    val graphs = Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 11L),
      Gen.chooseNum(0L, 11L))).map(_.take(30))
    val layouts = for (parts <- Seq(1, 3, 7); width <- Seq("1", "4", "32");
                       aqe <- Seq("true", "false")) yield (parts, width, aqe)
    val prop = Prop.forAll(graphs) { es =>
      val edges = es.toDF("src", "dst")
      val seeds = es.flatMap { case (a, b) => Seq(a, b) }.toDF("seed")
      val odd = es.map(_._1).filter(_ % 2 == 1).toDF("seed")
      val runs = layouts.map { case (parts, width, aqe) =>
        withConf("spark.sql.shuffle.partitions" -> width,
            "spark.sql.adaptive.enabled" -> aqe) {
          val in = edges.repartition(parts)
          val pr = rows(Graph.pageRank(in, iters = 4))
          val ppr = rows(Graph.personalizedPageRank(in, seeds, iters = 4))
          val pprOdd = rows(Graph.personalizedPageRank(in, odd, iters = 4))
          (pr, ppr, pprOdd)
        }
      }
      val (pr, ppr, _) = runs.head
      pr == ppr.map(_.patch(1, Nil, 1)) && runs.forall(_ == runs.head)
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(4), prop)
    assert(result.passed, result.status.toString)
  }

  test("pageRank builds with no job and collects in one, caching nothing") {
    // a local edge frame has no stage for adaptive execution to run at
    // build, so every round runs in the action's own job
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq(1L, 4L).toDF("seed")
    val cached = sc.getPersistentRDDs.keySet.toSet
    for ((name, build) <- Seq(
        "pageRank" -> (() => Graph.pageRank(edges, iters = 5)),
        "personalizedPageRank" ->
          (() => Graph.personalizedPageRank(edges, seeds, iters = 5)))) {
      val (df, built) = jobsIn(build())
      assert(built == 0, s"$name: $built job(s) at build")
      val (_, collected) = jobsIn(df.collect())
      assert(collected == 1, s"$name: $collected job(s) to collect")
      assert(sc.getPersistentRDDs.keySet.toSet == cached,
        s"$name left a persisted RDD")
    }
  }

  test("rank loops: a reliable checkpoint dir gives the default rows") {
    // the CC reliable-checkpointing test's shape: the state and every
    // round are written to the dir, and the rows do not change
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L),
      (4L, 1L), (5L, 3L)).toDF("src", "dst").repartition(3)
    val seeds = Seq(2L, 5L, 9L).toDF("seed")
    withTempDir("graft_rank_ck") { ckDir =>
      val dir = Some(ckDir)
      assert(rows(Graph.pageRank(edges, iters = 6, checkpointDir = dir)) ==
        rows(Graph.pageRank(edges, iters = 6)))
      assert(rows(Graph.personalizedPageRank(edges, seeds, iters = 6,
          checkpointDir = dir)) ==
        rows(Graph.personalizedPageRank(edges, seeds, iters = 6)))
      val written = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(written > 0, "checkpoint dir must contain checkpoint files")
    }
  }

  test("dupClusters: transitive chain resolved, singletons kept") {
    // 1~2 and 2~3 are near-dups but 1~3 may not pair directly; all
    // three must share one cluster_rep = 1. Doc 4 is a singleton.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "a the quick brown fox jumps over the lazy dog again and again!"),
      (4L, "completely different content about spark engines at scale")
    ).toDF("doc_id", "text")
    val got = Graph.dupClusters(docs, "doc_id", "text", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), (4L, 4L, 1L)))
  }

  test("triangles: K4 plus a pendant edge, each triangle once") {
    // Complete graph on {1,2,3,4} has C(4,3)=4 triangles; the pendant
    // 4-5 edge adds none. Input is deliberately unnormalized (both
    // orientations, a duplicate, a self-loop).
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (3L, 4L), (4L, 5L), (5L, 5L)
    ).toDF("a", "b")
    val got = Graph.triangles(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
  }

  test("triangles: triangle-free bipartite graph yields zero") {
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L))
      .toDF("a", "b")
    assert(Graph.triangles(edges).isEmpty)
  }

  test("scale smoke: triangles at 16x planted K4 blocks + a hub") {
    // 64 disjoint K4 blocks (4 triangles each) plus one hub node wired
    // to every block's node 0 — the hub has degree 64 but closes no
    // triangle, exercising the degree-ordering's hub handling: wedges
    // through the hub must be generated from the LOW-degree endpoints,
    // not fan out of the hub.
    val copies = 64
    val k4 = for {
      c <- 0 until copies; i <- 0 until 4; j <- (i + 1) until 4
    } yield (c * 10L + i, c * 10L + j)
    val hub = (0 until copies).map(c => (999999L, c * 10L))
    val t = Graph.triangles((k4 ++ hub).toDF("a", "b"))
    assert(t.count() == 4L * copies)
  }
}
