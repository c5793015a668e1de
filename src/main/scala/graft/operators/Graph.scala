package graft.operators

import scala.collection.mutable
import org.apache.spark.{HashPartitioner, Partitioner, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed connected components for duplicate-cluster resolution.
  *
  * Near-dup detection ([[Dedup.nearDuplicates]]) emits an EDGE LIST of
  * verified pairs, but "keep one doc per duplicate group" needs the
  * transitive closure: if A~B and B~C, then {A,B,C} is ONE group even
  * when A~C was never emitted (chain duplicates are common — v1~v2~v3
  * of the same page). Resolving that closure is a connected-components
  * problem on a graph with billions of edges at 100 TB, so the driver
  * must never see the graph: this is the alternating large-star /
  * small-star algorithm (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14), where every round is a pair of
  * groupBy shuffles on node ids and the edge set monotonically
  * contracts toward a star forest in O(log n) rounds.
  *
  * Scale notes:
  *  - each round's state is ONE (src, dst) edge table; superseded
  *    localCheckpoint blocks are reclaimed by Spark's ContextCleaner
  *    once the driver drops the reference (deferred, GC-paced). With
  *    a RELIABLE checkpoint dir the files are only auto-deleted when
  *    the session was LAUNCHED with
  *    spark.cleaner.referenceTracking.cleanCheckpoints=true (default
  *    false, and read at SparkContext construction — a library
  *    cannot flip it later); otherwise one directory per round
  *    accumulates until the dir is cleaned externally, which a
  *    multi-hour production run must budget for;
  *  - before the first round every partition contracts its own edges
  *    with a local union-find, so components that fit inside one
  *    partition need no round at all; its memory is bounded by the
  *    distinct node ids of that partition's edges;
  *  - the stop test is one grouped aggregate per checkpoint asking
  *    whether the edges already form a star forest (no node with two
  *    parents, no node both parent and child) — no driver-side data
  *    movement, and no confirming round after the last useful one;
  *  - hot nodes (a component min with millions of members) appear only
  *    as the VALUE side of the final star edges, never as a groupBy
  *    key with unbounded fan-in: large-star groups by each node's own
  *    id, and a node's degree in the contracted graph shrinks every
  *    round (the paper's load-balance argument). The star-forest test
  *    does key on roots, but through a map-side partial aggregate, so
  *    a hot root costs one row per map partition there.
  *
  * The link-analysis operators ([[pageRank]], [[personalizedPageRank]])
  * share one exact-integer rank loop ([[rankLoop]]): Pregel supersteps
  * over edge and node RDDs under one hash partitioner, one message
  * shuffle per round, chained lazily so that the caller's own action
  * runs every round in one job with nothing cached.
  */
object Graph {

  /** Lineage-truncation point for the iterative algorithms. With no
    * checkpoint dir: `localCheckpoint` (executor-local blocks, fast —
    * the right default for a healthy cluster; lost with a lost
    * executor, in which case the job recomputes from scratch). With a
    * dir: RELIABLE `checkpoint()` — eager write to the fault-tolerant
    * store (HDFS/S3 on a real cluster), which survives executor loss
    * and bounds executor storage — the production setting for huge
    * graphs where a multi-hour CC/PageRank job must not restart on
    * one lost node. The dir is installed via
    * `sparkContext.setCheckpointDir` once per session. NOTE: the
    * checkpoint FILES themselves accumulate one dir per round unless
    * the session was launched with
    * spark.cleaner.referenceTracking.cleanCheckpoints=true (see the
    * class doc) — plan dir cleanup accordingly.
    */
  private def truncate(df: DataFrame,
                       checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(dir) =>
        useCheckpointDir(df.sparkSession.sparkContext, dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }

  /** [[truncate]] of an RDD with a checkpoint dir: the same eager
    * RELIABLE checkpoint, one job to compute `rdd` and one to write it. */
  private def truncate[T](rdd: RDD[T], dir: String): RDD[T] = {
    useCheckpointDir(rdd.sparkContext, dir)
    rdd.checkpoint()
    rdd.count()
    rdd
  }

  private def useCheckpointDir(sc: SparkContext, dir: String): Unit =
    if (!sc.getCheckpointDir.contains(dir)) sc.setCheckpointDir(dir)

  /** Connected components of an undirected graph given as an edge list
    * with BIGINT-comparable columns `a`, `b` (self-loops ignored).
    * Returns (node, component) for every node that appears in an edge;
    * `component` is the minimum node id of the component. Callers with
    * isolated nodes left-join and coalesce to the node's own id.
    *
    * @param maxIter safety bound on the large-star/small-star rounds
    *   after the partition-local contraction; the algorithm provably
    *   converges in O(log n) rounds, so 25 covers any graph that fits
    *   in storage. Throws if the edges are still not a star forest
    *   after that many rounds (a correctness guard, not a budget).
    * @param checkpointDir when set, per-round state is RELIABLY
    *   checkpointed there (see [[truncate]]) instead of
    *   executor-locally.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
                          checkpointDir: Option[String] = None): DataFrame = {
    // Each round substitutes `cur` into largeStar/smallStar several
    // times, so the LOGICAL plan would grow ~9x per round — after a
    // handful of rounds planning itself stack-overflows. The truncate
    // point cuts lineage to the materialized partitions (the standard
    // iterative-algorithm pattern). Superseded LOCAL checkpoints are
    // dropped by reference (ContextCleaner); RELIABLE checkpoint
    // files persist unless the session was launched with
    // spark.cleaner.referenceTracking.cleanCheckpoints=true — see
    // the class doc's scale notes.
    var cur = truncate(contract(edges
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))),
      checkpointDir)
    // Every edge keeps b < a: contract emits (node, local root) with
    // the root the minimum of its local component, and both star
    // steps emit (node, neighbourhood minimum). In a star forest with
    // b < a every leaf's only neighbour is its centre, which is
    // smaller, and every centre's neighbours are its leaves, which
    // are larger: large-star re-emits each (leaf, centre) edge and
    // small-star then maps it to itself, so the state is a fixed point
    // and stopping at the first star forest skips no work.
    // Connectivity is preserved by contract and by every round, so
    // each star is one whole component and its centre is that
    // component's minimum id.
    var it = 0
    while (!isStarForest(cur)) {
      if (it >= maxIter)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds")
      cur = truncate(smallStar(largeStar(cur)), checkpointDir)
      it += 1
    }
    // Star forest: every edge is (member, root). Roots appear only on
    // the b side — add their self-assignments.
    cur.select(col("a").as("node"), col("b").as("component"))
      .union(cur.select(col("b").as("node"), col("b").as("component")))
      .distinct()
  }

  private val pairEncoder =
    Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** Partition-local pre-contraction: union-find over each partition's
    * edges, emitting (node, local root) for every non-root node, where
    * the root is the minimum id of the node's component within that
    * partition. Every input edge joins two nodes that now share a
    * root, and every emitted edge joins two nodes of one component,
    * so components and their minima are unchanged. A node seen in
    * several partitions keeps one parent per partition; the rounds
    * resolve those. The union-find holds one entry per distinct node
    * id of the partition's edges, so a task's memory is bounded by its
    * own input, never by the graph. */
  private def contract(e: DataFrame): DataFrame =
    e.as(pairEncoder).mapPartitions(localStars)(pairEncoder)
      .toDF("a", "b").distinct()

  private def localStars(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new mutable.LongMap[Long]()
    // Path halving, iterative: a partition-sized chain must not
    // recurse once per link.
    def find(x0: Long): Long = {
      var x = x0
      var p = parent(x)
      while (p != x) {
        val g = parent(p)
        parent(x) = g
        x = g
        p = parent(x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // linking the larger root under the smaller keeps every root
      // its set's minimum
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    // keys copied first: find() rewrites entries while we walk them
    parent.keysIterator.toArray.iterator
      .map(n => (n, find(n)))
      .filter { case (n, r) => r != n }
  }

  /** One grouped aggregate: true iff no node has two parents and no
    * node is both a parent and a child. */
  private def isStarForest(e: DataFrame): Boolean =
    e.select(col("a").as("n"), lit(1).as("child"), lit(0).as("parent"))
      .union(e.select(col("b").as("n"), lit(0), lit(1)))
      .groupBy("n")
      .agg(sum(col("child")).as("child"), max(col("parent")).as("parent"))
      .filter(col("child") > 1 || (col("child") === 1 && col("parent") === 1))
      .isEmpty

  /** Large-star: every node links its LARGER neighbors to the minimum
    * of its neighborhood (including itself). Keeps component minima
    * reachable while cutting long chains in half each round. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("a"), col("b"))
      .union(e.select(col("b").as("a"), col("a").as("b")))
    val m = sym.groupBy("a")
      .agg(min(col("b")).as("__mn"))
      .select(col("a"), least(col("__mn"), col("a")).as("__m"))
    sym.join(m, "a")
      .filter(col("b") > col("a"))
      .select(col("b").as("a"), col("__m").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Small-star: every node links its SMALLER-or-equal neighbors (and
    * itself) to the minimum among them — flattens local trees into
    * stars. The only caller feeds it [[largeStar]] output, which is
    * ALREADY oriented and distinct (every emitted row has
    * b = neighborhood-min < a, and largeStar ends in distinct()), so
    * the former greatest/least + distinct() normalization here was a
    * redundant full exchange and re-aggregation of the edge set every
    * round (round 12). The rename-only projection keeps the algebra
    * identical. */
  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(col("a").as("u"), col("b").as("v"))
    val m = oriented.groupBy("u").agg(min(col("v")).as("__m"))
    val pointed = oriented.join(m, "u")
      .select(col("v").as("a"), col("__m").as("b"))
    val self = m.select(col("u").as("a"), col("__m").as("b"))
    pointed.union(self)
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Distributed PageRank in exact-integer fixed-point — link analysis
    * for source/domain authority scoring over a directed edge list
    * (src, dst): [[personalizedPageRank]] with every node a seed, so
    * every node's base mass is 15·scale/100 and every node starts at
    * r = scale. The rounds are [[rankLoop]]'s supersteps; nothing ever
    * visits the driver, and building the frame runs no round.
    *
    * Determinism: the textbook float recursion would inherit shuffle
    * summation order — instead ranks live on an integer lattice
    * (`scale` = one unit of rank mass) and every step is exact:
    * share = r DIV deg (exact long division), incoming = BIGINT sum
    * (exact in any engine regardless of order), next
    * r = 15·scale/100 + (85·incoming) DIV 100. Bit-identical results
    * on every engine and every cluster size — the property float
    * PageRank fundamentally lacks. Damping is the standard 0.85 as
    * the exact rational 85/100; dangling-node mass is dropped (not
    * redistributed), the common large-graph simplification.
    *
    * Overflow bound: 85 · (total rank mass) must stay below 2^63 —
    * total mass ≤ n_nodes · scale, so scale=1e6 is safe to ~1e11
    * nodes. A mirroring engine whose BIGINT sum widens (DuckDB →
    * HUGEINT) must cast back before the multiply.
    */
  def pageRank(edges: DataFrame, iters: Int,
               scale: Long = 1000000L,
               checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1 && scale >= 100)
    rankLoop(edges, None, iters, scale, checkpointDir)
      .select(col("node"), col("r"))
  }

  /** Personalized PageRank on the same exact-integer lattice as
    * [[pageRank]] — teleport mass flows ONLY to the seed set, so the
    * fixed point measures proximity to the seeds (the "related
    * items / similar users" primitive behind graph-based recommen-
    * dation and expansion queries). The same [[rankLoop]] rounds,
    * identical determinism argument: share = r DIV deg, incoming is
    * an exact BIGINT sum; the base mass 15·scale/100 lands on seeds
    * only and only seeds start with r = scale (every other node starts
    * at 0). A seed that is no edge endpoint is dropped. Returns
    * (node, is_seed, r). Bit-identical across engines and
    * partitionings.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int, scale: Long = 1000000L,
                           checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1 && scale >= 100)
    rankLoop(edges, Some(seeds), iters, scale, checkpointDir)
  }

  /** What the rank rounds know of a node: its out-degree over the
    * distinct edges (0 = dangling), whether it is an edge endpoint, and
    * whether it is a seed. `+` merges two partial tallies of one node. */
  private final case class RankNode(deg: Long, endpoint: Boolean,
                                    seed: Boolean) {
    def +(o: RankNode): RankNode =
      RankNode(deg + o.deg, endpoint || o.endpoint, seed || o.seed)
  }

  /** Places a (src, dst) key where `nodes` places its src, so an edge
    * lives in the partition of its source node's state. */
  private final class BySrc(nodes: HashPartitioner) extends Partitioner {
    def numPartitions: Int = nodes.numPartitions
    def getPartition(key: Any): Int =
      nodes.getPartition(key.asInstanceOf[(Long, Long)]._1)
  }

  private val rankSchema = StructType(Seq("node", "is_seed", "r")
    .map(StructField(_, LongType, nullable = false)))

  /** The exact-integer rank rounds of [[pageRank]] and
    * [[personalizedPageRank]] (`seeds` = None: every node is a seed),
    * as Pregel supersteps over RDDs that share one
    * `HashPartitioner(spark.sql.shuffle.partitions)` on the node id:
    *
    *  - edges: the distinct non-null (src, dst) LONG pairs, deduped
    *    inside the one shuffle that places each pair with its src; no
    *    per-node adjacency row, so a hub is never one record;
    *  - state: one row per endpoint with its out-degree and seed flag,
    *    from one shuffle of the edges' tallies and the seeds;
    *  - a round: a narrow `zipPartitions` of the edges with the ranks
    *    turns each edge into the message (dst, r DIV deg), the
    *    message `reduceByKey` is the round's only shuffle, and a
    *    second narrow `zipPartitions` with the state sets
    *    r = base + 85·incoming DIV 100. Each round reads the state and
    *    its own messages only, never the previous round's ranks, so a
    *    task's narrow chain stays one round long.
    *
    * The rounds chain lazily: the returned frame's own action runs the
    * input's remaining stages and every round as one job, and nothing
    * is cached. (The input frames are converted with `.rdd`, so any
    * of their stages that adaptive execution materializes still run at
    * build time.) Lineage grows by one shuffle stage per round, and
    * Spark's scheduler walks the stage graph recursively, so a job of
    * thousands of rounds needs `checkpointDir`: with it the state and
    * every round are reliably checkpointed, eagerly, one job each (see
    * [[truncate]]), which also bounds the recomputation after a lost
    * executor. Returns (node, is_seed, r) as LONG columns. */
  private def rankLoop(edges: DataFrame, seeds: Option[DataFrame],
                       iters: Int, scale: Long,
                       checkpointDir: Option[String]): DataFrame = {
    val spark = edges.sparkSession
    val nodes = new HashPartitioner(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val pairs = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    // one conversion for both inputs: a seed is a row with a null dst
    val in = seeds.fold(pairs)(sd => pairs.union(sd
      .select(col("seed").cast("long").as("src"), lit(null).cast("long").as("dst"))
      .filter(col("src").isNotNull))).rdd
    val e = in.filter(!_.isNullAt(1))
      .map(row => ((row.getLong(0), row.getLong(1)), null))
      .reduceByKey(new BySrc(nodes), (x, _) => x).keys
    val everySeed = seeds.isEmpty
    val tallies = e.flatMap { case (s, d) =>
      Iterator((s, RankNode(1L, endpoint = true, seed = everySeed)),
        (d, RankNode(0L, endpoint = true, seed = everySeed)))
    }
    val seeded = if (everySeed) tallies else tallies.union(in
      .filter(_.isNullAt(1))
      .map(row => (row.getLong(0), RankNode(0L, endpoint = false, seed = true))))
    def checkpointed[T](rdd: RDD[T]): RDD[T] =
      checkpointDir.fold(rdd)(truncate(rdd, _))
    val state = checkpointed(
      seeded.reduceByKey(nodes, _ + _).filter(_._2.endpoint))
    val base = 15L * scale / 100L
    var ranked = state.map { case (n, s) => (n, s, if (s.seed) scale else 0L) }
    for (_ <- 1 to iters) {
      val incoming = e.zipPartitions(ranked) { (es, rs) =>
        val share = new mutable.LongMap[Long]()
        rs.foreach { case (n, s, r) => if (s.deg > 0) share(n) = r / s.deg }
        es.map { case (src, dst) => (dst, share(src)) }
      }.reduceByKey(nodes, _ + _)
      ranked = checkpointed(state.zipPartitions(incoming) { (ss, is) =>
        val got = mutable.LongMap.from(is)
        ss.map { case (n, s) =>
          (n, s, (if (s.seed) base else 0L) + 85L * got.getOrElse(n, 0L) / 100L)
        }
      })
    }
    spark.createDataFrame(
      ranked.map { case (n, s, r) => Row(n, if (s.seed) 1L else 0L, r) },
      rankSchema)
  }

  /** Exact triangle enumeration of an undirected graph — the classic
    * degree-ordered (rank-ordered) algorithm: orient every edge from
    * the lower-(degree, id) endpoint to the higher, generate wedges
    * only from each node's OUT-edges, and close each wedge against the
    * oriented edge set. Each triangle {x,y,z} (ranks x<y<z) is emitted
    * exactly once, from apex x.
    *
    * Scale: orientation bounds every node's out-degree by O(√m)
    * (a node of degree d > √2m has all its out-neighbors of degree
    * ≥ d, and there are < √2m such nodes), so wedge generation is
    * O(m^1.5) total work — the well-known bound that makes exact
    * triangle counting feasible on skewed graphs where the naive
    * three-way join explodes on hub nodes. Three keyed shuffles
    * (degree agg, wedge self-join on src, closing semi-join); nothing
    * visits the driver. Input columns `a`, `b`; self-loops dropped.
    * Returns one row (n1, n2, n3) per triangle, endpoints sorted by id.
    */
  def triangles(edges: DataFrame, canonical: Boolean = false): DataFrame = {
    // canonical=true: the caller guarantees a < b, non-null, distinct
    // (both graft call sites end in `.filter(a < b).distinct()`), so
    // the normalize+distinct here would be a redundant full exchange
    // and re-aggregation of the edge set (round 12).
    val und =
      if (canonical) edges.select(col("a").cast("long").as("a"),
        col("b").cast("long").as("b"))
      else edges
        .select(least(col("a"), col("b")).cast("long").as("a"),
          greatest(col("a"), col("b")).cast("long").as("b"))
        .filter(col("a").isNotNull && col("b").isNotNull &&
          col("a") =!= col("b"))
        .distinct()
    val sym = und.union(und.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("n")).agg(count(lit(1)).as("d"))
    // Oriented edges carry both endpoint degrees so the wedge join can
    // rank-order its two legs without re-joining degrees. (A round-12
    // probe pre-partitioned this cache on src for the wedge self-join
    // — the g12/g14 pattern — but measured 1.09-1.13x at sf0.1: the
    // extra edge-scale exchange at build costs more than the two
    // wedge-side exchanges it saves on this already-small frame.
    // Reverted with the measurement recorded.)
    val oriented = sym
      .join(deg.select(col("n").as("a"), col("d").as("ds")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("dd")), "b")
      .filter(col("ds") < col("dd") ||
        (col("ds") === col("dd") && col("a") < col("b")))
      .select(col("a").as("src"), col("b").as("dst"), col("dd"))
      .cache()
    val left = oriented.select(col("src"), col("dst").as("w_b"), col("dd").as("db"))
    val right = oriented.select(col("src"), col("dst").as("w_c"), col("dd").as("dc"))
    val wedges = left.join(right, "src")
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("w_b") < col("w_c")))
      .select(col("src").as("apex"), col("w_b"), col("w_c"))
    val tris = wedges.join(
      oriented.select(col("src").as("w_b"), col("dst").as("w_c")),
      Seq("w_b", "w_c"), "left_semi")
    val res = tris.select(
      least(col("apex"), col("w_b"), col("w_c")).as("n1"),
      (col("apex") + col("w_b") + col("w_c")
        - least(col("apex"), col("w_b"), col("w_c"))
        - greatest(col("apex"), col("w_b"), col("w_c"))).as("n2"),
      greatest(col("apex"), col("w_b"), col("w_c")).as("n3"))
    res
  }

  /** Duplicate-cluster resolution over a document table: near-dup
    * pairs → connected components → one row per doc with its cluster
    * representative (component-minimum id) and cluster size. Docs with
    * no near-dup are their own singleton cluster. The downstream
    * "drop all but the representative" filter is then
    * `doc_id = cluster_rep` — transitive-closure-correct, unlike
    * dropping the larger side of each raw pair.
    *
    * Inherits [[Dedup.nearDuplicates]]'s per-doc candidate cap
    * (`maxCandPerDoc`, default [[Dedup.MaxCandPerDoc]]): a missed
    * pair can split a true cluster in two — pass `Int.MaxValue` for
    * uncapped recall on corpora small enough to afford it. */
  def dupClusters(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double,
                  bandRows: Int = Dedup.DefaultBandRows,
                  checkpointDir: Option[String] = None,
                  maxCandPerDoc: Int = Dedup.MaxCandPerDoc): DataFrame = {
    val pairs = Dedup
      .nearDuplicates(df, idCol, textCol, threshold, bandRows,
        maxCandPerDoc)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val comp = connectedComponents(pairs, checkpointDir = checkpointDir)
    val labeled = df.select(col(idCol).cast("long").as("node"))
      .join(comp, Seq("node"), "left")
      .select(col("node").as(idCol),
        coalesce(col("component"), col("node")).as("cluster_rep"))
    // Cluster size by one count-agg on the rep (tiny: ids only).
    val sizes = labeled.groupBy("cluster_rep")
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_rep")
      .select(col(idCol), col("cluster_rep"), col("cluster_size"))
  }
}
