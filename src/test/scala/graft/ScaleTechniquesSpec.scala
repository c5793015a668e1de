package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.operators.Skew

/** The 100 TB toolbox has to be provably shuffle-correct, not just
  * asserted: salted join equivalence, bucketed co-located join with
  * NO exchange in the physical plan, broadcast pinning. */
class ScaleTechniquesSpec extends SparkSpec {
  import spark.implicits._

  test("salted join == plain join (inner and left), skewed key intact") {
    // 90% of large rows share one hot key.
    val large = (1 to 2000).map(i =>
      (if (i % 10 == 0) s"k${i % 7}" else "HOT", i.toDouble))
      .toDF("k", "v")
    val small = Seq(("HOT", 1), ("k1", 2), ("k3", 3), ("absent", 9))
      .toDF("k", "w")
    for (jt <- Seq("inner", "left")) {
      val plain = large.join(small, Seq("k"), jt)
      val salted = Skew.saltedJoin(large, small, Seq("k"), factor = 8, joinType = jt)
      assert(salted.count() == plain.count(), jt)
      assert(salted.except(plain).count() == 0 && plain.except(salted).count() == 0, jt)
    }
  }

  test("scale smoke: 16x data through the window+join pipeline, one exchange family") {
    // The shuffle-discipline claim is that a whole per-key feature
    // block rides ONE exchange. Inflate events 16x (~160k rows) with
    // distinct synthetic users per copy, run lag+rolling+diff+cumcount
    // over one window spec, and assert the executed plan still has
    // exactly one shuffle and the results stay per-key correct.
    val base = graft.io.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "ts", "value")
    val big = (0 until 16).map(i => base
      .withColumn("user_id", col("user_id") + lit(i * 1000000L))
      .withColumn("event_id", col("event_id") + lit(i * 10000000L)))
      .reduce(_.unionByName(_))
    val w = graft.operators.Temporal.spec(
      Seq(col("user_id")), Seq(col("ts"), col("event_id")))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = big.select(col("event_id"), col("user_id"),
        graft.operators.Temporal.lagK(col("value"), 1, w).as("lag1"),
        graft.operators.Temporal.rollingMean(col("value"), 5, w).as("rm"),
        graft.operators.Temporal.diff(col("value"), w).as("d1"),
        graft.operators.Temporal.cumCount(w).as("cc"))
      val shuffles = out.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }
      assert(shuffles.size == 1,
        s"window block must ride one exchange, got ${shuffles.size}")
      assert(out.count() == 16 * base.count())
      // spot-check per-key correctness survived the inflation
      val g = out.filter(col("user_id") === 15000000L + 3)
        .orderBy("event_id").limit(2).collect()
      if (g.length == 2) assert(g(0).isNullAt(2) && !g(1).isNullAt(2))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bucketed tables co-locate: join plan has NO shuffle exchange") {
    withTempDir("graft_wh") { wh =>
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val a = (1L to 5000L).map(i => (i, i * 2.0)).toDF("id", "va")
        val b = (1L to 5000L).map(i => (i, s"s$i")).toDF("id", "vb")
        a.write.mode("overwrite")
          .option("path", s"$wh/ta").bucketBy(8, "id").saveAsTable("graft_ta")
        b.write.mode("overwrite")
          .option("path", s"$wh/tb").bucketBy(8, "id").saveAsTable("graft_tb")
        val j = spark.table("graft_ta").join(spark.table("graft_tb"), "id")
        val shuffles = j.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e
        }
        assert(shuffles.isEmpty,
          s"bucketed join must be exchange-free, found: $shuffles")
        assert(j.count() == 5000)
      } finally {
        spark.sql("DROP TABLE IF EXISTS graft_ta")
        spark.sql("DROP TABLE IF EXISTS graft_tb")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("partitioned parquet write prunes partitions at the scan") {
    withTempDir("graft_part") { dir =>
      val df = (1 to 1000).map(i => (s"type${i % 5}", i, i * 1.5))
        .toDF("event_type", "id", "v")
      df.write.mode("overwrite").partitionBy("event_type").parquet(dir)
      val read = spark.read.parquet(dir).filter(col("event_type") === "type3")
      val scan = read.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      // Pruning happened at planning: only 1 of 5 partition dirs selected.
      assert(scan.relation.location.listFiles(scan.partitionFilters, Nil).size == 1)
      assert(read.count() == 200)
    }
  }

  test("filter and column pruning reach the parquet scan") {
    withTempDir("graft_push") { dir =>
      (1 to 1000).map(i => (i.toLong, i * 2.0, s"s$i")).toDF("id", "v", "s")
        .write.mode("overwrite").parquet(dir)
      val q = spark.read.parquet(dir).filter(col("id") > 900).select("v")
      val scan = q.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      assert(scan.metadata("PushedFilters").contains("GreaterThan(id,900)"))
      // ReadSchema carries only the needed columns, not `s`.
      assert(scan.requiredSchema.fieldNames.toSet == Set("id", "v"))
    }
  }

  test("dynamic partition pruning: dim filter prunes the fact scan at runtime") {
    // Static pruning (above) handles literal filters; DPP is the 100 TB
    // join shape — fact partitioned on the join key, dim filtered by a
    // predicate only known at plan time. The fact scan must receive a
    // runtime `dynamicpruning` subquery filter so only the matching
    // partition directories are read, not the whole fact table.
    withTempDir("graft_dpp") { dir =>
      val fact = (1 to 10000).map(i => (i % 20, i.toLong, i * 1.1))
        .toDF("part_key", "id", "v")
      fact.write.mode("overwrite").partitionBy("part_key").parquet(s"$dir/fact")
      // The dim must be a real scan: a local Seq constant-folds its
      // Filter into a LocalRelation, and the DPP rule requires a
      // selective predicate NODE on the pruning side.
      (0 until 20).map(i => (i, s"grp${i % 4}")).toDF("part_key", "grp")
        .write.mode("overwrite").parquet(s"$dir/dim")
      // AQE wraps the join in AdaptiveSparkPlanExec, which hides the scan
      // from collect() until execution — assert on the static plan.
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val j = spark.read.parquet(s"$dir/fact")
          .join(spark.read.parquet(s"$dir/dim").filter(col("grp") === "grp1"),
            "part_key")
        val scan = j.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.requiredSchema.fieldNames.contains("id") => f
        }.head
        assert(scan.partitionFilters.exists(_.toString.contains("dynamicpruning")),
          s"fact scan must carry a DPP filter, got: ${scan.partitionFilters}")
        // grp1 selects part_key in {1, 5, 9, 13, 17}: 5 of 20 partitions.
        assert(j.count() == 2500)
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("broadcast hint pins the small side (no shuffle of the big side)") {
    val big = (1 to 10000).map(i => (i % 100, i)).toDF("k", "v")
    val dim = (0 until 100).map(i => (i, s"d$i")).toDF("k", "name")
    val j = big.join(broadcast(dim), "k")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(j.count() == 10000)
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // The non-partition-column counterpart of DPP: when the dim side
    // carries a selective predicate and the join key is not a
    // partition column, Spark can inject a bloom-filter runtime filter
    // so fact rows are dropped at the scan, before the shuffle. At
    // 100 TB this is the difference between shuffling the full fact
    // table and shuffling the ~matching slice.
    withTempDir("graft_bloom") { dir =>
      (1 to 200000).map(i => (i % 1000, i.toLong, i * 1.1))
        .toDF("k", "id", "v").write.mode("overwrite").parquet(s"$dir/fact")
      (0 until 1000).map(i => (i, s"g${i % 5}"))
        .toDF("k", "g").write.mode("overwrite").parquet(s"$dir/dim")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // production default only arms the filter when the probe side scans
      // >10GB — scale the threshold down to the fixture instead of the
      // fixture up to 10GB
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "1KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val j = spark.read.parquet(s"$dir/fact")
          .join(spark.read.parquet(s"$dir/dim").filter(col("g") === "g1"), "k")
        val opt = j.queryExecution.optimizedPlan.toString
        assert(opt.contains("bloom_filter") || opt.contains("BloomFilter"),
          s"expected an injected bloom runtime filter, plan:\n${opt.take(2000)}")
        assert(j.count() == 40000)
      } finally {
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
        spark.conf.unset(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("randomProjection is a pure map stage: zero exchanges, codegen'd") {
    // a real file scan — local rows constant-fold to a LocalTableScan
    // and prove nothing
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = graft.operators.Similarity
      .randomProjection(df, "embedding", inDims = 64, outDims = 8)
    val shuffles = p.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty, s"projection must not shuffle: $shuffles")
    val codegen = p.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }
    assert(codegen.nonEmpty, "unrolled sums must run inside codegen")
  }

  test("decontamination probe broadcasts the benchmark gram set") {
    val train = (1L to 200L).map(i => (i, s"alpha beta gamma delta e$i f g h"))
      .toDF("doc_id", "text")
    val bench = Seq((900L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val f = graft.operators.Contamination
      .flagContaminated(train, bench, "doc_id", "text", n = 5)
    assert(f.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "bench gram set must broadcast — shuffling 100 TB of train grams " +
        "against a MB-sized benchmark would be the wrong plan")
    assert(f.count() == 200)
  }

  test("scale smoke: connected components O(log n) rounds hold at 100k-node chains") {
    // Worst case for star-contraction round count is a long path (the
    // 16x dupClusters smoke in GraphSpec has tiny diameter — clusters
    // of 16). 8 disjoint chains of 12,500 nodes each (100k nodes,
    // 12.5k diameter) must converge inside a 2·log2(diameter)+4 round
    // budget — the maxIter guard THROWS past the budget, so completing
    // at all is the round-count assertion, and it's the property that
    // must survive data growth (rounds grow with log of the longest
    // chain, not with row count).
    val n = 12500L
    val budget = 2 * (64 - java.lang.Long.numberOfLeadingZeros(n)) + 4
    val edges = spark.range(8L * n)
      .filter(col("id") % n =!= (n - 1))
      .select(col("id").as("a"), (col("id") + 1L).as("b"))
    val cc = graft.operators.Graph.connectedComponents(edges, maxIter = budget)
    // Every node's component is its chain's minimum (k * n).
    val wrong = cc.filter(col("component") =!= (col("node") - (col("node") % n)))
    assert(wrong.isEmpty, "component must be the chain minimum")
    assert(cc.count() == 8L * n)
  }

  test("scale smoke: connected components O(log n) rounds hold at 100k-node chains, hash-partitioned") {
    // The range-partitioned chains above are mostly resolved by the
    // partition-local union-find before any round runs. Hashing the
    // edges on `a` over 8 partitions puts a link next to its successor
    // only about one time in eight, so the large-star/small-star
    // rounds do the contraction and must still fit the same budget.
    val n = 12500L
    val budget = 2 * (64 - java.lang.Long.numberOfLeadingZeros(n)) + 4
    val edges = spark.range(8L * n)
      .filter(col("id") % n =!= (n - 1))
      .select(col("id").as("a"), (col("id") + 1L).as("b"))
      .repartition(8, col("a"))
    val cc = graft.operators.Graph.connectedComponents(edges, maxIter = budget)
    val wrong = cc.filter(col("component") =!= (col("node") - (col("node") % n)))
    assert(wrong.isEmpty, "component must be the chain minimum")
    assert(cc.count() == 8L * n)
  }

  test("scale smoke: c_corpus at 16x collapses exact copies to the 1x output") {
    // 16 disjoint-id copies of the sf0.001 corpus: every copy is an
    // exact duplicate of copy 0, so the md5 keeper stage (min doc_id)
    // must collapse the inflation and the composite's final output
    // must EQUAL the 1x run bit-for-bit (quality/split key off
    // content, not ids) — scale-INVARIANCE, not just completion.
    val dir = "/root/testdata/sf0.001"
    val base = spark.read.parquet(s"$dir/documents.parquet")
    val big = (0 until 16).map(i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L)))
      .reduce(_.unionByName(_))
    withTempDir("graft_corpus16x") { tmp =>
      big.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val got = SparkEntry.queries("c_corpus")(spark, tmp)
      val want = SparkEntry.queries("c_corpus")(spark, dir)
      assert(got.count() == want.count(), "16x must dedup down to the 1x corpus")
      assert(got.except(want).isEmpty && want.except(got).isEmpty,
        "surviving rows (ids, quality, split) must match the 1x run exactly")
    }
  }

  test("scale smoke: sessionize→funnel at 16x — one data exchange, balanced, 16x counts") {
    // The j14 composition claim re-proven on 16x-inflated events with
    // disjoint users per copy: (a) the physical plan still carries ONE
    // full-data exchange (+ the 1-row global agg), (b) hash
    // partitioning on user_id stays balanced (peak partition within
    // 3x of mean — skew would sink the window at 100 TB), and (c) the
    // funnel counts are exactly 16x the base run's.
    import graft.operators.Sessions
    val gapUs = 600L * 1000000L
    val stages = Seq("view", "click", "purchase")
    def run(df: org.apache.spark.sql.DataFrame) = {
      val sess = Sessions.sessionize(df, col("user_id"), col("ts_us"),
        col("event_id"), gapUs)
      (sess, Sessions.funnel(sess, Seq(col("user_id"), col("session_idx")),
        col("ts_us"), col("event_type"), stages))
    }
    val base = graft.io.Tables.eventsUs(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "ts_us", "event_type")
    val big = (0 until 16).map(i => base
      .withColumn("user_id", col("user_id") + lit(i * 1000000L))
      .withColumn("event_id", col("event_id") + lit(i * 10000000L)))
      .reduce(_.unionByName(_))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (sess, out) = run(big)
      val shuffles = out.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }
      assert(shuffles.size == 2,
        s"16x composition must keep 1 data + 1 final-agg exchange, got ${shuffles.size}")
      val sizes = sess.groupBy(org.apache.spark.sql.functions.spark_partition_id())
        .count().collect().map(_.getLong(1))
      assert(sizes.max.toDouble <= 3.0 * sizes.sum / sizes.length,
        s"peak partition ${sizes.max} vs sizes ${sizes.mkString(",")}")
      val gotN = out.collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      val baseN = run(base)._2.collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      stages.foreach(st => assert(gotN(st) == 16L * baseN(st),
        s"$st: ${gotN(st)} != 16 * ${baseN(st)}"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("segmentDedup keeper decision shuffles ids+hashes, never the text") {
    // The keeper aggregate must shuffle md5 hashes with (id, pos) —
    // assert no shuffle WRITES a segment-text attribute. (Text still
    // legitimately rides the (id,pos)-keyed semi join + reassembly.)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = (1L to 50L).map(i => (i, Seq(s"seg$i", "common-boilerplate")))
        .toDF("doc_id", "segs")
      val d = graft.operators.Dedup.segmentDedup(docs, "doc_id", col("segs"))
      val hashShuffles = d.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
          if e.child.output.exists(_.name == "__h") => e
      }
      assert(hashShuffles.nonEmpty, "expected the keeper hash shuffle")
      assert(hashShuffles.forall(!_.child.output.map(_.name).contains("__seg")),
        "keeper shuffle must carry only (hash, id, pos), not segment text")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("t_chunk is a pure map stage: chunking never shuffles") {
    val p = SparkEntry.queries("t_chunk")(spark, "/root/testdata/sf0.001")
    val shuffles = p.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty,
      s"tokenize+explode+slice must stay on the scan partitioning: $shuffles")
  }

  test("a25_outliers: one stats shuffle, stats broadcast back (fact never reshuffled)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("a25_outliers")(spark, "/root/testdata/sf0.001")
      val plan = p.queryExecution.executedPlan
      assert(plan.toString.contains("BroadcastHashJoin"),
        "per-type stats must broadcast — reshuffling the 100 TB fact " +
          "side on event_type (5 keys!) would be the wrong plan")
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size == 1,
        s"only the tiny stats aggregate may shuffle, got: ${shuffles.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("w27_cusum shares the canonical per-user window exchange: exactly one") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("w27_cusum")(spark, "/root/testdata/sf0.001")
      val shuffles = p.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }
      assert(shuffles.size == 1, s"got ${shuffles.size} exchanges")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("j16_bloom: the explicit bloom probe filters BELOW the join") {
    // The whole point of the manual semi-join reduction is that the
    // probe runs scan-side: in the optimized plan the
    // bloom_might_contain Filter must sit strictly below the Join,
    // so non-matching rows die before the exchange.
    val p = SparkEntry.queries("j16_bloom")(spark, "/root/testdata/sf0.001")
    val opt = p.queryExecution.optimizedPlan
    val joinDepth = opt.collectWithSubqueries {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joinDepth.nonEmpty)
    val joinHasProbeBelow = joinDepth.exists(_.left.toString
      .contains("bloom_might_contain"))
    assert(joinHasProbeBelow,
      s"bloom probe not below the join:\n${opt.toString.take(1500)}")
    assert(p.count() > 0)
  }

  test("triangles plan is all hash joins: no cartesian/nested-loop") {
    val edges = (1L to 400L).flatMap(i =>
      Seq((i, i % 97 + 1000), (i, (i * 7) % 89 + 2000))).toDF("a", "b")
    val t = graft.operators.Graph.triangles(edges)
    val phys = t.queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct") &&
      !phys.contains("BroadcastNestedLoopJoin"),
      s"unexpected join strategy:\n${phys.take(1500)}")
  }
}
