package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-6 batch 21: an exact k-means step, a mergeable bottom-k
  * quantile sketch with an accuracy gate, and the Hilbert layout's
  * zone-map payoff. Net-new vs the reference (SURVEY.md §2.11). All
  * decisions are integer-decided; emitted floats are single
  * divisions of exact BIGINTs.
  */
object Curation21Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // M32: ONE exact Lloyd (k-means) step on the milli-lattice —
    // the hash-checkable core of s_kmeans_ivf (MLlib's trained
    // KMeans is spec-only by nature; this pins the assignment+update
    // semantics exactly). Initial centroids = vectors 0..7
    // (deterministic); every squared distance is an exact BIGINT;
    // the argmin packs (dist, cid) into one BIGINT so assignment is
    // a plain min-agg, not a window sort; centroid updates are
    // exact sums with one division per emitted mean. Scale shape:
    // centroids are a 512-row broadcast; candidate dims stream
    // map-side; two keyed shuffles (assign, update).
    "m32_lloyd_step" -> ((s, dir) => {
      val comps = embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          lattice(col("x").cast("double"), 1000).as("q"))
      val cents = comps.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("dim"), col("q").as("cq"))
      val cand = comps.filter(col("vec_id") >= 8)
      val asn = cand.join(broadcast(cents), "dim")
        .groupBy("vec_id", "cid")
        .agg(sum((col("q") - col("cq")) * (col("q") - col("cq"))).as("d2"))
        .groupBy("vec_id")
        .agg(min(col("d2") * 8 + col("cid")).as("packed"))
        .select(col("vec_id"), pmod(col("packed"), lit(8L)).as("cid"))
      val upd = cand.join(asn, "vec_id")
        .groupBy("cid", "dim")
        .agg(sum("q").as("sq"), count(lit(1)).as("n"))
      upd.groupBy("cid").agg(
          max("n").as("n_assigned"),
          sum(abs(col("sq"))).as("abs_digest"),
          max(when(col("dim") === 0, col("sq"))).as("s0"),
          max(when(col("dim") === 1, col("sq"))).as("s1"))
        .select(col("cid").as("cluster"), col("n_assigned"),
          col("abs_digest"),
          (col("s0").cast("double") / col("n_assigned").cast("double"))
            .as("mean_dim0"),
          (col("s1").cast("double") / col("n_assigned").cast("double"))
            .as("mean_dim1"))
    }),

    // A62: mergeable bottom-k quantile sketch + accuracy gate — the
    // quantile twin of a30_hll_merge: a uniform bottom-64-by-hash
    // sample per group IS a mergeable sketch (bottom-k of a union =
    // bottom-k of the unioned bottom-ks), so the ALL row is built by
    // MERGING the per-flag samples, never rescanning the base. The
    // estimate is the sample's type-1 median; the gate checks its
    // TRUE rank lands within n/2 ± 15% — cross-multiplied integers,
    // no floats anywhere.
    "a62_bottomk_quantiles" -> ((s, dir) => {
      val base = lineitem(s, dir).select(
        col("l_returnflag").as("scope"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("v"),
        ((col("l_orderkey") * 131071L + col("l_linenumber") * 8191L)
          % 1000003L).as("h"))
      val wS = Window.partitionBy("scope")
        .orderBy("h", "l_orderkey", "l_linenumber")
      val flagSamples = base
        .withColumn("rs", row_number().over(wS)).filter(col("rs") <= 64)
        .drop("rs")
      // merge step: global sketch = bottom-64 of the per-flag sketches
      val allSample = flagSamples.withColumn("scope", lit("ALL"))
        .withColumn("rs", row_number().over(wS)).filter(col("rs") <= 64)
        .drop("rs")
      val samples = flagSamples.unionByName(allSample)
      val wV = Window.partitionBy("scope")
        .orderBy("v", "l_orderkey", "l_linenumber")
      val est = samples
        .withColumn("sample_n", count(lit(1)).over(Window.partitionBy("scope")))
        .withColumn("rv", row_number().over(wV))
        .filter(col("rv") === expr("(sample_n + 1) DIV 2"))
        .select(col("scope"), col("sample_n"), col("v").as("est_median"))
      val truth = base.select(col("scope"), col("v"))
        .unionByName(base.select(lit("ALL").as("scope"), col("v")))
      truth.join(broadcast(est), "scope")
        .groupBy("scope", "sample_n", "est_median")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("v") <= col("est_median"), 1L).otherwise(0L))
            .as("rank_est"))
        .select(col("scope"), col("n_total"), col("sample_n"),
          col("est_median"), col("rank_est"),
          (abs(col("rank_est") * 2 - col("n_total")) * 10 <=
            col("n_total") * 3).as("within_15pct"))
    }),

    // O22: the Hilbert layout's zone-map payoff, measured — bucket
    // the key range into 64 contiguous runs (what a sorted write
    // would put in 64 files) and emit each bucket's (px, py)
    // bounding box. Tight integer boxes = effective min/max pruning
    // on BOTH dimensions (o16_zonemap is the read side). The spec
    // proves the point by comparing total box area against a hashed
    // layout. Deterministic bucketing (hval DIV 16384), no range
    // sampling.
    "o22_hilbert_layout" -> ((s, dir) => {
      val base = lineitem(s, dir).select(
        pmod(col("l_partkey"), lit(1024L)).as("px"),
        pmod(col("l_suppkey"), lit(1024L)).as("py"))
      graft.functions.Hilbert.withHilbert(base, col("px"), col("py"),
          10, "hval")
        .groupBy(expr("hval DIV 16384").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("px").as("min_x"), max("px").as("max_x"),
          min("py").as("min_y"), max("py").as("max_y"))
        .select(col("bucket"), col("n"), col("min_x"), col("max_x"),
          col("min_y"), col("max_y"),
          ((col("max_x") - col("min_x") + 1) *
            (col("max_y") - col("min_y") + 1)).as("box_area"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "m32_lloyd_step" ->
      s"""WITH L AS (SELECT vec_id,
        |  unnest(list_transform(range(1, len(embedding) + 1),
        |    i -> {'d': i - 1, 'x': embedding[i]})) AS s FROM embeddings),
        |p AS (SELECT vec_id, s.d::BIGINT AS dim,
        |  ${latticeSql("s.x::DOUBLE", 1000)} AS q FROM L),
        |c AS (SELECT vec_id AS cid, dim, q AS cq FROM p WHERE vec_id < 8),
        |d AS (SELECT p.vec_id, c.cid,
        |  sum((p.q - c.cq) * (p.q - c.cq))::BIGINT AS d2
        | FROM p JOIN c USING (dim) WHERE p.vec_id >= 8 GROUP BY 1, 2),
        |a AS (SELECT vec_id, min(d2 * 8 + cid) % 8 AS cid
        | FROM d GROUP BY vec_id),
        |u AS (SELECT a.cid, p.dim, sum(p.q)::BIGINT AS sq,
        |  count(*)::BIGINT AS n
        | FROM p JOIN a USING (vec_id) WHERE p.vec_id >= 8 GROUP BY 1, 2)
        |SELECT cid AS cluster, max(n)::BIGINT AS n_assigned,
        | sum(abs(sq))::BIGINT AS abs_digest,
        | max(CASE WHEN dim = 0 THEN sq END)::DOUBLE / max(n)::DOUBLE
        |   AS mean_dim0,
        | max(CASE WHEN dim = 1 THEN sq END)::DOUBLE / max(n)::DOUBLE
        |   AS mean_dim1
        |FROM u GROUP BY cid""".stripMargin,

    "a62_bottomk_quantiles" ->
      """WITH base AS (SELECT l_returnflag AS scope, l_orderkey,
        |  l_linenumber, CAST(l_quantity AS BIGINT) AS v,
        |  (l_orderkey * 131071 + l_linenumber * 8191) % 1000003 AS h
        | FROM lineitem),
        |fs AS (SELECT * FROM (SELECT base.*,
        |  row_number() OVER (PARTITION BY scope
        |    ORDER BY h, l_orderkey, l_linenumber) AS rs FROM base)
        | WHERE rs <= 64),
        |als AS (SELECT * FROM (SELECT 'ALL' AS scope, l_orderkey,
        |  l_linenumber, v, h,
        |  row_number() OVER (ORDER BY h, l_orderkey, l_linenumber) AS rs
        | FROM fs) WHERE rs <= 64),
        |smp AS (SELECT scope, l_orderkey, l_linenumber, v, h FROM fs
        | UNION ALL SELECT scope, l_orderkey, l_linenumber, v, h FROM als),
        |est AS (SELECT scope, sample_n, v AS est_median FROM (
        |  SELECT scope, v,
        |   count(*) OVER (PARTITION BY scope) AS sample_n,
        |   row_number() OVER (PARTITION BY scope
        |     ORDER BY v, l_orderkey, l_linenumber) AS rv
        |  FROM smp) WHERE rv = (sample_n + 1) // 2),
        |tr AS (SELECT scope, v FROM base
        | UNION ALL SELECT 'ALL', v FROM base)
        |SELECT scope, count(*)::BIGINT AS n_total,
        | sample_n::BIGINT AS sample_n, est_median,
        | sum(CASE WHEN v <= est_median THEN 1 ELSE 0 END)::BIGINT
        |   AS rank_est,
        | abs(sum(CASE WHEN v <= est_median THEN 1 ELSE 0 END) * 2
        |     - count(*)) * 10 <= count(*) * 3 AS within_15pct
        |FROM tr JOIN est USING (scope)
        |GROUP BY scope, sample_n, est_median""".stripMargin,

    "o22_hilbert_layout" -> {
      val keys = Seq("px", "py")
      s"""WITH h0 AS (SELECT l_partkey % 1024 AS px,
         |  l_suppkey % 1024 AS py,
         |  l_partkey % 1024 AS x, l_suppkey % 1024 AS y,
         |  0::BIGINT AS d FROM lineitem),
         |${graft.functions.Hilbert.hilbertSql(10, keys)},
         |z AS (SELECT d // 16384 AS bucket, px, py FROM g10)
         |SELECT bucket, count(*)::BIGINT AS n,
         | min(px) AS min_x, max(px) AS max_x,
         | min(py) AS min_y, max(py) AS max_y,
         | (max(px) - min(px) + 1) * (max(py) - min(py) + 1) AS box_area
         |FROM z GROUP BY bucket""".stripMargin
    })
}
