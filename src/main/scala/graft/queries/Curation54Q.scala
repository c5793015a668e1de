package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 54: clustering-quality indices over the exact-Lloyd
  * IVF fit (ml.ExactLloyd, the s_kmeans_ivf scaffold) — the "is this
  * codebook any good" audit a 100 TB embedding pipeline runs before
  * committing an IVF index build. Net-new vs the 425-query surface
  * (grep-checked: no davies/calinski/silhouette):
  *  - Davies-Bouldin per-cluster worst-overlap ratio R_i (σ variant:
  *    σ_i = sqrt(mean squared distance) so the only irrationals are
  *    k sqrt's at the very end, never a row-scale sqrt-sum);
  *  - Calinski-Harabasz variance-ratio index (SSW exact BIGINT from
  *    lattice distances, TSS exact via the per-dim moment identity);
  *  - simplified-silhouette banding on the SQUARED-distance lattice:
  *    s' = (b²−a²)/max(a²,b²) — band thresholds decide on pure
  *    integer comparisons (2·(b²−a²) > max ⟺ s' > 1/2), the
  *    rule-6 gate pattern, so every output cell is BIGINT.
  *
  * Scale shape: centroids are a k·dims broadcast; every row-scale
  * stage is one keyed shuffle (vec_id or cid grain); the k×k
  * cross-cluster stages are 8×8 bounded frames.
  */
object Curation54Q extends QueryModule {

  private val K = 8

  /** (qarr, cents) for the shared exact-Lloyd fit on the LITERAL
    * path (ml.ExactLloyd.centroidsLit): qarr = (vec_id, q) lattice
    * arrays, cents = the k driver-known centroid vectors — the fit's
    * per-round state is ≤ k·dims rows of cluster metadata, so the
    * post-fit passes become single codegen'd scans instead of
    * N·k·dims explode-join shuffles (213 s → seconds for m50 at the
    * 100× step; values bit-identical to the join path by
    * construction: same integers, same packed argmin). */
  private def fit(s: SparkSession, dir: String): (DataFrame, Array[Array[Long]]) = {
    val qarr = embeddings(s, dir)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => lattice(x.cast("double"), 1000)).as("q"))
      .cache()
    (qarr, graft.ml.ExactLloyd.centroidsLit(qarr, K, iters = 3))
  }

  /** One codegen'd scan: per-vector (cid, own d2, best-other d2)
    * from the fused LatticeArgmin loop over the literal codebook. */
  private def scanD2(qarr: DataFrame, cents: Array[Array[Long]]): DataFrame =
    qarr.select(col("vec_id"),
        graft.ml.ExactLloyd.argminLit(col("q"), cents).as("am"))
      .select(col("vec_id"), col("am")("cid").as("cid"),
        col("am")("a2").as("a2"), col("am")("b2").as("b2"))

  val queries: Seq[(String, QueryFn)] = Seq(

    // M50: Davies-Bouldin detail — per cluster i, the worst
    // (σ_i + σ_j)/d(c_i, c_j) over j ≠ i (the index is their mean;
    // the per-cluster rows are the actionable audit: which clusters
    // actually bleed into each other). σ and d are single sqrt's of
    // exact-integer ratios/values — bit-portable.
    "m50_davies_bouldin" -> ((s, dir) => {
      val (qarr, cents) = fit(s, dir)
      val stats = scanD2(qarr, cents).groupBy("cid").agg(
        count(lit(1)).as("n"), sum(col("a2")).as("sd2"))
        .select(col("cid"), col("n"),
          sqrt(col("sd2").cast("double") / col("n").cast("double"))
            .as("sigma"))
      // the k×k centroid distance table is driver metadata: exact
      // integers from the literal codebook, ≤ 56 rows
      import s.implicits._
      val cd = (for (i <- cents.indices; j <- cents.indices if i != j)
        yield (i.toLong, j.toLong,
          cents(i).zip(cents(j))
            .map { case (a, b) => (a - b) * (a - b) }.sum))
        .toDF("ci", "cj", "cd2")
      val r = broadcast(cd)
        .join(stats.select(col("cid").as("ci"), col("sigma").as("si")), "ci")
        .join(stats.select(col("cid").as("cj"), col("sigma").as("sj")), "cj")
        .groupBy(col("ci").as("cid"))
        .agg(max((col("si") + col("sj")) / sqrt(col("cd2").cast("double")))
          .as("r"))
      stats.join(r, "cid")
        .select(col("cid"), col("n"), col("sigma"), col("r"))
        .orderBy("cid")
    }),

    // M51: Calinski-Harabasz — SSW is the exact BIGINT sum of
    // within-cluster squared lattice distances; TSS rides the per-dim
    // moment identity Σ_d (N·Q_d − S_d²)/N with an exact DECIMAL(38)
    // numerator (N·Q_d brushes past 2⁶³); SSB = TSS − SSW and the
    // final ratio are the only IEEE steps.
    "m51_calinski" -> ((s, dir) => {
      val (qarr, cents) = fit(s, dir)
      val ssw = scanD2(qarr, cents).agg(sum(col("a2")).as("ssw"))
      val nv = qarr.agg(countDistinct(col("vec_id")).as("nvec"))
      val tssNum = qarr
        .select(posexplode(col("q")).as(Seq("dim", "qv")))
        .groupBy("dim").agg(
          sum(col("qv")).as("sd"),
          sum(col("qv").cast("decimal(38,0)") * col("qv")).as("qd"))
        .crossJoin(broadcast(nv))
        .agg(sum(col("qd") * col("nvec") -
          col("sd").cast("decimal(38,0)") * col("sd")).as("tss_num"),
          max(col("nvec")).as("nvec"))
      tssNum.crossJoin(broadcast(ssw))
        .select(col("nvec").as("n"), lit(K.toLong).as("k"), col("ssw"),
          (col("tss_num").cast("double") / col("nvec").cast("double") -
            col("ssw").cast("double")).as("ssb"))
        .select(col("n"), col("k"), col("ssw"),
          ((col("ssb") / (col("k") - 1).cast("double")) /
            (col("ssw").cast("double") /
              (col("n") - col("k")).cast("double"))).as("ch"))
    }),

    // M52: simplified-silhouette banding — a² = own-centroid squared
    // distance, b² = best other centroid; band by the squared
    // silhouette s' = (b²−a²)/max(a²,b²) with INTEGER-decided
    // thresholds: strong s' > 1/2, weak 0 < s' ≤ 1/2, misplaced
    // s' ≤ 0. Pure BIGINT output (the rule-6 gate shape).
    "m52_silhouette" -> ((s, dir) => {
      val (qarr, cents) = fit(s, dir)
      scanD2(qarr, cents).withColumnRenamed("cid", "own")
        .groupBy(col("own").as("cid"))
        .agg(count(lit(1)).as("n"),
          sum(when((col("b2") - col("a2")) * 2 >
            greatest(col("a2"), col("b2")), 1L).otherwise(0L))
            .as("n_strong"),
          sum(when(col("b2") > col("a2") &&
            (col("b2") - col("a2")) * 2 <=
              greatest(col("a2"), col("b2")), 1L).otherwise(0L))
            .as("n_weak"),
          sum(when(col("b2") <= col("a2"), 1L).otherwise(0L))
            .as("n_misplaced"))
        .orderBy("cid")
    }))

  // ---- oracle SQL ----------------------------------------------------

  /** Shared CTE prefix: exploded milli-lattice comps + the generated
    * exact-Lloyd chain (c3 = centroids, a4 = final assignment). */
  private val FitCtes =
    s"""L AS (SELECT vec_id,
       |  unnest(list_transform(range(1, len(embedding) + 1),
       |    i -> {'d': i - 1, 'x': embedding[i]})) AS s FROM embeddings),
       |comps AS (SELECT vec_id, s.d::BIGINT AS dim,
       |  ${latticeSql("s.x::DOUBLE", 1000)} AS q FROM L),
       |${graft.ml.ExactLloyd.sql(k = 8, iters = 3)}""".stripMargin

  val oracle: Seq[(String, String)] = Seq(

    "m50_davies_bouldin" ->
      s"""WITH $FitCtes,
         |own AS (SELECT p.vec_id, a.cid,
         |  sum((p.q - c.cq) * (p.q - c.cq))::BIGINT AS d2
         | FROM comps p JOIN a4 a USING (vec_id)
         |  JOIN c3 c ON c.cid = a.cid AND c.dim = p.dim
         | GROUP BY 1, 2),
         |stats AS (SELECT cid, count(*)::BIGINT AS n,
         |  sqrt((sum(d2)::BIGINT)::DOUBLE / count(*)::DOUBLE) AS sigma
         | FROM own GROUP BY cid),
         |cd AS (SELECT i.cid AS ci, j.cid AS cj,
         |  sum((i.cq - j.cq) * (i.cq - j.cq))::BIGINT AS cd2
         | FROM c3 i JOIN c3 j ON i.dim = j.dim AND i.cid <> j.cid
         | GROUP BY 1, 2),
         |r AS (SELECT ci AS cid,
         |  max((si.sigma + sj.sigma) / sqrt(cd2::DOUBLE)) AS r
         | FROM cd JOIN stats si ON si.cid = cd.ci
         |  JOIN stats sj ON sj.cid = cd.cj
         | GROUP BY ci)
         |SELECT cid, n, sigma, r FROM stats JOIN r USING (cid)
         |ORDER BY cid""".stripMargin,

    "m51_calinski" ->
      s"""WITH $FitCtes,
         |sswq AS (SELECT sum((p.q - c.cq) * (p.q - c.cq))::BIGINT AS ssw
         | FROM comps p JOIN a4 a USING (vec_id)
         |  JOIN c3 c ON c.cid = a.cid AND c.dim = p.dim),
         |nv AS (SELECT count(DISTINCT vec_id)::BIGINT AS nvec FROM comps),
         |tn AS (SELECT sum(qd * nvec - sd::DECIMAL(38,0) * sd) AS tss_num,
         |  max(nvec)::BIGINT AS nvec
         | FROM (SELECT dim, sum(q)::BIGINT AS sd,
         |    sum(q::DECIMAL(38,0) * q) AS qd FROM comps GROUP BY dim), nv)
         |SELECT nvec AS n, 8::BIGINT AS k, ssw,
         | ((ssb / 7.0) / (ssw::DOUBLE / (nvec - 8)::DOUBLE)) AS ch
         |FROM (SELECT nvec, ssw,
         |  (tss_num::VARCHAR)::DOUBLE / nvec::DOUBLE - ssw::DOUBLE AS ssb
         | FROM tn, sswq)""".stripMargin,

    "m52_silhouette" ->
      s"""WITH $FitCtes,
         |d2 AS (SELECT p.vec_id, c.cid,
         |  sum((p.q - c.cq) * (p.q - c.cq))::BIGINT AS d2
         | FROM comps p JOIN c3 c USING (dim) GROUP BY 1, 2),
         |ab AS (SELECT d2.vec_id, a.cid AS own,
         |  min(CASE WHEN d2.cid = a.cid THEN d2 END)::BIGINT AS a2,
         |  min(CASE WHEN d2.cid <> a.cid THEN d2 END)::BIGINT AS b2
         | FROM d2 JOIN a4 a USING (vec_id) GROUP BY 1, 2)
         |SELECT own AS cid, count(*)::BIGINT AS n,
         | sum(CASE WHEN (b2 - a2) * 2 > greatest(a2, b2)
         |   THEN 1 ELSE 0 END)::BIGINT AS n_strong,
         | sum(CASE WHEN b2 > a2 AND (b2 - a2) * 2 <= greatest(a2, b2)
         |   THEN 1 ELSE 0 END)::BIGINT AS n_weak,
         | sum(CASE WHEN b2 <= a2 THEN 1 ELSE 0 END)::BIGINT
         |   AS n_misplaced
         |FROM ab GROUP BY own ORDER BY cid""".stripMargin)
}
