package graft.queries

import org.apache.spark.sql.functions._
import Q._
import graft.operators.Similarity

/** Round-8 batch 50: PCA — the canonical dimensionality-reduction
  * fit the surface lacked — as a top-principal-component power
  * iteration over an EXACT integer covariance (embeddings → the
  * bitwise-portable JL projection → per-dim int8 quantization →
  * BIGINT moment sums; the 8×8 matrix is bounded driver metadata,
  * iterated in pinned order exactly like w68's Markov chain), and
  * the entropy rate of the behavioral Markov chain (H = −Σ πᵢ Σ
  * pᵢⱼ ln pᵢⱼ — the sequence-predictability summary; single-ln
  * terms, the a27_psi class, folded in sorted-state order).
  * Net-new vs the 415-query surface (grep-checked).
  */
object Curation50Q extends QueryModule {

  /** Deterministic (bitwise-portable) 8-dim quantized projection +
    * exact integer covariance of the embeddings table, shared by the
    * Spark side; the oracle regenerates the same pipeline in SQL. */
  private def covAndN(s: org.apache.spark.sql.SparkSession,
      dir: String): (Array[Array[Double]], Long) = {
    val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val proj = Similarity.randomProjection(e, "embedding",
      inDims = 64, outDims = 8)
    val stats = proj.agg(
      (0 until 8).flatMap(j => Seq(min(col(s"p$j")).as(s"mn$j"),
        max(col(s"p$j")).as(s"mx$j"))).head,
      (0 until 8).flatMap(j => Seq(min(col(s"p$j")).as(s"mn$j"),
        max(col(s"p$j")).as(s"mx$j"))).tail: _*).head()
    val codes = proj.select((0 until 8).map { j =>
      val mn = stats.getDouble(2 * j)
      val mx = stats.getDouble(2 * j + 1)
      (if (mx > mn)
        least(lit(255L), floor((col(s"p$j") - lit(mn)) /
          lit(mx - mn) * lit(255.0)).cast("long"))
      else lit(0L)).as(s"c$j")
    }: _*)
    val aggs = (for (i <- 0 until 8; j <- i until 8) yield
      sum(col(s"c$i").cast("decimal(38,0)") * col(s"c$j"))
        .as(s"s${i}_$j")) ++
      (0 until 8).map(j => sum(col(s"c$j")).as(s"t$j")) :+
      count(lit(1)).as("n")
    val r = codes.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getLong(r.length - 1)
    val t = (0 until 8).map(j =>
      r.getLong(r.fieldIndex(s"t$j")).toDouble)
    val c = Array.ofDim[Double](8, 8)
    for (i <- 0 until 8; j <- i until 8) {
      val sij = r.getDecimal(r.fieldIndex(s"s${i}_$j")).doubleValue()
      // N·Σxy − Σx·Σy, multiplied as doubles in pinned order (the
      // g9 overflow rule)
      val v = n.toDouble * sij - t(i) * t(j)
      c(i)(j) = v; c(j)(i) = v
    }
    (c, n)
  }

  val queries: Seq[(String, QueryFn)] = Seq(

    // M47: top principal component of the quantized 8-dim projection
    // — 30 power-iteration steps with per-step L2 normalization, all
    // on the bounded 8×8 scaled-covariance matrix (exact integer
    // moments; the only doubles are the pinned-order products and
    // the per-step divisions/sqrt both engines replay identically).
    // Sign fixed by the first nonzero loading (a pure convention,
    // applied on both sides). Emits the loadings and the Rayleigh
    // quotient eigenvalue of the SCALED covariance (N²·cov).
    "m47_pca" -> ((s, dir) => {
      val (c, n) = covAndN(s, dir)
      var v = Array.tabulate(8)(i => if (i == 0) 1.0 else 0.0)
      for (_ <- 1 to 30) {
        val nv = new Array[Double](8)
        var i = 0
        while (i < 8) {
          var acc = 0.0
          var j = 0
          while (j < 8) { acc += c(i)(j) * v(j); j += 1 }
          nv(i) = acc
          i += 1
        }
        var nrm2 = 0.0
        var k = 0
        while (k < 8) { nrm2 += nv(k) * nv(k); k += 1 }
        val nrm = math.sqrt(nrm2)
        k = 0
        while (k < 8) { v(k) = if (nrm > 0) nv(k) / nrm else 0.0; k += 1 }
      }
      // Rayleigh quotient λ = vᵀCv (v unit) — pinned double folds
      var lam = 0.0
      for (i <- 0 until 8) {
        var acc = 0.0
        var j = 0
        while (j < 8) { acc += c(i)(j) * v(j); j += 1 }
        lam += v(i) * acc
      }
      // sign convention: first loading with |x| > 1e-12 is positive
      val flip = v.find(x => math.abs(x) > 1e-12).exists(_ < 0)
      val vv = if (flip) v.map(x => -x) else v
      import s.implicits._
      vv.zipWithIndex.map { case (x, i) => (i.toLong, x, lam, n) }
        .toSeq.toDF("dim", "loading", "eigval_scaled", "n_vectors")
    }),

    // A95: entropy rate of the behavioral Markov chain —
    // H = −Σᵢ πᵢ Σⱼ pᵢⱼ ln pᵢⱼ nats, with π the w68 stationary
    // distribution (same 20 pinned power steps from the same exact
    // transition counts) and each pᵢⱼ an exact ratio. Single-ln
    // terms (the a27_psi/t_llr class), folded in sorted (i, j)
    // order on both engines.
    "a95_entropy_rate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val t = graft.io.Tables.eventsUs(s, dir)
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("f"), col("to_type").as("g"))
        .agg(count(lit(1)).as("n"))
      // shared pinned power fold — graft.operators.MarkovChain (the
      // w68 matrix + iteration, one implementation for both queries)
      val tr = graft.operators.MarkovChain.fromCounts(t)
      val kk = tr.k
      val c = tr.counts
      val rs = tr.rowSums
      val p = graft.operators.MarkovChain.stationary(tr, 20)
      var h = 0.0
      var i = 0
      while (i < kk) {
        var hi = 0.0
        var j = 0
        while (j < kk) {
          if (rs(i) > 0 && c(i)(j) > 0) {
            val pij = c(i)(j) / rs(i)
            hi += pij * math.log(pij)
          }
          j += 1
        }
        h += p(i) * hi
        i += 1
      }
      import s.implicits._
      Seq((tr.states.length.toLong, -h, 20L))
        .toDF("n_states", "entropy_rate_nats", "n_iter")
    }))

  // ---- oracle SQL ----------------------------------------------------

  private def projSql: String = {
    val scale = math.sqrt(8.0)
    (0 until 8).map { j =>
      val sum = (0 until 64).map { i =>
        s"(${Similarity.projSign(j, i, 64)}) * (embedding[${i + 1}]::DOUBLE)"
      }.mkString(" + ")
      s"(($sum) / $scale) AS p$j"
    }.mkString(",\n ")
  }

  val oracle: Seq[(String, String)] = Seq(

    "m47_pca" -> {
      val codeSql = (0 until 8).map { j =>
        s"""CASE WHEN mx$j > mn$j THEN least(255,
           | floor((p$j - mn$j) / (mx$j - mn$j) * 255.0)::BIGINT)
           | ELSE 0 END AS c$j""".stripMargin
      }.mkString(",\n ")
      val mmSql = (0 until 8).map(j =>
        s"min(p$j) AS mn$j, max(p$j) AS mx$j").mkString(", ")
      val covSql = (for (i <- 0 until 8; j <- i until 8) yield
        s"sum(c$i::DECIMAL(38,0) * c$j) AS s${i}_$j").mkString(", ")
      val tSql = (0 until 8).map(j => s"sum(c$j)::BIGINT AS t$j")
        .mkString(", ")
      // flattened row-major 8x8 scaled covariance as a list
      val cvList = (for (i <- 0 until 8; j <- 0 until 8) yield {
        val (a, b) = if (i <= j) (i, j) else (j, i)
        s"n::DOUBLE * s${a}_$b::DOUBLE - t$i::DOUBLE * t$j::DOUBLE"
      }).mkString("[", ", ", "]")
      s"""WITH RECURSIVE proj AS (SELECT vec_id,
         | $projSql
         |FROM embeddings),
         |mm AS (SELECT $mmSql FROM proj),
         |codes AS (SELECT
         | $codeSql
         |FROM proj, mm),
         |mom AS (SELECT $covSql, $tSql, count(*)::BIGINT AS n
         | FROM codes),
         |cv AS (SELECT $cvList AS cm, n FROM mom),
         |it AS (
         | SELECT 0 AS step,
         |  list_transform(range(8),
         |   i -> CASE WHEN i = 0 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END)
         |   AS v
         | UNION ALL
         | SELECT step + 1, list_transform(range(8), i ->
         |   CASE WHEN nrm > 0 THEN nv[i + 1] / nrm ELSE 0.0 END)
         | FROM (SELECT step, nv,
         |   sqrt(list_reduce(list_prepend(0.0,
         |     list_transform(nv, x -> x * x)), (a, b) -> a + b)) AS nrm
         |  FROM (SELECT step,
         |    list_transform(range(8), i -> list_reduce(list_prepend(0.0,
         |      list_transform(range(8),
         |       j -> cm[i * 8 + j + 1] * v[j + 1])), (a, b) -> a + b))
         |     AS nv
         |   FROM it, cv WHERE step < 30))),
         |fin AS (SELECT v FROM it WHERE step = 30),
         |lam AS (SELECT list_reduce(list_prepend(0.0,
         |  list_transform(range(8), i -> v[i + 1] *
         |   list_reduce(list_prepend(0.0, list_transform(range(8),
         |    j -> cm[i * 8 + j + 1] * v[j + 1])), (a, b) -> a + b))),
         |  (a, b) -> a + b) AS l FROM fin, cv),
         |sg AS (SELECT CASE WHEN (SELECT list_reduce(list_prepend(0.0,
         |   list_filter(v, x -> abs(x) > 1e-12)[1:1]),
         |   (a, b) -> a + b) FROM fin) < 0 THEN -1.0 ELSE 1.0 END AS s)
         |SELECT i AS dim, v[i + 1] * s AS loading, l AS eigval_scaled,
         | n AS n_vectors
         |FROM fin, lam, sg, cv, (SELECT unnest(range(8)) AS i)""".stripMargin
    },

    "a95_entropy_rate" ->
      """WITH RECURSIVE e AS (SELECT user_id, event_type,
        |  epoch_us(ts) AS ts_us, event_id FROM events),
        |seq AS (SELECT user_id, event_type AS f,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS g
        | FROM e),
        |t AS (SELECT f, g, count(*)::BIGINT AS n FROM seq
        | WHERE g IS NOT NULL GROUP BY f, g),
        |states AS (SELECT list(DISTINCT st ORDER BY st) AS sl,
        |  count(DISTINCT st)::BIGINT AS k
        | FROM (SELECT f AS st FROM t UNION SELECT g FROM t)),
        |idx AS (SELECT generate_subscripts(sl, 1) - 1 AS i FROM states),
        |dense AS (SELECT ia.i AS i, ib.i AS j,
        |  coalesce((SELECT n FROM t
        |    WHERE t.f = sl[ia.i + 1] AND t.g = sl[ib.i + 1]), 0)::DOUBLE
        |    AS c
        | FROM idx ia, idx ib, states),
        |cm AS (SELECT list(c ORDER BY i, j) AS cl FROM dense),
        |rsl AS (SELECT list(rs ORDER BY i) AS rl FROM
        |  (SELECT i, sum(c) AS rs FROM dense GROUP BY i)),
        |it AS (
        | SELECT 0 AS step,
        |  list_transform(range((SELECT k FROM states)),
        |    i -> CASE WHEN i = 0 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END)
        |    AS p
        | UNION ALL
        | SELECT step + 1,
        |  list_transform(range(k),
        |    j -> list_reduce(list_prepend(0.0, list_transform(range(k),
        |      i -> CASE WHEN rl[i + 1] > 0
        |        THEN p[i + 1] * cl[i * k + j + 1] / rl[i + 1]
        |        WHEN i = j THEN p[i + 1] ELSE 0.0 END)),
        |      (a, b) -> a + b))
        | FROM it, states, cm, rsl WHERE step < 20),
        |fin AS (SELECT p FROM it WHERE step = 20)
        |SELECT k AS n_states,
        | -list_reduce(list_prepend(0.0, list_transform(range(k),
        |   i -> p[i + 1] * list_reduce(list_prepend(0.0,
        |    list_transform(range(k), j ->
        |     CASE WHEN rl[i + 1] > 0 AND cl[i * k + j + 1] > 0
        |      THEN (cl[i * k + j + 1] / rl[i + 1]) *
        |       ln(cl[i * k + j + 1] / rl[i + 1])
        |      ELSE 0.0 END)), (a, b) -> a + b))),
        |  (a, b) -> a + b) AS entropy_rate_nats,
        | 20::BIGINT AS n_iter
        |FROM fin, states, cm, rsl""".stripMargin)
}
