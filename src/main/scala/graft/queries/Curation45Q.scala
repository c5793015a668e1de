package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-8 batch 45: whole-series and survey-weighting statistics —
  * the Ljung-Box portmanteau test (is the hourly traffic series white
  * noise? a33's per-user lag-3 ACF can't answer a 24-lag joint
  * question) and iterative proportional fitting / raking (the survey
  * and ads-measurement weighting workhorse). Net-new vs the 403-query
  * surface (grep-checked). The ACF lattice is fully exact (scaled
  * autocovariances as DECIMAL(38) integers, ρ_k = one division); the
  * IPF iteration is a bounded-cell (≤ 5×7) pinned-order fold mirrored
  * step-for-step by a recursive-CTE list oracle (the w68 pattern).
  */
object Curation45Q extends QueryModule {

  private val HourUs = 3600000000L

  val queries: Seq[(String, QueryFn)] = Seq(

    // A91: Ljung-Box Q over the corpus-wide hourly event-count series
    // (24 lags). Missing hours count zero (the full hour range is
    // generated, not just observed hours). Scaled residuals
    // r_t = n·x_t − S are exact; each autocovariance numerator
    // num_k = Σ r_t·r_{t+k} sums on DECIMAL(38) (BIGINT overflows at
    // the 100x step); ρ_k = num_k/num_0 is one division; the 24-term
    // Σ ρ²/(n−k) folds in lag order. Shape: one keyed agg + a
    // 25-way lag equi-join on the bounded hour lattice — no window.
    "a91_ljungbox" -> ((s, dir) => {
      val K = 24
      val ev = graft.io.Tables.eventsUs(s, dir)
        .select(expr(s"ts_us DIV $HourUs").as("h"))
      val counts = ev.groupBy("h").agg(count(lit(1)).as("x"))
      val bounds = counts.agg(min("h").as("mn"), max("h").as("mx"))
      val hours = bounds.select(
        explode(sequence(col("mn"), col("mx"))).as("h"))
      val series = hours.join(counts, Seq("h"), "left")
        .select(col("h"), coalesce(col("x"), lit(0L)).as("x"))
      val tot = series.agg(count(lit(1)).as("n"), sum("x").as("sx"))
      val withR = series.crossJoin(broadcast(tot))
        .select(col("h"), col("n"), col("sx"),
          (col("x") * col("n") - col("sx")).as("r"))
      val lags = withR.select(col("h"), col("r"),
        explode(sequence(lit(0), lit(K))).as("k"))
      val shifted = withR.select(col("h").as("h2"), col("r").as("r2"))
      val nums = lags
        .join(shifted, col("h2") === col("h") + col("k"))
        .groupBy("k")
        .agg(sum(col("r").cast("decimal(38,0)") * col("r2")).as("num"))
      val num0 = nums.filter(col("k") === 0)
        .select(col("num").as("num0"))
      val sums = nums.filter(col("k") > 0)
        .crossJoin(broadcast(num0)).crossJoin(broadcast(tot))
        .select(col("k"), col("n"),
          ((col("num").cast("double") / col("num0").cast("double")) *
            (col("num").cast("double") / col("num0").cast("double")) /
            (col("n") - col("k")).cast("double")).as("term"))
      sums.groupBy("n")
        .agg(aggregate(
          transform(sort_array(collect_list(struct(col("k"),
            col("term")))), x => x("term")),
          lit(0.0), (acc, x) => acc + x).as("sterm"))
        .select(col("n").as("n_hours"),
          (col("n").cast("double") * (col("n") + 2).cast("double") *
            col("sterm")).as("q"),
          lit(K.toLong).as("df"))
        .select(col("n_hours"), col("q"), col("df"),
          (col("q") > 36.415029).cast("long").as("significant"))
    }),

    // A90: raking / iterative proportional fitting of the
    // (event_type × weekday) contingency table to UNIFORM margins —
    // 8 full IPF iterations (row step then column step). The cell
    // counts distribute (one keyed agg); the ≤ 5×7 table is bounded
    // cluster metadata (the w68/DistRank-offsets class), iterated
    // driver-side in (type, dow) order with the identical
    // w·(target/margin) op sequence the oracle's recursive CTE folds
    // — bitwise-portable raw weights.
    "a90_raking" -> ((s, dir) => {
      val cells = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_type"),
          pmod(expr("ts_us DIV 86400000000"), lit(7L)).as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("cnt"))
        .collect().map(r => ((r.getString(0), r.getLong(1)),
          r.getLong(2))).toMap
      val types = cells.keys.map(_._1).toSeq.distinct.sorted
      val dows = cells.keys.map(_._2).toSeq.distinct.sorted
      val (kr, kc) = (types.length, dows.length)
      val n = cells.values.sum
      val tr = n.toDouble / kr
      val tc = n.toDouble / kc
      val w = Array.tabulate(kr, kc)((i, j) =>
        cells.getOrElse((types(i), dows(j)), 0L).toDouble)
      for (_ <- 1 to 8) {
        var i = 0
        while (i < kr) {
          var rs = 0.0
          var j = 0
          while (j < kc) { rs += w(i)(j); j += 1 }
          j = 0
          while (j < kc) {
            if (rs > 0) w(i)(j) = w(i)(j) * (tr / rs); j += 1 }
          i += 1
        }
        var j = 0
        while (j < kc) {
          var cs = 0.0
          var i2 = 0
          while (i2 < kr) { cs += w(i2)(j); i2 += 1 }
          i2 = 0
          while (i2 < kr) {
            if (cs > 0) w(i2)(j) = w(i2)(j) * (tc / cs); i2 += 1 }
          j += 1
        }
      }
      import s.implicits._
      (for (i <- types.indices; j <- dows.indices) yield
        (types(i), dows(j),
          cells.getOrElse((types(i), dows(j)), 0L), w(i)(j), 8L))
        .toDF("event_type", "dow", "cnt", "weight", "n_iter")
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a91_ljungbox" ->
      """WITH ev AS (SELECT epoch_us(ts) // 3600000000 AS h FROM events),
        |counts AS (SELECT h, count(*)::BIGINT AS x FROM ev GROUP BY h),
        |bounds AS (SELECT min(h) AS mn, max(h) AS mx FROM counts),
        |hours AS (SELECT unnest(range(mn, mx + 1)) AS h FROM bounds),
        |series AS (SELECT hours.h, coalesce(x, 0)::BIGINT AS x
        | FROM hours LEFT JOIN counts ON hours.h = counts.h),
        |tot AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx
        | FROM series),
        |wr AS (SELECT h, (x * n - sx)::BIGINT AS r FROM series, tot),
        |lags AS (SELECT wr.h, wr.r, k FROM wr,
        |  (SELECT unnest(range(0, 25)) AS k)),
        |nums AS (SELECT k,
        |  sum(lags.r::DECIMAL(38,0) * w2.r) AS num
        | FROM lags JOIN wr w2 ON w2.h = lags.h + lags.k
        | GROUP BY k),
        |n0 AS (SELECT num AS num0 FROM nums WHERE k = 0),
        |terms AS (SELECT k,
        |  ((num::DOUBLE / num0::DOUBLE) * (num::DOUBLE / num0::DOUBLE))
        |   / (n - k)::DOUBLE AS term
        | FROM nums, n0, tot WHERE k > 0),
        |f AS (SELECT n,
        |  list_reduce(list_prepend(0.0, list(term ORDER BY k)),
        |    (a, b) -> a + b) AS sterm
        | FROM terms, tot GROUP BY n)
        |SELECT n AS n_hours, q, 24::BIGINT AS df,
        | CASE WHEN q > 36.415029 THEN 1 ELSE 0 END::BIGINT AS significant
        |FROM (SELECT n, n::DOUBLE * (n + 2)::DOUBLE * sterm AS q
        | FROM f)""".stripMargin,

    "a90_raking" ->
      """WITH RECURSIVE cells AS (SELECT event_type,
        |  (epoch_us(ts) // 86400000000) % 7 AS dow,
        |  count(*)::BIGINT AS cnt
        | FROM events GROUP BY event_type, dow),
        |tl AS (SELECT list(DISTINCT event_type ORDER BY event_type)
        |  AS ts, count(DISTINCT event_type)::BIGINT AS kr FROM cells),
        |dl AS (SELECT list(DISTINCT dow ORDER BY dow) AS ds,
        |  count(DISTINCT dow)::BIGINT AS kc FROM cells),
        |tot AS (SELECT sum(cnt)::BIGINT AS n FROM cells),
        |ti AS (SELECT generate_subscripts(ts, 1) - 1 AS i FROM tl),
        |di AS (SELECT generate_subscripts(ds, 1) - 1 AS j FROM dl),
        |dense AS (SELECT i, j, coalesce((SELECT cnt FROM cells
        |   WHERE cells.event_type = ts[i + 1] AND cells.dow = ds[j + 1]),
        |   0)::DOUBLE AS c
        | FROM ti, di, tl, dl),
        |base AS (SELECT list(c ORDER BY i, j) AS w FROM dense),
        |it AS (
        | SELECT 0 AS step, w FROM base
        | UNION ALL
        | SELECT step + 1,
        |  CASE WHEN step % 2 = 0 THEN
        |   list_transform(range(kr * kc), x ->
        |    CASE WHEN list_reduce(list_prepend(0.0,
        |       list_transform(range(kc),
        |        j2 -> w[(x // kc) * kc + j2 + 1])), (a, b) -> a + b) > 0
        |     THEN w[x + 1] * ((n::DOUBLE / kr) /
        |      list_reduce(list_prepend(0.0, list_transform(range(kc),
        |       j2 -> w[(x // kc) * kc + j2 + 1])), (a, b) -> a + b))
        |     ELSE w[x + 1] END)
        |  ELSE
        |   list_transform(range(kr * kc), x ->
        |    CASE WHEN list_reduce(list_prepend(0.0,
        |       list_transform(range(kr),
        |        i2 -> w[i2 * kc + (x % kc) + 1])), (a, b) -> a + b) > 0
        |     THEN w[x + 1] * ((n::DOUBLE / kc) /
        |      list_reduce(list_prepend(0.0, list_transform(range(kr),
        |       i2 -> w[i2 * kc + (x % kc) + 1])), (a, b) -> a + b))
        |     ELSE w[x + 1] END)
        |  END
        | FROM it, tl, dl, tot WHERE step < 16)
        |SELECT ts[(x // kc) + 1] AS event_type,
        | ds[(x % kc) + 1] AS dow,
        | (SELECT cnt FROM cells WHERE cells.event_type = ts[(x // kc) + 1]
        |   AND cells.dow = ds[(x % kc) + 1]) AS cnt,
        | w[x + 1] AS weight, 8::BIGINT AS n_iter
        |FROM (SELECT w FROM it WHERE step = 16), tl, dl,
        | (SELECT i * (SELECT kc FROM dl) + j AS x FROM ti, di)""".stripMargin)
}
