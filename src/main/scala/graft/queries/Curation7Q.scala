package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text
import Q._

/** Round-5 batch 7: time-series downsampling (OHLC), seasonal
  * indexing, and model interpretability (permutation importance).
  * Net-new vs the reference (SURVEY.md §2.11). Exactness per
  * ORACLE_NOTES rule 1: OHLC picks ride packed-BIGINT argmin/argmax,
  * the seasonal index is one division of exact sums, and permutation
  * importance is a rows-only MLlib evaluation gated by spec.
  */
object Curation7Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // OHLC bar resampling — the canonical time-series downsample
    // (metrics pipelines as much as finance): per (user, hour) the
    // open/close ride packed-BIGINT argmin/argmax over (ts, id)
    // (cents ≤ 10^6 shifted into the high bits, micros-rank in the
    // low bits — the w48 pack, both directions), high/low are plain
    // min/max. ONE groupBy, no window: first/last never sort rows.
    "w51_ohlc" -> ((s, dir) => {
      val hourUs = 3600L * 1000000L
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          lattice(col("value"), 100).as("c"))
        .withColumn("hour", expr(s"ts_us DIV $hourUs"))
      // rank within hour is unknown pre-agg, so pack an order key and
      // the offset cent value into one BIGINT: ordKey = epoch-second
      // (31 bits) ·2^10 + id mod 1024, pack = ordKey·2^21 + (c+10^6)
      // < 2^63. min/max of the pack decode to the first/last row's
      // cents; sub-second id-mod collisions resolve by the packed
      // value itself — deterministic and mirrored in the oracle.
      val ordKey = expr("ts_us DIV 1000000") * 1024L +
        pmod(col("event_id"), lit(1024L))
      val packed = ordKey * 2097152L + (col("c") + 1000000L)
      e.groupBy("user_id", "hour").agg(
          count(lit(1)).as("n"),
          min("c").as("low"), max("c").as("high"),
          (pmod(min(packed), lit(2097152L)) - 1000000L).as("open"),
          (pmod(max(packed), lit(2097152L)) - 1000000L).as("close"))
        .select(col("user_id"), col("hour"), col("n"),
          col("open"), col("high"), col("low"), col("close"))
    }),

    // Seasonal index per (event_type, epoch-day-of-week): the cell
    // mean over the type mean, both single divisions of exact BIGINT
    // cent sums — "is Monday's spend 1.2x the weekly norm". The
    // ratio-of-ratios is emitted as one division of two exact-integer
    // cross products (sc·nt / st·nc), so no intermediate float ever
    // sums. Two tiny aggregates + a broadcast join.
    "a49_seasonal_index" -> ((s, dir) => {
      val dayUs = 86400L * 1000000L
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_type"),
          pmod(expr(s"ts_us DIV $dayUs"), lit(7L)).as("dow"),
          lattice(col("value"), 100).as("c"))
      val cells = e.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("nc"), sum("c").as("sc"))
      val types = cells.groupBy("event_type")
        .agg(sum("nc").as("nt"), sum("sc").as("st"))
      cells.join(broadcast(types), "event_type")
        .select(col("event_type"), col("dow"), col("nc"), col("sc"),
          when(col("st") =!= 0,
            (col("sc") * col("nt")).cast("double") /
              (col("st") * col("nc")).cast("double"))
            .as("seasonal_index"))
    }),

    // Permutation importance for the t_quality_clf model — the
    // model-agnostic "which feature carries the signal" audit: score
    // the held-out split once intact, then once per feature with that
    // feature's column replaced by a hash-permuted copy (a
    // deterministic within-split permutation — rerun-stable, unlike a
    // random shuffle), and report the exact rank-statistic AUC drop.
    // MLlib fit + 5 scoring passes; rows-only driver check, spec pins
    // that the marker feature dominates.
    "m27_perm_importance" -> ((s, dir) => {
      import org.apache.spark.ml.classification.LogisticRegression
      import org.apache.spark.ml.feature.VectorAssembler
      import org.apache.spark.ml.functions.vector_to_array
      val Stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
      val d = documents(s, dir).select(col("doc_id"),
        Text.tokens(Text.normalizeAz(col("text"))).as("toks"),
        length(col("text")).cast("double").as("f_len"))
      val f = d.select(col("doc_id"),
        when(Text.countTokensIn(col("toks"), Seq("slow")) > 0, 1.0)
          .otherwise(0.0).as("label"),
        Text.countTokensIn(col("toks"), Seq("slow", "fast"))
          .cast("double").as("f_marker"),
        size(col("toks")).cast("double").as("f_toks"),
        Text.wordSetRatio(col("toks"), Stop).as("f_stop"),
        when(size(col("toks")) > 0,
          col("f_len") / size(col("toks"))).otherwise(0.0).as("f_wlen"))
      val feats = Array("f_marker", "f_toks", "f_stop", "f_wlen")
      val asm = new VectorAssembler().setInputCols(feats)
        .setOutputCol("features")
      val train = f.filter(col("doc_id") % 5 =!= 0)
      val test = f.filter(col("doc_id") % 5 === 0).cache()
      val model = new LogisticRegression().setMaxIter(25)
        .setRegParam(0.01).setLabelCol("label").fit(asm.transform(train))
      // score via column math from the fitted coefficients (see
      // t_quality_clf): codegen'd, and no model object in any closure
      val wts = model.coefficients.toArray
      val intercept = model.intercept
      def marginOf(c: String => org.apache.spark.sql.Column) =
        feats.zip(wts).map { case (f0, wi) => c(f0) * wi }
          .reduce(_ + _) + intercept
      def sig(m: org.apache.spark.sql.Column) =
        lit(1.0) / (lit(1.0) + exp(-m))
      // permute feature k by joining it back on a hash-rotated id:
      // every doc gets SOME doc's value, none (w.h.p.) its own
      // hash-order rank distributes the same way (bucketed on the
      // hash value; doc_id breaks the astronomically-unlikely hash tie)
      // totalAs rides the rank pass — no separate test.count() action
      val ids = graft.operators.DistRank.rowNumber(
        test.select(col("doc_id")), xxhash64(col("doc_id")),
        Seq(xxhash64(col("doc_id")), col("doc_id")), "rnk",
        totalAs = Some("nt"))
      // cyclic shift by 1 in hash order: rank r receives rank r-1's
      // value (rank 1 receives rank n's) — a deterministic
      // permutation uncorrelated with the feature. ONE donor frame
      // carries all 4 features (round 11; was one join pipeline per
      // feature).
      val donor = test.select(col("doc_id") +: feats.map(col): _*)
        .join(ids, "doc_id")
        .select((pmod(col("rnk"), col("nt")) + 1).as("rnk2") +:
          feats.map(ft => col(ft).as(s"__perm_$ft")): _*)
      // 5 scores as columns of ONE frame (base + each feature
      // permuted), ranked by ONE fused rowNumbers pass — the 5
      // independent rank pipelines (2 eager jobs + 1 head() each)
      // collapse into 2 eager jobs + 1 head() total; each AUC double
      // is the identical rank statistic over the identical row set.
      // cached: the fused pass reads the join 3x (sketch, marginals,
      // final agg) — spillable MEMORY_AND_DISK, held-out-split-sized
      val scored = test.join(ids, "doc_id")
        .join(donor, col("rnk") === col("rnk2"))
        .select(col("doc_id") +: col("label") +:
          sig(marginOf(col)).as("score_base") +:
          feats.map { ft =>
            sig(marginOf(c => if (c == ft) col(s"__perm_$ft") else col(c)))
              .as(s"score_$ft")
          }: _*).cache()
      val scoreCols = "score_base" +: feats.map(ft => s"score_$ft")
      val ranked = graft.operators.DistRank.rowNumbers(scored,
        scoreCols.map(sc => graft.operators.DistRank.RankSpec(
          col(sc), Seq(col(sc).asc, col("doc_id")), s"r_$sc")).toSeq)
      val npos = sum(when(col("label") === 1.0, 1L).otherwise(0L))
      val aggExprs = Seq(count(lit(1)).as("n"), npos.as("np")) ++
        scoreCols.map(sc =>
          sum(when(col("label") === 1.0, col(s"r_$sc")).otherwise(0L))
            .as(s"sr_$sc"))
      val aucRow = ranked.agg(aggExprs.head, aggExprs.tail: _*).head()
      val n = aucRow.getLong(0)
      val np = aucRow.getLong(1)
      def aucOf(i: Int): Double =
        (aucRow.getLong(2 + i) - np * (np + 1) / 2).toDouble /
          (np * (n - np)).toDouble
      val base = aucOf(0)
      val rows = feats.zipWithIndex.map { case (ft, i) =>
        ft -> aucOf(i + 1)
      }
      scored.unpersist()
      test.unpersist()
      import s.implicits._
      // Integer-decided gate rows (the m8_nn_gate pattern, per
      // feature): raw AUC drops are fit-dependent in their last
      // decimals, so the output carries each feature's seed-stable
      // ordering facts instead — is_top (this feature's permutation
      // hurt most) and imp_band (+1 drop > 0.1: the signal carrier;
      // 0 |drop| <= 0.1: noise; -1 would mean permuting HELPED by
      // more than the band — never stable). The spec pinned exactly
      // these invariants; emitting them makes the query oracle-able.
      val imps = rows.map { case (ft, a) => (ft, base - a) }
      val top = imps.maxBy(_._2)._1
      imps.toSeq.map { case (ft, imp) =>
        (ft, if (ft == top) 1L else 0L,
          if (imp > 0.1) 1L else if (imp >= -0.1) 0L else -1L)
      }.toDF("feature", "is_top", "imp_band")
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    // Gate rows: the seed-stable permutation-importance ordering IS
    // the content (marker tops, every noise feature inside the
    // ±0.1 band) — the m8_nn_gate constant-row pattern, per feature.
    "m27_perm_importance" ->
      """SELECT 'f_marker' AS feature, 1::BIGINT AS is_top, 1::BIGINT AS imp_band
        |UNION ALL SELECT 'f_toks', 0::BIGINT, 0::BIGINT
        |UNION ALL SELECT 'f_stop', 0::BIGINT, 0::BIGINT
        |UNION ALL SELECT 'f_wlen', 0::BIGINT, 0::BIGINT""".stripMargin,

    "w51_ohlc" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |p AS (SELECT user_id, ts_us // 3600000000 AS hour, c,
        |  ((ts_us // 1000000) * 1024 + event_id % 1024) * 2097152
        |    + (c + 1000000) AS pk
        | FROM e)
        |SELECT user_id, hour, count(*) AS n,
        | min(pk) % 2097152 - 1000000 AS open,
        | max(c) AS high, min(c) AS low,
        | max(pk) % 2097152 - 1000000 AS close
        |FROM p GROUP BY user_id, hour""".stripMargin,

    "a49_seasonal_index" ->
      s"""WITH e AS (SELECT event_type,
        |  (epoch_us(ts) // 86400000000) % 7 AS dow,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |cells AS (SELECT event_type, dow, count(*) AS nc,
        |  sum(c)::BIGINT AS sc FROM e GROUP BY 1, 2),
        |types AS (SELECT event_type, sum(nc)::BIGINT AS nt,
        |  sum(sc)::BIGINT AS st FROM cells GROUP BY 1)
        |SELECT event_type, dow, nc, sc,
        | CASE WHEN st != 0 THEN (sc * nt)::DOUBLE / (st * nc)::DOUBLE END
        |   AS seasonal_index
        |FROM cells JOIN types USING (event_type)""".stripMargin)
}
