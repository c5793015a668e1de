package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.functions.Text.P
import graft.operators.DistRank
import Q._

/** Round-7 batch 36: the two-sample Cramér–von Mises test on
  * distributed ranks, content-defined chunking (the dedup-storage
  * boundary primitive), a naive-Bayes learning curve (sample-
  * efficiency measurement over nested train subsets), and odds
  * ratios with log-scale Katz confidence bounds. Net-new vs the
  * 368-query surface (grep-checked; "Cramer" in PipelineQ is
  * Cramer's RULE, a different thing).
  */
object Curation36Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // A76: two-sample Cramér–von Mises (rank form, Anderson 1962) —
    // the drift test that weighs the WHOLE CDF gap where KS (a35)
    // takes only the max. Samples: even- vs odd-user events on the
    // cent-value lattice, total-ordered by (value, event_id) so ranks
    // are exact integers (total-order variant, documented: midrank
    // ties are a different convention). The 100 TB shape: the
    // combined rank AND both within-sample indices come from ONE
    // global DistRank pass (per-sample index = combined-sample-
    // restricted cumsum), never a single-partition window. U's
    // squared deviations overflow int64 at 10^6 rows, so they sum in
    // decimal(38,0) ↔ HUGEINT (the a25 class); T is two exact-ratio
    // divisions and one pinned subtraction.
    "a76_cvm" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_id"),
          lattice(col("value"), 100).as("c"),
          (pmod(col("user_id"), lit(2L)) === 0L).cast("long").as("in_a"))
      // one pass: global rank r over (c, event_id); per-sample index
      // via cumsum of the sample indicator on the same order
      val ranked = DistRank.cumsum(e, col("c"),
        Seq(col("c"), col("event_id")),
        Seq((col("in_a"), "ia"), (lit(1L) - col("in_a"), "ib")),
        inclusive = true, totalsSuffix = Some("_tot"),
        rowNumberAs = Some("r"))
      val dec = "decimal(38,0)"
      val idx = when(col("in_a") === 1L, col("ia")).otherwise(col("ib"))
      val dev = (col("r") - idx).cast(dec)
      val agg = ranked.agg(
        max(col("ia_tot")).as("n"), max(col("ib_tot")).as("m"),
        sum(when(col("in_a") === 1L, dev * dev).otherwise(lit(0).cast(dec)))
          .as("sa"),
        sum(when(col("in_a") === 0L, dev * dev).otherwise(lit(0).cast(dec)))
          .as("sb"))
      agg.select(col("n"), col("m"),
          (col("n").cast(dec) * col("sa") + col("m").cast(dec) * col("sb"))
            .as("u"))
        .select(col("n"), col("m"), col("u").cast("double").as("u_dbl"),
          r6(col("u").cast("double") /
            (col("n") * col("m") * (col("n") + col("m"))).cast("double") -
            (lit(4.0) * col("n") * col("m") - 1.0) /
              (lit(6.0) * (col("n") + col("m"))))
            .as("t_stat"))
    }),

    // D: content-defined chunking (the Rabin-boundary primitive of
    // dedup storage and incremental-sync: boundaries follow CONTENT,
    // so an insertion only reshuffles its own chunk). Per doc:
    // window-8 char polyhashes (the charNgrams shifted-zip build —
    // O(n), never the O(n²) indexed-transform trap), a boundary
    // wherever hash % 64 == 0, plus the forced end. Emits chunk
    // count, mean chunk length (one division), and a COMMUTATIVE
    // mod-P boundary signature (the o26_merkle class) that two
    // replicas can compare without ordering guarantees. Entirely
    // map-side — no join, no shuffle.
    "d_cdc_chunks" -> ((s, dir) => {
      val t = Text.normalizeAz(col("text"))
      // ONE codegen'd byte scan (graft.functions.CdcBoundaries): every
      // window-8 Horner hash, the % 64 boundary rule and the
      // commutative mod-P signature fused into a single generated
      // loop — value-identical to the former 8-step zip_with chain
      // (same fold, same modular sum), whose interpreted per-element
      // lambdas and 8 intermediate arrays per row were ~95% of the
      // wall at the 100x step (839 s at sf10).
      val b = graft.functions.CdcBoundaries.boundaries(t, 8, 64L)
      documents(s, dir)
        .select(col("doc_id"), length(t).cast("long").as("n_chars_az"),
          b.getField("n_bounds").as("n_bounds"),
          b.getField("sig").as("boundary_sig"))
        .select(col("doc_id"), col("n_chars_az"),
          (col("n_bounds") + 1L).as("n_chunks"),
          col("boundary_sig"),
          r6(col("n_chars_az").cast("double") / (col("n_bounds") + 1L))
            .as("mean_chunk_len"))
    }),

    // M39: learning curve — the sample-efficiency measurement every
    // data-curation decision rests on ("is more data still buying
    // accuracy?"). Re-runs the m36 naive-Bayes pipeline over NESTED
    // train subsets (25/50/75/100% of the even docs, by (doc_id/2)
    // mod 4 < k — nested so the curve is monotone in expectation)
    // against the FIXED odd-doc test set, and emits one exact
    // accuracy row per fraction. Integer-decided end to end (the m36
    // lattice argument), 4 bounded pipeline runs.
    "m39_learning_curve" -> ((s, dir) => {
      // FUSED (round 12, the m27 pattern): the four nested refits ran
      // the whole m36 pipeline 4x — 4 train explodes + 4 test explodes
      // + 16 eager metadata jobs + 4 scoring joins. The subsets are
      // NESTED (train_k = even-doc strata 0..k-1), so ONE (lang, term)
      // aggregate carries all four counts as cumulative-over-strata
      // columns, the driver metadata (vocab, class totals, priors)
      // comes from 3 eager jobs total, and one fanned scoring join
      // ranks all four models. Laplace smoothing makes the fusion
      // exact: a (lang, term) pair absent from train_k has ctc_k = 0,
      // and log((0+1)/den) IS the original's left-join default — the
      // identical double expression on identical operands, so every
      // micro-nat score, verdict and accuracy is bit-identical.
      val ks = 1 to 4
      val toks = documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(Text.tokens(Text.normalizeAz(col("text")))).as("term"))
      val strat = pmod(((col("doc_id") - pmod(col("doc_id"), lit(2L))) / 2L)
        .cast("long"), lit(4L))
      val train = toks.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .select(col("lang"), col("term"), strat.as("__j"))
      val ctAggs = ks.map(k =>
        sum(when(col("__j") < k, 1L).otherwise(0L)).as(s"ctc$k"))
      val ct = train.groupBy("lang", "term")
        .agg(ctAggs.head, ctAggs.tail: _*).cache()
      val tAggs = ks.map(k => sum(col(s"ctc$k")).as(s"t$k"))
      val vAggs = ks.map(k =>
        sum(when(col(s"t$k") > 0L, 1L).otherwise(0L)).as(s"v$k"))
      val vRow = ct.groupBy("term").agg(tAggs.head, tAggs.tail: _*)
        .agg(vAggs.head, vAggs.tail: _*).head()
      val vocabK = ks.map(k => k -> vRow.getLong(k - 1)).toMap
      val ccAggs = ks.map(k => sum(col(s"ctc$k")).as(s"cc$k"))
      val ccRows = ct.groupBy("lang").agg(ccAggs.head, ccAggs.tail: _*)
        .collect()
      val dRows = documents(s, dir)
        .filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .groupBy(col("lang"), strat.as("__j")).agg(count(lit(1)).as("nd"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      def lp6(num: Long, den: Long): Long =
        math.round(1e6 * math.log(num.toDouble / den))
      val nTrainK = ks.map(k =>
        k -> dRows.filter(_._2 < k).map(_._3).sum).toMap
      val priorsK = ks.map(k => k -> dRows.filter(_._2 < k)
        .groupBy(_._1).map { case (l, rs) => l -> rs.map(_._3).sum }).toMap
      val clsMeta = ks.flatMap { k =>
        val classes = ccRows.map(r => (r.getString(0), r.getLong(k)))
          .filter(_._2 > 0L).sortBy(_._1)
        classes.zipWithIndex.map { case ((lang, cc), i) =>
          (k.toLong, lang, i.toLong, lp6(priorsK(k)(lang), nTrainK(k)),
            cc + vocabK(k))
        }
      }
      val clsDf = s.createDataFrame(clsMeta)
        .toDF("k", "cls", "cls_idx", "prior6", "den")
      val test = toks.filter(pmod(col("doc_id"), lit(2L)) === 1L)
        .groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("tf"))
        .withColumnRenamed("lang", "true_lang")
      val ctcOf = ks.tail.foldLeft(when(col("k") === 1L, col("ctc1"))) {
        (acc, k) => acc.when(col("k") === k.toLong, col(s"ctc$k"))
      }
      val fanned = test
        .join(broadcast(clsDf), lit(true))
        .join(ct.withColumnRenamed("lang", "st_cls")
          .withColumnRenamed("term", "st_term"),
          col("term") === col("st_term") && col("cls") === col("st_cls"),
          "left")
        .select(col("doc_id"), col("true_lang"), col("k"), col("cls_idx"),
          col("prior6"),
          (col("tf") * coalesce(
            round(lit(1e6) * log((ctcOf + 1L).cast("double") / col("den")))
              .cast("long"),
            round(lit(1e6) * log(lit(1.0) / col("den"))).cast("long")))
            .as("contrib6"))
      val acc = fanned
        .groupBy("doc_id", "true_lang", "k", "cls_idx", "prior6")
        .agg(sum("contrib6").as("s6"))
        .groupBy("doc_id", "true_lang", "k")
        .agg(max((col("prior6") + col("s6") + Curation33Q.NbOff) * 256L +
          (lit(255L) - col("cls_idx"))).as("pk"))
        .select(col("doc_id"), col("true_lang"), col("k"),
          (lit(255L) - pmod(col("pk"), lit(256L))).as("pred_idx"))
        .join(broadcast(clsDf.select(col("k").as("k2"),
          col("cls_idx").as("pidx2"), col("cls").as("pred_lang"))),
          col("k") === col("k2") && col("pred_idx") === col("pidx2"))
        .select(col("k"),
          (col("true_lang") === col("pred_lang")).cast("long").as("correct"))
        .groupBy("k").agg(count(lit(1)).as("n_test"),
          sum("correct").as("n_correct"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2))).toMap
      val rows = ks.map { k =>
        val (nTest, nCorrect) = acc(k.toLong)
        (k.toLong * 25L, nTrainK(k), nTest, nCorrect,
          nCorrect * 1000000L / nTest)
      }
      s.createDataFrame(rows).toDF(
        "train_pct", "n_train", "n_test", "n_correct", "acc_ppm")
    }),

    // A77: odds ratio with Katz log-scale confidence bounds — the
    // epidemiology/feature-association 2×2 readout (exposure:
    // lang = 'en'; outcome: n_chars > 1000) per source. Counts are
    // exact; OR is one division of exact products; the CI stays on
    // the LOG scale (ln(OR) ± 1.96·sqrt(1/a+1/b+1/c+1/d)) so no exp()
    // enters a compared column (pow/exp are not correctly rounded —
    // banned from outputs; sqrt/divisions are, and the chain is
    // mirrored token-for-token). Zero cells get the Haldane +1/2 via
    // doubled integers: 2a+1 etc — still exact.
    "a77_odds_ratio" -> ((s, dir) => {
      val d = documents(s, dir).select(col("source"),
        (col("lang") === "en").cast("long").as("x"),
        (col("n_chars") > 1000L).cast("long").as("y"))
      val g = d.groupBy("source").agg(
        sum(col("x") * col("y")).as("a"),
        sum(col("x") * (lit(1L) - col("y"))).as("b"),
        sum((lit(1L) - col("x")) * col("y")).as("cc"),
        sum((lit(1L) - col("x")) * (lit(1L) - col("y"))).as("dd"))
      // Haldane-Anscombe on the doubled lattice: (2a+1)/2 etc. —
      // OR = ((2a+1)(2d+1)) / ((2b+1)(2c+1)) exactly
      val a2 = col("a") * 2L + 1L; val b2 = col("b") * 2L + 1L
      val c2 = col("cc") * 2L + 1L; val d2 = col("dd") * 2L + 1L
      val lnOr = log((a2 * d2).cast("double") / (b2 * c2).cast("double"))
      val se = sqrt(lit(2.0) / a2 + lit(2.0) / b2 +
        lit(2.0) / c2 + lit(2.0) / d2)
      g.select(col("source"), col("a"), col("b"), col("cc").as("c"),
        col("dd").as("d"),
        r6((a2 * d2).cast("double") / (b2 * c2).cast("double"))
          .as("odds_ratio"),
        r6(lnOr).as("ln_or"),
        r6(lnOr - lit(1.959964) * se).as("ln_or_lo"),
        r6(lnOr + lit(1.959964) * se).as("ln_or_hi"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  /** DuckDB window-8 char polyhash list over normalized text alias
    * `t` (O(n) substrings; list_reduce scalar fold — the trap-8-safe
    * class). */
  private val CdcHashSql =
    s"""CASE WHEN length(t) >= 8 THEN
       | list_transform(range(1, length(t) - 6),
       |  i -> list_reduce(list_prepend(0::BIGINT,
       |    list_transform(range(0, 8),
       |      j -> ascii(substr(t, (i + j)::INT, 1))::BIGINT)),
       |    (a, b) -> (a * 31 + b) % $P))
       | ELSE [] END""".stripMargin

  val oracle: Seq[(String, String)] = Seq(

    "a76_cvm" ->
      s"""WITH e AS (SELECT event_id,
        |  ${latticeSql("value", 100)} AS c,
        |  (user_id % 2 = 0)::BIGINT AS in_a FROM events),
        |r AS (SELECT in_a,
        |  row_number() OVER (ORDER BY c, event_id)::BIGINT AS r,
        |  sum(in_a) OVER (ORDER BY c, event_id
        |    ROWS UNBOUNDED PRECEDING)::BIGINT AS ia,
        |  sum(1 - in_a) OVER (ORDER BY c, event_id
        |    ROWS UNBOUNDED PRECEDING)::BIGINT AS ib
        | FROM e),
        |t AS (SELECT
        |  (SELECT sum(in_a) FROM e)::BIGINT AS n,
        |  (SELECT sum(1 - in_a) FROM e)::BIGINT AS m,
        |  sum(CASE WHEN in_a = 1
        |    THEN (r - ia)::HUGEINT * (r - ia) ELSE 0 END) AS sa,
        |  sum(CASE WHEN in_a = 0
        |    THEN (r - ib)::HUGEINT * (r - ib) ELSE 0 END) AS sb
        | FROM r)
        |SELECT n, m,
        | CAST(n::HUGEINT * sa + m::HUGEINT * sb AS DOUBLE) AS u_dbl,
        | round(CAST(n::HUGEINT * sa + m::HUGEINT * sb AS DOUBLE)
        |    / (n * m * (n + m))::DOUBLE
        |  - (4.0 * n * m - 1.0) / (6.0 * (n + m)), 6) AS t_stat
        |FROM t""".stripMargin,

    "d_cdc_chunks" ->
      s"""WITH nrm AS (SELECT doc_id, $NormSql AS t FROM documents),
         |h AS (SELECT doc_id, length(t)::BIGINT AS n_chars_az,
         |  list_filter($CdcHashSql, x -> x % 64 = 0) AS bounds
         | FROM nrm)
         |SELECT doc_id, n_chars_az,
         | (len(bounds) + 1)::BIGINT AS n_chunks,
         | (list_reduce(list_prepend(0::BIGINT, bounds),
         |   (a, x) -> a + (x % $P)) % $P)::BIGINT AS boundary_sig,
         | round(n_chars_az::DOUBLE / (len(bounds) + 1), 6)
         |   AS mean_chunk_len
         |FROM h""".stripMargin,

    "m39_learning_curve" -> (1 to 4).map { k =>
      val cond = s"doc_id % 2 = 0 AND (doc_id // 2) % 4 < $k"
      s"""SELECT ${k * 25}::BIGINT AS train_pct,
         | (SELECT count(*) FROM documents WHERE $cond)::BIGINT AS n_train,
         | count(*)::BIGINT AS n_test, sum(correct)::BIGINT AS n_correct,
         | (sum(correct) * 1000000 // count(*))::BIGINT AS acc_ppm
         |FROM (${Curation33Q.nbSql(cond)})""".stripMargin
    }.mkString("\nUNION ALL\n"),

    "a77_odds_ratio" ->
      """WITH d AS (SELECT source, (lang = 'en')::BIGINT AS x,
        |  (n_chars > 1000)::BIGINT AS y FROM documents),
        |g AS (SELECT source, sum(x * y)::BIGINT AS a,
        |  sum(x * (1 - y))::BIGINT AS b,
        |  sum((1 - x) * y)::BIGINT AS c,
        |  sum((1 - x) * (1 - y))::BIGINT AS d
        | FROM d GROUP BY source)
        |SELECT source, a, b, c, d,
        | round(((2*a+1) * (2*d+1))::DOUBLE / ((2*b+1) * (2*c+1)), 6)
        |   AS odds_ratio,
        | round(ln(((2*a+1) * (2*d+1))::DOUBLE / ((2*b+1) * (2*c+1))), 6)
        |   AS ln_or,
        | round(ln(((2*a+1) * (2*d+1))::DOUBLE / ((2*b+1) * (2*c+1)))
        |  - 1.959964 * sqrt(2.0/(2*a+1) + 2.0/(2*b+1) + 2.0/(2*c+1)
        |    + 2.0/(2*d+1)), 6) AS ln_or_lo,
        | round(ln(((2*a+1) * (2*d+1))::DOUBLE / ((2*b+1) * (2*c+1)))
        |  + 1.959964 * sqrt(2.0/(2*a+1) + 2.0/(2*b+1) + 2.0/(2*c+1)
        |    + 2.0/(2*d+1)), 6) AS ln_or_hi
        |FROM g""".stripMargin)
}
