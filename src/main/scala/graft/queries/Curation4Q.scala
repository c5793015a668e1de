package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-5 batch 4: HITS link analysis, readability scoring, Wilson
  * confidence intervals, and isotonic calibration. Net-new vs the
  * reference (SURVEY.md §2.11). Exactness contract per ORACLE_NOTES:
  * HITS runs un-normalized fixed-point iterations entirely in BIGINT
  * (the g_pagerank playbook — no float recursion, bit-identical under
  * any partitioning); readability emits exact counts + single
  * divisions; Wilson mirrors its IEEE op chain token-for-token over
  * exact integers.
  */
object Curation4Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // HITS hubs & authorities on the customer→supplier interaction
    // graph, two full un-normalized iterations in exact BIGINT:
    //   h1(c) = deg(c);  a1(s) = Σ_{c∈N(s)} h1(c);
    //   h2(c) = Σ_{s∈N(c)} a1(s);  a2(s) = Σ_{c∈N(s)} h2(c).
    // Skipping the per-round L2 normalization (a float) keeps every
    // value an exact integer — rankings are identical since the norm
    // is a positive global scalar. Growth is bounded by deg³·|E| ≪
    // 2^63 at any graded SF. Each iteration is one self-balanced
    // groupBy on an edge endpoint — the Pregel shuffle shape.
    "g7_hits" -> ((s, dir) => {
      val edges = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").cast("long").as("cust"),
          col("l_suppkey").cast("long").as("supp"))
        .distinct()
        // the edge table feeds several aggregates below; identical
        // scan+distinct subtrees are NOT deduped across DataFrame
        // reuse, so cache it once (the t_tfidf lesson)
        .cache()
      val h1 = edges.groupBy("cust").agg(count(lit(1)).as("h1"))
      val a1 = edges.join(h1, "cust")
        .groupBy("supp").agg(sum("h1").as("a1"))
      val h2 = edges.join(a1, "supp")
        .groupBy("cust").agg(sum("a1").as("h2"))
      val a2 = edges.join(h2, "cust")
        .groupBy("supp").agg(sum("h2").as("a2"))
      a1.join(a2, "supp").select(col("supp"), col("a1"), col("a2"))
    }),

    // Readability statistics — the curation screen that drops
    // too-simple/too-dense text: exact word, sentence-terminator, and
    // vowel-group (syllable proxy) counts, with the two Flesch-Kincaid
    // ratios each ONE division of exact BIGINTs (the composite grade
    // is a multi-term float sum — left to the caller, the a41_jsd
    // emit-the-addends rule). Map-side only.
    "t_readability" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"),
        graft.functions.Text.tokens(
          graft.functions.Text.normalizeAz(col("text"))).as("toks"))
      val out = d.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        greatest(size(expr("regexp_extract_all(text, '[.!?]', 0)")), lit(1))
          .cast("long").as("n_sents"),
        size(expr(
          "regexp_extract_all(lower(text), '[aeiou]+', 0)"))
          .cast("long").as("n_vowelgroups"))
      out.select(col("doc_id"), col("n_words"), col("n_sents"),
        col("n_vowelgroups"),
        when(col("n_sents") > 0,
          col("n_words").cast("double") / col("n_sents"))
          .as("words_per_sent"),
        when(col("n_words") > 0,
          col("n_vowelgroups").cast("double") / col("n_words"))
          .otherwise(lit(null).cast("double")).as("syll_per_word"))
    }),

    // Wilson 95% score interval for per-segment event rates — the
    // statistically-sound flagging rule for "is this segment's error
    // rate above target" (the naive k/n ± z·sqrt interval misbehaves
    // at small n / extreme p). k and n are exact BIGINTs; the interval
    // is a fixed chain of correctly-rounded IEEE ops (/,*,+,-,sqrt)
    // over exact operands with z=1.96 a shared literal, mirrored
    // token-for-token in the oracle (the a45_runs z-statistic
    // precedent), so the raw doubles hash-match. The alert flag is
    // integer-decided (20·k > n ⇔ rate > 5%).
    "a47_wilson" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir).select(col("event_type"),
        when(col("event_id") % 11 === 0, 1L).otherwise(0L).as("bad"))
      val g = e.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("bad").as("k"))
      val z = lit(1.96)
      val nD = col("n").cast("double")
      val p = col("k").cast("double") / nD
      val z2n = z * z / nD
      val center = p + z2n / 2.0
      val rad = z * sqrt(p * (lit(1.0) - p) / nD + z2n / (nD * 4.0))
      val denom = lit(1.0) + z2n
      g.select(col("event_type"), col("n"), col("k"),
        ((center - rad) / denom).as("wilson_lo"),
        ((center + rad) / denom).as("wilson_hi"),
        (col("k") * 20 > col("n")).as("over_5pct"))
    }),

    // Isotonic calibration (distributed PAV via MLlib): fit the
    // monotone least-squares map score→P(outcome) — the calibration
    // step after any ranking model (m15 builds the reliability TABLE;
    // this fits the monotone FUNCTION). The PAV solution is the unique
    // L2 projection onto the monotone cone, so the fit is
    // deterministic; it has no SQL twin, so the driver records a
    // rows-only check and Curation2Spec pins monotonicity +
    // per-bucket-mean reproduction. Output: one row per distinct
    // score with its calibrated probability.
    "m25_isotonic" -> ((s, dir) => {
      import org.apache.spark.ml.regression.IsotonicRegression
      val e = graft.io.Tables.eventsUs(s, dir).select(
        ((col("event_id") * 37) % 101).cast("double").as("score"),
        when(col("event_id") % 3 === 0, 1.0).otherwise(0.0).as("label"))
      val model = new IsotonicRegression()
        .setFeaturesCol("score").setLabelCol("label")
        .fit(e)
      model.transform(e.select(col("score")).distinct())
        .select(col("score").cast("long").as("score"),
          col("prediction").as("calibrated"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "g7_hits" ->
      """WITH edges AS (SELECT DISTINCT o_custkey::BIGINT AS cust,
        |  l_suppkey::BIGINT AS supp
        | FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        |h1 AS (SELECT cust, count(*) AS h1 FROM edges GROUP BY cust),
        |a1 AS (SELECT supp, sum(h1)::BIGINT AS a1
        | FROM edges JOIN h1 USING (cust) GROUP BY supp),
        |h2 AS (SELECT cust, sum(a1)::BIGINT AS h2
        | FROM edges JOIN a1 USING (supp) GROUP BY cust),
        |a2 AS (SELECT supp, sum(h2)::BIGINT AS a2
        | FROM edges JOIN h2 USING (cust) GROUP BY supp)
        |SELECT supp, a1, a2 FROM a1 JOIN a2 USING (supp)""".stripMargin,

    "t_readability" ->
      """WITH d AS (SELECT doc_id, text,
        |  list_filter(string_split(
        |    regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    w -> length(w) > 0) AS toks FROM documents),
        |c AS (SELECT doc_id,
        |  len(toks)::BIGINT AS n_words,
        |  greatest(len(regexp_extract_all(text, '[.!?]')), 1)::BIGINT
        |    AS n_sents,
        |  len(regexp_extract_all(lower(text), '[aeiou]+'))::BIGINT
        |    AS n_vowelgroups
        | FROM d)
        |SELECT doc_id, n_words, n_sents, n_vowelgroups,
        | CASE WHEN n_sents > 0 THEN n_words::DOUBLE / n_sents END
        |   AS words_per_sent,
        | CASE WHEN n_words > 0 THEN n_vowelgroups::DOUBLE / n_words END
        |   AS syll_per_word
        |FROM c""".stripMargin,

    "a47_wilson" ->
      """WITH e AS (SELECT event_type,
        |  CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END::BIGINT AS bad
        | FROM events),
        |g AS (SELECT event_type, count(*)::BIGINT AS n,
        |  sum(bad)::BIGINT AS k FROM e GROUP BY 1)
        |SELECT event_type, n, k,
        | (((k::DOUBLE / n::DOUBLE) + (1.96 * 1.96 / n::DOUBLE) / 2.0)
        |  - 1.96 * sqrt((k::DOUBLE / n::DOUBLE)
        |      * (1.0 - (k::DOUBLE / n::DOUBLE)) / n::DOUBLE
        |      + (1.96 * 1.96 / n::DOUBLE) / (n::DOUBLE * 4.0)))
        |  / (1.0 + 1.96 * 1.96 / n::DOUBLE) AS wilson_lo,
        | (((k::DOUBLE / n::DOUBLE) + (1.96 * 1.96 / n::DOUBLE) / 2.0)
        |  + 1.96 * sqrt((k::DOUBLE / n::DOUBLE)
        |      * (1.0 - (k::DOUBLE / n::DOUBLE)) / n::DOUBLE
        |      + (1.96 * 1.96 / n::DOUBLE) / (n::DOUBLE * 4.0)))
        |  / (1.0 + 1.96 * 1.96 / n::DOUBLE) AS wilson_hi,
        | k * 20 > n AS over_5pct
        |FROM g""".stripMargin)
}
