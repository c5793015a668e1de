package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text
import Q._

/** Round-5 batch 8: CCNet-style perplexity bucketing, burst detection,
  * and tokenizer fertility. Net-new vs the reference (SURVEY.md
  * §2.11); ORACLE_NOTES-exact throughout — surprisal sums and hourly
  * counts are BIGINTs, the burst flag is an integer cross-product
  * decision, and fertility is one division of exact sums.
  */
object Curation8Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // CCNet's head/middle/tail split: rank every doc by unigram-LM
    // per-token surprisal (the t_unigram_lp micro-nat lattice — the
    // ORDERING double is one division of exact BIGINTs, so both
    // engines sort identically; doc_id breaks ties) and cut the
    // corpus into perplexity terciles. head = most fluent. Scale
    // note: ntile needs a global sort — at 100 TB swap in
    // approx-quantile boundaries (a15-style) and keep the bucket rule
    // integer-decided; the lattice makes either exact.
    "t_ccnet_buckets" -> ((s, dir) => {
      val toks = documents(s, dir).select(col("doc_id"),
        explode(Text.tokens(Text.normalizeAz(col("text")))).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n_t"))
      val tot = vocab.agg(sum("n_t").as("tt"))
      val lp6 = round(lit(1e6) *
        log(col("n_t").cast("double") / col("tt"))).cast("long")
      val perDoc = toks.join(vocab, "tok").crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum(lp6).as("sum_lp6"))
        .withColumn("mean_nll",
          -col("sum_lp6").cast("double") / (col("n_tok") * lit(1000000L)))
      // terciles via the DistRank distributed rank — doc grain is
      // row-scale, so the old global ntile window was a one-task sort
      val ranked = graft.operators.DistRank.rowNumber(perDoc,
        col("mean_nll"), Seq(col("mean_nll").asc, col("doc_id")),
        "__r", totalAs = Some("__n"))
      ranked.withColumn("tercile", graft.operators.DistRank
          .ntileOf(col("__r"), col("__n"), 3))
        .select(col("doc_id"), col("n_tok"), col("sum_lp6"),
          when(col("tercile") === 1, "head")
            .when(col("tercile") === 2, "middle")
            .otherwise("tail").as("bucket"))
    }),

    // Burst detection over hourly event-rate buckets: an ACTIVE hour
    // whose count more than triples the mean of the user's previous
    // six active hours is a burst (3·cnt > Σprev6 with ≥3 priors —
    // all-integer cross-product decision, no rate float). The
    // trailing frame walks OBSERVED buckets, so idle gaps don't
    // dilute the baseline. One groupBy + one window on the user key.
    "w52_burst" -> ((s, dir) => {
      val hourUs = 3600L * 1000000L
      val buckets = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), expr(s"ts_us DIV $hourUs").as("hour"))
        .groupBy("user_id", "hour").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("user_id").orderBy("hour")
      val nPrev = count(lit(1)).over(w.rowsBetween(-6, -1))
      val sumPrev = sum("cnt").over(w.rowsBetween(-6, -1))
      buckets.select(col("user_id"), col("hour"), col("cnt"),
        coalesce(sumPrev, lit(0L)).as("sum_prev"),
        nPrev.as("n_prev"),
        when(nPrev >= 3, col("cnt") * 3 > sumPrev)
          .otherwise(lit(null).cast("boolean")).as("is_burst"))
    }),

    // Tokenizer fertility per language — pieces-per-word, THE
    // tokenizer-quality number a multilingual pipeline tracks (high
    // fertility = the vocab serves that language poorly). Exact piece
    // and word counts summed per lang; fertility is one division.
    "t_fertility" -> ((s, dir) => {
      val pieces = regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))
      documents(s, dir).select(col("lang"),
          size(pieces).cast("long").as("np"),
          size(Text.tokens(Text.normalizeAz(col("text"))))
            .cast("long").as("nw"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("np").as("sum_pieces"), sum("nw").as("sum_words"))
        .select(col("lang"), col("n_docs"), col("sum_pieces"),
          col("sum_words"),
          when(col("sum_words") > 0,
            col("sum_pieces").cast("double") / col("sum_words"))
            .as("fertility"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "t_ccnet_buckets" ->
      s"""WITH toks AS (SELECT doc_id, unnest($NormToksSql) AS tok
         | FROM documents),
         |vocab AS (SELECT tok, count(*) AS n_t FROM toks GROUP BY 1),
         |tot AS (SELECT sum(n_t)::BIGINT AS tt FROM vocab),
         |pd AS (SELECT doc_id, count(*) AS n_tok,
         |  sum(CAST(round(1000000.0 * ln(n_t::DOUBLE / tt)) AS BIGINT))
         |    ::BIGINT AS sum_lp6
         | FROM toks JOIN vocab USING (tok), tot GROUP BY doc_id),
         |r AS (SELECT doc_id, n_tok, sum_lp6,
         |  ntile(3) OVER (ORDER BY
         |    -(sum_lp6::DOUBLE) / (n_tok * 1000000) ASC, doc_id) AS t
         | FROM pd)
         |SELECT doc_id, n_tok, sum_lp6,
         | CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |   ELSE 'tail' END AS bucket
         |FROM r""".stripMargin,

    "w52_burst" ->
      """WITH b AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
        |  count(*) AS cnt FROM events GROUP BY 1, 2),
        |w AS (SELECT user_id, hour, cnt,
        |  coalesce(sum(cnt) OVER (PARTITION BY user_id ORDER BY hour
        |    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |    AS sum_prev,
        |  count(*) OVER (PARTITION BY user_id ORDER BY hour
        |    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)::BIGINT AS n_prev
        | FROM b)
        |SELECT user_id, hour, cnt, sum_prev, n_prev,
        | CASE WHEN n_prev >= 3 THEN cnt * 3 > sum_prev END AS is_burst
        |FROM w""".stripMargin,

    "t_fertility" ->
      s"""WITH d AS (SELECT lang,
         |  len(regexp_extract_all(lower(text),
         |    '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS np,
         |  len($NormToksSql)::BIGINT AS nw
         | FROM documents)
         |SELECT lang, count(*) AS n_docs,
         | sum(np)::BIGINT AS sum_pieces, sum(nw)::BIGINT AS sum_words,
         | CASE WHEN sum(nw) > 0
         |   THEN sum(np)::BIGINT::DOUBLE / sum(nw)::BIGINT END AS fertility
         |FROM d GROUP BY lang""".stripMargin)
}
