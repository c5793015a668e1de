package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 58: Coleman-Liau readability — the index built from
  * LETTER counts instead of syllable proxies (the two Flesch-Kincaid
  * variants in t_readability lean on vowel-group counts, which are a
  * heuristic; Coleman-Liau was designed for machine scoring with no
  * phonetics at all). Net-new vs the 433-query surface (grep-checked:
  * no coleman/CLI). Same exactness contract as t_readability: exact
  * BIGINT counts per document, one pinned IEEE affine combination
  * CLI = 0.0588·L − 0.296·S − 15.8 with L = 100·letters/words,
  * S = 100·sentences/words, emitted raw. One scan, no shuffle beyond
  * the parquet read.
  */
object Curation58Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    "t_coleman_liau" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"),
        graft.functions.Text.tokens(
          graft.functions.Text.normalizeAz(col("text"))).as("toks"))
      val c = d.select(col("doc_id"),
        length(regexp_replace(lower(col("text")), "[^a-z]", ""))
          .cast("long").as("n_letters"),
        size(col("toks")).cast("long").as("n_words"),
        greatest(size(expr("regexp_extract_all(text, '[.!?]', 0)")),
          lit(1)).cast("long").as("n_sents"))
      c.select(col("doc_id"), col("n_letters"), col("n_words"),
        col("n_sents"),
        when(col("n_words") > 0,
          lit(0.0588) *
            (lit(100.0) * col("n_letters").cast("double") /
              col("n_words").cast("double")) -
          lit(0.296) *
            (lit(100.0) * col("n_sents").cast("double") /
              col("n_words").cast("double")) -
          lit(15.8)).as("cli"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "t_coleman_liau" ->
      """WITH d AS (SELECT doc_id, text,
        |  list_filter(string_split(
        |    regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    w -> length(w) > 0) AS toks FROM documents),
        |c AS (SELECT doc_id,
        |  length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::BIGINT
        |    AS n_letters,
        |  len(toks)::BIGINT AS n_words,
        |  greatest(len(regexp_extract_all(text, '[.!?]')), 1)::BIGINT
        |    AS n_sents
        | FROM d)
        |SELECT doc_id, n_letters, n_words, n_sents,
        | CASE WHEN n_words > 0 THEN
        |  0.0588 * (100.0 * n_letters::DOUBLE / n_words::DOUBLE) -
        |  0.296 * (100.0 * n_sents::DOUBLE / n_words::DOUBLE) - 15.8
        | END AS cli
        |FROM c""".stripMargin)
}
