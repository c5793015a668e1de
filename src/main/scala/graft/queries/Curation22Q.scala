package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-6 batch 22: iterative BPE merge learning — the real
  * tokenizer-training loop (t_bpe_learn does ONE merge; this runs
  * the loop). Net-new vs the reference (SURVEY.md §2.11).
  *
  * Scale shape: the corpus collapses to the (word, freq) table first
  * — the only pass over row-level text — and every round's pair
  * counting is a distributed explode+agg over that table's symbol
  * sequences, exactly the shape real BPE trainers shard. The argmax
  * pair is a 1-row broadcast back into the word table.
  *
  * Merge application uses a SEPARATOR-STRING encoding: a symbol
  * sequence is " s1 s2 ... sk " and merging pair (a,b) replaces
  * " a b " with " ab ". Because adjacent occurrences share their
  * delimiter space, one left-to-right replace() pass can miss the
  * following occurrence — so the replace is applied 6 times (word
  * length here is ≤ 10 symbols, and each pass strictly reduces
  * unmerged adjacency runs), which converges to the greedy
  * left-to-right merge. Both engines' replace() is leftmost
  * non-overlapping, so the fixpoint is engine-identical. Ties in the
  * argmax break on the pair string ascending — a total order.
  */
object Curation22Q extends QueryModule {

  private val Rounds = 5

  val queries: Seq[(String, QueryFn)] = Seq(

    "t_bpe_merges" -> ((s, dir) => {
      val words = documents(s, dir)
        .select(explode(graft.functions.Text.tokens(
          graft.functions.Text.normalizeAz(col("text")))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
        .withColumn("seq",
          concat(lit(" "), concat_ws(" ", split(col("w"), "")), lit(" ")))
      var cur = words
      var merges: Option[org.apache.spark.sql.DataFrame] = None
      for (r <- 1 to Rounds) {
        val toks = cur.select(col("f"), split(trim(col("seq")), " ").as("t"))
        val pairs = toks
          .select(col("f"), explode(zip_with(
            slice(col("t"), lit(1), size(col("t")) - 1),
            slice(col("t"), lit(2), size(col("t")) - 1),
            (a, b) => concat(a, lit(" "), b))).as("p"))
          .groupBy("p").agg(sum("f").as("cnt"))
        val best = pairs.orderBy(col("cnt").desc, col("p")).limit(1)
        val rec = best.select(lit(r.toLong).as("merge_round"),
          element_at(split(col("p"), " "), 1).as("left_sym"),
          element_at(split(col("p"), " "), 2).as("right_sym"),
          col("cnt").as("pair_count"))
        merges = Some(merges.fold(rec)(_ unionByName rec))
        cur = cur.crossJoin(broadcast(best))
          .withColumn("seq", (1 to 6).foldLeft(col("seq"))((c, _) =>
            call_function("replace", c,
              concat(lit(" "), col("p"), lit(" ")),
              concat(lit(" "),
                call_function("replace", col("p"), lit(" "), lit("")),
                lit(" ")))))
          .drop("p", "cnt")
      }
      merges.get
    }))

  // ---- oracle SQL ----------------------------------------------------

  private val NormSql =
    "list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '), x -> x != '')"

  val oracle: Seq[(String, String)] = Seq(

    "t_bpe_merges" -> {
      def rep6(e: String): String =
        (1 to 6).foldLeft(e)((acc, _) =>
          s"replace($acc, ' ' || p || ' ', ' ' || replace(p, ' ', '') || ' ')")
      val rounds = (1 to Rounds).map { r =>
        val prev = if (r == 1) "w0" else s"w${r - 1}"
        s"""p$r AS (SELECT p, sum(f)::BIGINT AS cnt FROM (
           |  SELECT f, unnest(list_transform(range(1, len(t)),
           |    i -> t[i] || ' ' || t[i + 1])) AS p FROM (
           |   SELECT f, list_filter(string_split(trim(seq), ' '),
           |     x -> x != '') AS t FROM $prev)) GROUP BY p),
           |b$r AS (SELECT p, cnt FROM p$r ORDER BY cnt DESC, p LIMIT 1),
           |w$r AS (SELECT w, f, ${rep6("seq")} AS seq FROM $prev, b$r)""".stripMargin
      }.mkString(",\n")
      val out = (1 to Rounds).map(r =>
        s"""SELECT $r::BIGINT AS merge_round,
           | split_part(p, ' ', 1) AS left_sym,
           | split_part(p, ' ', 2) AS right_sym,
           | cnt AS pair_count FROM b$r""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH toks AS (SELECT unnest($NormSql) AS w FROM documents),
         |w0 AS (SELECT w, count(*)::BIGINT AS f,
         |  ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS seq
         | FROM toks GROUP BY w),
         |$rounds
         |$out""".stripMargin
    })
}
