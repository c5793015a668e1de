package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text
import Q._

/** Round-5 capstone: the curation pipeline the batch-2..11 operators
  * exist FOR, composed as ONE dataflow — quality gate → exact-dup
  * canonicalization → DSIR importance split → deterministic shard
  * assignment. Distinct from c_corpus (which chains quality → exact →
  * NEAR-dup → split): this one exercises the round-5 additions and
  * every keep decision is integer-decided (no float ever gates a
  * document).
  *
  * Scale shape: one token-vocab groupBy (DSIR), one content-hash
  * aggregate (canonicals), one doc-level groupBy (weights); text never
  * shuffles on the hash key (left-semi restore, the c_corpus trick).
  * The top-half split is a doc-level global ntile here — at 100 TB
  * swap it for an approx-quantile boundary on the integer score
  * (a15-style) and keep the cut integer-decided.
  */
object Curation13Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    "c_curation" -> ((s, dir) => {
      val t = Text.normalizeAz(col("text"))
      val toks = Text.tokens(t)
      val base = documents(s, dir).select(
        col("doc_id"), col("lang"), col("text"),
        size(toks).cast("long").as("n_tok"))

      // 1. quality gate, all-integer: at least 20 tokens (cached —
      // keepIds and canon both read it; see c_corpus)
      val gated = base.filter(col("n_tok") >= 20).cache()

      // 2. exact-dup canonicalization (d_canonical rule: longest text
      // wins, doc_id tiebreak → min doc_id since exact dups share
      // length) — keep only the canonical of each content cluster
      val keepIds = gated
        .groupBy(md5(col("text")).as("__h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val canon = gated.join(keepIds, Seq("doc_id"), "left_semi")

      // 3. DSIR per-token importance on the SURVIVING corpus (t_dsir
      // kernel: en-target vs corpus unigram LMs, micro-nat lattice)
      // cached: raw and the weighted join both read the exploded
      // token table — uncached, the normalize+explode ran twice
      val tk = canon.select(col("doc_id"), col("lang"),
        explode(Text.tokens(Text.normalizeAz(col("text")))).as("tok"))
        .cache()
      val raw = tk.groupBy("tok").agg(count(lit(1)).as("n_r"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_t"))
      val consts = raw.agg(sum("n_r").as("tr"), sum("n_t").as("tt"),
        count(lit(1)).as("v"))
      val lp = (n: org.apache.spark.sql.Column, tot: org.apache.spark.sql.Column) =>
        round(lit(1e6) * log((n + 1).cast("double") / (tot + col("v"))))
          .cast("long")
      val vocab = raw.crossJoin(broadcast(consts))
        .select(col("tok"),
          (lp(col("n_t"), col("tt")) - lp(col("n_r"), col("tr"))).as("d6"))
      val weighted = tk.join(vocab, "tok")
        .groupBy("doc_id").agg(count(lit(1)).as("nt"), sum("d6").as("dsir6"))
        // per-token integer score, OFFSET POSITIVE before the integer
        // divide: Spark's DIV truncates toward zero while DuckDB's //
        // floors — they agree only on non-negative operands (+1e8
        // micro-nats/token dominates any |d6|; the shift is monotone
        // so the ordering is unchanged)
        .withColumn("ptok6", expr("(dsir6 + 100000000 * nt) DIV nt"))

      // 4. keep the top half by per-token importance (DistRank rank —
      // doc grain is row-scale, no global ntile window), then shard
      val rankedW = graft.operators.DistRank.rowNumber(weighted,
        -col("ptok6"), Seq(col("ptok6").desc, col("doc_id")), "__r",
        totalAs = Some("__n"))
      rankedW.withColumn("half", graft.operators.DistRank
          .ntileOf(col("__r"), col("__n"), 2))
        .filter(col("half") === 1)
        .select(col("doc_id"), col("nt"), col("dsir6"),
          pmod(col("doc_id") * 2654435761L, lit(4L)).as("shard"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "c_curation" ->
      s"""WITH base AS (SELECT doc_id, lang, text,
         |  len($NormToksSql)::BIGINT AS n_tok FROM documents),
         |gated AS (SELECT * FROM base WHERE n_tok >= 20),
         |keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
         |canon AS (SELECT g.* FROM gated g JOIN keep USING (doc_id)),
         |tk AS (SELECT doc_id, lang, unnest($NormToksSql) AS tok FROM canon),
         |raw AS (SELECT tok, count(*) AS n_r,
         |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_t
         | FROM tk GROUP BY 1),
         |consts AS (SELECT sum(n_r)::BIGINT AS tr, sum(n_t)::BIGINT AS tt,
         |  count(*)::BIGINT AS v FROM raw),
         |vocab AS (SELECT tok,
         |  CAST(round(1000000.0 * ln((n_t + 1)::DOUBLE / (tt + v))) AS BIGINT)
         |  - CAST(round(1000000.0 * ln((n_r + 1)::DOUBLE / (tr + v))) AS BIGINT)
         |  AS d6 FROM raw, consts),
         |wt AS (SELECT doc_id, count(*)::BIGINT AS nt,
         |  sum(d6)::BIGINT AS dsir6
         | FROM tk JOIN vocab USING (tok) GROUP BY doc_id),
         |sc AS (SELECT doc_id, nt, dsir6,
         |  (dsir6 + 100000000 * nt) // nt AS ptok6 FROM wt),
         |hv AS (SELECT doc_id, nt, dsir6,
         |  ntile(2) OVER (ORDER BY ptok6 DESC, doc_id) AS half FROM sc)
         |SELECT doc_id, nt, dsir6,
         | (doc_id * 2654435761) % 4 AS shard
         |FROM hv WHERE half = 1""".stripMargin)
}
