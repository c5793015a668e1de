package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text
import Q._

/** Training-data curation operators, round 5 batch 2: substring-overlap
  * coverage, dedup-cluster canonicalization, DSIR-style importance
  * weighting, BPE merge learning, robust scaling, and product-
  * quantization ANN. Net-new vs the reference (SURVEY.md §2.11); these
  * are the published LLM-curation steps (Lee et al. substring dedup,
  * Xie et al. DSIR, Sennrich BPE, Jégou PQ) re-expressed as Spark
  * dataflows.
  *
  * Engine-portability follows ORACLE_NOTES: every aggregation runs on
  * an exact integer lattice (token positions, micro-nats, milli
  * components, cents), every keep/rank decision is integer-decided,
  * and every emitted float is a single IEEE division of exact BIGINTs.
  */
object Curation2Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // Shared-n-gram coverage — the per-doc "how much of me is copied"
    // metric behind substring-level dedup (5-token grams shared with
    // ≥1 other doc, merged into intervals, covered-token count).
    // Everything is integer: positions, interval merges (gaps-and-
    // islands over a per-doc window), and the ppm share (integer DIV).
    // Scale: the gram groupBy is the only wide shuffle and it keys on
    // the gram itself (uniform); the interval merge windows on doc_id.
    "d_ngram_coverage" -> ((s, dir) => {
      val base = documents(s, dir).select(col("doc_id"),
          Text.tokens(Text.normalizeAz(col("text"))).as("t"))
        .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("n_tok"))
      val grams = base.filter(col("n_tok") >= 5)
        .select(col("doc_id"), posexplode(
          transform(sequence(lit(1L), col("n_tok") - 4),
            i => array_join(slice(col("t"), i.cast("int"), lit(5)), " ")))
          .as(Seq("p", "gram")))
        .select(col("doc_id"), (col("p") + 1).cast("long").as("st"), col("gram"))
      val shared = grams.groupBy("gram")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2).select("gram")
      val iv = grams.join(shared, "gram")
        .select(col("doc_id"), col("st"), (col("st") + 4).as("en"))
      val w = Window.partitionBy("doc_id").orderBy("st")
      val prevMax = max(col("en")).over(w.rowsBetween(Window.unboundedPreceding, -1))
      val isl = iv
        .withColumn("nw", when(prevMax.isNull || col("st") > prevMax, 1L)
          .otherwise(0L))
        .withColumn("isl", sum("nw").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      val cov = isl.groupBy("doc_id", "isl")
        .agg((max("en") - min("st") + 1).as("c"))
        .groupBy("doc_id").agg(sum("c").as("covered"))
      base.join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("covered"), lit(0L)).as("covered_tok"),
          when(col("n_tok") > 0,
            coalesce(col("covered"), lit(0L)) * 1000000L / col("n_tok"))
            .otherwise(0L).cast("long").as("covered_ppm"))
    }),

    // Dedup-cluster canonicalization — after clustering (here: exact
    // content hash; the production input is any d_* cluster id), keep
    // ONE representative per cluster (longest text, doc_id tiebreak)
    // and point every member at it. The pick is a deterministic
    // first_value over a totally-ordered window — no floats anywhere.
    "d_canonical" -> ((s, dir) => {
      val w = Window.partitionBy("h")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      documents(s, dir)
        .select(col("doc_id"), col("n_chars"), md5(col("text")).as("h"))
        .select(col("doc_id"),
          first("doc_id").over(w).as("canon_id"),
          count(lit(1)).over(w).as("cluster_sz"))
        .withColumn("is_canonical", col("doc_id") === col("canon_id"))
    }),

    // DSIR-style importance weight: per-token log-ratio of a target-
    // domain unigram LM (lang='en' docs) vs the raw-corpus LM, Laplace-
    // smoothed. Each vocab entry integerizes its TWO single-ln terms
    // onto the micro-nat lattice once (the t_unigram_lp audit applies),
    // so the per-doc weight is an exact BIGINT sum and the keep flag is
    // integer-decided. Scale: one vocab groupBy + one token join; the
    // constants ride a broadcast.
    "t_dsir" -> ((s, dir) => {
      val toks = documents(s, dir).select(col("doc_id"), col("lang"),
        explode(Text.tokens(Text.normalizeAz(col("text")))).as("tok"))
      val raw = toks.groupBy("tok").agg(count(lit(1)).as("n_r"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_t"))
      val consts = raw.agg(sum("n_r").as("tr"), sum("n_t").as("tt"),
        count(lit(1)).as("v"))
      val lp = (n: org.apache.spark.sql.Column, tot: org.apache.spark.sql.Column) =>
        round(lit(1e6) * log((n + 1).cast("double") / (tot + col("v"))))
          .cast("long")
      val vocab = raw.crossJoin(broadcast(consts))
        .select(col("tok"),
          (lp(col("n_t"), col("tt")) - lp(col("n_r"), col("tr"))).as("d6"))
      toks.join(vocab, "tok")
        .groupBy("doc_id").agg(count(lit(1)).as("n_tok"), sum("d6").as("dsir6"))
        .withColumn("keep", col("dsir6") > 0)
    }),

    // BPE merge learning, one iteration: the most frequent adjacent
    // character pairs across the word-frequency table — the statistic
    // a tokenizer trainer computes per merge step. Exact BIGINT counts;
    // the final rank window is global but runs over the pair-count
    // aggregate, whose cardinality is bounded by the alphabet square
    // (≤27² here), not the corpus.
    "t_bpe_learn" -> ((s, dir) => {
      val words = documents(s, dir)
        .select(explode(Text.tokens(Text.normalizeAz(col("text")))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
      val pairs = words.filter(length(col("w")) >= 2)
        .select(col("f"), explode(
          transform(sequence(lit(1), length(col("w")) - 1),
            j => col("w").substr(j, lit(2)))).as("pair"))
        .groupBy("pair").agg(sum("f").as("cnt"))
      val wTop = Window.orderBy(col("cnt").desc, col("pair"))
      pairs.withColumn("rk", row_number().over(wTop).cast("long"))
        .filter(col("rk") <= 20)
        .select(col("rk"), col("pair"), col("cnt"))
    }),

    // Robust scaling (x−median)/IQR per group — the outlier-tolerant
    // twin of m6_scaler. Median and quartiles are type-1 (ceil-index
    // rule), entirely on the integer cent lattice; the scaled value
    // is ONE division of exact integers. The order statistics are
    // RANK-based: row_number in c order + conditional max over the
    // same partition pick the indexed values — no collect_list, O(1)
    // aggregate state per key, the per-group sort is the window
    // operator's spillable sort (unbounded-key safe at 100 TB).
    "m24_robust" -> ((s, dir) => {
      val wg = Window.partitionBy("user_id")
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_id"), col("user_id"),
          lattice(col("value"), 100).as("c"))
      val ranked = e
        .withColumn("__n", count(lit(1)).over(wg))
        .withColumn("__rnc", row_number().over(wg.orderBy("c")))
      def pick(idx: org.apache.spark.sql.Column) =
        max(when(col("__rnc") === idx.cast("int"), col("c"))).over(wg)
      val med = pick((col("__n") + 1) / 2)
      val q1 = pick((col("__n") + 3) / 4)
      val q3 = pick((col("__n") * 3 + 3) / 4)
      ranked.select(col("event_id"), col("user_id"), col("c"),
          med.as("med"), (q3 - q1).as("iqr"))
        .select(col("event_id"), col("user_id"), col("c"), col("med"),
          col("iqr"),
          when(col("iqr") > 0,
            (col("c") - col("med")).cast("double") / col("iqr"))
            .otherwise(lit(null).cast("double")).as("robust_z"))
    }),

    // Product-quantization ANN (PQ/ADC): 64-dim embeddings split into
    // 8 subspaces of 8 dims; a 16-entry codebook per subspace (the
    // first 16 vectors — deterministic "trained" centroids); candidates
    // encode to their nearest code per subspace (exact BIGINT squared
    // distance on the milli lattice, packed argmin) and queries rank
    // candidates by the asymmetric-distance sum of 8 table lookups.
    // Every distance is an exact integer — no float comparison in the
    // whole operator. Scale: codebook and distance tables are tiny
    // broadcasts; encoding is one join + groupBy keyed by (vec, sub).
    "s_pq_topk" -> ((s, dir) => {
      val comps = embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          expr("dim DIV 8").cast("long").as("sub"),
          lattice(col("x").cast("double"), 1000).as("q"))
      val cents = comps.filter(col("vec_id") < 16)
        .select(col("vec_id").as("code"), col("dim").as("cdim"),
          col("q").as("qc"))
      val sq = (a: org.apache.spark.sql.Column) => a * a
      val enc = comps.filter(col("vec_id") >= 21)
        .join(broadcast(cents), col("dim") === col("cdim"))
        .groupBy("vec_id", "sub", "code")
        .agg(sum(sq(col("q") - col("qc"))).as("d2"))
        .groupBy("vec_id", "sub")
        .agg(min(col("d2") * 16 + col("code")).as("pk"))
        .select(col("vec_id"), col("sub"), pmod(col("pk"), lit(16L)).as("code"))
      val qd = comps.filter(col("vec_id") >= 16 && col("vec_id") < 21)
        .join(broadcast(cents), col("dim") === col("cdim"))
        .groupBy(col("vec_id").as("qid"), col("sub"), col("code"))
        .agg(sum(sq(col("q") - col("qc"))).as("qd2"))
      val adc = enc.join(broadcast(qd), Seq("sub", "code"))
        .groupBy("qid", "vec_id").agg(sum("qd2").as("adc2"))
      val wk = Window.partitionBy("qid")
        .orderBy(col("adc2").asc, col("vec_id"))
      adc.withColumn("rk", row_number().over(wk).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("vec_id"), col("adc2"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "d_ngram_coverage" ->
      s"""WITH tn AS (SELECT doc_id, $NormToksSql AS t,
         |  len($NormToksSql)::BIGINT AS n_tok FROM documents),
         |grams AS (SELECT doc_id,
         |  unnest(list_transform(range(1, n_tok - 3),
         |    i -> {'st': i, 'g': array_to_string(t[i:i+4], ' ')})) AS s
         | FROM tn WHERE n_tok >= 5),
         |ge AS (SELECT doc_id, s.st::BIGINT AS st, s.g AS gram FROM grams),
         |shared AS (SELECT gram FROM ge GROUP BY gram
         |  HAVING count(DISTINCT doc_id) >= 2),
         |ss AS (SELECT doc_id, st, st + 4 AS en FROM ge JOIN shared USING (gram)),
         |m AS (SELECT doc_id, st, en, max(en) OVER (PARTITION BY doc_id
         |    ORDER BY st ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |  AS pm FROM ss),
         |i AS (SELECT doc_id, st, en,
         |  (CASE WHEN pm IS NULL OR st > pm THEN 1 ELSE 0 END)::BIGINT AS nw
         | FROM m),
         |j AS (SELECT doc_id, st, en, sum(nw) OVER (PARTITION BY doc_id
         |    ORDER BY st ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |  AS isl FROM i),
         |c AS (SELECT doc_id, isl, max(en) - min(st) + 1 AS c
         | FROM j GROUP BY 1, 2),
         |cv AS (SELECT doc_id, sum(c)::BIGINT AS covered FROM c GROUP BY 1)
         |SELECT tn.doc_id, n_tok, coalesce(covered, 0)::BIGINT AS covered_tok,
         | (CASE WHEN n_tok > 0 THEN coalesce(covered, 0) * 1000000 // n_tok
         |   ELSE 0 END)::BIGINT AS covered_ppm
         |FROM tn LEFT JOIN cv USING (doc_id)""".stripMargin,

    "d_canonical" ->
      """SELECT doc_id,
        | first_value(doc_id) OVER (PARTITION BY md5(text)
        |   ORDER BY n_chars DESC, doc_id ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |   AS canon_id,
        | count(*) OVER (PARTITION BY md5(text)) AS cluster_sz,
        | doc_id = first_value(doc_id) OVER (PARTITION BY md5(text)
        |   ORDER BY n_chars DESC, doc_id ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |   AS is_canonical
        |FROM documents""".stripMargin,

    "t_dsir" ->
      s"""WITH toks AS (SELECT doc_id, lang, unnest($NormToksSql) AS tok
         | FROM documents),
         |raw AS (SELECT tok, count(*) AS n_r,
         |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_t
         | FROM toks GROUP BY 1),
         |consts AS (SELECT sum(n_r)::BIGINT AS tr, sum(n_t)::BIGINT AS tt,
         |  count(*)::BIGINT AS v FROM raw),
         |vocab AS (SELECT tok,
         |  CAST(round(1000000.0 * ln((n_t + 1)::DOUBLE / (tt + v))) AS BIGINT)
         |  - CAST(round(1000000.0 * ln((n_r + 1)::DOUBLE / (tr + v))) AS BIGINT)
         |  AS d6
         | FROM raw, consts)
         |SELECT doc_id, count(*) AS n_tok, sum(d6)::BIGINT AS dsir6,
         | sum(d6)::BIGINT > 0 AS keep
         |FROM toks JOIN vocab USING (tok)
         |GROUP BY doc_id""".stripMargin,

    "t_bpe_learn" ->
      s"""WITH words AS (SELECT w, count(*) AS f
         | FROM (SELECT unnest($NormToksSql) AS w FROM documents) GROUP BY 1),
         |p0 AS (SELECT w, f, unnest(range(1, length(w))) AS j
         | FROM words WHERE length(w) >= 2),
         |pairs AS (SELECT substr(w, j::INT, 2) AS pair, sum(f)::BIGINT AS cnt
         | FROM p0 GROUP BY 1),
         |r AS (SELECT pair, cnt,
         |  row_number() OVER (ORDER BY cnt DESC, pair) AS rk FROM pairs)
         |SELECT rk::BIGINT AS rk, pair, cnt FROM r WHERE rk <= 20""".stripMargin,

    "m24_robust" ->
      s"""WITH e AS (SELECT event_id, user_id,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |s AS (SELECT event_id, user_id, c,
        |  list_sort(list(c) OVER (PARTITION BY user_id)) AS l,
        |  count(*) OVER (PARTITION BY user_id) AS n FROM e),
        |q AS (SELECT event_id, user_id, c,
        |  l[((n + 1) // 2)::INT] AS med,
        |  l[((n * 3 + 3) // 4)::INT] - l[((n + 3) // 4)::INT] AS iqr
        | FROM s)
        |SELECT event_id, user_id, c, med, iqr,
        | CASE WHEN iqr > 0 THEN (c - med)::DOUBLE / iqr END AS robust_z
        |FROM q""".stripMargin,

    "s_pq_topk" ->
      s"""WITH L AS (SELECT vec_id,
        |  unnest(list_transform(range(1, len(embedding) + 1),
        |    i -> {'d': i - 1, 'x': embedding[i]})) AS s FROM embeddings),
        |p AS (SELECT vec_id, s.d::BIGINT AS dim, s.d::BIGINT // 8 AS sub,
        |  ${latticeSql("s.x::DOUBLE", 1000)} AS q FROM L),
        |cents AS (SELECT vec_id AS code, dim AS cdim, q AS qc
        | FROM p WHERE vec_id < 16),
        |enc0 AS (SELECT c.vec_id, c.sub, k.code,
        |  sum((c.q - k.qc) * (c.q - k.qc))::BIGINT AS d2
        | FROM p c JOIN cents k ON k.cdim = c.dim
        | WHERE c.vec_id >= 21 GROUP BY 1, 2, 3),
        |enc AS (SELECT vec_id, sub,
        |  min(d2 * 16 + code)::BIGINT % 16 AS code
        | FROM enc0 GROUP BY 1, 2),
        |qd AS (SELECT c.vec_id AS qid, c.sub, k.code,
        |  sum((c.q - k.qc) * (c.q - k.qc))::BIGINT AS qd2
        | FROM p c JOIN cents k ON k.cdim = c.dim
        | WHERE c.vec_id >= 16 AND c.vec_id < 21 GROUP BY 1, 2, 3),
        |adc AS (SELECT qd.qid, enc.vec_id, sum(qd.qd2)::BIGINT AS adc2
        | FROM enc JOIN qd ON qd.sub = enc.sub AND qd.code = enc.code
        | GROUP BY 1, 2),
        |r AS (SELECT qid, vec_id, adc2,
        |  row_number() OVER (PARTITION BY qid ORDER BY adc2 ASC, vec_id) AS rk
        | FROM adc)
        |SELECT qid, rk::BIGINT AS rk, vec_id, adc2 FROM r WHERE rk <= 5""".stripMargin)
}
