package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.functions.Text.P
import Q._

/** Round-7 batch 33: interpolated Kneser-Ney bigram smoothing, a
  * multinomial naive-Bayes language classifier on the micro-nat
  * lattice, Weisfeiler-Lehman graph-refinement hashing, and a
  * run-length-encoding layout audit. Net-new vs the 356-query surface
  * (grep-checked: no kneser/bayes/weisfeiler/rle anywhere). All
  * decisions are integer; the float tails are pinned IEEE chains or
  * the audited single-ln micro-nat class.
  */
object Curation33Q extends QueryModule {

  /** WL hash lattice: commutative per-neighbor mixes summed as
    * BIGINTs then folded mod P — order/partitioning-independent (the
    * o26_merkle class), safe against sum overflow to ~9e9 neighbors
    * per node (terms < P = 1e9+7, sums < 2^63). */
  private val A = 1103515245L % P
  private val B = 1299709L
  private val C = 104729L

  /** NB argmax packing: (score6 + 2^40)·2^8 + (255 − classIdx) — the
    * max prefers the higher score, then the SMALLEST class index.
    * |score6| < n_tok·20e6 stays far under the 2^40 offset. */
  private[queries] val NbOff = 1L << 40

  val queries: Seq[(String, QueryFn)] = Seq[(String, QueryFn)](

    // T: interpolated Kneser-Ney bigram smoothing (Kneser & Ney 1995)
    // — the canonical n-gram LM estimator (and the baseline every
    // neural-LM paper still quotes). For the top-200 bigrams by
    // count: P_KN(w2|w1) = (c−d)/c(w1) + d·N1+(w1·)/c(w1) ·
    // N1+(·w2)/B with discount d = 3/4 (DYADIC, so c−0.75 and
    // 0.75·nsucc are exact doubles; every division/multiply/add in
    // the chain is correctly rounded and the association is mirrored
    // token-for-token — bitwise cross-engine, trap-10 class). All
    // counts (c, c(w1), successor/predecessor type counts, B) are
    // exact BIGINT keyed aggs; the top-200 boundary is decided on
    // (count desc, gram) — a total integer order.
    "t_kneser_ney" -> ((s, dir) => {
      val grams = documents(s, dir)
        .select(col("doc_id"),
          Text.tokens(Text.normalizeAz(col("text"))).as("__toks"))
        .select(explode(Curation30Q.bigramsOf(col("__toks"))).as("g"))
        .select(split(col("g"), " ").getItem(0).as("w1"),
          split(col("g"), " ").getItem(1).as("w2"))
      val bi = grams.groupBy("w1", "w2").agg(count(lit(1)).as("c")).cache()
      val left = bi.groupBy("w1").agg(sum("c").as("c1"),
        count(lit(1)).as("nsucc"))
      val right = bi.groupBy("w2").agg(count(lit(1)).as("npred"))
      val b = bi.count() // scalar: total distinct bigram types
      bi.join(left, "w1").join(right, "w2")
        .select(col("w1"), col("w2"), col("c"), col("c1"),
          col("nsucc"), col("npred"),
          r6((col("c") - 0.75d) / col("c1") +
            (lit(0.75d) * col("nsucc") / col("c1")) *
              (col("npred") / lit(b.toDouble))).as("p_kn"))
        .orderBy(col("c").desc, col("w1"), col("w2"))
        .limit(200)
    }),

    // M36: multinomial naive Bayes over token counts — the classic
    // linear-time text classifier (language ID here: train on even
    // doc_ids, score the odd). Laplace-smoothed per-(class, term)
    // log-probs are integerized ONCE to the micro-nat lattice
    // (round(1e6·ln) — the audited t_unigram_lp class), so each test
    // doc's per-class score is an EXACT BIGINT sum and the argmax is
    // one packed max (score, smallest-class tiebreak). Unseen terms
    // fall back to the class's Laplace floor ln(1/(c_class+V)) via
    // the same lattice. Scale shape: one keyed train agg, one
    // broadcast class table (5 rows), map-side class fan-out, one
    // (term, class) equi-join, one keyed test agg — no window.
    "m36_nb_clf" -> ((s, dir) =>
      nbVerdicts(s, dir, d => pmod(d, lit(2L)) === 0L))) ++ queries2

  /** The m36 multinomial-NB pipeline with a parameterized train split
    * (test is always the odd doc_ids): shared with m39's learning
    * curve. Returns (doc_id, true_lang, pred_lang, correct). */
  private[queries] def nbVerdicts(s: SparkSession, dir: String,
      trainKeep: Column => Column): DataFrame = {
    {
      val toks = documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(Text.tokens(Text.normalizeAz(col("text")))).as("term"))
      val train = toks.filter(trainKeep(col("doc_id")))
      val ct = train.groupBy("lang", "term").agg(count(lit(1)).as("ctc"))
        .cache()
      val vocabV = ct.select("term").distinct().count()
      val classes = ct.groupBy("lang").agg(sum("ctc").as("cc"))
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      val nTrainDocs = documents(s, dir)
        .filter(trainKeep(col("doc_id"))).count()
      val priors = documents(s, dir)
        .filter(trainKeep(col("doc_id")))
        .groupBy("lang").agg(count(lit(1)).as("nd"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      // per-class constants on the micro-nat lattice (driver scalars
      // from exact integers — both engines recompute identically)
      def lp6(num: Long, den: Long): Long =
        math.round(1e6 * math.log(num.toDouble / den))
      val clsMeta = classes.zipWithIndex.map { case ((lang, cc), i) =>
        (lang, i.toLong, lp6(priors(lang), nTrainDocs), cc + vocabV)
      }
      val clsDf = s.createDataFrame(clsMeta.toSeq)
        .toDF("lang", "cls_idx", "prior6", "den")
      val scoreTbl = ct.join(broadcast(clsDf.select(col("lang"), col("den"))),
          "lang")
        .select(col("lang").as("st_cls"), col("term").as("st_term"),
          round(lit(1e6) * log((col("ctc") + 1L).cast("double") / col("den")))
            .cast("long").as("lp6"))
      val test = toks.filter(pmod(col("doc_id"), lit(2L)) === 1L)
        .groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("tf"))
        .withColumnRenamed("lang", "true_lang")
      val clsR = clsDf.withColumnRenamed("lang", "cls")
      val fanned = test
        .join(broadcast(clsR), lit(true)) // 5-row class parameter frame
        .join(scoreTbl,
          col("term") === col("st_term") && col("cls") === col("st_cls"),
          "left")
        .select(col("doc_id"), col("true_lang"), col("cls_idx"),
          col("prior6"),
          (col("tf") * coalesce(col("lp6"),
            round(lit(1e6) * log(lit(1.0) / col("den"))).cast("long")))
            .as("contrib6"))
      fanned.groupBy("doc_id", "true_lang", "cls_idx", "prior6")
        .agg(sum("contrib6").as("s6"))
        .groupBy("doc_id", "true_lang")
        .agg(max((col("prior6") + col("s6") + NbOff) * 256L +
          (lit(255L) - col("cls_idx"))).as("pk"))
        .select(col("doc_id"), col("true_lang"),
          (lit(255L) - pmod(col("pk"), lit(256L))).as("pred_idx"))
        .join(broadcast(clsDf.select(col("cls_idx").as("pred_idx"),
          col("lang").as("pred_lang"))), "pred_idx")
        .select(col("doc_id"), col("true_lang"), col("pred_lang"),
          (col("true_lang") === col("pred_lang")).cast("long").as("correct"))
    }
  }

  private def queries2: Seq[(String, QueryFn)] = Seq(

    // G14: Weisfeiler-Lehman refinement hashing (2 rounds) on the
    // customer-supplier graph — the graph-isomorphism fingerprint
    // behind WL kernels and GNN expressiveness results. Round r:
    // lbl' = (A·lbl + Σ_{u∈N(v)} (B·lbl_u + C mod P)) mod P — the
    // neighbor mix is COMMUTATIVE (a mod-P sum, the o26_merkle
    // class), so no sorted collect_list and O(1) agg state per node;
    // each round is one Pregel-shape keyed agg + join. lbl0 = degree.
    "g14_wl_hash" -> ((s, dir) => {
      // cache the edges ALREADY hash-partitioned on the round-join
      // key + SHUFFLE_HASH on the label side (the g11/lpa3 pattern,
      // round 11): the |E| side neither re-exchanges nor re-SORTS
      // per round — only the |V|-row label side moves. sf10 A/B
      // 0.773 vs the hint-free shape (plans/r12/ab_sf10_g14.json,
      // round 12). Memory note: the shuffled-hash build side must
      // hold ~|V|/p rows per task (limited spill support) — at the
      // 100 TB target raise p with |V| so the per-task label map
      // stays in execution memory, or drop the hint to fall back
      // to sort-merge

      val sym = GraphQ.symEdges(s, dir).repartition(col("b")).cache()
      var lbl = sym.groupBy(col("a").as("node"))
        .agg(count(lit(1)).as("lbl"))
      for (_ <- 1 to 2) {
        val mixed = sym
          .join(lbl.select(col("node").as("b"), col("lbl").as("nl"))
            .hint("SHUFFLE_HASH"), "b")
          .groupBy(col("a").as("node"))
          .agg(sum(pmod(col("nl") * B + C, lit(P))).as("nsum"))
        lbl = lbl.join(mixed, "node")
          .select(col("node"),
            pmod(pmod(col("lbl") * A, lit(P)) + pmod(col("nsum"), lit(P)),
              lit(P)).as("lbl"))
      }
      val deg = sym.groupBy(col("a").as("node"))
        .agg(count(lit(1)).as("degree"))
      deg.join(lbl, "node")
        .select(col("node"), col("degree"), col("lbl").as("wl2"))
    }),

    // O28: run-length-encoding layout audit — "how compressible is
    // this column in its CURRENT order vs re-sorted", the measurement
    // behind choosing sort keys for RLE/dictionary encodings. Per
    // storage bucket (rid DIV 8192 over the 8·orderkey+linenumber
    // rid — NOT unique in the synthetic data, so the scan order adds
    // the flag itself as tiebreak: tied rows then carry equal flags
    // and the run count is engine-portable): natural-order runs by
    // one bucket-partitioned lag window (bounded partitions — never
    // global), sorted-layout runs = distinct values (sorting makes
    // each value one run). All integers; the compression ratio is one
    // division emitted at r6.
    "o28_rle" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("bucket").orderBy("rid", "l_returnflag")
      val li = lineitem(s, dir).select(
        (col("l_orderkey") * 8L + col("l_linenumber")).as("rid"),
        col("l_returnflag"))
        .withColumn("bucket",
          ((col("rid") - pmod(col("rid"), lit(8192L))) / 8192L).cast("long"))
      li.withColumn("brk",
          when(lag(col("l_returnflag"), 1).over(w).isNull ||
            lag(col("l_returnflag"), 1).over(w) =!= col("l_returnflag"), 1L)
            .otherwise(0L))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          sum("brk").as("runs_natural"),
          countDistinct(col("l_returnflag")).as("runs_sorted"))
        .select(col("bucket"), col("n_rows"), col("runs_natural"),
          col("runs_sorted"),
          r6(col("runs_sorted").cast("double") / col("runs_natural"))
            .as("sort_gain"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  private val TokCte =
    s"""tok AS (SELECT doc_id, lang,
       | list_filter(string_split($NormSql, ' '),
       |   w -> length(w) > 0) AS toks
       | FROM documents)""".stripMargin

  val oracle: Seq[(String, String)] = Seq(

    "t_kneser_ney" ->
      s"""WITH $TokCte,
         |g AS (SELECT string_split(u, ' ')[1] AS w1,
         |  string_split(u, ' ')[2] AS w2 FROM
         |  (SELECT unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i + 1])
         |    ELSE [] END) AS u FROM tok)),
         |bi AS (SELECT w1, w2, count(*)::BIGINT AS c FROM g GROUP BY 1, 2),
         |lf AS (SELECT w1, sum(c)::BIGINT AS c1, count(*)::BIGINT AS nsucc
         | FROM bi GROUP BY 1),
         |rt AS (SELECT w2, count(*)::BIGINT AS npred FROM bi GROUP BY 1),
         |bt AS (SELECT count(*)::BIGINT AS b FROM bi)
         |SELECT w1, w2, c, c1, nsucc, npred,
         | round((c - 0.75) / c1
         |   + (0.75 * nsucc / c1) * (npred / b::DOUBLE), 6) AS p_kn
         |FROM bi JOIN lf USING (w1) JOIN rt USING (w2) CROSS JOIN bt
         |ORDER BY c DESC, w1, w2 LIMIT 200""".stripMargin,

    "m36_nb_clf" -> nbSql("doc_id % 2 = 0")) ++ oracle2

  /** The m36 oracle chain with a parameterized train condition over a
    * doc_id column reference `\$d` — shared with m39's learning curve
    * (substitute e.g. "doc_id % 2 = 0 AND (doc_id // 2) % 4 < 2"). */
  private[queries] def nbSql(cond: String): String = {
    def c(ref: String) = cond.replace("doc_id", ref)
    s"""WITH $TokCte,
         |tk AS (SELECT doc_id, lang, unnest(toks) AS term FROM tok),
         |tr AS (SELECT * FROM tk WHERE ${c("doc_id")}),
         |ct AS (SELECT lang AS cls, term, count(*)::BIGINT AS ctc
         | FROM tr GROUP BY 1, 2),
         |v AS (SELECT count(DISTINCT term)::BIGINT AS vv FROM ct),
         |nd AS (SELECT count(*)::BIGINT AS ntr FROM documents
         | WHERE ${c("doc_id")}),
         |cls AS (SELECT cls,
         |  (row_number() OVER (ORDER BY cls) - 1)::BIGINT AS cls_idx,
         |  CAST(round(1e6 * ln(pd::DOUBLE / ntr)) AS BIGINT) AS prior6,
         |  cc + vv AS den
         | FROM (SELECT c.cls, sum(c.ctc)::BIGINT AS cc,
         |    (SELECT count(*) FROM documents d
         |     WHERE ${c("d.doc_id")} AND d.lang = c.cls)::BIGINT AS pd
         |   FROM ct c GROUP BY c.cls) CROSS JOIN v CROSS JOIN nd),
         |sc AS (SELECT ct.cls, ct.term,
         |  CAST(round(1e6 * ln((ctc + 1)::DOUBLE / den)) AS BIGINT) AS lp6
         | FROM ct JOIN cls USING (cls)),
         |te AS (SELECT doc_id, lang AS true_lang, term,
         |  count(*)::BIGINT AS tf
         | FROM tk WHERE doc_id % 2 = 1 GROUP BY 1, 2, 3),
         |fan AS (SELECT te.doc_id, te.true_lang, cls.cls_idx, cls.prior6,
         |  te.tf * coalesce(sc.lp6,
         |    CAST(round(1e6 * ln(1.0 / cls.den)) AS BIGINT)) AS contrib6
         | FROM te CROSS JOIN cls
         |  LEFT JOIN sc ON sc.term = te.term AND sc.cls = cls.cls),
         |per AS (SELECT doc_id, true_lang, cls_idx, prior6,
         |  sum(contrib6)::BIGINT AS s6
         | FROM fan GROUP BY 1, 2, 3, 4),
         |pk AS (SELECT doc_id, true_lang,
         |  (255 - (max((prior6 + s6 + $NbOff) * 256 + (255 - cls_idx))
         |    % 256))::BIGINT AS pred_idx
         | FROM per GROUP BY 1, 2)
         |SELECT pk.doc_id, pk.true_lang, cls.cls AS pred_lang,
         | (pk.true_lang = cls.cls)::BIGINT AS correct
         |FROM pk JOIN cls ON cls.cls_idx = pk.pred_idx""".stripMargin
  }

  private def oracle2: Seq[(String, String)] = Seq(

    "g14_wl_hash" ->
      s"""WITH ${GraphQ.SymSql},
         |l0 AS (SELECT a AS node, count(*)::BIGINT AS lbl
         | FROM sym GROUP BY 1),
         |m1 AS (SELECT s.a AS node,
         |  sum((l.lbl * $B + $C) % $P)::BIGINT AS nsum
         | FROM sym s JOIN l0 l ON l.node = s.b GROUP BY 1),
         |l1 AS (SELECT l0.node,
         |  ((l0.lbl * $A % $P) + (m1.nsum % $P)) % $P AS lbl
         | FROM l0 JOIN m1 USING (node)),
         |m2 AS (SELECT s.a AS node,
         |  sum((l.lbl * $B + $C) % $P)::BIGINT AS nsum
         | FROM sym s JOIN l1 l ON l.node = s.b GROUP BY 1),
         |l2 AS (SELECT l1.node,
         |  (((l1.lbl * $A % $P) + (m2.nsum % $P)) % $P)::BIGINT AS lbl
         | FROM l1 JOIN m2 USING (node))
         |SELECT node, l0.lbl AS degree, l2.lbl AS wl2
         |FROM l0 JOIN l2 USING (node)""".stripMargin,

    "o28_rle" ->
      """WITH li AS (SELECT l_orderkey * 8 + l_linenumber AS rid,
        |  l_returnflag FROM lineitem),
        |b AS (SELECT rid, rid // 8192 AS bucket, l_returnflag FROM li),
        |m AS (SELECT bucket, CASE WHEN lag(l_returnflag) OVER
        |   (PARTITION BY bucket ORDER BY rid, l_returnflag)
        |   IS DISTINCT FROM l_returnflag
        |   THEN 1 ELSE 0 END AS brk
        | FROM b)
        |SELECT bucket::BIGINT AS bucket, count(*)::BIGINT AS n_rows,
        | sum(brk)::BIGINT AS runs_natural,
        | (SELECT count(DISTINCT l_returnflag) FROM b b2
        |   WHERE b2.bucket = m.bucket)::BIGINT AS runs_sorted,
        | round((SELECT count(DISTINCT l_returnflag) FROM b b2
        |   WHERE b2.bucket = m.bucket)::DOUBLE / sum(brk), 6) AS sort_gain
        |FROM m GROUP BY bucket""".stripMargin)
}
