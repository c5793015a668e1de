package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Q._

/** Round-9 batch 75: vocabulary-richness indices, a readability
  * screen, and an information-theoretic feature selector —
  * Honoré/Sichel/Brunet lexical richness (t_heaps fits vocab GROWTH;
  * these score a single document set's richness from the hapax/dis
  * spectrum, the stylometry primitives), Gunning fog (t_coleman_liau
  * is char-based; fog counts HARD words via vowel groups — the other
  * classic readability family), and mRMR relevance-redundancy
  * screening (m20's info gain ranks features in isolation; mRMR
  * penalizes a feature by its redundancy with the REST of the set,
  * the standard feature-selection refinement). Net-new vs the
  * 478-query surface (grep-checked: no honore/sichel/brunet/fog/mrmr).
  *
  * Portability: all counts are exact lattice/grid BIGINTs; entropy
  * folds ride the a107 pinned-sorted-list pattern over DOMAIN-bounded
  * grids; the only libm (ln/exp) sits behind r6 on off-boundary
  * composites (rule 3).
  */
object Curation75Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // T_LEXICAL_RICHNESS per language: token count N, vocab V, hapax
    // V1, dis legomena V2 from ONE (lang, token) aggregate; Honoré
    // R = 100·ln N/(1 − V1/V), Sichel S = V2/V, and Brunet's
    // ln W = V^(−0.165)·ln N (the log form keeps the double in a
    // sane range; pow itself never reaches the hash — exp/ln
    // composites only, r6).
    "t_lexical_richness" -> ((s, dir) => {
      import graft.functions.Text
      val toks = documents(s, dir)
        .select(col("lang"),
          explode(Text.tokens(Text.normalizeAz(col("text")))).as("w"))
      val freq = toks.groupBy("lang", "w").agg(count(lit(1)).as("f"))
      val g = freq.groupBy("lang").agg(
        sum("f").as("n_tokens"), count(lit(1)).as("v"),
        sum(when(col("f") === 1L, 1L).otherwise(0L)).as("v1"),
        sum(when(col("f") === 2L, 1L).otherwise(0L)).as("v2"))
      g.select(col("lang"), col("n_tokens"), col("v"), col("v1"),
        col("v2"),
        r6(lit(100.0) * log(col("n_tokens").cast("double")) /
          (lit(1.0) - col("v1").cast("double") / col("v").cast("double")))
          .as("honore_r"),
        (col("v2").cast("double") / col("v").cast("double"))
          .as("sichel_s"),
        r6(exp(lit(-0.165) * log(col("v").cast("double"))) *
          log(col("n_tokens").cast("double"))).as("brunet_log_w"))
    }),

    // T_GUNNING_FOG per document: sentences from the RAW text's
    // [.!?]+ runs (≥ 1 floor), words from the normalized tokens,
    // complex words = ≥ 3 vowel groups ([aeiouy]+ runs, the standard
    // syllable heuristic). fog = 0.4·(words/sentences +
    // 100·complex/words) — exact counts, one pinned chain, raw.
    "t_gunning_fog" -> ((s, dir) => {
      import graft.functions.Text
      val d = documents(s, dir).select(col("doc_id"),
        greatest(lit(1L), regexp_count(col("text"), lit("[.!?]+"))
          .cast("long")).as("sents"),
        Text.tokens(Text.normalizeAz(col("text"))).as("toks"))
      val counted = d.select(col("doc_id"), col("sents"),
        size(col("toks")).cast("long").as("words"),
        size(filter(col("toks"), w =>
          regexp_count(w, lit("[aeiouy]+")) >= lit(3)))
          .cast("long").as("complex"))
      counted.filter(col("words") >= 1L)
        .select(col("doc_id"), col("sents"), col("words"), col("complex"),
          (lit(0.4) * (col("words").cast("double") /
            col("sents").cast("double") +
            lit(100.0) * col("complex").cast("double") /
              col("words").cast("double"))).as("fog"))
    }),

    // M58: mRMR over four bounded-lattice lineitem features vs the
    // return flag. ONE joint grid aggregate (≤ ~15k cells by domain)
    // feeds every margin; MI(a;b) = H_a + H_b − H_ab with each H a
    // pinned fold over its sorted margin; the mRMR score is
    // relevance − mean pairwise redundancy. Four rows out, ladder
    // style (the caller picks; a120 precedent).
    "m58_mrmr" -> ((s, dir) => {
      val feats = Seq("f_q", "f_d", "f_t", "f_p")
      val joint = lineitem(s, dir).select(
        expr("CAST(l_quantity AS BIGINT) DIV 10").as("f_q"),
        lattice(col("l_discount"), 100).as("f_d"),
        lattice(col("l_tax"), 100).as("f_t"),
        expr(s"${latticeSql("l_extendedprice", 100)} DIV 1000000")
          .as("f_p"),
        col("l_returnflag").as("y"))
        .groupBy("f_q", "f_d", "f_t", "f_p", "y")
        .agg(count(lit(1)).as("obs"))
        .localCheckpoint()
      // H over a margin keyed by (string-rendered) key columns
      def ent(keys: Seq[String]): DataFrame = {
        val m = joint.groupBy(keys.map(col): _*)
          .agg(sum("obs").as("m"))
        m.agg(sort_array(collect_list(struct(
          keys.map(col) :+ col("m"): _*))).as("xs"), sum("m").as("n"))
          .select((log(col("n").cast("double")) -
            fold(col("xs")) { (a, x) =>
              a + x.getField("m").cast("double") *
                log(x.getField("m").cast("double"))
            } / col("n").cast("double")).as("h"))
      }
      // materialize every needed entropy as a named 1-row frame
      val hy = ent(Seq("y")).select(col("h").as("h_y"))
      val hF = feats.map(f => f -> ent(Seq(f))
        .select(col("h").as(s"h_$f"))).toMap
      val hFy = feats.map(f => f -> ent(Seq(f, "y"))
        .select(col("h").as(s"h_${f}_y"))).toMap
      val pairs = for {
        i <- feats.indices; j <- feats.indices if i < j
      } yield (feats(i), feats(j))
      val hPair = pairs.map { case (a, b) =>
        (a, b) -> ent(Seq(a, b)).select(col("h").as(s"h_${a}_$b"))
      }.toMap
      val all = (Seq(hy) ++ feats.map(hF) ++ feats.map(hFy) ++
        pairs.map(hPair)).reduce((x, y) => x.crossJoin(broadcast(y)))
      // per-feature row: relevance MI(f;y), mean redundancy over the
      // other three (pinned order: feature-name ascending)
      val rows = feats.map { f =>
        val rel = col(s"h_$f") + col("h_y") - col(s"h_${f}_y")
        val reds = feats.filter(_ != f).map { o =>
          val (a, b) = if (feats.indexOf(f) < feats.indexOf(o)) (f, o)
            else (o, f)
          col(s"h_$f") + col(s"h_$o") - col(s"h_${a}_$b")
        }
        val redAvg = (reds.head + reds(1) + reds(2)) / 3.0
        all.select(lit(f).as("feature"), r6(rel).as("mi_y"),
          r6(redAvg).as("red_avg"), r6(rel - redAvg).as("mrmr"))
      }
      rows.reduce(_.union(_))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "t_lexical_richness" ->
      s"""WITH tok AS (SELECT lang, unnest($ToksSql) AS w
         |  FROM (SELECT lang, $NormSql AS t FROM documents)),
         |freq AS (SELECT lang, w, count(*)::BIGINT AS f
         |  FROM tok GROUP BY lang, w),
         |g AS (SELECT lang, CAST(sum(f) AS BIGINT) AS n_tokens,
         |  count(*)::BIGINT AS v,
         |  CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
         |  CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2
         | FROM freq GROUP BY lang)
         |SELECT lang, n_tokens, v, v1, v2,
         | round(100.0 * ln(n_tokens::DOUBLE)
         |   / (1.0 - v1::DOUBLE / v::DOUBLE), 6) AS honore_r,
         | v2::DOUBLE / v::DOUBLE AS sichel_s,
         | round(exp(-0.165 * ln(v::DOUBLE)) * ln(n_tokens::DOUBLE), 6)
         |   AS brunet_log_w
         |FROM g""".stripMargin,

    "t_gunning_fog" ->
      s"""WITH d AS (SELECT doc_id,
         |  greatest(1, len(regexp_extract_all(text, '[.!?]+')))::BIGINT
         |    AS sents,
         |  $ToksSql AS toks
         | FROM (SELECT doc_id, text, $NormSql AS t FROM documents)),
         |c AS (SELECT doc_id, sents,
         |  len(toks)::BIGINT AS words,
         |  len(list_filter(toks, w ->
         |    len(regexp_extract_all(w, '[aeiouy]+')) >= 3))::BIGINT
         |    AS complex
         | FROM d)
         |SELECT doc_id, sents, words, complex,
         | 0.4 * (words::DOUBLE / sents::DOUBLE
         |   + 100.0 * complex::DOUBLE / words::DOUBLE) AS fog
         |FROM c WHERE words >= 1""".stripMargin,

    "m58_mrmr" -> {
      val feats = Seq("f_q", "f_d", "f_t", "f_p")
      def ent(keys: Seq[String], name: String) = {
        val ks = keys.mkString(", ")
        s"""$name AS (SELECT ln(sum(m)::DOUBLE) -
           |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(
           |    list(struct_pack(${keys.map(k => s"$k := $k").mkString(", ")},
           |      m := m) ORDER BY $ks),
           |    x -> x.m::DOUBLE * ln(x.m::DOUBLE))), (a, b) -> a + b)
           |   / sum(m)::DOUBLE AS h
           | FROM (SELECT $ks, CAST(sum(obs) AS BIGINT) AS m
           |       FROM joint GROUP BY $ks))""".stripMargin
      }
      val pairs = for {
        i <- feats.indices; j <- feats.indices if i < j
      } yield (feats(i), feats(j))
      val entCtes = Seq(ent(Seq("y"), "e_y")) ++
        feats.map(f => ent(Seq(f), s"e_$f")) ++
        feats.map(f => ent(Seq(f, "y"), s"e_${f}_y")) ++
        pairs.map { case (a, b) => ent(Seq(a, b), s"e_${a}_$b") }
      def h(name: String) = s"(SELECT h FROM $name)"
      val rows = feats.map { f =>
        val rel = s"${h(s"e_$f")} + ${h("e_y")} - ${h(s"e_${f}_y")}"
        val reds = feats.filter(_ != f).map { o =>
          val (a, b) = if (feats.indexOf(f) < feats.indexOf(o)) (f, o)
            else (o, f)
          s"(${h(s"e_$f")} + ${h(s"e_$o")} - ${h(s"e_${a}_$b")})"
        }
        val redAvg = s"(${reds(0)} + ${reds(1)} + ${reds(2)}) / 3.0"
        s"""SELECT '$f' AS feature, round($rel, 6) AS mi_y,
           | round($redAvg, 6) AS red_avg,
           | round(($rel) - ($redAvg), 6) AS mrmr""".stripMargin
      }
      s"""WITH joint AS MATERIALIZED (SELECT
         |  CAST(l_quantity AS BIGINT) // 10 AS f_q,
         |  ${latticeSql("l_discount", 100)} AS f_d,
         |  ${latticeSql("l_tax", 100)} AS f_t,
         |  ${latticeSql("l_extendedprice", 100)} // 1000000 AS f_p,
         |  l_returnflag AS y, count(*)::BIGINT AS obs
         | FROM lineitem GROUP BY 1, 2, 3, 4, 5),
         |${entCtes.mkString(",\n")}
         |${rows.mkString("\nUNION ALL\n")}""".stripMargin
    })
}
