package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text
import Q._

/** Training-data curation operators, round 5: contrastive negative
  * sampling, sub-document containment detection, feature information
  * gain, and distribution-drift (Jensen-Shannon) terms. Net-new vs the
  * reference (nothing in `main_cuda.py` curates a corpus); these are
  * the curation steps an LLM data pipeline runs between dedup and
  * packing.
  *
  * Engine-portability: every hash is the shared polynomial hash
  * (`Text.polyHash` ↔ the list_reduce fold in SQL), every keep/flag
  * decision is integer-decided, and every emitted float is either an
  * exact division of BIGINTs or a single-ln term rounded at 6
  * (ORACLE_NOTES rules 1 and 3; the PSI/PMI-proven pattern).
  */
object CurationQ extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // Deterministic in-shard negative sampling for contrastive
    // training: order docs on a content-hash ring inside each shard,
    // take the next k ring neighbors as negatives. Hash-ring order is
    // content-deterministic (rerun/engine-stable, unlike rand()), and
    // ring neighbors under a content hash are an unbiased draw w.r.t.
    // semantics. Scale: the ring lives INSIDE each of the 8 shards —
    // the window and the self-join both hash-partition on the shard
    // key, so no global sort and no single-partition window at 100 TB;
    // shard count scales with the cluster, ring quality is unaffected.
    "t_negsample" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"),
        Text.polyHash(Text.normalizeAz(col("text"))).as("h"))
      val ring = d.withColumn("shard", pmod(col("h"), lit(8L)))
        .withColumn("rn", row_number().over(
          Window.partitionBy("shard").orderBy("h", "doc_id")).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("shard")))
      val wanted = ring
        .withColumn("k", explode(sequence(lit(1L), lit(3L))))
        .withColumn("trn", (col("rn") - 1 + col("k")) % col("n") + 1)
      val target = ring.select(col("shard").as("shard2"),
        col("rn").as("rn2"), col("doc_id").as("neg_id"))
      wanted.join(target,
          col("shard") === col("shard2") && col("trn") === col("rn2"))
        .filter(col("neg_id") =!= col("doc_id"))
        .select(col("doc_id"), col("k").as("neg_rank"), col("neg_id"))
    }),

    // Sub-document containment: one-sided |A∩B| / |A| over distinct
    // character 3-gram sets — catches A being mostly embedded in B
    // (quote farms, boilerplate wrappers), which symmetric Jaccard
    // misses when |B| >> |A|. Adjacent-id pairs isolate the kernel
    // (the production pairing is any capped blocking from the d_*
    // family). The is_subdup flag clears floats entirely:
    // 10·|A∩B| ≥ 8·|A| over BIGINTs.
    "d_contain" -> ((s, dir) => {
      // cached: d feeds both join sides; the normalize+ngram chain
      // would otherwise run twice over the corpus (the t_editdist /
      // t_chrf pattern — Catalyst has no cross-side reuse)
      val d = documents(s, dir).select(col("doc_id"),
        array_distinct(Text.charNgrams(Text.normalizeAz(col("text")), 3))
          .as("g")).cache()
      val a = d.select(col("doc_id").as("doc_a"), col("g").as("ga"))
      val b = d.select((col("doc_id") - 1).as("doc_a"),
        col("doc_id").as("doc_b"), col("g").as("gb"))
      val common = size(array_intersect(col("ga"), col("gb"))).cast("long")
      val na = size(col("ga")).cast("long")
      a.join(b, "doc_a").select(
        col("doc_a"), col("doc_b"),
        common.as("n_common"), na.as("n_a"),
        r6(when(na > 0, common.cast("double") / na).otherwise(0.0))
          .as("containment"),
        (common * 10 >= na * 8 && na > 0).as("is_subdup"))
    }),

    // Information gain of a categorical feature w.r.t. a binary label
    // (the feature-selection screen of a training pipeline), emitted
    // as per-value conditional-entropy terms: -(n_pos/N)·ln(n_pos/n_f)
    // and the negative-class twin. All counts are exact BIGINTs from
    // ONE groupBy over the scan; each term is a single ln of an exact
    // rational (PSI/PMI pattern). The label is integer-decided
    // (balance cents ≥ 0). IG itself = H(label) − Σ terms — left to
    // the caller, keeping every hashed value single-ln.
    "m20_infogain" -> ((s, dir) => {
      val cents = lattice(col("c_acctbal"), 100)
      val agg = customer(s, dir)
        .select(col("c_mktsegment").as("seg"), (cents >= 0).as("pos"))
        .groupBy("seg").agg(
          count(lit(1)).as("n_f"),
          sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"))
      val tot = agg.agg(sum("n_f").as("nn"))
      val nNeg = col("n_f") - col("n_pos")
      val term = (n: org.apache.spark.sql.Column) =>
        when(n > 0, r6(-(n.cast("double") / col("nn")) *
          log(n.cast("double") / col("n_f"))))
          .otherwise(lit(null).cast("double"))
      agg.crossJoin(broadcast(tot)).select(
        col("seg"), col("n_f"), col("n_pos"),
        term(col("n_pos")).as("h_pos_term"),
        term(nNeg).as("h_neg_term"))
    }),

    // Per-(source, lang) Jensen-Shannon divergence terms between each
    // source's language distribution p and the corpus distribution q —
    // the drift monitor a curation pipeline runs per ingest source.
    // Emitted as the two single-ln summands (0.5·p·ln(2p/(p+q)),
    // 0.5·q·ln(2q/(p+q))) per cell rather than the summed JSD: a
    // multi-term float sum is not engine-portable, its addends are.
    // All shuffles are on tiny aggregates; the grid is a broadcast
    // cross of two dimension aggregates.
    "a41_jsd" -> ((s, dir) => {
      val cells = documents(s, dir).groupBy("source", "lang")
        .agg(count(lit(1)).as("n_sl"))
      val srcTot = cells.groupBy("source").agg(sum("n_sl").as("n_s"))
      val langTot = cells.groupBy("lang").agg(sum("n_sl").as("n_l"))
      val tot = langTot.agg(sum("n_l").as("nn"))
      val grid = srcTot.crossJoin(broadcast(langTot))
        .crossJoin(broadcast(tot))
        .join(cells, Seq("source", "lang"), "left")
        .withColumn("n_sl", coalesce(col("n_sl"), lit(0L)))
      val p = col("n_sl").cast("double") / col("n_s")
      val q = col("n_l").cast("double") / col("nn")
      grid.select(col("source"), col("lang"), col("n_sl"),
        when(col("n_sl") > 0,
          r6(lit(0.5) * p * log(lit(2.0) * p / (p + q))))
          .otherwise(lit(null).cast("double")).as("jsd_term_p"),
        r6(lit(0.5) * q * log(lit(2.0) * q / (p + q))).as("jsd_term_q"))
    }),

    // Unigram-LM surprisal scoring — the classic "perplexity filter"
    // of pretraining curation, on a corpus-fit unigram model. The
    // per-token log-prob is integerized ONCE per vocab entry
    // (round(1e6·ln(n_t/T)) — micro-nat lattice; tick distance is
    // ~5e-4 while cross-engine ln noise is ~1e-9, audited in
    // CurationSpec), so the per-doc aggregation is an exact BIGINT sum
    // and the mean surprisal is one IEEE division. Scale: token
    // explode is map-side; the vocab join is a plain equi-join on the
    // token key (AQE broadcasts when the vocab fits; at web scale it
    // shuffles — both correct).
    "t_unigram_lp" -> ((s, dir) => {
      val toks = documents(s, dir).select(col("doc_id"),
          explode(Text.tokens(Text.normalizeAz(col("text")))).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n_t"))
      val tot = vocab.agg(sum("n_t").as("tt"))
      val lp6 = round(lit(1e6) *
        log(col("n_t").cast("double") / col("tt"))).cast("long")
      toks.join(vocab, "tok").crossJoin(broadcast(tot))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_tok"),
          sum(lp6).as("sum_lp6"))
        .select(col("doc_id"), col("n_tok"), col("sum_lp6"),
          (-col("sum_lp6").cast("double") /
            (col("n_tok") * lit(1000000L))).as("mean_nll"))
    }),

    // Rolling median absolute deviation — the robust volatility screen
    // (a27/a31-class drift ops are mean-based; MAD survives outliers).
    // Entirely on the integer cent lattice: lower-median of the sorted
    // 5-row window, then lower-median of absolute deviations — no
    // float ever exists, so the result is engine-exact. One exchange
    // on the user key serves both windows.
    "w44_rollmad" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          lattice(col("value"), 100).as("cents"))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(-4, 0)
      // The window list is materialized ONCE as a column before any
      // lambda touches it — interpreted HOFs have no CSE, so inlining
      // the window expression into the transform would re-plan it per
      // use (the t_quality lesson).
      def lowerMed(a: org.apache.spark.sql.Column) =
        element_at(a, floor((size(a) + 1) / 2).cast("int"))
      e.select(col("event_id"), col("user_id"),
          sort_array(collect_list(col("cents")).over(w)).as("l"))
        .select(col("event_id"), col("user_id"), col("l"),
          lowerMed(col("l")).as("med"))
        .select(col("event_id"), col("user_id"),
          col("med").as("roll_med5_cents"),
          lowerMed(sort_array(transform(col("l"), x => abs(x - col("med")))))
            .as("roll_mad5_cents"))
    }),

    // Brier-score reliability decomposition per calibration bin —
    // the probabilistic-forecast audit. Predictions live on the cent
    // lattice (p = cents/100), outcomes are 0/1, so every per-bin
    // statistic is an exact BIGINT sum and each emitted float is ONE
    // division of exact integers (no rounding even needed):
    //   brier_bin = Σ(c − 100·o)² / (10⁴·n)
    //   rel_term  = (Σc − 100·Σo)² / (10⁴·n)   [n·(p̄−ō)² scaled]
    "m21_brier" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir).select(
        ((col("event_id") * 37) % 101).as("p_cents"),
        when(col("event_id") % 3 === 0, 1L).otherwise(0L).as("o"))
      val b = e.select(expr("p_cents DIV 10").as("bin"),
        col("p_cents"), col("o"),
        (col("p_cents") - col("o") * 100).as("err"))
      b.groupBy("bin").agg(
          count(lit(1)).as("n"),
          sum("p_cents").as("sp"),
          sum("o").as("so"),
          sum(col("err") * col("err")).as("sse"))
        .select(col("bin"), col("n"), col("sp"), col("so"),
          (col("sse").cast("double") / (lit(10000L) * col("n")))
            .as("brier_bin"),
          (((col("sp") - col("so") * 100) * (col("sp") - col("so") * 100))
            .cast("double") / (lit(10000L) * col("n"))).as("rel_term"))
    }),

    // Corpus duplication profile: cluster sizes from exact-hash
    // grouping, summarized as integer ppm shares — how much of the
    // corpus the top duplicate clusters hold (the go/no-go number a
    // dedup run reports). All BIGINT; the only shuffles are the
    // content-hash groupBy and a 500-row sort.
    "d_dupstats" -> ((s, dir) => {
      val sizes = documents(s, dir)
        .groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("sz"))
      val total = sizes.agg(sum("sz").as("tot"), count(lit(1)).as("n_clusters"))
      val top = sizes.orderBy(col("sz").desc, col("h")).limit(10)
        .agg(sum("sz").as("top10"))
      total.crossJoin(top).select(
        col("tot"), col("n_clusters"),
        expr("top10 * 1000000 DIV tot").as("top10_ppm"),
        expr("(tot - n_clusters) * 1000000 DIV tot").as("dup_ppm"))
    }),

    // Zone-map construction + pruning decision — the data-skipping
    // layer a 100 TB table needs (min/max per zone lets a predicate
    // skip whole files without reading them; this is what parquet
    // row-group stats and clustering keys buy). Stats on the exact
    // cent lattice; the scan/skip decision is pure integer interval
    // logic. One map-side-combinable groupBy.
    "o16_zonemap" -> ((s, dir) => {
      val cents = lattice(col("l_extendedprice"), 100)
      val lo = lit(10000000L); val hi = lit(40000000L) // 100k..400k dollars-cents
      lineitem(s, dir)
        .select(expr("l_orderkey DIV 1000").as("zone"), cents.as("c"))
        .groupBy("zone").agg(count(lit(1)).as("n"),
          min("c").as("min_c"), max("c").as("max_c"))
        .select(col("zone"), col("n"), col("min_c"), col("max_c"),
          (!(col("max_c") < lo || col("min_c") > hi)).as("would_scan"))
    }),

    // Embedding centroid drift between two corpus halves, per label —
    // the "did my embedding space move" monitor between ingest
    // snapshots. Components are lifted to the integer milli lattice,
    // so per-(label, dim) half-sums are exact BIGINTs; the cosine
    // between half-centroids comes out of three BIGINT dot-sums with
    // an IEEE tail (counts cancel in cosine, so no division until the
    // end). Shuffles: one (label, dim) groupBy, one label groupBy.
    "v_centroid_drift" -> ((s, dir) => {
      val comps = embeddings(s, dir)
        .select(col("label"), (col("vec_id") % 2 === 0).as("ha"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("label"), col("ha"), col("dim"),
          lattice(col("x").cast("double"), 1000).as("q"))
      val byDim = comps.groupBy("label", "dim").agg(
        sum(when(col("ha"), col("q")).otherwise(0L)).as("sa"),
        sum(when(!col("ha"), col("q")).otherwise(0L)).as("sb"))
      byDim.groupBy("label").agg(
          sum(col("sa") * col("sb")).as("sab"),
          sum(col("sa") * col("sa")).as("saa"),
          sum(col("sb") * col("sb")).as("sbb"))
        .select(col("label"), col("sab"), col("saa"), col("sbb"),
          when(col("saa") > 0 && col("sbb") > 0,
            col("sab").cast("double") /
              (sqrt(col("saa").cast("double")) * sqrt(col("sbb").cast("double"))))
            .as("cos_drift"))
    }),

    // Herfindahl–Hirschman concentration of the corpus per language —
    // "is one source dominating my ingest mix". HHI = Σ share² =
    // (Σ n_i²) / N², so both sums stay exact BIGINTs and ONE division
    // produces the double. Two tiny aggregates, no float sums.
    "a43_hhi" -> ((s, dir) => {
      val cells = documents(s, dir).groupBy("lang", "source")
        .agg(count(lit(1)).as("n"))
      cells.groupBy("lang").agg(
          sum(col("n") * col("n")).as("ss"),
          sum(col("n")).as("tot"),
          count(lit(1)).as("n_sources"))
        .select(col("lang"), col("n_sources"), col("tot"),
          (col("ss").cast("double") / (col("tot") * col("tot")))
            .as("hhi"))
    }),

    // NDCG@10 per query group on an integer discount lattice: the
    // position discounts 1/log2(i+1) are integerized ONCE as
    // round(1e6/log2(i+1)) constants, so DCG and ideal-DCG are exact
    // BIGINT dot products over graded relevance and the final NDCG is
    // one division. Relevance is a deterministic function of ids
    // (synthetic judgments); ranking = the model-score order. The
    // eval op every retrieval/curation pipeline needs, with zero
    // float-sum drift by construction.
    "m22_ndcg" -> ((s, dir) => {
      val w6: Seq[Long] = (1 to 10).map(i =>
        math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))
      val wArr = array(w6.map(lit): _*)
      val e = graft.io.Tables.eventsUs(s, dir).select(
        (col("event_id") % 50).as("qid"),
        col("event_id"),
        ((col("event_id") * 31) % 97).as("score"),
        ((col("event_id") * 17) % 4).as("rel"))
      val byScore = Window.partitionBy("qid")
        .orderBy(col("score").desc, col("event_id"))
      val byRel = Window.partitionBy("qid")
        .orderBy(col("rel").desc, col("event_id"))
      val ranked = e
        .withColumn("r_model", row_number().over(byScore))
        .withColumn("r_ideal", row_number().over(byRel))
      val dcg = sum(when(col("r_model") <= 10,
        col("rel") * element_at(wArr, col("r_model"))).otherwise(0L))
      val idcg = sum(when(col("r_ideal") <= 10,
        col("rel") * element_at(wArr, col("r_ideal"))).otherwise(0L))
      ranked.groupBy("qid").agg(dcg.as("dcg6"), idcg.as("idcg6"))
        .select(col("qid"), col("dcg6"), col("idcg6"),
          when(col("idcg6") > 0,
            col("dcg6").cast("double") / col("idcg6"))
            .as("ndcg10"))
    }),

    // Leave-one-out group aggregate — the per-ROW twin of out-of-fold
    // target encoding (m10): each row sees its group's mean computed
    // WITHOUT itself, (S − x)/(n − 1) over exact integer sums. One
    // window exchange on the group key, no self-join.
    "m23_loo" -> ((s, dir) => {
      val cents = lattice(col("value"), 100)
      val wg = Window.partitionBy("user_id", "event_type")
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          cents.as("c"))
      e.select(col("event_id"), col("user_id"), col("event_type"),
        count(lit(1)).over(wg).as("n_g"),
        when(count(lit(1)).over(wg) > 1,
          (sum(col("c")).over(wg) - col("c")).cast("double") /
            (count(lit(1)).over(wg) - 1))
          .otherwise(lit(null).cast("double")).as("loo_mean_cents"))
    }),

    // Running maximum WITH the id that achieved it (argmax-to-date) —
    // the "best checkpoint so far" scan. Value and id are packed into
    // one BIGINT (cents·2²⁴ + event_id, both bounded) so a plain
    // running max is simultaneously tie-safe argmax: on equal cents
    // the larger event_id (latest) wins, decided in integers
    // (ORACLE_NOTES packed-argmin corollary, flipped to max).
    "w48_runmax_id" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          lattice(col("value"), 100).as("cents"))
      // offset keeps the pack positive for any cents >= -10^6; the id
      // field is 24 bits (ids here are < 10^5; widen the shift before
      // ids reach 16.7M)
      e.withColumn("__p",
          max((col("cents") + lit(1000000L)) * lit(16777216L) +
            col("event_id")).over(w))
        .select(col("event_id"), col("user_id"),
          (expr("__p DIV 16777216") - 1000000L).as("runmax_cents"),
          pmod(col("__p"), lit(16777216L)).as("argmax_event_id"))
    }),

    // Epoch-weighted dataset mixing (the Pile/Dolma recipe): each
    // source gets an integer epoch multiplier and its docs are
    // replicated once per epoch with an epoch index — downstream
    // shuffling (t_shard) then interleaves. explode(sequence(1, w))
    // is map-side only; the weights ride a broadcast join. Integer
    // end to end.
    "t_epoch_mix" -> ((s, dir) => {
      // the mixing config: a tiny broadcast weights table (epochs 1-4
      // per source, deterministic so the oracle carries the same VALUES)
      val wdf = s.createDataFrame(
        (0 until 20).map(i => (s"src$i", (i % 4 + 1).toLong)))
        .toDF("source", "epochs")
      documents(s, dir).select(col("doc_id"), col("source"))
        .join(broadcast(wdf), Seq("source"), "inner")
        .withColumn("epoch", explode(sequence(lit(1L), col("epochs"))))
        .select(col("doc_id"), col("source"), col("epoch"))
    }),

    // Maximum-inner-product top-k (MIPS — the retrieval scoring that
    // cosine ANN can't serve when magnitude matters, e.g. popularity-
    // weighted item embeddings). Components ride the integer milli
    // lattice, so every query·candidate dot is an exact BIGINT and
    // top-k needs no float comparison anywhere. Query vectors are a
    // 5-row broadcast; candidates stream map-side; one window top-k.
    "v_mips_topk" -> ((s, dir) => {
      val comps = embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("vec_id"), col("dim"),
          lattice(col("x").cast("double"), 1000).as("q"))
      val queries = comps.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("dim"), col("q").as("qq"))
      val dots = comps.filter(col("vec_id") >= 5)
        .join(broadcast(queries), "dim")
        .groupBy("qid", "vec_id")
        .agg(sum(col("q") * col("qq")).as("dot6"))
      val wk = Window.partitionBy("qid")
        .orderBy(col("dot6").desc, col("vec_id"))
      dots.withColumn("rk", row_number().over(wk).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("vec_id"), col("dot6"))
    }),

    // Wald–Wolfowitz runs test per series — "is this metric stream
    // random or regime-switching" (drift triage beyond mean/variance).
    // Above/below the per-user MEDIAN cent value (exact type-1 lower
    // median via the a29 cumulative-weight rule would also do; here
    // the tie-free >= split on the exact integer median of distinct
    // ordering). Counts n1/n2/runs are exact; the z-statistic is a
    // chain of IEEE ops over exact integers, mirrored token-for-token.
    "a45_runs" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          lattice(col("value"), 100).as("c"))
      val wMed = Window.partitionBy("user_id")
      val wSeq = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      // Rank-based type-1 lower median (row_number + conditional max
      // over the same partition, staged so no window nests inside
      // another) — no collect_list, O(1) aggregate state per key;
      // the per-user sort is the window operator's spillable sort,
      // so the split survives unbounded key sizes.
      val marked = e
        .withColumn("__n", count(lit(1)).over(wMed))
        .withColumn("__rnc", row_number().over(wMed.orderBy("c")))
        .withColumn("__med", max(when(
          col("__rnc") === floor((col("__n") + 1) / 2).cast("int"),
          col("c"))).over(wMed))
        .withColumn("above", (col("c") > col("__med")).cast("long"))
        .drop("__n", "__rnc", "__med")
      val runs = marked
        .withColumn("brk",
          when(lag(col("above"), 1).over(wSeq).isNull ||
            lag(col("above"), 1).over(wSeq) =!= col("above"), 1L)
            .otherwise(0L))
      val g = runs.groupBy("user_id").agg(
        sum("above").as("n1"),
        (count(lit(1)) - sum("above")).as("n2"),
        sum("brk").as("runs"))
      val n = col("n1") + col("n2")
      val mu = lit(2.0) * col("n1") * col("n2") / n + lit(1.0)
      val sg = sqrt((lit(2.0) * col("n1") * col("n2") *
        (lit(2.0) * col("n1") * col("n2") - n)).cast("double") /
        (n * n * (n - 1)).cast("double"))
      g.select(col("user_id"), col("n1"), col("n2"), col("runs"),
        when(col("n1") > 0 && col("n2") > 0 && n > 1,
          (col("runs").cast("double") - mu) / sg)
          .otherwise(lit(null).cast("double")).as("z"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  private val Gram3Sql =
    """list_distinct(CASE WHEN length(t) >= 3
      | THEN list_transform(range(1, length(t) - 1), i -> substr(t, i::INT, 3))
      | ELSE [] END)""".stripMargin

  val oracle: Seq[(String, String)] = Seq(

    "t_negsample" ->
      s"""WITH d AS (SELECT doc_id, ${polyHashSql("t")} AS h
         |  FROM (SELECT doc_id, $NormSql AS t FROM documents)),
         |ring AS (SELECT doc_id, h, h % 8 AS shard,
         |  row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY h % 8) AS n
         | FROM d),
         |wanted AS (SELECT r.doc_id, r.shard, u.k::BIGINT AS k,
         |  (r.rn - 1 + u.k) % r.n + 1 AS trn
         | FROM ring r, (SELECT unnest([1, 2, 3]) AS k) u)
         |SELECT w.doc_id, w.k AS neg_rank, t.doc_id AS neg_id
         |FROM wanted w JOIN ring t ON t.shard = w.shard AND t.rn = w.trn
         |WHERE t.doc_id != w.doc_id""".stripMargin,

    "d_contain" ->
      s"""WITH gs AS (SELECT doc_id, $Gram3Sql AS g
         |  FROM (SELECT doc_id, $NormSql AS t FROM documents))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | len(list_intersect(a.g, b.g))::BIGINT AS n_common,
         | len(a.g)::BIGINT AS n_a,
         | round(CASE WHEN len(a.g) > 0
         |   THEN len(list_intersect(a.g, b.g))::DOUBLE / len(a.g)::BIGINT
         |   ELSE 0.0 END, 6) AS containment,
         | (len(list_intersect(a.g, b.g))::BIGINT * 10 >= len(a.g)::BIGINT * 8
         |   AND len(a.g) > 0) AS is_subdup
         |FROM gs a JOIN gs b ON b.doc_id = a.doc_id + 1""".stripMargin,

    "m20_infogain" ->
      s"""WITH agg AS (SELECT c_mktsegment AS seg,
        |  count(*) AS n_f,
        |  sum(CASE WHEN ${latticeSql("c_acctbal", 100)} >= 0
        |      THEN 1 ELSE 0 END)::BIGINT AS n_pos
        | FROM customer GROUP BY 1),
        |tot AS (SELECT sum(n_f)::BIGINT AS nn FROM agg)
        |SELECT seg, n_f, n_pos,
        | CASE WHEN n_pos > 0 THEN
        |   round(-(n_pos::DOUBLE / nn) * ln(n_pos::DOUBLE / n_f), 6)
        | END AS h_pos_term,
        | CASE WHEN n_f - n_pos > 0 THEN
        |   round(-((n_f - n_pos)::DOUBLE / nn) * ln((n_f - n_pos)::DOUBLE / n_f), 6)
        | END AS h_neg_term
        |FROM agg, tot""".stripMargin,

    "a41_jsd" ->
      """WITH cells AS (SELECT source, lang, count(*) AS n_sl
        | FROM documents GROUP BY 1, 2),
        |src AS (SELECT source, sum(n_sl)::BIGINT AS n_s FROM cells GROUP BY 1),
        |lng AS (SELECT lang, sum(n_sl)::BIGINT AS n_l FROM cells GROUP BY 1),
        |tot AS (SELECT sum(n_l)::BIGINT AS nn FROM lng),
        |grid AS (SELECT s.source, l.lang, s.n_s, l.n_l, t.nn,
        |  coalesce(c.n_sl, 0)::BIGINT AS n_sl
        | FROM src s CROSS JOIN lng l CROSS JOIN tot t
        | LEFT JOIN cells c ON c.source = s.source AND c.lang = l.lang)
        |SELECT source, lang, n_sl,
        | CASE WHEN n_sl > 0 THEN
        |  round(0.5 * (n_sl::DOUBLE / n_s)
        |    * ln(2.0 * (n_sl::DOUBLE / n_s)
        |        / ((n_sl::DOUBLE / n_s) + (n_l::DOUBLE / nn))), 6)
        | END AS jsd_term_p,
        | round(0.5 * (n_l::DOUBLE / nn)
        |   * ln(2.0 * (n_l::DOUBLE / nn)
        |       / ((n_sl::DOUBLE / n_s) + (n_l::DOUBLE / nn))), 6) AS jsd_term_q
        |FROM grid""".stripMargin,

    "t_unigram_lp" ->
      s"""WITH toks AS (SELECT doc_id,
         |  unnest(list_filter(string_split(t, ' '), w -> length(w) > 0)) AS tok
         | FROM (SELECT doc_id, $NormSql AS t FROM documents)),
         |vocab AS (SELECT tok, count(*) AS n_t FROM toks GROUP BY 1),
         |tot AS (SELECT sum(n_t)::BIGINT AS tt FROM vocab)
         |SELECT doc_id, count(*) AS n_tok,
         | sum(CAST(round(1000000.0 * ln(n_t::DOUBLE / tt)) AS BIGINT))::BIGINT
         |   AS sum_lp6,
         | -(sum(CAST(round(1000000.0 * ln(n_t::DOUBLE / tt)) AS BIGINT))::BIGINT::DOUBLE)
         |   / (count(*) * 1000000) AS mean_nll
         |FROM toks JOIN vocab USING (tok), tot
         |GROUP BY doc_id""".stripMargin,

    "w44_rollmad" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  ${latticeSql("value", 100)} AS cents FROM events),
        |t1 AS (SELECT event_id, user_id,
        |  list_sort(list(cents) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS l
        | FROM e),
        |t2 AS (SELECT event_id, user_id, l,
        |  l[(len(l) + 1) // 2] AS med FROM t1),
        |t3 AS (SELECT event_id, user_id, med,
        |  list_sort(list_transform(l, x -> abs(x - med))) AS d FROM t2)
        |SELECT event_id, user_id, med AS roll_med5_cents,
        | d[(len(d) + 1) // 2] AS roll_mad5_cents
        |FROM t3""".stripMargin,

    "m21_brier" ->
      """WITH e AS (SELECT (event_id * 37) % 101 AS p_cents,
        |  CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END::BIGINT AS o
        | FROM events),
        |b AS (SELECT p_cents // 10 AS bin, p_cents, o,
        |  p_cents - 100 * o AS err FROM e)
        |SELECT bin, count(*) AS n,
        | sum(p_cents)::BIGINT AS sp, sum(o)::BIGINT AS so,
        | sum(err * err)::BIGINT::DOUBLE / (10000 * count(*)) AS brier_bin,
        | ((sum(p_cents)::BIGINT - 100 * sum(o)::BIGINT)
        |   * (sum(p_cents)::BIGINT - 100 * sum(o)::BIGINT))::DOUBLE
        |   / (10000 * count(*)) AS rel_term
        |FROM b GROUP BY bin""".stripMargin,

    "d_dupstats" ->
      """WITH sizes AS (SELECT md5(text) AS h, count(*) AS sz
        | FROM documents GROUP BY 1),
        |total AS (SELECT sum(sz)::BIGINT AS tot,
        |  count(*)::BIGINT AS n_clusters FROM sizes),
        |top AS (SELECT sum(sz)::BIGINT AS top10
        | FROM (SELECT sz FROM sizes ORDER BY sz DESC, h LIMIT 10))
        |SELECT tot, n_clusters,
        | top10 * 1000000 // tot AS top10_ppm,
        | (tot - n_clusters) * 1000000 // tot AS dup_ppm
        |FROM total, top""".stripMargin,

    "o16_zonemap" ->
      s"""SELECT l_orderkey // 1000 AS zone, count(*) AS n,
        | min(${latticeSql("l_extendedprice", 100)}) AS min_c,
        | max(${latticeSql("l_extendedprice", 100)}) AS max_c,
        | NOT (max(${latticeSql("l_extendedprice", 100)}) < 10000000
        |   OR min(${latticeSql("l_extendedprice", 100)}) > 40000000)
        |   AS would_scan
        |FROM lineitem GROUP BY 1""".stripMargin,

    "v_centroid_drift" ->
      s"""WITH L AS (SELECT vec_id, label,
        |  unnest(list_transform(range(1, len(embedding) + 1),
        |    i -> {'d': i - 1, 'x': embedding[i]})) AS s FROM embeddings),
        |p AS (SELECT label, vec_id % 2 = 0 AS ha, s.d::BIGINT AS dim,
        |  ${latticeSql("s.x::DOUBLE", 1000)} AS q FROM L),
        |g AS (SELECT label, dim,
        |  sum(CASE WHEN ha THEN q ELSE 0 END)::BIGINT AS sa,
        |  sum(CASE WHEN NOT ha THEN q ELSE 0 END)::BIGINT AS sb
        | FROM p GROUP BY label, dim),
        |f AS (SELECT label, sum(sa * sb)::BIGINT AS sab,
        |  sum(sa * sa)::BIGINT AS saa, sum(sb * sb)::BIGINT AS sbb
        | FROM g GROUP BY label)
        |SELECT label, sab, saa, sbb,
        | CASE WHEN saa > 0 AND sbb > 0
        |   THEN sab::DOUBLE / (sqrt(saa::DOUBLE) * sqrt(sbb::DOUBLE))
        | END AS cos_drift
        |FROM f""".stripMargin,

    "a43_hhi" ->
      """WITH cells AS (SELECT lang, source, count(*) AS n
        | FROM documents GROUP BY 1, 2)
        |SELECT lang, count(*)::BIGINT AS n_sources, sum(n)::BIGINT AS tot,
        | sum(n * n)::BIGINT::DOUBLE / (sum(n)::BIGINT * sum(n)::BIGINT) AS hhi
        |FROM cells GROUP BY lang""".stripMargin,

    "m22_ndcg" -> {
      // the SAME integerized discounts the Spark side uses, emitted
      // into the SQL literally so both engines share identical longs
      val w6 = (1 to 10).map(i =>
        math.round(1e6 / (math.log(i + 1.0) / math.log(2.0))))
      val lst = w6.mkString("[", ", ", "]")
      s"""WITH e AS (SELECT event_id % 50 AS qid, event_id,
         |  (event_id * 31) % 97 AS score, (event_id * 17) % 4 AS rel
         | FROM events),
         |r AS (SELECT *,
         |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, event_id) AS rm,
         |  row_number() OVER (PARTITION BY qid ORDER BY rel DESC, event_id) AS ri
         | FROM e),
         |g AS (SELECT qid,
         |  sum(CASE WHEN rm <= 10 THEN rel * ($lst)[rm] ELSE 0 END)::BIGINT AS dcg6,
         |  sum(CASE WHEN ri <= 10 THEN rel * ($lst)[ri] ELSE 0 END)::BIGINT AS idcg6
         | FROM r GROUP BY qid)
         |SELECT qid, dcg6, idcg6,
         | CASE WHEN idcg6 > 0 THEN dcg6::DOUBLE / idcg6 END AS ndcg10
         |FROM g""".stripMargin
    },

    "m23_loo" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type,
        |  ${latticeSql("value", 100)} AS c FROM events)
        |SELECT event_id, user_id, event_type,
        | count(*) OVER (PARTITION BY user_id, event_type) AS n_g,
        | CASE WHEN count(*) OVER (PARTITION BY user_id, event_type) > 1 THEN
        |  (sum(c) OVER (PARTITION BY user_id, event_type)::BIGINT - c)::DOUBLE
        |    / (count(*) OVER (PARTITION BY user_id, event_type) - 1)
        | END AS loo_mean_cents
        |FROM e""".stripMargin,

    "w48_runmax_id" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  ${latticeSql("value", 100)} AS cents FROM events),
        |p AS (SELECT event_id, user_id,
        |  max((cents + 1000000) * 16777216 + event_id) OVER (
        |    PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mp
        | FROM e)
        |SELECT event_id, user_id,
        | mp // 16777216 - 1000000 AS runmax_cents,
        | mp % 16777216 AS argmax_event_id
        |FROM p""".stripMargin,

    "t_epoch_mix" -> {
      val vals = (0 until 20).map(i => s"('src$i', ${i % 4 + 1})")
        .mkString(", ")
      s"""WITH w(source, epochs) AS (VALUES $vals)
         |SELECT doc_id, source,
         | unnest(range(1, epochs + 1))::BIGINT AS epoch
         |FROM documents JOIN w USING (source)""".stripMargin
    },

    "v_mips_topk" ->
      s"""WITH L AS (SELECT vec_id,
        |  unnest(list_transform(range(1, len(embedding) + 1),
        |    i -> {'d': i - 1, 'x': embedding[i]})) AS s FROM embeddings),
        |p AS (SELECT vec_id, s.d::BIGINT AS dim,
        |  ${latticeSql("s.x::DOUBLE", 1000)} AS q FROM L),
        |dots AS (SELECT qv.vec_id AS qid, cv.vec_id AS vec_id,
        |  sum(cv.q * qv.q)::BIGINT AS dot6
        | FROM p cv JOIN p qv ON qv.dim = cv.dim
        | WHERE qv.vec_id < 5 AND cv.vec_id >= 5
        | GROUP BY 1, 2),
        |r AS (SELECT qid, vec_id, dot6,
        |  row_number() OVER (PARTITION BY qid ORDER BY dot6 DESC, vec_id)
        |    AS rk
        | FROM dots)
        |SELECT qid, rk::BIGINT AS rk, vec_id, dot6
        |FROM r WHERE rk <= 5""".stripMargin,

    "a45_runs" ->
      s"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |m AS (SELECT *, (list_sort(list(c) OVER (PARTITION BY user_id)))
        |  [(count(*) OVER (PARTITION BY user_id) + 1) // 2] AS med FROM e),
        |k AS (SELECT *, (CASE WHEN c > med THEN 1 ELSE 0 END)::BIGINT
        |  AS above FROM m),
        |r AS (SELECT *, (CASE WHEN
        |    lag(above) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      IS NULL
        |    OR lag(above) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      != above THEN 1 ELSE 0 END)::BIGINT AS brk
        |  FROM k),
        |g AS (SELECT user_id, sum(above)::BIGINT AS n1,
        |  (count(*) - sum(above))::BIGINT AS n2, sum(brk)::BIGINT AS runs
        | FROM r GROUP BY user_id)
        |SELECT user_id, n1, n2, runs,
        | CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1 THEN
        |  (runs::DOUBLE - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
        |  / sqrt((2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2)))
        |     / CAST((n1 + n2) * (n1 + n2) * ((n1 + n2) - 1) AS DOUBLE))
        | END AS z
        |FROM g""".stripMargin)
}
