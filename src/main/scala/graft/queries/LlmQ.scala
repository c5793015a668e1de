package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{Text, Vectors}
import graft.functions.Text.P
import graft.operators.{Dedup, Multimodal, Sampling, Similarity}
import Q._

/** Registered queries for the LLM-training-data operators over
  * `documents` / `embeddings`: dedup (exact, MinHash+LSH, SimHash,
  * n-gram Jaccard), text analysis (language-ID markers, quality
  * scoring, token counts, fingerprinting), similarity search
  * (brute-force + IVF ANN) and the multimodal decode plumbing.
  *
  * All the text math is the engine-portable polynomial hash so DuckDB
  * reproduces signatures bit-for-bit; every float is rounded on both
  * sides.
  */
object LlmQ extends QueryModule {

  private val EnStop = Seq("the", "a", "of", "and", "to", "in", "is")
  private val TechWords = Seq("spark", "table", "query", "join", "row", "scan")

  val queries: Seq[(String, QueryFn)] = Seq(
    "t_tokens" -> ((s, dir) => {
      val norm = Text.normalizeAz(col("text"))
      documents(s, dir).select(
        col("doc_id"),
        Text.tokenCount(norm).cast("long").as("n_tokens"),
        length(norm).cast("long").as("n_chars_norm"))
    }),

    // Unicode normalization (accent stripping): "café" and "cafe" must
    // collide before any hash-based dedup. The synthetic corpus is
    // ASCII, so accents are PLANTED deterministically (translate
    // aeounc → áéöüñç) and then stripped by the native StripAccents
    // expression (NFD + drop-combining-marks — the same utf8proc
    // recipe as DuckDB's strip_accents, so outputs hash-compare).
    // String-only pipeline: zero float-drift surface; pure map-side
    // work, inherits the scan partitioning at any scale. round_trip
    // proves strip ∘ plant = identity on the ASCII corpus.
    "t_normalize" -> ((s, dir) => {
      val accented = translate(col("text"), "aeounc", "áéöüñç")
      documents(s, dir).select(
        col("doc_id"),
        graft.functions.StripAccents.strip(accented).as("normalized"),
        (graft.functions.StripAccents.strip(accented) === col("text"))
          .as("round_trip"))
    }),

    // Domain-mix profiling: every crawled-corpus pipeline weights and
    // caps documents per source domain. URLs are synthesized
    // deterministically from the source column, the host is extracted
    // with Spark's native parse_url, and the per-domain profile
    // (doc count, total chars, languages) is one map-side-combined
    // aggregate — the 100 TB shape is a single shuffle on ~domains
    // keys. Strings + BIGINTs only.
    "t_domains" -> ((s, dir) => {
      val url = concat(lit("https://"), col("source"),
        lit(".example.com/docs/"), col("doc_id").cast("string"),
        lit("?lang="), col("lang"))
      documents(s, dir)
        .withColumn("host", parse_url(url, lit("HOST")))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          count_distinct(col("lang")).as("n_langs"))
    }),

    // RAG-style chunking: overlapping token windows (32 tokens,
    // stride 24) per document. Pure map-side work — tokenize +
    // sequence + explode + slice never shuffle, so chunking a 100 TB
    // corpus is embarrassingly parallel and the chunk table inherits
    // the scan partitioning. Chunk starts use an EXPLICIT step:
    // Spark's sequence(1, n) with n < 1 counts DOWN by default,
    // which would fabricate chunks for empty documents.
    "t_chunk" -> ((s, dir) => {
      val W = 32
      val S = 24
      val toks = documents(s, dir).select(col("doc_id"),
        Text.tokens(Text.normalizeAz(col("text"))).as("toks"))
      toks
        .select(col("doc_id"), col("toks"),
          explode(Text.chunkStarts(col("toks"), S)).as("start"))
        .select(col("doc_id"),
          ((col("start") - 1) / S).cast("long").as("chunk_id"),
          size(slice(col("toks"), col("start"), lit(W))).cast("long")
            .as("n_tokens"),
          array_join(slice(col("toks"), col("start"), lit(W)), " ")
            .as("chunk_text"))
    }),

    // Bigram LM rarity scoring: build corpus bigram counts, then score
    // each document by the fraction of its bigrams that are corpus-rare
    // — the "statistical-outlier text" filter of a training-data
    // quality pipeline. Rarity is RELATIVE to the corpus (count below
    // 3/4 of the mean bigram count), decided by an exact cross-
    // multiplied integer comparison — no float threshold, no magic
    // constant that breaks when the corpus grows 1000×. At scale: one
    // map-side-combined groupBy builds the LM, a 1-row (total,
    // distinct) aggregate broadcasts, one hash join on the bigram key
    // scores — no driver state.
    // BLEU-style modified bigram precision between adjacent docs
    // (candidate i vs reference i+1) — the generation-eval primitive:
    // per-gram counts CLIPPED by the reference's count, summed, over
    // the candidate total. Exact integers + one division; pairs with
    // no reference doc are dropped (not scored 0).
    "t_bleu" -> ((s, dir) => {
      val toks = Text.tokens(Text.normalizeAz(col("text")))
      val m = greatest(size(col("toks")) - 1, lit(0))
      val bigrams = zip_with(
        slice(col("toks"), lit(1), m), slice(col("toks"), lit(2), m),
        (a, b) => concat(a, lit("_"), b))
      val bg = documents(s, dir).select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"), explode(bigrams).as("bigram"))
        .groupBy("doc_id", "bigram").agg(count(lit(1)).as("cnt"))
        .cache() // candidate AND shifted-reference sides of the join
      val cand = bg.select(col("doc_id").as("doc_a"), col("bigram"),
        col("cnt").as("c_cnt"))
      val ref = bg.select((col("doc_id") - 1).as("doc_a"), col("bigram"),
        col("cnt").as("r_cnt"))
      val tot = cand.groupBy("doc_a").agg(sum("c_cnt").as("n_cand"))
      val clip = cand.join(ref, Seq("doc_a", "bigram"))
        .groupBy("doc_a")
        .agg(sum(least(col("c_cnt"), col("r_cnt"))).as("clipped"))
      tot.join(ref.select("doc_a").distinct(), Seq("doc_a"), "left_semi")
        .join(clip, Seq("doc_a"), "left")
        .select(col("doc_a"), (col("doc_a") + 1).as("doc_b"), col("n_cand"),
          coalesce(col("clipped"), lit(0L)).as("clipped"),
          (coalesce(col("clipped"), lit(0L)).cast("double") /
            col("n_cand").cast("double")).as("p2"))
    }),

    "t_bigram_rare" -> ((s, dir) => {
      val toks = Text.tokens(Text.normalizeAz(col("text")))
      val m = greatest(size(col("toks")) - 1, lit(0))
      val bigrams = zip_with(
        slice(col("toks"), lit(1), m), slice(col("toks"), lit(2), m),
        (a, b) => concat(a, lit("_"), b))
      val docBigrams = documents(s, dir)
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"), explode(bigrams).as("bigram"))
        // feeds BOTH the LM build and the scoring join — without this
        // the tokenize+explode runs twice (t_tfidf precedent: Catalyst
        // does not dedupe aggregation subtrees across join sides)
        .cache()
      val lm = docBigrams.groupBy("bigram")
        .agg(count(lit(1)).as("corpus_count"))
        .cache() // feeds the 1-row total AND the scoring join
      val tot = lm.agg(sum("corpus_count").as("total"),
        count(lit(1)).as("n_distinct"))
      val isRare =
        col("corpus_count") * col("n_distinct") * 4 < col("total") * 3
      docBigrams.join(lm, "bigram").crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_bigrams"),
          sum(when(isRare, 1L).otherwise(0L)).as("n_rare"))
        .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
          r6(col("n_rare").cast("double") / col("n_bigrams"))
            .as("rare_ratio"))
    }),

    // Winnowing fingerprint selection — see Dedup.winnowFingerprints.
    "t_winnow" -> ((s, dir) =>
      Dedup.winnowFingerprints(documents(s, dir), "doc_id", "text")),

    // Winnow-based near-dup candidate pairs (winnowing's actual
    // purpose in MOSS): docs sharing >= 2 selected fingerprints, with
    // the LSH-style bucket-size cap guarding the per-fingerprint pair
    // join. Chains t_winnow into the dedup family.
    "d_winnow" -> ((s, dir) =>
      Dedup.winnowCandidates(
        Dedup.winnowFingerprints(documents(s, dir), "doc_id", "text"),
        "doc_id")),

    "t_langid" -> ((s, dir) => {
      val toks = Text.tokens(Text.normalizeAz(col("text")))
      val en = Text.wordSetRatio(toks, EnStop)
      val tech = Text.wordSetRatio(toks, TechWords)
      documents(s, dir).select(
        col("doc_id"),
        r6(en).as("en_ratio"),
        r6(tech).as("tech_ratio"),
        when(en >= tech, "en").otherwise("tech").as("lang_guess"))
    }),

    "t_quality" -> ((s, dir) => {
      // The normalize + tokenize expressions are materialized ONCE as
      // columns: inlining them into every derived metric re-ran the
      // regexp + split HOF ~6x per row (measured 10x slower than the
      // sibling text queries at sf0.1).
      val base = documents(s, dir).select(col("doc_id"), col("text"),
        Text.normalizeAz(col("text")).as("norm"))
      val withToks = base.select(col("doc_id"), col("text"), col("norm"),
        Text.tokens(col("norm")).as("toks"))
      // the stop ratio is itself a lambda-bearing subtree used twice
      // (stop_ratio + the quality composite) — materialize it too
      val withStop = withToks.select(col("doc_id"), col("text"),
        col("norm"), col("toks"),
        Text.wordSetRatio(col("toks"), EnStop).as("stop"))
      val nToks = size(col("toks")).cast("double")
      val nonAz = (length(col("text")) - length(col("norm"))).cast("double") /
        length(col("text"))
      withStop.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        nToks.cast("long").as("n_tokens"),
        r6(length(regexp_replace(col("norm"), " ", "")).cast("double") /
          nToks).as("avg_tok_len"),
        r6(nonAz).as("non_az_ratio"),
        r6(col("stop")).as("stop_ratio"),
        r6(least(lit(1.0), nToks / 50) * (lit(1.0) - nonAz) *
          (lit(0.5) + col("stop"))).as("quality"))
    }),

    // Edit-distance near-dup verification: Levenshtein over bounded
    // prefixes of adjacent-id doc pairs — the high-precision (but
    // O(len²) per pair) verifier a pipeline applies AFTER cheap
    // blocking, never all-pairs; the prefix cap bounds per-pair cost.
    // Integer output, portable (both engines implement classic
    // Levenshtein).
    "t_editdist" -> ((s, dir) => {
      // cached: d feeds both join sides; the normalize regexp would
      // otherwise run twice over the corpus (no cross-side reuse)
      val d = documents(s, dir).select(col("doc_id"),
        substring(Text.normalizeAz(col("text")), 1, 60).as("prefix"))
        .cache()
      val a = d.select(col("doc_id").as("doc_a"), col("prefix").as("pa"))
      val b = d.select((col("doc_id") - 1).as("doc_a"),
        col("doc_id").as("doc_b"), col("prefix").as("pb"))
      a.join(b, "doc_a")
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"))
    }),

    "t_fingerprint" -> ((s, dir) => {
      documents(s, dir).select(
        col("doc_id"),
        Text.polyHash(Text.normalizeAz(col("text"))).as("fingerprint"))
    }),

    // Repetition detection (the Gopher-rule family): fraction of word
    // bigram occurrences that are repeats — high values flag boilerplate
    // and degenerate generations. Pure higher-order-function math, one
    // scan, no shuffle.
    "t_repetition" -> ((s, dir) => {
      // zip_with over shifted slices, NOT element_at per index: an
      // indexed lambda re-evaluates the whole token-builder expression
      // per bigram (interpreted HOFs, no CSE) — O(len^2) per doc.
      // coalesce: NULL text means zero bigrams, not size(null) = -1.
      val toks = Text.tokens(Text.normalizeAz(coalesce(col("text"), lit(""))))
      val nb = greatest(size(toks) - 1, lit(0))
      val bigrams = zip_with(slice(toks, lit(1), nb), slice(toks, lit(2), nb),
        (a, b) => concat_ws("_", a, b))
      // n_distinct (and with it bigrams) is inlined into dup_ratio by
      // projection collapse — keep the expression referenced once and
      // derive the ratio from the two counts.
      documents(s, dir)
        .select(col("doc_id"),
          nb.cast("long").as("n_bigrams"),
          size(array_distinct(bigrams)).cast("long").as("n_distinct"))
        .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
          r6(when(col("n_bigrams") > 0,
            (col("n_bigrams") - col("n_distinct")).cast("double") /
              col("n_bigrams").cast("double")).otherwise(lit(0.0)))
            .as("dup_ratio"))
    }),

    // PII-style redaction: emails and long digit runs masked with
    // placeholder tokens; emits match counts + redacted length so the
    // masking is verifiable. regexp_replace is codegen'd — the 100 TB
    // shape is one map-side pass.
    "t_redact" -> ((s, dir) => {
      val lowered = lower(col("text"))
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+"
      val longnum = "[0-9]{6,}"
      val redacted = regexp_replace(
        regexp_replace(lowered, email, "<EMAIL>"), longnum, "<NUM>")
      documents(s, dir).select(
        col("doc_id"),
        size(regexp_extract_all(lowered, lit(email), lit(0))).cast("long")
          .as("n_emails"),
        size(regexp_extract_all(lowered, lit(longnum), lit(0))).cast("long")
          .as("n_longnums"),
        length(redacted).cast("long").as("redacted_len"))
    }),

    // Chunk ASSEMBLY (the emit step on top of t_pack's layout): each
    // output row is one 256-token training chunk with its assembled
    // token stream, digested to a portable fingerprint for the hash
    // gate.
    "t_pack_emit" -> ((s, dir) => {
      val d = documents(s, dir).withColumn("toks",
        Text.tokens(Text.normalizeAz(col("text"))))
      Sampling.chunkAssemble(d, Seq(col("lang")), Seq(col("doc_id")),
          col("toks"), chunkTokens = 256)
        .select(col("lang"), col("chunk_id"), col("n_docs"), col("n_tokens"),
          Text.polyHash(concat_ws(" ", col("chunk_tokens"))).as("content_fp"))
    }),

    // Deterministic train/val/test split keyed on the CONTENT
    // fingerprint (not doc_id): the assignment survives re-sharding,
    // re-ordering and id reassignment — the property an LLM data
    // pipeline needs so a doc never migrates between train and eval.
    "t_split" -> ((s, dir) => {
      val fp = Text.polyHash(Text.normalizeAz(col("text")))
      val (bucket, split) = Sampling.hashSplit(fp)
      documents(s, dir).select(col("doc_id"),
        bucket.as("bucket"), split.as("split"))
    }),

    // Class-balanced oversampling: every language is replicated up to
    // EXACTLY the majority class's count — n_copies = target DIV size
    // plus one for the first (target MOD size) docs in id order, so
    // per-class totals match to the row. All integer; the explode is
    // map-side (null-lang docs drop on the equi-join, both engines).
    "t_upsample" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("lang"))
      val sizes = d.groupBy("lang").agg(count(lit(1)).as("sz"))
      val target = sizes.agg(max("sz").as("target"))
      val ranked = d.withColumn("rk",
        row_number().over(Window.partitionBy("lang").orderBy("doc_id"))
          .cast("long") - 1)
      ranked.join(broadcast(sizes), "lang").crossJoin(broadcast(target))
        .withColumn("n_copies", expr("target DIV sz") +
          when(col("rk") < expr("target % sz"), 1L).otherwise(0L))
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(1L), col("n_copies"))).as("copy_id"))
    }),

    // Temporal split with embargo: train on the first 70% of the time
    // RANGE, embargo the next 5% (drop — the leakage buffer any
    // forward-looking label needs), test on the rest. Boundaries are
    // integer micros from one tiny min/max aggregate broadcast back —
    // scale-safe where an exact global-quantile boundary would need a
    // full sort. Complements the content-hash split (t_split) and
    // stratified sample (t_stratified).
    "t_time_split" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("event_id"), col("ts_us"))
      val b = e.agg(min("ts_us").as("tmin"), max("ts_us").as("tmax"))
      e.crossJoin(broadcast(b))
        .withColumn("t1", expr("tmin + (tmax - tmin) * 7 DIV 10"))
        .withColumn("t2", expr("tmin + (tmax - tmin) * 3 DIV 4"))
        .select(col("event_id"),
          when(col("ts_us") <= col("t1"), "train")
            .when(col("ts_us") <= col("t2"), "embargo")
            .otherwise("test").as("split"))
    }),

    // Deterministic global training shuffle: every doc gets a shard
    // (fp mod 16) and a pseudo-random in-shard position — the
    // "randomize example order" step of a pretraining run as ONE hash
    // exchange + per-shard sort (Sampling.shardShuffle), stable under
    // reruns/re-sharding because it's a pure function of content.
    "t_shard" -> ((s, dir) => {
      val fp = Text.polyHash(Text.normalizeAz(col("text")))
      Sampling.shardShuffle(documents(s, dir).withColumn("fp", fp),
          col("fp"), col("doc_id"), nShards = 16)
        .select(col("doc_id"), col("shard"), col("pos"))
    }),

    // Deterministic per-language sample: ceil(n/5) docs per lang,
    // ranked by fingerprint — integer-exact keep rule, no rand().
    "t_stratified" -> ((s, dir) => {
      val d = documents(s, dir).withColumn("fp",
        Text.polyHash(Text.normalizeAz(col("text"))))
      Sampling.stratifiedSample(d, Seq(col("lang")),
          Seq(col("fp"), col("doc_id")), num = 1, den = 5)
        .select(col("doc_id"), col("lang"), col("fp"))
    }),

    // Context-window packing (concat-then-chunk at 256 tokens per
    // chunk, sharded by lang).
    "t_pack" -> ((s, dir) => {
      val d = documents(s, dir).withColumn("n_tokens",
        Text.tokenCount(Text.normalizeAz(col("text"))).cast("long"))
      Sampling.chunkPack(d, Seq(col("lang")), Seq(col("doc_id")),
          col("n_tokens"), chunkTokens = 256)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("cum_before"), col("chunk_first"), col("chunk_last"),
          col("offset_in_chunk"))
    }),

    "d_exact" -> ((s, dir) =>
      Dedup.exact(documents(s, dir), "doc_id", "text")),

    "d_minhash" -> ((s, dir) => {
      // Scale path: explode + codegen min-aggs (signatureTable), then
      // a left join restores empty-gram docs with the sentinel.
      val d = documents(s, dir)
      val sig = Dedup.signatureTable(d, "doc_id", "text")
      d.select(col("doc_id"))
        .join(sig.withColumnRenamed("doc", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id") +:
          (0 until Dedup.NumHashes).map(k =>
            coalesce(col(s"m$k"), lit(graft.functions.Text.P)).as(s"m$k")): _*)
    }),

    "d_lsh" -> ((s, dir) =>
      Dedup.lshCandidates(documents(s, dir), "doc_id", "text", bandRows = 6)),

    "d_neardup" -> ((s, dir) =>
      Dedup.nearDuplicates(documents(s, dir), "doc_id", "text",
          threshold = 0.6, bandRows = 6)
        .select(col("doc_a"), col("doc_b"), r6(col("jaccard")).as("jaccard"),
          col("n_cand"))),

    "d_jaccard" -> ((s, dir) => {
      // Exact n-gram Jaccard over adjacent doc pairs (id, id+1) — the
      // collision-free verify kernel in isolation.
      val d = documents(s, dir)
      val a = d.select(col("doc_id").as("doc_a"), col("text").as("ta"))
      val b = d.select((col("doc_id") - 1).as("doc_a"), col("doc_id").as("doc_b"),
        col("text").as("tb"))
      a.join(b, "doc_a")
        .select(col("doc_a"), col("doc_b"),
          r6(Dedup.ngramJaccard(col("ta"), col("tb"))).as("jaccard"))
    }),

    "d_simhash" -> ((s, dir) => {
      documents(s, dir).select(
        col("doc_id"),
        Dedup.simHash32(col("text")).as("simhash"))
    }),

    "mm_framesample" -> ((s, dir) => {
      // Frame sampling over the decoded metadata (payload never read).
      val payload = documents(s, dir).select(
        col("doc_id"),
        Text.normalizeAz(col("text")).cast("binary").as("payload"))
      Multimodal.decodeFeatures(payload, "payload")
        .select(col("doc_id"), col("n_frames").cast("long").as("n_frames"),
          array_join(Multimodal.sampleFrameIndices(col("n_frames"), 8), ",")
            .as("sampled"))
    }),

    "mm_resize" -> ((s, dir) => {
      // Aspect-preserving resize planning into a 224-box over decoded
      // dimensions (payload untouched).
      val payload = documents(s, dir).select(
        col("doc_id"),
        Text.normalizeAz(col("text")).cast("binary").as("payload"))
      val decoded = Multimodal.decodeFeatures(payload, "payload")
      val (ow, oh) = Multimodal.fitDimensions(col("width"), col("height"), 224)
      decoded.select(col("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        ow.as("out_w"), oh.as("out_h"))
    }),

    "mm_decode" -> ((s, dir) => {
      // REAL image decode round-trip (javax.imageio, no stub): encode
      // a deterministic PNG per doc — pixel channels are a known
      // function of (doc_id, x, y) — then decode it back and emit
      // exact per-channel pixel sums, which the oracle computes
      // ANALYTICALLY (PNG is lossless, so only a genuine pixel decode
      // reproduces them). Both encode and decode run map-side; payload
      // bytes never shuffle.
      import s.implicits._
      val withPng = documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.syntheticPng(id,
            (8 + id % 16).toInt, (8 + (id * 3) % 16).toInt))
        }).toDF("doc_id", "payload")
      Multimodal.decodeImageStats(withPng, "payload")
        .select(col("doc_id"),
          col("img_w").cast("long").as("img_w"),
          col("img_h").cast("long").as("img_h"),
          col("channels").cast("long").as("channels"),
          col("sum_r"), col("sum_g"), col("sum_b"),
          (col("sum_r").cast("double") / (col("img_w") * col("img_h")))
            .as("mean_r"))
    }),

    // Perceptual image hash (dHash) over genuinely decoded pixels —
    // the image-dedup fingerprint. Same analytic-oracle scheme as
    // mm_decode: pixels are a known function of (doc_id, x, y), so the
    // oracle reproduces the box-downsample + gradient-sign bits in
    // pure SQL and only a real decode can match.
    "mm_phash" -> ((s, dir) => {
      import s.implicits._
      val withPng = documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.syntheticPng(id,
            (8 + id % 16).toInt, (8 + (id * 3) % 16).toInt))
        }).toDF("doc_id", "payload")
      Multimodal.decodeImageDHash(withPng, "payload")
        .select(col("doc_id"), col("dhash_hi"), col("dhash_lo"))
    }),

    // Image near-dup pairs from the perceptual hash: LSH-style 16-bit
    // band buckets (capped — an over-popular band value is
    // non-discriminating, the d_lsh/d_winnow rule) generate
    // candidates; exact Hamming distance over the full 64 bits
    // verifies. No all-pairs product anywhere.
    "d_imgdup" -> ((s, dir) => {
      import s.implicits._
      val withPng = documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.syntheticPng(id,
            (8 + id % 16).toInt, (8 + (id * 3) % 16).toInt))
        }).toDF("doc_id", "payload")
      val ph = Multimodal.decodeImageDHash(withPng, "payload")
        .select(col("doc_id"), col("dhash_hi"), col("dhash_lo")).cache()
      val bands = ph.select(col("doc_id"), explode(array(
          col("dhash_lo").bitwiseAND(lit(65535L)),
          lit(65536L) + shiftright(col("dhash_lo"), 16).bitwiseAND(lit(65535L)),
          lit(131072L) + col("dhash_hi").bitwiseAND(lit(65535L)),
          lit(196608L) + shiftright(col("dhash_hi"), 16).bitwiseAND(lit(65535L))))
          .as("bk"))
      val kept = bands.join(
        bands.groupBy("bk").agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") <= 50).select("bk"), "bk")
      val cand = kept.select(col("bk"), col("doc_id").as("doc_a"))
        .join(kept.select(col("bk"), col("doc_id").as("doc_b")), "bk")
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val a = ph.select(col("doc_id").as("doc_a"),
        col("dhash_hi").as("ha"), col("dhash_lo").as("la"))
      val b = ph.select(col("doc_id").as("doc_b"),
        col("dhash_hi").as("hb"), col("dhash_lo").as("lb"))
      cand.join(a, "doc_a").join(b, "doc_b")
        .withColumn("hamming",
          bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long") +
            bit_count(col("la").bitwiseXOR(col("lb"))).cast("long"))
        .filter(col("hamming") <= 6)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    }),

    "mm_audio" -> ((s, dir) => {
      // REAL audio decode round-trip: encode deterministic s16le PCM
      // per doc — sample i is a known function of (doc_id, i) — then
      // decode it back and emit exact amplitude statistics the oracle
      // computes ANALYTICALLY (raw PCM is lossless, so only a genuine
      // sample decode reproduces them). Encode and decode both run
      // map-side; payload bytes never shuffle.
      import s.implicits._
      val withPcm = documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.syntheticPcm(id, (500 + (id % 97) * 10).toInt))
        }).toDF("doc_id", "payload")
      Multimodal.decodePcmStats(withPcm, "payload")
        .select(col("doc_id"),
          col("n_samples").cast("long").as("n_samples"),
          col("sum_abs"),
          col("peak").cast("long").as("peak"),
          col("n_clipped"),
          (col("sum_abs").cast("double") / col("n_samples")).as("mean_abs"))
    }),

    "v_vecmath" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val a = e.select(col("vec_id"), col("embedding").as("ea"))
      val b = e.select((col("vec_id") - 1).as("vec_id"), col("embedding").as("eb"))
      a.join(b, "vec_id")
        .select(
          col("vec_id"),
          r6(Vectors.dot(col("ea"), col("eb"))).as("dot"),
          r6(Vectors.norm(col("ea"))).as("norm_a"),
          r6(Vectors.cosine(col("ea"), col("eb"))).as("cos"),
          r6(Vectors.l2Dist(col("ea"), col("eb"))).as("l2"))
    }),

    "s_brute_topk" -> ((s, dir) => {
      Similarity.bruteForceTopK(embeddings(s, dir), "vec_id", "embedding",
          queryVec(s, dir), 10)
        .select(col("vec_id"), r6(col("cos")).as("cos"))
    }),

    // JL random projection 64 -> 8 dims; raw doubles are emitted
    // unrounded because the unrolled pinned-association arithmetic is
    // bitwise-portable (see Similarity.randomProjection).
    "v_randproj" -> ((s, dir) =>
      Similarity.randomProjection(
        embeddings(s, dir).select(col("vec_id"), col("embedding")),
        "embedding", inDims = 64, outDims = 8)),

    // Sign-random-projection LSH for cosine ANN (Charikar hyperplane
    // hashing): 16 deterministic ±1 projections → sign bits → one
    // 16-bit signature; equal signatures are the candidate buckets
    // (capped, like every banded family here), exact cosine annotates
    // the pairs. Signs are comparisons of the bitwise-portable
    // unrolled projections (v_randproj), so bucket membership is
    // engine-exact. Complements the IVF path (s_ivf_topk) with the
    // LSH path a cosine dedup runs at corpus scale.
    "s_srp_lsh" -> ((s, dir) => {
      val e = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val proj = Similarity.randomProjection(e, "embedding", 64, 16)
      val sig = (0 until 16)
        .map(j => when(col(s"p$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
      // two 8-bit bands: a pair is a candidate when EITHER half of the
      // signature matches (multi-band LSH trades precision for recall)
      val sigs = proj.select(col("vec_id"), sig.as("sig"))
      val bands = sigs.select(col("vec_id"), explode(array(
          col("sig").bitwiseAND(lit(255L)),
          lit(65536L) + shiftright(col("sig"), 8).bitwiseAND(lit(255L))))
          .as("bk")).cache()
      val kept = bands.join(bands.groupBy("bk").agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= 100).select("bk"), "bk")
      val pairs = kept.select(col("bk"), col("vec_id").as("vec_a"))
        .join(kept.select(col("bk"), col("vec_id").as("vec_b")), "bk")
        .filter(col("vec_a") < col("vec_b"))
        .select("vec_a", "vec_b").distinct()
      val ea = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
      val eb = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
      pairs.join(ea, "vec_a").join(eb, "vec_b")
        .select(col("vec_a"), col("vec_b"),
          r6(Vectors.cosine(col("ea"), col("eb"))).as("cos"))
    }),

    // Per-dimension int8 quantization (long form: id, dim, code).
    "v_quantize" -> ((s, dir) =>
      Similarity.scalarQuantize(
        embeddings(s, dir).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding")),

    "d_embdup" -> ((s, dir) => {
      // Embedding-cosine near-dup, IVF-blocked (pairs within cluster).
      // Cluster count follows the IVF density rule K = max(8, √N)
      // (mirrored in the oracle): fixed K makes within-cluster pair
      // work Σ(N/K)² quadratic — caught for s_knn_join at the round-6
      // 10x step and for THIS family at the round-7 100x step
      // (d_embclusters: 2.16 decade exponent, 1103 s at sf10).
      val e = embeddings(s, dir)
      // memoized LOCAL codebook (Q.ivfCentroids): same rows as
      // filter(vec_id < ivfK), collected once per dir — repeated plan
      // builds stop re-scanning the source for the probe-collect
      val cents = Q.ivfCentroids(s, dir)
      Similarity.embeddingNearDup(e, "vec_id", "embedding", cents,
          "cid", "cemb", threshold = 0.35)
        .select(col("vec_a"), col("vec_b"), r6(col("cos")).as("cos"))
    }),

    // SEMANTIC dedup end-to-end: embedding near-dup pairs →
    // connected-components cluster resolution → every vector labeled
    // with its cluster representative + size. The d_components shape
    // over the embedding modality — one IVF-blocked pair-gen, then
    // the O(log n)-round contraction; the oracle closes the same
    // graph with a recursive CTE.
    "d_embclusters" -> ((s, dir) => {
      val e = embeddings(s, dir)
      // K = max(8, √N) density rule — see d_embdup; fixed K=8 was a
      // (N/8)² pair bomb, 2.16 decade exponent at the sf10 step
      val cents = Q.ivfCentroids(s, dir)
      val pairs = Similarity.embeddingNearDup(e, "vec_id", "embedding",
          cents, "cid", "cemb", threshold = 0.35)
        .select(col("vec_a").as("a"), col("vec_b").as("b"))
      val comp = graft.operators.Graph.connectedComponents(pairs)
      // cached: labeled feeds both the size aggregation and the final
      // join — without it the embeddings scan + component join run
      // twice (no cross-side subtree reuse)
      val labeled = e.select(col("vec_id").cast("long").as("node"))
        .join(comp, Seq("node"), "left")
        .select(col("node").as("vec_id"),
          coalesce(col("component"), col("node")).as("cluster_rep"))
        .cache()
      val sizes = labeled.groupBy("cluster_rep")
        .agg(count(lit(1)).as("cluster_size"))
      labeled.join(sizes, "cluster_rep")
        .select(col("vec_id"), col("cluster_rep"), col("cluster_size"))
    }),

    // Batch KNN join: every vector's top-3 neighbors within its IVF
    // cluster — the retrieval counterpart of the single-query s_ivf.
    // The cluster count follows the IVF sizing rule K = max(8, √N)
    // (computed from the table, mirrored in the oracle): fixed K
    // makes within-cluster pair work Σ(N/K)² grow QUADRATICALLY with
    // N (measured 10x wall at the 10x scale step); √N keeps the pair
    // join at N^1.5 — the standard IVF scaling.
    "s_knn_join" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val cents = Q.ivfCentroids(s, dir)
      Similarity.knnJoin(e, "vec_id", "embedding", cents, "cid", "cemb", 3)
    }),

    "t_bpe_tokens" -> ((s, dir) => {
      // BPE-ish token counting: word / number / single-punct pieces.
      val pieces = regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))
      documents(s, dir).select(
        col("doc_id"),
        size(pieces).cast("long").as("n_pieces"),
        size(filter(pieces, p => p.rlike("^[a-z]+$"))).cast("long")
          .as("n_word_pieces"))
    }),

    "s_ivf_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val cents = Q.ivfCentroids(s, dir, 8)
      Similarity.ivfTopK(e, "vec_id", "embedding", cents, "cid", "cemb",
          queryVec(s, dir), k = 10, nprobe = 2)
        .select(col("vec_id"), r6(col("cos")).as("cos"))
    }),

    // ANN quality gate: recall@10 of the IVF probe against the
    // brute-force ground truth for the same query — the number a real
    // vector-search deployment watches when tuning nprobe/centroids.
    // Pure integer output (hit count + recall in percent); the
    // underlying top-10 SETS are the two already-green queries'
    // (bitwise-portable pinned-association cosines), so the
    // intersection count inherits their stability.
    "s_ivf_recall" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val cents = Q.ivfCentroids(s, dir, 8)
      val q = queryVec(s, dir)
      val truth = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 10)
        .select("vec_id")
      val got = Similarity.ivfTopK(e, "vec_id", "embedding",
          cents, "cid", "cemb", q, k = 10, nprobe = 2)
        .select("vec_id")
      truth.join(got, "vec_id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(10L).as("k"), col("n_hits"),
          (col("n_hits") * 10L).as("recall_pct"))
    }),

    // IVF with LEARNED centroids — 3 chained EXACT Lloyd rounds on
    // the milli-lattice from deterministic seeds (vectors 0..7), the
    // multi-round generalization of m32_lloyd_step: every distance
    // is an exact BIGINT and each round's means are rounded back
    // onto the lattice with a portable shifted floor division, so
    // the whole fit (not just one step) is hash-checkable against
    // the generated DuckDB CTE chain (ExactLloyd.sql). The float
    // MLlib seam (k-means|| at scale) stays available as
    // ml.IvfCentroids, quality-asserted in ScalaTest.
    "s_kmeans_ivf" -> ((s, dir) => {
      // literal-codebook path (round 9): the fit's per-round state is
      // k·dims driver metadata, so assignment is one codegen'd scan —
      // bit-identical to the explode-join path (same integers, same
      // packed argmin), same generated-CTE oracle
      val qarr = embeddings(s, dir)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => lattice(x.cast("double"), 1000)).as("q"))
        .cache()
      val cents = graft.ml.ExactLloyd.centroidsLit(qarr, 8, iters = 3)
      qarr.select(graft.ml.ExactLloyd.argminLit(col("q"), cents)("cid")
          .as("centroid_id"))
        .groupBy("centroid_id")
        .agg(count(lit(1)).as("n_vecs"))
    }))

  /** The search query vector: embedding of vec_id=0 — a 1-row driver
    * lookup fetching the query PARAMETER (not data movement). */
  private def queryVec(s: org.apache.spark.sql.SparkSession, dir: String): Seq[Double] =
    embeddings(s, dir).filter(col("vec_id") === 0)
      .head().getAs[scala.collection.Seq[Float]]("embedding")
      .map(_.toDouble).toSeq

  // ---- oracle SQL ----------------------------------------------------

  private def inList(ws: Seq[String]) = ws.mkString("['", "', '", "']")
  /** Winnow fingerprint table as DuckDB CTEs (mirrors
    * Dedup.winnowFingerprints: packed-key rolling min, w=4, char
    * 5-grams); terminal CTE `fp` = (doc_id, pos, fingerprint). */
  private val WinnowCtes =
    s"""norm AS (SELECT doc_id, t
       |  FROM (SELECT doc_id, $NormSql AS t FROM documents)
       |  WHERE length(t) >= 5),
       |wg AS (SELECT doc_id, t,
       |  unnest(range(1, length(t) - 3)) AS pos FROM norm),
       |wh AS (SELECT doc_id, pos::BIGINT AS pos,
       |  list_reduce(list_transform(range(0, 5),
       |    j -> ascii(substr(t, (pos + j)::INT, 1))::BIGINT),
       |   (a, b) -> (a * 31 + b) % $P) AS h
       | FROM wg),
       |wk AS (SELECT doc_id, pos,
       |  h * 1048576 + (1048575 - pos) AS key FROM wh),
       |ws AS (SELECT doc_id, min(key) OVER (PARTITION BY doc_id
       |  ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
       | FROM wk),
       |fp AS (SELECT DISTINCT doc_id,
       | (1048575 - (sel % 1048576))::BIGINT AS pos,
       | (sel // 1048576)::BIGINT AS fingerprint
       |FROM ws)""".stripMargin

  /** MinHash slot k from a `grams` list column. */
  /** Analytic dHash oracle: reproduces decodeImageDHash's 9×8 box
    * downsample and cross-multiplied gradient-sign bits straight from
    * the synthetic pixel formula — only a genuine pixel decode can
    * match it. */
  private val PhashCtes =
    """d AS (SELECT doc_id, 8 + doc_id % 16 AS w, 8 + (doc_id * 3) % 16 AS h
      |  FROM documents),
      |px AS (SELECT doc_id,
      |  (doc_id + 7 * x + 13 * y) % 256 + (3 * doc_id + 5 * x + 11 * y) % 256
      |    + (5 * doc_id + 3 * x + 17 * y) % 256 AS gray,
      |  (x * 9) // w AS ci, (y * 8) // h AS rj
      |  FROM d, range(0, 24) AS rx(x), range(0, 24) AS ry(y)
      |  WHERE x < w AND y < h),
      |cells AS (SELECT doc_id, ci, rj, CAST(sum(gray) AS BIGINT) AS s,
      |  count(*)::BIGINT AS n FROM px GROUP BY doc_id, ci, rj),
      |grid AS (SELECT d.doc_id, i.i, j.j
      |  FROM d, range(0, 8) AS i(i), range(0, 8) AS j(j)),
      |bits AS (SELECT g.doc_id, g.i, g.j,
      |  CASE WHEN COALESCE(c2.s, 0) * COALESCE(c1.n, 0)
      |         > COALESCE(c1.s, 0) * COALESCE(c2.n, 0) THEN 1 ELSE 0 END AS bit
      |  FROM grid g
      |  LEFT JOIN cells c1 ON c1.doc_id = g.doc_id AND c1.ci = g.i AND c1.rj = g.j
      |  LEFT JOIN cells c2 ON c2.doc_id = g.doc_id AND c2.ci = g.i + 1 AND c2.rj = g.j),
      |ph AS (SELECT doc_id,
      |  CAST(sum(CASE WHEN j * 8 + i >= 32
      |    THEN bit * (1::BIGINT << (j * 8 + i - 32)) ELSE 0 END) AS BIGINT) AS dhash_hi,
      |  CAST(sum(CASE WHEN j * 8 + i < 32
      |    THEN bit * (1::BIGINT << (j * 8 + i)) ELSE 0 END) AS BIGINT) AS dhash_lo
      |  FROM bits GROUP BY doc_id)""".stripMargin

  private val seeds = Dedup.seeds
  private[queries] def slotSql(k: Int): String = {
    val (a, b) = seeds(k)
    s"coalesce(list_min(list_transform(grams, h -> ($a::BIGINT * h + $b) % $P)), $P)"
  }
  private val SigCte =
    s"""norm AS (SELECT doc_id, $NormSql AS t FROM documents),
       |g AS (SELECT doc_id, $GramsSql AS grams FROM norm),
       |sig AS (SELECT doc_id, ${(0 until 12).map(k => s"${slotSql(k)} AS m$k").mkString(", ")}
       | FROM g WHERE len(grams) > 0)""".stripMargin
  /** Bands CTE for bandRows=6 (2 bands) as used by d_lsh/d_neardup. */
  private val BandsCte =
    """bands AS (
      | SELECT doc_id, 0 AS band,
      |  m0::VARCHAR || '_' || m1::VARCHAR || '_' || m2::VARCHAR || '_' ||
      |  m3::VARCHAR || '_' || m4::VARCHAR || '_' || m5::VARCHAR AS bk FROM sig
      | UNION ALL
      | SELECT doc_id, 1 AS band,
      |  m6::VARCHAR || '_' || m7::VARCHAR || '_' || m8::VARCHAR || '_' ||
      |  m9::VARCHAR || '_' || m10::VARCHAR || '_' || m11::VARCHAR AS bk FROM sig),
      |small AS (SELECT band, bk FROM bands GROUP BY band, bk HAVING count(*) <= 1000),
      |kept AS (SELECT bands.* FROM bands JOIN small USING (band, bk)),
      |cands0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS nb
      | FROM kept a JOIN kept b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
      | GROUP BY a.doc_id, b.doc_id),
      |cands AS (SELECT doc_a, doc_b, n_cand FROM (
      | SELECT doc_a, doc_b, count(*) OVER (PARTITION BY doc_a) AS n_cand,
      |  row_number() OVER (PARTITION BY doc_a ORDER BY nb DESC, doc_b) AS rn
      | FROM cands0) WHERE rn <= 64)""".stripMargin
  /** Jaccard between gram STRING sets ga/gb (collision-free verify). */
  private val GramStrSql =
    s"""list_distinct(CASE WHEN length(t) >= 3
       | THEN list_transform(range(1, length(t) - 1), i -> substr(t, i::INT, 3))
       | ELSE [] END)""".stripMargin
  private val JaccardSql =
    """CASE WHEN len(ga) + len(gb) - len(list_intersect(ga, gb)) > 0
      | THEN len(list_intersect(ga, gb))::DOUBLE /
      |      (len(ga) + len(gb) - len(list_intersect(ga, gb)))
      | ELSE 0.0 END""".stripMargin

  /** DuckDB dot/cosine over list columns, mirroring Vectors.dot's
    * strict left-fold. */
  private[queries] def dotSql(a: String, b: String) =
    s"list_reduce(list_prepend(0.0, list_transform($a, (x, i) -> x::DOUBLE * $b[i]::DOUBLE)), (p, q) -> p + q)"
  private[queries] def cosSql(a: String, b: String) =
    s"""CASE WHEN sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}) > 0
       | THEN ${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))
       | ELSE 0.0 END""".stripMargin

  val oracle: Seq[(String, String)] = Seq(
    "s_knn_join" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cemb
         |  FROM embeddings WHERE vec_id < greatest(8,
         |    floor(sqrt((SELECT count(*) FROM embeddings)::DOUBLE))::BIGINT)),
         |asg AS (SELECT vec_id, embedding, cid FROM (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |   row_number() OVER (PARTITION BY e.vec_id
         |     ORDER BY ${cosSql("e.embedding", "c.cemb")} DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN cents c) WHERE rn = 1)
         |SELECT vec_id, nb_id, cos, rnk FROM (
         | SELECT a.vec_id, b.vec_id AS nb_id,
         |  round(${cosSql("a.embedding", "b.embedding")}, 6) AS cos,
         |  row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY round(${cosSql("a.embedding", "b.embedding")}, 6) DESC,
         |             b.vec_id) AS rnk
         | FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id)
         |WHERE rnk <= 3""".stripMargin,

    "d_embdup" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cemb
         |  FROM embeddings WHERE vec_id < greatest(8,
         |    floor(sqrt((SELECT count(*) FROM embeddings)::DOUBLE))::BIGINT)),
         |asg AS (SELECT vec_id, embedding, cid FROM (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |   row_number() OVER (PARTITION BY e.vec_id
         |     ORDER BY ${cosSql("e.embedding", "c.cemb")} DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
         |pairs AS (
         | SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${cosSql("a.embedding", "b.embedding")} AS cos
         | FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, round(cos, 6) AS cos
         |FROM pairs WHERE cos >= 0.35""".stripMargin,

    "d_embclusters" ->
      s"""WITH RECURSIVE cents AS (SELECT vec_id AS cid, embedding AS cemb
         |  FROM embeddings WHERE vec_id < greatest(8,
         |    floor(sqrt((SELECT count(*) FROM embeddings)::DOUBLE))::BIGINT)),
         |asg AS (SELECT vec_id, embedding, cid FROM (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |   row_number() OVER (PARTITION BY e.vec_id
         |     ORDER BY ${cosSql("e.embedding", "c.cemb")} DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
         |ver AS (
         | SELECT a.vec_id AS a, b.vec_id AS b
         | FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
         | WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35),
         |sym AS (SELECT a, b FROM ver UNION SELECT b, a FROM ver),
         |r AS (SELECT a, b FROM sym
         | UNION SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a AND s.b <> r.a),
         |comp AS (SELECT a AS node, least(a, min(b)) AS component FROM r GROUP BY a),
         |lab AS (SELECT e.vec_id, coalesce(c.component, e.vec_id) AS cluster_rep
         | FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node),
         |sz AS (SELECT cluster_rep, count(*)::BIGINT AS cluster_size
         | FROM lab GROUP BY cluster_rep)
         |SELECT vec_id, cluster_rep, cluster_size
         |FROM lab JOIN sz USING (cluster_rep)""".stripMargin,

    "t_bpe_tokens" ->
      """WITH p AS (SELECT doc_id,
        |  regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS pieces
        | FROM documents)
        |SELECT doc_id,
        | len(pieces) AS n_pieces,
        | len(list_filter(pieces, x -> regexp_matches(x, '^[a-z]+$'))) AS n_word_pieces
        |FROM p""".stripMargin,

    "t_tokens" ->
      s"""SELECT doc_id, len($ToksSql) AS n_tokens, length(t) AS n_chars_norm
         |FROM (SELECT doc_id, $NormSql AS t FROM documents)""".stripMargin,

    "t_normalize" ->
      """SELECT doc_id,
        | strip_accents(translate(text, 'aeounc', 'áéöüñç')) AS normalized,
        | strip_accents(translate(text, 'aeounc', 'áéöüñç')) = text
        |   AS round_trip
        |FROM documents""".stripMargin,

    "t_domains" ->
      """SELECT source || '.example.com' AS host,
        | count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | count(DISTINCT lang) AS n_langs
        |FROM documents GROUP BY source""".stripMargin,

    "t_chunk" ->
      s"""WITH tok AS (SELECT doc_id, $ToksSql AS toks
         |  FROM (SELECT doc_id, $NormSql AS t FROM documents)),
         |c AS (SELECT doc_id, toks,
         |  unnest(range(1, len(toks) + 1, 24)) AS start FROM tok)
         |SELECT doc_id,
         | CAST((start - 1) // 24 AS BIGINT) AS chunk_id,
         | CAST(len(toks[start : start + 31]) AS BIGINT) AS n_tokens,
         | array_to_string(toks[start : start + 31], ' ') AS chunk_text
         |FROM c""".stripMargin,

    "t_winnow" ->
      s"""WITH $WinnowCtes
         |SELECT doc_id, pos, fingerprint FROM fp""".stripMargin,

    "d_winnow" ->
      s"""WITH $WinnowCtes,
         |docfp AS (SELECT DISTINCT doc_id, fingerprint FROM fp),
         |small AS (SELECT fingerprint FROM
         |  (SELECT fingerprint, count(*) AS n FROM docfp GROUP BY fingerprint)
         | WHERE n <= 100),
         |kept AS (SELECT doc_id, fingerprint FROM docfp JOIN small USING (fingerprint))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | count(*)::BIGINT AS n_shared
         |FROM kept a JOIN kept b
         |  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id
         |HAVING count(*) >= 2""".stripMargin,

    "t_bleu" ->
      s"""WITH tok AS (SELECT doc_id, $ToksSql AS toks
         |  FROM (SELECT doc_id, $NormSql AS t FROM documents)),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |  i -> toks[i] || '_' || toks[i + 1])) AS bigram FROM tok),
         |c AS (SELECT doc_id, bigram, count(*)::BIGINT AS cnt
         |  FROM bg GROUP BY doc_id, bigram),
         |cand AS (SELECT doc_id AS doc_a, bigram, cnt AS c_cnt FROM c),
         |ref AS (SELECT doc_id - 1 AS doc_a, bigram, cnt AS r_cnt FROM c),
         |tot AS (SELECT doc_a, CAST(sum(c_cnt) AS BIGINT) AS n_cand
         |  FROM cand GROUP BY doc_a),
         |clip AS (SELECT doc_a,
         |  CAST(sum(least(c_cnt, r_cnt)) AS BIGINT) AS clipped
         |  FROM cand JOIN ref USING (doc_a, bigram) GROUP BY doc_a),
         |refd AS (SELECT DISTINCT doc_a FROM ref)
         |SELECT t.doc_a, t.doc_a + 1 AS doc_b, n_cand,
         | COALESCE(clipped, CAST(0 AS BIGINT)) AS clipped,
         | CAST(COALESCE(clipped, CAST(0 AS BIGINT)) AS DOUBLE)
         |   / CAST(n_cand AS DOUBLE) AS p2
         |FROM tot t JOIN refd USING (doc_a) LEFT JOIN clip USING (doc_a)""".stripMargin,

    "t_bigram_rare" ->
      s"""WITH tok AS (SELECT doc_id, $ToksSql AS toks
         |  FROM (SELECT doc_id, $NormSql AS t FROM documents)),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |  i -> toks[i] || '_' || toks[i + 1])) AS bigram FROM tok),
         |lm AS (SELECT bigram, count(*)::BIGINT AS corpus_count
         |  FROM bg GROUP BY bigram),
         |tot AS (SELECT sum(corpus_count)::BIGINT AS total,
         |  count(*)::BIGINT AS n_distinct FROM lm)
         |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         | sum(CASE WHEN corpus_count * n_distinct * 4 < total * 3
         |   THEN 1 ELSE 0 END)::BIGINT AS n_rare,
         | round(sum(CASE WHEN corpus_count * n_distinct * 4 < total * 3
         |   THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS rare_ratio
         |FROM bg JOIN lm USING (bigram) CROSS JOIN tot
         |GROUP BY doc_id""".stripMargin,

    "t_langid" ->
      s"""WITH tok AS (SELECT doc_id, $ToksSql AS toks
         |  FROM (SELECT doc_id, $NormSql AS t FROM documents)),
         |r AS (SELECT doc_id,
         |  CASE WHEN len(toks) > 0 THEN len(list_filter(toks, w -> list_contains(${inList(EnStop)}, w)))::DOUBLE / len(toks) ELSE 0.0 END AS en_ratio,
         |  CASE WHEN len(toks) > 0 THEN len(list_filter(toks, w -> list_contains(${inList(TechWords)}, w)))::DOUBLE / len(toks) ELSE 0.0 END AS tech_ratio
         | FROM tok)
         |SELECT doc_id, round(en_ratio, 6) AS en_ratio, round(tech_ratio, 6) AS tech_ratio,
         | CASE WHEN en_ratio >= tech_ratio THEN 'en' ELSE 'tech' END AS lang_guess
         |FROM r""".stripMargin,

    "t_quality" ->
      s"""WITH b AS (SELECT doc_id, text, $NormSql AS t FROM documents),
         |c AS (SELECT doc_id, length(text) AS n_chars,
         |  len($ToksSql) AS n_toks,
         |  length(replace(t, ' ', ''))::DOUBLE AS alpha,
         |  (length(text) - length(t))::DOUBLE / length(text) AS non_az,
         |  CASE WHEN len($ToksSql) > 0
         |   THEN len(list_filter($ToksSql, w -> list_contains(${inList(EnStop)}, w)))::DOUBLE / len($ToksSql)
         |   ELSE 0.0 END AS stop_ratio
         | FROM b)
         |SELECT doc_id, n_chars, CAST(n_toks AS BIGINT) AS n_tokens,
         | round(alpha / n_toks, 6) AS avg_tok_len,
         | round(non_az, 6) AS non_az_ratio,
         | round(stop_ratio, 6) AS stop_ratio,
         | round(least(1.0, n_toks / 50.0) * (1.0 - non_az) * (0.5 + stop_ratio), 6) AS quality
         |FROM c""".stripMargin,

    "t_fingerprint" ->
      s"""SELECT doc_id, ${polyHashSql("t")} AS fingerprint
         |FROM (SELECT doc_id, $NormSql AS t FROM documents)""".stripMargin,

    "t_editdist" ->
      s"""WITH d AS (SELECT doc_id, substr($NormSql, 1, 60) AS prefix
         |  FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | levenshtein(a.prefix, b.prefix)::BIGINT AS edit_dist
         |FROM d a JOIN d b ON b.doc_id = a.doc_id + 1""".stripMargin,

    "t_pack_emit" ->
      s"""WITH tok AS (SELECT doc_id, lang,
         |  list_filter(string_split($NormSql, ' '), w -> length(w) > 0) AS toks
         | FROM documents),
         |lay AS (SELECT doc_id, lang, toks, len(toks)::BIGINT AS n,
         |  coalesce(CAST(sum(len(toks)) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
         | FROM tok),
         |x AS (SELECT lang, cum_before, toks, n,
         |  unnest(range(cum_before // 256, (cum_before + n - 1) // 256 + 1)) AS chunk_id
         | FROM lay WHERE n > 0),
         |p AS (SELECT lang, chunk_id, cum_before,
         |  toks[(greatest(chunk_id * 256 - cum_before, 0) + 1):
         |       (greatest(chunk_id * 256 - cum_before, 0) +
         |        least(cum_before + n, (chunk_id + 1) * 256) -
         |        greatest(cum_before, chunk_id * 256))] AS piece
         | FROM x),
         |g AS (SELECT lang, chunk_id,
         |  count(*) AS n_docs,
         |  CAST(sum(len(piece)) AS BIGINT) AS n_tokens,
         |  array_to_string(flatten(list(piece ORDER BY cum_before)), ' ') AS t
         | FROM p GROUP BY lang, chunk_id)
         |SELECT lang, chunk_id, n_docs, n_tokens,
         | ${polyHashSql("t")} AS content_fp
         |FROM g""".stripMargin,

    "t_repetition" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks
         | FROM (SELECT doc_id, $NormSql AS t FROM documents)),
         |b AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 2
         |   THEN list_transform(range(1, len(toks)), i -> toks[i] || '_' || toks[i + 1])
         |   ELSE [] END AS bg
         | FROM t)
         |SELECT doc_id,
         | len(bg)::BIGINT AS n_bigrams,
         | len(list_distinct(bg))::BIGINT AS n_distinct,
         | round(CASE WHEN len(bg) > 0
         |  THEN (len(bg) - len(list_distinct(bg)))::DOUBLE / len(bg)
         |  ELSE 0.0 END, 6) AS dup_ratio
         |FROM b""".stripMargin,

    "t_redact" ->
      """WITH l AS (SELECT doc_id, lower(text) AS lt FROM documents)
        |SELECT doc_id,
        | len(regexp_extract_all(lt, '[a-z0-9._%+-]+@[a-z0-9.-]+'))::BIGINT AS n_emails,
        | len(regexp_extract_all(lt, '[0-9]{6,}'))::BIGINT AS n_longnums,
        | CAST(length(regexp_replace(regexp_replace(lt,
        |   '[a-z0-9._%+-]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
        |   '[0-9]{6,}', '<NUM>', 'g')) AS BIGINT) AS redacted_len
        |FROM l""".stripMargin,

    "t_split" ->
      s"""WITH f AS (SELECT doc_id, ${polyHashSql("t")} AS fp
         | FROM (SELECT doc_id, $NormSql AS t FROM documents))
         |SELECT doc_id, fp % 100 AS bucket,
         | CASE WHEN fp % 100 < 80 THEN 'train'
         |      WHEN fp % 100 < 90 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM f""".stripMargin,

    "t_upsample" ->
      """WITH d AS (SELECT doc_id, lang FROM documents),
        |sizes AS (SELECT lang, count(*)::BIGINT AS sz FROM d GROUP BY lang),
        |t AS (SELECT max(sz) AS target FROM sizes),
        |r AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY doc_id)::BIGINT - 1 AS rk
        | FROM d),
        |x AS (SELECT doc_id, r.lang,
        |  target // sz + CASE WHEN rk < target % sz THEN 1 ELSE 0 END AS n_copies
        | FROM r JOIN sizes ON r.lang = sizes.lang, t)
        |SELECT doc_id, lang, unnest(generate_series(1, n_copies)) AS copy_id
        |FROM x""".stripMargin,

    "t_time_split" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events),
        |b AS (SELECT min(ts_us) AS tmin, max(ts_us) AS tmax FROM e),
        |x AS (SELECT event_id, ts_us,
        |  tmin + (tmax - tmin) * 7 // 10 AS t1,
        |  tmin + (tmax - tmin) * 3 // 4 AS t2
        | FROM e, b)
        |SELECT event_id,
        | CASE WHEN ts_us <= t1 THEN 'train'
        |      WHEN ts_us <= t2 THEN 'embargo'
        |      ELSE 'test' END AS split
        |FROM x""".stripMargin,

    "t_shard" ->
      s"""WITH f AS (SELECT doc_id, ${polyHashSql("t")} AS fp
         | FROM (SELECT doc_id, $NormSql AS t FROM documents))
         |SELECT doc_id, fp % 16 AS shard,
         | row_number() OVER (PARTITION BY fp % 16 ORDER BY fp, doc_id) - 1 AS pos
         |FROM f""".stripMargin,

    "t_stratified" ->
      s"""WITH f AS (SELECT doc_id, lang, ${polyHashSql("t")} AS fp
         | FROM (SELECT doc_id, lang, $NormSql AS t FROM documents)),
         |r AS (SELECT doc_id, lang, fp,
         |  row_number() OVER (PARTITION BY lang ORDER BY fp, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY lang) AS n
         | FROM f)
         |SELECT doc_id, lang, fp FROM r WHERE (rn - 1) * 5 < n * 1""".stripMargin,

    "t_pack" ->
      s"""WITH tok AS (SELECT doc_id, lang,
         |  len(list_filter(string_split($NormSql, ' '), w -> length(w) > 0))::BIGINT AS n_tokens
         | FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |  coalesce(CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
         | FROM tok)
         |SELECT doc_id, lang, n_tokens, cum_before,
         | cum_before // 256 AS chunk_first,
         | CASE WHEN n_tokens > 0 THEN (cum_before + n_tokens - 1) // 256
         |      ELSE cum_before // 256 END AS chunk_last,
         | cum_before % 256 AS offset_in_chunk
         |FROM c""".stripMargin,

    "d_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_dups, min(doc_id) AS keep_id
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "d_minhash" ->
      s"""WITH norm AS (SELECT doc_id, $NormSql AS t FROM documents),
         |g AS (SELECT doc_id, $GramsSql AS grams FROM norm)
         |SELECT doc_id, ${(0 until 12).map(k => s"${slotSql(k)} AS m$k").mkString(", ")}
         |FROM g""".stripMargin,

    "d_lsh" ->
      s"""WITH $SigCte,
         |$BandsCte
         |SELECT doc_a, doc_b, n_cand FROM cands""".stripMargin,

    "d_neardup" ->
      s"""WITH $SigCte,
         |$BandsCte,
         |gs AS (SELECT doc_id, $GramsSql AS g
         | FROM (SELECT doc_id, $NormSql AS t FROM documents))
         |SELECT doc_a, doc_b, round(jac, 6) AS jaccard, n_cand
         |FROM (SELECT doc_a, doc_b, n_cand,
         |  CASE WHEN len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) > 0
         |   THEN len(list_intersect(a.g, b.g))::DOUBLE /
         |        (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
         |   ELSE 0.0 END AS jac
         | FROM cands JOIN gs a ON cands.doc_a = a.doc_id
         |            JOIN gs b ON cands.doc_b = b.doc_id)
         |WHERE jac >= 0.6""".stripMargin,

    "d_jaccard" ->
      s"""WITH gs AS (SELECT doc_id, $GramStrSql AS g
         |  FROM (SELECT doc_id, $NormSql AS t FROM documents))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | round(CASE WHEN len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) > 0
         |  THEN len(list_intersect(a.g, b.g))::DOUBLE /
         |       (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
         |  ELSE 0.0 END, 6) AS jaccard
         |FROM gs a JOIN gs b ON b.doc_id = a.doc_id + 1""".stripMargin,

    "d_simhash" ->
      s"""WITH tok AS (SELECT doc_id, list_distinct($ToksSql) AS toks
         |  FROM (SELECT doc_id, $NormSql AS t FROM documents)),
         |h AS (SELECT doc_id,
         |  list_transform(toks, s -> list_reduce(
         |    list_prepend(0::BIGINT, list_transform(range(1, length(s) + 1),
         |      j -> ascii(substr(s, j::INT, 1))::BIGINT)),
         |    (a, b) -> (a * 31 + b) % $P)) AS h1,
         |  list_transform(toks, s -> list_reduce(
         |    list_prepend(0::BIGINT, list_transform(range(1, length(s) + 1),
         |      j -> ascii(substr(s, j::INT, 1))::BIGINT)),
         |    (a, b) -> (a * 131 + b) % $P)) AS h2
         | FROM tok)
         |SELECT doc_id, ${(0 until 32).map { b =>
           val (src, bb) = if (b < 16) ("h1", b) else ("h2", b - 16)
           s"(CASE WHEN list_reduce(list_prepend(0::BIGINT, list_transform($src, x -> ((x >> $bb) % 2) * 2 - 1)), (a, c) -> a + c) > 0 THEN ${1L << b} ELSE 0 END)"
         }.mkString(" + ")} AS simhash
         |FROM h""".stripMargin,

    "mm_framesample" ->
      s"""WITH n AS (SELECT doc_id, $NormSql AS t FROM documents),
         |h AS (SELECT doc_id, 1 + ${polyHashSql("t")} % 240 AS n_frames FROM n)
         |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
         | array_to_string(list_filter(range(1, n_frames + 1),
         |   i -> (i - 1) % CAST(ceil(n_frames / 8.0) AS BIGINT) = 0), ',') AS sampled
         |FROM h""".stripMargin,

    "mm_resize" ->
      s"""WITH n AS (SELECT doc_id, $NormSql AS t FROM documents),
         |h AS (SELECT doc_id, ${polyHashSql("t")} AS hv FROM n),
         |d AS (SELECT doc_id, 64 + hv % 1920 AS width, 64 + (hv // 7) % 1080 AS height FROM h)
         |SELECT doc_id,
         | CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
         | CAST(floor(width * least(least(224.0 / width, 224.0 / height), 1.0)) AS BIGINT) AS out_w,
         | CAST(floor(height * least(least(224.0 / width, 224.0 / height), 1.0)) AS BIGINT) AS out_h
         |FROM d""".stripMargin,

    "mm_decode" ->
      s"""WITH d AS (SELECT doc_id, 8 + doc_id % 16 AS w,
         |  8 + (doc_id * 3) % 16 AS h FROM documents),
         |px AS (SELECT doc_id, w, h, x, y
         |  FROM d, range(0, 24) AS rx(x), range(0, 24) AS ry(y)
         |  WHERE x < w AND y < h),
         |agg AS (SELECT doc_id, w, h,
         |  CAST(sum((doc_id + 7 * x + 13 * y) % 256) AS BIGINT) AS sum_r,
         |  CAST(sum((3 * doc_id + 5 * x + 11 * y) % 256) AS BIGINT) AS sum_g,
         |  CAST(sum((5 * doc_id + 3 * x + 17 * y) % 256) AS BIGINT) AS sum_b
         | FROM px GROUP BY doc_id, w, h)
         |SELECT doc_id,
         | CAST(w AS BIGINT) AS img_w, CAST(h AS BIGINT) AS img_h,
         | CAST(3 AS BIGINT) AS channels,
         | sum_r, sum_g, sum_b,
         | CAST(sum_r AS DOUBLE) / (w * h) AS mean_r
         |FROM agg""".stripMargin,

    "mm_phash" -> s"""WITH $PhashCtes
         |SELECT doc_id, dhash_hi, dhash_lo FROM ph""".stripMargin,

    "d_imgdup" ->
      s"""WITH $PhashCtes,
         |bands AS (SELECT doc_id, band * 65536 + CASE band
         |    WHEN 0 THEN dhash_lo & 65535
         |    WHEN 1 THEN (dhash_lo >> 16) & 65535
         |    WHEN 2 THEN dhash_hi & 65535
         |    ELSE (dhash_hi >> 16) & 65535 END AS bk
         |  FROM ph, range(0, 4) AS t(band)),
         |kept AS (SELECT doc_id, bk FROM bands
         |  WHERE bk IN (SELECT bk FROM bands GROUP BY bk HAVING count(*) <= 50)),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM kept x JOIN kept y ON x.bk = y.bk AND x.doc_id < y.doc_id),
         |v AS (SELECT doc_a, doc_b,
         |  bit_count(xor(a.dhash_hi, b.dhash_hi))::BIGINT
         |    + bit_count(xor(a.dhash_lo, b.dhash_lo))::BIGINT AS hamming
         |  FROM cand JOIN ph a ON a.doc_id = doc_a JOIN ph b ON b.doc_id = doc_b)
         |SELECT doc_a, doc_b, hamming FROM v WHERE hamming <= 6""".stripMargin,

    "mm_audio" ->
      s"""WITH d AS (SELECT doc_id, 500 + (doc_id % 97) * 10 AS n FROM documents),
         |s AS (SELECT doc_id, n,
         |  abs(((doc_id * 31 + i * 37) % 4001) - 2000) AS a
         | FROM d, range(0, 1460) AS t(i) WHERE i < n),
         |agg AS (SELECT doc_id, n,
         |  CAST(sum(a) AS BIGINT) AS sum_abs,
         |  CAST(max(a) AS BIGINT) AS peak,
         |  CAST(sum(CASE WHEN a >= 1900 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
         | FROM s GROUP BY doc_id, n)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_samples, sum_abs, peak,
         | n_clipped, CAST(sum_abs AS DOUBLE) / n AS mean_abs
         |FROM agg""".stripMargin,

    "v_vecmath" ->
      s"""WITH j AS (SELECT a.vec_id, a.embedding AS ea, b.embedding AS eb
         |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1),
         |m AS (SELECT vec_id,
         |  list_reduce(list_prepend(0.0, list_transform(ea, (x, i) -> x::DOUBLE * eb[i]::DOUBLE)), (a, b) -> a + b) AS dot,
         |  sqrt(list_reduce(list_prepend(0.0, list_transform(ea, (x, i) -> x::DOUBLE * ea[i]::DOUBLE)), (a, b) -> a + b)) AS norm_a,
         |  sqrt(list_reduce(list_prepend(0.0, list_transform(eb, (x, i) -> x::DOUBLE * eb[i]::DOUBLE)), (a, b) -> a + b)) AS norm_b,
         |  sqrt(list_reduce(list_prepend(0.0, list_transform(ea, (x, i) -> (x::DOUBLE - eb[i]::DOUBLE) * (x::DOUBLE - eb[i]::DOUBLE))), (a, b) -> a + b)) AS l2
         | FROM j)
         |SELECT vec_id, round(dot, 6) AS dot, round(norm_a, 6) AS norm_a,
         | round(CASE WHEN norm_a * norm_b > 0 THEN dot / (norm_a * norm_b) ELSE 0.0 END, 6) AS cos,
         | round(l2, 6) AS l2
         |FROM m""".stripMargin,

    "v_randproj" -> {
      val scale = math.sqrt(8.0)
      val projs = (0 until 8).map { j =>
        val sum = (0 until 64).map { i =>
          s"(${Similarity.projSign(j, i, 64)}) * (embedding[${i + 1}]::DOUBLE)"
        }.mkString(" + ")
        s"(($sum) / $scale) AS p$j"
      }.mkString(",\n ")
      s"SELECT vec_id,\n $projs\nFROM embeddings"
    },

    "s_srp_lsh" -> {
      val scale = math.sqrt(16.0)
      val projs = (0 until 16).map { j =>
        val sum = (0 until 64).map { i =>
          s"(${Similarity.projSign(j, i, 64)}) * (embedding[${i + 1}]::DOUBLE)"
        }.mkString(" + ")
        s"(($sum) / $scale) AS p$j"
      }.mkString(",\n ")
      val sig = (0 until 16)
        .map(j => s"CASE WHEN p$j > 0 THEN ${1L << j} ELSE 0 END")
        .mkString(" + ")
      s"""WITH p AS (SELECT vec_id,
         | $projs
         |FROM embeddings),
         |sg AS (SELECT vec_id, CAST($sig AS BIGINT) AS sig FROM p),
         |bands AS (SELECT vec_id, CASE half
         |    WHEN 0 THEN sig & 255
         |    ELSE 65536 + ((sig >> 8) & 255) END AS bk
         |  FROM sg, range(0, 2) AS t(half)),
         |kept AS (SELECT vec_id, bk FROM bands WHERE bk IN
         |  (SELECT bk FROM bands GROUP BY bk HAVING count(*) <= 100)),
         |pr AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM kept a JOIN kept b ON a.bk = b.bk AND a.vec_id < b.vec_id),
         |j AS (SELECT vec_a, vec_b, ea.embedding AS ea, eb.embedding AS eb
         |  FROM pr JOIN embeddings ea ON ea.vec_id = vec_a
         |          JOIN embeddings eb ON eb.vec_id = vec_b),
         |m AS (SELECT vec_a, vec_b,
         |  list_reduce(list_prepend(0.0, list_transform(ea, (x, i) -> x::DOUBLE * eb[i]::DOUBLE)), (a, b) -> a + b) AS dot,
         |  sqrt(list_reduce(list_prepend(0.0, list_transform(ea, (x, i) -> x::DOUBLE * ea[i]::DOUBLE)), (a, b) -> a + b)) AS na,
         |  sqrt(list_reduce(list_prepend(0.0, list_transform(eb, (x, i) -> x::DOUBLE * eb[i]::DOUBLE)), (a, b) -> a + b)) AS nb
         | FROM j)
         |SELECT vec_a, vec_b,
         | round(CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0.0 END, 6) AS cos
         |FROM m""".stripMargin
    },

    "v_quantize" ->
      """WITH L AS (SELECT vec_id, unnest(list_transform(range(1, len(embedding) + 1),
        |  i -> {'d': i - 1, 'x': embedding[i]})) AS s FROM embeddings),
        |p AS (SELECT vec_id, s.d::BIGINT AS dim, s.x AS x FROM L),
        |st AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM p GROUP BY dim)
        |SELECT vec_id, p.dim,
        | CASE WHEN mx > mn
        |  THEN least(255::BIGINT, floor(((x::DOUBLE - mn::DOUBLE) /
        |        (mx::DOUBLE - mn::DOUBLE)) * 255.0)::BIGINT)
        |  ELSE 0::BIGINT END AS code
        |FROM p JOIN st USING (dim)""".stripMargin,

    "s_brute_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id,
        |  list_reduce(list_prepend(0.0, list_transform(embedding, (x, i) -> x::DOUBLE * qe[i]::DOUBLE)), (a, b) -> a + b) AS dot,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, (x, i) -> x::DOUBLE * embedding[i]::DOUBLE)), (a, b) -> a + b)) AS na,
        |  sqrt(list_reduce(list_prepend(0.0, list_transform(qe, (x, i) -> x::DOUBLE * qe[i]::DOUBLE)), (a, b) -> a + b)) AS nq
        | FROM embeddings, q),
        |r AS (SELECT vec_id, CASE WHEN na * nq > 0 THEN dot / (na * nq) ELSE 0.0 END AS cos_raw FROM c)
        |SELECT vec_id, round(cos_raw, 6) AS cos
        |FROM r ORDER BY cos_raw DESC, vec_id LIMIT 10""".stripMargin,

    "s_ivf_recall" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |cents AS (SELECT vec_id AS cid, embedding AS cemb
         |  FROM embeddings WHERE vec_id < 8),
         |brute AS (SELECT vec_id FROM (
         |  SELECT vec_id, ${cosSql("embedding", "qe")} AS c FROM embeddings, q)
         | ORDER BY c DESC, vec_id LIMIT 10),
         |asg AS (SELECT vec_id, embedding, cid,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
         | FROM (SELECT e.vec_id, e.embedding, c.cid,
         |   ${cosSql("e.embedding", "c.cemb")} AS ccos
         |  FROM embeddings e CROSS JOIN cents c)),
         |probe AS (SELECT cid FROM (
         |  SELECT cid, ${cosSql("cemb", "qe")} AS qcos FROM cents, q)
         | ORDER BY qcos DESC, cid LIMIT 2),
         |ivf AS (SELECT vec_id FROM (
         |  SELECT a.vec_id, ${cosSql("a.embedding", "qe")} AS c
         |  FROM asg a JOIN probe USING (cid) CROSS JOIN q WHERE a.rn = 1)
         | ORDER BY c DESC, vec_id LIMIT 10)
         |SELECT 10::BIGINT AS k, count(*)::BIGINT AS n_hits,
         | (count(*) * 10)::BIGINT AS recall_pct
         |FROM brute JOIN ivf USING (vec_id)""".stripMargin,

    // 3 exact Lloyd rounds + final assignment — the generated CTE
    // chain mirrors ml.ExactLloyd token for token (comps contract:
    // (vec_id, dim, q) on the milli-lattice; final assignment = a4).
    "s_kmeans_ivf" ->
      s"""WITH L AS (SELECT vec_id,
         |  unnest(list_transform(range(1, len(embedding) + 1),
         |    i -> {'d': i - 1, 'x': embedding[i]})) AS s FROM embeddings),
         |comps AS (SELECT vec_id, s.d::BIGINT AS dim,
         |  ${latticeSql("s.x::DOUBLE", 1000)} AS q FROM L),
         |${graft.ml.ExactLloyd.sql(k = 8, iters = 3)}
         |SELECT cid AS centroid_id, count(*)::BIGINT AS n_vecs
         |FROM a4 GROUP BY cid""".stripMargin,

    "s_ivf_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |cents AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 8),
        |asg AS (SELECT vec_id, embedding, cid,
        |  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
        | FROM (SELECT e.vec_id, e.embedding, c.cid,
        |   CASE WHEN
        |     sqrt(list_reduce(list_prepend(0.0, list_transform(e.embedding, (x, i) -> x::DOUBLE * e.embedding[i]::DOUBLE)), (a, b) -> a + b)) *
        |     sqrt(list_reduce(list_prepend(0.0, list_transform(c.cemb, (x, i) -> x::DOUBLE * c.cemb[i]::DOUBLE)), (a, b) -> a + b)) > 0
        |    THEN list_reduce(list_prepend(0.0, list_transform(e.embedding, (x, i) -> x::DOUBLE * c.cemb[i]::DOUBLE)), (a, b) -> a + b) /
        |     (sqrt(list_reduce(list_prepend(0.0, list_transform(e.embedding, (x, i) -> x::DOUBLE * e.embedding[i]::DOUBLE)), (a, b) -> a + b)) *
        |      sqrt(list_reduce(list_prepend(0.0, list_transform(c.cemb, (x, i) -> x::DOUBLE * c.cemb[i]::DOUBLE)), (a, b) -> a + b)))
        |    ELSE 0.0 END AS ccos
        |  FROM embeddings e CROSS JOIN cents c)),
        |probe AS (SELECT cid FROM (
        |  SELECT cid,
        |   CASE WHEN
        |     sqrt(list_reduce(list_prepend(0.0, list_transform(cemb, (x, i) -> x::DOUBLE * cemb[i]::DOUBLE)), (a, b) -> a + b)) *
        |     sqrt(list_reduce(list_prepend(0.0, list_transform(qe, (x, i) -> x::DOUBLE * qe[i]::DOUBLE)), (a, b) -> a + b)) > 0
        |    THEN list_reduce(list_prepend(0.0, list_transform(cemb, (x, i) -> x::DOUBLE * qe[i]::DOUBLE)), (a, b) -> a + b) /
        |     (sqrt(list_reduce(list_prepend(0.0, list_transform(cemb, (x, i) -> x::DOUBLE * cemb[i]::DOUBLE)), (a, b) -> a + b)) *
        |      sqrt(list_reduce(list_prepend(0.0, list_transform(qe, (x, i) -> x::DOUBLE * qe[i]::DOUBLE)), (a, b) -> a + b)))
        |    ELSE 0.0 END AS qcos
        |  FROM cents, q) ORDER BY qcos DESC, cid LIMIT 2),
        |hits AS (SELECT a.vec_id, a.embedding FROM asg a JOIN probe USING (cid) WHERE a.rn = 1),
        |r AS (
        | SELECT vec_id,
        |  CASE WHEN
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, (x, i) -> x::DOUBLE * embedding[i]::DOUBLE)), (a, b) -> a + b)) *
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(qe, (x, i) -> x::DOUBLE * qe[i]::DOUBLE)), (a, b) -> a + b)) > 0
        |   THEN list_reduce(list_prepend(0.0, list_transform(embedding, (x, i) -> x::DOUBLE * qe[i]::DOUBLE)), (a, b) -> a + b) /
        |    (sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, (x, i) -> x::DOUBLE * embedding[i]::DOUBLE)), (a, b) -> a + b)) *
        |     sqrt(list_reduce(list_prepend(0.0, list_transform(qe, (x, i) -> x::DOUBLE * qe[i]::DOUBLE)), (a, b) -> a + b)))
        |   ELSE 0.0 END AS cos_raw
        | FROM hits, q)
        |SELECT vec_id, round(cos_raw, 6) AS cos
        |FROM r ORDER BY cos_raw DESC, vec_id LIMIT 10""".stripMargin)
}
