package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Round-6 batch 24: Good-Turing frequency smoothing, Allen-relation
  * concurrency profiling, and Neyman sampling allocation. Net-new vs
  * the reference (SURVEY.md §2.11).
  */
object Curation24Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // T: Good-Turing count-of-counts — the classic smoothing table
    // for language-model vocabularies: how many TRIGRAM types occur
    // exactly r times (N_r), and the GT-adjusted count
    // r* = (r+1)·N_{r+1}/N_r. Trigrams, not unigrams: the synthetic
    // vocab is tiny so every unigram is frequent, while the trigram
    // tail has the singletons GT exists for — and the same holds on
    // any real corpus where the rare-event mass sits in the n-gram
    // tail. The count-of-counts collapse makes the output ≤10 rows
    // no matter the corpus size; every value is an exact BIGINT and
    // r* is ONE division. The gram lambda references a bound toks
    // ATTRIBUTE (not the tokenize tree — the O(len²) HOF trap).
    "t_good_turing" -> ((s, dir) => {
      val counts = documents(s, dir)
        .select(graft.functions.Text.tokens(
          graft.functions.Text.normalizeAz(col("text"))).as("t"))
        .filter(size(col("t")) >= 3)
        .select(explode(transform(sequence(lit(0), size(col("t")) - 3),
          i => concat_ws(" ", slice(col("t"), i + lit(1), lit(3)))))
          .as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("r"))
      val coc = counts.groupBy("r").agg(count(lit(1)).as("n_r"))
      // N_{r+1} is a key-shifted SELF-JOIN, not a lead() over a global
      // window: the spectrum has O(sqrt(corpus tokens)) distinct
      // counts — small, but unbounded — and the join distributes while
      // lead()'s empty partition spec funnels into one task.
      val succ = coc.select((col("r") - 1L).as("r"),
        col("n_r").as("__nr1"))
      coc.filter(col("r") <= 10)
        .join(succ, Seq("r"), "left")
        .select(col("r"), col("n_r"),
          coalesce(col("__nr1"), lit(0L)).as("n_r1"))
        .withColumn("r_star",
          when(col("n_r1") > 0,
            ((col("r") + 1) * col("n_r1")).cast("double") /
              col("n_r").cast("double"))
            .otherwise(lit(null).cast("double")))
    }),

    // J22: Allen-relation profile of concurrent sessions — the
    // interval-algebra census (before/meets/overlaps/starts/during/
    // finishes/equals) over pairs of DIFFERENT users' sessions that
    // start the same day. Sessions come from the w20 gap rule
    // (30-minute idle split); the output is the tiny (day, relation)
    // count table. The census is inherently quadratic in per-day
    // session density, so each day's sessions split into
    // DENSITY-ADAPTIVE sub-blocks (count = max(1, n/500), membership
    // by a public integer LCG — mirrorable in any engine, unlike a
    // random draw) and pairs form only within a block: coverage is
    // the deterministic block-diagonal 1/n_blocks fraction, reported
    // in-band via the n_blocks column, and total pair work is
    // ~n·500·days — LINEAR in n (the exhaustive census measured 20x
    // wall at the 10x scale step). Every comparison is on the
    // integer micros lattice; the oracle reproduces the same blocks.
    "j22_allen" -> ((s, dir) => allenCensus(s, dir, 500L)),

    // A68: Neyman optimal sampling allocation — "how many samples
    // per stratum" ∝ N_h·S_h, THE stratified-sampling design rule.
    // Per-stratum moments are exact; the weight is the fixed chain
    // sqrt(sumsq/n − (sum/n)²) · n of correctly-rounded ops (no
    // BIGINT n·Σx² product, which overflows 2^63 at ~2e5 rows of
    // cent-scale values).
    "a68_neyman" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir).select(col("event_type"),
        lattice(col("value"), 100).as("c"))
      e.groupBy("event_type").agg(
          count(lit(1)).as("n"), sum("c").as("s"),
          sum(col("c") * col("c")).as("ss"))
        .select(col("event_type"), col("n"), col("s"), col("ss"),
          (sqrt(col("ss").cast("double") / col("n").cast("double") -
            (col("s").cast("double") / col("n").cast("double")) *
              (col("s").cast("double") / col("n").cast("double"))) *
            col("n").cast("double")).as("alloc_weight"))
    }))

  /** Allen census core with a per-block session target: each day's
    * sessions split into max(1, n_day/target) sub-blocks by a public
    * LCG on (user, sid) — deterministic, engine-mirrorable — and
    * only within-block pairs are classified. Coverage = 1/n_blocks
    * of the day's cross pairs (block-diagonal), reported in-band;
    * per-day pair work ≈ n_day·target instead of n_day². */
  def allenCensus(s: org.apache.spark.sql.SparkSession, dir: String,
      blockTarget: Long): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val wd = Window.partitionBy("day")
    val gapUs = 1800L * 1000000L
    val sess = graft.io.Tables.eventsUs(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"))
      .withColumn("new_s",
        when(lag("ts_us", 1).over(w).isNull ||
          col("ts_us") - lag("ts_us", 1).over(w) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum("new_s")
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(min("ts_us").as("st"), max("ts_us").as("en"))
      .withColumn("day", expr("st DIV 86400000000"))
      .withColumn("n_blocks", greatest(lit(1L),
        expr(s"(count(1) OVER (PARTITION BY day)) DIV $blockTarget")))
      .withColumn("blk", pmod(
        col("user_id") * 2654435761L + col("sid") * 104729L,
        col("n_blocks")))
      // cached: both self-join sides read this frame, and Catalyst
      // does not dedupe identical window+agg subtrees across join
      // sides (the t_tfidf precedent) — uncached, the whole
      // sessionization chain ran twice (round 12)
      .cache()
    val a = sess.select(col("day"), col("blk"), col("n_blocks"),
      col("user_id").as("ua"), col("st").as("sa"), col("en").as("ea"))
    val b = sess.select(col("day"), col("blk"), col("user_id").as("ub"),
      col("st").as("sb"), col("en").as("eb"))
    val rel = when(col("ea") < col("sb"), "before")
      .when(col("ea") === col("sb"), "meets")
      .when(col("sa") === col("sb") && col("ea") === col("eb"), "equals")
      .when(col("sa") === col("sb"), "starts")
      .when(col("ea") === col("eb"), "finishes")
      .when(col("sa") > col("sb") && col("ea") < col("eb"), "during")
      .when(col("sa") < col("sb") && col("ea") > col("sb"), "overlaps")
      .otherwise("other")
    // both orientations enter the join; exactly one survives the
    // canonical-orientation filter (earlier start, user tiebreak),
    // so every unordered pair is classified once, from the
    // earlier-starting interval's point of view
    a.join(b, Seq("day", "blk")).filter(col("ua") =!= col("ub"))
      .filter(col("sa") < col("sb") ||
        (col("sa") === col("sb") && col("ua") < col("ub")))
      .groupBy(col("day"), rel.as("relation"))
      .agg(count(lit(1)).as("n_pairs"), max("n_blocks").as("n_blocks"))
  }

  // ---- oracle SQL ----------------------------------------------------

  private val NormSql =
    "list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '), x -> x != '')"

  val oracle: Seq[(String, String)] = Seq(

    "t_good_turing" ->
      s"""WITH d AS (SELECT $NormSql AS t FROM documents),
         |toks AS (SELECT unnest(list_transform(range(0, len(t) - 2),
         |   i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])) AS tok
         | FROM d WHERE len(t) >= 3),
         |c AS (SELECT tok, count(*)::BIGINT AS r FROM toks GROUP BY tok),
         |coc AS (SELECT r, count(*)::BIGINT AS n_r FROM c GROUP BY r),
         |x AS (SELECT r, n_r,
         |  lead(r) OVER (ORDER BY r) AS r_next,
         |  lead(n_r) OVER (ORDER BY r) AS n_r_next
         | FROM coc)
         |SELECT r, n_r,
         | (CASE WHEN r_next = r + 1 THEN n_r_next ELSE 0 END)::BIGINT
         |   AS n_r1,
         | CASE WHEN r_next = r + 1 AND n_r_next > 0 THEN
         |  ((r + 1) * n_r_next)::DOUBLE / n_r::DOUBLE END AS r_star
         |FROM x WHERE r <= 10""".stripMargin,

    "j22_allen" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id
        | FROM events),
        |m AS (SELECT user_id, ts_us, event_id,
        |  CASE WHEN lag(ts_us) OVER w IS NULL
        |    OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END
        |    AS new_s
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |g AS (SELECT user_id, ts_us,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        | FROM m),
        |sess0 AS (SELECT user_id, sid, min(ts_us) AS st, max(ts_us) AS en,
        |  min(ts_us) // 86400000000 AS day
        | FROM g GROUP BY user_id, sid),
        |sess AS (SELECT *,
        |  greatest(1, (count(*) OVER (PARTITION BY day)) // 500)
        |    AS n_blocks,
        |  (user_id * 2654435761::BIGINT + sid * 104729) %
        |    greatest(1, (count(*) OVER (PARTITION BY day)) // 500) AS blk
        | FROM sess0),
        |pairs AS (SELECT a.day, a.n_blocks, a.user_id AS ua,
        |  a.st AS sa, a.en AS ea, b.user_id AS ub, b.st AS sb, b.en AS eb
        | FROM sess a JOIN sess b ON a.day = b.day AND a.blk = b.blk
        |   AND a.user_id != b.user_id
        | WHERE a.st < b.st OR (a.st = b.st AND a.user_id < b.user_id))
        |SELECT day,
        | CASE WHEN ea < sb THEN 'before'
        |      WHEN ea = sb THEN 'meets'
        |      WHEN sa = sb AND ea = eb THEN 'equals'
        |      WHEN sa = sb THEN 'starts'
        |      WHEN ea = eb THEN 'finishes'
        |      WHEN sa > sb AND ea < eb THEN 'during'
        |      WHEN sa < sb AND ea > sb THEN 'overlaps'
        |      ELSE 'other' END AS relation,
        | count(*)::BIGINT AS n_pairs,
        | max(n_blocks)::BIGINT AS n_blocks
        |FROM pairs GROUP BY 1, 2""".stripMargin,

    "a68_neyman" ->
      s"""WITH e AS (SELECT event_type,
        |  ${latticeSql("value", 100)} AS c FROM events),
        |g AS (SELECT event_type, count(*)::BIGINT AS n,
        |  sum(c)::BIGINT AS s, sum(c * c)::BIGINT AS ss
        | FROM e GROUP BY event_type)
        |SELECT event_type, n, s, ss,
        | sqrt(ss::DOUBLE / n::DOUBLE
        |   - (s::DOUBLE / n::DOUBLE) * (s::DOUBLE / n::DOUBLE))
        |  * n::DOUBLE AS alloc_weight
        |FROM g""".stripMargin)
}
