package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.Text
import Q._

/** Round-5 batch 16: experiment power analysis, data-driven stopword
  * discovery, capture–recapture coverage estimation, and multiline CSV
  * ingestion. Net-new vs the reference (SURVEY.md §2.11). Exactness:
  * counts are BIGINTs; power/Chapman formulas are fixed IEEE chains
  * over exact integers mirrored token-for-token; stopword flags are
  * integer cross-products.
  */
object Curation16Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // Sample-size (power) analysis per segment: n per arm to detect a
    // 10% relative lift of the segment's observed rate at α=0.05,
    // power=0.8 — the planning number an experimentation platform
    // computes before launch. p̂ = k/n exact; the classic two-
    // proportion formula n = (z_α/2+z_β)²·2p̂(1−p̂)/δ² is a fixed IEEE
    // chain with shared literals (1.96, 0.84, δ = 0.1·p̂).
    "a54_power" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir).select(col("event_type"),
        when(col("event_id") % 11 === 0, 1L).otherwise(0L).as("bad"))
      val g = e.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("bad").as("k"))
      val p = col("k").cast("double") / col("n").cast("double")
      val delta = lit(0.1) * p
      val zsum = lit(1.96) + lit(0.84)
      // the chain crosses enough ops that engines drift a ulp — round
      // at 6 (off-lattice input, ORACLE_NOTES rule 3) and take the
      // ceil OF THE ROUNDED value so both engines see identical input
      val nNeeded = round(zsum * zsum * lit(2.0) * p * (lit(1.0) - p) /
        (delta * delta), 6)
      g.select(col("event_type"), col("n"), col("k"),
        when(col("k") > 0, nNeeded)
          .otherwise(lit(null).cast("double")).as("n_per_arm"),
        when(col("k") > 0, ceil(nNeeded).cast("long"))
          .otherwise(lit(null).cast("long")).as("n_per_arm_ceil"))
    }),

    // Data-driven stopword discovery: tokens whose document frequency
    // exceeds 60% of the corpus (df·5 > N·3 — integer cross-product)
    // are structural, not topical — the list a pipeline derives
    // instead of hard-coding. One token groupBy; the corpus size is a
    // broadcast scalar.
    "t_stopword_discovery" -> ((s, dir) => {
      val docs = documents(s, dir)
      val df = docs.select(col("doc_id"),
          explode(array_distinct(
            Text.tokens(Text.normalizeAz(col("text"))))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("nn"))
      df.crossJoin(broadcast(n))
        .filter(col("df") * 5 > col("nn") * 3)
        .select(col("tok"), col("df"),
          expr("df * 1000000 DIV nn").as("df_ppm"))
    }),

    // Capture–recapture (Chapman) corpus-coverage estimate: two
    // deterministic "crawls" (even ids; multiple-of-3 ids) overlap in
    // the multiples of 6; N̂ = (nA+1)(nB+1)/(m+1) − 1 estimates the
    // full corpus from the overlap — the coverage audit when the true
    // universe is unknown. All counts exact; one division.
    "a55_capture_recapture" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"))
      val g = d.agg(
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("doc_id") % 3 === 0, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("doc_id") % 6 === 0, 1L).otherwise(0L)).as("m"),
        count(lit(1)).as("n_true"))
      g.select(col("n_a"), col("n_b"), col("m"), col("n_true"),
        (((col("n_a") + 1) * (col("n_b") + 1)).cast("double") /
          (col("m") + 1) - lit(1.0)).as("n_est"))
    }),

    // S18: multiline CSV ingestion — quoted fields with embedded
    // newlines (the export format operational systems actually emit).
    // Docs get a two-line quoted field written through Spark's CSV
    // writer and read back with multiLine=true; counts prove no row
    // was split. Oracle reads the source table.
    "s18_multiline_csv" -> ((s, dir) => {
      // per-JVM reused scratch (overwrite-mode writer), deleted on
      // JVM exit — see IoQ.scratchDir
      val base = Q.scratchDir("graft_ml_csv")
      documents(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          concat(lit("header line\n"), col("text")).as("body"),
          col("n_chars"))
        .write.mode("overwrite").option("header", "true").csv(base)
      s.read.option("header", "true").option("multiLine", "true")
        .option("inferSchema", "false").csv(base)
        .select(col("doc_id").cast("long").as("doc_id"),
          (length(col("body")) - 12).cast("long").as("n_body_chars"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "a54_power" ->
      """WITH e AS (SELECT event_type,
        |  CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END::BIGINT AS bad
        | FROM events),
        |g AS (SELECT event_type, count(*)::BIGINT AS n,
        |  sum(bad)::BIGINT AS k FROM e GROUP BY 1)
        |SELECT event_type, n, k,
        | CASE WHEN k > 0 THEN
        |  round((1.96 + 0.84) * (1.96 + 0.84) * 2.0
        |   * (k::DOUBLE / n::DOUBLE) * (1.0 - k::DOUBLE / n::DOUBLE)
        |   / ((0.1 * (k::DOUBLE / n::DOUBLE)) * (0.1 * (k::DOUBLE / n::DOUBLE))), 6)
        | END AS n_per_arm,
        | CASE WHEN k > 0 THEN
        |  CAST(ceil(round((1.96 + 0.84) * (1.96 + 0.84) * 2.0
        |   * (k::DOUBLE / n::DOUBLE) * (1.0 - k::DOUBLE / n::DOUBLE)
        |   / ((0.1 * (k::DOUBLE / n::DOUBLE)) * (0.1 * (k::DOUBLE / n::DOUBLE))), 6))
        |   AS BIGINT)
        | END AS n_per_arm_ceil
        |FROM g""".stripMargin,

    "t_stopword_discovery" -> {
      val norm = "regexp_replace(lower(text), '[^a-z ]', '', 'g')"
      s"""WITH tk AS (SELECT doc_id,
         |  unnest(list_distinct(list_filter(string_split($norm, ' '),
         |    w -> length(w) > 0))) AS tok
         | FROM documents),
         |df AS (SELECT tok, count(*) AS df FROM tk GROUP BY 1),
         |n AS (SELECT count(*)::BIGINT AS nn FROM documents)
         |SELECT tok, df, df * 1000000 // nn AS df_ppm
         |FROM df, n WHERE df * 5 > nn * 3""".stripMargin
    },

    "a55_capture_recapture" ->
      """SELECT
        | sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        | sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_b,
        | sum(CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END)::BIGINT AS m,
        | count(*)::BIGINT AS n_true,
        | ((sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) + 1)
        |  * (sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) + 1))::DOUBLE
        |  / (sum(CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END) + 1) - 1.0
        |  AS n_est
        |FROM documents""".stripMargin,

    "s18_multiline_csv" ->
      """SELECT doc_id, length(text)::BIGINT AS n_body_chars
        |FROM documents WHERE doc_id < 100""".stripMargin)
}
