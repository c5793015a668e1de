package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.NfcNormalize
import Q._

/** Round-5 batch 14: Unicode canonical composition (NFC), degree
  * assortativity, and sequence-pattern matching over event streams.
  * Net-new vs the reference (SURVEY.md §2.11). Strings and counts
  * carry no float drift; assortativity is exact Pearson sums with one
  * IEEE tail mirrored token-for-token.
  */
object Curation14Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // NFC canonical composition via the native codegen'd expression:
    // each doc gets a decomposed suffix (e + COMBINING ACUTE, built
    // from code points so the source stays ASCII) that NFC folds to
    // the single composed é — byte lengths prove real normalization
    // happened, and DuckDB's nfc_normalize is the exact twin. The
    // mandatory first step before any hash-based dedup of real text.
    "t_nfc" -> ((s, dir) => {
      // Spark's chr() is mod-256 ASCII, so the combining mark rides a
      // source literal; DuckDB builds the same bytes via chr(769)
      val decomposed = concat(col("text"), lit(" caf"), lit("é"))
      documents(s, dir).select(col("doc_id"),
          decomposed.as("raw"),
          NfcNormalize.nfc(decomposed).as("nfc"))
        .select(col("doc_id"),
          octet_length(col("raw")).cast("long").as("len_raw"),
          octet_length(col("nfc")).cast("long").as("len_nfc"),
          (col("raw") =!= col("nfc")).as("changed"),
          substring(col("nfc"), -4, 4).as("tail"))
    }),

    // Degree assortativity of the customer–supplier graph: Pearson
    // correlation between the endpoint degrees across edges — do
    // high-degree customers trade with high-degree suppliers?
    // (Dis)assortativity drives skew-handling strategy at 100 TB.
    // Degrees and all five moment sums are exact BIGINTs (a18
    // pattern); r is the one-division-two-sqrt IEEE tail.
    "g9_assortativity" -> ((s, dir) => {
      val edges = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").cast("long").as("cust"),
          col("l_suppkey").cast("long").as("supp"))
        .distinct()
        // the edge table feeds several aggregates below; identical
        // scan+distinct subtrees are NOT deduped across DataFrame
        // reuse, so cache it once (the t_tfidf lesson)
        .cache()
      val dc = edges.groupBy("cust").agg(count(lit(1)).as("dx"))
      val ds = edges.groupBy("supp").agg(count(lit(1)).as("dy"))
      val g = edges.join(dc, "cust").join(ds, "supp")
        .agg(count(lit(1)).as("m"),
          sum("dx").as("sx"), sum("dy").as("sy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"),
          sum(col("dx") * col("dy")).as("sxy"))
      // The cross products multiply as DOUBLES in a pinned order (the
      // m31_mcc rule): m·sxy reaches ~1.3e19 at the 10x scale step —
      // past 2^63 — where Spark (non-ANSI) wraps silently and DuckDB
      // raises. Double products of exact ints are correctly rounded
      // and identical in both engines.
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val num = d(col("m")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))
      val d1 = d(col("m")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))
      val d2 = d(col("m")) * d(col("syy")) - d(col("sy")) * d(col("sy"))
      g.select(col("m"), col("sx"), col("sy"),
        when(d1 > 0.0 && d2 > 0.0, num / (sqrt(d1) * sqrt(d2)))
          .otherwise(lit(null).cast("double")).as("assortativity"))
    }),

    // Sequence-pattern matching (MATCH_RECOGNIZE-lite): per user,
    // concatenate event-type initials in time order and count
    // non-overlapping view→…→purchase journeys (v[cse]*p — any mix of
    // clicks/signups/errors between). Leftmost non-overlapping match
    // counting is the shared regex semantics of both engines. The
    // string build is one ordered collect per user — bounded by the
    // per-user event count, the same budget every sessionization op
    // here has.
    "w54_seqpattern" -> ((s, dir) => {
      val e = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          substring(col("event_type"), 1, 1).as("ch"))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val seqd = e
        .withColumn("rn", row_number().over(w))
        .groupBy("user_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("rn"), col("ch")))),
          x => x.getField("ch")), "").as("s"))
      seqd.select(col("user_id"),
        length(col("s")).cast("long").as("n_events"),
        expr("regexp_count(s, 'v[cse]*p')").cast("long").as("n_journeys"),
        expr("regexp_count(s, 'e')").cast("long").as("n_errors"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "t_nfc" ->
      """WITH d AS (SELECT doc_id,
        |  text || ' caf' || chr(101) || chr(769) AS raw FROM documents),
        |n AS (SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM d)
        |SELECT doc_id,
        | strlen(raw)::BIGINT AS len_raw,
        | strlen(nfc)::BIGINT AS len_nfc,
        | raw != nfc AS changed,
        | substr(nfc, length(nfc) - 3, 4) AS tail
        |FROM n""".stripMargin,

    "g9_assortativity" ->
      """WITH edges AS (SELECT DISTINCT o_custkey::BIGINT AS cust,
        |  l_suppkey::BIGINT AS supp
        | FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        |dc AS (SELECT cust, count(*) AS dx FROM edges GROUP BY cust),
        |ds AS (SELECT supp, count(*) AS dy FROM edges GROUP BY supp),
        |g AS (SELECT count(*)::BIGINT AS m,
        |  sum(dx)::BIGINT AS sx, sum(dy)::BIGINT AS sy,
        |  sum(dx * dx)::BIGINT AS sxx, sum(dy * dy)::BIGINT AS syy,
        |  sum(dx * dy)::BIGINT AS sxy
        | FROM edges JOIN dc USING (cust) JOIN ds USING (supp))
        |SELECT m, sx, sy,
        | CASE WHEN m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0
        |   AND m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE > 0 THEN
        |  (m::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |   / (sqrt(m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |      * sqrt(m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
        | END AS assortativity
        |FROM g""".stripMargin,

    "w54_seqpattern" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  substr(event_type, 1, 1) AS ch FROM events),
        |sq AS (SELECT user_id,
        |  string_agg(ch, '' ORDER BY ts_us, event_id) AS s
        | FROM e GROUP BY user_id)
        |SELECT user_id, length(s)::BIGINT AS n_events,
        | len(regexp_extract_all(s, 'v[cse]*p'))::BIGINT AS n_journeys,
        | len(regexp_extract_all(s, 'e'))::BIGINT AS n_errors
        |FROM sq""".stripMargin)
}
