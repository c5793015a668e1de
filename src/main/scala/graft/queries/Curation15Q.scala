package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-5 batch 15: lakehouse publication mechanics — the
  * write-audit-publish (WAP) pattern and whole-file document
  * ingestion. Both round-trip through scratch storage, so the oracle
  * aggregates the SOURCE table; exact equality proves the path
  * lossless and the audit honest.
  */
object Curation15Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // O20: write-audit-publish — the safe-publication discipline every
    // production table write needs: stage the output, AUDIT it
    // (row-count conservation + key non-null + no dup keys, the
    // a24-style constraint set), and only then atomically promote the
    // staging directory to the published path. A failed audit throws —
    // downstream readers can never observe a bad snapshot. The audit
    // aggregates are one pass over the staged files.
    "o20_wap" -> ((s, dir) => {
      val root = Q.scratchDir("graft_wap")
      val staging = s"$root/staging"
      val published = s"$root/published"
      // the publish below is a directory RENAME — with the reused
      // per-JVM scratch a prior invocation's published dir must go
      // first or Files.move throws FileAlreadyExists
      IoQ.deleteRecursively(new java.io.File(published))
      val src = orders(s, dir).select(col("o_orderkey"),
        col("o_custkey"), lattice(col("o_totalprice"), 100).as("cents"))
      // the conservation check needs the SOURCE row count — observe it
      // on the staging write itself instead of re-scanning the source
      // in a second job (guide §1.2: one pass where one pass suffices)
      val srcObs = new org.apache.spark.sql.Observation("wap_src")
      src.observe(srcObs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(staging)
      val srcN = srcObs.get("n").asInstanceOf[Long]
      // audit the STAGED data, not the source
      val staged = s.read.parquet(staging)
      val audit = staged.agg(count(lit(1)).as("n"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("null_keys"),
        countDistinct("o_orderkey").as("distinct_keys")).head()
      require(audit.getLong(0) == srcN, s"WAP audit: staged ${audit.getLong(0)} != source $srcN")
      require(audit.getLong(1) == 0L, "WAP audit: null keys staged")
      require(audit.getLong(2) == audit.getLong(0), "WAP audit: duplicate keys staged")
      // atomic promote: a directory rename, the cheap O(1) publish
      java.nio.file.Files.move(java.nio.file.Paths.get(staging),
        java.nio.file.Paths.get(published))
      s.read.parquet(published)
        .groupBy(expr("o_orderkey % 7").as("bucket"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    }),

    // P15: schema-declared JSON parsing (from_json) — the typed twin
    // of get_json_object (p12): the parse happens ONCE into a struct
    // whose fields project without re-parsing, the right shape when
    // several fields come out of one payload at 100 TB. Corrupt
    // payloads yield all-null fields (PERMISSIVE), not job failures.
    // `malformed` = a NON-NULL payload the parser rejected: invalid
    // JSON, a valid non-object root ('123', '[1,2]', 'null' — Spark 4
    // PERMISSIVE mode fills fields with null but flags the row via
    // columnNameOfCorruptRecord, the only in-plan rejection signal;
    // a null STRUCT never appears for non-null input), or a k that
    // is not a JSON integer/null. The oracle mirrors each branch
    // with json_valid/json_type (sequential CASE — OR doesn't
    // short-circuit in SQL and json_type throws on invalid JSON),
    // and a fixture union exercises every branch on both engines
    // (the generator's props are always valid objects).
    "p15_from_json" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("k", LongType),
        StructField("_corrupt", StringType)))
      val fxSchema = StructType(Seq(
        StructField("event_id", LongType, nullable = false),
        StructField("props", StringType, nullable = true)))
      val fx = s.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(-1L, "123"),
          org.apache.spark.sql.Row(-2L, "\"x\""),
          org.apache.spark.sql.Row(-3L, "[1,2]"),
          org.apache.spark.sql.Row(-4L, "{bad"),
          org.apache.spark.sql.Row(-5L, "null"),
          org.apache.spark.sql.Row(-6L, "{\"k\":7}"),
          org.apache.spark.sql.Row(-7L, null),
          org.apache.spark.sql.Row(-8L, "{\"k\":null}"),
          org.apache.spark.sql.Row(-9L, "{\"k\":1.5}"),
          org.apache.spark.sql.Row(-10L, "{\"k\":-5}"),
          org.apache.spark.sql.Row(-11L, "{}"),
          org.apache.spark.sql.Row(-12L, "{\"k\":\"str\"}")),
        fxSchema)
      graft.io.Tables.eventsUs(s, dir)
        .select(col("event_id").cast("long").as("event_id"),
          col("props"))
        .unionByName(fx)
        .select(col("event_id"), col("props"),
          from_json(col("props"), schema,
            Map("columnNameOfCorruptRecord" -> "_corrupt")).as("p"))
        .select(col("event_id"), col("p.k").as("k"),
          col("p._corrupt").isNotNull.as("malformed"))
    }),

    // W57: VALUE-range window frame (rangeBetween on the cent
    // magnitude — rows ✓ everywhere, event-time range ✓ w17; this
    // completes the frame-type surface): for each event, how many of
    // the user's events sit within ±500 cents, and their exact sum —
    // the similar-magnitude neighborhood statistic.
    "w57_valuerange" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("c").rangeBetween(-500L, 500L)
      graft.io.Tables.eventsUs(s, dir)
        .select(col("event_id"), col("user_id"),
          lattice(col("value"), 100).as("c"))
        .select(col("event_id"), col("user_id"), col("c"),
          count(lit(1)).over(w).as("n_near"),
          sum("c").over(w).as("sum_near"))
    }),

    // W55: inter-arrival cadence per user — the engagement-rhythm
    // profile (median / p90 gap, all on the integer microsecond
    // lattice with type-1 index rules; no float ever). The order
    // statistics are RANK-based, not array-based: a second window
    // over the same user_id partition assigns row_number in gap
    // order, and the type-1 median/p90 are picked with conditional
    // aggregation (max(when(rn === idx))) — no collect_list, so per
    // -key state is O(1) in the aggregate and the per-user sort is
    // the window operator's spillable external sort. Unbounded-key
    // safe at 100 TB, unlike the whole-group sort_array it replaces.
    "w55_cadence" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us", "event_id")
      val wu = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
      val gaps = graft.io.Tables.eventsUs(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"))
        .withColumn("gap", col("ts_us") - lag("ts_us", 1).over(w))
        .filter(col("gap").isNotNull)
      // Same exchange for both windows (user_id hash), and the final
      // groupBy reuses it — one shuffle total, as before.
      gaps
        .withColumn("n_gaps", count(lit(1)).over(wu))
        .withColumn("rn", row_number().over(wu.orderBy("gap")))
        .withColumn("med_idx", expr("(n_gaps + 1) DIV 2"))
        .withColumn("p90_idx",
          greatest(lit(1L), expr("(n_gaps * 9 + 9) DIV 10")))
        .groupBy("user_id")
        .agg(max("n_gaps").as("n_gaps"),
          max(when(col("rn") === col("med_idx"), col("gap")))
            .as("med_gap_us"),
          max(when(col("rn") === col("p90_idx"), col("gap")))
            .as("p90_gap_us"),
          min("gap").as("min_gap_us"), max("gap").as("max_gap_us"))
    }),

    // S17: whole-file ingestion (wholetext) — one row per FILE, the
    // shape a document corpus lands in when each crawl artifact is its
    // own object. 20 docs written as individual text files, read back
    // whole; per-doc byte counts prove no line-splitting happened.
    "s17_wholetext" -> ((s, dir) => {
      val base = Q.scratchDir("graft_whole")
      val docs = documents(s, dir).filter(col("doc_id") < 20)
        .select(col("doc_id"), col("text"))
      docs.collect().foreach { r =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$base/${r.getLong(0)}.txt"),
          r.getString(1))
      }
      s.read.option("wholetext", "true").text(base)
        .select(length(col("value")).cast("long").as("n_chars"))
        .groupBy("n_chars").agg(count(lit(1)).as("n_files"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "o20_wap" ->
      s"""SELECT o_orderkey % 7 AS bucket, count(*) AS n,
        | sum(${latticeSql("o_totalprice", 100)})::BIGINT
        |   AS sum_cents
        |FROM orders GROUP BY 1""".stripMargin,

    "s17_wholetext" ->
      """SELECT length(text)::BIGINT AS n_chars, count(*) AS n_files
        |FROM documents WHERE doc_id < 20 GROUP BY 1""".stripMargin,

    // Branch-sequential CASE (OR does not short-circuit; json_type
    // throws on invalid JSON). Allowed k types mirror Spark's long
    // parse: JSON integers (BIGINT/UBIGINT) and JSON null; doubles,
    // bools, strings mark the row corrupt. TRY_CAST is masked by
    // `malformed` so e.g. {"k":1.5} yields NULL, not 2.
    "p15_from_json" ->
      """WITH fx(event_id, props) AS (VALUES
        |  (-1, '123'), (-2, '"x"'), (-3, '[1,2]'), (-4, '{bad'),
        |  (-5, 'null'), (-6, '{"k":7}'), (-7, NULL),
        |  (-8, '{"k":null}'), (-9, '{"k":1.5}'), (-10, '{"k":-5}'),
        |  (-11, '{}'), (-12, '{"k":"str"}')),
        |src AS (SELECT event_id::BIGINT AS event_id, props FROM events
        | UNION ALL SELECT event_id::BIGINT, props::VARCHAR FROM fx),
        |m AS (SELECT event_id, props,
        |  props IS NOT NULL AND CASE
        |   WHEN NOT json_valid(props) THEN true
        |   WHEN json_type(props) != 'OBJECT' THEN true
        |   WHEN json_extract(props, '$.k') IS NULL THEN false
        |   ELSE json_type(props, '$.k')
        |     NOT IN ('BIGINT', 'UBIGINT', 'NULL') END AS malformed
        | FROM src)
        |SELECT event_id,
        | CASE WHEN NOT malformed
        |   THEN TRY_CAST(json_extract(props, '$.k') AS BIGINT)
        | END AS k,
        | malformed
        |FROM m""".stripMargin,

    "w57_valuerange" ->
      s"""WITH e AS (SELECT event_id, user_id,
        |  ${latticeSql("value", 100)} AS c FROM events)
        |SELECT event_id, user_id, c,
        | count(*) OVER (PARTITION BY user_id ORDER BY c
        |   RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING)::BIGINT
        |   AS n_near,
        | sum(c) OVER (PARTITION BY user_id ORDER BY c
        |   RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING)::BIGINT
        |   AS sum_near
        |FROM e""".stripMargin,

    "w55_cadence" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id
        | FROM events),
        |g AS (SELECT user_id,
        |  ts_us - lag(ts_us) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id) AS gap
        | FROM e),
        |f AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
        |a AS (SELECT user_id, count(*)::BIGINT AS n_gaps,
        |  list_sort(list(gap)) AS l,
        |  min(gap)::BIGINT AS min_gap_us, max(gap)::BIGINT AS max_gap_us
        | FROM f GROUP BY user_id)
        |SELECT user_id, n_gaps,
        | l[((n_gaps + 1) // 2)::INT]::BIGINT AS med_gap_us,
        | l[(greatest(1, (n_gaps * 9 + 9) // 10))::INT]::BIGINT
        |   AS p90_gap_us,
        | min_gap_us, max_gap_us
        |FROM a""".stripMargin)
}
