package graft.queries

import org.apache.spark.sql.functions._
import Q._

/** Round-5 batch 12: lakehouse ingestion mechanics — nested-directory
  * discovery and compression-codec round-trips (IoQ's S-family
  * continued; new file to keep IoQ bounded). Both queries write
  * scratch data and read it back, so the oracle reads the SOURCE
  * table: exact value equality proves the round-trip lossless.
  */
object Curation12Q extends QueryModule {

  val queries: Seq[(String, QueryFn)] = Seq(

    // S15: recursive file discovery — ingest trees like
    // base/source=X/part-*.parquet WITHOUT partition-column inference
    // (recursiveFileLookup disables partition discovery by contract;
    // the layout columns stay data columns because they were written
    // as data). The shape crawler output lands in at 100 TB: millions
    // of files under dated prefixes. Listing parallelizes across the
    // cluster; the oracle is the flat source table.
    "s15_recursive" -> ((s, dir) => {
      val base = Q.scratchDir("graft_recur")
      val d = documents(s, dir).select("doc_id", "lang", "n_chars")
      // nested tree: two levels, files at different depths
      d.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$base/even/a")
      d.filter(col("doc_id") % 2 =!= 0)
        .write.mode("overwrite").parquet(s"$base/odd/deeper/b")
      s.read.option("recursiveFileLookup", "true").parquet(base)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"))
    }),

    // S16: compression-codec round-trip (zstd write): codec choice is
    // a first-order 100 TB cost decision; this proves the zstd path is
    // lossless bit-for-bit on the cent lattice and exercises the
    // writer option end to end. The oracle aggregates the source.
    "s16_zstd" -> ((s, dir) => {
      val base = Q.scratchDir("graft_zstd")
      lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          lattice(col("l_extendedprice"), 100).as("cents"))
        .write.mode("overwrite").option("compression", "zstd").parquet(base)
      s.read.parquet(base)
        .groupBy(expr("l_orderkey % 10").as("bucket"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    }))

  // ---- oracle SQL ----------------------------------------------------

  val oracle: Seq[(String, String)] = Seq(

    "s15_recursive" ->
      """SELECT lang, count(*) AS n_docs,
        | sum(n_chars)::BIGINT AS sum_chars
        |FROM documents GROUP BY lang""".stripMargin,

    "s16_zstd" ->
      s"""SELECT l_orderkey % 10 AS bucket, count(*) AS n,
        | sum(${latticeSql("l_extendedprice", 100)})::BIGINT
        |   AS sum_cents
        |FROM lineitem GROUP BY 1""".stripMargin)
}
