package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.io.Tables

/** Shared helpers for the registered correctness/bench queries.
  *
  * Conventions that keep the Spark result and the DuckDB oracle
  * hash-identical (the driver sorts columns by name, then compares
  * row/schema/hash):
  *  - every computed double is `round(x, 6)` on BOTH sides — absorbs
  *    the ≤ few-ulp libm/summation-order differences between engines;
  *    large-magnitude sums round to 2 decimals instead;
  *  - counts stay BIGINT on both sides; integer-valued derivations are
  *    cast to BIGINT (DuckDB's sum(int)→HUGEINT trap is avoided by
  *    explicit ::BIGINT);
  *  - timestamps never appear in output (ordering keys only);
  *  - all orderings are total (unique id tiebreak) so window results
  *    are deterministic under shuffle.
  */
object Q {
  type QueryFn = (SparkSession, String) => DataFrame

  def lineitem(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "customer")
  def part(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "region")
  def supplier(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "supplier")
  def documents(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "embeddings")
  def events(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** Round for engine-portable doubles (both sides round identically). */
  def r6(c: Column): Column = round(c, 6)
  def r2(c: Column): Column = round(c, 2)

  /** ORACLE_NOTES rule 1: `c` on its exact-integer lattice, the long
    * round(c · scale) for a k-decimal value and scale = 10^k, so later
    * sums are exact in both engines. [[latticeSql]] is the oracle's same
    * lift of SQL `x` (`as` = HUGEINT where BIGINT products overflow). */
  def lattice(c: Column, scale: Int): Column = round(c * scale).cast("long")
  def latticeSql(x: String, scale: Int, as: String = "BIGINT"): String =
    s"CAST(round($x * $scale) AS $as)"

  /** Pinned left fold over a sorted collected struct list: a fixed
    * association order, so Spark and the oracle sum identically. */
  def fold(xs: Column)(f: (Column, Column) => Column): Column =
    aggregate(xs, lit(0.0), f)

  // ---- oracle SQL fragments shared across modules ----------------------

  /** Normalized text: lower-cased, letters and spaces only. */
  val NormSql = "regexp_replace(lower(text), '[^a-z ]', '', 'g')"
  /** Whitespace tokens, empties dropped, of a normalized column `t`. */
  val ToksSql = "list_filter(string_split(t, ' '), w -> length(w) > 0)"
  /** Whitespace tokens, empties dropped, of [[NormSql]] itself. */
  val NormToksSql =
    s"list_filter(string_split($NormSql, ' '), w -> length(w) > 0)"
  /** `tok` CTE: each document's token list, duplicates kept. */
  val TokCte =
    s"""tok AS (SELECT doc_id,
       | list_filter(string_split($NormSql, ' '),
       |   w -> length(w) > 0) AS toks
       | FROM documents)""".stripMargin

  /** Oracle mirror of [[Text.polyHash]] over the SQL string `e`:
    * fold(acc·31 + ascii code) mod P from 0; 0 for the empty string. */
  def polyHashSql(e: String): String =
    s"""CASE WHEN length($e) > 0 THEN list_reduce(
       | list_prepend(0::BIGINT, list_transform(range(1, length($e) + 1),
       |   j -> ascii(substr($e, j::INT, 1))::BIGINT)),
       | (a, b) -> (a * 31 + b) % ${Text.P}) ELSE 0 END""".stripMargin
  /** Distinct char-3-gram poly-hashes of a normalized column `t`. */
  val GramsSql =
    s"""list_distinct(list_transform(
       | CASE WHEN length(t) >= 3
       |  THEN list_transform(range(1, length(t) - 1), i -> substr(t, i::INT, 3))
       |  ELSE [] END,
       | s -> list_reduce(list_transform(range(1, 4), j -> ascii(substr(s, j::INT, 1))::BIGINT),
       |   (a, b) -> (a * 31 + b) % ${Text.P})))""".stripMargin

  private val ivfKCache =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Cheap content fingerprint of one table under `dir`: folds file
    * names, lengths and mtimes (local-FS stat calls, no data read).
    * Cache keys include it so a dataset regenerated in-place within
    * one JVM invalidates the memoized scalars instead of silently
    * serving stale values. Non-local paths (no java.io visibility —
    * e.g. a real cluster URI) degrade to the dir string alone, the
    * pre-fingerprint behavior. */
  private def tableFingerprint(dir: String, table: String): String = {
    def walk(x: java.io.File): Long =
      if (x.isDirectory) {
        val cs = x.listFiles()
        var h = 1L
        if (cs != null)
          cs.sortBy(_.getName).foreach(c => h = h * 1000003L + walk(c))
        h
      } else x.getName.hashCode.toLong * 2147483647L +
        x.length() * 1000003L + x.lastModified()
    val f = new java.io.File(dir, table + ".parquet")
    if (f.exists) s"$dir#${walk(f)}" else dir
  }

  /** IVF cluster count K = max(8, ⌊√N⌋) over the embeddings table —
    * the density rule that keeps within-cluster pair work Σ(N/K)²
    * linear (fixed K was the round-7 sf10 pair bomb). The scalar N is
    * driver-side by necessity (K parameterizes the plan), so it is
    * memoized per (dir, content fingerprint): building the same query
    * repeatedly (bench loops, plan audits) must not re-scan the source
    * per build, and regenerating the data invalidates the entry. The
    * oracle mirrors the same rule as a scalar subquery. */
  def ivfK(s: SparkSession, dir: String): Long =
    ivfKCache.computeIfAbsent(tableFingerprint(dir, "embeddings"),
      _ => math.max(8L,
        math.floor(math.sqrt(embeddings(s, dir).count().toDouble)).toLong))

  private val ivfCentCache = new java.util.concurrent.ConcurrentHashMap[
    String, Array[(Long, Seq[Double])]]()

  /** Driver-memoized IVF codebook: the first `n` embedding vectors
    * (vec_id < n; n = [[ivfK]] when unspecified) as a LOCAL (cid:
    * long, cemb: array<double>) frame. The codebook is a model
    * parameter — K = √N rows, driver-sized by construction — so it is
    * collected ONCE per (dir, fingerprint, n) and every later query
    * build gets a LocalRelation whose probe-collect inside
    * `Similarity.ivfAssign` is free (no re-scan of the embeddings
    * table per plan build). float→double element cast is exact, so
    * all downstream cosines are bit-identical to the float source. */
  def ivfCentroids(s: SparkSession, dir: String, n: Long = -1L): DataFrame = {
    val k = if (n > 0) n else ivfK(s, dir)
    val key = s"${tableFingerprint(dir, "embeddings")}@$k"
    val rows = ivfCentCache.computeIfAbsent(key, _ =>
      embeddings(s, dir).filter(col("vec_id") < k)
        .select(col("vec_id").cast("long"),
          transform(col("embedding"), x => x.cast("double")))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1))
    import s.implicits._
    rows.toSeq.toDF("cid", "cemb")
  }

  private val scratchRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per-prefix scratch directory for queries that exercise the write
    * path (s19 bloom, s20 dynamic overwrite): ONE temp dir per prefix
    * per JVM, reused by every invocation (the writers run in
    * mode=overwrite, so reuse is a rewrite, not an accumulation) and
    * deleted recursively on JVM exit — repeated bench/verify sweeps no
    * longer leak a full table copy per invocation. */
  def scratchDir(prefix: String): String =
    scratchRoots.computeIfAbsent(prefix, p => {
      val d = java.nio.file.Files.createTempDirectory(p)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        IoQ.deleteRecursively(d.toFile)))
      d.toString
    })
}

/** One module of registered queries. `queries` pairs each name with
  * its DataFrame builder; `oracle` gives the DuckDB SQL of the
  * SQL-expressible subset under the same names. Pairs, not maps, so a
  * name written twice reaches `graft.SparkEntry`, which lists every
  * module exactly once and rejects any repeated name. */
trait QueryModule {
  def queries: Seq[(String, Q.QueryFn)]
  def oracle: Seq[(String, String)]
}
