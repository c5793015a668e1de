package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros, unix_micros}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver-provided synthetic tables
  * (TESTDATA.md) and generic IO helpers.
  *
  * Reference ingest surface: CSV-per-week scans unioned into one table
  * (`main_cuda.py:120-138`) — in Spark a single multi-path scan; the
  * reference's multiprocessing.Pool is subsumed by Spark's file-split
  * parallelism (SURVEY.md §2.1 S1-S3).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema cache keyed by path: a schema-less `spark.read.parquet`
    * runs a one-task footer-inference JOB on every call — ~1000 such
    * jobs per full bench sweep, and a hidden build-time action every
    * query (PlanAuditSpec). On a production cluster the schema
    * comes from the catalog; here the first read per path infers it
    * once and every later read passes it explicitly (zero jobs). */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  private def readCached(spark: SparkSession, path: String): DataFrame = {
    val cached = schemaCache.get(path)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaCache.put(path, df.schema)
      df
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    readCached(spark, s"$sfDir/$name.parquet")

  /** Raw events read. The driver's `events.parquet` has shipped two
    * encodings of `ts` across rounds: TIMESTAMP(MICROS) (current) and
    * TIMESTAMP(NANOS)-as-INT64 (legacy). The legacy conf is set before
    * the read so BOTH load; callers branch on the loaded dtype via
    * [[tsAsTimestamp]]/[[tsAsMicros]] instead of assuming either.
    */
  def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    readCached(spark, s"$sfDir/events.parquet")
  }

  /** A Column producing `ts` as a micro-second TimestampType whatever
    * the on-disk encoding was: identity for TIMESTAMP(MICROS); integer
    * `DIV 1000` for legacy nanos-as-LONG (long division — a double
    * route would corrupt low micros, since 1.7e18 ns exceeds 2^53).
    * Micros is what DuckDB's TIMESTAMP holds internally, so the oracle
    * sees identical instants on either encoding.
    */
  def tsAsTimestamp(dt: DataType): Column = dt match {
    case TimestampType => col("ts")
    // parquet isAdjustedToUTC=false → Spark reads TIMESTAMP_NTZ; every
    // session here pins spark.sql.session.timeZone=UTC, so the cast to
    // the instant type is exact (same micros DuckDB's naive TIMESTAMP
    // holds).
    case TimestampNTZType => col("ts").cast(TimestampType)
    case LongType         => timestamp_micros(expr("ts div 1000"))
    case other => throw new IllegalStateException(
      s"events.ts has unsupported type $other (expected TIMESTAMP or legacy LONG nanos)")
  }

  /** A Column producing `ts` as INTEGER epoch-micros (for queries whose
    * time math must stay on the integer domain — sessionization,
    * retention, SCD-2, time-range windows).
    */
  def tsAsMicros(dt: DataType): Column = dt match {
    case TimestampType    => unix_micros(col("ts"))
    case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
    case LongType         => expr("ts DIV 1000")
    case other => throw new IllegalStateException(
      s"events.ts has unsupported type $other (expected TIMESTAMP or legacy LONG nanos)")
  }

  /** events with an extra `ts_us` INTEGER epoch-micros column. */
  def eventsUs(spark: SparkSession, sfDir: String): DataFrame = {
    val df = eventsRaw(spark, sfDir)
    df.withColumn("ts_us", tsAsMicros(df.schema("ts").dataType))
  }

  /** events with `ts` normalized to a micro-second TimestampType
    * regardless of the file's encoding (schema-adaptive — see
    * [[eventsRaw]]).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df = eventsRaw(spark, sfDir)
    df.withColumn("ts", tsAsTimestamp(df.schema("ts").dataType))
  }

  /** CSV scan with explicit schema — schema inference at 100 TB is a
    * non-starter, so every CSV read declares its StructType
    * (FIXTURES.md). Mirrors `pd.read_csv` S1 (`main_cuda.py:120-123`).
    */
  def csv(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
          paths: String*): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(paths: _*)

  /** Submission sink S4 (`main_cuda.py:1533-1541`): single-file CSV with
    * header. coalesce(1) is only acceptable for the small submission
    * table; bulk results go to parquet partitioned writes.
    */
  def writeSubmission(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
}
