package graft

import org.apache.spark.sql.SparkSession

/** The one place the library's own mains and specs get a session.
  *
  * Every session is `local[cores]` with `cores` shuffle partitions, a
  * UTC session time zone, ANSI mode off (parse/cast failures yield
  * null, matching the reference and the DuckDB oracle), legacy nanos
  * timestamps read as LONG (a no-op for the current micros encoding of
  * events.parquet), and no UI. Callers add their own extras before
  * `getOrCreate()`. The driver's own session is NOT built here: it is
  * a plain default session with ANSI on (see tools/EntrySmoke).
  */
object Sessions {
  def local(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** [[local]] plus single-node bench tuning: with tens of GB of driver
    * heap a 128 MB dimension build side is cheap, and keeping the
    * orders/customer side broadcast across the sf1→sf10 decade avoids
    * the broadcast→shuffle regime cliff measured on g9_assortativity
    * (31 s → 19 s at sf10). Correctness runs (Verify, specs) keep
    * Spark's default threshold. */
  def bench(cores: String): SparkSession.Builder =
    local(cores).config("spark.sql.autoBroadcastJoinThreshold",
      128 * 1024 * 1024)
}
