package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Dev-only probe for engine/source behaviors (ns timestamps, split
  * semantics). Not part of the library surface. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val ev = graft.io.Tables.events(spark, "/root/testdata/sf0.001")
      ev.printSchema()
      ev.orderBy("event_id").select(col("ts"), unix_micros(col("ts")),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")).show(3, false)
    } catch { case NonFatal(e) => println("EVENTS FAIL: " + e) }
    spark.sql("""select split('a b  c', ' ') s1, split('abc','') s2,
      ascii('a') a1, sequence(1,0) sq, round(2.675, 2) r1,
      octet_length(encode('héllo','UTF-8')) ol""").show(false)
    spark.stop()
  }
}
