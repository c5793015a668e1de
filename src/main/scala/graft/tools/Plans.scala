package graft.tools

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Dev-only: print formatted physical plans for selected registered
  * queries — pushdown/broadcast/codegen inspection. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = args.drop(1)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.queries
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
      .toSeq.sortBy(_._1)
      .foreach { case (n, fn) =>
        println(s"\n===== $n =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case NonFatal(e) => println("PLAN FAIL: " + e.getMessage) }
      }
    spark.stop()
  }
}
