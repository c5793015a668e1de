package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.spark.graftshim.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Dev-only: run named registered queries under the Bench session
  * settings and report how many Spark JOBS each fires end to end
  * (build-time sketches/fits + the final action). The per-query job
  * count is the honest "how many eager passes does this operator pay"
  * metric for plan shapes whose cost is driver-loop structure rather
  * than a single DAG; `build_jobs` is the part fired while building
  * the frame — the final `explain` of an iterative query only
  * shows the last plan over checkpointed RDDs.
  *
  * Usage: runMain graft.tools.JobCount <sfDir> q1 q2 ...
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.bench(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    })
    args.drop(1).foreach { q =>
      try spark.catalog.clearCache() catch { case NonFatal(_) => () }
      ListenerBusBridge.waitUntilEmpty(spark.sparkContext)
      val before = n.get()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      ListenerBusBridge.waitUntilEmpty(spark.sparkContext)
      val built = n.get() - before
      val rows = df.queryExecution.toRdd.count()
      ListenerBusBridge.waitUntilEmpty(spark.sparkContext)
      println(f"JOBCOUNT $q jobs=${n.get() - before} build_jobs=$built " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%.2f rows=$rows")
    }
    try spark.catalog.clearCache() catch { case NonFatal(_) => () }
    spark.stop()
  }
}
