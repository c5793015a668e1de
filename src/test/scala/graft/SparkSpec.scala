package graft

import org.apache.spark.graftshim.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — Spark
  * startup dominates test wall time otherwise). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.local("4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= tol

  /** Runs `body` with the session confs `kvs` set, and restores them
    * afterwards. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body`'s value and the number of Spark jobs it fired: jobs are
    * attributed by job group, and the listener bus is drained before
    * the count is read (the PlanAuditSpec method). */
  def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"spec-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "count a spec body's jobs")
      val v = try body finally sc.clearJobGroup()
      ListenerBusBridge.waitUntilEmpty(sc)
      (v, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` on a fresh temp dir named `prefix…` and deletes the
    * dir afterwards, whether `body` passes or throws. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(d.toString)
    finally graft.queries.IoQ.deleteRecursively(d)
  }
}
