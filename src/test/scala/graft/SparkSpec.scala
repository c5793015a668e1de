package graft

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

  /** Runs `body` on a fresh temp dir named `prefix…` and deletes the
    * dir afterwards, whether `body` passes or throws. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(d.toString)
    finally graft.queries.IoQ.deleteRecursively(d)
  }
}
