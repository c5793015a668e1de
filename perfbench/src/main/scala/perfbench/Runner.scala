package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

/** Row count plus an order-insensitive 64-bit digest: the wrapping sum of
  * one XXH64 per row, taken over the row's UnsafeRow bytes. */
final case class Digest(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Digest {
  /** The exec phase's action: runs `toRdd`, which keeps the full output
    * schema, and hashes every column of every row (a `count()` would let
    * the optimizer prune columns whose cost lives in the projection). */
  def of(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val schema = qe.executedPlan.schema
    val parts = qe.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      while (rows.hasNext) {
        val u = proj(rows.next())
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator.single((n, h))
    }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}

final case class Pin(rows: Long, digest: String)

object Pin {
  /** Reads `query<TAB>rows<TAB>digest` lines; `#` starts a comment. */
  def read(path: String): Map[String, Pin] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(q, rows, d) = l.split("\t")
        q -> Pin(rows.toLong, d)
      }.toMap
    finally src.close()
  }
}

/** One timed phase of one query execution: wall-clock bounds in epoch
  * milliseconds (the listener's clock) and the nanoTime duration. */
final case class PhaseSpan(phase: String, startMs: Long, endMs: Long, seconds: Double)

final case class Outcome(query: String, phases: Seq[PhaseSpan],
                         digest: Option[Digest], error: Option[String]) {
  def ok: Boolean = error.isEmpty
  def seconds: Double = phases.map(_.seconds).sum
  def phase(p: String): Option[PhaseSpan] = phases.find(_.phase == p)
}

object Runner {
  val Phases: Seq[String] = Seq("build", "plan", "exec")

  /** Runs build, plan and exec in order, timing each, then checks the
    * digest against the pin, if one is given. A throw in any phase and a
    * digest that differs from the pin make the outcome a failure.
    * `onPhase` is called just before each phase starts (the tracer tags
    * Spark jobs with it). */
  def execute[F](query: String, pin: Option[Pin], onPhase: String => Unit = _ => ())(
      build: () => F, plan: F => Unit, exec: F => Digest): Outcome = {
    val spans = ArrayBuffer.empty[PhaseSpan]
    def timed[T](p: String)(body: => T): T = {
      onPhase(p)
      val ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally spans += PhaseSpan(p, ms, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
    }
    var digest: Option[Digest] = None
    val error =
      try {
        val f = timed("build")(build())
        timed("plan")(plan(f))
        val d = timed("exec")(exec(f))
        digest = Some(d)
        verdict(pin, d)
      } catch { case NonFatal(e) => Some(describe(e)) }
    Outcome(query, spans.toSeq, digest, error)
  }

  def verdict(pin: Option[Pin], got: Digest): Option[String] = pin match {
    case None => None
    case Some(p) if p.rows != got.rows || p.digest != got.hex =>
      Some(s"digest mismatch: pinned ${p.rows} rows ${p.digest}, got ${got.rows} rows ${got.hex}")
    case _ => None
  }

  /** Queries that threw or whose digest differs from the pin, over
    * queries attempted. */
  def failedShare(outcomes: Seq[Outcome]): Double =
    if (outcomes.isEmpty) 0.0 else outcomes.count(!_.ok).toDouble / outcomes.size

  private def describe(e: Throwable): String = {
    var c = e
    while (c.getCause != null && (c.getCause ne c)) c = c.getCause
    s"${e.getClass.getSimpleName}: ${c.getClass.getSimpleName}: ${String.valueOf(c.getMessage).take(200)}"
  }
}
