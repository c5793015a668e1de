package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.io.Tables

/** Phase-split workload benchmark. One closed-loop client issues each
  * query of a workload after the previous one returns and times it from
  * outside, through the calls that separate the layers:
  *   build = the registry function (graft.queries and any eager jobs),
  *   plan  = `queryExecution.executedPlan` (Catalyst),
  *   exec  = a `toRdd` action hashing every column (scheduler, executors).
  * Invoked by perfbench/run.py, which builds the classpath, writes the
  * input tables and passes the arguments below. */
object Main {
  final case class Conf(
      workload: String,
      queries: Seq[String],
      pins: Map[String, Pin],
      dataDir: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      cores: Int,
      sparkConf: Seq[(String, String)],
      pinOut: Option[String],
      profileOut: Option[String])

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toSeq
    val one = kv.toMap
    val conf = Conf(
      workload = one("workload"),
      queries = one("queries").split(",").toSeq.filter(_.nonEmpty),
      pins = one.get("pins").map(Pin.read).getOrElse(Map.empty),
      dataDir = one("data"),
      seed = one.getOrElse("seed", "1").toLong,
      seconds = one.getOrElse("seconds", "10").toDouble,
      trace = one.getOrElse("trace", "0") == "1",
      cores = one("cores").toInt,
      sparkConf = kv.collect { case ("conf", c) => val Array(k, v) = c.split("=", 2); k -> v },
      pinOut = one.get("pin-out"),
      profileOut = one.get("profile-out"))
    sys.exit(run(conf))
  }

  private def session(c: Conf): SparkSession = {
    val b = SparkSession.builder().master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
    c.sparkConf.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
  }

  private def now(): Double = System.nanoTime() / 1e9

  private def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${sinceJvmStart()}%.1f s after JVM start: $what")

  /** Driver heap still in use right after the most recent collection of
    * each heap pool, in MB. */
  private def liveHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6

  /** The set-up, in three parts: JVM start to a running session (JVM boot,
    * the registry, session start), every table loaded once through
    * Tables.load (the per-path schema-inference jobs land here, not in the
    * first query), and one untimed warm-up pass. */
  private final case class Setup(start: Double, tables: Double, warmup: Double) {
    def total: Double = start + tables + warmup
  }

  /** Seconds since JVM start, to the millisecond. */
  private def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  private val Mb = 1e6
  /** Pass number of the untimed warm-up pass. */
  private val Warmup = -1

  /** Per-layer values of one execution (summed into its pass). */
  private def layers(o: Outcome, spans: Map[String, SpanStats], retainedRdds: Int,
                     retainedMb: Double): Seq[(String, Double)] = {
    def sec(p: String) = o.phase(p).map(_.seconds).getOrElse(0.0)
    // phase time outside its job spans, on the listener's millisecond clock
    def self(p: String) = o.phase(p).map(s =>
      Stats.selfTime(s.startMs, s.endMs, spans(p).jobSpans.toSeq) / 1e3).getOrElse(0.0)
    val b = spans("build")
    val e = spans("exec")
    val all = spans.values
    Seq(
      "build.s" -> sec("build"),
      "build.self_s" -> self("build"),
      "build.job_s" -> Stats.unionLength(b.jobSpans.toSeq) / 1e3,
      "build.jobs" -> b.jobs,
      "build.tasks" -> b.tasks,
      "build.queries_with_jobs" -> (if (b.jobs > 0) 1 else 0),
      "plan.s" -> sec("plan"),
      "exec.s" -> sec("exec"),
      "exec.self_s" -> self("exec"),
      "exec.jobs" -> e.jobs,
      "exec.stages" -> e.stages,
      "exec.tasks" -> e.tasks,
      "exec.task_s" -> e.taskRunMs / 1e3,
      "exec.task_cpu_s" -> e.taskCpuNs / 1e9,
      "exec.gc_s" -> e.gcMs / 1e3,
      "exec.task_wait_s" -> e.taskWaitMs / 1e3,
      "io.shuffle_write_mb" -> all.map(_.shuffleWriteBytes).sum / Mb,
      "io.shuffle_read_mb" -> all.map(_.shuffleReadBytes).sum / Mb,
      "io.input_mb" -> all.map(_.inputBytes).sum / Mb,
      "io.output_mb" -> all.map(_.outputBytes).sum / Mb,
      "io.spill_mb" -> all.map(_.spillBytes).sum / Mb,
      "cache.retained_rdds" -> retainedRdds.toDouble,
      "cache.retained_mb" -> retainedMb)
  }

  def run(c0: Conf): Int = {
    val registry = SparkEntry.queries
    mark("registry built")
    val c = if (c0.queries == Seq("ALL")) c0.copy(queries = registry.keys.toSeq.sorted) else c0
    val unknown = c.queries.filterNot(registry.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(", ")}")
      return 2
    }
    val unpinned = c.queries.filterNot(c.pins.contains)
    if (c.pinOut.isEmpty && c.profileOut.isEmpty && unpinned.nonEmpty) {
      System.err.println(s"no pinned digest for: ${unpinned.mkString(", ")}")
      return 2
    }
    // JVM start is on the epoch-millisecond clock; shift it onto nanoTime.
    val jvmStart = now() - sinceJvmStart()
    val spark = session(c)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionUp = now()
    val dir = c.dataDir
    Tables.names.foreach(n => Tables.load(spark, dir, n))
    val tablesUp = now()
    val sc = spark.sparkContext
    val tracer = if (c.trace || c.profileOut.isDefined) {
      val t = new Tracer(sc)
      sc.addSparkListener(t)
      Some(t)
    } else None
    val rng = new scala.util.Random(c.seed)

    val outcomes = mutable.ArrayBuffer.empty[(Int, Outcome, Seq[(String, Double)])]
    val jobSeconds = mutable.ArrayBuffer.empty[Double]
    var heapPeak = 0.0
    var execId = 0L

    def runOne(pass: Int, q: String): Unit = {
      execId += 1
      val tag = s"$execId/"
      val o = Runner.execute[DataFrame](q, c.pins.get(q),
        p => if (tracer.isDefined) sc.setLocalProperty(Tracer.SpanKey, tag + p))(
        () => registry(q)(spark, dir), df => { df.queryExecution.executedPlan; () }, Digest.of)
      sc.setLocalProperty(Tracer.SpanKey, null)
      val persisted = sc.getPersistentRDDs
      val retainedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / Mb
      heapPeak = math.max(heapPeak, liveHeapMb())
      val spans = Runner.Phases.map(p =>
        p -> tracer.map(_.take(tag + p)).getOrElse(new SpanStats)).toMap
      if (pass >= 0)
        spans.values.foreach(_.jobSpans.foreach { case (a, b) => jobSeconds += (b - a) / 1e3 })
      outcomes += ((pass, o, layers(o, spans, persisted.size, retainedMb)))
      // Outside the timed region: every query starts from an empty cache,
      // so its numbers do not depend on what ran before it.
      spark.catalog.clearCache()
      persisted.values.foreach { rdd =>
        // a block the query already dropped may be gone by now
        try rdd.unpersist(blocking = true)
        catch { case NonFatal(e) => System.err.println(s"[perfbench] unpersist ${rdd.id}: ${e.getMessage}") }
      }
      System.err.println(f"[perfbench] pass $pass%d $q%-20s " + o.phases.map(p =>
        f"${p.phase} ${p.seconds}%.3f").mkString(" ") + o.error.map(" FAILED: " + _).getOrElse(""))
    }

    val maintenance = c.pinOut.isDefined || c.profileOut.isDefined
    // The warm-up pass ends the set-up: it takes each query's cold JIT and
    // code-generation cost, so the timed passes measure a warm JVM.
    if (!maintenance) rng.shuffle(c.queries).foreach(q => runOne(Warmup, q))
    val setup = Setup(sessionUp - jvmStart, tablesUp - sessionUp, now() - tablesUp)
    mark("set up")
    val t0 = now()
    var pass = 0
    if (maintenance) {
      c.queries.foreach(q => runOne(0, q))
    } else {
      do {
        rng.shuffle(c.queries).foreach(q => runOne(pass, q))
        pass += 1
      } while (now() - t0 < c.seconds)
    }
    mark(s"ran $pass passes")
    spark.stop()
    mark("stopped")

    val all = outcomes.map(_._2)
    c.pinOut.foreach { path =>
      val lines = all.flatMap(o => o.digest.map(d => s"${o.query}\t${d.rows}\t${d.hex}"))
      java.nio.file.Files.writeString(java.nio.file.Path.of(path), lines.mkString("", "\n", "\n"))
      return if (all.forall(_.digest.isDefined)) 0 else 1
    }
    c.profileOut.foreach { path =>
      writeProfile(path, outcomes.toSeq, c.cores)
      return 0
    }
    report(c, setup, outcomes.toSeq, jobSeconds.toSeq, heapPeak)
    if (all.forall(_.ok)) 0 else 1
  }

  private def fmt(x: Double): String = java.lang.Double.toString(x)

  private def report(c: Conf, setup: Setup,
                     outcomes: Seq[(Int, Outcome, Seq[(String, Double)])],
                     jobSeconds: Seq[Double], heapPeak: Double): Unit = {
    // attempted and failed count the warm-up pass too; timings do not
    val all = outcomes.map(_._2)
    val timed = outcomes.filter(_._1 >= 0)
    val passes = timed.groupBy(_._1).toSeq.sortBy(_._1).map(_._2)
    val ok = timed.map(_._2).filter(_.ok)
    val passWalls = passes.map(_.map(_._2.seconds).sum)
    val latencies = ok.map(_.seconds)
    val failed = all.count(!_.ok)
    val tail = Stats.tail(latencies)

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setup.total, "s"),
      "wall_s" -> (Stats.median(passWalls), "s"))

    // per-layer sums per pass, then the median pass
    val perPass = passes.map(_.flatMap(_._3).groupMapReduce(_._1)(_._2)(_ + _))
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    def unit(k: String) =
      if (k.endsWith("_s") || k.endsWith(".s")) "s" else if (k.endsWith("_mb")) "MB" else "count"
    timed.head._3.map(_._1).foreach(k => layer(k) = (Stats.median(perPass.map(_(k))), unit(k)))
    def total(k: String) = perPass.map(_(k)).sum
    layer("exec.core_util") = (
      if (total("exec.s") > 0) total("exec.task_s") / (total("exec.s") * c.cores) else 0.0, "ratio")
    layer("job.p50_s") = (if (jobSeconds.isEmpty) 0.0 else Stats.median(jobSeconds), "s")
    // These two move by more than a tenth between runs of the same code:
    // the median latency flips between members when a workload has few of
    // them, and post-GC heap depends on when the collector last ran.
    layer("query_p50_s") = (if (latencies.isEmpty) 0.0 else Stats.median(latencies), "s")
    layer("live_heap_peak_mb") = (heapPeak, "MB")
    layer("session.start_s") = (setup.start, "s")
    layer("session.tables_s") = (setup.tables, "s")
    layer("session.warmup_s") = (setup.warmup, "s")
    layer("trace.wall_s") = e2e("wall_s")

    val err = System.err
    err.println(s"[perfbench] workload=${c.workload} seed=${c.seed} cores=${c.cores} " +
      s"passes=${passes.size} executions=${all.size} trace=${c.trace}")
    (e2e ++ (if (c.trace) layer else Nil)).foreach { case (k, (v, u)) =>
      err.println(f"[perfbench]   $k%-26s ${fmt(v)} $u")
    }
    err.println(f"[perfbench]   ${"failed_share"}%-26s ${fmt(Runner.failedShare(all))} ratio")
    err.println(s"[perfbench]   query_tail_s               " + tail.map { case (p, v, n) =>
      s"${fmt(v)} s (p$p, $n of ${latencies.size} samples beyond)" }.getOrElse(
      s"not reported (${latencies.size} samples leave fewer than 10 beyond p50)"))
    err.println(f"[perfbench]   set-up (start+tables+warmup) ${setup.start}%.2f+${setup.tables}%.2f+${setup.warmup}%.2f s")
    err.println(s"[perfbench]   pass walls                 ${passWalls.map(w => f"$w%.3f").mkString(" ")} s")

    val metrics = if (c.trace) layer.toSeq else e2e.toSeq
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0 && all.nonEmpty}, "attempted": ${all.size}, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }

  private def writeProfile(path: String, outcomes: Seq[(Int, Outcome, Seq[(String, Double)])],
                           cores: Int): Unit = {
    val rows = outcomes.map { case (_, o, l) =>
      val fields = l.map { case (k, v) => s""""$k": ${fmt(v)}""" }
      val err = o.error.map(e => s""", "error": "${e.replaceAll("[\"\\\\\\p{Cntrl}]", " ")}"""").getOrElse("")
      s"""  {"query": "${o.query}", "wall_s": ${fmt(o.seconds)}, ${fields.mkString(", ")}$err}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Path.of(path),
      rows.mkString(s"""{"cores": $cores, "queries": [\n""", ",\n", "\n]}\n"))
  }
}
