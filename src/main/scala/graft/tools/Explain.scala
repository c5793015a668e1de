package graft.tools

import scala.util.control.NonFatal

/** Dev-only plan auditor: prints the formatted physical plan of named
  * registered queries (or a compact red-flag summary with -s) so plan
  * regressions — unintended cartesians, missing pushdowns, missed
  * broadcasts — are reviewable without running the final query.
  * Building a plan still runs the query's eager build-time jobs
  * (fits, per-round collects, IO round-trips; DistRank's sketches and
  * totals are scalar subqueries that run with the query, not at
  * build), so an all-query pass costs minutes, not seconds. */
object Explain {
  def main(args: Array[String]): Unit = {
    val summary = args.headOption.contains("-s")
    val names = (if (summary) args.drop(1) else args).toList
    val spark = graft.Sessions.local("4")
      // AQE wraps the plan in AdaptiveSparkPlanExec, whose tree
      // traversal does NOT descend into the inner plan — the audit
      // needs the static plan to walk Window nodes
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val targets = if (names.nonEmpty) names
      else graft.SparkEntry.queries.keys.toList.sorted
    targets.foreach { n =>
      graft.SparkEntry.queries.get(n) match {
        case None => println(s"== $n: UNKNOWN")
        case Some(fn) =>
          try {
            val df = fn(spark, dir)
            if (summary) {
              val f = PlanAudit.audit(df)
              val hit = f.names
              println(f"== $n%-24s exchanges=${f.exchanges}%-3d " +
                (if (hit.isEmpty) "ok" else hit.mkString(",")))
            } else {
              println(s"\n==== $n ====")
              df.explain("formatted")
            }
          } catch { case NonFatal(e) =>
            // getMessage is null for e.g. NPEs — String.valueOf keeps
            // the audit loop alive instead of NPE-ing the reporter.
            println(s"== $n: ERROR ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).take(120))
          }
      }
    }
    spark.stop()
  }
}
