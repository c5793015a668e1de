package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` maps one entry per implemented operator from SURVEY.md §2
  * (plus the LLM-data-pipeline extensions) to a DataFrame builder over
  * the driver's parquet tables; `oracleSql` gives the DuckDB-equivalent
  * SQL for every SQL-expressible entry. Column names and types are
  * aligned pairwise (the driver sorts columns by name and hash-compares
  * values), and every computed double is rounded identically on both
  * sides.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The full physics-baseline slice (SURVEY §7 step 2):
    * scan → group-tail → template join → p+v·Δt → clip → submission id.
    * ANSI-safe: runs under the driver's default session settings. */
  def entry(spark: SparkSession): DataFrame =
    TrackingQ.physicsSubmission(spark, "/root/testdata/sf0.001")

  /** Every query module, each listed once. */
  private def modules: Seq[QueryModule] = Seq(
    TemporalQ, ScalarQ, AggQ, TrackingQ, LlmQ, MlQ, PipelineQ, IoQ,
    FeatureStageQ, CorpusQ, EventsQ, GraphQ, CurationQ, Curation2Q,
    Curation3Q, Curation4Q, Curation5Q, Curation6Q, Curation7Q, Curation8Q,
    Curation9Q, Curation10Q, Curation11Q, Curation12Q, Curation13Q,
    Curation14Q, Curation15Q, Curation16Q, Curation17Q, Curation18Q,
    Curation19Q, Curation20Q, Curation21Q, Curation22Q, Curation23Q,
    Curation24Q, Curation25Q, Curation26Q, Curation27Q, Curation28Q,
    Curation29Q, Curation30Q, Curation31Q, Curation32Q, Curation33Q,
    Curation34Q, Curation35Q, Curation36Q, Curation37Q, Curation38Q,
    Curation39Q, Curation40Q, Curation41Q, Curation42Q, Curation43Q,
    Curation44Q, Curation45Q, Curation46Q, Curation47Q, Curation48Q,
    Curation49Q, Curation50Q, Curation51Q, Curation52Q, Curation53Q,
    Curation54Q, Curation55Q, Curation56Q, Curation57Q, Curation58Q,
    Curation59Q, Curation60Q, Curation61Q, Curation62Q, Curation63Q,
    Curation64Q, Curation65Q, Curation66Q, Curation67Q, Curation68Q,
    Curation69Q, Curation70Q, Curation71Q, Curation72Q, Curation73Q,
    Curation74Q, Curation75Q, Curation76Q, Curation77Q)

  /** The modules' pairs as one map. A name written twice, inside one
    * module or across two, throws instead of letting one entry win. */
  private[graft] def union[V](modules: Seq[Seq[(String, V)]]): Map[String, V] = {
    val pairs = modules.flatten
    val dup = pairs.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dup.isEmpty,
      s"query names registered twice: ${dup.toSeq.sorted.mkString(", ")}")
    pairs.toMap
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    union(modules.map(_.queries))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] = union(modules.map(_.oracle))
}
