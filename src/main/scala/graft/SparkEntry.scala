package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are assembled from QueryPack modules (one per SURVEY.md §2
  * operator family). Every oracle-checked query keeps identical column
  * names on the Spark and DuckDB sides and ends in a total-order orderBy.
  */
object SparkEntry {

  private val packs: Seq[QueryPack] = Seq(
    TextQueries,
    Relational,
    EventQueries,
    ExtrasQueries,
    StreamingQueries,
    PipelineQueries,
    MaintenanceQueries,
    DedupQueries,
    CrawlQueries,
    SimilarityQueries,
    PqQueries,
    IvfPqQueries,
    TextAnalysis,
    TextModelQueries,
    MultimodalQueries,
    SourceQueries
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TextQueries.queries("wordcount")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    assembled(packs.map(_.queries))

  /** [[queries]] under the mains' dev-loop filter: SPARK_GRAFT_ONLY=q1,q2
    * keeps just those queries; unset keeps every query. */
  def selectedQueries: Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .fold(queries)(ns => queries.filter(kv => ns(kv._1)))

  /** The static oracle contract: for each key in queries, equivalent
    * ANSI SQL runnable by DuckDB on the same parquet tables (omitted for
    * non-SQL-expressible ops), rendered at the gate dir [[Stage.GateDir]].
    * The oracles that read staged files name paths derived from the data
    * dir, so Verify dumps `oracleSqlFor(actual dir)` instead, and the
    * dumped SQL always matches the run. `QueriesSmokeSpec` and
    * `OracleSqlPinSpec` read this map. */
  def oracleSql: Map[String, String] = oracleSqlFor(Stage.GateDir)

  /** Oracle SQL rendered for a specific data dir: every pack's
    * [[QueryPack.oracleSqlFor]], merged. */
  def oracleSqlFor(dataDir: String): Map[String, String] =
    assembled(packs.map(_.oracleSqlFor(dataDir)))

  /** Merge pack maps, failing fast on duplicate query names — Map's
    * last-wins merge would silently shadow a query and its oracle. */
  private def assembled[V](maps: Seq[Map[String, V]]): Map[String, V] = {
    val all = maps.flatten
    val dups = all.groupBy(_._1).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query names across packs: ${dups.mkString(", ")}")
    all.toMap
  }
}
