package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named bundle of queries plus their DuckDB oracle SQL twins.
  *
  * Contract (see SparkEntry): every key in `queries` that is
  * ANSI-SQL-expressible has a matching key in `oracleSqlFor`; result
  * column NAMES must be identical on both sides (the oracle compare sorts
  * columns by name before hashing values). Oracle-checked queries end in a
  * total-order `orderBy` and produce integer / rounded-double outputs
  * only (SURVEY.md §7.4).
  */
trait QueryPack {
  type Q = (SparkSession, String) => DataFrame
  def queries: Map[String, Q]

  /** The oracle SQL rendered for one data dir. Most entries ignore the
    * dir (the oracle compare binds the table views itself); the ones that read a
    * staged file name its path under [[Stage.root]]. The static contract
    * map is [[SparkEntry.oracleSql]], this rendered at [[Stage.GateDir]]. */
  def oracleSqlFor(dataDir: String): Map[String, String]
}
