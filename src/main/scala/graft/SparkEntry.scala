package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The judged surface: one entry per operator from SURVEY.md §2, each a
  * Spark implementation plus (where SQL-expressible) a DuckDB oracle.
  */
object SparkEntry {

  /** Full query catalog, grouped by theme. */
  private def catalog: Seq[Q] =
    Relational.qs ++ Windows.qs ++ Functions.qs ++ Parity.qs ++
      Extensions.qs ++ Fuzz.qs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Multi-join revenue rollup — exercises scan, 6-way join (dims
    * broadcast by Catalyst), partial+final agg, and top-level sort. */
  def entry(spark: SparkSession): DataFrame = {
    val fn = queries("q14_multi_join_revenue")
    fn(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Q.toQueries(catalog)

  /** The query-name filter `Verify` and `Bench` take: comma-separated
    * names, each of which must be in [[queries]] — a misspelt name fails
    * here, before anything runs, instead of selecting nothing. */
  def names(filter: String): Set[String] = {
    val asked = filter.split(",").map(_.trim).filter(_.nonEmpty).toSet
    require(asked.nonEmpty, s"empty query-name filter '$filter'")
    val unknown = asked -- queries.keySet
    require(unknown.isEmpty,
      s"unknown query names: ${unknown.toSeq.sorted.mkString(",")}")
    asked
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Q.toOracle(catalog)
}
