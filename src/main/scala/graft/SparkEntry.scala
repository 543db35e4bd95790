package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (plus the north-star
  * training-data extensions) is exposed as a named query over the
  * driver-provided testdata, each with a DuckDB oracle where
  * SQL-expressible.
  */
object SparkEntry {

  /** All query groups. Order matters only for readability. */
  private[graft] def all: Map[String, Q] =
    Relational.defs ++ FireboltOps.defs ++ TrainingOps.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    all("q1_agg").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, q) => k -> q.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.collect { case (k, q) if q.oracle.isDefined => k -> q.oracle.get }
}
