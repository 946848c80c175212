package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 registers one entry in
  * `queries`; SQL-expressible ones also register a DuckDB oracle in
  * `oracleSql` (column names aligned with the Spark output, since the
  * driver's comparator sorts columns by name before hashing values).
  */
object SparkEntry {

  /** All query modules, in inventory order. */
  def modules: Seq[QueryModule] = Seq(
    CoreQueries, IndexedQueries, TextQueries,
    DedupQueries, SimilarityQueries, TextAnalysisQueries,
    MultimodalQueries, DateQueries, JoinQueries, PipelineQueries)

  private lazy val all: Seq[Q] = modules.flatMap(_.queries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    all.head.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
