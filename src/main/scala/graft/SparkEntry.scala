package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The engine's identity is the CDC apply: full
    * decode→collapse→merge of a wal2json change log onto a keyed
    * table. */
  def entry(spark: SparkSession): DataFrame =
    queries("cdc_apply")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryRegistry.queryMap

  /** [[queries]] restricted to the comma-separated names in
    * `SPARK_GRAFT_ONLY` — local iteration on a few queries without a
    * full sweep. Unset, every registered query runs. */
  def selectedQueries: Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(only) =>
        val names = only.split(",").map(_.trim).toSet
        queries.view.filterKeys(names).toMap
      case None => queries
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    QueryRegistry.oracleMap
}
