package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the ANSI SQL DuckDB runs over the same
  * parquet tables as its oracle, and the Spark build `(spark, sfDir)`.
  * Every entry carries an oracle; `tools/check.py` compares the two. */
final case class Query(name: String, oracleSql: String)(
    val build: (SparkSession, String) => DataFrame)
