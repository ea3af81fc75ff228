package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see SURVEY.md §7.
  *
  * The query registry is the concatenation of the per-domain modules'
  * entries, each a [[Query]] holding its build and its DuckDB oracle:
  *  - [[ParityQueries]]     — the reference's capability (order/event stats)
  *  - [[RelationalQueries]] — joins/windows/sorts/set-ops/grouping substrate
  *  - [[PipelineQueries]]   — dedup, similarity, text, tokenizer, sampling
  *    and ingest pipeline operators
  *  - [[ChatQueries]]       — chat-template rendering, packing, preference pairs
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("daily_order_stats")(spark, "/root/testdata/sf0.001")

  /** Every registered query, built once; a repeated name fails by name. */
  lazy val registry: Seq[Query] = uniqueNames(
    ParityQueries.all ++ RelationalQueries.all ++
      PipelineQueries.all ++ ChatQueries.all)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap

  /** `entries` unchanged, or an error naming every name registered twice. */
  private[graft] def uniqueNames(entries: Seq[Query]): Seq[Query] = {
    val repeated = entries.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name
    }.toSeq.sorted
    require(repeated.isEmpty,
      s"query names registered more than once: ${repeated.mkString(", ")}")
    entries
  }
}
