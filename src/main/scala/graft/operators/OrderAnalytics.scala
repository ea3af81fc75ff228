package graft.operators

import graft.functions.WireFields
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity order analytics, Spark-first.
  *
  * The reference (see SURVEY.md §2, citing
  * `src/main/scala/com/kowhoy/App/StreamingAnalysisAppWithKafkaManageOffset.scala:52-77`)
  * consumes order-event JSON — six string fields `time userId courseId fee
  * flag orderId` — derives day/hour/minute from `time` by substring, and
  * computes three conditional aggregates: `total` (record count), `success`
  * (count where flag == "1") and `fee` (sum of fee where flag == "1").
  *
  * Here each step is a composable `DataFrame => DataFrame` built entirely
  * from Catalyst expressions (no UDFs), so the identical logic runs over a
  * batch DataFrame or a Structured Streaming one (see
  * [[graft.streaming.OrderStreamPipeline]]). The aggregation compiles to
  * `HashAggregateExec` partial→final, i.e. the map-side combine the
  * reference got from `reduceByKey` is free, and whole-stage codegen covers
  * the parse→project→agg pipeline.
  *
  * The parse is [[graft.functions.WireFields]]: one pass over the bytes of
  * each canonical line (the producer's flat, all-string, whitespace-free
  * object), with `from_json(value, wireSchema)` as the exact fallback for
  * every other line, so malformed, escaped, nested or re-ordered records
  * read exactly as the JSON parser reads them.
  */
object OrderAnalytics {

  /** Wire schema of the reference's Kafka payload — all strings, matching the
    * producer (`KafkaProducerApp.scala:38-52`: every field stringified). */
  val wireSchema: StructType = StructType(Seq(
    StructField("time", StringType),      // "yyyy-MM-dd HH:mm:ss"
    StructField("userId", StringType),
    StructField("courseId", StringType),
    StructField("fee", StringType),       // numeric string
    StructField("flag", StringType),      // "0" | "1"
    StructField("orderId", StringType)
  ))

  /** Parse a column of raw JSON strings into the wire fields (reference P1/P2).
    *
    * Canonical lines take [[graft.functions.WireFields]]'s single-pass fast
    * path; every other line (whitespace, escapes, non-string or nested
    * values, repeated fields, bytes after the object, malformed or null
    * input) is parsed by `from_json(value, wireSchema)`, whose PERMISSIVE
    * mode turns a malformed record into null fields instead of killing the
    * batch (an upgrade over the reference, which would throw inside
    * foreachRDD). A fee that is not a decimal(18,2) number ("abc", "1e40")
    * reads null under ANSI too (`try_cast`), for the same reason. */
  def parseWire(raw: DataFrame, valueCol: String = "value"): DataFrame =
    raw
      .withColumn("o", WireFields(col(valueCol).cast("string"), wireSchema,
        Seq("time", "fee", "flag")))
      .select(
        col("o.time").as("time"),
        // decimal, not long: a non-integral fee string ("12.50") must not
        // silently null out of the revenue sum; decimal also keeps the
        // downstream aggregation summation-order-exact
        col("o.fee").try_cast(DecimalType(18, 2)).as("fee"),
        col("o.flag").as("flag"))

  /** Derive day/hour/minute from the `time` string (reference P3 — positional
    * substring; semantically `date_format` over the parsed timestamp). */
  def withTimeParts(df: DataFrame, timeCol: String = "time"): DataFrame =
    df.withColumn("day", substring(col(timeCol), 1, 10))
      .withColumn("hour", substring(col(timeCol), 12, 2))
      .withColumn("minute", substring(col(timeCol), 15, 2))

  /** The three reference metrics as aggregate expressions (P4 + A1).
    * `feeCol` is summed through decimal for a deterministic result, then
    * surfaced as double so Spark and external oracles agree bit-for-bit. */
  def metricAggs(flagIsSuccess: Column, feeCol: Column): Seq[Column] = Seq(
    count(lit(1)).as("total"),
    sum(when(flagIsSuccess, 1L).otherwise(0L)).as("success"),
    sum(when(flagIsSuccess, feeCol).otherwise(lit(0)).cast(DecimalType(18, 2)))
      .cast("double").as("fee"))

  /** Keyed stats: groupBy(keys) + the three metrics. Day-only keys reproduce
    * the reference's shipped output; (day,hour,minute) is the declared
    * capability (SURVEY.md §0.1). */
  def stats(df: DataFrame, keys: Seq[Column], flagIsSuccess: Column,
            feeCol: Column): DataFrame = {
    val aggs = metricAggs(flagIsSuccess, feeCol)
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Full reference pipeline over raw JSON values: parse → derive day →
    * per-day conditional aggregate, keyed by day. */
  def dailyStatsFromWire(raw: DataFrame, valueCol: String = "value"): DataFrame = {
    val parsed = withTimeParts(parseWire(raw, valueCol))
    stats(parsed, Seq(col("day")), col("flag") === "1", col("fee"))
      .orderBy(col("day"))
  }
}
