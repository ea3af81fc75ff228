package graft.streaming

import graft.operators.OrderAnalytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's streaming pipeline, rebuilt on Structured Streaming.
  *
  * Reference dataflow (SURVEY.md §3.1): Kafka direct stream → per-batch
  * JSON parse → conditional per-day metrics → `reduceByKey` → Redis
  * `HINCRBY` accumulation, with offsets committed after the sink
  * (at-least-once). Here:
  *
  *  - source: any streaming DataFrame with a string `value` column —
  *    `kafkaSource` builds the Kafka reader (needs the spark-sql-kafka
  *    connector on the classpath at runtime); tests use MemoryStream /
  *    file sources, same pipeline code.
  *  - transform: [[OrderAnalytics]] — identical columns/expressions as the
  *    batch path (single most important design property: one logic, both
  *    engines).
  *  - sink: `foreachBatch` aggregates the micro-batch and applies per-day
  *    `hincrBy` deltas to a [[KVStore]] — the reference's
  *    accumulator-in-sink design, where the external store performs the
  *    cross-batch ("final-final") merge and Spark holds no streaming state.
  *  - delivery: offsets advance via the checkpoint WAL only after the
  *    batch completes → at-least-once, same as the reference's
  *    post-sink `commitAsync`. `idempotent = true` upgrades to
  *    effectively-once by skipping already-applied batch ids.
  *
  * Scale: each micro-batch runs the same partial→final hash aggregation as
  * the batch engine; the sink sends three synchronous `HINCRBY`s per
  * distinct day in the batch. That is independent of input volume but not
  * small: late orders spread a batch over many days, and `perfbench`'s
  * `stream_live` (25% late orders) sends 700–1,050 `HINCRBY`s per batch,
  * so store round trips are a real share of each batch's time.
  */
final class OrderStreamPipeline(
    store: KVStore,
    keyPrefix: String,
    idempotent: Boolean) extends Serializable {

  /** Registry-addressed store (JVM-singleton backends; tests/local mode).
    * The primary constructor takes any serializable [[KVStore]] handle —
    * e.g. [[RespKVStore]] — which executor closures capture directly, so
    * nothing needs registering on executors. */
  def this(storeName: String, keyPrefix: String = "n-ko-",
           idempotent: Boolean = false) =
    this(KVStore.named(storeName), keyPrefix, idempotent)

  /** Aggregate one micro-batch and apply deltas to the store. Public so
    * unit tests can exercise replay semantics directly.
    *
    * Idempotent mode marks the batch applied only AFTER the sink job
    * succeeds: a batch that fails mid-apply is NOT marked, so its replay
    * re-runs (a crash between apply and mark degrades to at-least-once
    * for that one batch — never to silent loss, which marking up front
    * would cause). */
  def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    if (!idempotent || !store.batchSeen(batchId)) {
      val agg = OrderAnalytics.stats(
        OrderAnalytics.withTimeParts(OrderAnalytics.parseWire(batch))
          .filter(col("day").isNotNull),
        Seq(col("day")), col("flag") === "1", col("fee"))
      val prefix = keyPrefix
      val kv = store   // serializable handle, captured by the task closure
      // a day whose successful orders all carry an unreadable fee sums to
      // null: it adds 0, not a failed batch
      agg.select(col("day"), col("total"), col("success"),
          coalesce(col("fee").cast("long"), lit(0L)).as("fee"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.foreach { r =>
            val key = prefix + r.getString(0)
            kv.hincrBy(key, "total", r.getLong(1))
            kv.hincrBy(key, "success", r.getLong(2))
            kv.hincrBy(key, "fee", r.getLong(3))
          }
        }
      if (idempotent) store.markBatch(batchId)
    }
  }

  /** Wire a raw streaming DataFrame (string `value` column) to the sink. */
  def start(raw: DataFrame, checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    raw.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) => applyBatch(batch, batchId) }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}

object OrderStreamPipeline {

  /** Kafka source per the reference's consumer setup
    * (`...WithKafkaManageOffset.scala:28-45`: earliest reset, manual
    * commit — subsumed by the checkpoint WAL). Requires the Kafka
    * connector jar at runtime. */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .selectExpr("CAST(value AS STRING) AS value")

  /** The idiomatic alternative to the accumulator sink: watermarked
    * event-time windowed aggregation with state in Spark's state store.
    * Late data beyond the watermark is dropped (the reference instead
    * applies it to old keys forever — both behaviors are offered). */
  def idiomaticDailyAgg(raw: DataFrame, watermark: String = "1 day"): DataFrame = {
    val parsed = OrderAnalytics.parseWire(raw)
      .withColumn("ts", to_timestamp(col("time"), "yyyy-MM-dd HH:mm:ss"))
      .filter(col("ts").isNotNull)
      .withWatermark("ts", watermark)
    parsed
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(
        count(lit(1)).as("total"),
        sum(when(col("flag") === "1", 1L).otherwise(0L)).as("success"),
        sum(when(col("flag") === "1", col("fee")).otherwise(lit(0)))
          .cast("long").as("fee"))
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("total"), col("success"), col("fee"))
  }
}
