package graft.queries

import graft.Tables
import graft.operators.OrderAnalytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity capability, expressed over the driver test tables.
  *
  * The reference's one query (SURVEY.md §2 A1, citing
  * `StreamingAnalysisAppWithKafkaManageOffset.scala:52-77`) is a per-day
  * conditional aggregate — total orders / completed orders / completed
  * revenue — over JSON order events. Its *declared* capability
  * (SURVEY.md §0.1) extends the same metrics to day/hour/minute. Here:
  *
  *  - `daily_order_stats` — the flagship, on `orders` (day from o_orderdate,
  *    "completed" = o_orderstatus = 'F', revenue = o_totalprice).
  *  - `order_wire_pipeline` — full e2e parity: encodes `orders` rows as the
  *    reference's six-string-field JSON wire format, then runs the real
  *    parse → derive → aggregate pipeline ([[OrderAnalytics]]).
  *  - `event_*_stats` — minute/hour granularity on `events` (ts carries
  *    intra-day precision; "completed" = event_type = 'purchase').
  *  - `event_stats_rollup` — the day/hour/minute hierarchical rollup in one
  *    pass (`ROLLUP`), the declared-granularity superset.
  *  - `json_prop_extract` — JSON field extraction (reference P1/P2) on
  *    `events.props`.
  *
  * All aggregates sum through decimal and surface doubles so results are
  * order-independent and hash-comparable against the DuckDB oracle.
  */
object ParityQueries {

  private def feeDec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  def all: Seq[Query] = Seq(
    Query("daily_order_stats",
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
         count(*) AS total,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS success,
         CAST(sum(CASE WHEN o_orderstatus = 'F'
                       THEN CAST(o_totalprice AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS fee
         FROM orders GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val t = Tables(s, dir)
      t.orders
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .agg(
          count(lit(1)).as("total"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("success"),
          sum(when(col("o_orderstatus") === "F", feeDec(col("o_totalprice")))
            .otherwise(feeDec(lit(0)))).cast("double").as("fee"))
        .orderBy(col("day"))
    },

    Query("order_wire_pipeline",
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
         count(*) AS total,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS success,
         CAST(sum(CASE WHEN o_orderstatus = 'F'
                       THEN CAST(CAST(round(o_totalprice, 0) AS BIGINT) AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS fee
         FROM orders GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val t = Tables(s, dir)
      // Encode rows as the reference's Kafka wire format (all string fields,
      // KafkaProducerApp.scala:38-52), then run the genuine parse pipeline.
      val wire = t.orders.select(to_json(struct(
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("time"),
        col("o_custkey").cast("string").as("userId"),
        col("o_orderkey").cast("string").as("courseId"),
        round(col("o_totalprice"), 0).cast("long").cast("string").as("fee"),
        when(col("o_orderstatus") === "F", "1").otherwise("0").as("flag"),
        col("o_orderkey").cast("string").as("orderId"))).as("value"))
      OrderAnalytics.dailyStatsFromWire(wire)
    },

    Query("event_hourly_stats",
      """SELECT strftime(ts, '%Y-%m-%d %H') AS hour,
         count(*) AS total,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS success,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(value AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS fee
         FROM events GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val t = Tables(s, dir)
      t.events
        .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"))
        .agg(
          count(lit(1)).as("total"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("success"),
          sum(when(col("event_type") === "purchase", col("value").cast(DecimalType(18, 6)))
            .otherwise(lit(0).cast(DecimalType(18, 6)))).cast("double").as("fee"))
        .orderBy(col("hour"))
    },

    Query("event_minute_stats",
      """SELECT strftime(ts, '%Y-%m-%d %H:%M') AS minute,
         count(*) AS total,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS success,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(value AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS fee
         FROM events GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val t = Tables(s, dir)
      t.events
        .groupBy(date_format(col("ts"), "yyyy-MM-dd HH:mm").as("minute"))
        .agg(
          count(lit(1)).as("total"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("success"),
          sum(when(col("event_type") === "purchase", col("value").cast(DecimalType(18, 6)))
            .otherwise(lit(0).cast(DecimalType(18, 6)))).cast("double").as("fee"))
        .orderBy(col("minute"))
    },

    Query("event_stats_rollup",
      """SELECT day, hour, minute,
         count(*) AS total,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS success,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(value AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS fee
         FROM (SELECT strftime(ts, '%Y-%m-%d') AS day, strftime(ts, '%H') AS hour,
                      strftime(ts, '%M') AS minute, event_type, value FROM events)
         GROUP BY ROLLUP(day, hour, minute)
         ORDER BY day NULLS FIRST, hour NULLS FIRST, minute NULLS FIRST""") { (s, dir) =>
      val t = Tables(s, dir)
      t.events
        .select(
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          date_format(col("ts"), "HH").as("hour"),
          date_format(col("ts"), "mm").as("minute"),
          col("event_type"), col("value"))
        .rollup(col("day"), col("hour"), col("minute"))
        .agg(
          count(lit(1)).as("total"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("success"),
          sum(when(col("event_type") === "purchase", col("value").cast(DecimalType(18, 6)))
            .otherwise(lit(0).cast(DecimalType(18, 6)))).cast("double").as("fee"))
        .orderBy(col("day").asc_nulls_first, col("hour").asc_nulls_first,
          col("minute").asc_nulls_first)
    },

    Query("json_prop_extract",
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events ORDER BY event_id""") { (s, dir) =>
      val t = Tables(s, dir)
      t.events
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy(col("event_id"))
    }
  )
}
