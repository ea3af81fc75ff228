package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core relational operator coverage — scan, filter/project with pushdown,
  * hash aggregation, broadcast/shuffle joins, semi/anti joins, window
  * functions, sort/limit, set ops, distinct aggregates, grouping sets.
  *
  * The reference needs none of these beyond its single aggregation
  * (SURVEY.md §2.2 marks them absent), but they are the relational
  * substrate any replacement engine must offer; each is declarative
  * DataFrame code so Catalyst plans them (broadcast for dims, partial
  * aggregation, pushed filters — verified via explain in BenchNotes).
  *
  * Determinism rules for oracle parity: double sums go through
  * per-row DECIMAL casts (order-independent exact addition) and are
  * surfaced as doubles; every ordering has a unique tie-break key.
  */
object RelationalQueries {

  private def dec2(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))
  private def dec6(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 6))

  def all: Seq[Query] = Seq(
    // TPC-H Q1-shaped scan → filter → hash agg (partial+final, codegen'd).
    Query("q1_agg",
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""") { (s, dir) =>
      val t = Tables(s, dir)
      t.lineitem
        .filter(col("l_shipdate") <= lit("1999-12-31").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax")))).cast("double").as("sum_charge"),
          (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // Projection + predicate that must reach the parquet scan
    // (PushedFilters / 2-column ReadSchema).
    Query("q_filter_project",
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity > 45.0 ORDER BY l_orderkey, l_linenumber""") { (s, dir) =>
      val t = Tables(s, dir)
      t.lineitem
        .filter(col("l_quantity") > 45.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // TPC-H Q3-shaped 3-way join: broadcast dim (customer) into orders,
    // shuffle join with lineitem, agg, top-k by revenue.
    Query("q3_join_topk",
      """SELECT l_orderkey, o_orderdate,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey LIMIT 10""") { (s, dir) =>
      val t = Tables(s, dir)
      val cust = t.customer.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = t.orders
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      val li = t.lineitem
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord.join(broadcast(cust), col("o_custkey") === col("c_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(dec6(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // Broadcast star join across three dims + distinct + sort.
    Query("q_broadcast_star",
      """SELECT r_name, n_name, count(*) AS n_cust,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""") { (s, dir) =>
      val t = Tables(s, dir)
      t.customer
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(dec2(col("c_acctbal"))).cast("double").as("sum_bal"))
        .orderBy(col("r_name"), col("n_name"))
    },

    // Left-semi join: orders having at least one high-quantity line (EXISTS).
    Query("q_semi_join",
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity >= 49.0)
         ORDER BY o_orderkey""") { (s, dir) =>
      val t = Tables(s, dir)
      val big = t.lineitem.filter(col("l_quantity") >= 49.0)
        .select(col("l_orderkey"))
      t.orders.join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },

    // Left-anti join: customers with no large order (NOT EXISTS).
    Query("q_anti_join",
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
         ORDER BY c_custkey""") { (s, dir) =>
      val t = Tables(s, dir)
      val big = t.orders.filter(col("o_totalprice") > 300000.0)
        .select(col("o_custkey"))
      t.customer.join(big, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    // Ranking window: top-3 parts by retail price per brand.
    Query("q_window_topk",
      """SELECT p_brand, rk, p_partkey, p_retailprice FROM (
           SELECT p_brand, p_partkey, p_retailprice,
             row_number() OVER (PARTITION BY p_brand
               ORDER BY p_retailprice DESC, p_partkey) AS rk
           FROM part) WHERE rk <= 3 ORDER BY p_brand, rk""") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      t.part
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("p_brand"), col("rk"), col("p_partkey"), col("p_retailprice"))
        .orderBy(col("p_brand"), col("rk"))
    },

    // Analytic window: per-supplier running quantity ordered by ship date
    // (unique tie-break: orderkey, linenumber).
    Query("q_window_running",
      """SELECT l_suppkey, l_orderkey, l_linenumber,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
           PARTITION BY l_suppkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
         FROM lineitem WHERE l_suppkey <= 10
         ORDER BY l_suppkey, l_orderkey, l_linenumber""") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.lineitem
        .filter(col("l_suppkey") <= 10)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(dec2(col("l_quantity"))).over(w).cast("double").as("running_qty"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    },

    // Skew-safe fact-dim shuffle join: fact salted, dim replicated 8x —
    // result identical to the plain join (which IS the oracle).
    Query("q_salted_join",
      """WITH dim AS (SELECT user_id, count(*) AS user_n FROM events GROUP BY user_id)
         SELECT e.event_type, count(*) AS n, CAST(sum(d.user_n) AS BIGINT) AS s
         FROM events e JOIN dim d USING (user_id)
         GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val t = Tables(s, dir)
      val dim = t.events.groupBy(col("user_id")).agg(count(lit(1)).as("user_n"))
      graft.operators.Skew
        .saltedJoin(t.events.select(col("event_id"), col("user_id"),
          col("event_type")), dim, "user_id", saltFactor = 8,
          graft.operators.Skew.SaltMode.FromId(col("event_id")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_n")).as("s"))
        .orderBy(col("event_type"))
    },

    // RANGE-frame sliding window: 7-day rolling revenue over the daily
    // aggregate. rangeBetween on a day number handles calendar gaps exactly
    // like the INTERVAL frame in ANSI engines; sums stay DECIMAL inside the
    // frame so float ordering can't break cross-engine equality. The window
    // runs over the (tiny) daily aggregate, not the event stream — at scale
    // the shuffle is days-sized.
    Query("q_rolling_7day",
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day,
             sum(CAST(value AS DECIMAL(18,6))) AS rev
           FROM events GROUP BY 1)
         SELECT strftime(day, '%Y-%m-%d') AS day,
           round(CAST(rev AS DOUBLE), 6) AS revenue,
           round(CAST(sum(rev) OVER (ORDER BY day
             RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
             AS DOUBLE), 6) AS roll_sum_7d,
           count(*) OVER (ORDER BY day
             RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW) AS n_days_7d
         FROM daily ORDER BY day""") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val daily = t.events
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast(DecimalType(18, 6))).as("rev"))
      // Unpartitioned Window = one task — fine HERE and forever: its input
      // is the per-day aggregate (one row per calendar day, bounded at
      // ~365/year however large the event stream), never the raw events.
      val w = Window.orderBy(col("day_num")).rangeBetween(-6, 0)
      daily
        .withColumn("day_num", datediff(col("day"), lit("1970-01-01").cast("date")))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          round(col("rev").cast("double"), 6).as("revenue"),
          round(sum(col("rev")).over(w).cast("double"), 6).as("roll_sum_7d"),
          count(lit(1)).over(w).as("n_days_7d"))
        .orderBy(col("day"))
    },

    // Time-series gap-fill + forward-fill (operators.TimeSeries): each
    // user's daily event stream regularized onto a dense day grid —
    // generated days carry n_events = 0 and the last observed `value`
    // carried forward (latest event in a bucket wins, (ts, event_id)
    // tie-break). Buckets are INTEGER days-since-epoch, so the grid
    // arithmetic is exact on both engines and the DuckDB oracle —
    // generate_series grid + the portable grouping-run forward fill —
    // holds counts, flags, and carried doubles to hash equality. The
    // fill value is always an ORIGINAL stored double (no arithmetic),
    // hence bit-exact.
    Query("q_gapfill_ffill",
      // Grid arithmetic is exact integer day indexes; the forward fill is
      // re-derived portably with the grouping-run trick (count of non-null
      // so far = fill group, max within group = the carried value), so no
      // IGNORE NULLS support is assumed of the oracle engine.
      """WITH e AS (SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS bucket,
               ts, event_id, value
             FROM events),
            obs AS (SELECT user_id, bucket, count(*) AS n_events,
                      (max(struct_pack(ts := ts, eid := event_id,
                                       v := value))).v AS vlast
                    FROM e GROUP BY 1, 2),
            r AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
                  FROM obs GROUP BY 1),
            grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket
                     FROM r),
            j AS (SELECT g.user_id, g.bucket,
                    coalesce(o.n_events, 0) AS n_events,
                    o.n_events IS NOT NULL AS observed, o.vlast
                  FROM grid g LEFT JOIN obs o
                    ON g.user_id = o.user_id AND g.bucket = o.bucket),
            w AS (SELECT user_id, bucket, n_events, observed, vlast,
                    count(vlast) OVER (PARTITION BY user_id ORDER BY bucket
                                       ROWS UNBOUNDED PRECEDING) AS grp
                  FROM j)
         SELECT user_id, bucket, n_events, observed,
           max(vlast) OVER (PARTITION BY user_id, grp) AS value_ffill
         FROM w ORDER BY user_id, bucket""") { (s, dir) =>
      val t = Tables(s, dir)
      graft.operators.TimeSeries.gapFillForwardFill(t.events,
          key = col("user_id"),
          bucket = datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long"),
          value = col("value"),
          tieBreak = Seq(col("ts"), col("event_id")))
        .select(col("key").as("user_id"), col("bucket"),
          col("n_events"), col("observed"), col("value_ffill"))
        .orderBy(col("user_id"), col("bucket"))
    },

    // Linear interpolation across the same grid (the third standard
    // fill mode): generated buckets between two observed values lerp,
    // trailing buckets fall back to the carried value. Bit-exact across
    // engines — integer buckets convert to double exactly and +−×÷ are
    // each correctly rounded, so identical expression shape gives
    // identical bits and the oracle hash holds without a tolerance.
    Query("q_gapfill_interp",
      // Same grid and carried values as q_gapfill_ffill; the previous
      // observed bucket is a running max (buckets ascend, so max == last
      // non-null without IGNORE NULLS), and the NEXT observed (bucket,
      // value) pair rides one struct-min over the following window so the
      // pair can never be torn. The lerp's expression shape matches the
      // Spark side exactly — each IEEE op correctly rounded, hence
      // hash-exact.
      """WITH e AS (SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS bucket,
               ts, event_id, value
             FROM events),
            obs AS (SELECT user_id, bucket, count(*) AS n_events,
                      (max(struct_pack(ts := ts, eid := event_id,
                                       v := value))).v AS vlast
                    FROM e GROUP BY 1, 2),
            r AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
                  FROM obs GROUP BY 1),
            grid AS (SELECT user_id, unnest(generate_series(b0, b1)) AS bucket
                     FROM r),
            j AS (SELECT g.user_id, g.bucket,
                    coalesce(o.n_events, 0) AS n_events,
                    o.n_events IS NOT NULL AS observed, o.vlast
                  FROM grid g LEFT JOIN obs o
                    ON g.user_id = o.user_id AND g.bucket = o.bucket),
            w AS (SELECT user_id, bucket, n_events, observed, vlast,
                    count(vlast) OVER (PARTITION BY user_id ORDER BY bucket
                                       ROWS UNBOUNDED PRECEDING) AS grp
                  FROM j),
            f AS (SELECT user_id, bucket, n_events, observed,
                    max(vlast) OVER (PARTITION BY user_id, grp) AS vf
                  FROM w),
            nn AS (SELECT user_id, bucket, n_events, observed, vf,
                     max(CASE WHEN observed THEN bucket END)
                       OVER (PARTITION BY user_id ORDER BY bucket
                             ROWS UNBOUNDED PRECEDING) AS pb,
                     min(CASE WHEN observed
                              THEN struct_pack(b := bucket, v := vf) END)
                       OVER (PARTITION BY user_id ORDER BY bucket
                             ROWS BETWEEN 1 FOLLOWING
                                      AND UNBOUNDED FOLLOWING) AS nx
                   FROM f)
         SELECT user_id, bucket, n_events, observed,
           CASE WHEN observed OR nx IS NULL THEN vf
                ELSE vf + ((nx).v - vf)
                  * (CAST(bucket - pb AS DOUBLE)
                     / CAST((nx).b - pb AS DOUBLE)) END AS value_interp
         FROM nn ORDER BY user_id, bucket""") { (s, dir) =>
      val t = Tables(s, dir)
      graft.operators.TimeSeries.gapFillInterpolate(t.events,
          key = col("user_id"),
          bucket = datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long"),
          value = col("value"),
          tieBreak = Seq(col("ts"), col("event_id")))
        .select(col("key").as("user_id"), col("bucket"),
          col("n_events"), col("observed"), col("value_interp"))
        .orderBy(col("user_id"), col("bucket"))
    },

    // Rolling z-score anomaly scoring of each user's daily value total
    // against its own trailing week — exact DECIMAL rolling moments, so
    // the score is engine-independent without a tolerance.
    Query("ts_anomaly",
      // Mirrors anomalyZScore's exact-moment construction: round-6
      // quantized values, DECIMAL Σv and Σv² (associativity-free — the
      // segment-tree window sum cannot diverge from Spark's running sum),
      // then identical correctly-rounded ÷ √ − shapes.
      """WITH d AS (SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v0
             FROM events GROUP BY 1, 2),
            q AS (SELECT user_id, day, round(v0, 6) AS v,
                    CAST(round(v0, 6) AS DECIMAL(38,6)) AS v1,
                    CAST(round(round(v0, 6) * round(v0, 6), 6)
                      AS DECIMAL(38,6)) AS v2
                  FROM d),
            wnd AS (SELECT user_id, day, v,
                      count(v1) OVER w AS n_prior,
                      CAST(sum(v1) OVER w AS DOUBLE) AS s1,
                      CAST(sum(v2) OVER w AS DOUBLE) AS s2
                    FROM q
                    WINDOW w AS (PARTITION BY user_id ORDER BY day
                                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
            sc AS (SELECT user_id, day, v, n_prior,
                     CASE WHEN n_prior >= 2 AND
                         sqrt(greatest((s2 - s1 * s1 / n_prior)
                                         / (n_prior - 1), 0.0)) > 0
                       THEN round((v - s1 / n_prior)
                         / sqrt(greatest((s2 - s1 * s1 / n_prior)
                                           / (n_prior - 1), 0.0)), 6)
                     END AS z
                   FROM wnd)
         SELECT user_id, day, v, n_prior, z,
           coalesce(abs(z) > 3.0, false) AS is_anomaly
         FROM sc ORDER BY user_id, day""") { (s, dir) =>
      val t = Tables(s, dir)
      val daily = t.events
        .groupBy(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("day"))
        .agg(sum(col("value")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("v"))
      graft.operators.TimeSeries
        .anomalyZScore(daily, col("user_id"), col("day"), col("v"), win = 7)
        .select(col("key").as("user_id"), col("bucket").as("day"), col("v"),
          col("n_prior"), col("z"), col("is_anomaly"))
        .orderBy(col("user_id"), col("day"))
    },

    // Final EWMA level per user over the same daily series (α = 0.25 —
    // both α and 1−α are exactly representable, so the fold is
    // bit-reproducible on any engine).
    Query("ts_ewma",
      // list_reduce seeds with the first element, exactly like the Spark
      // fold's slice-plus-init — same per-step IEEE ops, same order.
      """WITH d AS (SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
             FROM events GROUP BY 1, 2),
            a AS (SELECT user_id, count(*) AS n_points,
                    max(day) AS last_bucket,
                    list(v ORDER BY day) AS vals
                  FROM d GROUP BY 1)
         SELECT user_id, n_points, last_bucket,
           round(list_reduce(vals,
             (acc, x) -> 0.25 * x + (1.0 - 0.25) * acc), 6) AS ewma
         FROM a ORDER BY user_id""") { (s, dir) =>
      val t = Tables(s, dir)
      val daily = t.events
        .groupBy(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("day"))
        .agg(sum(col("value")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("v"))
      graft.operators.TimeSeries
        .ewma(daily, col("user_id"), col("day"), col("v"), alpha = 0.25)
        .select(col("key").as("user_id"), col("n_points"),
          col("last_bucket"), col("ewma"))
        .orderBy(col("user_id"))
    },

    // Holt double exponential smoothing (level + trend) over the same
    // daily series — α = 0.5, β = 0.25: both factors AND their
    // complements are exactly representable, so the two-field fold is
    // bit-reproducible and the oracle replays it without a tolerance.
    Query("ts_holt",
      // The Holt recurrence unrolled as a recursive CTE, one step per
      // (user, observation) — same IEEE ops in the same order as the
      // Spark fold, so the hash holds without a tolerance. (A DuckDB
      // struct-accumulator list_reduce was tried first and mis-evaluates
      // the second field — the recursion is the explicit, engine-stable
      // form.)
      """WITH RECURSIVE d0 AS (SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
             FROM events GROUP BY 1, 2),
            d AS (SELECT user_id, day, v,
                    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
                  FROM d0),
            n AS (SELECT user_id, count(*) AS n_points,
                    max(day) AS last_bucket FROM d GROUP BY 1),
            rec(user_id, i, l, b) AS (
              SELECT user_id, 1, v, CAST(0.0 AS DOUBLE) FROM d WHERE rn = 1
              UNION ALL
              SELECT r.user_id, r.i + 1,
                0.5 * d.v + 0.5 * (r.l + r.b),
                0.25 * ((0.5 * d.v + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b
              FROM rec r JOIN d ON d.user_id = r.user_id AND d.rn = r.i + 1)
         SELECT rec.user_id, n.n_points, n.last_bucket,
           round(l, 6) AS level, round(b, 6) AS trend,
           round(l + b, 6) AS forecast_1
         FROM rec JOIN n ON n.user_id = rec.user_id AND rec.i = n.n_points
         ORDER BY rec.user_id""") { (s, dir) =>
      val t = Tables(s, dir)
      val daily = t.events
        .groupBy(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            .cast("long").as("day"))
        .agg(sum(col("value")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("v"))
      graft.operators.TimeSeries
        .holt(daily, col("user_id"), col("day"), col("v"),
          alpha = 0.5, beta = 0.25)
        .select(col("key").as("user_id"), col("n_points"),
          col("last_bucket"), col("level"), col("trend"), col("forecast_1"))
        .orderBy(col("user_id"))
    },

    // PageRank over the (sparse, undirected) supplier—part co-occurrence
    // graph: 5 power iterations, engine-exact DECIMAL contribution sums.
    Query("graph_pagerank", pageRankSql(5)) { (s, dir) =>
      val t = Tables(s, dir)
      graft.operators.Graph
        .pageRank(graphEdges(t), col("a"), col("b"), iters = 5)
        .orderBy(col("node"))
    },

    // STANDARD-definition PageRank on a graph WITH sinks: the DIRECTED
    // supplier→part edges (parts have no out-edges, so ~half the nodes
    // dangle) with per-iteration dangling-mass redistribution — the
    // mode that closes the documented dropped-mass trade. The oracle
    // unrolls the recurrence including each iteration's exact DECIMAL
    // dangling sum.
    Query("graph_pagerank_dangling", pageRankDanglingSql(5)) { (s, dir) =>
      val t = Tables(s, dir)
      graft.operators.Graph
        .pageRank(directedGraphEdges(t), col("a"), col("b"), iters = 5,
          danglingRedistribution = true)
        .orderBy(col("node"))
    },

    // Connected components of the same graph (min-id labels) via the
    // union-find / pointer-jumping operator the dedup family uses.
    Query("graph_components",
      // Min-label transitive closure to fixpoint: r holds (v, u) for every
      // u that reaches v; the component label is the minimum — exactly the
      // min-root invariant of the union-find/pointer-jumping operator.
      s"""WITH RECURSIVE $graphBaseSql,
            r(node, lab) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT e.dst, r.lab FROM r JOIN e ON e.src = r.node)
         SELECT node AS id, min(lab) AS label FROM r
         GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val t = Tables(s, dir)
      graft.operators.Dedup
        .componentsFromPairs(graphEdges(t)
          .select(col("a").as("id_a"), col("b").as("id_b")))
        .orderBy(col("id"))
    },

    // HITS hubs/authorities on the DIRECTED supplier→part graph
    // (bipartite: hubs = suppliers, authorities = parts), 4 rounds,
    // L1-normalized engine-exact iteration.
    Query("graph_hits", {
      // HITS unrolled: per round an exact-DECIMAL in-neighbor hub sum,
      // L1 normalization in IEEE doubles, re-quantized — then the same
      // for hubs over the fresh authorities. Same DECIMAL discipline as
      // the pageRank oracles.
      val iters = 4
      val steps = (1 to iters).map { k =>
        s"""arr$k AS MATERIALIZED (SELECT e.dst AS node,
                    sum(CAST(h.h AS DECIMAL(38,9))) AS s
                  FROM e JOIN h${k - 1} h ON e.src = h.node GROUP BY 1),
            arf$k AS MATERIALIZED (SELECT n.node,
                        coalesce(s, CAST(0 AS DECIMAL(38,9))) AS ar
                      FROM nodes n LEFT JOIN arr$k r ON n.node = r.node),
            a$k AS MATERIALIZED (SELECT node, round(CAST(ar AS DOUBLE)
                      / (SELECT CAST(sum(ar) AS DOUBLE) FROM arf$k), 9)
                      AS a
                    FROM arf$k),
            hrr$k AS MATERIALIZED (SELECT e.src AS node,
                        sum(CAST(a.a AS DECIMAL(38,9))) AS s
                      FROM e JOIN a$k a ON e.dst = a.node GROUP BY 1),
            hrf$k AS MATERIALIZED (SELECT n.node,
                        coalesce(s, CAST(0 AS DECIMAL(38,9))) AS hr
                      FROM nodes n LEFT JOIN hrr$k r ON n.node = r.node),
            h$k AS MATERIALIZED (SELECT node, round(CAST(hr AS DOUBLE)
                      / (SELECT CAST(sum(hr) AS DOUBLE) FROM hrf$k), 9)
                      AS h
                    FROM hrf$k)"""
      }.mkString(",\n")
      s"""WITH fd AS (SELECT CAST(l_suppkey AS BIGINT) AS a,
               CAST(l_partkey AS BIGINT) + 10000000 AS b
             FROM lineitem WHERE l_quantity >= 48),
           e AS (SELECT DISTINCT a AS src, b AS dst FROM fd),
           nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM nodes),
           $steps
         SELECT h.node AS node, h.h AS hub, a.a AS authority
         FROM h$iters h JOIN a$iters a USING (node) ORDER BY node"""
    }) { (s, dir) =>
      val t = Tables(s, dir)
      graft.operators.Graph
        .hits(directedGraphEdges(t), col("a"), col("b"), iters = 4)
        .orderBy(col("node"))
    },

    // Label-propagation communities (synchronous, 4 rounds,
    // smallest-label tie-break) on the undirected co-occurrence graph.
    Query("graph_label_prop", {
      // The synchronous recurrence unrolled: per round, votes = in-
      // neighbor labels counted per (dst, label), mode = row_number over
      // (cnt DESC, label ASC), keep-own for nodes with no in-edges.
      val iters = 4
      val steps = (1 to iters).map { k =>
        s"""v$k AS (SELECT e.dst, l.lab, count(*) AS cnt
                    FROM e JOIN l${k - 1} l ON e.src = l.node
                    GROUP BY 1, 2),
            m$k AS (SELECT dst, lab FROM (
                      SELECT dst, lab, row_number() OVER (
                        PARTITION BY dst ORDER BY cnt DESC, lab ASC) AS rn
                      FROM v$k) WHERE rn = 1),
            l$k AS (SELECT l.node, coalesce(m.lab, l.lab) AS lab
                    FROM l${k - 1} l LEFT JOIN m$k m ON l.node = m.dst)"""
      }.mkString(",\n")
      s"""WITH $graphBaseSql,
            l0 AS (SELECT node, node AS lab FROM nodes),
            $steps
         SELECT node AS id, lab AS label FROM l$iters ORDER BY id"""
    }) { (s, dir) =>
      val t = Tables(s, dir)
      graft.operators.Graph
        .labelPropagation(graphEdges(t), col("a"), col("b"), iters = 4)
        .orderBy(col("id"))
    },

    // Global sort + limit (TakeOrderedAndProject, no full sort at scale).
    Query("q_sort_limit",
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""") { (s, dir) =>
      val t = Tables(s, dir)
      t.orders
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
    },

    // Distinct aggregates alongside plain ones.
    Query("q_distinct_agg",
      """SELECT l_returnflag,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT l_partkey) AS n_part,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      val t = Tables(s, dir)
      t.lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },

    // Set operations: UNION / INTERSECT / EXCEPT over key sets.
    Query("q_set_ops",
      """WITH auto AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
            bldg AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING')
         SELECT * FROM (
           SELECT 'union' AS op, c_nationkey FROM (SELECT DISTINCT c_nationkey FROM (SELECT * FROM auto UNION ALL SELECT * FROM bldg))
           UNION ALL
           SELECT 'intersect' AS op, c_nationkey FROM (SELECT c_nationkey FROM auto INTERSECT SELECT c_nationkey FROM bldg)
           UNION ALL
           SELECT 'except' AS op, c_nationkey FROM (SELECT c_nationkey FROM auto EXCEPT SELECT c_nationkey FROM bldg)
         ) ORDER BY op, c_nationkey""") { (s, dir) =>
      val t = Tables(s, dir)
      val auto = t.customer.filter(col("c_mktsegment") === "AUTOMOBILE")
        .select(col("c_nationkey"))
      val bldg = t.customer.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_nationkey"))
      val u = auto.union(bldg).distinct().withColumn("op", lit("union"))
      val i = auto.intersect(bldg).withColumn("op", lit("intersect"))
      val e = auto.except(bldg).withColumn("op", lit("except"))
      u.union(i).union(e)
        .select(col("op"), col("c_nationkey"))
        .orderBy(col("op"), col("c_nationkey"))
    },

    // Grouping sets via CUBE with grouping_id to disambiguate null keys.
    Query("q_cube",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""") { (s, dir) =>
      val t = Tables(s, dir)
      t.lineitem
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("l_quantity"))).cast("double").as("qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },

    // Approximate distinct (HLL++), SELF-CERTIFYING for the exact-hash
    // oracle protocol: an estimator's value differs engine to engine, so
    // instead of dumping it we dump the exact count plus a boolean
    // attesting the estimate landed within 2x the configured rsd (0.05
    // default -> 10% gate; the tight 5% assertion lives in PropertySpec).
    // DuckDB's side of the compare is then fully deterministic (`true`),
    // and a broken estimator flips the boolean -> hash mismatch. The
    // exact count costs one extra shuffle at VERIFY scale; the estimator
    // itself is still what this entry exists to exercise.
    Query("q_approx_distinct",
      // The estimator attests its own bound (see the query's comment); the
      // oracle side is the deterministic remainder: exact counts + `true`.
      """SELECT count(*) AS n, count(DISTINCT user_id) AS exact_users,
           true AS within_bound FROM events""") { (s, dir) =>
      val t = Tables(s, dir)
      t.events.agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        count_distinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
        .select(col("n"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users"))
            <= col("exact_users") * 0.10).as("within_bound"))
    },

    // MERGEABLE sketch rollup — the warehouse pattern the one-shot
    // q_approx_distinct can't show: materialize one DataSketches HLL
    // sketch per day (the pre-aggregated sketch table), then answer
    // arbitrary date-range distinct-count questions by UNIONING stored
    // sketches — never rescanning events. Self-certifying like the
    // other sketch queries: each range row carries the exact distinct
    // (report-sized at sf; the thing the sketch replaces at 100 TB) and
    // a boolean attesting the union estimate landed within 10% (default
    // lgConfigK=12 → ~1.6% expected error, so the bound has headroom).
    Query("q_sketch_rollup",
      // Self-certifying (see the query comment): the oracle is the exact
      // per-range distinct + `true`; the union-estimate bound is attested
      // Spark-side.
      """WITH d AS (SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
             FROM events)
         SELECT 'month' AS range_name, count(DISTINCT day) AS n_days,
           count(DISTINCT user_id) AS exact_users, true AS within_bound
         FROM d WHERE day BETWEEN 19723 AND 19752
         UNION ALL
         SELECT 'week1', count(DISTINCT day), count(DISTINCT user_id), true
         FROM d WHERE day BETWEEN 19723 AND 19729
         UNION ALL
         SELECT 'weeks2_3', count(DISTINCT day), count(DISTINCT user_id), true
         FROM d WHERE day BETWEEN 19730 AND 19743
         ORDER BY range_name""") { (s, dir) =>
      val t = Tables(s, dir)
      val day = datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
      val daily = t.events.groupBy(day.as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .localCheckpoint(true) // the materialized per-day sketch table
      def range(name: String, lo: Int, hi: Int) = {
        val est = daily.filter(col("day").between(lo, hi))
          .agg(count(lit(1)).as("n_days"),
            hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        val exact = t.events.filter(day.between(lo, hi))
          .agg(count_distinct(col("user_id")).as("exact_users"))
        est.crossJoin(exact).select(lit(name).as("range_name"),
          col("n_days"), col("exact_users"),
          (abs(col("est") - col("exact_users"))
            <= col("exact_users") * 0.10).as("within_bound"))
      }
      // the events corpus spans 2024-01-01 (epoch day 19723) … 01-30
      range("week1", 19723, 19729)
        .unionByName(range("weeks2_3", 19730, 19743))
        .unionByName(range("month", 19723, 19752))
        .orderBy(col("range_name"))
    },

    // KLL quantile rollup — q_sketch_rollup's pattern extended from
    // distinct counts to QUANTILES: one mergeable KLL sketch per day
    // (DataSketches, k=200 → normalized rank error ~1.3%), arbitrary
    // date-range p50/p90/p99 answered by UNIONING stored sketches,
    // never rescanning events. Self-certifying: for each range the
    // EXACT rank of every estimated quantile is computed from the
    // range's rows (one pass; the thing the sketch replaces at 100 TB)
    // and a boolean attests |rank − q| ≤ 2·eps, eps read from the
    // sketch itself. Oracle side is the deterministic remainder: exact
    // n_days/n + `true`.
    Query("q_quantile_rollup",
      // Self-certifying (see the query comment): the oracle is the exact
      // per-range day/row counts + `true`; the quantile rank bound is
      // attested Spark-side from the range's own rows.
      """WITH d AS (SELECT value,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
             FROM events)
         SELECT 'month' AS range_name, count(DISTINCT day) AS n_days,
           count(*) AS n, true AS p50_ok, true AS p90_ok, true AS p99_ok
         FROM d WHERE day BETWEEN 19723 AND 19752
         UNION ALL
         SELECT 'week1', count(DISTINCT day), count(*), true, true, true
         FROM d WHERE day BETWEEN 19723 AND 19729
         UNION ALL
         SELECT 'weeks2_3', count(DISTINCT day), count(*), true, true, true
         FROM d WHERE day BETWEEN 19730 AND 19743
         ORDER BY range_name""") { (s, dir) =>
      val t = Tables(s, dir)
      import graft.functions.SketchAggregators
      val day = datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
      val daily = t.events.groupBy(day.as("day"))
        .agg(SketchAggregators.kllAgg(col("value"), 200).as("sk"))
        .localCheckpoint(true) // the materialized per-day sketch table
      def range(name: String, lo: Int, hi: Int) = {
        val est = daily.filter(col("day").between(lo, hi))
          .agg(count(lit(1)).as("n_days"),
            SketchAggregators.kllUnionQuantiles(col("sk"),
              Seq(0.5, 0.9, 0.99), 200).as("qe"))
        val ev = t.events.filter(day.between(lo, hi))
          .select(col("value").as("v"))
        def rankOk(i: Int, q: Double) =
          (abs(sum(when(col("v") <= element_at(col("qe"), i + 1), 1L)
              .otherwise(0L)).cast("double") / count(lit(1)) - q)
            <= first(element_at(col("qe"), 4)) * 2).as(s"p${(q * 100).toInt}_ok")
        ev.crossJoin(broadcast(est))
          .agg(first(col("n_days")).as("n_days"), count(lit(1)).as("n"),
            rankOk(0, 0.5), rankOk(1, 0.9), rankOk(2, 0.99))
          .select(lit(name).as("range_name"), col("n_days"), col("n"),
            col("p50_ok"), col("p90_ok"), col("p99_ok"))
      }
      range("week1", 19723, 19729)
        .unionByName(range("weeks2_3", 19730, 19743))
        .unionByName(range("month", 19723, 19752))
        .orderBy(col("range_name"))
    },

    // Theta-sketch set algebra — the operation HLL can NOT do:
    // INTERSECT stored sketches. Per-day theta sketches over user_id,
    // range unions, then "users active in BOTH ranges" estimated by
    // sketch intersection. Self-certifying with the sketch's OWN
    // 2-standard-deviation confidence interval: the exact intersection
    // count (report-sized at sf; a full re-scan at 100 TB) must land in
    // [lower, upper]. At test SFs the per-range distincts sit below
    // nominalEntries=16384, the sketches stay in exact mode and the
    // interval is a point — the bound is tight, not vacuous.
    Query("q_sketch_intersect",
      // Self-certifying (see the query comment): the oracle is the exact
      // distinct-user intersection per range pair + `true`; the
      // [lower, upper] containment is attested Spark-side.
      """WITH d AS (SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
             FROM events)
         SELECT 'h1_h2' AS pair_name, count(*) AS exact_both,
           true AS within_bound
         FROM (SELECT user_id FROM d WHERE day BETWEEN 19723 AND 19737
               INTERSECT
               SELECT user_id FROM d WHERE day BETWEEN 19738 AND 19752)
         UNION ALL
         SELECT 'w1_w2', count(*), true
         FROM (SELECT user_id FROM d WHERE day BETWEEN 19723 AND 19729
               INTERSECT
               SELECT user_id FROM d WHERE day BETWEEN 19730 AND 19736)
         UNION ALL
         SELECT 'w1_w4', count(*), true
         FROM (SELECT user_id FROM d WHERE day BETWEEN 19723 AND 19729
               INTERSECT
               SELECT user_id FROM d WHERE day BETWEEN 19744 AND 19752)
         ORDER BY pair_name""") { (s, dir) =>
      val t = Tables(s, dir)
      import graft.functions.SketchAggregators
      val day = datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
      val daily = t.events.groupBy(day.as("day"))
        .agg(SketchAggregators.thetaAggLong(col("user_id"), 16384).as("sk"))
        .localCheckpoint(true) // the materialized per-day sketch table
      def pair(name: String, a: (Int, Int), b: (Int, Int)) = {
        def rangeSketch(r: (Int, Int)) =
          daily.filter(col("day").between(r._1, r._2))
            .agg(SketchAggregators.thetaUnion(col("sk"), 16384).as("sk"))
        val est = rangeSketch(a).unionByName(rangeSketch(b))
          .agg(SketchAggregators.thetaIntersect(col("sk")).as("i"))
        def users(r: (Int, Int)) = t.events.filter(day.between(r._1, r._2))
          .select(col("user_id")).distinct()
        val exact = users(a).intersect(users(b))
          .agg(count(lit(1)).as("exact_both"))
        est.crossJoin(exact).select(lit(name).as("pair_name"),
          col("exact_both"),
          (col("i").getField("_2") <= col("exact_both").cast("double") &&
            col("exact_both").cast("double") <= col("i").getField("_3"))
            .as("within_bound"))
      }
      pair("w1_w2", (19723, 19729), (19730, 19736))
        .unionByName(pair("w1_w4", (19723, 19729), (19744, 19752)))
        .unionByName(pair("h1_h2", (19723, 19737), (19738, 19752)))
        .orderBy(col("pair_name"))
    },

    // Source/sink format coverage: the same projection written as ORC,
    // gzip-CSV, and gzip-JSON-lines through graft.sources.Formats, read
    // back (CSV/JSON with the explicit PERMISSIVE schema — no inference
    // pass), and aggregated with DECIMAL sums so float order can't
    // differ by format. All three rows must equal the parquet-direct
    // oracle — a format that drops precision, mangles a header, or
    // nulls a row breaks the hash.
    Query("fmt_roundtrip",
      // Every format must reproduce the parquet-direct aggregate.
      """WITH a AS (SELECT l_returnflag, count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             FROM lineitem GROUP BY 1)
         SELECT f.fmt, a.l_returnflag, a.n, a.sum_qty, a.sum_price
         FROM a CROSS JOIN (VALUES ('orc'), ('csv'), ('json')) AS f(fmt)
         ORDER BY fmt, l_returnflag""") { (s, dir) =>
      val t = Tables(s, dir)
      // spread before the store build: the single-row-group lineitem
      // scan would otherwise write ONE gzip part per format, and gzip
      // is unsplittable — every later read of the store would be a
      // single-task decompress+parse of the whole table. One part per
      // core gives the readers their parallelism back (guide §6:
      // unsplittable formats get their split layout at WRITE time).
      val proj = Tables.spread(t.lineitem.select(col("l_returnflag"),
        col("l_quantity"), col("l_extendedprice")))
      // build-if-absent into a CONTENT-KEYED stable dir (the
      // ensureTextStore idiom): repeated constructions — bench warmup,
      // Explain, Verify — reuse one written copy instead of leaking a
      // fresh temp dir and three write jobs per call; a changed source
      // file changes the key, and stale keys are overwritten by the
      // fixed prefix, not accumulated. Build into a UNIQUE staging dir
      // and atomically rename into the keyed path so a concurrent
      // session can never read a half-written store: readers only ever
      // see the keyed dir complete-with-marker or absent, and a lost
      // rename race defers to the winner's complete copy.
      // v2 prefix: the layout (one part per core, not one part total)
      // is part of what the store caches, so it joins the key; stale
      // v1 dirs are swept on build like every other keyed store
      val tmp = System.getProperty("java.io.tmpdir") + "/graft_fmt2_" +
        graft.sources.CatalogProps.contentKey(dir, "lineitem.parquet")
      val done = new java.io.File(s"$tmp/_done")
      if (!done.exists) {
        // stale-v1 sweep, best-effort only: listFiles() can return null,
        // a matching entry may be a plain file (forceDelete removes files
        // and directories alike), and a failed delete (e.g. an
        // older-binary session mid-read) must never fail THIS query
        Option(new java.io.File(System.getProperty("java.io.tmpdir"))
            .listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("graft_fmt_"))
          .foreach { f =>
            try org.apache.commons.io.FileUtils.forceDelete(f)
            catch { case _: Exception => () }
          }
        val stage = tmp + ".build_" + java.util.UUID.randomUUID
        graft.sources.Formats.writeOrc(proj, s"$stage/orc")
        graft.sources.Formats.writeCsv(proj, s"$stage/csv")
        graft.sources.Formats.writeJsonLines(proj, s"$stage/json")
        new java.io.File(s"$stage/_done").createNewFile()
        def move(): Unit = java.nio.file.Files.move(
          java.nio.file.Paths.get(stage), java.nio.file.Paths.get(tmp),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        try move()
        catch { case _: java.nio.file.FileSystemException =>
          // the keyed dir already exists: either another session just
          // renamed its COMPLETE build first (done marker present — ours
          // is redundant), or a killed build / pre-atomic writer left a
          // PARTIAL copy (no marker). Self-heal the latter: delete the
          // stale dir and retry the rename once, so the store never
          // demands manual cleanup.
          if (!done.exists) {
            org.apache.commons.io.FileUtils
              .deleteDirectory(new java.io.File(tmp))
            try move()
            catch { case _: java.nio.file.FileSystemException => () }
          }
          if (done.exists) // a complete copy won; drop our staging
            org.apache.commons.io.FileUtils
              .deleteDirectory(new java.io.File(stage))
        }
        require(done.exists,
          s"fmt_roundtrip: keyed store $tmp still lacks its _done marker " +
            "after a self-heal retry — concurrent partial writers; delete it")
      }
      val schema = StructType(Seq(
        StructField("l_returnflag", StringType),
        StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType)))
      def agg(df: DataFrame, fmt: String) = df
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec2(col("l_extendedprice"))).cast("double").as("sum_price"))
        .select(lit(fmt).as("fmt"), col("l_returnflag"), col("n"),
          col("sum_qty"), col("sum_price"))
      agg(graft.sources.Formats.readOrc(s, s"$tmp/orc"), "orc")
        .unionByName(agg(graft.sources.Formats.readCsv(s, s"$tmp/csv", schema), "csv"))
        .unionByName(agg(graft.sources.Formats.readJsonLines(s, s"$tmp/json", schema), "json"))
        .orderBy(col("fmt"), col("l_returnflag"))
    },

    // Frequent-items (heavy hitters) rollup — the fourth mergeable
    // sketch family (distinct=HLL, quantiles=KLL, set algebra=theta,
    // frequencies=this): per-day ItemsSketch over user activity,
    // range top-5 answered from stored sketches. Self-certifying: the
    // EXACT top-5 (deterministic (count DESC, item) tie-break) is the
    // deterministic output; a boolean attests each item's sketch
    // interval [lower, upper] brackets its exact count, with the
    // n ≤ maxError escape the NO_FALSE_NEGATIVES guarantee allows. At
    // test SFs the per-range distinct users sit below maxMapSize=2048,
    // the sketch is exact, maxError is 0 and the intervals are points —
    // tight, not vacuous.
    Query("q_topk_rollup",
      // Self-certifying (see the query comment): the oracle is the exact
      // top-5 per range + `true`; the interval bracketing is attested
      // Spark-side.
      """WITH d AS (SELECT CAST(user_id AS VARCHAR) AS item,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
             FROM events)
         SELECT * FROM (
           SELECT 'week1' AS range_name, rk, item, n, true AS within_bound
           FROM (SELECT item, count(*) AS n,
                   row_number() OVER (ORDER BY count(*) DESC, item) AS rk
                 FROM d WHERE day BETWEEN 19723 AND 19729 GROUP BY item)
           WHERE rk <= 5
           UNION ALL
           SELECT 'month', rk, item, n, true
           FROM (SELECT item, count(*) AS n,
                   row_number() OVER (ORDER BY count(*) DESC, item) AS rk
                 FROM d WHERE day BETWEEN 19723 AND 19752 GROUP BY item)
           WHERE rk <= 5)
         ORDER BY range_name, rk""") { (s, dir) =>
      val t = Tables(s, dir)
      import graft.functions.SketchAggregators
      val day = datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
      val daily = t.events.groupBy(day.as("day"))
        .agg(SketchAggregators.freqAgg(col("user_id").cast("string"), 2048)
          .as("sk"))
        .localCheckpoint(true) // the materialized per-day sketch table
      def range(name: String, lo: Int, hi: Int) = {
        val fr = daily.filter(col("day").between(lo, hi))
          .agg(SketchAggregators.freqTop(col("sk"), 2048).as("fr"))
        val skRows = fr.select(explode(col("fr._2")).as("r"))
          .select(col("r._1").as("item"), col("r._3").as("lb"),
            col("r._4").as("ub"))
        val maxErr = fr.select(col("fr._1").as("max_err"))
        import org.apache.spark.sql.expressions.Window
        val exact = t.events.filter(day.between(lo, hi))
          .groupBy(col("user_id").cast("string").as("item"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("item"))
          .limit(5) // rank the top 5 only, not every distinct user
          .withColumn("rk", row_number().over(
            Window.orderBy(col("n").desc, col("item"))))
        exact.join(skRows, Seq("item"), "left")
          .crossJoin(broadcast(maxErr))
          .select(lit(name).as("range_name"), col("rk"), col("item"),
            col("n"),
            ((col("lb").isNotNull && col("lb") <= col("n")
              && col("n") <= col("ub"))
              || col("n") <= col("max_err")).as("within_bound"))
      }
      range("week1", 19723, 19729)
        .unionByName(range("month", 19723, 19752))
        .orderBy(col("range_name"), col("rk"))
    },

    // One-pass declarative data-quality report (the pre-publish gate a
    // table pipeline runs): five passing constraints plus one that
    // FAILS on purpose (o_orderkey capped at 1000) so the report's
    // violation counting is exercised, not just its happy path. All
    // row-level constraints ride ONE aggregate; the referential check
    // is one anti-join against the customer dimension.
    Query("dq_report",
      // Each constraint's exact violation count, recomputed from scratch.
      """WITH n AS (SELECT count(*) AS n_rows FROM orders)
         SELECT "constraint", n_rows, violations, violations = 0 AS pass
         FROM (
           SELECT 'not_null(o_custkey)' AS "constraint", n.n_rows,
             (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
               AS violations FROM n
           UNION ALL
           SELECT 'unique(o_orderkey)', n.n_rows,
             n.n_rows - (SELECT count(DISTINCT o_orderkey) FROM orders)
           FROM n
           UNION ALL
           SELECT 'in_range(o_totalprice)', n.n_rows,
             (SELECT count(*) FROM orders WHERE o_totalprice IS NULL
                OR o_totalprice < 0.0 OR o_totalprice > 1e9) FROM n
           UNION ALL
           SELECT 'in_range(o_orderkey)', n.n_rows,
             (SELECT count(*) FROM orders WHERE o_orderkey IS NULL
                OR o_orderkey < 0.0 OR o_orderkey > 1000.0) FROM n
           UNION ALL
           SELECT 'matches(o_orderpriority)', n.n_rows,
             (SELECT count(*) FROM orders WHERE o_orderpriority IS NULL
                OR NOT regexp_matches(o_orderpriority, '^[1-5]-')) FROM n
           UNION ALL
           SELECT 'ref(o_custkey->c_custkey)', n.n_rows,
             (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
                AND NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)) FROM n)
         ORDER BY "constraint"""") { (s, dir) =>
      val t = Tables(s, dir)
      import graft.operators.Quality
      Quality.report(t.orders, Seq(
        Quality.NotNull("o_custkey"),
        Quality.Unique(Seq("o_orderkey")),
        Quality.InRange("o_totalprice", 0.0, 1e9),
        Quality.InRange("o_orderkey", 0.0, 1000.0),
        Quality.Matches("o_orderpriority", "^[1-5]-"),
        Quality.RefIntegrity("o_custkey", t.customer, "c_custkey")))
    },

    // In-flight data quality at ZERO extra passes: the constraints ride
    // the hourly-stats job as a CollectMetrics observation — no
    // dedicated DQ scan at all, the shape always-on quality wants at
    // 100 TB (even dq_report's ONE scan is a scan too many when the
    // pipeline reads the table anyway). The returned frame is the
    // observation rendered report-shaped; InRange(value <= 100) is a
    // REAL violation (values reach ~490) so the counting is exercised.
    Query("dq_observe",
      // The observed counts recomputed from scratch, plus the piggyback
      // job's own group count — the observation must equal a dedicated
      // scan's answer.
      """WITH n AS (SELECT count(*) AS n_rows FROM events),
            g AS (SELECT count(*) AS main_job_groups FROM
                    (SELECT strftime(ts, '%Y-%m-%d-%H') AS h FROM events
                     GROUP BY 1))
         SELECT "constraint", n_rows, violations, violations = 0 AS pass,
           g.main_job_groups
         FROM (
           SELECT 'not_null(user_id)' AS "constraint", n.n_rows,
             (SELECT count(*) FROM events WHERE user_id IS NULL)
               AS violations FROM n
           UNION ALL
           SELECT 'in_range(value)', n.n_rows,
             (SELECT count(*) FROM events WHERE value IS NULL
                OR value < 0.0 OR value > 100.0) FROM n
           UNION ALL
           SELECT 'matches(event_type)', n.n_rows,
             (SELECT count(*) FROM events WHERE event_type IS NULL
                OR NOT regexp_matches(event_type, '^[a-z_]+$')) FROM n)
         CROSS JOIN g ORDER BY "constraint"""") { (s, dir) =>
      val t = Tables(s, dir)
      import graft.operators.Quality
      val constraints = Seq(
        Quality.NotNull("user_id"),
        Quality.InRange("value", 0.0, 100.0),
        Quality.Matches("event_type", "^[a-z_]+$"))
      val (ev, obs) = Quality.observe(t.events, constraints)
      // the pipeline's own job — the observation piggybacks on it
      val mainRows = ev.groupBy(date_format(col("ts"), "yyyy-MM-dd-HH"))
        .agg(count(lit(1))).count()
      Quality.observedReport(s, obs, constraints)
        .withColumn("main_job_groups", lit(mainRows))
    },

    // Count-min-sketch frequency estimation (the third sketch family
    // next to HLL++ distinct and the percentile sketch), SELF-CERTIFYING
    // like q_approx_distinct: the CMS guarantee is one-sided —
    // estimate ∈ [exact, exact + eps·N] with prob ≥ confidence — so the
    // dumped row is the exact per-key count plus a boolean attesting the
    // estimate landed in that interval (eps 0.001, conf 0.999, fixed
    // seed). The sketch is fixed-size and mergeable (treeAggregate under
    // stat.countMinSketch), so the build is one pass at any corpus
    // size; the 10-row exact side is report-sized.
    Query("q_approx_freq",
      // Self-certifying sketch (see the query comment): oracle is the
      // deterministic remainder — exact per-key counts + `true`.
      """SELECT event_type, count(*) AS n, true AS within_bound
         FROM events GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      import s.implicits._
      val t = Tables(s, dir)
      val ev = t.events
      val cms = ev.stat.countMinSketch(col("event_type"), 0.001, 0.999, 42)
      val slack = math.ceil(1e-3 * cms.totalCount).toLong
      // the exact per-key side is driver-sided by design (the sketch
      // lookup is a JVM call) — so the collect is BOUNDED by
      // construction: take(cap+1) pulls at most cap+1 rows whatever the
      // true cardinality, and over-cardinality fails by name instead of
      // materializing an unbounded group list on the driver
      val capGroups = 10000
      val rows = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        .take(capGroups + 1)
      require(rows.length <= capGroups,
        s"q_approx_freq: event_type has > $capGroups distinct values — " +
          "the exact verification side is driver-sided and report-sized " +
          "by assumption; verify a lower-cardinality column or raise the cap")
      rows.map { r =>
          val (k, n) = (r.getString(0), r.getLong(1))
          val est = cms.estimateCount(k)
          (k, n, est >= n && est <= n + slack)
        }.toSeq.toDF("event_type", "n", "within_bound")
        .orderBy(col("event_type"))
    },

    // SQL front end: spark.sql over registered views, exercising a
    // correlated scalar subquery (decorrelated to a join by Catalyst) and
    // an IN-subquery (planned as a semi join).
    Query("q_sql_subqueries",
      """SELECT c_custkey, c_name
         FROM customer c
         WHERE (SELECT count(*) FROM orders o
                WHERE o.o_custkey = c.c_custkey) > 12
           AND c_nationkey IN (SELECT n_nationkey FROM nation
                               WHERE n_regionkey = 2)
         ORDER BY c_custkey""") { (s, dir) =>
      val t = Tables(s, dir)
      t.customer.createOrReplaceTempView("v_customer")
      t.orders.createOrReplaceTempView("v_orders")
      t.nation.createOrReplaceTempView("v_nation")
      s.sql("""
        SELECT c_custkey, c_name
        FROM v_customer c
        WHERE (SELECT count(*) FROM v_orders o
               WHERE o.o_custkey = c.c_custkey) > 12
          AND c_nationkey IN (SELECT n_nationkey FROM v_nation
                              WHERE n_regionkey = 2)
        ORDER BY c_custkey""")
    },

    // Gap-based sessionization (30 min) with per-session rollup.
    Query("q_sessionize",
      """WITH flagged AS (
           SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
           SELECT user_id, ts, value,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS s_start,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM sess GROUP BY user_id, session_id
         ORDER BY user_id, session_id""") { (s, dir) =>
      val t = Tables(s, dir)
      graft.operators.Sessionize
        .sessionStats(t.events, col("user_id"), col("ts"), 1800L,
          col("value"), Seq(col("event_id")))
        .select(col("key").as("user_id"), col("session_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("s_start"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_id"))
    },

    // SCD2 dimension build from the event history: per user, versions of
    // the tracked attribute (event_type) with [valid_from, valid_to).
    Query("q_scd2",
      """WITH o AS (SELECT user_id, ts, event_type,
             row_number() OVER w AS rn, lag(event_type) OVER w AS prev
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            r AS (SELECT user_id, event_type, ts FROM o
                  WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
            v AS (SELECT user_id, event_type, ts AS vf,
                    lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS vt
                  FROM r)
         SELECT user_id, event_type,
           strftime(vf, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(vt, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           vt IS NULL AS is_current
         FROM v ORDER BY user_id, vf""") { (s, dir) =>
      val t = Tables(s, dir)
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      graft.operators.Cdc
        .scd2FromHistory(t.events, col("user_id"), col("ts"),
          col("event_type"), Seq(col("event_id")))
        .select(col("key").as("user_id"), col("attr").as("event_type"),
          date_format(col("valid_from"), fmt).as("valid_from"),
          date_format(col("valid_to"), fmt).as("valid_to"),
          col("is_current"))
        .orderBy(col("user_id"), col("valid_from"))
    },

    // Incremental SCD2 maintenance, graded against the full rebuild: the
    // dimension is built from the first 19 days, the remaining days are
    // folded in with scd2Merge, and the ORACLE is the full-history SQL —
    // the merge must be indistinguishable from a rebuild.
    Query("q_scd2_merge",
      // Identical to q_scd2 on purpose: the merge path must reproduce the
      // full-history rebuild bit for bit.
      """WITH o AS (SELECT user_id, ts, event_type,
             row_number() OVER w AS rn, lag(event_type) OVER w AS prev
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            r AS (SELECT user_id, event_type, ts FROM o
                  WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
            v AS (SELECT user_id, event_type, ts AS vf,
                    lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS vt
                  FROM r)
         SELECT user_id, event_type,
           strftime(vf, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(vt, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           vt IS NULL AS is_current
         FROM v ORDER BY user_id, vf""") { (s, dir) =>
      val t = Tables(s, dir)
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      val split = lit("2024-01-20 00:00:00").cast("timestamp")
      val dim = graft.operators.Cdc.scd2FromHistory(
        t.events.filter(col("ts") < split), col("user_id"), col("ts"),
        col("event_type"), Seq(col("event_id")))
      graft.operators.Cdc
        .scd2Merge(dim, t.events.filter(col("ts") >= split), col("user_id"),
          col("ts"), col("event_type"), Seq(col("event_id")))
        .select(col("key").as("user_id"), col("attr").as("event_type"),
          date_format(col("valid_from"), fmt).as("valid_from"),
          date_format(col("valid_to"), fmt).as("valid_to"),
          col("is_current"))
        .orderBy(col("user_id"), col("valid_from"))
    },

    // Late-event repair — the operational path the scd2Merge guard
    // routes to. A slice of EARLY history for ~10% of keys is withheld
    // from the initial build (so their chains start too late), then
    // arrives mixed into the next batch: lateKeys names exactly those
    // keys, the clean remainder merges incrementally, and rebuildKeys
    // recomputes only the violating keys from the full history. The
    // oracle is the full-rebuild SQL — merge-plus-repair must be
    // indistinguishable from never having lost the rows.
    Query("q_scd2_rebuild",
      // Identical full-rebuild SQL again, on purpose: merge-the-clean-rest
      // plus rebuildKeys-for-the-late-keys must reproduce exactly what a
      // rebuild over the never-lost history produces.
      """WITH o AS (SELECT user_id, ts, event_type,
             row_number() OVER w AS rn, lag(event_type) OVER w AS prev
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            r AS (SELECT user_id, event_type, ts FROM o
                  WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
            v AS (SELECT user_id, event_type, ts AS vf,
                    lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS vt
                  FROM r)
         SELECT user_id, event_type,
           strftime(vf, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(vt, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           vt IS NULL AS is_current
         FROM v ORDER BY user_id, vf""") { (s, dir) =>
      val t = Tables(s, dir)
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      val split = lit("2024-01-20 00:00:00").cast("timestamp")
      val early = lit("2024-01-08 00:00:00").cast("timestamp")
      val withheld = col("user_id") % 10 === 3 && col("ts") < early
      val dim = graft.operators.Cdc.scd2FromHistory(
        t.events.filter(col("ts") < split && !withheld), col("user_id"),
        col("ts"), col("event_type"), Seq(col("event_id")))
      val batch = t.events.filter(col("ts") >= split || withheld)
      val lk = graft.operators.Cdc
        .lateKeys(dim, batch, col("user_id"), col("ts"))
        .localCheckpoint(true)
      val clean = batch.join(lk, batch("user_id") === lk("key"), "left_anti")
      val merged = graft.operators.Cdc.scd2Merge(dim, clean, col("user_id"),
        col("ts"), col("event_type"), Seq(col("event_id")))
      graft.operators.Cdc
        .rebuildKeys(merged, t.events, col("user_id"), col("ts"),
          col("event_type"), lk, Seq(col("event_id")))
        .select(col("key").as("user_id"), col("attr").as("event_type"),
          date_format(col("valid_from"), fmt).as("valid_from"),
          date_format(col("valid_to"), fmt).as("valid_to"),
          col("is_current"))
        .orderBy(col("user_id"), col("valid_from"))
    },

    // Point-in-time dimension lookup — the reason an SCD2 dimension
    // exists: enrich each event with the attribute version that was
    // active a day earlier, via the as-of operator (union-and-carry-
    // forward: one shuffle, no per-key version multiplication; chain
    // continuity makes the latest valid_from <= t the active version).
    Query("q_scd2_lookup",
      """WITH o AS (SELECT user_id, ts, event_type,
             row_number() OVER w AS rn, lag(event_type) OVER w AS prev
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            v AS (SELECT user_id, event_type, ts AS vf FROM o
                  WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
            e AS (SELECT event_id, user_id, ts - INTERVAL 1 DAY AS at
                  FROM events)
         SELECT e.event_id, e.user_id, v.event_type AS event_type_1d_ago
         FROM e ASOF LEFT JOIN v
           ON e.user_id = v.user_id AND e.at >= v.vf
         ORDER BY e.event_id""") { (s, dir) =>
      val t = Tables(s, dir)
      val dim = graft.operators.Cdc.scd2FromHistory(t.events, col("user_id"),
        col("ts"), col("event_type"), Seq(col("event_id")))
      val ev = t.events.select(col("event_id"), col("user_id"),
        (col("ts") - expr("INTERVAL 1 DAY")).as("at"))
      graft.operators.AsOfJoin.backward(ev, dim,
          col("user_id"), col("key"), col("at"), col("valid_from"),
          Seq("event_type_1d_ago" -> col("attr")))
        .select(col("event_id"), col("user_id"), col("event_type_1d_ago"))
        .orderBy(col("event_id"))
    },

    // As-of backward join: each event picks the latest prior order in its
    // (synthetic) customer bucket. Union-and-carry-forward plan: one shuffle.
    Query("q_asof_join",
      """WITH r AS (SELECT o_custkey % 50 AS k, o_orderdate,
                      max(o_orderkey) AS last_orderkey
                    FROM orders GROUP BY 1, 2)
         SELECT e.event_id, r.last_orderkey
         FROM events e ASOF LEFT JOIN r
           ON e.user_id % 50 = r.k AND e.ts >= r.o_orderdate
         ORDER BY e.event_id""") { (s, dir) =>
      val t = Tables(s, dir)
      val right = t.orders
        .groupBy(pmod(col("o_custkey"), lit(50)).as("k"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("last_orderkey"))
      graft.operators.AsOfJoin.backward(
          t.events.select(col("event_id"), col("ts"), col("user_id")), right,
          pmod(col("user_id"), lit(50)), col("k"),
          col("ts"), col("o_orderdate"),
          Seq("last_orderkey" -> col("last_orderkey")))
        .select(col("event_id"), col("last_orderkey"))
        .orderBy(col("event_id"))
    },

    // Pivot: day x event_type metric matrix.
    Query("q_pivot",
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
         CAST(sum(CASE WHEN event_type='click' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS click,
         CAST(sum(CASE WHEN event_type='error' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS error,
         CAST(sum(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS purchase,
         CAST(sum(CASE WHEN event_type='signup' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS signup,
         CAST(sum(CASE WHEN event_type='view' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE) AS view
         FROM events GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val t = Tables(s, dir)
      t.events
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(sum(dec6(col("value"))).cast("double"))
        .orderBy(col("day"))
    },

    // Two-phase salted aggregation — skew-safe groupBy; oracle is the
    // plain single-shuffle aggregation (results must be identical).
    Query("q_salted_agg",
      """SELECT user_id, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
         CAST(max(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS max_v
         FROM events GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
      val t = Tables(s, dir)
      graft.operators.Skew.saltedAgg(
          t.events.select(col("event_id"), col("user_id"),
            col("value").cast(DecimalType(18, 6)).as("v")),
          Seq(col("user_id")), buckets = 8,
          Seq(graft.operators.Skew.count2("n"),
            graft.operators.Skew.sum2("sum_v", col("v")),
            graft.operators.Skew.max2("max_v", col("v"))),
          graft.operators.Skew.SaltMode.FromId(col("event_id")))
        .select(col("user_id"), col("n"),
          col("sum_v").cast("double").as("sum_v"),
          col("max_v").cast("double").as("max_v"))
        .orderBy(col("user_id"))
    },

    // Exact interpolated percentiles per group.
    Query("q_percentile",
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.25) AS p25,
         quantile_cont(l_quantity, 0.5) AS p50,
         quantile_cont(l_quantity, 0.75) AS p75
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      val t = Tables(s, dir)
      t.lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.75)").as("p75"))
        .orderBy(col("l_returnflag"))
    }
  )

  /** Shared sparse test graph: supplier—part pairs from high-quantity
    * lineitems, both directions (undirected, no dangling nodes); part
    * ids offset into a disjoint range. */
  private def graphEdges(t: Tables): DataFrame = {
    val f = directedGraphEdges(t)
    f.unionByName(f.select(col("b").as("a"), col("a").as("b")))
  }

  /** The DIRECTED form (supplier → part only): every part node is a
    * sink, so this is the dangling-redistribution fixture. */
  private def directedGraphEdges(t: Tables): DataFrame =
    t.lineitem.filter(col("l_quantity") >= 48)
      .select(col("l_suppkey").cast("long").as("a"),
        (col("l_partkey").cast("long") + 10000000L).as("b"))

  /** The base CTEs of both graph oracles (same edge derivation). */
  private val graphBaseSql =
    """f AS (SELECT CAST(l_suppkey AS BIGINT) AS a,
              CAST(l_partkey AS BIGINT) + 10000000 AS b
            FROM lineitem WHERE l_quantity >= 48),
       e AS (SELECT a AS src, b AS dst FROM f UNION SELECT b, a FROM f),
       nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)"""

  /** Unrolled power iteration, expression shapes identical to
    * [[graft.operators.Graph.pageRank]] — generated, not recursive, so
    * every iteration's SQL is the literal recurrence. */
  private def pageRankSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""c$k AS (SELECT e.dst, CAST(round(p.r / d.deg, 9)
                    AS DECIMAL(38,9)) AS c
                  FROM e JOIN pr${k - 1} p ON e.src = p.node
                         JOIN deg d ON e.src = d.src),
          s$k AS (SELECT dst, sum(c) AS s FROM c$k GROUP BY 1),
          pr$k AS (SELECT node,
                     round((1.0 - 0.85) / nn + 0.85
                       * CAST(coalesce(s, CAST(0 AS DECIMAL(38,9)))
                           AS DOUBLE), 9) AS r
                   FROM nodes CROSS JOIN n LEFT JOIN s$k ON node = dst)"""
    }.mkString(",\n")
    s"""WITH $graphBaseSql,
          deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
          n AS (SELECT count(*) AS nn FROM nodes),
          pr0 AS (SELECT node, round(1.0 / nn, 9) AS r
                  FROM nodes CROSS JOIN n),
          $steps
       SELECT node, r AS rank FROM pr$iters ORDER BY node"""
  }

  /** Unrolled STANDARD PageRank on the directed graph: each iteration
    * re-derives the exact DECIMAL dangling sum ds$k over the sinks and
    * every node receives `d · round(ds/nn, 9)` — shapes identical to
    * the `danglingRedistribution = true` operator path. */
  private def pageRankDanglingSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""ds$k AS (SELECT coalesce(sum(CAST(p.r AS DECIMAL(38,9))),
                     CAST(0 AS DECIMAL(38,9))) AS ds
                   FROM pr${k - 1} p JOIN dang g ON p.node = g.node),
          c$k AS (SELECT e.dst, CAST(round(p.r / d.deg, 9)
                    AS DECIMAL(38,9)) AS c
                  FROM e JOIN pr${k - 1} p ON e.src = p.node
                         JOIN deg d ON e.src = d.src),
          s$k AS (SELECT dst, sum(c) AS s FROM c$k GROUP BY 1),
          pr$k AS (SELECT node,
                     round((1.0 - 0.85) / nn + 0.85
                       * (CAST(coalesce(s, CAST(0 AS DECIMAL(38,9)))
                            AS DOUBLE)
                          + round(CAST(ds AS DOUBLE) / nn, 9)), 9) AS r
                   FROM nodes CROSS JOIN n CROSS JOIN ds$k
                        LEFT JOIN s$k ON node = dst)"""
    }.mkString(",\n")
    s"""WITH f AS (SELECT CAST(l_suppkey AS BIGINT) AS a,
                     CAST(l_partkey AS BIGINT) + 10000000 AS b
                   FROM lineitem WHERE l_quantity >= 48),
          e AS (SELECT DISTINCT a AS src, b AS dst FROM f),
          nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
          deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
          dang AS (SELECT node FROM nodes
                   WHERE node NOT IN (SELECT src FROM e)),
          n AS (SELECT count(*) AS nn FROM nodes),
          pr0 AS (SELECT node, round(1.0 / nn, 9) AS r
                  FROM nodes CROSS JOIN n),
          $steps
       SELECT node, r AS rank FROM pr$iters ORDER BY node"""
  }
}
