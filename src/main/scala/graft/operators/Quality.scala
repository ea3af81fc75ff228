package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass declarative data-quality checking (the Deequ-shaped
  * capability a production table pipeline runs before publishing): a
  * list of constraints compiles into ONE aggregate over the table plus
  * one anti-join per referential constraint — never a pass per
  * constraint. The output is a REPORT (constraint, n_rows, violations,
  * pass), not an exception: pipelines route on it, specs assert on it.
  *
  * Scale shape: all row-level constraints (not-null, range, regex) are
  * conditional sums inside a single partial+final aggregate — adding
  * one adds an expression, not a scan. Uniqueness is where the shapes
  * diverge: riding the same aggregate as a count-distinct adds an
  * Expand branch (Spark's multi-distinct rewrite) — CPU and a
  * tuple-keyed shuffle, NOT a table re-read — which wins on the cold
  * 100 TB table this exists for (k separate checks re-read the corpus
  * k times, IO dominates) but LOSES on an already-cached frame, where
  * re-scans are nearly free and expansion is not (the `dq` probe in
  * BENCH_NOTES.md, "Round 13, wave 5-6", prices it: 64M cached rows,
  * one-pass 48 s vs five scans 20 s). So
  * `report` chooses by `df.storageLevel` — cold input rides one
  * aggregate, cached input runs each Unique as its own count-distinct
  * scan — overridable via `splitUnique`. Referential integrity is a
  * left-anti join against the (deduplicated) dimension key — broadcast
  * when the dimension is small; the planner decides.
  */
object Quality {

  sealed trait Constraint { def label: String }

  /** Violated by NULL values. */
  final case class NotNull(column: String) extends Constraint {
    def label = s"not_null($column)"
  }

  /** Violated when the key tuple occurs more than once. NULL keys
    * collapse into one distinct tuple (count-distinct semantics), so a
    * second NULL-keyed row counts as a duplicate — the conservative
    * reading for a key constraint. */
  final case class Unique(columns: Seq[String]) extends Constraint {
    require(columns.nonEmpty, "unique constraint needs at least one column")
    def label = s"unique(${columns.mkString(",")})"
  }

  /** Violated by NULL or a value outside [lo, hi]. */
  final case class InRange(column: String, lo: Double, hi: Double)
      extends Constraint {
    require(lo <= hi, s"in_range: lo $lo > hi $hi")
    def label = s"in_range($column)"
  }

  /** Violated by NULL or a value the (partial-match) regex misses. */
  final case class Matches(column: String, regex: String) extends Constraint {
    def label = s"matches($column)"
  }

  /** Violated by a non-NULL foreign key absent from the dimension's key
    * column (NULL foreign keys are NotNull's business, not RI's — the
    * SQL convention). */
  final case class RefIntegrity(column: String, dim: DataFrame,
                                dimColumn: String) extends Constraint {
    def label = s"ref($column->$dimColumn)"
  }

  /** Evaluate all constraints; returns
    * `(constraint, n_rows, violations, pass)` sorted by constraint.
    *
    * `splitUnique` picks the Unique plan shape: `Some(false)` rides the
    * single aggregate (Expand branches — one corpus READ, the cold-table
    * default), `Some(true)` runs each Unique as its own count-distinct
    * scan (cheap re-reads — the cached-table shape), and `None` (default)
    * chooses by `df.storageLevel`: the measured 64M trade (one-pass 48 s
    * vs five cached scans 20 s) says the shape should follow where the
    * bytes live, not be hardwired. */
  /** The row-level constraints as conditional-sum aggregate expressions
    * — the shared core of [[report]]'s one-pass aggregate and
    * [[observe]]'s zero-pass CollectMetrics. */
  private def rowLevelAgg(c: Constraint): Option[(String, Column)] = c match {
    case c @ NotNull(col0) =>
      Some(c.label -> sum(when(col(col0).isNull, 1L).otherwise(0L)))
    case c @ InRange(col0, lo, hi) =>
      Some(c.label -> sum(when(col(col0).isNull
        || col(col0) < lit(lo) || col(col0) > lit(hi), 1L).otherwise(0L)))
    case c @ Matches(col0, re) =>
      Some(c.label -> sum(when(col(col0).isNull
        || !col(col0).rlike(re), 1L).otherwise(0L)))
    case _ => None
  }

  def report(df: DataFrame, constraints: Seq[Constraint],
             splitUnique: Option[Boolean] = None): DataFrame = {
    require(constraints.nonEmpty, "need at least one constraint")
    require(constraints.map(_.label).distinct.size == constraints.size,
      s"duplicate constraint labels: ${constraints.map(_.label)}")
    val split = splitUnique.getOrElse(
      df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    // count_distinct over the bare columns SKIPS null inputs, which
    // would flag every null-keyed row as a duplicate; wrapping the
    // tuple in a struct keeps null components inside a non-null
    // struct, so null tuples collapse to ONE distinct value and only
    // the second null-keyed row counts — the documented semantics
    def distinctViolations(cols0: Seq[String]): Column =
      count(lit(1)) - count_distinct(struct(cols0.map(col): _*))
    val rowLevel = constraints.flatMap(rowLevelAgg) ++
      constraints.collect {
        case c @ Unique(cols0) if !split =>
          c.label -> distinctViolations(cols0)
      }
    // positional __c$i aliases, not the labels: labels surface only as
    // lit() VALUES, never rendered into an identifier or SQL string, so
    // a column name carrying quotes/backticks can't break the unpivot
    val aggCols = count(lit(1)).as("n_rows") +:
      rowLevel.zipWithIndex.map { case ((_, e), i) => e.as(s"__c$i") }
    val oneRow = df.agg(aggCols.head, aggCols.tail: _*).localCheckpoint(true)
    val nRows = oneRow.select(col("n_rows"))
    val rowReport =
      if (rowLevel.isEmpty) None
      else Some(oneRow.select(col("n_rows"),
        explode(array(rowLevel.zipWithIndex.map { case ((label, _), i) =>
          struct(lit(label).as("constraint"),
            col(s"__c$i").cast("long").as("violations"))
        }: _*)).as("kv"))
        .select(col("kv.constraint"), col("n_rows"), col("kv.violations")))
    // cached-input shape: each Unique is its own scan — a cached re-read
    // is nearly free while an Expand branch multiplies aggregate input
    val uniqueReports = if (!split) Nil else constraints.collect {
      case c @ Unique(cols0) =>
        df.agg(distinctViolations(cols0).cast("long").as("violations"))
          .crossJoin(broadcast(nRows))
          .select(lit(c.label).as("constraint"), col("n_rows"),
            col("violations"))
    }
    val refReports = constraints.collect {
      case c @ RefIntegrity(fk, dim, pk) =>
        df.filter(col(fk).isNotNull)
          .join(dim.select(col(pk).as(fk)).distinct(), Seq(fk), "left_anti")
          .agg(count(lit(1)).as("violations"))
          .crossJoin(broadcast(nRows))
          .select(lit(c.label).as("constraint"), col("n_rows"),
            col("violations"))
    }
    (rowReport.toSeq ++ uniqueReports ++ refReports)
      .reduce(_ unionByName _)
      .select(col("constraint"), col("n_rows"), col("violations"),
        (col("violations") === 0L).as("pass"))
      .orderBy(col("constraint"))
  }

  /** In-flight constraint counting at ZERO extra passes: attach the
    * row-level constraints as a `CollectMetrics` observation to `df`, so
    * violation counts ride whatever job the pipeline was going to run
    * anyway — the true 100 TB shape for always-on data quality, where
    * even [[report]]'s one dedicated scan is a scan too many. Returns
    * the instrumented frame (use IT downstream) and the `Observation`;
    * after any action that consumes every row, [[observedReport]] turns
    * the observation into the same `(constraint, n_rows, violations,
    * pass)` frame `report` produces.
    *
    * Row-level constraints only, enforced by name: `Unique` needs a
    * distinct (not allowed inside CollectMetrics) and `RefIntegrity` a
    * join — both genuinely need their own plan, which is what [[report]]
    * is for. */
  def observe(df: DataFrame, constraints: Seq[Constraint],
              name: String = "dq"): (DataFrame, org.apache.spark.sql.Observation) = {
    require(constraints.nonEmpty, "need at least one constraint")
    require(constraints.map(_.label).distinct.size == constraints.size,
      s"duplicate constraint labels: ${constraints.map(_.label)}")
    val rowLevel = constraints.map { c =>
      rowLevelAgg(c).getOrElse(throw new IllegalArgumentException(
        s"Quality.observe: '${c.label}' cannot ride an observation — " +
          "Unique needs a distinct and RefIntegrity a join; use " +
          "Quality.report for those"))
    }
    val obs = org.apache.spark.sql.Observation(name)
    val aggCols = count(lit(1)).as("n_rows") +:
      rowLevel.zipWithIndex.map { case ((_, e), i) => e.as(s"__c$i") }
    (df.observe(obs, aggCols.head, aggCols.tail: _*), obs)
  }

  /** Streaming form of [[observe]]: the same row-level constraint
    * aggregates attached through the string-named streaming `observe`,
    * so every micro-batch surfaces its own violation counts in
    * `StreamingQueryProgress.observedMetrics(name)` — per-batch data
    * quality at zero extra passes and zero state store, the always-on
    * gate for an ingest stream. Render a batch's row with
    * [[observedBatchReport]]. Same row-level-only contract as
    * [[observe]], rejected by name. */
  def observeStream(df: DataFrame, constraints: Seq[Constraint],
                    name: String = "dq"): DataFrame = {
    require(constraints.nonEmpty, "need at least one constraint")
    require(constraints.map(_.label).distinct.size == constraints.size,
      s"duplicate constraint labels: ${constraints.map(_.label)}")
    val rowLevel = constraints.map { c =>
      rowLevelAgg(c).getOrElse(throw new IllegalArgumentException(
        s"Quality.observe: '${c.label}' cannot ride an observation — " +
          "Unique needs a distinct and RefIntegrity a join; use " +
          "Quality.report for those"))
    }
    val aggCols = count(lit(1)).as("n_rows") +:
      rowLevel.zipWithIndex.map { case ((_, e), i) => e.as(s"__c$i") }
    df.observe(name, aggCols.head, aggCols.tail: _*)
  }

  /** One micro-batch's `(constraint, n_rows, violations, pass)` rows
    * from its `observedMetrics` entry. */
  def observedBatchReport(metrics: org.apache.spark.sql.Row,
                          constraints: Seq[Constraint]): Seq[(String, Long, Long, Boolean)] = {
    val n = metrics.getAs[Long]("n_rows")
    constraints.zipWithIndex.map { case (c, i) =>
      val v = metrics.getAs[Long](s"__c$i")
      (c.label, n, v, v == 0L)
    }.sortBy(_._1)
  }

  /** The [[report]]-shaped frame from a completed [[observe]] run. Call
    * only after an action has consumed the instrumented frame ([[
    * org.apache.spark.sql.Observation.get]] blocks until then). */
  def observedReport(spark: org.apache.spark.sql.SparkSession,
                     obs: org.apache.spark.sql.Observation,
                     constraints: Seq[Constraint]): DataFrame = {
    val m = obs.get
    val nRows = m("n_rows").asInstanceOf[Long]
    val rows = constraints.zipWithIndex.map { case (c, i) =>
      val v = m(s"__c$i").asInstanceOf[Long]
      (c.label, nRows, v, v == 0L)
    }
    import spark.implicits._
    rows.toDF("constraint", "n_rows", "violations", "pass")
      .orderBy(col("constraint"))
  }
}
