package perfbench

import graft.{GraftSession, SparkEntry}
import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.jdk.CollectionConverters._
import scala.util.chaining._
import scala.util.hashing.MurmurHash3

/** `query_mix`: repeated passes over a fixed set of read-only registered
  * queries on the benchmark's sf0.1-shaped tables. Each timed query is
  * built through `SparkEntry.queries` and run to the `noop` sink. This is
  * the only workload that exercises scan, exchange, kernels and query
  * construction; its parity queries run `OrderAnalytics` on batch data, the
  * layer the streams use per micro-batch. */
object QueryMix {
  /** Read-only queries (none writes a table), trimmed so that set-up and
    * several warm passes fit into one run: the OrderAnalytics parse path
    * on batch data, a broadcast + shuffle join with top-k, a running
    * window and a global sort-limit. */
  val Queries: Seq[String] = Seq(
    "order_wire_pipeline", "q3_join_topk", "q_window_running", "q_sort_limit")

  /** Plain warm passes after the checked one, before the timed passes. */
  val WarmPasses = 2

  /** The tables each query reads. `records_per_s` counts their rows, once
    * per query in a pass, so a plan that skips rows still counts the rows
    * the query asks about. */
  val Inputs: Map[String, Seq[String]] = Map(
    "order_wire_pipeline" -> Seq("orders"),
    "q3_join_topk" -> Seq("customer", "orders", "lineitem"),
    "q_window_running" -> Seq("lineitem"),
    "q_sort_limit" -> Seq("orders"))

  /** The query whose run phase is the `operators` layer: `OrderAnalytics`
    * on batch data, the code the streams run per micro-batch. */
  val Operators = "order_wire_pipeline"

  /** Order-insensitive digest of a result: column names, row count and the
    * sum (mod 2^64) of a 64-bit hash of each row's printed values. */
  def digest(columns: Seq[String], rows: Iterator[Row]): String = {
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      val s = r.toSeq.map(v => if (v == null) "∅" else v.toString).mkString("\u0001")
      sum += (MurmurHash3.stringHash(s, 1).toLong << 32) | (MurmurHash3.stringHash(s, 2) & 0xffffffffL)
      n += 1
    }
    f"${MurmurHash3.stringHash(columns.mkString(","))}%08x-$n-$sum%016x"
  }

  def digestOf(df: DataFrame): String = digest(df.columns.toSeq, df.collect().iterator)

  /** Recorded digests: one `name<TAB>digest` per line. */
  def readDigests(f: File): Map[String, String] =
    Files.readAllLines(f.toPath, UTF_8).asScala.map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap

  /** Queries whose outcome is not their recorded digest: a throw, a wrong
    * digest, or no recorded digest at all. */
  def mismatches(expected: Map[String, String],
                 actual: Map[String, Either[Throwable, String]]): Seq[String] =
    actual.toSeq.collect {
      case (q, Left(_)) => q
      case (q, Right(d)) if !expected.get(q).contains(d) => q
    }.sorted

  private def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** One query's build and run time in ms, and its run window in epoch ms. */
  final case class Timing(buildMs: Double, runMs: Double, runStart: Long, runEnd: Long) {
    def ms: Double = buildMs + runMs
  }
  type Pass = Map[String, Timing]

  /** Build and run one query. The job group names the phase and the query,
    * so traced runs can split them. */
  def timeQuery(spark: SparkSession, data: String, name: String): Timing = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    sc.setJobGroup(s"build:$name", name)
    val df = try SparkEntry.queries(name)(spark, data) finally sc.clearJobGroup()
    val t1 = System.nanoTime()
    val start = System.currentTimeMillis()
    sc.setJobGroup(s"run:$name", name)
    try noop(df) finally sc.clearJobGroup()
    Timing((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6, start, System.currentTimeMillis())
  }

  def run(a: Args, res: Result): Unit = {
    // two cores stay free: one for the driver thread, which builds every
    // query, and one for the JVM's compiler and collector threads
    val spark = GraftSession.local((Run.cores - 2).max(1).toString)
    try {
      val data = a.data.getAbsolutePath
      val expected = readDigests(a.digests)
      // set-up and correctness: a warm pass that collects every result and
      // compares its digest with the oracle-verified record
      val actual = Queries.map { q =>
        q -> (try Right(digestOf(SparkEntry.queries(q)(spark, data)))
              catch { case e: Throwable => Run.log(s"$q failed: $e"); Left(e) })
      }.toMap
      val bad = mismatches(expected, actual)
      if (bad.nonEmpty) Run.log("digest mismatch: " +
        bad.map(q => s"$q=${actual(q).fold(_.toString, identity)}").mkString(" "))
      res.attempted += Queries.size
      res.failed += bad.size
      // more plain warm passes: the first passes after JVM start are still
      // much slower than later ones (a throw was counted above)
      for (i <- 1 to WarmPasses; q <- Queries) {
        val t0 = System.nanoTime()
        try noop(SparkEntry.queries(q)(spark, data)) catch { case _: Throwable => () }
        Run.log(f"warm $i $q ${(System.nanoTime() - t0) / 1e6}%.0f ms")
      }
      val inputRows = Queries.flatMap(Inputs).map { t =>
        spark.read.parquet(new File(a.data, s"$t.parquet").getAbsolutePath).count()
      }.sum
      val setup = Run.sinceJvmStart

      val rng = new scala.util.Random(a.seed)
      // every query once, in a seeded order; a query that throws is failed
      def pass(): Pass = {
        Run.settle()
        rng.shuffle(Queries).flatMap { q =>
          res.attempted += 1
          try Some(q -> timeQuery(spark, data, q)) catch {
            case e: Throwable => Run.log(s"$q failed: $e"); res.failed += 1; None
          }
        }.toMap
      }
      // passes until `budget` seconds of query time, at least two
      def passes(budget: Double): Seq[Pass] = {
        val out = Seq.newBuilder[Pass]
        var spent = 0.0
        var n = 0
        while (spent < budget * 1000 || n < 2) {
          val p = pass()
          Run.log(f"pass ${p.values.map(_.ms).sum}%.0f ms: " +
            p.toSeq.sortBy(_._1).map { case (q, t) => f"$q ${t.ms}%.0f" }.mkString(" "))
          out += p; n += 1
          spent += p.values.map(_.ms).sum
        }
        out.result()
      }
      def wall(ps: Seq[Pass]): Double = Stats.median(ps.map(_.values.map(_.ms).sum)) / 1000

      if (!a.traced) {
        res.put("setup_s", setup, "s")
        val ps = passes(a.seconds)
        val perQuery = Queries.map(q => Stats.median(ps.flatMap(_.get(q)).map(_.ms)))
        res.put("wall_s", wall(ps), "s")
        res.put("records_per_s", inputRows / wall(ps), "1/s")
        // order statistics over the per-query medians, never over the
        // samples of different queries pooled together
        res.put("latency_p50_ms", Stats.percentile(perQuery, 50), "ms")
        res.put("latency_p90_ms", Stats.percentile(perQuery, 90), "ms")
        res.put("query_geomean_ms", Stats.geomean(perQuery), "ms")
      } else {
        // untraced and traced passes alternate, so warming favours neither
        val plain, timed = Seq.newBuilder[Pass]
        val spans = Seq.newBuilder[Map[String, (JobStats, JobStats)]]
        var spent = 0.0
        var n = 0
        while (spent < a.seconds * 1000 || n < 4) {
          val p = if (n % 2 == 0) pass().tap(plain += _) else {
            val jobs = new JobTrace(spark.sparkContext)
            spark.sparkContext.addSparkListener(jobs)
            try pass().tap { p =>
              jobs.fence()
              timed += p
              spans += p.keys.map(q => q -> (JobStats.of(jobs, _.group == s"build:$q"),
                JobStats.of(jobs, _.group == s"run:$q"))).toMap
            } finally spark.sparkContext.removeSparkListener(jobs)
          }
          spent += p.values.map(_.ms).sum
          n += 1
        }
        val base = wall(plain.result())
        layers(timed.result(), spans.result()).foreach { case (n, v, u) => res.put(n, v, u) }
        res.put("trace.overhead_pct", (wall(timed.result()) - base) / base * 100, "%")
        Unexercised.report(res, Unexercised.Late ++ Unexercised.Stream ++ Unexercised.Scaling)
      }
    } finally spark.stop()
  }

  /** Write each query's result as parquet, its oracle SQL and its digest
    * into `out`, for a one-off check against DuckDB before the digests are
    * recorded (see README.md). */
  def record(data: File, out: File): Unit = {
    val spark = GraftSession.local(Run.cores.toString)
    try {
      val digests = Queries.map { q =>
        val df = SparkEntry.queries(q)(spark, data.getAbsolutePath)
        df.coalesce(1).write.mode("overwrite").parquet(new File(out, q).getAbsolutePath)
        s"$q\t${digestOf(df)}"
      }
      Files.write(new File(out, "digests.tsv").toPath, (digests.mkString("\n") + "\n").getBytes(UTF_8))
      Files.write(new File(out, "oracle_sql.json").toPath, Json.render(
        Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap).getBytes(UTF_8))
    } finally spark.stop()
  }

  /** Per-layer metrics of traced passes, each the median over passes:
    * construction (`queries.*`, per query and in total), the run phase
    * (`exec.*`, summed over the set; `task_skew` is the median over
    * queries) and the `operators` layer (the run phase of [[Operators]]). */
  def layers(timed: Seq[Pass], stats: Seq[Map[String, (JobStats, JobStats)]]): Seq[(String, Double, String)] = {
    val passes = timed.zip(stats)
    def med(f: (Pass, Map[String, (JobStats, JobStats)]) => Double): Double =
      Stats.median(passes.map { case (t, s) => f(t, s) })
    val perQuery = Queries.flatMap { q =>
      Seq((s"queries.build_ms.$q", med((t, _) => t(q).buildMs), "ms"),
        (s"queries.build_jobs.$q", med((_, s) => s(q)._1.jobs.toDouble), "count"))
    }
    val build = Seq(
      ("queries.build_ms", med((t, _) => t.values.map(_.buildMs).sum), "ms"),
      ("queries.build_jobs", med((_, s) => s.values.map(_._1.jobs.toDouble).sum), "count"))
    val exec = passes.map { case (t, s) =>
      t.toSeq.map { case (q, x) =>
        val run = s(q)._2
        JobStats.execMetrics(run, x.runMs, run.uncoveredMs(x.runStart, x.runEnd))
      }.transpose.map { ms =>
        val (name, _, unit) = ms.head
        val vs = ms.map(_._2)
        (name, if (name == "exec.task_skew") Stats.median(vs) else vs.sum, unit)
      }
    }.transpose.map(ps => (ps.head._1, Stats.median(ps.map(_._2)), ps.head._3))
    def op(f: JobStats => Double) = med((_, s) => f(s(Operators)._2))
    val operators = Seq(
      ("operators.records_in", op(_.inRecords.toDouble), "count"),
      ("operators.executor_cpu_ms", op(_.cpuMs), "ms"),
      ("operators.cpu_us_per_record", op(j => j.cpuMs * 1000 / j.inRecords.max(1)), "us"),
      ("operators.shuffle_write_bytes", op(_.shWriteBytes.toDouble), "bytes"))
    perQuery ++ build ++ exec ++ operators
  }
}
