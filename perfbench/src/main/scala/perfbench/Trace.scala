package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.jdk.CollectionConverters._

/** Task metrics the benchmark reads, per finished task. */
final case class TaskRec(stage: Int, durationMs: Long, runMs: Long, cpuNs: Long,
                         gcMs: Long, inBytes: Long, inRecords: Long,
                         shReadBytes: Long, shWriteBytes: Long, spillBytes: Long)

/** A job with the local properties it was submitted under. */
final case class JobRec(id: Int, group: String, queryId: String, stages: Seq[Int])

/** Stage timing from the scheduler: submission and completion, epoch ms. */
final case class StageRec(id: Int, submitted: Long, completed: Long)

/** SparkListener for traced runs. Events arrive on Spark's listener bus,
  * asynchronously; [[fence]] waits until every earlier event was seen. */
final class JobTrace(sc: SparkContext) extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs.add(JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
      prop("sql.streaming.queryId").getOrElse(""), e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(StageRec(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.duration,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled))
  }

  /** Run a marker job and wait until its end event arrives. The bus
    * delivers one listener's events in order, so everything posted before
    * the marker has then been seen. */
  def fence(): Unit = {
    val group = s"perfbench-fence-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30e9.toLong
    def seen = jobs.asScala.exists(j => j.group == group && ended.contains(j.id))
    while (!seen) {
      require(System.nanoTime() < deadline, "listener bus did not drain in 30 s")
      Thread.sleep(5)
    }
  }
}

/** Counters over a set of jobs. */
final case class JobStats(jobs: Int, stages: Int, tasks: Int, runMs: Double,
                          cpuMs: Double, gcMs: Double, inBytes: Long,
                          inRecords: Long, shReadBytes: Long, shWriteBytes: Long,
                          spillBytes: Long, stageRecs: Seq[StageRec],
                          taskRecs: Seq[TaskRec]) {

  /** Milliseconds of `[t0, t1]` (epoch ms) no stage of these jobs covers. */
  def uncoveredMs(t0: Long, t1: Long): Double = {
    val iv = stageRecs.filter(s => s.submitted > 0 && s.completed > 0)
      .map(s => (math.max(s.submitted, t0), math.min(s.completed, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = t0
    iv.foreach { case (a, b) =>
      val s = math.max(a, end)
      if (b > s) { covered += b - s; end = b }
    }
    (t1 - t0 - covered).toDouble
  }

  /** Slowest over median task duration in the stage with the most tasks. */
  def taskSkew: Double =
    if (taskRecs.isEmpty) 1.0
    else {
      val biggest = taskRecs.groupBy(_.stage).maxBy { case (id, ts) => (ts.size, -id) }._2
      val d = biggest.map(_.durationMs.toDouble)
      val med = Stats.median(d)
      if (med <= 0) 1.0 else d.max / med
    }
}

object JobStats {
  /** The run phase (`exec.*`) of `js`, which ran for `runMs` wall ms of
    * which `gapMs` no stage covered. */
  def execMetrics(js: JobStats, runMs: Double, gapMs: Double): Seq[(String, Double, String)] = Seq(
    ("exec.run_ms", runMs, "ms"),
    ("exec.jobs", js.jobs.toDouble, "count"),
    ("exec.stages", js.stages.toDouble, "count"),
    ("exec.tasks", js.tasks.toDouble, "count"),
    ("exec.executor_run_ms", js.runMs, "ms"),
    ("exec.executor_cpu_ms", js.cpuMs, "ms"),
    ("exec.gc_ms", js.gcMs, "ms"),
    ("exec.input_bytes", js.inBytes.toDouble, "bytes"),
    ("exec.shuffle_read_bytes", js.shReadBytes.toDouble, "bytes"),
    ("exec.shuffle_write_bytes", js.shWriteBytes.toDouble, "bytes"),
    ("exec.spill_bytes", js.spillBytes.toDouble, "bytes"),
    ("exec.driver_gap_ms", gapMs, "ms"),
    ("exec.task_skew", js.taskSkew, "ratio"))

  def of(trace: JobTrace, keep: JobRec => Boolean): JobStats = {
    val js = trace.jobs.asScala.toSeq.filter(keep)
    val stageIds = js.flatMap(_.stages).toSet
    val st = trace.stages.asScala.toSeq.filter(s => stageIds.contains(s.id))
    val ts = trace.tasks.asScala.toSeq.filter(t => stageIds.contains(t.stage))
    JobStats(js.size, st.size, ts.size, ts.map(_.runMs).sum.toDouble,
      ts.map(_.cpuNs).sum / 1e6, ts.map(_.gcMs).sum.toDouble,
      ts.map(_.inBytes).sum, ts.map(_.inRecords).sum, ts.map(_.shReadBytes).sum,
      ts.map(_.shWriteBytes).sum, ts.map(_.spillBytes).sum, st, ts)
  }
}

/** Per-batch progress of the one streaming query that runs while this
  * listener is registered (traced runs). */
final class ProgressTrace(offered: () => Long) extends StreamingQueryListener {
  /** batch id → (input rows, durationMs by phase) */
  val batches = new java.util.concurrent.ConcurrentSkipListMap[Long, (Long, Map[String, Long])]()
  /** records offered minus committed at the end of each batch */
  val lag = new ConcurrentLinkedQueue[Long]()
  private var committed = 0L

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    // idle triggers report progress too; only executed batches run addBatch
    if (p.durationMs.containsKey("addBatch") &&
        batches.putIfAbsent(p.batchId,
          (p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)) == null) {
      committed += p.numInputRows
      lag.add(offered() - committed)
    }
  }

  /** Wait until the progress of batch `last` has arrived. */
  def awaitBatch(last: Long): Unit = {
    val deadline = System.nanoTime() + 30e9.toLong
    while (batches.isEmpty || batches.lastKey < last) {
      require(System.nanoTime() < deadline, s"no progress event for batch $last in 30 s")
      Thread.sleep(5)
    }
  }

  def phase(name: String): Seq[Double] =
    batches.values.asScala.toSeq.map(_._2.getOrElse(name, 0L).toDouble)
}

/** One streaming query run: the seconds the caller timed and their window
  * in epoch ms, the query's id and last batch, and the `triggerExecution`
  * time of each batch it executed. */
final case class StreamRun(seconds: Double, queryId: String, lastBatch: Long,
                           batchMs: Seq[Double], startMs: Long, endMs: Long)

object StreamRun {
  /** Progress entries a query keeps; more than any run executes batches. */
  val Retention = 100000

  /** Keep enough progress on `spark` for [[batchMs]] to see every batch. */
  def retainProgress(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", Retention.toString)

  /** `triggerExecution` ms of every batch `q` executed. Idle triggers
    * report progress too, but only executed batches run `addBatch`. */
  def batchMs(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[Double] =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
      .map(_.durationMs.get("triggerExecution").doubleValue)

  /** The run of `q`, timed from `startNanos` / `startMs` until now. */
  def finish(q: org.apache.spark.sql.streaming.StreamingQuery, startNanos: Long,
             startMs: Long): StreamRun = {
    val seconds = (System.nanoTime() - startNanos) / 1e9
    val endMs = System.currentTimeMillis()
    StreamRun(seconds, q.id.toString, q.lastProgress.batchId, batchMs(q), startMs, endMs)
  }
}

object StreamTrace {
  /** Run `body`, one streaming query, with the progress and job listeners
    * registered, and return its run with the stream's per-layer metrics. */
  def apply(spark: org.apache.spark.sql.SparkSession, rec: SinkRecorder,
            offered: () => Long)(body: => StreamRun): (StreamRun, Seq[(String, Double, String)]) = {
    val progress = new ProgressTrace(offered)
    val jobs = new JobTrace(spark.sparkContext)
    spark.streams.addListener(progress)
    spark.sparkContext.addSparkListener(jobs)
    try {
      val run = body
      progress.awaitBatch(run.lastBatch)
      jobs.fence()
      (run, StreamLayers.metrics(progress, jobs, run, rec, offered()))
    } finally {
      spark.streams.removeListener(progress)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }
}

/** Per-layer metrics of one streaming phase, shared by both stream
  * workloads. Names follow the modules they measure. */
object StreamLayers {
  /** Records on which the layers disagree with the `offered` records: the
    * larger of the gaps in records read and in `total` increments. */
  def unreconciled(layers: Seq[(String, Double, String)], offered: Long): Long = {
    val m = layers.map { case (n, v, _) => n -> v }.toMap
    Seq("operators.records_in", "sink.total_delta_sum")
      .map(k => math.abs(m(k) - offered).toLong).max
  }

  def metrics(progress: ProgressTrace, jobs: JobTrace, run: StreamRun,
              rec: SinkRecorder, offered: Long): Seq[(String, Double, String)] = {
    val js = JobStats.of(jobs, _.queryId == run.queryId)
    val nb = progress.batches.size.max(1)
    val calls = rec.calls.asScala.toSeq
    val byBatch = calls.groupBy(_.batch).values.toSeq
    def p(xs: Seq[Double], q: Double) = if (xs.isEmpty) 0.0 else Stats.percentile(xs, q)
    val read = progress.batches.values.asScala.toSeq.map { case (_, d) =>
      (d.getOrElse("latestOffset", 0L) + d.getOrElse("getBatch", 0L)).toDouble }
    Seq(
      ("sources.lag_records_max", (progress.lag.asScala.maxOption.getOrElse(0L)).toDouble, "count"),
      ("sources.read_ms_p50", p(read, 50), "ms"),
      ("sources.input_bytes", js.inBytes.toDouble, "bytes"),
      ("streaming.batches", progress.batches.size.toDouble, "count"),
      ("streaming.rows_per_batch_p50",
        p(progress.batches.values.asScala.toSeq.map(_._1.toDouble), 50), "count"),
      ("streaming.trigger_ms_p50", p(progress.phase("triggerExecution"), 50), "ms"),
      ("streaming.trigger_ms_p90", p(progress.phase("triggerExecution"), 90), "ms"),
      ("streaming.planning_ms_p50", p(progress.phase("queryPlanning"), 50), "ms"),
      ("streaming.wal_ms_p50", p(progress.phase("walCommit"), 50), "ms"),
      ("streaming.commit_ms_p50", p(progress.phase("commitOffsets"), 50), "ms"),
      ("streaming.add_batch_ms_p50", p(progress.phase("addBatch"), 50), "ms"),
      ("streaming.jobs_per_batch", js.jobs.toDouble / nb, "count"),
      ("streaming.stages_per_batch", js.stages.toDouble / nb, "count"),
      ("streaming.tasks_per_batch", js.tasks.toDouble / nb, "count"),
      ("operators.records_in", js.inRecords.toDouble, "count"),
      ("operators.executor_cpu_ms", js.cpuMs, "ms"),
      ("operators.cpu_us_per_record", if (js.inRecords == 0) 0.0 else js.cpuMs * 1000 / js.inRecords, "us"),
      ("operators.shuffle_write_bytes", js.shWriteBytes.toDouble, "bytes"),
      ("sink.hincrby_calls", calls.size.toDouble, "count"),
      ("sink.calls_per_batch_p50", p(byBatch.map(_.size.toDouble), 50), "count"),
      ("sink.keys_per_batch_p50", p(byBatch.map(_.map(_.key).distinct.size.toDouble), 50), "count"),
      ("sink.hincrby_us_p50", p(calls.map(_.nanos / 1e3), 50), "us"),
      ("sink.hincrby_us_p99", p(calls.map(_.nanos / 1e3), 99), "us"),
      ("sink.sink_ms_per_batch_p50", p(byBatch.map(_.map(_.nanos).sum / 1e6), 50), "ms"),
      ("sink.errors", rec.errors.get.toDouble, "count"),
      ("sink.total_delta_sum", calls.filter(_.field == "total").map(_.delta).sum.toDouble, "count"),
      ("loadgen.records_offered", offered.toDouble, "count")) ++
      JobStats.execMetrics(js, run.seconds * 1000, js.uncoveredMs(run.startMs, run.endMs))
  }
}

/** Per-layer metrics that only some workloads exercise. Every traced run
  * reports the whole per-layer set of BENCHMARK.json (run.py checks it);
  * a metric of a layer the workload does not exercise reads 0. */
object Unexercised {
  def report(res: Result, metrics: Seq[(String, String)]): Unit =
    metrics.foreach { case (n, u) => res.put(n, 0.0, u) }

  /** `stream_live` only: there is no schedule to be late for elsewhere. */
  val Late: Seq[(String, String)] = Seq("loadgen.late_ms_p99" -> "ms")

  /** `stream_backlog` only. */
  val Scaling: Seq[(String, String)] = Seq(
    "scaling.single_core_records_per_s" -> "1/s", "scaling.speedup" -> "ratio")

  /** Both streams: the file source, the micro-batch engine and the sink. */
  val Stream: Seq[(String, String)] = Seq(
    "loadgen.records_offered" -> "count",
    "sources.lag_records_max" -> "count", "sources.read_ms_p50" -> "ms",
    "sources.input_bytes" -> "bytes",
    "streaming.batches" -> "count", "streaming.rows_per_batch_p50" -> "count",
    "streaming.trigger_ms_p50" -> "ms", "streaming.trigger_ms_p90" -> "ms",
    "streaming.planning_ms_p50" -> "ms", "streaming.wal_ms_p50" -> "ms",
    "streaming.commit_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.jobs_per_batch" -> "count", "streaming.stages_per_batch" -> "count",
    "streaming.tasks_per_batch" -> "count",
    "sink.hincrby_calls" -> "count", "sink.calls_per_batch_p50" -> "count",
    "sink.keys_per_batch_p50" -> "count", "sink.hincrby_us_p50" -> "us",
    "sink.hincrby_us_p99" -> "us", "sink.sink_ms_per_batch_p50" -> "ms",
    "sink.errors" -> "count", "sink.total_delta_sum" -> "count")

  /** `query_mix` only: construction of the registered queries. */
  val Queries: Seq[(String, String)] =
    QueryMix.Queries.flatMap(q => Seq(s"queries.build_ms.$q" -> "ms", s"queries.build_jobs.$q" -> "count")) ++
      Seq("queries.build_ms" -> "ms", "queries.build_jobs" -> "count")
}
