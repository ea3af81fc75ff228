package perfbench

import graft.GraftSession
import graft.streaming.{KVStore, OrderStreamPipeline}
import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** `stream_backlog`: a closed drain of a seeded, time-ordered backlog of
  * wire-JSON orders through the file source, `OrderStreamPipeline` and the
  * RESP sink. Batches are large and time-ordered, so per-record work (JSON
  * parse, time parts, partial→final aggregate) dominates and each batch
  * touches only a few day keys. */
object StreamBacklog {
  val Records = 600000
  val Files = 12
  val FilesPerTrigger = 3
  /** The backlog covers 60 days from 2025-01-01 00:00:00 UTC. */
  val StartEpoch = 1735689600L
  val SpanSec = 60L * 86400

  /** Write the backlog for `seed` into `dir` and return its tally. */
  def write(seed: Long, dir: File, staging: File): Tally = {
    val tally = new Tally
    val it = OrderGen.backlog(seed, Records, StartEpoch, SpanSec)
    for (f <- 0 until Files) {
      val n = Records / Files + (if (f < Records % Files) 1 else 0)
      val part = it.take(n).map { o => tally.add(o); o.wire }
      Run.publish(Run.lines(part), staging, new File(dir, f"part-$f%05d.json"))
    }
    tally
  }

  /** Drain everything in `src` into `store` under `prefix`, timed from
    * `start` until `processAllAvailable` returns. */
  def drain(spark: SparkSession, store: KVStore, src: File, ckpt: File,
            prefix: String): StreamRun = {
    val (t0, start) = (System.nanoTime(), System.currentTimeMillis())
    val raw = spark.readStream.option("maxFilesPerTrigger", FilesPerTrigger.toLong)
      .text(src.getAbsolutePath)
    val q = new OrderStreamPipeline(store, prefix, false)
      .start(raw, ckpt.getAbsolutePath, Trigger.ProcessingTime(0L))
    try {
      q.processAllAvailable()
      StreamRun.finish(q, t0, start)
    } finally q.stop()
  }

  def run(a: Args, res: Result): Unit = Run.withResp { resp =>
    var spark = GraftSession.local((Run.cores - 1).max(1).toString)
    try {
      StreamRun.retainProgress(spark)
      val staging = Run.dir(a.work, "staging")
      val src = Run.dir(a.work, "backlog")
      val tally = write(a.seed, src, staging)
      val ckpts = Run.dir(a.work, "ckpt")
      var drains = 0
      // Every drain gets its own checkpoint and key prefix, and its sink
      // state is checked against the tally after its timed window.
      def drainChecked(sinkName: String): StreamRun = {
        val prefix = s"d$drains-"
        drains += 1
        val store = new RecordingStore(sinkName, resp)
        Run.settle()
        val r = drain(spark, store, src, new File(ckpts, prefix), prefix)
        res.attempted += tally.records
        res.failed += tally.recordsInWrongDays(d => resp.hgetAll(prefix + d))
        Run.log(f"drain $prefix%s ${r.seconds}%.3f s, batches ${r.batchMs.mkString(" ")} ms")
        r
      }
      def phase(budget: Double): Seq[StreamRun] = {
        SinkLog.open("drain", traced = false)
        val runs = Seq.newBuilder[StreamRun]
        var spent = 0.0
        var n = 0
        while (spent < budget || n < 2) {
          val r = drainChecked("drain")
          runs += r; spent += r.seconds; n += 1
        }
        runs.result()
      }

      // set-up: the backlog written, and two warm-up drains of it; the
      // first drain after JVM start is still much slower than the third
      SinkLog.open("warm", traced = false)
      drainChecked("warm")
      drainChecked("warm")
      val setup = Run.sinceJvmStart

      if (!a.traced) {
        res.put("setup_s", setup, "s")
        val runs = phase(a.seconds)
        val wall = Stats.median(runs.map(_.seconds))
        // a drain has no per-event latency (only queue position); the
        // latency a user sees is how long each micro-batch takes to land
        val batches = runs.flatMap(_.batchMs)
        res.put("wall_s", wall, "s")
        res.put("records_per_s", Records / wall, "1/s")
        res.put("latency_p50_ms", Stats.percentile(batches, 50), "ms")
        res.put("latency_p90_ms", Stats.percentile(batches, 90), "ms")
        res.put("query_geomean_ms", Stats.geomean(batches), "ms")
      } else {
        // untraced and traced drains alternate, so warming favours neither;
        // the layers come from the last traced drain
        SinkLog.open("drain", traced = false)
        val (plain, traced) = (1 to 4).map { i =>
          if (i % 2 == 1) (drainChecked("drain").seconds, Seq.empty)
          else {
            val rec = SinkLog.open("traced", traced = true)
            val (r, l) = StreamTrace(spark, rec, () => Records.toLong)(drainChecked("traced"))
            (r.seconds, l)
          }
        }.partition(_._2.isEmpty)
        traced.last._2.foreach { case (n, v, u) => res.put(n, v, u) }
        res.failed += StreamLayers.unreconciled(traced.last._2, Records)
        val base = Stats.median(plain.map(_._1))
        res.put("trace.overhead_pct", (Stats.median(traced.map(_._1)) - base) / base * 100, "%")
        spark.stop()
        spark = GraftSession.local("1")
        SinkLog.open("single", traced = false)
        val one = drainChecked("single").seconds
        res.put("scaling.single_core_records_per_s", Records / one, "1/s")
        res.put("scaling.speedup", one / base, "ratio")
        Unexercised.report(res, Unexercised.Late ++ Unexercised.Queries)
      }
    } finally spark.stop()
  }
}
