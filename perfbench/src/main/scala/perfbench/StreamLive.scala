package perfbench

import graft.GraftSession
import graft.streaming.{KVStore, OrderStreamPipeline}
import java.io.File
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** The orders of one tick's file, generated before the run starts. */
final case class TickFile(bytes: Array[Byte], dayCounts: Seq[(String, Int)], records: Int)

/** `stream_live`: an open loop. A generator thread publishes one file per
  * tick on a fixed schedule that does not slow when the system slows; the
  * query runs with Spark's default trigger (next batch as soon as the last
  * one ends). A fixed share of the orders are late, with event days spread
  * over the past year, so each small batch updates hundreds of day keys
  * over the one RESP connection. Per-batch cost (planning, offset/WAL and
  * commit logs, file listing, job launch, sink round trips) dominates. */
object StreamLive {
  val TickMs = 20
  val PerTick = 100
  val LateShare = 0.25
  /** Set-up drains this many files, one per batch, to warm the per-batch
    * path (planning, logs, listing, job launch), which keeps getting faster
    * for tens of seconds after JVM start. */
  val WarmFiles = 30
  /** On-time orders carry event times from 2026-01-01 00:00:00 UTC on. */
  val NowEpoch = 1767225600L

  /** The files of an open-loop run of `ticks` ticks, and the tally. */
  def plan(seed: Long, ticks: Int): (Seq[TickFile], Tally) = {
    val rng = new SplittableRandom(seed)
    val tally = new Tally
    val files = (0 until ticks).map { t =>
      val onTime = NowEpoch + t.toLong * TickMs / 1000
      val orders = Seq.fill(PerTick) {
        val when =
          if (rng.nextDouble() < LateShare)
            NowEpoch - rng.nextLong(1L, 366L) * 86400 + rng.nextLong(86400L)
          else onTime
        OrderGen.draw(rng, when)
      }
      orders.foreach(tally.add)
      val counts = orders.groupBy(_.day).map { case (d, os) => d -> os.size }.toSeq
      TickFile(Run.lines(orders.iterator.map(_.wire)), counts, orders.size)
    }
    (files, tally)
  }

  /** Publishes `files`, file `i` due at `t0 + i` ticks, counting offered
    * records into `offered` and recording how late each publication
    * completed. */
  final class Generator(files: Seq[TickFile], staging: File, watched: File,
                        offered: AtomicLong, val t0: Long) extends Thread("perfbench-loadgen") {
    val lateNanos = new Array[Long](files.size)
    setDaemon(true)

    def due(i: Int): Long = t0 + i.toLong * TickMs * 1000000L

    override def run(): Unit = files.zipWithIndex.foreach { case (f, i) =>
      var now = System.nanoTime()
      while (now < due(i)) { LockSupport.parkNanos(due(i) - now); now = System.nanoTime() }
      Run.publish(f.bytes, staging, new File(watched, f"tick-$i%06d.json"))
      lateNanos(i) = System.nanoTime() - due(i)
      offered.addAndGet(f.records)
    }
  }

  /** One open-loop run of `files` into `store` under `prefix`, timed from
    * the first due time until every published file was processed. */
  def openLoop(spark: SparkSession, store: KVStore, files: Seq[TickFile],
               work: File, prefix: String, offered: AtomicLong): (StreamRun, Generator) = {
    val watched = Run.dir(work, s"$prefix-in")
    val raw = spark.readStream.text(watched.getAbsolutePath)
    val q = new OrderStreamPipeline(store, prefix, false)
      .start(raw, new File(work, s"$prefix-ckpt").getAbsolutePath, Trigger.ProcessingTime(0L))
    try {
      // first tick a little after start, so the query is already polling
      val start = System.currentTimeMillis() + 200
      val gen = new Generator(files, Run.dir(work, s"$prefix-staging"), watched,
        offered, System.nanoTime() + 200000000L)
      gen.start()
      gen.join()
      q.processAllAvailable()
      (StreamRun.finish(q, gen.t0, start), gen)
    } finally q.stop()
  }

  /** Closed drain of `files`, all written before the query starts, one
    * file per batch. */
  def warmUp(spark: SparkSession, store: KVStore, files: Seq[TickFile],
             work: File, prefix: String): Unit = {
    val src = Run.dir(work, s"$prefix-in")
    val staging = Run.dir(work, s"$prefix-staging")
    files.zipWithIndex.foreach { case (f, i) =>
      Run.publish(f.bytes, staging, new File(src, f"tick-$i%06d.json"))
    }
    val raw = spark.readStream.option("maxFilesPerTrigger", 1L).text(src.getAbsolutePath)
    val q = new OrderStreamPipeline(store, prefix, false)
      .start(raw, new File(work, s"$prefix-ckpt").getAbsolutePath, Trigger.ProcessingTime(0L))
    try q.processAllAvailable() finally q.stop()
  }

  def run(a: Args, res: Result): Unit = Run.withResp { resp =>
    val spark = GraftSession.local((Run.cores - 2).max(1).toString)
    try {
      StreamRun.retainProgress(spark)
      var runs = 0
      // One open-loop run, checked after it ends; returns its latencies in
      // ms, the run, its records, its generator and, when traced, the
      // per-layer metrics.
      def liveChecked(sinkName: String, seconds: Double, traced: Boolean)
          : (Seq[Double], StreamRun, Long, Generator, Seq[(String, Double, String)]) = {
        val prefix = s"L$runs-"
        val (files, tally) = plan(a.seed * 1000 + runs, (seconds * 1000 / TickMs).round.toInt.max(1))
        runs += 1
        val rec = SinkLog.open(sinkName, traced)
        val store = new RecordingStore(sinkName, resp)
        val offered = new AtomicLong()
        def go() = openLoop(spark, store, files, a.work, prefix, offered)
        val ((run, gen), layers) =
          if (!traced) (go(), Seq.empty)
          else {
            var out: (StreamRun, Generator) = null
            val (_, l) = StreamTrace(spark, rec, () => offered.get) { out = go(); out._1 }
            (out, l)
          }
        val published = files.zipWithIndex.map { case (f, i) => Published(gen.due(i), f.dayCounts) }
        val (lat, missing) = Latency.attribute(published, rec.landingsByKey, prefix)
        val wrong = tally.recordsInWrongDays(d => resp.hgetAll(prefix + d))
        res.attempted += tally.records
        res.failed += math.max(missing, wrong)
        if (traced) res.failed += StreamLayers.unreconciled(layers, tally.records)
        Run.log(f"live $prefix%s batches=${run.lastBatch + 1} samples=${lat.length} " +
          f"p50=${Stats.median(lat.toSeq)}%.1f ms missing=$missing wrong=$wrong")
        (lat.toSeq, run, tally.records, gen, layers)
      }

      // set-up: a closed warm-up drain, checked like every run
      val (warmFiles, warmTally) = plan(a.seed * 1000 + 999, WarmFiles)
      SinkLog.open("warm", traced = false)
      warmUp(spark, new RecordingStore("warm", resp), warmFiles, a.work, "W-")
      res.attempted += warmTally.records
      res.failed += warmTally.recordsInWrongDays(d => resp.hgetAll("W-" + d))
      val setup = Run.sinceJvmStart

      if (!a.traced) {
        res.put("setup_s", setup, "s")
        val (lat, run, records, _, _) = liveChecked("live", a.seconds, traced = false)
        res.put("latency_p50_ms", Stats.percentile(lat, 50), "ms")
        res.put("latency_p90_ms", Stats.percentile(lat, 90), "ms")
        // from the first due time until every published file was processed
        res.put("wall_s", run.seconds, "s")
        res.put("records_per_s", records / run.seconds, "1/s")
        res.put("query_geomean_ms", Stats.geomean(run.batchMs), "ms")
      } else {
        val (plain, _, _, _, _) = liveChecked("live", a.seconds / 2, traced = false)
        val (traced, _, _, gen, layers) = liveChecked("traced", a.seconds / 2, traced = true)
        layers.foreach { case (n, v, u) => res.put(n, v, u) }
        res.put("loadgen.late_ms_p99", Stats.percentile(gen.lateNanos.toSeq.map(_ / 1e6), 99), "ms")
        val p90 = Stats.percentile(plain, 90)
        res.put("trace.overhead_pct", (Stats.percentile(traced, 90) - p90) / p90 * 100, "%")
        Unexercised.report(res, Unexercised.Scaling ++ Unexercised.Queries)
      }
    } finally spark.stop()
  }
}
