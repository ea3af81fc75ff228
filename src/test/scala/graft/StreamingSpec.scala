package graft

import graft.sources.MockOrderGenerator
import graft.streaming.{InMemoryKVStore, KVStoreRegistry, OrderStreamPipeline, RespKVStore, RespServer}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** [[graft.streaming.KVStore]] wrapper that "crashes the serving process"
  * the moment the sink tries to mark a batch applied. The kill hook is
  * @transient: increments run inside executor task closures (which must
  * serialize this handle), while markBatch only ever runs on the driver,
  * where the hook is live. */
private final class CrashAtMarkStore(inner: RespKVStore, kill0: () => Unit)
    extends graft.streaming.KVStore {
  @transient private val kill = kill0
  def hincrBy(k: String, f: String, d: Long): Long = inner.hincrBy(k, f, d)
  def hgetAll(k: String): Map[String, Long] = inner.hgetAll(k)
  def batchSeen(id: Long): Boolean = inner.batchSeen(id)
  def markBatch(id: Long): Boolean = {
    kill()
    throw new IllegalStateException("serving process died before mark")
  }
}

/** JVM-wide increment counter + arm switch for [[CrashMidApplyStore]]:
  * static so the crash fires exactly once on the Nth hincrBy, whichever
  * task closure (deserialized copy of the handle) issues it. */
private object CrashMidApply {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var armed = false
}

/** [[graft.streaming.KVStore]] wrapper that severs the pooled TCP
  * connection immediately before the Nth increment — the link dies UNDER
  * a running foreachPartition task, after some increments of the same
  * batch already landed. The server stays alive: this injects a transport
  * failure (executor-side), not a server death (that window is
  * [[CrashAtMarkStore]]'s). */
private final class CrashMidApplyStore(inner: RespKVStore, crashOn: Int)
    extends graft.streaming.KVStore {
  def hincrBy(k: String, f: String, d: Long): Long = {
    if (CrashMidApply.armed && CrashMidApply.calls.incrementAndGet() == crashOn)
      RespKVStore.killConnections()
    inner.hincrBy(k, f, d)
  }
  def hgetAll(k: String): Map[String, Long] = inner.hgetAll(k)
  def batchSeen(id: Long): Boolean = inner.batchSeen(id)
  def markBatch(id: Long): Boolean = inner.markBatch(id)
}

/** End-to-end Structured Streaming parity: cross-batch accumulation in the
  * KV sink, checkpoint-based resume (replacing the reference's two manual
  * offset-management variants), replay semantics, and the idiomatic
  * watermarked aggregation. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def wire(time: String, fee: Long, flag: String): String =
    s"""{"time":"$time","userId":"7","courseId":"42","fee":"$fee","flag":"$flag","orderId":"x"}"""

  private def freshStore(name: String): InMemoryKVStore = {
    val store = new InMemoryKVStore
    KVStoreRegistry.register(name, store)
    store
  }

  test("memory-stream e2e: per-day metrics accumulate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val store = freshStore("t1")
    val input = MemoryStream[String]
    val pipeline = new OrderStreamPipeline("t1")
    val ckpt = Files.createTempDirectory("ckpt1").toString
    val q = pipeline.start(input.toDF().withColumnRenamed("value", "value"),
      ckpt, Trigger.ProcessingTime("50 milliseconds"))

    input.addData(
      wire("2024-03-01 10:00:00", 100, "1"),
      wire("2024-03-01 11:00:00", 50, "0"))
    q.processAllAvailable()
    assert(store.hgetAll("n-ko-2024-03-01") ==
      Map("total" -> 2L, "success" -> 1L, "fee" -> 100L))

    input.addData(
      wire("2024-03-01 12:00:00", 30, "1"),   // same day, next batch
      wire("2024-03-02 00:00:01", 7, "1"))
    q.processAllAvailable()
    q.stop()
    assert(store.hgetAll("n-ko-2024-03-01") ==
      Map("total" -> 3L, "success" -> 2L, "fee" -> 130L))
    assert(store.hgetAll("n-ko-2024-03-02") ==
      Map("total" -> 1L, "success" -> 1L, "fee" -> 7L))
  }

  test("TCP KVStore: sink accumulates across a real network boundary") {
    // The serializable RespKVStore handle is captured by the task closure
    // directly — no registry on the "executor" side — and every increment
    // crosses an actual socket to the server's state. This is the path a
    // cluster deployment takes (reference: Redis), without the shared-JVM
    // registry shortcut the in-memory tests use.
    val server = new RespServer()
    server.start()
    try {
      val store = new RespKVStore("127.0.0.1", server.port)
      val p = new OrderStreamPipeline(store, "n-ko-", true)
      val batch = Seq(
        wire("2024-05-01 09:00:00", 40, "1"),
        wire("2024-05-01 10:00:00", 25, "0"),
        wire("2024-05-02 08:00:00", 11, "1")).toDF("value").repartition(3)
      p.applyBatch(batch, 0L)
      assert(server.state.hgetAll("n-ko-2024-05-01") ==
        Map("total" -> 2L, "success" -> 1L, "fee" -> 40L))
      assert(server.state.hgetAll("n-ko-2024-05-02") ==
        Map("total" -> 1L, "success" -> 1L, "fee" -> 11L))
      // replay of an applied batch id is a no-op (SISMEMBER goes over the wire)
      p.applyBatch(batch, 0L)
      assert(server.state.hgetAll("n-ko-2024-05-01") ==
        Map("total" -> 2L, "success" -> 1L, "fee" -> 40L))
      // the handle survives java serialization like any task closure
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(store); oos.close()
      val copy = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bos.toByteArray))
        .readObject().asInstanceOf[RespKVStore]
      assert(copy.hgetAll("n-ko-2024-05-02") ==
        Map("total" -> 1L, "success" -> 1L, "fee" -> 11L))
    } finally { server.stop(); RespKVStore.resetConnections() }
  }

  test("TCP KVStore: a server restart does not poison the pooled connection") {
    val server = new RespServer()
    server.start()
    val port = server.port
    try {
      val store = new RespKVStore("127.0.0.1", port)
      assert(store.hincrBy("k", "f", 1L) == 1L)
      // kill the server mid-life: the cached connection is now dead
      server.stop()
      intercept[Exception](store.hincrBy("k", "f", 1L))
      // a new server on the SAME endpoint: the failed call must have
      // evicted the dead connection so this call reconnects and succeeds
      val server2 = new RespServer(fixedPort = port)
      server2.start()
      try assert(store.hincrBy("k", "f", 5L) == 5L)
      finally server2.stop()
    } finally { server.stop(); RespKVStore.resetConnections() }
  }

  test("TCP KVStore: server death between apply and mark degrades to " +
       "at-least-once for that batch — replay re-applies, nothing is lost") {
    // The documented window (OrderStreamPipeline.applyBatch): increments
    // land on the store, then the server dies BEFORE markBatch. The batch
    // is deliberately not marked up front, so its replay must re-apply
    // (double-count — at-least-once), never be skipped (silent loss).
    val server = new RespServer()
    server.start()
    val port = server.port
    val store = new RespKVStore("127.0.0.1", port)
    // Kills the serving process at the exact apply→mark boundary. The
    // store DATA survives (server restarts over the same backing), the
    // mark does not happen — a real crash of a persistent KV backend.
    // (Routing the MARK through the dying socket instead would race the
    // server's close.)
    val crashing = new CrashAtMarkStore(store, () => {
      server.stop()
      RespKVStore.resetConnections()
    })
    try {
      val p = new OrderStreamPipeline(crashing, "n-ko-", true)
      val batch = Seq(wire("2024-06-01 10:00:00", 20, "1")).toDF("value")
      // crash in the window: increments applied, mark call dies
      intercept[Exception](p.applyBatch(batch, 0L))
      // serving process restarts over the SURVIVING data
      val server2 = new RespServer(fixedPort = port, backing = server.state)
      server2.start()
      try {
        assert(server2.state.hgetAll("n-ko-2024-06-01") ==
          Map("total" -> 1L, "success" -> 1L, "fee" -> 20L))
        assert(!store.batchSeen(0L))   // the crash window: applied, unmarked
        // replay: MUST re-apply (batch 0 was never marked) → double-count,
        // the documented at-least-once degradation for exactly this batch
        val p2 = new OrderStreamPipeline(store, "n-ko-", true)
        p2.applyBatch(batch, 0L)
        assert(server2.state.hgetAll("n-ko-2024-06-01") ==
          Map("total" -> 2L, "success" -> 2L, "fee" -> 40L))
        // this replay marked the batch, so a further replay is a no-op —
        // effectively-once resumes after the one degraded batch
        p2.applyBatch(batch, 0L)
        assert(server2.state.hgetAll("n-ko-2024-06-01") ==
          Map("total" -> 2L, "success" -> 2L, "fee" -> 40L))
      } finally server2.stop()
    } finally { server.stop(); RespKVStore.resetConnections() }
  }

  test("TCP KVStore: connection death mid-apply leaves partial increments; " +
       "the unmarked batch replays and converges") {
    // The executor-side crash window: the pooled link dies UNDER a
    // foreachPartition task after some of the batch's increments landed.
    // Contract under test — partial increments are visible (at-least-once,
    // never silent loss), the batch is NOT marked, the failed connection's
    // eviction lets the replay reconnect and re-apply in full, and once
    // the replay marks the batch, further replays are no-ops.
    val server = new RespServer()
    server.start()
    val store = new RespKVStore("127.0.0.1", server.port)
    val days = Seq("2024-08-01", "2024-08-02")
    def state(): Map[String, Map[String, Long]] =
      days.map(d => d -> server.state.hgetAll("n-ko-" + d)).toMap
    def total(s: Map[String, Map[String, Long]]): Long =
      s.values.flatMap(_.values).sum
    try {
      val crashing = new CrashMidApplyStore(store, crashOn = 3)
      val p = new OrderStreamPipeline(crashing, "n-ko-", true)
      val batch = Seq(
        wire("2024-08-01 09:00:00", 40, "1"),
        wire("2024-08-01 10:00:00", 25, "0"),
        wire("2024-08-02 08:00:00", 11, "1")).toDF("value")
      val expected = Map(
        "2024-08-01" -> Map("total" -> 2L, "success" -> 1L, "fee" -> 40L),
        "2024-08-02" -> Map("total" -> 1L, "success" -> 1L, "fee" -> 11L))

      CrashMidApply.calls.set(0)
      CrashMidApply.armed = true
      try intercept[Exception](p.applyBatch(batch, 0L))
      finally CrashMidApply.armed = false

      // partial: the 3rd increment died on the severed link, so at least
      // the first two landed and at least one is missing
      val partial = state()
      assert(total(partial) > 0, "no increments landed before the crash")
      assert(partial != expected, "crash was not mid-apply: batch fully landed")
      assert(!store.batchSeen(0L), "a failed batch must never be marked")

      // replay on the healed link (eviction → reconnect): re-applies IN
      // FULL on top of the partial increments — at-least-once, the
      // overcount bounded by the one crashed attempt
      p.applyBatch(batch, 0L)
      val afterReplay = state()
      days.foreach { d =>
        val merged = (expected(d).keySet ++ partial(d).keySet).map(f =>
          f -> (expected(d).getOrElse(f, 0L) + partial(d).getOrElse(f, 0L))).toMap
        assert(afterReplay(d) == merged,
          s"$d: expected partial+full = $merged, got ${afterReplay(d)}")
      }
      assert(store.batchSeen(0L))

      // convergence: the marked batch makes every further replay a no-op
      p.applyBatch(batch, 0L)
      assert(state() == afterReplay)
    } finally { server.stop(); RespKVStore.resetConnections() }
  }

  test("checkpoint resume: restart continues from stored offsets, no recount") {
    val store = freshStore("t2")
    val dir = Files.createTempDirectory("files").toString
    val ckpt = Files.createTempDirectory("ckpt2").toString
    val pipeline = new OrderStreamPipeline("t2")

    Seq(wire("2024-04-01 08:00:00", 10, "1")).toDF("value")
      .coalesce(1).write.mode("append").text(dir)
    val raw1 = spark.readStream.schema("value STRING").text(dir)
    val q1 = pipeline.start(raw1, ckpt, Trigger.AvailableNow())
    q1.awaitTermination()
    assert(store.hgetAll("n-ko-2024-04-01") ==
      Map("total" -> 1L, "success" -> 1L, "fee" -> 10L))

    // restart with the same checkpoint after new data lands
    Seq(wire("2024-04-01 09:00:00", 5, "0")).toDF("value")
      .coalesce(1).write.mode("append").text(dir)
    val raw2 = spark.readStream.schema("value STRING").text(dir)
    val q2 = pipeline.start(raw2, ckpt, Trigger.AvailableNow())
    q2.awaitTermination()
    // old file NOT re-applied: totals reflect each record exactly once
    assert(store.hgetAll("n-ko-2024-04-01") ==
      Map("total" -> 2L, "success" -> 1L, "fee" -> 10L))
  }

  test("replay: default sink double-counts (at-least-once), idempotent mode does not") {
    val batch = Seq(wire("2024-05-01 10:00:00", 9, "1")).toDF("value")

    val s1 = freshStore("t3")
    val p1 = new OrderStreamPipeline("t3")
    p1.applyBatch(batch, batchId = 0); p1.applyBatch(batch, batchId = 0)
    assert(s1.hgetAll("n-ko-2024-05-01")("total") == 2L) // documented at-least-once

    val s2 = freshStore("t4")
    val p2 = new OrderStreamPipeline("t4", idempotent = true)
    p2.applyBatch(batch, batchId = 0); p2.applyBatch(batch, batchId = 0)
    assert(s2.hgetAll("n-ko-2024-05-01")("total") == 1L) // effectively-once
  }

  test("idempotent: a batch that fails mid-apply is NOT marked; its retry applies") {
    val store = freshStore("t6")
    val p = new OrderStreamPipeline("t6", idempotent = true)
    val good = Seq(wire("2024-08-01 10:00:00", 5, "1")).toDF("value")
    // batch 0 fails before the sink completes (missing `value` column)
    intercept[Throwable] {
      p.applyBatch(spark.range(1).toDF("not_value"), 0L)
    }
    assert(store.hgetAll("n-ko-2024-08-01").isEmpty)
    assert(!store.batchSeen(0L), "failed batch must not be marked applied")
    p.applyBatch(good, 0L)   // replay of the failed batch: must apply
    p.applyBatch(good, 0L)   // second replay: must be skipped
    assert(store.hgetAll("n-ko-2024-08-01")("total") == 1L)
  }

  test("idiomatic watermarked daily aggregation over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val agg = OrderStreamPipeline.idiomaticDailyAgg(input.toDF())
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("daily_idio").start()
    input.addData(
      wire("2024-06-01 10:00:00", 100, "1"),
      wire("2024-06-01 11:00:00", 20, "0"),
      wire("2024-06-02 09:00:00", 5, "1"))
    q.processAllAvailable()
    val got = spark.table("daily_idio").orderBy("day")
      .as[(String, Long, Long, Long)].collect().toSeq
    q.stop()
    assert(got == Seq(
      ("2024-06-01", 2L, 1L, 100L),
      ("2024-06-02", 1L, 1L, 5L)))
  }

  test("watermarked agg drops late data; accumulator mode applies it (both offered)") {
    implicit val sqlCtx = spark.sqlContext
    // idiomatic path: event older than watermark is dropped once the
    // watermark has advanced past its day
    val input = MemoryStream[String]
    val agg = OrderStreamPipeline.idiomaticDailyAgg(input.toDF(), watermark = "1 hour")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_out").start()
    input.addData(wire("2024-07-01 10:00:00", 10, "1"))
    q.processAllAvailable()
    input.addData(wire("2024-07-03 10:00:00", 20, "1"))  // advances watermark past 7-01
    q.processAllAvailable()
    input.addData(wire("2024-07-01 11:00:00", 99, "1"))  // late: behind watermark
    q.processAllAvailable()
    input.addData(wire("2024-07-05 10:00:00", 1, "1"))   // closes 7-03 window too
    q.processAllAvailable()
    val appended = spark.table("wm_out").as[(String, Long, Long, Long)]
      .collect().map(r => r._1 -> r._4).toMap
    q.stop()
    assert(appended("2024-07-01") == 10L, "late event must NOT be counted")

    // accumulator (reference-parity) path: the same late event still lands
    val store = freshStore("t5")
    val p = new OrderStreamPipeline("t5")
    p.applyBatch(Seq(wire("2024-07-01 10:00:00", 10, "1")).toDF("value"), 0)
    p.applyBatch(Seq(wire("2024-07-01 11:00:00", 99, "1")).toDF("value"), 1)
    assert(store.hgetAll("n-ko-2024-07-01")("fee") == 109L)
  }

  test("mock generator is deterministic and field domains match the reference") {
    val a = MockOrderGenerator.orders(spark, 200, seed = 7).collect()
    val b = MockOrderGenerator.orders(spark, 200, seed = 7).collect()
    assert(a.sameElements(b))
    val df = MockOrderGenerator.orders(spark, 500)
    assert(df.filter(!col("flag").isin("0", "1")).count() == 0)
    assert(df.filter(col("fee").cast("long") < 0 || col("fee").cast("long") > 499).count() == 0)
    assert(df.filter(col("userId").cast("long") > 999).count() == 0)
    // wire form round-trips through the parity pipeline
    val stats = graft.operators.OrderAnalytics
      .dailyStatsFromWire(MockOrderGenerator.wireJson(df))
    assert(stats.agg(sum("total")).head().getLong(0) == 500L)
  }
}
