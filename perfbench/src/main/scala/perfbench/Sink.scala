package perfbench

import graft.streaming.KVStore
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.TaskContext
import scala.jdk.CollectionConverters._

/** A returned per-day `total` and when its HINCRBY returned. */
final case class Landing(key: String, total: Long, nanos: Long)

/** One timed sink call (traced runs only). `batch` is the micro-batch the
  * calling task belongs to, or -1 outside a stream. */
final case class SinkCall(batch: Long, key: String, field: String,
                          delta: Long, nanos: Long)

/** What one sink decorator recorded. Lives in the JVM-level registry
  * [[SinkLog]], so every task records into the same instance. */
final class SinkRecorder(val traced: Boolean) {
  val landings = new ConcurrentLinkedQueue[Landing]()
  val calls = new ConcurrentLinkedQueue[SinkCall]()
  val errors = new AtomicLong()

  def landingsByKey: Map[String, Seq[Landing]] =
    landings.asScala.toSeq.groupBy(_.key)
}

object SinkLog {
  private val recorders = new ConcurrentHashMap[String, SinkRecorder]()

  /** Start a fresh recording under `name`, replacing any earlier one. */
  def open(name: String, traced: Boolean): SinkRecorder = {
    val r = new SinkRecorder(traced)
    recorders.put(name, r)
    r
  }

  def get(name: String): SinkRecorder = {
    val r = recorders.get(name)
    require(r != null, s"no sink recording open under '$name'")
    r
  }
}

/** A [[KVStore]] decorator that records sink traffic into the recording
  * named `name`. It is a serializable handle: task closures capture the
  * name and `inner` (itself a handle), never a recorder, because a captured
  * recorder would be serialized and tasks would record into copies.
  *
  * Untraced it keeps only what latency needs: each `total` return and
  * when it came back. Traced it also times every call. */
final class RecordingStore(name: String, inner: KVStore) extends KVStore {

  override def hincrBy(key: String, field: String, delta: Long): Long = {
    val rec = SinkLog.get(name)
    val t0 = System.nanoTime()
    val v = try inner.hincrBy(key, field, delta) catch {
      case e: Throwable => rec.errors.incrementAndGet(); throw e
    }
    val t1 = System.nanoTime()
    if (field == "total") rec.landings.add(Landing(key, v, t1))
    if (rec.traced) rec.calls.add(SinkCall(RecordingStore.batchId, key, field, delta, t1 - t0))
    v
  }

  override def hgetAll(key: String): Map[String, Long] = inner.hgetAll(key)
  override def markBatch(batchId: Long): Boolean = inner.markBatch(batchId)
  override def batchSeen(batchId: Long): Boolean = inner.batchSeen(batchId)
}

object RecordingStore {
  /** Spark sets this local property on the jobs of each micro-batch. */
  val BatchIdKey = "streaming.sql.batchId"

  private def batchId: Long =
    Option(TaskContext.get()).flatMap(tc => Option(tc.getLocalProperty(BatchIdKey)))
      .map(_.toLong).getOrElse(-1L)
}
