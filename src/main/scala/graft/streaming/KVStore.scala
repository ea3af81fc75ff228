package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Accumulator key-value sink backend — the reference's Redis-hash contract
  * (`HINCRBY key field delta`, SURVEY.md §2 K1, citing
  * `StreamingAnalysisAppWithKafkaManageOffset.scala:72-74`), as an
  * interface so the engine never hard-depends on a Redis client.
  *
  * Implementations must be safe to call from executor tasks (the sink runs
  * `foreachPartition`). A production Redis implementation would hold a
  * per-executor pooled client (object-level lazy val — unlike the
  * reference's pool-per-call leak, `CommonUtil.scala:39-49`); it is not
  * compiled here because no Redis client jar ships with the build, which
  * is exactly why this is an interface.
  */
trait KVStore extends Serializable {
  def hincrBy(key: String, field: String, delta: Long): Long
  def hgetAll(key: String): Map[String, Long]

  /** Record `batchId` as applied; false if it was already applied.
    * Backs the idempotent (effectively-once) sink mode. A Redis
    * implementation maps this to `SADD applied_batches <id>`. */
  def markBatch(batchId: Long): Boolean

  /** Whether `batchId` was already applied (`SISMEMBER` in Redis). */
  def batchSeen(batchId: Long): Boolean
}

object KVStore {
  /** Serializable handle that resolves the backend from the per-JVM
    * registry at every call — for JVM-singleton stores addressed by name
    * (tests, local mode). Network-backed stores ([[RespKVStore]]) are
    * their own serializable handles and skip the registry entirely. */
  def named(name: String): KVStore = new NamedKVStore(name)
}

private final class NamedKVStore(name: String) extends KVStore {
  private def s: KVStore = KVStoreRegistry.get(name)
  override def hincrBy(key: String, field: String, delta: Long): Long =
    s.hincrBy(key, field, delta)
  override def hgetAll(key: String): Map[String, Long] = s.hgetAll(key)
  override def markBatch(batchId: Long): Boolean = s.markBatch(batchId)
  override def batchSeen(batchId: Long): Boolean = s.batchSeen(batchId)
}

/** JVM-singleton in-memory store: the test/local backend. In `local[n]`
  * executors share the driver JVM, so this behaves exactly like one shared
  * external store; on a real cluster it would be per-executor and a
  * network-backed implementation is required instead. */
class InMemoryKVStore extends KVStore {
  private val data = new ConcurrentHashMap[String, ConcurrentHashMap[String, AtomicLong]]()
  private val batches = ConcurrentHashMap.newKeySet[Long]()

  override def hincrBy(key: String, field: String, delta: Long): Long =
    data.computeIfAbsent(key, _ => new ConcurrentHashMap())
      .computeIfAbsent(field, _ => new AtomicLong()).addAndGet(delta)

  override def hgetAll(key: String): Map[String, Long] = {
    val m = data.get(key)
    if (m == null) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (k, v) => k -> v.get() }.toMap
    }
  }

  override def markBatch(batchId: Long): Boolean = batches.add(batchId)

  override def batchSeen(batchId: Long): Boolean = batches.contains(batchId)

  def keys: Set[String] = {
    import scala.jdk.CollectionConverters._
    data.keySet.asScala.toSet
  }

  def clear(): Unit = { data.clear(); batches.clear() }
}

/** Registry so executor closures can address a store by name instead of
  * serializing it (mirrors how a Redis client would be looked up
  * per-executor from connection config). */
object KVStoreRegistry {
  private val stores = new ConcurrentHashMap[String, KVStore]()
  def register(name: String, store: KVStore): Unit = stores.put(name, store)
  def get(name: String): KVStore = {
    val s = stores.get(name)
    require(s != null, s"no KVStore registered under '$name'")
    s
  }
  def getOption(name: String): Option[KVStore] = Option(stores.get(name))
}
