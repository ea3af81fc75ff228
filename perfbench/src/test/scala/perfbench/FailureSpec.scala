package perfbench

import graft.GraftSession
import graft.streaming.{InMemoryKVStore, KVStore, KVStoreRegistry, OrderStreamPipeline}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Drops the `n`-th `total` increment it sees (counted JVM-wide). */
final class DroppingStore(inner: KVStore, n: Int) extends KVStore {
  override def hincrBy(key: String, field: String, delta: Long): Long =
    if (field == "total" && DroppingStore.seen.incrementAndGet() == n) 0L
    else inner.hincrBy(key, field, delta)
  override def hgetAll(key: String): Map[String, Long] = inner.hgetAll(key)
  override def markBatch(batchId: Long): Boolean = inner.markBatch(batchId)
  override def batchSeen(batchId: Long): Boolean = inner.batchSeen(batchId)
}

object DroppingStore { val seen = new AtomicInteger() }

/** The benchmark's checks must turn a lost write or a wrong answer into
  * failed operations. */
class FailureSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = GraftSession.local("2")

  override def afterAll(): Unit = spark.stop()

  /** Ten files through the real pipeline into a fresh in-memory store,
    * optionally dropping one `total` increment; returns the never-landed
    * events, the records in wrong days, and the number of landings. */
  private def ingest(dropNth: Int): (Long, Long, Int) = {
    val mem = new InMemoryKVStore
    val storeName = s"failure-spec-$dropNth"
    KVStoreRegistry.register(storeName, mem)
    DroppingStore.seen.set(0)
    val rec = SinkLog.open(storeName, traced = false)
    val sink = new RecordingStore(storeName, new DroppingStore(KVStore.named(storeName), dropNth))
    val pipeline = new OrderStreamPipeline(sink, "k-", false)
    val (files, tally) = StreamLive.plan(5, 10)
    import spark.implicits._
    files.zipWithIndex.foreach { case (f, i) =>
      val lines = new String(f.bytes, "UTF-8").split("\n").toSeq
      pipeline.applyBatch(lines.toDF("value"), i.toLong)
    }
    val published = files.zipWithIndex.map { case (f, i) => Published(i.toLong, f.dayCounts) }
    val (lat, missing) = Latency.attribute(published, rec.landingsByKey, "k-")
    assert(lat.length + missing == tally.records)
    (missing, tally.recordsInWrongDays(d => mem.hgetAll("k-" + d)), rec.landings.size)
  }

  test("a store that applies every HINCRBY passes; the sink handle records from tasks") {
    val (missing, wrong, landings) = ingest(dropNth = -1)
    assert(missing == 0 && wrong == 0)
    assert(landings > 100)
  }

  test("a store that drops one HINCRBY makes the run report failures") {
    val (missing, wrong, _) = ingest(dropNth = 7)
    assert(wrong > 0)
    assert(missing > 0)
  }

  test("layers that disagree with the records offered are failures") {
    def layers(in: Double, totals: Double) =
      Seq(("operators.records_in", in, "count"), ("sink.total_delta_sum", totals, "count"))
    assert(StreamLayers.unreconciled(layers(500, 500), 500) == 0)
    assert(StreamLayers.unreconciled(layers(500, 497), 500) == 3)
    assert(StreamLayers.unreconciled(layers(520, 500), 500) == 20)
  }

  test("a query with a wrong answer, a throw or no record is a mismatch") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val right = QueryMix.digestOf(df)
    assert(right == QueryMix.digestOf(df.orderBy($"k".desc)), "digest must ignore row order")
    val wrong = QueryMix.digestOf(Seq(("a", 1L), ("b", 3L)).toDF("k", "v"))
    assert(wrong != right)
    val expected = Map("q1" -> right, "q2" -> right)
    assert(QueryMix.mismatches(expected, Map("q1" -> Right(right), "q2" -> Right(right))).isEmpty)
    assert(QueryMix.mismatches(expected, Map("q1" -> Right(wrong), "q2" -> Right(right))) == Seq("q1"))
    assert(QueryMix.mismatches(expected, Map("q2" -> Left(new RuntimeException("boom")))) == Seq("q2"))
    assert(QueryMix.mismatches(expected, Map("q3" -> Right(right))) == Seq("q3"))
  }

  test("the recorded digests cover exactly the query set") {
    val recorded = QueryMix.readDigests(new java.io.File("query_digests.tsv"))
    assert(recorded.keySet == QueryMix.Queries.toSet)
    assert(QueryMix.Inputs.keySet == QueryMix.Queries.toSet)
  }
}
