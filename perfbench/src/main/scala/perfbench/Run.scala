package perfbench

import graft.streaming.{RespKVStore, RespServer}
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.immutable.ListMap

/** What one invocation asked for. */
final case class Args(workload: String, seed: Long, seconds: Double,
                      traced: Boolean, work: File, data: File, digests: File)

/** Metrics and operations attempted and failed in one run. */
final class Result {
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = {
    require(!metrics.contains(name), s"metric $name reported twice")
    metrics(name) = (value, unit)
  }

  def json: String = Json.render(ListMap(
    "correct" -> (failed == 0 && attempted > 0),
    "attempted" -> attempted,
    "failed" -> failed,
    "metrics" -> ListMap.from(metrics.map { case (k, (v, u)) =>
      k -> ListMap("value" -> v, "unit" -> u) })))
}

object Run {
  /** Seconds since this JVM started. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def cores: Int = Runtime.getRuntime.availableProcessors

  /** Collect garbage before a timed window, so that a collection owed to
    * earlier work does not land in it. */
  def settle(): Unit = System.gc()

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Write `text` to `dest` atomically: write a sibling, then rename. */
  def publish(text: Array[Byte], staging: File, dest: File): Unit = {
    val tmp = new File(staging, dest.getName)
    Files.write(tmp.toPath, text)
    Files.move(tmp.toPath, dest.toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  def lines(xs: Iterator[String]): Array[Byte] = {
    val sb = new java.lang.StringBuilder()
    xs.foreach { s => sb.append(s).append('\n') }
    sb.toString.getBytes(UTF_8)
  }

  def dir(parent: File, name: String): File = {
    val d = new File(parent, name)
    require(d.isDirectory || d.mkdirs(), s"cannot create $d")
    d
  }

  /** The in-process RESP server and a client handle on it. */
  def withResp[T](body: RespKVStore => T): T = {
    val server = new RespServer()
    server.start()
    try body(new RespKVStore("127.0.0.1", server.port))
    finally { RespKVStore.resetConnections(); server.stop() }
  }
}
