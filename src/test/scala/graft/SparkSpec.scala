package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the spec suite — one session per JVM
  * (suites run forked in one JVM; getOrCreate dedups), with the confs of
  * [[GraftSession.localConf]]. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.localConf.foldLeft(
      SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")) { case (b, (k, v)) => b.config(k, v) }
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** All messages down the cause chain — executor-side named guards
    * arrive wrapped in SparkException layers; match through them. */
  def messageChain(e: Throwable): String = {
    val sb = new StringBuilder
    var cur = e
    var depth = 0
    while (cur != null && depth < 10) {
      sb.append(cur.getMessage).append(" | ")
      cur = cur.getCause
      depth += 1
    }
    sb.toString
  }
}
