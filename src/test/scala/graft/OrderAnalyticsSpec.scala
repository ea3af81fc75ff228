package graft

import graft.functions.{WireFields, WireKernels}
import graft.operators.OrderAnalytics
import graft.sources.MockOrderGenerator
import graft.streaming.{InMemoryKVStore, KVStoreRegistry, OrderStreamPipeline}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Reference-parity semantics over crafted wire records: conditional
  * metrics, malformed JSON tolerance, day boundaries; and the wire parse
  * ([[WireFields]]) against `from_json` on every trap a JSON parser has. */
class OrderAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private val fields = Seq("time", "fee", "flag")

  /** Lines the single-pass scan must take itself. */
  private val fastLines = Seq(
    "{}",
    """{"time":"2024-03-01 10:00:00"}""",                       // missing fields
    """{"fee":"5","flag":"1"}""",
    """{"flag":"1","fee":"5","time":"2024-03-01 10:00:00"}""",  // permuted
    """{"zzz":"q","time":"t","extra":"e","orderId":"o"}""",     // unknown keys
    """{"userId":"1","userId":"2","fee":"3"}""",                // repeated unknown key
    """{"time":"","fee":"","flag":""}""",                       // empty values
    """{"":"x","fee":"1"}""",                                   // empty key
    """{"time":"}{,:[","fee":"}","flag":"{"}""",                // structure inside strings
    """{"Time":"x","FEE":"1","flag ":"2"}""",                   // near-miss names
    """{"time":"~!@#$%^&*()_+`-=[]|;',./<>?"}""",
    s"""{"orderId":"${"o" * 40000}","fee":"7"}""")

  /** Lines the scan must hand to `from_json`. */
  private val fallbackLines = Seq(
    "", "{", "}", "{not json at all", "[]", "null", "true", "5", "\"fee\"",
    """{"time":"2024-03-01 10:00:00","fee":"5"""",                // truncated
    """{"time":"2024-03-01 10:00:00","fee":"5","flag":"1"""",     // no closing brace
    """{"time":"2024""",
    """{"fee":"5",}""", """{"fee""5"}""", """{fee:"5"}""", """{'fee':'5'}""",
    """{"fee":5,"flag":1,"time":"2024-03-01 10:00:00"}""",       // numbers
    """{"fee":12.50}""", """{"fee":-0.0e3,"flag":"1"}""",
    """{"flag":true,"fee":null}""", """{"time":null}""",        // boolean, null
    """{"time":{"a":"b"},"fee":[1,2],"flag":"1"}""",            // nested
    """{"x":{"y":[1,{"z":"w"}]},"time":"t"}""",
    """{"fee":"1","fee":"2"}""",                                // duplicates: last wins
    """{"time":"a","flag":"0","time":"b"}""",
    """{"time":"a\"b","fee":"\u0031\u0030"}""",                 // escapes
    """{"flag":"\u00e9"}""", """{"ti\u006de":"x","fee":"1\/2"}""",
    """{ "time" : "2024-03-01 10:00:00" , "fee":"5"}""",         // whitespace
    " {\"fee\":\"5\"}", "{\"fee\":\"5\"}\n", "{\"fee\":\t\"5\"}",
    """{"time":"2024-03-01 10:00:00","fee":"5","flag":"é"}""",  // non-ASCII
    """{"courseId":"数学","fee":"5"}""", """{"fée":"1","fee":"2"}""",
    "{\"fee\":\"a\tb\"}", "{\"fee\":\"a\u007fb\"}",        // raw control bytes
    """{"fee":"5"}garbage""", """{"fee":"5"}}""", """{"fee":"5"} """,  // after '}'
    """{"fee":"5"}{"fee":"6"}""",
    """[{"fee":"5"}]""", """["a","b"]""",
    s"""{"${"k" * 50001}":"v","fee":"1"}""")                  // key past Jackson's limit

  private def canonical: Seq[String] =
    MockOrderGenerator.wireJson(MockOrderGenerator.orders(spark, 200, seed = 11))
      .as[String].collect().toSeq

  /** `(id, value)` rows from an RDD, so no optimizer rule folds the
    * projection over a local relation into driver-side evaluation. */
  private def lineFrame(lines: Seq[String]): DataFrame = {
    val rows = (lines.map(Option(_)) :+ None).zipWithIndex.map { case (v, i) =>
      Row(i.toLong, v.orNull) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("id", LongType), StructField("value", StringType))))
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def coveredByCodegen(root: SparkPlan): Boolean = {
    def parses(p: SparkPlan) = p.collect {
      case pr: ProjectExec if pr.projectList.exists(_.toString.contains("wire_fields")) => pr
    }.toSet
    val all = parses(root)
    all.nonEmpty && all.subsetOf(root.collect { case w: WholeStageCodegenExec => w }
      .flatMap(parses).toSet)
  }

  test("wire parse: scan takes exactly the canonical lines") {
    val names = fields.map(_.getBytes(UTF_8)).toArray
    def scans(l: String) = WireKernels.scan(UTF8String.fromString(l), names) != null
    (canonical ++ fastLines).foreach(l => assert(scans(l), s"fast path refused: $l"))
    fallbackLines.foreach(l => assert(!scans(l), s"fast path took: $l"))
  }

  test("wire parse: WireFields equals from_json(value, wireSchema) row by row, " +
       "codegen and interpreted") {
    val df = lineFrame(canonical ++ fastLines ++ fallbackLines)
    val want = df.select(col("id"), from_json(col("value"), OrderAnalytics.wireSchema))
      .collect().map(r => r.getLong(0) ->
        Option(r.getStruct(1)).map(o => (o.getString(0), o.getString(3), o.getString(4))))
      .toMap
    val parsed = df.select(col("id"),
      WireFields(col("value"), OrderAnalytics.wireSchema, fields))
    def check(mode: String): Unit = {
      val got = parsed.collect().map(r => r.getLong(0) ->
        Option(r.getStruct(1)).map(o => (o.getString(0), o.getString(1), o.getString(2))))
        .toMap
      assert(got.keySet == want.keySet)
      want.foreach { case (id, w) =>
        assert(got(id) == w, s"[$mode] line $id differs")
      }
    }
    withConf("spark.sql.adaptive.enabled" -> "false") {
      check("whole-stage codegen")
      assert(coveredByCodegen(parsed.queryExecution.executedPlan),
        s"wire_fields fell out of codegen:\n${parsed.queryExecution.executedPlan}")
    }
    withConf("spark.sql.codegen.wholeStage" -> "false",
             "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(check("projection codegen"))
    withConf("spark.sql.codegen.wholeStage" -> "false",
             "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(check("interpreted"))
  }

  test("plan guard: dailyStatsFromWire's parse projection stays in whole-stage codegen") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val stats = OrderAnalytics.dailyStatsFromWire(lineFrame(canonical))
      // the frame's trailing null line counts under a null day
      assert(stats.collect().map(_.getLong(1)).sum == 201)
      val plan = stats.queryExecution.executedPlan
      assert(coveredByCodegen(plan), s"parse fell out of codegen:\n$plan")
    }
  }

  test("an unreadable fee reads null: the batch completes and adds 0 to fee") {
    val raw = Seq(
      wire("2024-06-01 10:00:00", 10, "1"),
      """{"time":"2024-06-01 11:00:00","fee":"abc","flag":"1"}""",
      """{"time":"2024-06-01 12:00:00","fee":"1e40","flag":"1"}""",
      """{"time":"2024-06-02 09:00:00","fee":"abc","flag":"1"}""").toDF("value")
    val store = new InMemoryKVStore
    KVStoreRegistry.register("bad-fee", store)
    new OrderStreamPipeline("bad-fee").applyBatch(raw, 0L)
    assert(store.hgetAll("n-ko-2024-06-01") ==
      Map("total" -> 3L, "success" -> 3L, "fee" -> 10L))
    assert(store.hgetAll("n-ko-2024-06-02") ==
      Map("total" -> 1L, "success" -> 1L, "fee" -> 0L))
    val days = OrderAnalytics.dailyStatsFromWire(raw).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    assert(days == Map(
      "2024-06-01" -> ((3L, 3L, Some(10.0))),
      "2024-06-02" -> ((1L, 1L, None))))
  }

  private def wire(time: String, fee: Long, flag: String): String =
    s"""{"time":"$time","userId":"7","courseId":"42","fee":"$fee","flag":"$flag","orderId":"x"}"""

  test("daily stats: conditional count and fee, keyed by day") {
    val raw = Seq(
      wire("2024-03-01 10:00:00", 100, "1"),
      wire("2024-03-01 11:30:00", 50, "0"),   // counts toward total only
      wire("2024-03-01 23:59:59", 25, "1"),
      wire("2024-03-02 00:00:00", 10, "1")    // next day boundary
    ).toDF("value")
    val got = OrderAnalytics.dailyStatsFromWire(raw)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      ("2024-03-01", 3L, 2L, 125.0),
      ("2024-03-02", 1L, 1L, 10.0)))
  }

  test("malformed JSON yields null fields, batch survives (PERMISSIVE)") {
    val raw = Seq(wire("2024-03-01 10:00:00", 5, "1"), "{not json at all").toDF("value")
    val parsed = OrderAnalytics.parseWire(raw)
    assert(parsed.count() == 2)
    assert(parsed.filter(col("time").isNull).count() == 1)
  }

  test("hour/minute derivation matches substring semantics") {
    val df = OrderAnalytics.withTimeParts(
      Seq(("2024-03-01 07:08:09", 1L, "1")).toDF("time", "fee", "flag"))
    val r = df.select("day", "hour", "minute").head()
    assert((r.getString(0), r.getString(1), r.getString(2)) == ("2024-03-01", "07", "08"))
  }

  test("aggregates equal a brute-force fold over random records") {
    val rnd = new scala.util.Random(42)
    val recs = (1 to 500).map { i =>
      val day = s"2024-01-${"%02d".format(1 + rnd.nextInt(5))}"
      val fee = rnd.nextInt(500).toLong
      val flag = if (rnd.nextBoolean()) "1" else "0"
      (day, fee, flag)
    }
    val raw = recs.map { case (d, f, fl) => wire(s"$d 12:00:00", f, fl) }.toDF("value")
    val got = OrderAnalytics.dailyStatsFromWire(raw).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val expect = recs.groupBy(_._1).map { case (d, rs) =>
      d -> ((rs.size.toLong, rs.count(_._3 == "1").toLong,
        rs.filter(_._3 == "1").map(_._2).sum.toDouble))
    }
    assert(got == expect)
  }
}
