package graft

import org.apache.spark.sql.functions._

/** The property q_sketch_rollup leans on: DataSketches HLL sketches are
  * MERGEABLE — the union of per-partition sketches answers exactly what
  * one sketch over the union would, and the binary survives a parquet
  * round trip (the materialized sketch table is a real table). */
class SketchRollupSpec extends SparkSpec {
  import spark.implicits._

  test("union of daily sketches == one sketch over the union; parquet round-trips") {
    val ev = Tables(spark, sfDir).events
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("day"))
    val direct = ev.agg(
      hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("e"))
      .as[Long].head()
    val daily = ev.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("e")).as[Long].head()
    assert(merged == direct,
      s"sketch union must equal the one-shot sketch: $merged vs $direct")
    val dir = java.nio.file.Files.createTempDirectory("skt").toString
    daily.write.parquet(s"$dir/daily")
    val reloaded = spark.read.parquet(s"$dir/daily").agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("e")).as[Long].head()
    assert(reloaded == direct, "persisted sketches must union identically")
    // and the estimate is actually close to exact
    val exact = ev.agg(count_distinct(col("user_id"))).as[Long].head()
    assert(math.abs(direct - exact) <= exact / 10,
      s"estimate $direct vs exact $exact")
  }

  test("KLL: union of daily sketches ranks like the one-shot sketch; parquet round-trips") {
    import graft.functions.SketchAggregators._
    val ev = Tables(spark, sfDir).events
      .select(col("value").as("v"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("day"))
    val ranks = Seq(0.5, 0.9, 0.99)
    val oneShot = ev.agg(kllAgg(col("v")).as("sk"))
      .agg(kllUnionQuantiles(col("sk"), ranks).as("q"))
      .select(col("q")).as[Seq[Double]].head()
    val daily = ev.groupBy(col("day")).agg(kllAgg(col("v")).as("sk"))
    val dir = java.nio.file.Files.createTempDirectory("kll").toString
    daily.write.parquet(s"$dir/daily")
    val merged = spark.read.parquet(s"$dir/daily")
      .agg(kllUnionQuantiles(col("sk"), ranks).as("q"))
      .select(col("q")).as[Seq[Double]].head()
    val eps = oneShot.last
    assert(eps > 0 && eps < 0.05, s"k=200 rank error should be ~1.3%: $eps")
    // KLL merge is not byte-order-canonical, so the contract is RANK
    // agreement, not byte equality: every estimate's exact rank must sit
    // within 2·eps of its target on BOTH paths.
    val n = ev.count().toDouble
    def exactRank(q: Double): Double =
      ev.filter(col("v") <= q).count() / n
    ranks.zipWithIndex.foreach { case (r, i) =>
      assert(math.abs(exactRank(oneShot(i)) - r) <= 2 * eps,
        s"one-shot p$r estimate ${oneShot(i)} rank off")
      assert(math.abs(exactRank(merged(i)) - r) <= 2 * eps,
        s"merged p$r estimate ${merged(i)} rank off")
    }
  }

  test("freq: merged daily sketches recover exact heavy hitters below capacity; bounds hold above") {
    import graft.functions.SketchAggregators._
    // planted skew: item "hot" 500x, "warm" 200x, 100 cold singletons,
    // spread over 4 buckets
    val rows = (Seq.fill(500)("hot") ++ Seq.fill(200)("warm") ++
      (1 to 100).map(i => s"cold$i")).zipWithIndex
      .map { case (it, i) => (i % 4L, it) }
    val df = rows.toDF("bucket", "item")
    val daily = df.groupBy(col("bucket")).agg(freqAgg(col("item")).as("sk"))
    val dir = java.nio.file.Files.createTempDirectory("freq").toString
    daily.write.parquet(s"$dir/daily")
    val (maxErr, items) = spark.read.parquet(s"$dir/daily")
      .agg(freqTop(col("sk")).as("fr"))
      .select(col("fr._1"), col("fr._2"))
      .as[(Long, Seq[(String, Long, Long, Long)])].head()
    // 102 distinct items < maxMapSize: exact mode — zero error, exact
    // estimates, point intervals
    assert(maxErr == 0L, s"sub-capacity sketch must be exact: $maxErr")
    val m = items.map(r => r._1 -> r).toMap
    assert(m("hot")._2 == 500L && m("hot")._3 == 500L && m("hot")._4 == 500L)
    assert(m("warm")._2 == 200L)
    // above capacity (maxMapSize 64 < 102 items): error appears but the
    // NO_FALSE_NEGATIVES guarantee keeps the true heavy hitters listed
    // with bracketing bounds
    val (me2, items2) = df.groupBy(col("bucket"))
      .agg(freqAgg(col("item"), 64).as("sk"))
      .agg(freqTop(col("sk"), 64).as("fr"))
      .select(col("fr._1"), col("fr._2"))
      .as[(Long, Seq[(String, Long, Long, Long)])].head()
    assert(me2 > 0L)
    val m2 = items2.map(r => r._1 -> r).toMap
    assert(m2.contains("hot") && m2("hot")._3 <= 500L && 500L <= m2("hot")._4,
      s"hot must stay listed with bracketing bounds: ${m2.get("hot")}")
  }

  test("plan: KLL daily build runs partial+final with map-side sketch merge") {
    import graft.functions.SketchAggregators._
    val ev = Tables(spark, sfDir).events
      .select(col("value").as("v"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("day"))
    val daily = ev.groupBy(col("day")).agg(kllAgg(col("v")).as("sk"))
    daily.collect()
    // AQE's toString prints the final plan and the initial plan; audit
    // the FINAL one only
    val plan = daily.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // typed Aggregators run as TypedImperativeAggregate inside
    // ObjectHashAggregate: a partial pass BEFORE the exchange merges
    // sketches map-side, so the shuffle carries one ~3KB sketch per
    // (partition, day) — never raw values
    val nAgg = "ObjectHashAggregate".r.findAllIn(plan).length
    assert(nAgg == 2, s"want partial+final ObjectHashAggregate pair:\n$plan")
    assert(plan.contains("partial_kllbuildaggregator"),
      s"no map-side partial sketch aggregate:\n$plan")
  }

  test("plan guard: q_topk_rollup ranks only the top-5 limit, not every distinct user") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.window.WindowExec
    val q = SparkEntry.queries("q_topk_rollup")(spark, sfDir)
    // pre-AQE physical plan: the window's direct input, before any
    // exchange planning
    val windows = q.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.size == 2, s"want one ranking window per range:\n${q.queryExecution.sparkPlan}")
    windows.foreach { w =>
      w.child match {
        case t: TakeOrderedAndProjectExec =>
          assert(t.limit == 5, s"window input limits to ${t.limit}, want 5:\n$w")
        case other =>
          fail(s"window ranks ${other.nodeName}, not the top-5 limit:\n$w")
      }
    }
  }

  test("theta: intersection of range unions brackets the exact overlap; exact mode is a point") {
    import graft.functions.SketchAggregators._
    val ev = Tables(spark, sfDir).events
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("day"))
    val daily = ev.groupBy(col("day")).agg(thetaAggLong(col("user_id")).as("sk"))
    val dir = java.nio.file.Files.createTempDirectory("theta").toString
    daily.write.parquet(s"$dir/daily")
    val stored = spark.read.parquet(s"$dir/daily")
    def unionOf(lo: Int, hi: Int) = stored.filter(col("day").between(lo, hi))
      .agg(thetaUnion(col("sk")).as("sk"))
    val (est, lb, ub) = unionOf(19723, 19737).unionByName(unionOf(19738, 19752))
      .agg(thetaIntersect(col("sk")).as("i"))
      .select(col("i").getField("_1"), col("i").getField("_2"),
        col("i").getField("_3"))
      .as[(Double, Double, Double)].head()
    def users(lo: Int, hi: Int) = ev.filter(col("day").between(lo, hi))
      .select(col("user_id")).distinct()
    val exact = users(19723, 19737).intersect(users(19738, 19752))
      .count().toDouble
    assert(lb <= exact && exact <= ub, s"exact $exact outside [$lb, $ub]")
    // below nominalEntries both sketches are exact → the interval is a point
    assert(est == exact && lb == ub,
      s"sub-nominal sketches must be in exact mode: est=$est exact=$exact")
    // empty input → (0,0,0), not a crash
    val empty = stored.filter(col("day") < 0)
      .agg(thetaIntersect(col("sk")).as("i"))
      .select(col("i").getField("_1")).as[Double].head()
    assert(empty == 0.0)
  }
}
