package graft

import graft.sources.Bucketing
import org.apache.spark.sql.functions._

/** Co-located joins and aggregations over bucketed tables: the plans must
  * contain NO shuffle exchange — the whole point of paying the bucketing
  * shuffle at ingest. */
class BucketingSpec extends SparkSpec {

  test("co-bucketed join and bucket-key aggregation plan without exchanges") {
    val t = Tables(spark, sfDir)
    Bucketing.writeBucketed(
      t.events.select(col("event_id"), col("user_id"), col("value")),
      "ev_bucketed", Seq("user_id"), buckets = 8)
    Bucketing.writeBucketed(
      t.events.groupBy("user_id").agg(count(lit(1)).as("n")),
      "usr_bucketed", Seq("user_id"), buckets = 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("ev_bucketed")
        .join(spark.table("usr_bucketed"), "user_id")
      val joinPlan = joined.queryExecution.executedPlan.toString
      assert(!joinPlan.contains("Exchange"), s"bucketed join shuffled:\n$joinPlan")
      assert(joined.count() == t.events.count())

      val agg = spark.table("ev_bucketed").groupBy("user_id")
        .agg(sum(col("value")).as("s"))
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"), s"bucket-key agg shuffled:\n$aggPlan")
      assert(agg.count() == spark.table("usr_bucketed").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS ev_bucketed")
      spark.sql("DROP TABLE IF EXISTS usr_bucketed")
    }
  }

  test("sweepStale drops exactly a family's entries of other keys") {
    import org.apache.hadoop.fs.Path
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val family = "sweep_spec_store_"
    val staleTable = family + "0ld0_tbl"
    val staleDir = new Path(wh, family + "0ld1_leftover")
    val staleFile = new Path(wh, family + "0ld2.json") // an exported file
    val current = family + "c0ffee_tbl"
    val currentImp = family + "c0ffee_imp_tbl"
    val otherFamily = "sweep_spec_other_0ld0_tbl"
    val tables = Seq(staleTable, current, currentImp, otherFamily)
    try {
      tables.foreach(t => spark.range(3).write.saveAsTable(t))
      fs.create(new Path(staleDir, "part-0")).close()
      fs.create(staleFile).close()
      Bucketing.sweepStale(spark, family, "c0ffee")
      assert(!spark.catalog.tableExists(staleTable), "stale table kept")
      assert(!fs.exists(new Path(wh, staleTable)), "stale table's files kept")
      assert(!fs.exists(staleDir), "stale leftover directory kept")
      assert(!fs.exists(staleFile), "stale exported file kept")
      for (t <- Seq(current, currentImp, otherFamily))
        assert(spark.table(t).count() == 3, s"$t was swept")
    } finally {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Seq(staleDir, staleFile).foreach(p => fs.delete(p, true))
    }
  }

  test("zorderKey interleaves bits; known values round-trip") {
    import spark.implicits._
    // (1,0) -> bit 0 of dim 0 = 1 -> z=1; (0,1) -> bit 0 of dim 1 -> z=2;
    // (3,5) -> x bits 1,1 at 0,2; y bits 1,0,1 at 1,3,5 -> 1+4+2+32 = 39
    val got = Seq((1L, 0L), (0L, 1L), (3L, 5L), (0L, 0L)).toDF("x", "y")
      .select(Bucketing.zorderKey(Seq(col("x"), col("y")), bits = 8))
      .as[Long].collect().toSeq
    assert(got == Seq(1L, 2L, 39L, 0L))
  }

  test("z-ordered layout clusters files on every dimension, not just one") {
    val t = Tables(spark, sfDir)
    // two independent dimensions scaled to the SAME bit width (the operator
    // contract): user_id is 0..14 at this sf, minute folded to 4 bits too
    val ev = t.events.select(col("event_id"), col("user_id"),
      (unix_timestamp(col("ts")) / 60).cast("long").bitwiseAND(lit(15L)).as("minute"))
    val zDir = "/tmp/graft_zorder_test"
    val sDir = "/tmp/graft_tsorder_test"
    Bucketing.writeZOrdered(ev, zDir, Seq(col("user_id"), col("minute")),
      numFiles = 16, bits = 4)
    // baseline: same file count, sorted by minute only
    ev.repartitionByRange(16, col("minute")).sortWithinPartitions(col("minute"))
      .write.mode("overwrite").parquet(sDir)

    // per-file spread of user_id: z-order must localize it, minute-sort not
    def avgUserSpread(dir: String): Double = {
      val spreads = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(max(col("user_id")) - min(col("user_id"))).head()
          r.getLong(0).toDouble
        }
      spreads.sum / spreads.length
    }
    val zSpread = avgUserSpread(zDir)
    val sSpread = avgUserSpread(sDir)
    assert(zSpread < sSpread * 0.75,
      s"z-order user spread $zSpread not well below minute-sort spread $sSpread")
  }
}
