package graft

import org.apache.spark.sql.types.TimestampType

/** Guards against driver-side testdata regeneration changing physical
  * parquet types under unchanged code (round 9 lost 16 queries to a silent
  * TIMESTAMP(NANOS) → TIMESTAMP_MICROS flip of `events.ts`).
  *
  * Two layers:
  *  1. [[Tables.events]] must normalize `ts` to session-TZ TimestampType on
  *     every sf dir, whatever the file's physical type.
  *  2. Every registered query must at least pass Catalyst analysis against
  *     sf0.001 — one named failing assertion per broken query instead of
  *     scattered runtime errors that Verify silently skips.
  */
class TestdataDriftSpec extends SparkSpec {

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    test(s"events.ts normalizes to TimestampType on $sf") {
      val dir = s"/root/testdata/$sf"
      if (new java.io.File(dir).isDirectory) {
        assert(Tables(spark, dir).events.schema("ts").dataType === TimestampType,
          s"Tables.events must yield a session-TZ timestamp ts for $dir")
      } else cancel(s"$dir not present")
    }
  }

  test("pipeline-table schemas hold the shapes the operators assume") {
    import org.apache.spark.sql.types._
    val t = Tables(spark, sfDir)
    val docs = t.documents.schema
    assert(docs("doc_id").dataType === LongType, s"documents.doc_id: ${docs("doc_id").dataType}")
    assert(docs("text").dataType === StringType, s"documents.text: ${docs("text").dataType}")
    val emb = t.embeddings.schema
    assert(emb("vec_id").dataType === LongType, s"embeddings.vec_id: ${emb("vec_id").dataType}")
    assert(emb("embedding").dataType === ArrayType(FloatType),
      s"embeddings.embedding: ${emb("embedding").dataType}")
    assert(emb("label").dataType === IntegerType, s"embeddings.label: ${emb("label").dataType}")
    val ev = t.events.schema
    for (f <- Seq("event_id" -> LongType, "user_id" -> LongType,
                  "event_type" -> StringType, "value" -> DoubleType,
                  "props" -> StringType))
      assert(ev(f._1).dataType === f._2, s"events.${f._1}: ${ev(f._1).dataType}")
  }

  test("events.ts physical parquet type is a form the adaptive reader supports") {
    // Name the physical type directly from the footer, so a driver-side
    // regeneration flipping TIMESTAMP(MICROS) <-> TIMESTAMP(NANOS) (the
    // round-9 drift event, in either direction) shows up as THIS test's
    // message instead of as unexplained downstream behavior. Both forms
    // are supported — the assertion is that it is one of the two the
    // adaptive Tables.events path was built against, not a third shape.
    val path = new org.apache.hadoop.fs.Path(s"$sfDir/events.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      conf, path, org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    val tsType = footer.getFileMetaData.getSchema.getType(Seq("ts"): _*)
      .asPrimitiveType.getLogicalTypeAnnotation.toString
    assert(tsType.startsWith("TIMESTAMP(MICROS") || tsType.startsWith("TIMESTAMP(NANOS"),
      s"events.ts logical type drifted to an unhandled form: $tsType")
    info(s"events.ts physical logical type: $tsType")
  }

  test("representative events query output schema is stable under ts drift") {
    // The oracle gate hashes typed values, so the OUTPUT schema of the
    // events readers must not move however the input's physical ts type
    // flips. One representative per family: the declared-grain rollup
    // reader.
    val got = SparkEntry.queries("event_hourly_stats")(spark, sfDir)
      .schema.map(f => (f.name, f.dataType.simpleString))
    val want = Seq("hour" -> "string", "total" -> "bigint",
      "success" -> "bigint", "fee" -> "double")
    assert(got == want, s"event_hourly_stats schema drifted: $got")
  }

  test("a query name registered twice fails by name") {
    import graft.queries.Query
    def q(name: String) = Query(name, "SELECT 1")((s, _) => s.range(1).toDF())
    val e = intercept[IllegalArgumentException] {
      SparkEntry.uniqueNames(Seq(q("dup_b"), q("solo"), q("dup_a"), q("dup_b"),
        q("dup_a")))
    }
    assert(e.getMessage.contains("dup_a, dup_b"), e.getMessage)
    assert(!e.getMessage.contains("solo"), e.getMessage)
    assert(SparkEntry.queries.size == SparkEntry.registry.size)
  }

  test("every registered query analyzes against sf0.001") {
    val broken = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      try {
        q(spark, sfDir).queryExecution.analyzed
        None
      } catch {
        case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage.take(200)}")
      }
    }
    assert(broken.isEmpty, s"${broken.size} queries fail analysis:\n${broken.mkString("\n")}")
  }
}
