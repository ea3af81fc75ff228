package graft

import graft.operators.Dedup
import graft.sources.Bucketing
import org.apache.spark.sql.functions._

/** Near-dup operators against brute force on the sf0.001 corpus, which has
  * planted near-duplicate pairs (shingle Jaccard > 0.9) and otherwise
  * well-separated documents (< 0.2). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, sfDir).documents

  /** Brute-force all-pairs 3-gram Jaccard ≥ threshold. */
  private def brutePairs(threshold: Double): Set[(Long, Long)] = {
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("inter", size(array_intersect(col("a.sh"), col("b.sh"))))
      .withColumn("j", col("inter").cast("double") /
        (size(col("a.sh")) + size(col("b.sh")) - col("inter")))
      .filter(col("j") >= threshold)
      .select(col("a.doc_id"), col("b.doc_id"))
      .as[(Long, Long)].collect().toSet
  }

  test("minhash LSH finds exactly the brute-force near-dup pairs") {
    val got = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"))
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    val expect = brutePairs(0.8)
    assert(expect.nonEmpty, "corpus should contain planted near-dups")
    assert(got == expect)
  }

  test("minhash LSH jaccard values are the exact set Jaccard") {
    val pair = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"))
      .orderBy(col("id_a")).head()
    val (a, b) = (pair.getLong(0), pair.getLong(1))
    val sets = docs.filter(col("doc_id").isin(a, b))
      .select(Dedup.shingles(col("text"), 3)).as[Seq[String]].collect()
    val (sa, sb) = (sets(0).toSet, sets(1).toSet)
    val expected = (sa & sb).size.toDouble / (sa | sb).size
    assert(math.abs(pair.getDouble(2) - expected) < 1e-12)
  }

  test("simhash pairs cover the high-similarity pairs with small hamming") {
    val got = Dedup.simhashPairs(docs, col("doc_id"), col("text"), maxHamming = 3)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    val planted = brutePairs(0.9)
    // simhash@3 is a coarser filter than jaccard 0.9; it must at least
    // recover most planted pairs and produce nothing wildly dissimilar
    val recall = (got & planted).size.toDouble / planted.size
    assert(recall >= 0.5, s"simhash recall $recall too low (got=${got.size})")
    val lowSim = got -- brutePairs(0.3)
    assert(lowSim.isEmpty, s"simhash matched dissimilar pairs: $lowSim")
  }

  test("plan guard: minhash LSH never shuffles a text column") {
    // The round-5 collapse redesign: signatures are computed map-side per
    // row, so the exact-collapse exchange carries (fp, doc_id, mh)
    // fixed-width rows and NO exchange anywhere in the operator moves the
    // corpus text. Texts are only read from scans (verification fetch,
    // expansion). AQE off so exchanges are visible (see the bucketed guard).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val root = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"))
        .queryExecution.executedPlan
      val shuffles = root.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.nonEmpty, s"expected collapse/band exchanges in:\n$root")
      shuffles.foreach { e =>
        val carried = e.asInstanceOf[org.apache.spark.sql.execution.SparkPlan]
          .output.map(_.name).filter(_.toLowerCase.contains("text"))
        assert(carried.isEmpty, s"text columns shuffled: $carried\n$root")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("plan guard: simhash kernel evaluates once per join side, never in a scan filter") {
    // The kernel sits behind a Generate; if a future change re-exposes it
    // to CollapseProject or inferred-isnotnull pushdown, the count jumps
    // (r1 regression: 5 evals/row; r2's fix cost a full corpus shuffle).
    val plan = Dedup.simhashPairs(docs, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    val n = "simhash64\\(".r.findAllIn(plan).size
    assert(n == 2, s"expected 2 simhash64 occurrences (one per join side), got $n")
    assert(!plan.contains("Exchange hashpartitioning(doc_id"),
      "simhash path should not shuffle the hashed corpus before banding")
  }

  test("simhash hamming values match recomputed signatures") {
    val hashes = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    Dedup.simhashPairs(docs, col("doc_id"), col("text"), maxHamming = 3)
      .as[(Long, Long, Int)].collect().foreach { case (a, b, d) =>
        assert(java.lang.Long.bitCount(hashes(a) ^ hashes(b)) == d)
      }
  }

  test("skew guard: a planted 1k-identical cluster never explodes candidates") {
    // 1000 byte-identical docs + a handful of distinct ones. Without the
    // exact-collapse guard every band bucket would hold the whole cluster:
    // ~16 * C(1000,2) = 8M pre-distinct candidate rows and 500k shingle
    // verifications. With it, LSH sees ONE representative per distinct text.
    val distinctDocs = docs.filter(col("doc_id") < 20)
      .select(col("doc_id"), col("text"))
    val cluster = spark.range(1000)
      .select((col("id") + 10000).as("doc_id"),
        lit("the same exact document body repeated many times over").as("text"))
    val corpus = distinctDocs.unionByName(cluster)

    val (_, eligible, cand) = Dedup.minhashLshStages(
      corpus, col("doc_id"), col("text"), ngram = 3, numHashes = 64, bands = 16)
    // collapse: the cluster is one eligible row; candidates are rep-level
    assert(eligible.count() <= 21)
    val nCand = cand.count()
    assert(nCand <= (21L * 20) / 2, s"rep-level candidates exploded: $nCand")

    // and the full operator still returns every true pair: C(1000,2)
    // within-cluster pairs at jaccard exactly 1.0, plus whatever the
    // distinct docs contribute among themselves
    val pairs = Dedup.minhashLshPairs(corpus, col("doc_id"), col("text"))
    val clusterPairs = pairs.filter(col("id_a") >= 10000)
    assert(clusterPairs.count() == 1000L * 999 / 2)
    assert(clusterPairs.filter(col("jaccard") =!= 1.0).count() == 0)
    // ids within the expanded pairs are ordered and unique
    assert(pairs.filter(col("id_a") >= col("id_b")).count() == 0)
    assert(pairs.count() == pairs.select("id_a", "id_b").distinct().count())
  }

  test("minhash clusters equal driver-side union-find over brute-force pairs") {
    val got = Dedup.minhashClusters(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toMap
    val ids = docs.select(col("doc_id")).as[Long].collect()
    assert(got.keySet == ids.toSet)
    // reference: union-find with min-root over the brute-force pair graph
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    brutePairs(0.8).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
    }
    ids.foreach { i =>
      val comp = ids.filter(j => find(j) == find(i))
      assert(got(i) == comp.min, s"doc $i: got ${got(i)}, want ${comp.min}")
    }
    // at least one non-singleton cluster exists in the planted corpus
    assert(got.values.groupBy(identity).exists(_._2.size > 1))
  }

  test("pointer jumping converges on a long chain well within maxIters") {
    // 60-node path graph: plain min-propagation needs 59 rounds; pointer
    // jumping must land every node on label 0 within the default 20
    val fwd = spark.range(59).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val edges = fwd.unionByName(
      fwd.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val labels = Dedup.propagateLabels(edges, maxIters = 20)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 60)
    assert(labels.values.forall(_ == 0L), s"unconverged labels: $labels")
  }

  test("distributed label propagation matches the driver union-find path") {
    // driverMaxEdges = -1 forces the distributed loop on the same corpus
    val dist = Dedup.minhashClusters(docs, col("doc_id"), col("text"),
        driverMaxEdges = -1L)
      .as[(Long, Long)].collect().toSet
    val drv = Dedup.minhashClusters(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toSet
    assert(dist == drv)
  }

  test("exact dedup groups duplicates and keeps min id") {
    val d = docs.select(col("doc_id"), col("text"))
    val corpus = d.union(d.filter(col("doc_id") < 10)
      .select((col("doc_id") + 1000).as("doc_id"), col("text")))
    val groups = Dedup.exactGroups(corpus, col("text"), col("doc_id"))
    assert(groups.count() == docs.count())
    assert(groups.filter(col("n_copies") === 2).count() == 10)
    assert(groups.agg(max(when(col("n_copies") === 2, col("keep_id"))))
      .head().getLong(0) < 1000)
  }

  test("canonicalize keeps the highest-quality member per cluster, ties to min id") {
    val clusters = Dedup.minhashClusters(docs, col("doc_id"), col("text"))
      .as[(Long, Long)].collect().toMap               // doc_id -> cluster_id
    val quality = docs.select(col("doc_id"),
        length(col("text")).cast("long")).as[(Long, Long)].collect().toMap
    val expect = clusters.groupBy(_._2).map { case (cid, members) =>
      val ids = members.keys.toSeq
      val keep = ids.maxBy(i => (quality(i), -i))
      (cid, keep, ids.size.toLong, ids.map(quality).max)
    }.toSet
    val got = Dedup.canonicalize(docs, col("doc_id"), col("text"),
        length(col("text")).cast("long"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expect)
    // every cluster keeps exactly one doc; cluster count preserved
    assert(got.size == clusters.values.toSet.size)
  }

  test("incremental pairs equal brute-force old-cross-new near-dups") {
    val corpus = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    val index = Dedup.minhashIndex(corpus, col("doc_id"), col("text"))
    val got = Dedup.minhashIncrementalPairs(index, corpus, batch,
        col("doc_id"), col("text"))
      .select(col("old_id"), col("new_id")).as[(Long, Long)].collect().toSet
    // brute force: all near-dup pairs with exactly one endpoint in the batch
    val expect = brutePairs(0.8).flatMap { case (a, b) =>
      (a % 4, b % 4) match {
        case (0, x) if x != 0 => Some((b, a)) // a is new, b is old
        case (x, 0) if x != 0 => Some((a, b))
        case _                => None
      }
    }
    assert(expect.nonEmpty, "corpus should contain cross-side near-dups")
    assert(got == expect)
    // structurally old-cross-new only
    assert(got.forall { case (o, n) => o % 4 != 0 && n % 4 == 0 })
  }

  test("plan guard: bucketed index join is exchange-free on the corpus side") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // Write the corpus index bucketed by (band, sig) — the LSH join key —
    // then run the incremental join against the bucketed table. The
    // scaladoc contract: the corpus-side index never shuffles; only the
    // batch's banded rows do. Broadcast is disabled so the candidate join
    // can't sidestep the question (the verification joins carry explicit
    // broadcast hints, which the threshold does not affect).
    val corpus = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    Bucketing.writeBucketed(
      Dedup.minhashIndex(corpus, col("doc_id"), col("text")),
      "mh_idx_bucketed", Seq("band", "sig"), buckets = 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE's pre-execution inputPlan carries no exchanges (EnsureRequirements
    // runs at stage preparation), so exchange assertions against it are
    // vacuous — disable AQE and inspect the executed plan directly.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = Dedup.minhashIncrementalPairs(spark.table("mh_idx_bucketed"),
        corpus, batch, col("doc_id"), col("text"))
      val root = out.queryExecution.executedPlan
      def bucketedScans(p: SparkPlan) =
        p.collect { case f: FileSourceScanExec if f.bucketedScan => f }
      assert(bucketedScans(root).nonEmpty,
        s"index scan should read bucketed:\n$root")
      // non-vacuous: the batch side DOES shuffle (its banded rows must
      // co-locate with the bucketed index), the corpus index side does not
      val allShuffles = root.collect { case e: ShuffleExchangeLike => e }
      assert(allShuffles.nonEmpty,
        s"expected the batch side to shuffle its banded rows:\n$root")
      // The JOIN is exchange-free on the index side: the only exchange
      // allowed above the bucketed scan is the candidate-dedup aggregation
      // — fixed-width (old_id, new_id) rows, map-side partially aggregated,
      // candidate-sized. A (band, sig) re-shuffle of the index rows (what
      // bucketing exists to eliminate) or anything wider than ids fails.
      val shufflesAbove = root.collect {
        case e: ShuffleExchangeLike if bucketedScans(e.asInstanceOf[SparkPlan]).nonEmpty => e
      }
      shufflesAbove.foreach { e =>
        val names = e.asInstanceOf[SparkPlan].output.map(_.name)
        assert(names.toSet.subsetOf(Set("old_id", "new_id")),
          s"exchange above the bucketed index scan carries $names:\n$root")
      }
      // and the bucketed path returns the same pairs as the unbucketed one
      val plain = Dedup.minhashIncrementalPairs(
        Dedup.minhashIndex(corpus, col("doc_id"), col("text")), corpus, batch,
        col("doc_id"), col("text"))
      assert(out.exceptAll(plain).isEmpty && plain.exceptAll(out).isEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS mh_idx_bucketed")
    }
  }

  test("plan guard: incremental verification never shuffles corpus or batch text") {
    // The candidate side is explicitly broadcast: the corpus (and batch)
    // text columns must be scanned, never exchanged. Regression guard for
    // the round-3 gap where a planner-chosen shuffle join could move the
    // full corpus text column.
    val corpus = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    // see the bucketed guard above: exchange assertions need AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val index = Dedup.minhashIndex(corpus, col("doc_id"), col("text"))
      val root = Dedup.minhashIncrementalPairs(index, corpus, batch,
          col("doc_id"), col("text"))
        .queryExecution.executedPlan
      // no shuffle in the plan may CARRY a text column — shuffled rows are
      // banded signatures and candidate ids only
      val shuffles = root.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.nonEmpty, s"expected banded/candidate exchanges in:\n$root")
      shuffles.foreach { e =>
        val carried = e.asInstanceOf[org.apache.spark.sql.execution.SparkPlan]
          .output.map(_.name).filter(_.toLowerCase.contains("text"))
        assert(carried.isEmpty, s"text columns shuffled: $carried")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("streaming ingestion: incremental near-dup against the bucketed index, batch by batch") {
    // The continuously-ingesting pipeline end-to-end: the corpus index is
    // built and bucketed ONCE; each arriving micro-batch joins against it
    // through foreachBatch + minhashIncrementalPairs (no corpus re-hash,
    // no corpus text shuffle — the same plan the batch plan-guards pin);
    // across micro-batches the emitted pairs equal the brute-force
    // old-cross-new answer.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    Bucketing.writeBucketed(
      Dedup.minhashIndex(corpus, col("doc_id"), col("text")),
      "mh_idx_stream", Seq("band", "sig"), buckets = 4)
    val found = scala.collection.mutable.Set[(Long, Long)]()
    try {
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val pairs = Dedup.minhashIncrementalPairs(spark.table("mh_idx_stream"),
              corpus, batch, col("doc_id"), col("text"))
            .select("old_id", "new_id").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
          found.synchronized { found ++= pairs }
          ()
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt-inc").toString)
        .start()
      val newDocs = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      val (b1, b2) = newDocs.splitAt(newDocs.length / 2)
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      q.stop()
      val expect = brutePairs(0.8).flatMap { case (a, b) =>
        (a % 4, b % 4) match {
          case (0, x) if x != 0 => Some((b, a))
          case (x, 0) if x != 0 => Some((a, b))
          case _                => None
        }
      }
      assert(expect.nonEmpty, "corpus should contain cross-side near-dups")
      assert(found.toSet == expect)
    } finally spark.sql("DROP TABLE IF EXISTS mh_idx_stream")
  }

  test("streaming ingestion: span check against the bucketed index, batch by batch") {
    // Ingest-time leakage detection composed into structured streaming:
    // the window-hash index is built and bucketed once, each arriving
    // micro-batch runs spanIncrementalStats against it through
    // foreachBatch, and the union across micro-batches equals the
    // one-shot batch answer.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    Bucketing.writeBucketed(
      Dedup.spanIndex(corpus, col("doc_id"), col("text"), k = 6),
      "span_idx_stream", Seq("wh"), buckets = 4)
    val found = scala.collection.mutable.Map[Long, (Long, Long)]()
    try {
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val rows = Dedup.spanIncrementalStats(spark.table("span_idx_stream"),
              batch, col("doc_id"), col("text"), k = 6)
            .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
          found.synchronized { found ++= rows }
          ()
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ckpt-span").toString)
        .start()
      val newDocs = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      val (b1, b2) = newDocs.splitAt(newDocs.length / 2)
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      q.stop()
      val expect = Dedup.spanIncrementalStats(
        Dedup.spanIndex(corpus, col("doc_id"), col("text"), k = 6),
        docs.filter(pmod(col("doc_id"), lit(4)) === 0),
        col("doc_id"), col("text"), k = 6)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(expect.nonEmpty)
      assert(found.toMap == expect)
    } finally spark.sql("DROP TABLE IF EXISTS span_idx_stream")
  }

  test("incremental broadcast guard: over-cap candidates fall back, same answer") {
    // maxBroadcastCandidates = 0 forces the fallback: with the forced
    // hints dropped (and auto-broadcast disabled) the planner chooses a
    // shuffle join — the job degrades gracefully instead of building an
    // unbounded broadcast of candidate texts — and the answer is identical.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    val corpus = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    val index = Dedup.minhashIndex(corpus, col("doc_id"), col("text"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val guarded = Dedup.minhashIncrementalPairs(index, corpus, batch,
        col("doc_id"), col("text"), maxBroadcastCandidates = 0)
      val root = guarded.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      assert(root.collect { case e: BroadcastExchangeLike => e }.isEmpty,
        s"fallback must not force a broadcast build:\n$root")
      val hinted = Dedup.minhashIncrementalPairs(index, corpus, batch,
        col("doc_id"), col("text"))
      assert(guarded.exceptAll(hinted).isEmpty && hinted.exceptAll(guarded).isEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("plan guard: minhash index hashes each batch doc once, map-only") {
    val plan = Dedup.minhashIndex(docs, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    val n = "shingle_minhash\\(".r.findAllIn(plan).size
    assert(n == 1, s"expected 1 shingle_minhash occurrence, got $n")
    assert(!plan.contains("Exchange"), "index build must be map-only")
  }

  test("span incremental: bucketed index join is exchange-free on the index side") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val corpus = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    Bucketing.writeBucketed(
      Dedup.spanIndex(corpus, col("doc_id"), col("text"), k = 6),
      "span_idx_bucketed", Seq("wh"), buckets = 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = Dedup.spanIncrementalStats(spark.table("span_idx_bucketed"),
        batch, col("doc_id"), col("text"), k = 6)
      // correctness against the unbucketed path first
      val expect = Dedup.spanIncrementalStats(
        Dedup.spanIndex(corpus, col("doc_id"), col("text"), k = 6),
        batch, col("doc_id"), col("text"), k = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        == expect)
      val root = out.queryExecution.executedPlan
      def bucketedScans(p: SparkPlan) =
        p.collect { case f: FileSourceScanExec if f.bucketedScan => f }
      assert(bucketedScans(root).nonEmpty, s"index scan should read bucketed:\n$root")
      // the batch side shuffles its fixed-width (doc_id, wh) rows to meet
      // the bucketed index; no exchange anywhere carries a string
      val shuffles = root.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.nonEmpty)
      shuffles.foreach { e =>
        val stringy = e.asInstanceOf[SparkPlan].output
          .filter(_.dataType == org.apache.spark.sql.types.StringType).map(_.name)
        assert(stringy.isEmpty, s"string columns shuffled: $stringy\n$root")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS span_idx_bucketed")
    }
  }

  test("span stats: planted verbatim run counted positionally, within-doc repeats excluded") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),       // shares the 6-token run "c d e f g h"
      (2L, "x y c d e f g h z w"),       // ... with doc 1, one window each
      (3L, "p q r s t u"),               // exactly one window, unique
      (4L, "m n o p q r m n o p q r"),   // repeats a run WITHIN itself only
      (5L, "too short")                  // < 6 tokens: no windows, absent
    ).toDF("doc_id", "text")
    val got = Dedup.spanStats(docs, col("doc_id"), col("text"), k = 6)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), s"got $got")
    assert(got(1L) == ((5L, 1L)), s"doc1 $got")   // 10 tokens → 5 windows
    assert(got(2L) == ((5L, 1L)), s"doc2 $got")
    assert(got(3L) == ((1L, 0L)), s"doc3 $got")
    // "m n o p q r" occurs twice in doc 4 but in ONE distinct doc — not
    // cross-corpus duplication, and both positions stay counted in the
    // window total (12 tokens → 7 windows)
    assert(got(4L) == ((7L, 0L)), s"doc4 $got")
  }

  test("span stats: kernel hashes agree with string-built windows") {
    // spanHashes shuffles 64-bit hashes instead of window strings; its
    // per-position multiset must match the windows built naively from the
    // token array (same split semantics, same order).
    val docs = Tables(spark, sfDir).documents.limit(50)
    val viaKernel = docs.select(col("doc_id"),
        posexplode(graft.functions.TextHashExpressions.spanHashes(col("text"), 6))
          .as(Seq("pos", "wh")))
      .select(col("doc_id"), col("pos"), col("wh"))
    val viaStrings = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 6)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("toks")) - 6),
        i => concat_ws(" ", slice(col("toks"), i + 1, lit(6))))).as(Seq("pos", "win")))
      .select(col("doc_id"), col("pos"), xxhash64(col("win")).as("wh_str"))
    // xxhash64(string) seeds differently than the kernel, so compare the
    // GROUPING structure: same (doc, pos) keys, and equal-hash pairs via
    // kernel ⇔ equal window strings
    val joined = viaKernel.join(viaStrings, Seq("doc_id", "pos"))
    assert(joined.count() == viaKernel.count())
    assert(joined.count() == viaStrings.count())
    val a = joined.select(col("wh").as("h1"), col("wh_str").as("s1"))
    val cross = a.groupBy("h1").agg(count_distinct(col("s1")).as("nds")).agg(max("nds")).head().getLong(0)
    val cross2 = joined.groupBy("wh_str").agg(count_distinct(col("wh")).as("ndh")).agg(max("ndh")).head().getLong(0)
    assert(cross == 1, "one kernel hash maps to two distinct window strings")
    assert(cross2 == 1, "one window string maps to two distinct kernel hashes")
  }

  test("span excision: first occurrence survives, overlaps merge, exact dups empty") {
    val frame = Seq(
      (1L, "a b c d e f g h i j"),           // owns every first occurrence
      (2L, "x y a b c d e f z w"),           // later copy of the 6-run → excised
      (3L, "a b c d e f g h i j"),           // exact dup of 1 → fully excised
      (4L, "p q r s t u v"),                 // unique → untouched
      (5L, "m n o p q r x m n o p q r")      // repeats a run within itself
    ).toDF("doc_id", "text")
    val got = Dedup.spanExcise(frame, col("doc_id"), col("text"), k = 6)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "a b c d e f g h i j", got(1L))
    assert(got(2L) == "x y z w", got(2L))
    assert(got(3L) == "", got(3L))
    assert(got(4L) == "p q r s t u v", got(4L))
    assert(got(5L) == "m n o p q r x", got(5L))
  }

  test("span excision broadcast guard: over-cap marks fall back, same answer") {
    val hinted = Dedup.spanExcise(docs, col("doc_id"), col("text"), k = 6)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val fallback = Dedup.spanExcise(docs, col("doc_id"), col("text"), k = 6,
        maxBroadcastMarks = 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(hinted == fallback)
    assert(hinted.nonEmpty)
  }

  test("span excision adversarial: mostly-duplicated doc stays linear") {
    // A document that is ~90% duplicated spans makes marks ≈ tokens; the
    // pre-r13 exists-per-token filter was O(tokens × marks) per row on
    // this shape. The interval-walk fold must (a) produce identical
    // output to the naive filter and (b) be measurably faster on it.
    import graft.functions.TextHashExpressions
    val run = (0 until 1500).map(i => s"t$i").mkString(" ")     // source run
    val chunk = (0 until 6).map(i => s"t$i").mkString(" ")      // one k-window of it
    val adversarial = Seq(
      (1L, run),                                                // owns firsts
      (2L, (0 until 10).map(_ => run).mkString(" ")),           // 15000 tokens, ~all excised
      (3L, (0 until 10).map(r => run + s" u$r").mkString(" ")), // 15010 tokens, ~90% excised
      // ALTERNATING duplicated/unique spans: ~1000 separate marks, each
      // followed by a kept gap — the shape where an accumulator fold
      // (concat per start re-copying the kept list) degrades to
      // O(tokens × marks); the gap-transform walk must stay linear AND
      // byte-identical to the naive filter on it
      (4L, (0 until 2000).map(j =>
        if (j % 2 == 0) chunk else s"v${j}a v${j}b v${j}c").mkString(" "))
    ).toDF("doc_id", "text")
    val k = 6

    // The naive pre-r13 rewrite, on the same marks pipeline.
    def naive(frame: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val w = frame.select(col("doc_id"),
          posexplode_outer(TextHashExpressions.spanHashes(col("text"), k))
            .as(Seq("pos", "wh")))
        .filter(col("wh").isNotNull)
      val firsts = w.groupBy(col("wh"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("first"), count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .select(col("wh"), col("first.doc_id").as("f_doc"), col("first.pos").as("f_pos"))
      val marks = w.join(firsts, Seq("wh"))
        .filter(col("doc_id") =!= col("f_doc") || col("pos") =!= col("f_pos"))
        .groupBy(col("doc_id"))
        .agg(array_sort(collect_set(col("pos"))).as("starts"))
      frame.select(col("doc_id"), col("text").as("__text"))
        .join(broadcast(marks), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("starts").isNull, col("__text")).otherwise {
            val toks = split(col("__text"), " ")
            val kept = filter(sequence(lit(0), size(toks) - 1),
              i => !exists(col("starts"), s => i >= s && i < s + k))
            concat_ws(" ", transform(kept, i => element_at(toks, i + 1)))
          }.as("clean_text"))
    }

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    // Long.MaxValue skips the broadcast-guard counting pass, so both
    // sides run the marks pipeline exactly once and the measured delta
    // isolates the rewrite filter. naive runs FIRST: any warmup bias
    // (JIT, codegen cache) then favors the old path, not the new one.
    val (gotOld, tOld) = timed(
      naive(adversarial).collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    val (gotNew, tNew) = timed(
      Dedup.spanExcise(adversarial, col("doc_id"), col("text"), k = k,
          maxBroadcastMarks = Long.MaxValue)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    info(f"adversarial 90%%-dup excision: interval-walk $tNew%.3fs vs naive $tOld%.3fs")
    assert(gotNew == gotOld, "interval-walk fold diverged from the naive filter")
    assert(gotNew(1L) == run)                       // firsts untouched
    assert(gotNew(2L) == "")                        // pure repeat fully excised
    assert(gotNew(2L).length < gotNew(3L).length)   // doc3 keeps its unique tails
    assert(gotNew(3L).split(" ").count(_.startsWith("u")) == 10)
    // the alternating doc keeps every unique filler token and drops the
    // repeated chunks (the naive-parity assert above already pins the
    // exact bytes; this pins the shape for the human reader)
    assert(gotNew(4L).split(" ").count(_.startsWith("v")) == 1000 * 3)
    assert(!gotNew(4L).contains("t0 t1 t2 t3 t4 t5"))
  }

  test("plan guard: span excision never shuffles text (map-only rewrite)") {
    // Window hashes aggregate and join as 64-bit keys; the per-doc
    // start-lists broadcast back onto the corpus, so the rewrite is a
    // projection over the scan — text appears in NO exchange. Inspected
    // through the UNPINNED impl so the whole mark pipeline (which the
    // production pin executes in its own job) is in one visible plan.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val root = Dedup.spanExciseImpl(docs, col("doc_id"), col("text"), k = 6,
          maxBroadcastMarks = Long.MaxValue, pinMarks = false)
        .queryExecution.executedPlan
      val shuffles = root.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.nonEmpty)
      shuffles.foreach { e =>
        val stringy = e.asInstanceOf[org.apache.spark.sql.execution.SparkPlan]
          .output.filter(_.dataType ==
            org.apache.spark.sql.types.StringType).map(_.name)
        assert(stringy.isEmpty, s"string columns shuffled: $stringy\n$root")
      }
      // The pinned production path (a counting guard, so the start-lists
      // are checkpointed in their own job): what is left to plan is the
      // corpus scan joined with the pinned start-lists, and the only
      // text-carrying input of that join is the scan-side projection.
      import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      import org.apache.spark.sql.types.StringType
      val pinned = Dedup.spanExcise(docs, col("doc_id"), col("text"), k = 6)
        .queryExecution.executedPlan
      def carriesText(p: SparkPlan): Boolean =
        p.output.exists(_.dataType == StringType)
      assert(pinned.collect { case e: ShuffleExchangeLike => e }.isEmpty,
        s"the pin should leave no exchange in the final plan:\n$pinned")
      val joins = pinned.collect { case j: BaseJoinExec => j }
      assert(joins.size == 1, s"expected one rewrite join:\n$pinned")
      val (textSide, markSide) = joins.head.children.partition(carriesText)
      assert(textSide.size == 1 && markSide.size == 1, s"join sides:\n$pinned")
      assert(markSide.head.collect { case p if carriesText(p) => p }.isEmpty,
        s"text reached the start-list side:\n$pinned")
      val scanProject = textSide.head.collectFirst { case p: ProjectExec => p }
      assert(scanProject.exists(_.output.map(_.name) == Seq("doc_id", "__text")),
        s"text should enter the join through the scan-side projection:\n$pinned")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("plan guard: span stats shuffles no string column at all") {
    // Windows hash in the scan (spanHashes kernel), so every exchange —
    // window-frequency agg, join-back, per-doc rollup — carries only
    // fixed-width numeric rows. Stronger than the minhash guard: not
    // just no text, no strings anywhere in any shuffle.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val root = Dedup.spanStats(docs, col("doc_id"), col("text"), k = 6)
        .queryExecution.executedPlan
      val shuffles = root.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.nonEmpty, s"expected frequency/join/rollup exchanges in:\n$root")
      shuffles.foreach { e =>
        val stringy = e.asInstanceOf[org.apache.spark.sql.execution.SparkPlan]
          .output.filter(_.dataType ==
            org.apache.spark.sql.types.StringType).map(_.name)
        assert(stringy.isEmpty, s"string columns shuffled: $stringy\n$root")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("keepFirst keeps exactly one earliest row per key") {
    val events = Tables(spark, sfDir).events
    val out = Dedup.keepFirst(events,
      Seq(col("user_id"), col("event_type")), Seq(col("ts"), col("event_id")))
    val perKey = out.groupBy("user_id", "event_type").count()
      .agg(max("count")).head().getLong(0)
    assert(perKey == 1)
    // kept row's ts is the min ts of its group
    val joined = out.select(col("user_id"), col("event_type"), col("ts").as("kept_ts"))
      .join(events.groupBy("user_id", "event_type").agg(min("ts").as("min_ts")),
        Seq("user_id", "event_type"))
    assert(joined.filter(col("kept_ts") =!= col("min_ts")).count() == 0)
  }
}
