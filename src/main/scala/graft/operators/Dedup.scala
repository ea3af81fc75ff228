package graft.operators

import graft.functions.{SketchExpressions, TextHashExpressions}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Deduplication operators for large text corpora — exact, keyed, and
  * near-duplicate (MinHash + LSH, SimHash). Everything is declarative
  * Catalyst expressions (higher-order array functions + hash functions), so
  * plans stay in whole-stage codegen and distribute: the only shuffles are
  * the groupBy/join on the dedup key or LSH bucket, which is the
  * theoretical minimum for the problem.
  *
  * Scale notes (100 TB): exact dedup shuffles once on a 64-bit fingerprint
  * of the dedup key (never the full text). MinHash-LSH materializes
  * `bands` rows per document (shuffle key = (band, signature)), so shuffle
  * volume is `bands × docs` small fixed-width rows; candidate verification
  * joins shingle sets only for the candidate pairs, which LSH keeps near
  * the true-positive count. Skewed buckets (a signature shared by a huge
  * cluster of identical docs) should be pre-collapsed by exact dedup first.
  */
object Dedup {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles of `text` (null when fewer than `n`
    * tokens) — tight-loop custom expression
    * ([[TextHashExpressions.Shingles]]); shingle strings are byte-range
    * views over one copy of the text. */
  def shingles(text: Column, n: Int): Column =
    TextHashExpressions.shingles(text, n)

  /** Band signatures for LSH: split the minhash signature into `bands`
    * bands of `rows` values and hash each band. */
  def bandSignatures(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * rows + 1, lit(rows))))

  /** Exact duplicate groups over `keyCols`: one row per group with the
    * smallest `idCol` kept and the group size. */
  def exactGroups(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keyed dedup keeping the first row per key by (orderCol, tieBreak). */
  def keepFirst(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** True iff the text has at least `n` single-space-separated tokens — the
    * exact non-null condition of the shingle expressions
    * ([[TextHashExpressions]]: null when `nTokens < ngram` or empty), but
    * computed from two cheap byte passes (length + space count) instead of
    * evaluating the hash kernel. Used as a pre-filter so the expensive
    * expression never appears in a Filter AND a Project of the same stage
    * (interpreted expressions get no codegen CSE → double evaluation). */
  private def hasNgramTokens(text: Column, n: Int): Column =
    text.isNotNull && length(text) > 0 &&
      (length(text) - length(replace(text, lit(" "), lit(""))) + 1 >= n)

  /** 64-bit text fingerprint used by the exact-admission family. As with
    * [[spanStats]], the 64-bit key is a deliberate trade: a collision
    * between two distinct texts makes [[bloomAdmit]] wrongly reject one new
    * document (expected collisions ≈ n²/2⁶⁵ — about 0.05 documents at a
    * billion-row index). Swap in `md5` (128-bit) where even that is too
    * much. */
  def textFingerprint(text: Column): Column = xxhash64(text)

  /** The exact-dedup admission index: one fixed-width row per distinct
    * corpus text fingerprint. This is the frame to PERSIST between ingest
    * batches (bucketed by `fp` if the shuffle-join fallback of
    * [[bloomAdmit]] is expected); the corpus text column is read once, at
    * build time, and never again. */
  def admissionIndex(corpus: DataFrame, text: Column): DataFrame =
    corpus.select(textFingerprint(text).as("fp")).distinct()

  /** Bloom filter over the admission index, built distributed (per-partition
    * sketches merged on the driver) via `DataFrameStatFunctions.bloomFilter`.
    *
    * Sizing (100 TB): bits = −n·ln(fpp)/ln²2 ≈ 1.2 GiB for 10⁹ fingerprints
    * at 1% — broadcastable. The filter grows linearly in `expectedItems`,
    * so past ~5·10⁹ rows either relax `fpp` (the admission result stays
    * EXACT — false positives only route more rows through the confirm
    * join) or shard the index by `pmod(fp, k)` and build k filters.
    * `expectedItems <= 0` counts the index first (one cheap agg over
    * fixed-width rows). */
  def admissionBloom(indexFp: DataFrame, expectedItems: Long = -1L,
                     fpp: Double = 0.01): BloomFilter = {
    val n = if (expectedItems > 0) expectedItems else indexFp.count()
    indexFp.stat.bloomFilter("fp", math.max(n, 1L), fpp)
  }

  /** Exact-dedup ADMISSION with a Bloom pre-filter: the subset of `batch`
    * whose text fingerprint is absent from the admission index, i.e. the
    * documents to ingest. The result is EXACT (up to the documented 64-bit
    * fingerprint trade) for any `fpp`: bloom-negative rows are definitively
    * new (no false negatives), and bloom-positive rows are confirmed
    * against the real index before rejection.
    *
    * Why this beats a plain anti-join at scale: the per-batch exact join
    * shrinks from |batch| rows to |true dups| + fpp·|batch| rows, and the
    * filter itself is built ONCE and reused across every subsequent batch,
    * while an anti-join re-scans (and, unbucketed, re-shuffles) the
    * billion-row index per batch. For a fresh crawl slice that is mostly
    * new, the index is barely touched.
    *
    * Plan shape (broadcast path): the index never shuffles — the surviving
    * bloom-positive fingerprints are broadcast and the index is streamed
    * through a broadcast SEMI join (output ≤ the candidate count), then the
    * candidates anti-join that small present-set. Like
    * [[minhashIncrementalPairs]], the broadcast is GUARDED by a measured
    * count: a batch that is mostly duplicates (a re-crawl) can make the
    * bloom-positive set batch-sized, so above `maxBroadcastCandidates` the
    * operator degrades to a plain shuffle anti-join of the candidates
    * against the index, which completes instead of OOMing the driver. */
  def bloomAdmit(indexFp: DataFrame, bloom: Broadcast[BloomFilter],
                 batch: DataFrame, id: Column, text: Column,
                 maxBroadcastCandidates: Long = 10L * 1000 * 1000): DataFrame = {
    val fpb = batch.select(id.as("doc_id"), text.as("text"),
      textFingerprint(text).as("fp"))
    val mightDup = fpb.filter(SketchExpressions.bloomMightContain(col("fp"), bloom))
    val fresh = fpb.filter(!SketchExpressions.bloomMightContain(col("fp"), bloom))
    val candFp = mightDup.select(col("fp")).distinct()
    val confirmedNew =
      if (candFp.count() <= maxBroadcastCandidates) {
        // present-set = index ⋉ broadcast(candidates): candidate-sized, so
        // it can itself broadcast into the anti-join — index side never
        // exchanges.
        val present = indexFp.join(broadcast(candFp), Seq("fp"), "left_semi")
        mightDup.join(broadcast(present), Seq("fp"), "left_anti")
      } else {
        System.err.println(
          s"[graft] bloomAdmit: bloom-positive set exceeds " +
            s"$maxBroadcastCandidates distinct fingerprints — falling back " +
            "to a shuffle anti-join (batch is mostly duplicates?)")
        mightDup.join(indexFp, Seq("fp"), "left_anti")
      }
    fresh.unionByName(confirmedNew).select(col("doc_id"), col("text"))
  }

  /** Near-duplicate pairs via MinHash LSH with exact-Jaccard verification.
    *
    * Returns (id_a, id_b, jaccard) for every candidate pair whose TRUE
    * n-gram Jaccard ≥ `threshold`, id_a < id_b. With the default 64 hashes
    * in 16 bands of 4, recall at j=0.8 is 1-(1-0.8⁴)^16 ≈ 0.9997 and
    * ≈ 1-4e-8 at j=0.9, so against well-separated corpora the output equals
    * the brute-force answer (which is how the oracle checks it).
    *
    * Bucket-skew guard: byte-identical documents are collapsed first
    * (128-bit md5 fingerprint → one representative per distinct text), LSH
    * runs on representatives only, and member pairs are expanded afterwards
    * from the verified representative pairs. A planted cluster of N
    * identical documents therefore contributes ONE row per band bucket
    * instead of N — no N²·bands candidate explosion, no N² signature
    * verifications; the only quadratic term left is the true-positive
    * output itself (within-cluster pairs at jaccard 1.0, emitted by an
    * agg-free fingerprint self-join, never verified). The collapse
    * aggregation feeds exactly one consumer (the LSH candidate path) —
    * verification and expansion run off scan-level frames — so it executes
    * once however the optimizer slices the plan.
    */
  def minhashLshPairs(docs: DataFrame, id: Column, text: Column,
                      ngram: Int = 3, numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.8): DataFrame = {
    val (keyed, _, cand) = minhashLshStages(docs, id, text, ngram, numHashes, bands)
    // Exact verification: true Jaccard is computed only for candidate rows —
    // LSH keeps candidates near the true-positive count, so this is a
    // broadcast-scale join however large the corpus. Texts come straight
    // from the scan (rep ids ARE doc ids); fingerprints for the expansion
    // are recomputed on verified pairs only. The one-pass ShingleJaccard
    // expression (instead of shingles + array_intersect) keeps the
    // inevitable Catalyst inlining of this predicate into the join
    // condition down to one kernel evaluation per candidate.
    val texts = keyed.select(col("doc_id"), col("__text"))
    val repPairs = cand
      .join(texts.select(col("doc_id").as("id_a"), col("__text").as("text_a")), "id_a")
      .join(texts.select(col("doc_id").as("id_b"), col("__text").as("text_b")), "id_b")
      .withColumn("jaccard",
        TextHashExpressions.shingleJaccard(col("text_a"), col("text_b"), ngram))
      .filter(col("jaccard") >= threshold)
      .select(md5(col("text_a")).as("fp_a"), md5(col("text_b")).as("fp_b"),
        col("jaccard"))

    // --- expansion back to member pairs ---
    // Cross-cluster: each verified rep pair joins to the scan-level
    // member map once per side; (least, greatest) orders every member
    // pair without the both-ways union that would execute the whole
    // verification lineage twice (clusters are disjoint, so ma ≠ mb and
    // each cross pair appears exactly once). The rep-pair set is
    // output-sized → broadcast.
    val members = keyed.select(col("fp"), col("doc_id"))
    val cross = broadcast(repPairs)
      .join(members.select(col("fp").as("fp_a"), col("doc_id").as("ma")), "fp_a")
      .join(members.select(col("fp").as("fp_b"), col("doc_id").as("mb")), "fp_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("jaccard"))
    // Within-cluster: identical texts → jaccard exactly 1.0. A fingerprint
    // self-join over shingle-eligible members — no aggregation, one shuffle
    // of (fp, id) pairs; singleton clusters simply produce no pairs.
    val eligibleMembers = keyed.filter(hasNgramTokens(col("__text"), ngram))
      .select(col("fp"), col("doc_id"))
    val within = eligibleMembers.as("x")
      .join(eligibleMembers.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** Transitive near-duplicate clusters over the [[minhashLshPairs]] graph:
    * every document gets `cluster_id` = the smallest doc_id reachable
    * through verified near-dup pairs (exact duplicates included — identical
    * texts are jaccard-1.0 edges). Documents with no near-dups, including
    * shingle-ineligible ones, are their own singleton cluster. This is the
    * form a dedup pipeline actually consumes: keep one row per cluster_id.
    *
    * Scale: connected components run on the REPRESENTATIVE graph — one
    * vertex per distinct text with at least one verified pair, i.e.
    * output-sized — so corpus-sized frames are touched only by the
    * single-pass expansion at the end. The component algorithm is hybrid:
    * when the verified edge list fits comfortably on the driver
    * (≤ `driverMaxEdges`, default 1M edges — collected as primitive Long
    * pairs, ≈ 50 MB of boxed tuples on the heap, with the resulting
    * ≤ 2M-row label frame broadcast; near-dup graphs after exact-collapse
    * are almost always far below this even for web-scale corpora), a
    * single collect + union-find replaces the iterative
    * min-label-propagation loop, whose per-iteration job latency dominates
    * the operator on all but the largest graphs. Above the threshold the
    * distributed loop runs ([[propagateLabels]]): min-label propagation
    * with pointer jumping, converging in O(log diameter) rounds, capped at
    * `maxIters`. */
  def minhashClusters(docs: DataFrame, id: Column, text: Column,
                      ngram: Int = 3, numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.8, maxIters: Int = 20,
                      driverMaxEdges: Long = 1000 * 1000): DataFrame = {
    val (keyed, eligible, cand) = minhashLshStages(docs, id, text, ngram, numHashes, bands)
    val texts = keyed.select(col("doc_id"), col("__text"))
    val repPairs = cand
      .join(texts.select(col("doc_id").as("id_a"), col("__text").as("text_a")), "id_a")
      .join(texts.select(col("doc_id").as("id_b"), col("__text").as("text_b")), "id_b")
      .filter(TextHashExpressions.shingleJaccard(col("text_a"), col("text_b"), ngram)
        >= threshold)
      .select(col("id_a"), col("id_b"))
    // (rep_id, label) for every representative touched by a verified pair;
    // persisted/broadcast-sized either way — it is in the result lineage.
    val labels = componentsFromPairs(repPairs, driverMaxEdges, maxIters)
      .withColumnRenamed("id", "rep_id")
    // Expansion: member → its exact-dup representative → component label.
    // Non-participants fall back to their representative (exact-dup cluster
    // min) and then to themselves.
    keyed.select(col("fp"), col("doc_id"))
      .join(eligible.select(col("fp"), col("rep_id")), Seq("fp"), "left")
      .join(labels, Seq("rep_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("rep_id"), col("doc_id")).as("cluster_id"))
  }

  /** Window-hash index over a corpus: one row per distinct `k`-token
    * window hash with its occurrence count — the PERSISTED form of
    * span-level state. Write it bucketed on `wh`
    * ([[graft.sources.Bucketing.writeBucketed]]) once and incremental
    * batches ([[spanIncrementalStats]]) join it without re-reading or
    * re-hashing a single corpus document. Map-side kernel + one
    * fixed-width aggregation; text never leaves the scan. */
  def spanIndex(docs: DataFrame, id: Column, text: Column,
                k: Int = 6): DataFrame =
    docs.select(id.as("doc_id"),
        posexplode_outer(TextHashExpressions.spanHashes(text, k))
          .as(Seq("pos", "wh")))
      .filter(col("wh").isNotNull)
      .groupBy(col("wh"))
      .agg(count(lit(1)).as("n"))

  /** Incremental span contamination: for each document of a NEW batch,
    * how many of its `k`-token windows already occur in the indexed
    * corpus ([[spanIndex]]) — the ingest-time leakage/dedup check, where
    * yesterday's corpus must not be re-hashed to admit today's batch.
    * Returns (doc_id, n_windows, n_indexed_windows, overlap_frac).
    *
    * Scale: the batch hashes map-side and joins the index on the 64-bit
    * window hash — exchange-free on the corpus side when the index is
    * bucketed on `wh` (plan-guard spec'd); only the batch's fixed-width
    * rows shuffle, and the rollup is one id-keyed aggregation. No text
    * column exists anywhere in the plan past the two scans.
    *
    * The index may carry DUPLICATE `wh` rows — an appended store
    * ([[graft.sources.IndexStore.appendDocs]]) is an unmerged count-delta
    * log — so presence is read through a distinct; on a wh-bucketed (or
    * freshly [[spanIndex]]-grouped) index that aggregation needs no
    * exchange, and without it a duplicated hash would double-count hits
    * and push `overlap_frac` past 1. */
  def spanIncrementalStats(index: DataFrame, batch: DataFrame,
                           id: Column, text: Column, k: Int = 6): DataFrame = {
    val w = batch.select(id.as("doc_id"),
        posexplode_outer(TextHashExpressions.spanHashes(text, k))
          .as(Seq("pos", "wh")))
      .filter(col("wh").isNotNull)
    w.join(index.select(col("wh")).distinct().withColumn("hit", lit(1L)),
        Seq("wh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("hit"), lit(0L))).as("n_indexed_windows"))
      .withColumn("overlap_frac",
        round(col("n_indexed_windows").cast("double") / col("n_windows"), 6))
  }

  /** Hybrid connected components over an undirected edge list
    * (`id_a`, `id_b`): returns (`id`, `label`) for every vertex touched
    * by an edge, `label` = the smallest reachable id. Driver union-find
    * when the edge count fits `driverMaxEdges` (collected as primitive
    * Long pairs, labels broadcast back), distributed min-label
    * propagation with pointer jumping ([[propagateLabels]]) above it —
    * the same hybrid [[minhashClusters]] has always used, extracted so
    * any near-dup pair graph (text LSH, embedding LSH, span edges) can
    * be clustered with it. */
  def componentsFromPairs(pairs: DataFrame, driverMaxEdges: Long = 1000 * 1000,
                          maxIters: Int = 20): DataFrame = {
    val repPairs = pairs.select(col("id_a"), col("id_b")).persist()
    val nEdges = repPairs.count()
    if (nEdges <= driverMaxEdges) {
      // Driver union-find with min-root, one pass over the edge list.
      // Collected through the tuple encoder (primitive-backed UnsafeRow
      // decode, no Row objects retained).
      val session = pairs.sparkSession
      import session.implicits._
      val edgeArr = repPairs.as[(Long, Long)].collect()
      repPairs.unpersist()
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x   // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edgeArr.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // Snapshot the key set BEFORE resolving labels: find() compresses
      // paths (mutates `parent`), and iterating a mutable map while
      // mutating it is undefined however the current HashMap behaves.
      val ks = parent.keys.toArray
      broadcast(ks.map(k => (k, find(k))).toSeq.toDF("id", "label"))
    } else {
      val edges = repPairs
        .unionByName(repPairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
        .persist()
      val labs = propagateLabels(edges, maxIters)
      edges.unpersist()
      repPairs.unpersist()
      labs
    }
  }

  /** Canonical-document selection — the step a dedup pipeline actually
    * ends with: one surviving document per transitive near-dup cluster,
    * chosen as the member with the highest `quality` (ties broken toward
    * the smallest `id`, so the choice is total and deterministic).
    * Returns (cluster_id, keep_id, n_members, keep_quality).
    *
    * Scale: clustering cost is [[minhashClusters]]; the selection itself
    * is ONE additional shuffle of (doc_id, cluster_id, quality) rows,
    * aggregated with partial `max_by` on each map side — no window sort,
    * no second pass over the texts. `quality` is any Column over `docs`
    * (a score, a length, a trust tier), evaluated in the same scan that
    * feeds clustering expansion. */
  def canonicalize(docs: DataFrame, id: Column, text: Column, quality: Column,
                   ngram: Int = 3, numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.8): DataFrame = {
    val clusters = minhashClusters(docs, id, text, ngram, numHashes, bands, threshold)
    val scored = docs.select(id.as("doc_id"), quality.as("__q"))
    clusters.join(scored, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        // struct comparison is lexicographic, so (quality, -doc_id) argmax
        // = highest quality, then smallest id — one agg, no window sort.
        max_by(col("doc_id"), struct(col("__q"), -col("doc_id"))).as("keep_id"),
        max(col("__q")).as("keep_quality"))
      .select(col("cluster_id"), col("keep_id"), col("n_members"),
        col("keep_quality"))
  }

  /** Banded MinHash signature index over a corpus: one row per
    * (doc_id, band, sig), the exact key the LSH candidate join uses.
    * This is the PERSISTED form of near-dup state — write it bucketed by
    * (band, sig) once, and incremental batches ([[minhashIncrementalPairs]])
    * join against it without re-reading or re-hashing a single corpus
    * document. Shingle-ineligible docs (< `ngram` tokens) produce no rows,
    * mirroring [[minhashLshPairs]] eligibility.
    *
    * Scale: `bands` fixed-width rows per document (doc_id, two longs —
    * text never leaves the scan), one map-only pass; the kernel runs once
    * per document (the Generate materialization trick — see
    * [[simhashPairs]]). At 100 TB collapse exact duplicates first
    * ([[exactGroups]]) so a hot identical-text cluster contributes one
    * index row per band, not N. */
  def minhashIndex(docs: DataFrame, id: Column, text: Column,
                   ngram: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val rows = numHashes / bands
    docs.filter(hasNgramTokens(text, ngram))
      .select(id.as("doc_id"),
        posexplode_outer(array(
          TextHashExpressions.shingleMinhash(text, ngram, numHashes))).as(Seq("__p", "mh")))
      .select(col("doc_id"),
        posexplode_outer(bandSignatures(col("mh"), bands, rows)).as(Seq("band", "sig")))
  }

  /** Incremental near-duplicate detection: verified near-dup pairs between
    * a NEW batch and an EXISTING corpus, given the corpus's prebuilt
    * [[minhashIndex]] — the shape of a continuously-ingesting pipeline,
    * where yesterday's 100 TB must not be re-hashed to admit today's 100 GB.
    * Returns (old_id, new_id, jaccard) with true n-gram Jaccard ≥
    * `threshold`. Within-batch duplicates are [[minhashLshPairs]]'s job;
    * this operator deliberately joins old×new only, so the corpus side
    * never self-joins.
    *
    * Scale: the batch is hashed once (map-only, `bands` rows/doc) and
    * joined against the index on (band, sig) — when the index is written
    * bucketed on that key ([[graft.sources.Bucketing.writeBucketed]] with
    * keys (band, sig); plan-guard spec'd), the join is exchange-free on
    * the corpus side and only the batch's banded rows shuffle.
    * Verification then fetches texts by id with the CANDIDATE side
    * explicitly broadcast, so the corpus text column is scanned once and
    * NEVER shuffled — without the hint, Spark may plan a shuffle join
    * that moves the full corpus text column, which is exactly the
    * corpus-sized I/O this operator exists to avoid. The broadcast is
    * candidate-sized (ids, then ids + matched old texts); LSH keeps that
    * near the true-positive count, and the precondition for pathological
    * corpora — collapse exact duplicates first so a hot identical-text
    * cluster can't inflate the candidate set — is the same one the index
    * build states.
    *
    * That precondition is ENFORCED, not assumed: the candidate set is
    * counted first (one extra pass over the fixed-width index join —
    * exchange-free on a bucketed index, never touching a text column),
    * and above `maxBroadcastCandidates` the forced hints are dropped so
    * the planner degrades to a shuffle join that completes, instead of a
    * broadcast build that hits the 8 GB broadcast cap / driver OOM when a
    * skewed batch or hot band inflates candidates. The cap bounds the
    * broadcast build: 1M candidate rows of a few-KB text ≈ low GBs. */
  def minhashIncrementalPairs(index: DataFrame, corpus: DataFrame,
                              batch: DataFrame, id: Column, text: Column,
                              ngram: Int = 3, numHashes: Int = 64,
                              bands: Int = 16, threshold: Double = 0.8,
                              maxBroadcastCandidates: Long = 1000 * 1000): DataFrame = {
    val newIdx = minhashIndex(batch, id, text, ngram, numHashes, bands)
    val cand = index.as("old")
      .join(newIdx.as("new"),
        col("old.band") === col("new.band") && col("old.sig") === col("new.sig"))
      .select(col("old.doc_id").as("old_id"), col("new.doc_id").as("new_id"))
      .distinct()
    // Deliberately count (one cheap narrow job) rather than persist: an
    // InMemoryRelation in the lineage would hide the bucketed index scan
    // from the final plan, and with it the exchange-free evidence the
    // plan-guard specs (and any plan reviewer) rely on.
    val broadcastSafe = cand.count() <= maxBroadcastCandidates
    def hinted(df: DataFrame): DataFrame = if (broadcastSafe) broadcast(df) else df
    if (!broadcastSafe)
      System.err.println(
        s"[graft] minhashIncrementalPairs: candidate set exceeds " +
          s"$maxBroadcastCandidates rows — falling back to a shuffle join; " +
          "collapse exact duplicates first (exactGroups) to shrink it")
    // corpus streamed against the broadcast candidate ids: one scan, no
    // corpus shuffle; result is candidate-sized and carries the old texts
    val withOld = corpus.select(id.as("old_id"), text.as("old_text"))
      .join(hinted(cand), "old_id")
    // batch streamed the same way against the (still candidate-sized) set
    batch.select(id.as("new_id"), text.as("new_text"))
      .join(hinted(withOld), "new_id")
      .withColumn("jaccard",
        TextHashExpressions.shingleJaccard(col("old_text"), col("new_text"), ngram))
      .filter(col("jaccard") >= threshold)
      .select(col("old_id"), col("new_id"), col("jaccard"))
  }

  /** Distributed min-label propagation with POINTER JUMPING over an
    * oriented edge list `(id_a, id_b)` (both directions present):
    * each round takes the min over neighbours, then shortcuts
    * `label := label(label)`, so the remaining hop distance to the
    * component minimum at least halves per round — convergence in
    * O(log diameter) rounds, and the `maxIters` cap (default 20 → safe for
    * diameters beyond 10^6) is a backstop, not a correctness risk. The
    * returned `(id, label)` frame is locally checkpointed (materialized,
    * lineage cut); its blocks are released by the ContextCleaner once the
    * frame is no longer referenced — unlike a bare persist, nothing needs
    * a manual unpersist. */
  private[graft] def propagateLabels(edges: DataFrame, maxIters: Int): DataFrame = {
    // localCheckpoint (not persist) on the carried frame: the self-join
    // doubles the LOGICAL plan per round, so without lineage truncation the
    // plan tree grows exponentially and planning itself OOMs around round
    // 15 — checkpointing resets each round's plan to a constant-size scan.
    var labs = edges.select(col("id_a").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val nbrMin = edges
        .join(labs.withColumnRenamed("id", "id_b").withColumnRenamed("label", "nl"),
          "id_b")
        .groupBy(col("id_a").as("id")).agg(min(col("nl")).as("nbr_label"))
      val stepped = labs.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        .persist()
      val next = stepped
        .join(stepped.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
        .localCheckpoint(true)
      val changed = next.as("n").join(labs.as("o"), "id")
        .filter(col("n.label") < col("o.label")).count()
      stepped.unpersist()
      labs = next
      converged = changed == 0
      i += 1
    }
    if (!converged)
      System.err.println(
        s"[graft] propagateLabels: not converged after $maxIters rounds; " +
          "labels may not be component minima")
    labs
  }

  /** Internals of [[minhashLshPairs]] up through the LSH candidate stage,
    * package-private so the skew-guard spec can assert the representative-
    * level candidate count directly. Returns (keyed, eligible, candidates):
    * keyed = (doc_id, __text, fp); eligible = one row per distinct
    * shingle-eligible text (fp, rep_id) — fixed-width, no text column;
    * candidates = distinct (id_a, id_b) representative pairs sharing an
    * LSH bucket. */
  private[graft] def minhashLshStages(docs: DataFrame, id: Column, text: Column,
                                      ngram: Int, numHashes: Int, bands: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val rows = numHashes / bands
    val base = docs.select(id.as("doc_id"), text.as("__text"))
    val keyed = base.withColumn("fp", md5(col("__text")))

    // --- exact-collapse: one representative per distinct text ---
    // The signature is computed MAP-SIDE on every shingle-eligible row
    // (the kernel is a linear tight loop, embarrassingly parallel;
    // identical texts produce identical signatures), so the collapse
    // exchange carries fixed-width (fp, doc_id, mh) rows — the corpus
    // TEXT column never crosses a shuffle anywhere in this operator.
    // Hashing per row instead of per distinct text trades bounded extra
    // map CPU on duplicate-heavy corpora for ~10x less shuffle bytes on
    // multi-KB documents, which is the 100 TB-dominant cost. The
    // Aggregate below is also the materialization barrier that round 1
    // bought with an explicit repartition: band expressions read the
    // aggregated `mh` ATTRIBUTE, and CollapseProject cannot inline an
    // expression through an Aggregate, so the kernel still runs exactly
    // once per row and one whole exchange is gone.
    val sigAll = keyed.filter(hasNgramTokens(col("__text"), ngram))
      .select(col("fp"), col("doc_id"),
        TextHashExpressions.shingleMinhash(col("__text"), ngram, numHashes).as("mh"))
    val collapsed = sigAll.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("rep_id"), first(col("mh")).as("mh"))
    // (fp, rep_id) for the expansion joins — deliberately KERNEL-FREE
    // lineage (md5 + min only), so consumers that never touch a
    // signature (the clusters expansion) never pay a hash pass.
    val eligible = keyed.filter(hasNgramTokens(col("__text"), ngram))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("rep_id"))

    // posexplode_outer, not posexplode: the non-outer generator makes
    // InferFiltersFromConstraints add isnotnull(<array expr>); here the
    // array is an agg attribute so no kernel re-evaluation is possible,
    // but the outer variant keeps the plan constraint-free either way.
    val banded = collapsed
      .select(col("rep_id").as("doc_id"),
        posexplode_outer(bandSignatures(col("mh"), bands, rows)).as(Seq("band", "sig")))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    (keyed, eligible, cand)
  }

  /** Span-level duplication statistics: for every document, how many of
    * its `k`-token sliding windows (every position, not distinct) also
    * occur in at least `minDocs` distinct documents. This is the
    * suffix-array-style exact substring dedup signal — long verbatim runs
    * shared across documents (boilerplate, mirrored pages, benchmark
    * leakage) show up as high `dup_frac` even when whole-document
    * similarity is low.
    *
    * Shape at 100 TB: windows are hashed IN the scan by the
    * [[TextHashExpressions.spanHashes]] kernel (one pass per row, 64-bit
    * hash per position — no window string ever materializes), so both
    * exchanges move fixed-width (id/hash, count) rows: one hash-keyed
    * aggregation for global window frequencies, one hash-keyed join back,
    * one id-keyed aggregation for the per-document rollup. Corpus text is
    * never shuffled. A 64-bit hash collision across ~10^10 distinct
    * windows is ~1e-2 per corpus and only perturbs a count by 1; use the
    * window string as the key (swap `spanHashes` for a window-string
    * explode) only if exact-string semantics is required.
    *
    * Documents with fewer than `k` tokens have no windows and are absent
    * from the output (their dup_frac is undefined, not zero). */
  def spanStats(docs: DataFrame, id: Column, text: Column, k: Int = 6,
                minDocs: Int = 2): DataFrame = {
    val w = docs.select(id.as("doc_id"),
      posexplode_outer(TextHashExpressions.spanHashes(text, k))
        .as(Seq("pos", "wh")))
      .filter(col("wh").isNotNull)
    val dupWindows = w.groupBy(col("wh"))
      .agg(count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("wh"), lit(1L).as("is_dup"))
    w.join(dupWindows, Seq("wh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_windows"))
      .withColumn("dup_frac",
        round(col("n_dup_windows").cast("double") / col("n_windows"), 6))
  }

  /** Span excision — the removal step of exact-substring dedup: every
    * occurrence of a `k`-token window EXCEPT the globally first one
    * (ordered by (doc_id, pos)) marks its k positions for removal; a
    * document's surviving tokens are reassembled in order. Overlapping
    * duplicated windows merge naturally (a token survives only if NO
    * removed window covers it), so a long verbatim run shared between
    * two documents survives once, in the lower-id document — the
    * Lee-et-al-style "deduplicating training data" transform, expressed
    * as three hash-keyed exchanges.
    *
    * Shape at 100 TB: windows hash in the scan ([[spanStats]] kernel);
    * the global-first choice is one partial→final `min_by` aggregation
    * on the 64-bit window hash; non-first occurrences shuffle back as
    * (doc_id, pos) pairs and aggregate to one small start-list per
    * affected document, which joins the corpus doc-keyed. Text is never
    * exchanged — it is read from the scan and rewritten in a final
    * map-only projection (a single interval-walk fold over the sorted
    * start-list, O(tokens + removed-spans) per row — NOT the naive
    * exists-per-token test, which goes quadratic in document length on
    * adversarial mostly-duplicated documents where marks ≈ tokens). The
    * start-lists join the corpus by BROADCAST — their rows are a doc_id
    * plus a small int array — and the hint is GUARDED, not assumed: the
    * start-lists are pinned once and their row count read from the pin
    * (no second pipeline run), and above `maxBroadcastMarks` the hint is dropped so a
    * duplication-dense corpus degrades to a planner-chosen join (each
    * affected document's text then moves once) instead of driving the
    * broadcast build into the 8 GB cap / driver OOM. Documents with no
    * duplicated spans pass through untouched.
    *
    * Collision trade-off — NOTE this operator is data-destructive,
    * unlike [[spanStats]]: window identity is the 64-bit hash alone, so
    * a collision between two distinct windows doesn't just perturb a
    * count by 1, it silently deletes `k` tokens from an unrelated
    * document. At 10^9 indexed windows the expected number of colliding
    * window PAIRS is ~0.027 (birthday bound n²/2^65), i.e. at most a few
    * spurious k-token excisions per exabyte-scale corpus — an accepted
    * trade for fixed-width exchanges. Where even that is unacceptable,
    * swap the hash key for the window's token string (`wh` →
    * `array_join(slice(tokens, pos+1, k), ' ')`): identical plan shape,
    * exact semantics, string-width exchanges. */
  def spanExcise(docs: DataFrame, id: Column, text: Column,
                 k: Int = 6,
                 maxBroadcastMarks: Long = 10 * 1000 * 1000): DataFrame =
    spanExciseImpl(docs, id, text, k, maxBroadcastMarks, pinMarks = true)

  /** [[spanExcise]] with the start-list pin optional: the plan-guard
    * spec passes `pinMarks = false` so the WHOLE mark pipeline (window
    * hashing, first-occurrence agg, join-back) stays visible in one
    * executed plan; production callers pin whenever the guard count
    * runs. */
  private[graft] def spanExciseImpl(docs: DataFrame, id: Column,
                                    text: Column, k: Int,
                                    maxBroadcastMarks: Long,
                                    pinMarks: Boolean): DataFrame = {
    val w = docs.select(id.as("doc_id"),
        posexplode_outer(TextHashExpressions.spanHashes(text, k))
          .as(Seq("pos", "wh")))
      .filter(col("wh").isNotNull)
    // globally-first occurrence per window: one agg, no window sort
    val firsts = w.groupBy(col("wh"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("wh"), col("first.doc_id").as("f_doc"), col("first.pos").as("f_pos"))
    // non-first occurrences → per-doc sorted removal starts, PINNED:
    // both the broadcast-guard count and the rewrite join consume this
    // frame, and unpinned each re-executed the whole mark pipeline
    // (scan + two corpus-scale exchanges) — the guide's
    // consumed-more-than-once materialization rule. The pin is
    // affected-doc-sized (doc_id + a small int array per doc with
    // duplicated spans), never corpus-text-sized, and spills to disk
    // past memory like every localCheckpoint.
    val marks0 = w.join(firsts, Seq("wh"))
      .filter(col("doc_id") =!= col("f_doc") || col("pos") =!= col("f_pos"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("pos"))).as("starts"))
    // Pinned only when the guard count will run: maxBroadcastMarks =
    // Long.MaxValue ("always broadcast") and maxBroadcastMarks <= 0
    // ("planner's choice") skip the count, leaving the rewrite join as
    // the one consumer, so a pin would only add a write and a read. With
    // the pin the guard count is a count over materialized partitions,
    // not a second pipeline run.
    val guardCounts = maxBroadcastMarks != Long.MaxValue && maxBroadcastMarks > 0L
    val marks = if (pinMarks && guardCounts) marks0.localCheckpoint(true) else marks0
    val broadcastSafe =
      if (guardCounts) marks.count() <= maxBroadcastMarks
      else maxBroadcastMarks == Long.MaxValue
    // warn only on a MEASURED over-limit — the <= 0 escape hatch is a
    // deliberate config, not a counted excess
    if (!broadcastSafe && guardCounts)
      System.err.println(
        s"[graft] spanExcise: marked-doc count exceeds $maxBroadcastMarks — " +
          "dropping the broadcast hint; affected documents' text will move " +
          "once through a planner-chosen join")
    docs.select(id.as("doc_id"), text.as("__text"))
      .join(if (broadcastSafe) broadcast(marks) else marks, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("starts").isNull, col("__text")).otherwise {
          val toks = split(col("__text"), " ")
          val n = size(toks)
          // Interval walk without a fold: `starts` is sorted+distinct and
          // every span has the SAME width k, so the coverage end before
          // starts[i] is exactly starts[i-1] + k (the running max of an
          // ascending sequence of equal-width interval ends is the last
          // one). The kept indices are then the per-position gaps
          // [prev_end, start) plus the tail [last + k, n) — one indexed
          // transform (O(marks)) and one flatten (each kept index copied
          // ONCE): O(tokens + marks). An aggregate() fold that concat()s
          // kept runs onto an accumulator re-copies the accumulator at
          // every start (Spark's ArrayConcat copies both sides), which
          // for alternating excised/kept spans is O(tokens × marks) —
          // the very class this walk replaces; hence no fold. sequence()
          // is guarded by `until > from` (Spark's sequence counts DOWN
          // when lo > hi); element_at is 1-based, so element_at(starts, i)
          // at 0-based position i is the PREVIOUS start, and the i = 0
          // branch never evaluates it. coalesce covers an empty `starts`
          // array (no previous element): the tail gap is then [0, n) and
          // the whole text survives, matching the null-starts row above.
          val emptyInts = array().cast("array<int>")
          val gaps = concat(
            transform(col("starts"), (s, i) => struct(
              when(i === lit(0), lit(0))
                .otherwise(element_at(col("starts"), i) + lit(k)).as("from"),
              s.as("until"))),
            array(struct(
              coalesce(element_at(col("starts"), lit(-1)) + lit(k), lit(0)).as("from"),
              n.as("until"))))
          val kept = flatten(transform(gaps, g =>
            when(g.getField("until") > g.getField("from"),
              sequence(g.getField("from"), g.getField("until") - 1))
              .otherwise(emptyInts)))
          concat_ws(" ", transform(kept, i => element_at(toks, i + 1)))
        }.as("clean_text"))
  }

  /** 64-bit SimHash over word 3-gram shingles (custom tight-loop
    * Expression; see [[TextHashExpressions.SimHash]]). Shingles (not
    * unigrams) are the feature set: corpora drawn from a shared vocabulary
    * make unigram simhash collapse, while shingles keep word order. Null
    * for documents with fewer than 3 tokens. */
  def simhash64(text: Column): Column = TextHashExpressions.simhash64(text, 3)

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`, found by
    * the pigeonhole band trick: split the 64-bit hash into `maxHamming+1`
    * bands; any pair within the distance budget must agree exactly on at
    * least one band, so an equi-join per band finds all of them without an
    * all-pairs comparison. */
  def simhashPairs(docs: DataFrame, id: Column, text: Column,
                   maxHamming: Int = 3): DataFrame = {
    val nBands = maxHamming + 1
    val width = 64 / nBands
    // The hash is materialized behind a Generate (posexplode_outer of a
    // one-element array): downstream band keys and the hamming computation
    // read the `sh` ATTRIBUTE, and neither CollapseProject nor an inferred
    // isnotnull constraint can rewrite an attribute back into the kernel
    // expression through a Generate — so simhash64 evaluates exactly once
    // per row per join side with NO exchange. (Round 2 bought the same
    // single-eval guarantee with a repartition barrier; that shuffled the
    // whole hashed corpus and cost 2x on the bench. The second join branch
    // re-scans instead of reusing an exchange — one extra kernel pass, far
    // cheaper than a full shuffle, and still linear in the corpus.)
    val hashed = docs
      .filter(hasNgramTokens(text, 3))  // cheap pre-filter: sub-3-token rows
      .select(id.as("doc_id"),          // can't hash; nulls never equi-join
        posexplode_outer(array(simhash64(text))).as(Seq("__p", "sh")))
      .select(col("doc_id"), col("sh"))
    val banded = hashed.select(col("doc_id"), col("sh"),
      posexplode_outer(transform(sequence(lit(0), lit(nBands - 1)),
        b => call_function("shiftright", col("sh"), b * lit(width))
          .bitwiseAND(lit((1L << width) - 1)))).as(Seq("band", "key")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      // Filter BEFORE the dedup exchange: multi-band agreement duplicates
      // only matter for surviving pairs, so eliminating the false-positive
      // candidates first shrinks the distinct's shuffle from
      // candidate-sized to output-sized. coalesce keeps the predicate
      // null-tolerant (defense in depth — `sh` already sits behind the
      // Generate, so an inferred isnotnull could not reach the kernel).
      .filter(coalesce(col("hamming") <= maxHamming, lit(false)))
      .distinct()
  }
}
