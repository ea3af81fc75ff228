package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table ingest: the shuffle you pay ONCE so that repeated
  * large-large joins and aggregations on the bucket key never shuffle
  * again. Two tables bucketed the same way (same key, same bucket count)
  * SortMergeJoin with zero exchanges — and zero per-query sorts when
  * bucket-sorted — whatever their size; a groupBy on the bucket key
  * aggregates in one stage. At 100 TB this converts the dominant
  * per-query cost of a fact-fact join into a one-time ingest cost, which
  * is why training-data stores keep their document/embedding tables
  * bucketed by doc id.
  */
object Bucketing {

  /** Write `df` as a managed parquet table bucketed (and bucket-sorted)
    * by `keys` — multi-column keys hash on all of them, e.g. the minhash
    * signature index bucketed by (band, sig). `sortCols` defaults to the
    * keys themselves. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(keys.nonEmpty, "need at least one bucket column")
    val sorted = if (sortCols.isEmpty) keys else sortCols
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(sorted.head, sorted.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Append `df` to an existing bucketed table written by [[writeBucketed]]
    * with the SAME keys/buckets — the cheap half of an ingest loop: each
    * append shuffles only the delta into the existing bucket layout (one
    * file per touched bucket), and every join/aggregation on the bucket key
    * stays exchange-free afterwards. The bucket spec must be re-stated
    * because `saveAsTable(Append)` validates it against the catalog — a
    * mismatched spec is an AnalysisException, not silent corruption. Note
    * bucket-SORT guarantees weaken under append (multiple files per
    * bucket): joins stay exchange-free but may re-sort per query. */
  def appendBucketed(df: DataFrame, table: String, keys: Seq[String],
                     buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(keys.nonEmpty, "need at least one bucket column")
    val sorted = if (sortCols.isEmpty) keys else sortCols
    df.write.mode("append")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(sorted.head, sorted.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Drop a managed table from the catalog AND delete its warehouse
    * directory — the in-memory catalog forgets tables across JVMs but
    * their directories persist, so a later `CREATE` at the same name
    * would fail with LOCATION_ALREADY_EXISTS unless both go. */
  def dropManagedTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val path = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** Sweep a key-scoped store family's superseded entries from the
    * warehouse: every entry whose name starts with `family` and does not
    * contain `key` (a store of another corpus fingerprint) is dropped with
    * [[dropManagedTable]] when the catalog has it, and deleted as a plain
    * path otherwise (a cross-JVM leftover or an exported file). Entries of
    * the current key stay; the store builds that follow a sweep drop their
    * own targets first. */
  def sweepStale(spark: SparkSession, family: String, key: String): Unit = {
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.listStatus(wh).foreach { st =>
      val nm = st.getPath.getName
      if (nm.startsWith(family) && !nm.contains(key)) {
        if (spark.catalog.tableExists(nm)) dropManagedTable(spark, nm)
        else fs.delete(st.getPath, true)
      }
    }
  }

  /** Compact an appended bucketed table back to ONE file per bucket.
    *
    * Every [[appendBucketed]] adds a file set per touched bucket, so a
    * long-running ingest loop degrades its own index reads: N appends →
    * up to N+1 files per bucket, each a separate scan split with its own
    * footer/dictionary overhead, and per-bucket sort guarantees gone.
    * Compaction is the standard answer (every LSM/lakehouse store has
    * one): rewrite the table in its own bucket layout, restoring
    * one-sorted-file-per-bucket reads, and amortize it over many appends.
    *
    * The rewrite is ZERO-shuffle: the scan is forced bucketed
    * (`autoBucketedScan` off — by default Spark logically removes a
    * `repartition(buckets, keys)` as redundant against the table's
    * declared HashPartitioning yet still reads by file splits when no
    * operator "requires" the distribution, which would scatter every
    * bucket across every write task), so each read task holds exactly
    * one bucket's rows end-to-end and emits exactly one file. The
    * explicit repartition stays as a belt-and-braces no-op. `transform`
    * hooks delta-log merges into the same pass (e.g. the span store
    * folds `sum(n)` per window hash — also exchange-free, the data is
    * already bucketed on the group key).
    *
    * Swap is write-aside: write `<table>__compact`, drop the original,
    * `ALTER TABLE RENAME` the new one into place (a catalog update plus
    * a directory move — no second data copy). Readers in THIS session
    * planned against the old table must re-resolve. Crash safety (with a
    * persistent metastore): before the drop both copies exist and a
    * re-run clears the stale temp; after it only the temp holds the
    * data, and a re-run detects the missing original and finishes the
    * rename instead of rewriting. */
  def compactTable(spark: SparkSession, table: String, keys: Seq[String],
                   buckets: Int, sortCols: Seq[String] = Nil,
                   transform: DataFrame => DataFrame = identity): Unit = {
    require(keys.nonEmpty, "need at least one bucket column")
    val tmp = s"${table}__compact"
    if (!spark.catalog.tableExists(table)) {
      require(spark.catalog.tableExists(tmp),
        s"neither $table nor $tmp exists — nothing to compact or recover")
      spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
      return
    }
    dropManagedTable(spark, tmp)
    val autoScanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAutoScan = spark.conf.get(autoScanKey)
    spark.conf.set(autoScanKey, "false")
    try writeBucketed(
      transform(spark.table(table)).repartition(buckets, keys.map(col): _*),
      tmp, keys, buckets, sortCols)
    finally spark.conf.set(autoScanKey, prevAutoScan)
    dropManagedTable(spark, table)
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
  }

  /** Z-order (Morton) key: interleave the low `bits` bits of each column
    * so that sorting by the single key clusters rows close in EVERY
    * dimension. Built from shift/and/or expressions only — codegen'd, no
    * UDF. Columns must be non-negative integers (pre-scale skewed domains
    * first); `bits × cols.size` must fit in a long. */
  def zorderKey(cols: Seq[Column], bits: Int = 16): Column = {
    val n = cols.size
    require(n >= 2, "z-order needs at least two dimensions")
    require(bits * n <= 63, s"bits ($bits) x dims ($n) must fit in a long")
    val masked = cols.map(_.cast("long").bitwiseAND(lit((1L << bits) - 1)))
    val terms = for {
      b <- 0 until bits
      (c, j) <- masked.zipWithIndex
    } yield shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * n + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** Data layout for multi-column scan pruning: range-partition and sort by
    * the z-order key, so every output file covers a small hyper-rectangle
    * of the key space and parquet min/max statistics prune files for
    * point/range predicates on ANY of the z-columns — not just the leading
    * sort column, which is all a plain sort can serve. The one-time cost is
    * a single range shuffle at ingest; at 100 TB this is the difference
    * between a selective query reading a handful of files and scanning the
    * corpus. */
  def writeZOrdered(df: DataFrame, path: String, zcols: Seq[Column],
                    numFiles: Int, bits: Int = 16): Unit =
    df.withColumn("__z", zorderKey(zcols, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
}
