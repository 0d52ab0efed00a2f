package graft.sinks

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the operational gap every long-running
  * incremental pipeline hits: streaming/micro-batch appends and
  * per-batch dynamic-partition overwrites (reference:
  * dl_ct_gosales_sales_fact_01.py:107) accumulate thousands of tiny
  * parquet files per partition, and at 100 TB the driver-side file
  * listing plus per-file open overhead — not the bytes — becomes the
  * scan bottleneck. Compaction bin-packs each partition back to
  * ~`targetFileBytes` files while preserving the partition directory
  * layout, so every downstream query keeps its partition pruning.
  *
  * Shape: one shuffle of the table, keyed by (partition columns, bin)
  * where each partition directory gets `ceil(bytes / target)` bins —
  * a SKEWED partition therefore spreads over multiple write tasks
  * instead of serializing through one (the naive
  * `repartition(partitionCols)` recipe's failure mode), and a tiny
  * partition collapses to a single file. The rewrite lands in a
  * staging directory and swaps in via two renames, so a crash leaves
  * either the old table or the old table under `<path>__old` — never
  * a half-compacted mix.
  */
object Compaction {

  final case class CompactStats(
      partitionDirs: Int,
      filesBefore: Int,
      filesAfter: Int,
      bytesBefore: Long)

  private def listDataFiles(
      spark: SparkSession, root: String): Seq[(String, FileStatus)] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(dir: Path, rel: String): Seq[(String, FileStatus)] =
      fs.listStatus(dir).toSeq.flatMap {
        case d if d.isDirectory =>
          val name = d.getPath.getName
          walk(d.getPath, if (rel.isEmpty) name else s"$rel/$name")
        case f if !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith(".") => Seq(rel -> f)
        case _ => Nil
      }
    walk(rootPath, "")
  }

  /** Recover from a crash inside [[compact]]'s rename window: if the
    * table root is GONE but `<path>__old` exists, the crash happened
    * between rename(root→old) and rename(staging→root) — restore the
    * original by renaming it back (the staged rewrite is then re-run
    * from scratch on the next compact; it was never visible). A no-op
    * in every other state. Returns true if a repair was performed.
    */
  def repairAfterCrash(spark: SparkSession, path: String): Boolean = {
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val old = new Path(path.stripSuffix("/") + "__old")
    if (!fs.exists(rootPath) && fs.exists(old)) {
      require(fs.rename(old, rootPath),
        s"crash repair failed: could not restore $old to $path")
      true
    } else false
  }

  /** Compact the parquet table at `path` to ~`targetFileBytes` files.
    *
    * Partition columns are discovered from the `k=v` directory layout;
    * an unpartitioned table bin-packs globally. Row content is
    * preserved exactly (it is a pure rewrite); file ORDER within the
    * table is not (parquet scans never promise one).
    *
    * @return before/after stats (files counted from the directory
    *         listings, not estimated)
    */
  def compact(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): CompactStats = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    repairAfterCrash(spark, path)
    val files = listDataFiles(spark, path)
    require(files.nonEmpty, s"no data files under $path")
    val partCols = files.head._1.split("/").filter(_.contains("="))
      .map(_.takeWhile(_ != '=')).toSeq
    val bytesBefore = files.map(_._2.getLen).sum

    val df = spark.read.parquet(path)
    // staging lives OUTSIDE the table root (a reader listing the table
    // mid-compact must not see half-written files)
    val stagingPath = s"${path.stripSuffix("/")}__staging"

    val rowsBefore = df.count()
    if (partCols.isEmpty) {
      val nBins = math.max(1L, (bytesBefore + targetFileBytes - 1) / targetFileBytes).toInt
      df.repartition(nBins).write.mode("overwrite").parquet(stagingPath)
    } else {
      // per-partition bin counts from the DATA, not from reconstructed
      // directory strings: a NULL partition value lands under
      // __HIVE_DEFAULT_PARTITION__ and escaped chars (':' → '%3A')
      // never match a rebuilt `k=v` string, so a listing-string join
      // would silently DROP those rows from the rewrite. Row counts per
      // partition value (one pass) × the table's bytes-per-row give the
      // same bin sizing, keyed by the actual typed values.
      val totalRows0 = math.max(rowsBefore, 1L)
      val bytesPerRow = bytesBefore.toDouble / totalRows0
      // bin keys renamed __bk_*: binsDf derives from df, so joining on
      // same-name columns would trip the ambiguous-self-join check
      val binsDf = df.groupBy(partCols.map(col): _*)
        .agg(count(lit(1)).as("__prows"))
        .select(partCols.map(c => col(c).as(s"__bk_$c")) :+
          greatest(lit(1L),
            ceil(col("__prows") * bytesPerRow / targetFileBytes).cast("long"))
            .as("__nbins"): _*)
      // null-safe join: NULL partition values must match their bin row
      val joinCond = partCols.map(c => col(c) <=> col(s"__bk_$c")).reduce(_ && _)
      val dataCols = df.columns.filterNot(partCols.contains)
      // row→bin spread: hash the data columns PLUS a per-row position
      // component — the position term keeps byte-identical duplicate
      // rows (and the degenerate every-column-is-a-partition-column
      // table, where dataCols is empty and a bare xxhash64() would fail
      // analysis) spreading across bins instead of collapsing into one
      // writer. The position is (file path, row index in file) from the
      // scan's `_metadata` struct — a pure function of the input FILES,
      // so a retried or recomputed task routes every row to the same
      // bin (monotonically_increasing_id would not: it shifts with
      // partition re-splits, the SPARK-23207 class of shuffle-retry row
      // loss/duplication). Row CONTENT routing stays exact via the
      // partition-column keys.
      val pos = xxhash64(col("_metadata.file_path"),
        col("_metadata.row_index"))
      val binned = df.withColumn("__pos", pos)
        .join(broadcast(binsDf), joinCond)
        .drop(partCols.map(c => s"__bk_$c"): _*)
        .withColumn("__bin",
          pmod(xxhash64(dataCols.map(col) :+ col("__pos"): _*),
            col("__nbins")))
        .drop("__pos")
      // EXPLICIT partition count: repartition-by-column without one is
      // subject to AQE coalescing, which would pack several bins into
      // one write task and defeat the bin targets. Range partitioning
      // (not hash) maps the distinct (partition, bin) groups onto tasks
      // nearly 1:1 — hash would birthday-collide bins together.
      val totalBins = math.min(
        math.max(1L, (bytesBefore + targetFileBytes - 1) / targetFileBytes),
        1L << 20).toInt
      binned
        .repartitionByRange(totalBins, (partCols :+ "__bin").map(col): _*)
        .drop("__nbins", "__bin")
        .write.mode("overwrite").partitionBy(partCols: _*).parquet(stagingPath)
    }

    // fail LOUD before the swap if the rewrite lost or invented rows —
    // cheap insurance (a parquet count is metadata-fast) against any
    // silent-drop bug ever reaching the destructive rename below
    val rowsStaged = spark.read.parquet(stagingPath).count()
    require(rowsStaged == rowsBefore,
      s"compaction row count changed ($rowsBefore -> $rowsStaged); " +
        s"aborting before swap, original untouched, staging at $stagingPath")

    // swap: old table aside, staging in, old dropped. The instant
    // BETWEEN the two renames is the protocol's one exposed window: the
    // table path does not exist, so a reader racing the swap errors
    // (retryable — the data was never lost), and a crash inside it
    // leaves the table parked at `<path>__old`. [[repairAfterCrash]]
    // (run automatically at the top of [[compact]], or standalone at
    // job start) restores that parked state; the windows on either
    // side are safe — before: original intact, after: compacted table
    // live and `__old` is garbage.
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val old = new Path(path.stripSuffix("/") + "__old")
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(rootPath, old), s"could not move $path aside")
    require(fs.rename(new Path(stagingPath), rootPath),
      s"could not move staging into place; original preserved at $old")
    fs.delete(old, true)

    val after = listDataFiles(spark, path)
    CompactStats(
      partitionDirs = after.map(_._1).distinct.size,
      filesBefore = files.size,
      filesAfter = after.size,
      bytesBefore = bytesBefore)
  }

  /** Compact a BUCKETED catalog table, preserving its bucket spec: a
    * bucketed table's layout contract ("bucket j of every file batch
    * holds hash(keys)%n == j") is what lets joins/aggregations on the
    * bucket keys skip their exchange ([[graft.sinks]] bucketed-write
    * path, `BucketedJoinSpec`) — so compaction must rewrite THROUGH the
    * same bucketBy, not a plain parquet copy. Uses a staging table +
    * two ALTER RENAMEs, same crash shape as [[compact]].
    */
  def compactBucketedTable(spark: SparkSession, table: String): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(
      throw new IllegalArgumentException(s"$table has no bucket spec"))
    val staging = s"${table}__compact_staging"
    val old = s"${table}__compact_old"
    val w = spark.table(table)
      // one file per bucket is the compaction target: coalesce the
      // row spread so each bucket's writer sees all its rows at once
      .repartition(spec.numBuckets, spec.bucketColumnNames.map(col): _*)
      .write.mode("overwrite")
      .bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
        spec.bucketColumnNames.tail: _*)
    (if (spec.sortColumnNames.nonEmpty)
       w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
     else w).saveAsTable(staging)
    spark.sql(s"ALTER TABLE $table RENAME TO $old")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    spark.sql(s"DROP TABLE $old")
  }
}
