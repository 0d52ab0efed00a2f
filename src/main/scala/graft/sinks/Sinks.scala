package graft.sinks

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Sink descriptors (SURVEY §2.1 S6-S12). Declarative: mode + layout;
  * partitioning comes from metadata (`TableDef.partitionKeys`) — the
  * reference reserved `partition_on` fields but never wired them
  * (reference: commons/dictionary_check.py:11,15; SURVEY §4).
  */
sealed trait Sink {
  def write(df: DataFrame): Unit
}

/** Parquet sink. `dynamicOverwrite` reproduces the reference's
  * partitionOverwriteMode=dynamic conf (reference:
  * .../dl_ct_gosales_sales_fact_01.py:107). At 100 TB the partition
  * columns are what makes incremental rebuilds and partition pruning
  * possible — always partition large facts by a low-cardinality key
  * (e.g. date).
  */
final case class ParquetSink(
    path: String,
    mode: String = "overwrite", // overwrite | append
    partitionBy: Seq[String] = Nil,
    dynamicOverwrite: Boolean = true,
    sortBy: Seq[String] = Nil)
    extends Sink {
  def write(df: DataFrame): Unit = {
    // sorted layout: range-partition + sort within files so parquet
    // row-group min/max stats give real data skipping on sortBy columns
    // (the poor man's clustering — at 100 TB this is what makes
    // point/range predicates on non-partition columns cheap).
    val laid =
      if (sortBy.nonEmpty) {
        val cols = sortBy.map(org.apache.spark.sql.functions.col)
        df.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*)
      } else df
    // per-write option (not session conf): mutating the session-wide
    // partitionOverwriteMode would leak dynamic mode into later writes
    // that expect a full static overwrite
    val w = laid.write.mode(mode)
      .option("partitionOverwriteMode",
        if (dynamicOverwrite) "dynamic" else "static")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** The rows a `spark.read.parquet(path).count()` returns, summed from
    * the row groups of every data file's footer on the driver: one
    * recursive listing under Spark's hidden-name rule
    * ([[FsListing.listDataFiles]]) and one footer read per file, no
    * Spark job. A re-read count of the written table pays a schema
    * inference job and two counting jobs.
    */
  def rowCount(spark: SparkSession): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val files = FsListing.listDataFiles(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    org.apache.spark.sql.graftbridge.Bridge.readFooters(spark, files)
      .map(_.getBlocks.asScala.map(_.getRowCount).sum).sum
  }
}

object ParquetSink {
  /** Metadata-driven sink: partition columns come from the declared
    * schema's `isPartitionKey` flags — the wiring for the
    * `partition_on`/`partition_column` fields the reference reserves in
    * every table dict but never reads (reference:
    * commons/dictionary_check.py:11,15). Writes land as
    * `path/key=value/` directories, so any later scan filtering on a
    * partition key prunes at the FILE LISTING level (PartitionFilters
    * in the scan node) — at 100 TB this, not row-group skipping, is
    * what turns an incremental read from a full-table scan into a
    * touch of one partition.
    */
  def forTable(
      tdef: graft.meta.TableDef,
      path: String,
      mode: String = "overwrite"): ParquetSink =
    ParquetSink(path, mode = mode, partitionBy = tdef.partitionKeys)
}

/** Header CSV sink (reference: jobs/raw/source-to-gcs.py:102-110 wrote
  * rows as comma-joined strings by hand; Spark's writer replaces it).
  */
final case class CsvSink(path: String, mode: String = "overwrite")
    extends Sink {
  def write(df: DataFrame): Unit =
    df.write.mode(mode).option("header", "true").csv(path)
}

/** JDBC sink for control-plane records (reference:
  * commons/utilities.py:285-327 runMySQLQuery / operational-log INSERT).
  */
final case class JdbcSink(
    url: String,
    table: String,
    properties: Map[String, String] = Map.empty,
    mode: String = "append")
    extends Sink {
  def write(df: DataFrame): Unit = {
    var w = df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
    properties.foreach { case (k, v) => w = w.option(k, v) }
    w.mode(mode).save()
  }
}
