package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column ↔ Expression converters.
  * Spark 4 hides the classic `Column(expr)` constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils`; living under the
  * `org.apache.spark.sql` package grants access. This is the documented
  * extension-point pattern for libraries shipping custom Catalyst
  * expressions (no reflection, no copied Spark code).
  */
object Bridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `Dataset.ofRows` (private[sql]) — a DataFrame over an analyzed
    * logical plan; used by the cow catalog's dynamic-overwrite command
    * to execute its aligned query child, the same way Spark's own
    * `InsertIntoDataSourceCommand.run` does.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-wrap a V1 streaming sink's `addBatch` DataFrame for MULTI-action
    * use — exactly what Spark's own `ForeachBatchSink.addBatch` does
    * before handing the batch to user code: the incoming frame is
    * backed by the micro-batch's `IncrementalExecution`, which is
    * single-shot; pinning its `toRdd` under a fresh `LogicalRDD` makes
    * every downstream action (emptiness probe, constraint scan, write,
    * stats) re-read the SAME computed slice instead of re-triggering
    * the incremental plan.
    */
  def stableBatch(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    classic.Dataset.ofRows(cds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        cds.queryExecution.toRdd, cds, isStreaming = false))
  }

  /** Drain the async listener bus so listener-derived counters (job
    * counts in the PlanDump measurement harness) are exact at the
    * moment of reading — without this, JobStart events still queued
    * when an action returns get attributed to the wrong phase.
    * `listenerBus` is `private[spark]`; this package grants access.
    */
  def waitListenerBusEmpty(
      spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Spark's OWN parquet writer, DRIVER-SIDE: write `rows` as ONE
    * parquet file named like a Spark task output under `dir`, with no
    * Spark job. Built from `ParquetFileFormat.prepareWrite` — the exact
    * machinery `FileFormatWriter` hands its tasks — so the bytes are
    * byte-compatible with a `df.write.parquet` of the same schema
    * (same `ParquetWriteSupport`, same session codec/config). Used for
    * control-plane datasets of O(commit) rows (cow manifests): a
    * 10-row manifest write must not pay a distributed job's scheduling
    * + shuffle overhead per commit — the same reason Delta writes its
    * commit log driver-side. The caller owns directory semantics
    * (pre-clean, `_SUCCESS` marker AFTER this returns — the marker
    * stays the commit point exactly as with the job-based write).
    */
  def writeParquetDriverSide(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      schema: org.apache.spark.sql.types.StructType,
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow]): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val conf = cs.sessionState.newHadoopConf()
    val job = org.apache.hadoop.mapreduce.Job.getInstance(conf)
    val factory = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat()
      .prepareWrite(cs, job, Map.empty, schema)
    val attempt = new org.apache.hadoop.mapreduce.task
      .TaskAttemptContextImpl(job.getConfiguration,
        new org.apache.hadoop.mapreduce.TaskAttemptID(
          new org.apache.hadoop.mapreduce.TaskID(
            new org.apache.hadoop.mapreduce.JobID("graft-driver", 0),
            org.apache.hadoop.mapreduce.TaskType.MAP, 0), 0))
    val file = s"$dir/part-00000-${java.util.UUID.randomUUID()}-c000" +
      factory.getFileExtension(attempt)
    val writer = factory.newInstance(file, schema, attempt)
    try rows.foreach(writer.write) finally writer.close()
  }

  /** Spark's OWN parquet row reader as a serializable function over
    * `(file path, file length, partition values)` — built from
    * `ParquetFileFormat.buildReaderWithPartitionValues` (private[sql];
    * the exact machinery `FileSourceScanExec` drives), which handles
    * schema coercion, predicate-free projection and partition-value
    * appending. Used by the cow change-feed micro-batch source so its
    * `PartitionReader`s read sidecar parquet with the stock reader
    * instead of a hand-rolled one. The vectorized reader may hand back
    * `ColumnarBatch`es disguised as rows (the documented wart of this
    * API) — callers flatten them.
    */
  def parquetRowReader(
      spark: org.apache.spark.sql.SparkSession,
      dataSchema: org.apache.spark.sql.types.StructType,
      partitionSchema: org.apache.spark.sql.types.StructType,
      options: Map[String, String])
      : (String, Long, org.apache.spark.sql.catalyst.InternalRow) =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    // rows, never ColumnarBatch: the parquet reader REQUIRES this
    // option and honors false even when its internal path vectorizes
    val opts = options + (org.apache.spark.sql.execution.datasources
      .FileFormat.OPTION_RETURNING_BATCH -> "false")
    val inner = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat()
      .buildReaderWithPartitionValues(
        sparkSession = cs,
        dataSchema = dataSchema,
        partitionSchema = partitionSchema,
        requiredSchema = dataSchema,
        filters = Nil,
        options = opts,
        hadoopConf = cs.sessionState
          .newHadoopConfWithOptions(opts))
    (path: String, length: Long,
        values: org.apache.spark.sql.catalyst.InternalRow) =>
      inner(org.apache.spark.sql.execution.datasources.PartitionedFile(
        partitionValues = values,
        filePath = org.apache.spark.paths.SparkPath
          .fromPathString(path),
        start = 0L,
        length = length))
  }

  /** The Spark schema a parquet file's writer stored in its footer
    * (the `org.apache.spark.sql.parquet.row.metadata` key — the same key
    * `ParquetFileFormat`'s schema inference reads first), read on the
    * DRIVER from the footer alone: no Spark job, unlike
    * `spark.read.parquet(path).schema`, whose `mergeSchemasInParallel`
    * launches one even for one file. None when the footer carries no
    * Spark schema (foreign parquet) — callers fall back to inference,
    * whose parquet-to-Spark type conversion handles that case.
    */
  def footerSchema(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[org.apache.spark.sql.types.StructType] = {
    val conf = spark.asInstanceOf[classic.SparkSession]
      .sessionState.newHadoopConf()
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      conf, new org.apache.hadoop.fs.Path(path),
      org.apache.parquet.format.converter.ParquetMetadataConverter
        .SKIP_ROW_GROUPS)
    Option(footer.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .flatMap(json => scala.util.Try(
        org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption)
  }

  /** Spark's OWN parquet reader, DRIVER-SIDE, over an explicit file
    * list — the READ mirror of [[writeParquetDriverSide]]: take the
    * schema from the first file's [[footerSchema]], drain every row
    * through the same machinery [[parquetRowReader]] wraps, and hand
    * the result back as a DataFrame over a `LocalRelation`. No Spark
    * job is launched by this call, and none by downstream use:
    * Project/Filter/Limit over
    * a LocalRelation fold driver-locally (`ConvertToLocalRelation`),
    * and a bare collect uses `LocalTableScanExec.executeCollect`. For
    * control-plane datasets of O(commit) rows (cow manifests under the
    * size seam) — a 10-row manifest parse must not pay a distributed
    * job's scheduling round-trip, the same argument as the driver-side
    * write. None when the footer carries no Spark schema (not written
    * by Spark — callers fall back to the distributed read, whose
    * schema conversion handles foreign parquet). Rows are copied out
    * of the reader's reused buffers before materializing.
    */
  /** `maxRows` bounds the DECODED row count, not just bytes: a highly
    * compressible manifest (long near-identical paths dictionary/RLE
    * encode extremely well) can sit under a byte seam while decoding
    * to millions of driver-resident rows — exactly the O(table-files)
    * materialization the byte guard exists to prevent. Decoding stops
    * at maxRows + 1 (bounded work) and returns None so the caller
    * falls back to the distributed read (r20 review).
    */
  def readParquetDriverSide(
      spark: org.apache.spark.sql.SparkSession,
      files: Seq[org.apache.hadoop.fs.FileStatus],
      maxRows: Long = Long.MaxValue)
      : Option[org.apache.spark.sql.DataFrame] = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    footerSchema(spark, files.head.getPath.toString)
      .flatMap { schema =>
        val read = parquetRowReader(spark, schema,
          new org.apache.spark.sql.types.StructType(), Map.empty)
        val empty = org.apache.spark.sql.catalyst.InternalRow.empty
        val it = files.iterator.flatMap(s =>
          read(s.getPath.toString, s.getLen, empty).map(_.copy()))
        val buf = Vector.newBuilder[org.apache.spark.sql.catalyst.InternalRow]
        var n = 0L
        var over = false
        while (!over && it.hasNext) {
          if (n >= maxRows) over = true
          else { buf += it.next(); n += 1 }
        }
        if (over) None
        else Some(classic.Dataset.ofRows(cs,
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
            org.apache.spark.sql.catalyst.types.DataTypeUtils
              .toAttributes(schema),
            buf.result())))
      }
  }
}
