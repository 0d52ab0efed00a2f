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
    * (same `ParquetWriteSupport`, same session codec/config), and the
    * name has the shape Spark's writer gives a task's first file
    * (`part-00000-<uuid>.c000.snappy.parquet`), so a bucket tag lands
    * where it lands on a Spark-written file. Used for datasets of
    * O(commit) rows (cow manifests, driver-resident data batches): a
    * 10-row write must not pay a distributed job's scheduling + shuffle
    * overhead per commit — the same reason Delta writes its commit log
    * driver-side. [[writeParquetDirDriverSide]] owns the directory.
    */
  private def writeParquetDriverSide(
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
    val file = s"$dir/part-00000-${java.util.UUID.randomUUID()}.c000" +
      factory.getFileExtension(attempt)
    val writer = factory.newInstance(file, schema, attempt)
    try rows.foreach(writer.write) finally writer.close()
  }

  /** Replace the directory `dir` whole with one parquet file per entry
    * of `files`, written DRIVER-SIDE by [[writeParquetDriverSide]]: the
    * directory is deleted (a no-op for a fresh one; the file creates
    * make the directories), each `(subDir, rows)` lands in `dir/subDir`
    * (`""` for `dir` itself), and `_SUCCESS` is created LAST, so the
    * marker stays the commit point exactly as with the job-based write.
    * A failure part-way leaves a directory without the marker, as a
    * failed Spark write does.
    */
  def writeParquetDirDriverSide(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      schema: org.apache.spark.sql.types.StructType,
      files: Iterator[(String, Iterator[org.apache.spark.sql.catalyst.InternalRow])])
      : Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    files.foreach { case (sub, rows) =>
      writeParquetDriverSide(spark, if (sub.isEmpty) dir else s"$dir/$sub",
        schema, rows)
    }
    fs.create(new org.apache.hadoop.fs.Path(p, "_SUCCESS"), true).close()
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

  /** The schema `spark.read.parquet(path)` infers, read on the DRIVER
    * from one footer: no Spark job, unlike inference, whose
    * `mergeSchemasInParallel` launches one even for one file. The file
    * is chosen as `ParquetUtils.splitFiles` chooses it, from the file
    * index's listing ([[graft.sinks.FsListing.leafFiles]]): a
    * `_common_metadata` summary, else a `_metadata` summary, else the
    * path-sorted first data file. Its schema is the footer's Spark
    * schema key when present, else the parquet schema converted by
    * Spark's own `ParquetFileFormat.readSchemaFromFooter` under the
    * converter inference builds from the session conf (`nanosAsLong`
    * included), made nullable as the file source makes it. Partition
    * columns are not in a footer: a read given this schema infers them
    * from the directory names as before. A session that merges parquet
    * schemas keeps Spark's inference, which reads every footer. None
    * when the path is absent or holds no data file; a file that is not
    * parquet throws.
    */
  def footerSchema(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[org.apache.spark.sql.types.StructType] = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val sqlConf = cs.sessionState.conf
    val conf = cs.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val leaves = graft.sinks.FsListing.leafFiles(p.getFileSystem(conf), p)
      .sortBy(_.getPath.toString)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    val chosen = named("_common_metadata").orElse(named("_metadata"))
      .orElse(leaves.headOption)
    chosen.map { f =>
      if (new org.apache.spark.sql.execution.datasources.parquet
          .ParquetOptions(Map.empty[String, String], sqlConf).mergeSchema)
        spark.read.parquet(path).schema
      else {
        val footer = org.apache.spark.sql.execution.datasources.parquet
          .ParquetFooterReader.readFooter(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf),
            org.apache.parquet.format.converter.ParquetMetadataConverter
              .SKIP_ROW_GROUPS)
        val converter = new org.apache.spark.sql.execution.datasources
          .parquet.ParquetToSparkSchemaConverter(
            assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
            nanosAsLong = sqlConf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation =
              sqlConf.parquetReaderRespectUnknownTypeAnnotation)
        org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
          .readSchemaFromFooter(
            new org.apache.parquet.hadoop.Footer(f.getPath, footer), converter)
          .asNullable
      }
    }
  }

  /** The Spark schema key of an already-read footer; None for foreign
    * parquet.
    */
  def sparkSchemaOf(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : Option[org.apache.spark.sql.types.StructType] =
    Option(footer.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .flatMap(json => scala.util.Try(
        org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption)

  /** The full parquet footers (row groups and their column-chunk
    * statistics included) of `files`, read on the DRIVER with no Spark
    * job. Each read starts from the listed `FileStatus`, so it costs
    * one open and no status probe. Up to 8 footers are read at once on
    * Spark's own `ThreadUtils.parmap` (`private[spark]`), the pool
    * `ParquetFileFormat.readParquetFootersInParallel` uses; a single
    * file is read on the calling thread.
    */
  def readFooters(
      spark: org.apache.spark.sql.SparkSession,
      files: Seq[org.apache.hadoop.fs.FileStatus])
      : Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata] = {
    val conf = spark.asInstanceOf[classic.SparkSession]
      .sessionState.newHadoopConf()
    def read(f: org.apache.hadoop.fs.FileStatus) =
      org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
        .readFooter(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf),
          org.apache.parquet.format.converter.ParquetMetadataConverter
            .NO_FILTER)
    if (files.size <= 1) files.map(read)
    else org.apache.spark.util.ThreadUtils.parmap(
      files, "graft-footers", 8)(read)
  }

  /** The read-side calendar rebase of a Spark-written parquet file's
    * DATE days and TIMESTAMP micros, decided from its footer exactly as
    * `ParquetFileFormat`'s reader decides it: identity for files written
    * in the default CORRECTED mode, Julian → Gregorian for files whose
    * footer records a LEGACY write.
    */
  def dateTimeRebase(
      spark: org.apache.spark.sql.SparkSession,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : (Int => Int, Long => Long) = {
    val kv = footer.getFileMetaData.getKeyValueMetaData
    val mode = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetOptions(Map.empty[String, String],
        spark.asInstanceOf[classic.SparkSession].sessionState.conf)
      .datetimeRebaseModeInRead
    val utils = org.apache.spark.sql.execution.datasources.DataSourceUtils
    val spec = utils.datetimeRebaseSpec(kv.get, mode)
    (utils.createDateRebaseFuncInRead(spec.mode, "Parquet"),
      utils.createTimestampRebaseFuncInRead(spec, "Parquet"))
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
    * write. Rows are copied out of the reader's reused buffers before
    * materializing.
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
