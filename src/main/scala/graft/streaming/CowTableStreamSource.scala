package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition,
  PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream,
  Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles,
  SupportsAdmissionControl}
import org.apache.spark.sql.types.{StructType, StructField}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sinks.{CowFile, CowTable}

/** The TABLE ITSELF as a named streaming source —
  * `spark.readStream.table("cow.<ns>.<t>")` (Delta's table-stream):
  * the first micro-batch serves the table's CURRENT snapshot whole,
  * every later micro-batch serves exactly the data files new commits
  * ADDED. Rows carry the table's own schema (no metadata columns), so
  * a table-stream chains straight into the same transforms a batch
  * read feeds. `option("maxCommitsPerTrigger", n)` bounds catch-up to
  * n commits per micro-batch; Trigger.AvailableNow / Trigger.Once
  * always serve to the head they captured (the ReadLimit contract).
  *
  * APPEND-ONLY CONTRACT (Delta's rule): an incremental batch is sound
  * only when the commit purely added files. A commit that REMOVED or
  * REWROTE data files (COW update/delete, compaction, Z-order), or
  * that added deletion-vector debt (MOR delete/update),
  * changed rows the stream already emitted — serving its added files
  * would double-count and its removals are unrepresentable in an
  * append stream. Such commits FAIL the batch loudly; pass
  * `option("skipChangeCommits", "true")` to skip them wholesale
  * (Delta's option of the same name — downstream then sees inserts
  * only). Use the `.changes` feed when you need the full signed
  * changelog.
  *
  * GENESIS: the snapshot served first is the head at stream start, or
  * `option("startingSnapshot", id)`. It must carry no outstanding
  * deletion-vector debt (raw file serving would resurrect deleted rows)
  * — `OPTIMIZE` folds the debt first; increments then stay clean by
  * the append-only contract. Files are SELF-CONTAINED (partition
  * columns live in the files, not only the directory names), so the
  * reader needs no partition-value reconstruction.
  *
  * RETENTION: offsets are commit ids; a resume behind the vacuum
  * high-water mark fails loudly (same contract as the change feed),
  * and each increment diffs manifest(id) against its committed
  * predecessor, so both must still be retained.
  */
final class CowTableStream(spark: SparkSession, root: String,
    tableSchema: StructType, colMap: Map[String, String],
    startingSnapshot: Option[Long],
    skipChangeCommits: Boolean, maxCommitsPerTrigger: Option[Int])
  extends MicroBatchStream with SupportsAdmissionControl {

  /** Manifest paths are stored as decoded LITERAL strings; the
    * multi-arg URI constructor escapes them exactly once (space→%20),
    * matching the form `listStatus` paths arrive in — the established
    * two-layer-escaping rule of the cow format.
    */
  private def absPath(rel: String): String =
    new org.apache.hadoop.fs.Path(
      new java.net.URI(null, null,
        graft.sinks.CowTable.entryPath(root, rel), null)).toString

  // the snapshot served WHOLE as the first batch; resolved to a
  // COMMITTED id (highest committed <= the requested startingSnapshot
  // — the readAt time-travel rule). LAZY: only a FRESH stream calls
  // initialOffset — a checkpointed restart resumes from its offset,
  // and eagerly re-resolving here would fail restarts of long-lived
  // streams whose (long-served) startingSnapshot has been vacuumed
  private lazy val genesis: Long = {
    val ids = CowTable.committedIds(spark, root)
    val g = startingSnapshot match {
      case Some(want) => ids.filter(_ <= want).lastOption
      case None => ids.lastOption
    }
    g.getOrElse(throw new IllegalStateException(
      s"no committed snapshot at $root" + startingSnapshot.map(w =>
        s" at or before startingSnapshot $w").getOrElse("") +
        " — start the stream after the initial commit"))
  }

  override def initialOffset(): Offset =
    CowTableOffset(genesis - 1L, snapshotDone = false)

  // ADMISSION CONTROL. The ReadLimit contract must be honored exactly:
  // Trigger.AvailableNow captures latestOffset(initialOffset,
  // allAvailable) ONCE and serves to it, and Trigger.Once passes
  // allAvailable — a source that under-delivers against allAvailable
  // silently DROPS the tail of the stream on those triggers. So:
  // allAvailable → the committed head (planInputPartitions handles
  // multi-commit ranges; the snapshot still serves inside the first
  // one); option("maxCommitsPerTrigger", n) → the default trigger
  // advances at most n commits per micro-batch (bounded catch-up — a
  // day of commits is a day of batches), surfaced as maxFiles(n) since
  // commits are the source's file-group granularity; a maxFiles limit
  // from elsewhere is honored conservatively the same way.
  override def getDefaultReadLimit: ReadLimit =
    maxCommitsPerTrigger.map(ReadLimit.maxFiles)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val st = start.asInstanceOf[CowTableOffset]
    val after = CowTable.committedIds(spark, root).filter(_ > st.id)
    if (after.isEmpty) st
    else limit match {
      // the flag flips after ANY served batch — it rides in the
      // CHECKPOINTED offset, so a restarted stream never re-serves
      // the snapshot under a newer head (isStartingVersion discipline)
      case _: ReadAllAvailable =>
        CowTableOffset(after.last, snapshotDone = true)
      case mf: ReadMaxFiles =>
        CowTableOffset(after.take(math.max(1, mf.maxFiles())).last,
          snapshotDone = true)
      case _ => CowTableOffset(after.head, snapshotDone = true)
    }
  }

  override def reportLatestOffset(): Offset =
    CowTableOffset(CowTable.committedIds(spark, root).lastOption
      .getOrElse(0L), snapshotDone = true)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source — latestOffset(start, limit)")

  override def deserializeOffset(json: String): Offset =
    CowTableOffset.fromJson(json)

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val st = start.asInstanceOf[CowTableOffset]
    val lo = st.id
    val hi = end.asInstanceOf[CowTableOffset].id
    if (hi <= lo) return Array.empty
    val committed = CowTable.committedIds(spark, root)
    // resume behind vacuumed history: provably missed commits
    if (committed.headOption.exists(lowest => lo < lowest - 1L) &&
        st.snapshotDone &&
        CowTable.vacuumHwm(spark, root).exists(_ > lo))
      throw new IllegalStateException(
        s"table stream at $root lags vacuumed history: batch start " +
          s"$lo is behind vacuumed commits — rebuild from a fresh " +
          "stream, raise the writer's keep, or register a frontier")
    // the first id of a not-yet-snapshotted stream serves its whole
    // manifest; everything after is a diff against its predecessor
    val snapshotId =
      if (st.snapshotDone) None
      else committed.find(i => i > lo && i <= hi).orElse(
        // a replayed first batch whose snapshot commit was vacuumed
        // between the offset-WAL write and processing: an EMPTY batch
        // here would flip snapshotDone and silently drop the snapshot
        // rows from this checkpoint forever — refuse instead
        throw new IllegalStateException(
          s"table stream at $root: the initial snapshot commit " +
            s"(in range ($lo, $hi]) was vacuumed before this batch " +
            "was served — restart from a fresh checkpoint"))
    committed.filter(i => i > lo && i <= hi).flatMap { id =>
      if (snapshotId.contains(id)) {
        val m = CowTable.manifest(spark, root, id)
        require(m.dvs.isEmpty,
          s"table stream at $root: snapshot $id carries outstanding " +
            "merge-on-read delete debt — raw file serving would " +
            "resurrect deleted rows; run OPTIMIZE to fold it, then " +
            "start the stream")
        m.files.map(f => CowFeedPartition(id, absPath(f.path), f.bytes))
      } else {
        val prevId = committed.filter(_ < id).lastOption.getOrElse(
          throw new IllegalStateException(
            s"table stream at $root: commit $id has no retained " +
              "predecessor to diff against — vacuumed mid-stream"))
        val m = CowTable.manifest(spark, root, id)
        val prev = CowTable.manifest(spark, root, prevId)
        val prevPaths = prev.files.map(_.path).toSet
        val added = m.files.filterNot(f => prevPaths.contains(f.path))
        val removed = prevPaths -- m.files.map(_.path)
        val debtAdded =
          m.dvs.map(_.path).toSet -- prev.dvs.map(_.path).toSet
        if (removed.nonEmpty || debtAdded.nonEmpty) {
          if (skipChangeCommits) Nil
          else throw new IllegalStateException(
            s"table stream at $root: commit $id changed existing rows " +
              s"(${removed.size} file(s) removed/rewritten, " +
              s"${debtAdded.size} delete-debt sidecar(s) added) — an " +
              "append-only stream cannot represent it. Read the " +
              "signed changelog instead (the .changes table), or " +
              "skip change commits wholesale with " +
              "option(\"skipChangeCommits\", \"true\")")
        } else added.map(f =>
          CowFeedPartition(id, absPath(f.path), f.bytes))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CowFeedReaderFactory(
      org.apache.spark.sql.graftbridge.Bridge.parquetRowReader(
        // data files store PHYSICAL column names; the reader requests
        // them and yields POSITIONAL rows under the declared logical
        // schema (column mapping — physical names are rename-stable,
        // so one construction-time map serves every epoch's files)
        spark, StructType(tableSchema.fields.map(f =>
          f.copy(name = colMap.getOrElse(f.name, f.name)))),
        StructType(Array.empty[StructField]),
        Map.empty),
      partValues = false)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** Offset of the table stream: the last fully-served commit id plus
  * whether the initial snapshot has been served — checkpointed, so a
  * restart can never re-serve the snapshot under a newer head.
  */
final case class CowTableOffset(id: Long, snapshotDone: Boolean)
  extends Offset {
  override def json(): String = s"$id:$snapshotDone"
}

object CowTableOffset {
  def fromJson(j: String): CowTableOffset = {
    val Array(i, f) = j.split(":", 2)
    CowTableOffset(i.toLong, f.toBoolean)
  }
}

final class CowTableScanBuilder(root: String, schema: StructType,
    colMap: Map[String, String],
    options: CaseInsensitiveStringMap) extends ScanBuilder {
  override def build(): Scan =
    new CowTableScan(root, schema, colMap, options)
}

/** Streaming-only scan: BATCH reads of named cow tables resolve
  * through [[graft.plans.CowCatalogRule]] onto the planner-integrated
  * `CowFileIndex` path (pruning, skipping, bucketing) long before scan
  * planning, so `toBatch` never runs in a graft session.
  */
final class CowTableScan(root: String, tableSchema: StructType,
    colMap: Map[String, String],
    options: CaseInsensitiveStringMap) extends Scan {

  override def readSchema(): StructType = tableSchema

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new CowTableStream(SparkSession.active, root, tableSchema, colMap,
      Option(options.get("startingSnapshot")).map(_.toLong),
      Option(options.get("skipChangeCommits")).exists(_.toBoolean),
      Option(options.get("maxCommitsPerTrigger")).map(_.toInt))

  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    throw new UnsupportedOperationException(
      s"batch reads of cow tables resolve through the analyzer rule " +
        s"(GraftExtensions) — this scan serves streaming only ($root)")

  override def description(): String = s"cow table stream at $root"
}
