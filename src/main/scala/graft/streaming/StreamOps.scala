package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators — the streaming ingest/aggregation
  * extension the reference reserved but never built (its metadata
  * carries incremental-extraction watermark columns, unexercised —
  * reference: commons/utilities.py:162; SURVEY §2.6, §7.2.7).
  *
  * All transforms are plan-only: they bind to either a batch DataFrame
  * or a readStream source unchanged — the same declarative plan serves
  * both, which is exactly how Spark wants incremental pipelines built.
  */
object StreamOps {

  /** Guarded micro-units: NaN/±Inf/overflow-range values become NULL
    * (excluded from SUM) instead of 0-ish garbage — and, under Spark
    * 4's default ANSI mode, instead of a saturated Long.MaxValue that
    * overflows the running SUM and turns one bad event into a
    * checkpoint-replaying poison pill.
    */
  private def microsOrNull(v: org.apache.spark.sql.Column) =
    when(isnan(v) || abs(v) > 9.0e12, lit(null))
      .otherwise(floor(v * 1e6)).cast("long")

  /** Tumbling-window event counts with a lateness watermark. */
  def windowedCounts(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "event_type",
      valueCol: String = "value",
      lateness: String = "10 minutes",
      window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), window_), col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(microsOrNull(col(valueCol))).as("sum_value_u"))
      .select(
        col("window.start").as("win_start"),
        col("window.end").as("win_end"),
        col(keyCol), col("n"), col("sum_value_u"))

  /** Gap-based sessionization via the native session_window — merges
    * events separated by < gap into one session per user.
    */
  def sessionAgg(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "user_id",
      valueCol: String = "value",
      gap: String = "30 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(microsOrNull(col(valueCol))).as("sum_value_u"))
      .select(
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col(keyCol), col("n_events"), col("sum_value_u"))

  /** Streaming exact dedup bounded by the watermark — state is evicted
    * once keys age past the delay, so memory stays bounded at scale.
    */
  def streamingDedup(
      events: DataFrame,
      keys: Seq[String],
      tsCol: String = "ts",
      lateness: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keys)

  // -------------------------------------------------------------------
  // Custom state: running per-user stats via mapGroupsWithState — the
  // KeyValueGroupedDataset escape hatch for semantics session_window
  // can't express.
  // -------------------------------------------------------------------
  final case class UserEvent(user_id: Long, value_u: Long)
  final case class UserStats(user_id: Long, n: Long, sum_value_u: Long)

  /** @param idleTimeout when set (e.g. "1 hour"), per-user state is
    *   EVICTED after that much processing-time inactivity — required
    *   for unbounded key cardinality, where NoTimeout state grows until
    *   the state store OOMs. None keeps state forever (bounded key
    *   spaces / tests).
    */
  def runningUserStats(
      events: Dataset[UserEvent],
      idleTimeout: Option[String] = None): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    val timeoutConf = idleTimeout
      .map(_ => GroupStateTimeout.ProcessingTimeTimeout)
      .getOrElse(GroupStateTimeout.NoTimeout)
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserStats, UserStats](timeoutConf) {
        case (uid, it, state: GroupState[UserStats]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove() // evict idle user
            last
          } else {
            val prev = state.getOption.getOrElse(UserStats(uid, 0L, 0L))
            var n = prev.n
            var s = prev.sum_value_u
            it.foreach { e => n += 1; s += e.value_u }
            val next = UserStats(uid, n, s)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            next
          }
      }
  }

  /** Stream-stream interval join: one output row per (click, purchase)
    * PAIR where the purchase follows the click within `horizon` — a
    * click with k matching purchases emits k rows; an unmatched click
    * emits none (inner join). Both sides watermarked so join state is
    * evicted once the interval can no longer match (bounded memory at
    * any throughput).
    */
  def clickToPurchaseJoin(
      clicks: DataFrame, // user_id, ts, click_value
      purchases: DataFrame, // user_id, ts, purchase_value
      lateness: String = "10 minutes",
      horizonSeconds: Long = 3600): DataFrame = {
    val c = clicks.withWatermark("ts", lateness).as("c")
    val p = purchases.withWatermark("ts", lateness).as("p")
    c.join(p,
      expr(
        s"""c.user_id = p.user_id AND
           |p.ts >= c.ts AND
           |p.ts <= c.ts + INTERVAL $horizonSeconds seconds""".stripMargin))
      .select(col("c.user_id").as("user_id"),
        col("c.ts").as("click_ts"), col("p.ts").as("purchase_ts"),
        col("c.click_value").as("click_value"),
        col("p.purchase_value").as("purchase_value"))
  }

  /** foreachBatch bridge: applies an arbitrary BATCH writer (e.g. a
    * key-map upsert or JDBC merge) to each micro-batch — the standard
    * escape hatch for sinks/logic Structured Streaming lacks natively.
    */
  def foreachBatchSink(
      df: DataFrame,
      checkpoint: String,
      mode: OutputMode = OutputMode.Append)(
      writeBatch: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        writeBatch(batch, id))
      .outputMode(mode) // Update for stateful upserts, Append for facts
      .start()

  /** One micro-batch of the streaming SCD-1 upsert: read the current
    * snapshot, [[graft.operators.Merge.upsert]] the batch in, commit as
    * snapshot `batchId`. Exactly-once under crash-replay: a replayed
    * batch whose snapshot already committed is SKIPPED (the merge is
    * deterministic, so the committed snapshot already holds exactly the
    * replay's result), and a half-written snapshot has no `_SUCCESS`
    * and is recomputed — see [[graft.sinks.SnapshotTarget]]'s crash
    * matrix. Exposed separately from [[upsertSink]] so the replay
    * contract is directly testable without a streaming harness.
    */
  def upsertBatch(
      batch: DataFrame,
      batchId: Long,
      targetPath: String,
      keyCols: Seq[String],
      versionCol: Option[String] = None,
      evolveSchema: Boolean = false): Unit = {
    import graft.sinks.SnapshotTarget
    val spark = batch.sparkSession
    // any committed snapshot at-or-past this id ⇒ the batch (or a
    // successor) is already applied — replay must be a no-op
    if (SnapshotTarget.committedIds(spark, targetPath).exists(_ >= batchId))
      return
    // a no-data micro-batch (watermark advance, idle trigger) must not
    // pay a full snapshot rewrite of the target — skip the commit; the
    // replay guard keys off the frontier, not a contiguous id chain
    if (batch.isEmpty) return
    val targetCols = batch.columns.toSeq.filterNot(versionCol.contains)
    val current = SnapshotTarget.read(spark, targetPath)
      .getOrElse(batch.select(targetCols.map(col): _*).limit(0))
    // evolveSchema: a batch carrying NEW columns grows the table schema
    // at this snapshot (old rows read NULL), exactly like a
    // format-native evolving MERGE — snapshots are whole-table rewrites
    // so no old file needs patching
    val merged =
      if (evolveSchema)
        graft.operators.Merge.upsertEvolve(current, batch, keyCols, versionCol)
      else
        graft.operators.Merge.upsert(current, batch, keyCols, versionCol)
    SnapshotTarget.commit(merged, targetPath, batchId)
  }

  /** Streaming SCD-1 upsert sink: every micro-batch merges into the
    * snapshot-versioned parquet target at `targetPath` — the streaming
    * completion of the `merge_column` contract ([[graft.operators
    * .Merge.upsert]]), with exactly-once table state across crashes
    * (crash-replay proof in `StreamingSpec`).
    *
    * `evolveSchema = true` lets a WIDER batch grow the target schema at
    * its snapshot boundary ([[graft.operators.Merge.upsertEvolve]]) —
    * old rows read NULL for the new columns, exactly-once under
    * crash-replay (`StreamingUpsertSpec`). Redeploy recipe for a
    * schema-widening job with a fresh checkpoint: offset the batch ids
    * past `SnapshotTarget.committedIds(...).last` inside a
    * [[foreachBatchSink]] writer — the replay-skip contract keys on the
    * TARGET's monotonic id space, not the checkpoint's.
    */
  def upsertSink(
      updates: DataFrame,
      targetPath: String,
      keyCols: Seq[String],
      checkpoint: String,
      versionCol: Option[String] = None,
      evolveSchema: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(updates, checkpoint) { (batch, id) =>
      upsertBatch(batch, id, targetPath, keyCols, versionCol, evolveSchema)
    }

  /** One micro-batch of the streaming MATERIALIZED-AGGREGATE refresh:
    * merge the batch's mergeable state ([[graft.operators
    * .MaterializedAgg]] — exact decimal sums/min/max, associative) into
    * the snapshot-committed state table. [[upsertBatch]]'s replay
    * contract verbatim: a committed snapshot at-or-past `batchId`
    * means this batch is already folded in, so crash-replay is
    * exactly-once — which is precisely the property an incrementally-
    * maintained aggregate cannot live without (double-folding a batch
    * would silently double its sums; the decimal state makes the
    * correctly-folded result BIT-equal to a from-scratch recompute,
    * spec-proved under a mid-stream crash in StreamingUpsertSpec).
    * Serve the rollup with `MaterializedAgg.finish(read(stateDir))`,
    * or register the finished view for [[graft.plans.MvRewrite]].
    */
  def mvBatch(
      batch: DataFrame,
      batchId: Long,
      stateDir: String,
      keys: Seq[String],
      values: Seq[String]): Unit = {
    import graft.operators.MaterializedAgg
    import graft.sinks.SnapshotTarget
    val spark = batch.sparkSession
    if (SnapshotTarget.committedIds(spark, stateDir).exists(_ >= batchId))
      return
    // a no-data micro-batch (watermark advance, idle trigger) must not
    // pay a full snapshot rewrite of the target — skip the commit; the
    // replay guard keys off the frontier, not a contiguous id chain
    if (batch.isEmpty) return
    val delta = MaterializedAgg.state(batch, keys, values)
    val merged = SnapshotTarget.read(spark, stateDir)
      .map(cur => MaterializedAgg.merge(keys, values, cur, delta))
      .getOrElse(delta)
    SnapshotTarget.commit(merged, stateDir, batchId)
  }

  /** Streaming materialized-aggregate sink: every micro-batch folds
    * its state into the snapshot-versioned rollup at `stateDir` with
    * delta-sized work — the streaming completion of the
    * `mv_incremental` contract.
    */
  def mvSink(
      updates: DataFrame,
      stateDir: String,
      keys: Seq[String],
      values: Seq[String],
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(updates, checkpoint) { (batch, id) =>
      mvBatch(batch, id, stateDir, keys, values)
    }

  /** One micro-batch of the streaming CDC apply — [[upsertBatch]]'s
    * skeleton (same snapshot commit/skip replay contract) with
    * [[graft.operators.Cdc.apply]] as the merge, so a streamed I/U/D
    * changelog (e.g. a Debezium-shaped feed) materializes the table it
    * describes.
    */
  def cdcBatch(
      batch: DataFrame,
      batchId: Long,
      targetPath: String,
      keyCols: Seq[String],
      operCol: String = "oper",
      versionCol: Option[String] = None): Unit = {
    import graft.sinks.SnapshotTarget
    val spark = batch.sparkSession
    if (SnapshotTarget.committedIds(spark, targetPath).exists(_ >= batchId))
      return
    // a no-data micro-batch (watermark advance, idle trigger) must not
    // pay a full snapshot rewrite of the target — skip the commit; the
    // replay guard keys off the frontier, not a contiguous id chain
    if (batch.isEmpty) return
    val targetCols = batch.columns.toSeq
      .filterNot(c => c == operCol || versionCol.contains(c))
    val current = SnapshotTarget.read(spark, targetPath)
      .getOrElse(batch.select(targetCols.map(col): _*).limit(0))
    SnapshotTarget.commit(
      graft.operators.Cdc.apply(current, batch, keyCols, operCol, versionCol),
      targetPath, batchId)
  }

  /** One micro-batch of the streaming SCD-2 CDC apply: the full
    * history-tracking merge ([[graft.operators.Merge.scd2Cdc]] —
    * close-and-insert, deletes close the open version) under the same
    * snapshot commit/skip replay contract. The streaming dimension
    * pipeline endgame: an I/U/D feed materializes a FULL-HISTORY
    * dimension exactly-once.
    *
    * First batch bootstraps an empty SCD-2 target (batch columns minus
    * `operCol`/`effCol` plus the three SCD columns).
    */
  def scd2CdcBatch(
      batch: DataFrame,
      batchId: Long,
      targetPath: String,
      keyCols: Seq[String],
      effCol: String,
      operCol: String = "oper"): Unit = {
    import graft.sinks.SnapshotTarget
    val spark = batch.sparkSession
    if (SnapshotTarget.committedIds(spark, targetPath).exists(_ >= batchId))
      return
    // a no-data micro-batch (watermark advance, idle trigger) must not
    // pay a full snapshot rewrite of the target — skip the commit; the
    // replay guard keys off the frontier, not a contiguous id chain
    if (batch.isEmpty) return
    val current = SnapshotTarget.read(spark, targetPath).getOrElse {
      val dataCols = batch.columns.toSeq
        .filterNot(c => c == operCol || c == effCol)
      batch.select(dataCols.map(col) ++ Seq(
        col(effCol).as("effective_from"),
        lit(null).cast(batch.schema(effCol).dataType).as("effective_to"),
        lit(true).as("is_current")): _*).limit(0)
    }
    SnapshotTarget.commit(
      graft.operators.Merge.scd2Cdc(current, batch, keyCols, effCol, operCol),
      targetPath, batchId)
  }

  /** Streaming SCD-2 CDC sink — see [[scd2CdcBatch]]. */
  def scd2CdcSink(
      changes: DataFrame,
      targetPath: String,
      keyCols: Seq[String],
      effCol: String,
      checkpoint: String,
      operCol: String = "oper"): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(changes, checkpoint) { (batch, id) =>
      scd2CdcBatch(batch, id, targetPath, keyCols, effCol, operCol)
    }

  /** Streaming CDC sink: a changelog stream (rows carrying I/U/D in
    * `operCol`) applied micro-batch by micro-batch to the snapshot
    * target — deletes included, exactly-once across crash-replay.
    */
  def cdcSink(
      changelog: DataFrame,
      targetPath: String,
      keyCols: Seq[String],
      checkpoint: String,
      operCol: String = "oper",
      versionCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(changelog, checkpoint) { (batch, id) =>
      cdcBatch(batch, id, targetPath, keyCols, operCol, versionCol)
    }

  // -------------------------------------------------------------------
  // COPY-ON-WRITE streaming sinks — the [[graft.sinks.CowTable]]
  // versions of the snapshot sinks above. Same exactly-once contract
  // (CowTable's commit carries its own replay guard on the monotonic
  // micro-batch id), different cost shape: a micro-batch rewrites only
  // the PARTITIONS its keys touch instead of the whole table, so
  // steady-state streaming merge cost is O(batch + touched buckets)
  // per micro-batch — the property that makes a streamed 100 TB
  // dimension sustainable. Partition columns must be key-derived
  // (CowTable.keyBucket) per the contracts on CowTable.upsert /
  // applyScd2Cdc; crash-replay + no-rewrite-of-untouched-partitions
  // proven in `StreamingUpsertSpec`.
  // -------------------------------------------------------------------

  /** Streaming SCD-1 upsert into a COW table — [[upsertSink]] at
    * partition-granular write cost.
    */
  def cowUpsertSink(
      updates: DataFrame,
      targetRoot: String,
      keyCols: Seq[String],
      partCols: Seq[String],
      checkpoint: String,
      versionCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(updates, checkpoint) { (batch, id) =>
      if (!batch.isEmpty) // idle trigger: don't burn a commit id
        graft.sinks.CowTable.upsert(batch.sparkSession, targetRoot, id,
          batch, keyCols, partCols, versionCol)
    }

  /** One micro-batch of STREAMING NEAR-DUP DETECTION against a
    * persisted, growing minhash index — the streaming face of
    * [[graft.operators.Dedup.minhashIncrementalPairs]]: probe the
    * batch against the corpus-so-far's signature index (and itself),
    * emit verified pairs, then append the batch's own signatures and
    * text to the stores. Per-micro-batch cost is O(batch +
    * candidates) however large the corpus has grown — the property
    * that makes streaming dedup of an ever-growing 100 TB corpus
    * sustainable (the corpus text is only read for colliding
    * candidates, via the verify stage's semi-join).
    *
    * Exactly-once WITHOUT a commit log: every append lands in its own
    * `batch=<id>` directory in overwrite mode, so a crash-replay
    * rewrites the same directories with the same deterministic
    * content. Replay is idempotent even mid-batch: if the crashed
    * attempt already appended this batch's signatures, re-probing
    * against index ∪ batch changes nothing — self-pairs are excluded
    * by id inequality and candidate duplicates collapse in the
    * distinct — so the rewritten pairs directory is byte-equal.
    *
    * Layout under `root/`: `index/batch=<id>/` (id, band, bucket),
    * `corpus/batch=<id>/` (id, text), `pairs/batch=<id>/`
    * (id_a, id_b, jaccard).
    */
  def nearDupBatch(
      batch: DataFrame,
      batchId: Long,
      root: String,
      idCol: String,
      textCol: String,
      shingleSize: Int = 8,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): Unit = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def readAll(path: String, empty: => DataFrame): DataFrame =
      if (fs.exists(new org.apache.hadoop.fs.Path(path)))
        try spark.read.parquet(path)
        catch {
          // a crashed FIRST batch leaves the dir holding only
          // _temporary — no footers to infer from. Treat as empty so
          // the replay overwrites it instead of wedging every restart
          case e: org.apache.spark.sql.AnalysisException
              if Option(e.getMessage).exists(_.toLowerCase(
                java.util.Locale.ROOT).contains("unable to infer")) =>
            empty
        }
      else empty
    val docs = batch.select(col(idCol), col(textCol))
    val index = readAll(s"$root/index",
      Dedup.minhashIndex(docs.limit(0), idCol, textCol,
        shingleSize, numHashes, bands))
      .select(col(idCol), col("band"), col("bucket"))
    val corpus = readAll(s"$root/corpus", docs.limit(0))
      .select(col(idCol), col(textCol))
    // exclude this batch's own (replayed) rows from the corpus side —
    // they would otherwise verify as exact self-duplicates
    val priorCorpus = corpus.join(docs.select(col(idCol)),
      Seq(idCol), "left_anti")
    val priorIndex = index.join(docs.select(col(idCol)),
      Seq(idCol), "left_anti")
    Dedup.minhashIncrementalPairs(priorCorpus, priorIndex, docs,
      idCol, textCol, shingleSize, numHashes, bands, threshold)
      .write.mode("overwrite").parquet(s"$root/pairs/batch=$batchId")
    Dedup.minhashIndex(docs, idCol, textCol, shingleSize, numHashes, bands)
      .write.mode("overwrite").parquet(s"$root/index/batch=$batchId")
    docs.write.mode("overwrite").parquet(s"$root/corpus/batch=$batchId")
  }

  /** Streaming near-dup sink — see [[nearDupBatch]]. */
  def nearDupSink(
      docs: DataFrame,
      root: String,
      idCol: String,
      textCol: String,
      checkpoint: String,
      shingleSize: Int = 8,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5): org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(docs, checkpoint) { (batch, id) =>
      nearDupBatch(batch, id, root, idCol, textCol,
        shingleSize, numHashes, bands, threshold)
    }

  /** Streaming raw-layer ingest: file-source stream → trim → parquet
    * sink with checkpointed exactly-once progress (the readStream
    * version of the reference's raw job).
    */
  def rawIngestStream(
      spark: org.apache.spark.sql.SparkSession,
      inPath: String,
      schema: org.apache.spark.sql.types.StructType,
      outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.operators.Normalize.trimAll(
      spark.readStream.schema(schema).parquet(inPath))
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()
}
