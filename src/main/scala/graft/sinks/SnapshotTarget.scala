package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot-versioned parquet target — the minimal commit protocol that
  * lets a read-merge-write cycle (SCD-1/SCD-2/CDC apply) run EXACTLY-
  * ONCE under crash-replay without a table format like Delta (which the
  * reference provisions but never uses, commons/install-delta.sh:10-21,
  * and whose jars this sandbox lacks).
  *
  * Layout: `root/snap-<id>/` parquet directories, one per applied
  * batch. A snapshot is COMMITTED iff its `_SUCCESS` marker exists —
  * the marker Spark's file committer writes only after every task
  * output is in place, so a half-written snapshot (crash mid-write) is
  * never visible. The CURRENT state is the highest committed id; there
  * is no pointer file to corrupt — the commit point IS the atomic
  * `_SUCCESS` create.
  *
  * Crash matrix for a writer applying batch `id`:
  *  - crash before/mid snapshot write: no `_SUCCESS` → replay recomputes
  *    from the previous committed snapshot and overwrites the partial
  *    directory;
  *  - crash after `_SUCCESS` but before the caller's own progress
  *    commit (e.g. the streaming checkpoint): replay sees `id` already
  *    committed and SKIPS — the merge is deterministic, so the snapshot
  *    content is already exactly what the replay would produce.
  *
  * Single-writer protocol (one streaming query / one job per target),
  * like every file-layout table format without a lock service. Readers
  * always see the last committed snapshot; `keep >= 2` retains the
  * previous snapshot so a reader that resolved `current` just before a
  * commit can still finish its scan.
  *
  * At 100 TB the full-snapshot rewrite per batch is the cost ceiling —
  * a real table format replaces only changed FILES. The seam is here:
  * swap [[commit]]'s eager rewrite for a format-native MERGE when delta
  * jars are on the classpath (README §Connector seams); the
  * read/skip/replay contract above is exactly Delta's commit-log
  * semantics, so callers don't change.
  */
object SnapshotTarget {

  private val Prefix = "snap-"

  private def hfs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** Ids of committed snapshots under `root`, ascending — ONE FS
    * metadata call via the shared [[FsListing.committedIdsUnder]]
    * (glob over the `_SUCCESS` markers; see its scaladoc).
    */
  def committedIds(spark: SparkSession, root: String): Seq[Long] =
    FsListing.committedIdsUnder(hfs(spark, root), root, Prefix)

  /** The current table state: the highest committed snapshot, if any. */
  def read(spark: SparkSession, root: String): Option[DataFrame] =
    committedIds(spark, root).lastOption
      .map(id => spark.read.parquet(s"$root/$Prefix$id"))

  /** TIME TRAVEL: the table state as of batch `id` — the highest
    * committed snapshot ≤ id (snapshots ARE versions, so this is free;
    * retention is bounded by [[prune]]'s `keep`). None if every
    * retained snapshot is newer than `id`.
    */
  def readAt(spark: SparkSession, root: String, id: Long): Option[DataFrame] =
    committedIds(spark, root).filter(_ <= id).lastOption
      .map(i => spark.read.parquet(s"$root/$Prefix$i"))

  /** Row ceiling for the DRIVER-SIDE snapshot write below — same
    * argument and default as the cow manifest write seam.
    */
  private def driverWriteMaxRows: Int =
    sys.props.get("graft.snapshot.driverWriteMaxRows")
      .flatMap(_.toIntOption).getOrElse(100000)

  /** Commit `df` as snapshot `id` and prune old snapshots. The write
    * lands in a directory the current state was NOT read from, so the
    * read-merge-write cycle never overwrites its own input mid-scan.
    *
    * DRIVER-SIDE fast path (r20, guide §5 — the SnapshotTarget mirror
    * of r19's driver-side manifest write): when the frame is a
    * driver-resident `LocalRelation` of O(control-plane) rows — the
    * stream-join view's per-micro-batch FRONTIER snapshot is literally
    * `Seq((fa, fb)).toDF` — the commit writes through Spark's own
    * `ParquetWriteSupport` on the driver instead of launching a full
    * Spark job per micro-batch for one row. Same bytes, `_SUCCESS`
    * created LAST so the commit point is unchanged; any distributed
    * or larger frame keeps the job-based write.
    */
  def commit(df: DataFrame, root: String, id: Long, keep: Int = 2): Unit = {
    require(keep >= 1, "must keep at least the current snapshot")
    val dir = s"$root/$Prefix$id"
    df.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if lr.data.size <= driverWriteMaxRows =>
        org.apache.spark.sql.graftbridge.Bridge.writeParquetDirDriverSide(
          df.sparkSession, dir, lr.schema, Iterator("" -> lr.data.iterator))
      case _ =>
        df.write.mode("overwrite").parquet(dir)
    }
    prune(df.sparkSession, root, keep)
  }

  /** Delete committed snapshots older than the newest `keep`, plus any
    * UNCOMMITTED partial older than the newest committed id — batch ids
    * are monotonic, so a crash-orphaned partial behind the commit
    * frontier can never be completed and is permanent garbage.
    */
  def prune(spark: SparkSession, root: String, keep: Int): Unit = {
    val ids = committedIds(spark, root)
    val newest = ids.lastOption.getOrElse(return)
    val committed = ids.toSet
    val cutoff = ids.takeRight(keep).head
    val fs = hfs(spark, root)
    fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(Prefix))
      .filter(_.getPath.getName.stripPrefix(Prefix).toLongOption.exists(id =>
        if (committed(id)) id < cutoff else id < newest))
      .foreach(s => fs.delete(s.getPath, true))
  }
}
