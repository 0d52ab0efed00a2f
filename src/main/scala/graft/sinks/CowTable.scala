package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Cdc, Merge}
import graft.types.SchemaCompat

/** Thrown when a [[CowTable]] commit loses the optimistic-concurrency
  * race: another writer holds the commit lease for the same id, or the
  * snapshot this commit was computed against is no longer current.
  * The losing commit wrote NO manifest — the table is exactly the
  * winner's state; the caller retries by recomputing from the new
  * current snapshot.
  */
final class CowConcurrentCommitException(msg: String)
  extends RuntimeException(msg)

/** Thrown when a [[CowTable]] commit's batch violates a registered
  * CHECK constraint ([[CowTable.setCheckConstraints]]). The commit
  * wrote no manifest — the table is unchanged.
  */
final class CowConstraintException(msg: String)
  extends RuntimeException(msg)

/** One column's inclusive range predicate for data-skipping reads,
  * bounds in Spark string form (`cast(col as string)`); either bound
  * optional, `lo == hi` = point lookup.
  */
final case class CowRange(
    colName: String, lo: Option[String], hi: Option[String])

/** A [[CowTable]]'s declared bucket layout: partition column
  * `partCol` holds `pmod(hash(keyCols…), n)` — SPARK's own bucket
  * function (Murmur3, seed 42), so the layout can be declared to the
  * planner as a real `BucketSpec` and co-bucketed joins/aggregations
  * run with ZERO exchange. Registered once at table creation
  * ([[CowTable.setBucketSpec]]); every writer derives `partCol` with
  * [[CowTable.bucketId]].
  */
final case class CowBucketSpec(partCol: String, n: Int, keyCols: Seq[String])

/** Outcome of a maintenance commit (OPTIMIZE / compaction), telling
  * apart the two cases a bare Boolean conflates: [[MaintNoOp]] — the
  * table needed nothing (empty, already compact, scope matched no
  * partition); the id was NOT consumed and the caller may treat the
  * statement as trivially done — versus [[MaintSuperseded]] — a
  * concurrent writer committed this id (or a later one) first; the
  * caller's work is NOT in the table and must be retried or reported.
  * Deciding this after the fact by re-listing committed ids is racy
  * (a fresh concurrent commit in that window masquerades as the lost
  * race), so the engine reports which exit it actually took.
  */
sealed trait MaintStatus
case object MaintCommitted extends MaintStatus
case object MaintNoOp extends MaintStatus
case object MaintSuperseded extends MaintStatus

/** [[CowTable.fsck]]'s findings: referenced-but-absent paths (real
  * corruption), unreferenced on-disk data files (crash leftovers /
  * pre-vacuum waste), unpublished staged commit ids, and clone fences
  * whose referent clone no longer exists (over-retention leaks —
  * [[CowTable.orphanCloneFences]]).
  */
final case class CowFsckReport(
    missing: Seq[String], orphans: Seq[String], staged: Seq[Long],
    orphanFences: Seq[String] = Nil) {
  def clean: Boolean = missing.isEmpty && orphans.isEmpty &&
    staged.isEmpty && orphanFences.isEmpty
}

/** One data file of a [[CowTable]] snapshot. `path` is table-root-
  * relative (`batch-<id>/…/part-….parquet`); `part` maps each
  * partition column to its Spark string form (null value = the NULL
  * partition); `mins`/`maxs` hold per-column min/max for orderable
  * atomic columns (absent = unknown — readers must keep the file).
  */
final case class CowFile(
    path: String,
    part: Map[String, String],
    rows: Long,
    bytes: Long,
    mins: Map[String, String],
    maxs: Map[String, String],
    kind: String = CowTable.KindData,
    blooms: Map[String, Seq[Long]] = Map.empty,
    nulls: Map[String, Long] = Map.empty)

/** A committed [[CowTable]] snapshot: the authoritative file list (a
  * file NOT listed here does not exist, whatever the directory says),
  * the partitioning, and the table schema at commit time.
  *
  * COLUMN MAPPING (`colMap`, Delta's name-mapping mode): logical
  * column name → the PHYSICAL name stored in data files. A column's
  * physical name is fixed at creation and never changes, so `ALTER
  * TABLE RENAME COLUMN` is a manifest-only commit (schema + map; the
  * manifest's own stat/part keys re-key to the new logical name) and
  * `DROP COLUMN` simply stops requesting the column — carried files
  * never rewrite for either. Absent entries mean logical == physical
  * (every table until its first rename). `retiredPhys` records
  * physical names freed by drops/renames so a later ADD of the same
  * logical name allocates a FRESH physical name instead of resurrecting
  * old files' data.
  */
final case class CowManifest(
    id: Long,
    partCols: Seq[String],
    schemaDdl: String,
    allFiles: Seq[CowFile],
    colMap: Map[String, String] = Map.empty,
    retiredPhys: Seq[String] = Nil,
    chainDepth: Int = 0) {
  def schema: StructType = StructType.fromDDL(schemaDdl)
  def partKeyOf(f: CowFile): String = CowTable.partKey(partCols, f.part)
  /** Physical (in-file) name of logical column `c`. */
  def phys(c: String): String = colMap.getOrElse(c, c)
  /** Is any logical name mapped to a different physical one? */
  def mapped: Boolean = colMap.exists { case (l, p) => l != p }
  /** Every physical name ever used (live + retired) — ADD COLUMN
    * consults this to avoid resurrecting a dropped column's data.
    */
  def usedPhys: Set[String] =
    schema.fieldNames.map(phys).toSet ++ retiredPhys
  /** Live DATA files (what a scan reads). */
  def files: Seq[CowFile] = allFiles.filter(_.kind == CowTable.KindData)
  /** Always empty: merge-on-read deletes are positional deletion
    * vectors only ([[dvs]]). Kept only while the benchmark still
    * reports `sinks.tombstone_files`; it goes when that metric does,
    * so do not add callers.
    */
  def tombstones: Seq[CowFile] = Nil
  /** Outstanding positional DELETION-VECTOR sidecars (what a scan
    * masks — [[CowTable.deleteWhereDv]], [[CowTable.deleteKeysMor]]).
    */
  def dvs: Seq[CowFile] = allFiles.filter(_.kind == CowTable.KindDv)
}

/** HEAD-ONLY snapshot metadata (round-16): everything a reader needs
  * BEFORE it decides which entries to materialize — identity, schema,
  * partitioning, column mapping — parsed from ONE manifest row
  * (every row duplicates these columns, so any row serves). This is
  * what keeps catalog resolution and scan PLANNING driver-bounded at
  * extreme file counts: `loadTable` and the analyzer's schema checks
  * never touch the entry list; [[CowLazyFileIndex]] materializes only
  * the entries a pushed partition predicate keeps. `baseId` /
  * `removedParts` are the delta-chain link fields
  * ([[CowManifestRow]]); they are authoritative only when the meta
  * was read from disk ([[CowTable.manifestMeta]] documents the
  * memo-derived case).
  */
final case class CowManifestMeta(
    id: Long,
    partCols: Seq[String],
    schemaDdl: String,
    colMap: Map[String, String] = Map.empty,
    retiredPhys: Seq[String] = Nil,
    baseId: Option[Long] = None,
    removedParts: Seq[String] = Nil,
    /** Head-carried RESOLVED-snapshot totals (round-17): live-data
      * rows/bytes/file count and the non-data entry count, written at
      * commit time — O(1) cold statistics and an O(1) MOR-debt gate.
      * None on pre-r17 manifests (consumers fall back to the parse).
      */
    totalRows: Option[Long] = None,
    totalBytes: Option[Long] = None,
    totalFiles: Option[Long] = None,
    nondataFiles: Option[Long] = None,
    /** Whether every live data file carries a planner-declarable
      * bucket tag — lets the LAZY relation declare a registered bucket
      * layout from head metadata alone. None = unknown (pre-r17
      * manifest, or no bucket spec at commit time) → eager fallback.
      */
    bucketOk: Option[Boolean] = None) {
  def schema: StructType = StructType.fromDDL(schemaDdl)
  /** Physical (in-file) name of logical column `c`. */
  def phys(c: String): String = colMap.getOrElse(c, c)
}

object CowManifestMeta {
  /** Meta of an already-materialized manifest (chain fields inert —
    * entry resolution always re-reads them per link from disk).
    * Totals stay BLANK deliberately: this runs on every warm
    * resolution (loadTable, createRelation, readAt), and summing a
    * 10⁷-entry resident list per query would be an O(files) driver
    * pass for numbers every memo-warm consumer recomputes from the
    * memo anyway — O(1) here, head-carried totals serve the cold
    * paths.
    */
  def of(m: CowManifest): CowManifestMeta =
    CowManifestMeta(m.id, m.partCols, m.schemaDdl, m.colMap,
      m.retiredPhys)
}

/** Internal persisted shape of one manifest row (one per data file,
  * plus a path-NULL sentinel for an empty table so schema/partitioning
  * survive a fully-deleted state).
  *
  * DELTA MANIFESTS (`base_id` non-null): the rows list only the
  * commit's ADDED entries (or the sentinel when it added none), and
  * the snapshot resolves as `base.allFiles` minus every entry whose
  * partition key is in `removed_parts`, plus the adds — so a commit
  * touching k partitions of an N-partition table writes O(k) manifest
  * rows instead of O(N) (Delta's log model; a full manifest is the
  * checkpoint). Schema / partitioning / column mapping are ALWAYS the
  * delta's own — a delta can evolve them as long as the carried
  * entries stay byte-identical (writers fall back to a full manifest
  * whenever carried stats change).
  */
private[sinks] final case class CowManifestRow(
    path: String,
    part: Map[String, String],
    rows: Long,
    bytes: Long,
    mins: Map[String, String],
    maxs: Map[String, String],
    part_cols: Seq[String],
    schema_ddl: String,
    kind: String,
    blooms: Map[String, Seq[Long]],
    nulls: Map[String, Long],
    col_map: Map[String, String],
    retired_phys: Seq[String],
    base_id: Option[Long],
    removed_parts: Seq[String],
    // round-17 HEAD-CARRIED SNAPSHOT TOTALS (duplicated per row like
    // every meta column, and — unlike the entry columns — describing
    // the RESOLVED snapshot even on a delta manifest, whose writer
    // holds the resolved list in memory): live-data row/byte/file
    // totals, the non-data (DV) entry count, and whether
    // every live data file carries a planner-declarable bucket tag.
    // They make cold statistics, the MOR-debt gate, and the bucketed
    // lazy-read gate O(1) head reads instead of O(table-files) parses.
    // Absent (None) on pre-r17 manifests — readers fall back.
    total_rows: Option[Long],
    total_bytes: Option[Long],
    total_files: Option[Long],
    nondata_files: Option[Long],
    bucket_ok: Option[Boolean])

/** Partition-granular COPY-ON-WRITE snapshot table — the incremental
  * completion of [[SnapshotTarget]], whose one honest scale ceiling is
  * the full-table rewrite per merge batch (SnapshotTarget.scala
  * documents it). This is the table-format core trick (Delta/Iceberg —
  * the reference provisions Delta for exactly this,
  * commons/install-delta.sh:10-21, but its jars are absent here) built
  * from two primitives this repo already trusts: immutable parquet
  * writes committed by `_SUCCESS`, and monotonic single-writer batch
  * ids.
  *
  * Layout under `root/`:
  *  - `batch-<id>/[__gp_c=v/…]part-*.parquet` — data files written by
  *    batch `id`, IMMUTABLE once `id` commits. Partition directories
  *    use duplicated `__gp_<c>` columns so the REAL partition columns
  *    stay inside the files — every file is self-contained and reads
  *    need no directory-string parsing (the NULL/escaping trap
  *    [[Compaction]] documents) and no basePath gymnastics.
  *  - `manifest-<id>/` — a tiny parquet dataset, one row per live data
  *    file with its partition values and per-column min/max stats.
  *    A snapshot is COMMITTED iff the manifest's `_SUCCESS` exists —
  *    the same atomic marker protocol as [[SnapshotTarget]], so the
  *    crash matrix carries over verbatim (no marker ⇒ replay
  *    overwrites; marker ⇒ replay skips).
  *
  * A COMMIT of batch `id` touching partitions T:
  *  1. writes ONLY T's new content into `batch-<id>/`;
  *  2. writes `manifest-<id>` = new entries for T (files just written)
  *     ∪ the previous manifest's entries for every partition ∉ T —
  *     untouched partitions are carried BY REFERENCE; their bytes are
  *     never read, never rewritten, and stay byte-identical on disk
  *     (spec-pinned via path+mtime in `CowTableSpec`).
  *
  * So a delta that touches k of N partitions costs O(read k + write k)
  * instead of O(N) — at 100 TB with date- or bucket-partitioned
  * tables, that is the difference between a merge batch costing
  * delta-sized I/O and costing a full-table rewrite per batch.
  *
  * Data skipping: every commit records per-file min/max for orderable
  * atomic columns (collected from the files just written via the
  * `_metadata` column — one delta-sized pass, the same moment Delta
  * stamps its AddFile stats). [[readWhereBetween]] prunes files whose
  * [min,max] cannot intersect the predicate BEFORE Spark ever lists or
  * opens them — manifest-driven skipping on top of partition pruning,
  * the part plain parquet cannot do (its footer stats still require
  * listing + opening every file).
  *
  * Replay safety: [[commit]] refuses ids ≤ the newest committed id.
  * This is load-bearing, not convenience — batch-`id` files may be
  * referenced by LATER manifests, and a replayed overwrite would give
  * the rewritten files fresh task-UUID names, breaking those
  * references. Monotonic ids + in-commit guard make replays no-ops.
  *
  * Single-writer per table root, like [[SnapshotTarget]] and every
  * file-layout format without a lock service. `keep >= 2` retains the
  * previous manifest (and, transitively, every file it references)
  * for in-flight readers.
  */
object CowTable {

  private val BatchPrefix = "batch-"
  private val ManifestPrefix = "manifest-"
  /** Root-level `_retrykeep-<id>` marker: batch dir `batch-<id>` holds
    * a batch STAGED by an in-flight [[appendWithRetry]] that lost its
    * manifest race — the moment the winner commits, the dir's id falls
    * behind the frontier and [[vacuum]]'s unreferenced-batch rule would
    * reap it in the window before the retry adopts it by rename. A
    * FRESH marker (younger than the stale grace period) shields the
    * dir; expired or landed markers are swept by vacuum like crashed
    * checkpoint temps.
    */
  private val RetryKeepPrefix = "_retrykeep-"

  private def retryKeepPath(root: String, id: Long) =
    new Path(s"$root/$RetryKeepPrefix$id")

  /** The stale grace window shared by every `_retrykeep` freshness
    * test AND vacuum's marker/checkpoint-temp sweep — one clock, so a
    * marker writers still honor can never be swept and vice versa
    * (r19 review: the constant was previously duplicated per site).
    */
  private val StaleGraceMs = 3600000L

  /** Is a `_retrykeep-<id>` marker present and FRESH (inside
    * [[StaleGraceMs]])? The shared writer-side guard: a fresh marker
    * means an in-flight retry (or a re-pointed WAP stage) parked its
    * ONLY data under `batch-<id>` — any writer about to (over)write
    * that dir must refuse loudly instead.
    */
  private def freshRetryKeep(
      fs: org.apache.hadoop.fs.FileSystem, root: String,
      id: Long): Boolean =
    try fs.getFileStatus(retryKeepPath(root, id))
      .getModificationTime >= System.currentTimeMillis() - StaleGraceMs
    catch { case _: java.io.FileNotFoundException => false }
  /** Root-level `_mbase-<id>=<baseId>` marker advertising that
    * manifest `id` is a DELTA against `baseId` — what [[vacuum]] walks
    * to retain every retained manifest's base chain without opening
    * manifest parquet inside retention decisions.
    */
  private val MbasePrefix = "_mbase-"
  /** `_ckpt-<id>/` — a CHECKPOINT of delta manifest `id`: the full
    * resolved entry list as its own committed parquet dir (atomic via
    * its `_SUCCESS`, never overwriting the manifest a concurrent
    * reader may be parsing). Once committed, readers of snapshot `id`
    * take it instead of walking the chain, and [[vacuum]] can prune
    * the chain's below-retention bases.
    */
  private val CkptPrefix = "_ckpt-"
  /** Write-time changelog sidecars live under `root/_changes/<id>/`.
    * Package-visible for [[graft.streaming.CowStream]], which serves
    * them as a Structured Streaming source.
    */
  private[graft] val ChangesDir = "_changes"
  /** The sidecars' operation column (signed form: D/I). */
  private[graft] val ChangeOper = "_oper"
  /** Manifest entry kinds: live data and positional deletion-vector
    * sidecars.
    */
  val KindData = "data"
  val KindDv = "dv"
  private val DvDirName = "__dv"

  /** Persist one commit's signed changelog frame (table columns then
    * [[ChangeOper]]) into a STAGING directory (the expensive work runs
    * here, outside the manifest lock); [[publishChangeLog]] renames it
    * into `_changes/<id>/` only after the commit's based-on
    * verification passes — an aborted commit must never leave a
    * servable sidecar for an id that never committed (a feed consumer
    * would apply changes that never took effect).
    */
  private def stageChangeLog(
      spark: SparkSession, root: String, id: Long, log: DataFrame): Path = {
    val staging = new Path(
      s"$root/$ChangesDir/.tmp-$id-${java.util.UUID.randomUUID()}")
    log.write.mode("overwrite").parquet(staging.toString)
    staging
  }

  /** `df`'s rows as changelog rows of kind `oper` (D/I), in the
    * canonical sidecar column order: table schema, then [[ChangeOper]].
    */
  private def signedRows(m: CowManifest, df: DataFrame, oper: String): DataFrame =
    df.withColumn(ChangeOper, lit(oper))
      .select((m.schema.fieldNames.toSeq :+ ChangeOper).map(col): _*)

  private def publishChangeLog(
      spark: SparkSession, root: String, id: Long, staging: Path): Unit = {
    val fs = hfs(spark, root)
    val dst = new Path(s"$root/$ChangesDir/$id")
    if (fs.exists(dst)) fs.delete(dst, true) // a crashed attempt's leftover
    require(fs.rename(staging, dst), s"could not publish changelog $dst")
  }

  private def discardChangeLog(
      spark: SparkSession, root: String, staging: Option[Path]): Unit =
    staging.foreach(p => hfs(spark, root).delete(p, true))

  /** Stable key-hash bucket column: `pmod(xxhash64(keys), n)`. Bucket-
    * partitioning a keyed table with this makes ANY key's partition a
    * pure function of the key — the contract [[upsert]]/[[applyCdc]]
    * need to find every incumbent row of a delta key without scanning
    * untouched partitions.
    */
  def keyBucket(keyCols: Seq[String], n: Int): Column = {
    require(n > 0, "bucket count must be positive")
    pmod(xxhash64(keyCols.map(col): _*), lit(n.toLong)).cast("int")
  }

  /** SPARK-PARITY bucket id: `pmod(hash(keys…), n)` — exactly
    * `HashPartitioning(keys, n).partitionIdExpression` (Murmur3 seed
    * 42), which is what lets a table partitioned by this column
    * declare a planner-visible `BucketSpec`. [[keyBucket]] (xxhash64)
    * keeps the same stable-partition contract but is NOT the planner's
    * hash; use THIS for tables registered with [[setBucketSpec]].
    */
  def bucketId(keyCols: Seq[String], n: Int): Column = {
    require(n > 0, "bucket count must be positive")
    pmod(hash(keyCols.map(col): _*), lit(n)).cast("int")
  }

  private def bucketSpecPath(root: String) =
    new Path(s"$root/_bucketspec.tsv")

  /** Register the table's bucket layout. Must run BEFORE the first
    * commit: files written after registration carry Spark's `_NNNNN`
    * bucket tag in their names (the planner parses bucket membership
    * from file names), and a mixed tagged/untagged history would make
    * the layout undeclarable. Writers then derive the partition column
    * as `bucketId(keyCols, n)`; every commit re-verifies the written
    * rows against the declared hash (one batch-sized pass) so a
    * miswritten bucket fails the commit instead of mis-joining.
    */
  def setBucketSpec(
      spark: SparkSession, root: String, spec: CowBucketSpec): Unit = {
    require(currentManifest(spark, root).isEmpty,
      s"bucket spec must be registered before the first commit at $root")
    require(spec.keyCols.nonEmpty && spec.n > 0, "invalid bucket spec")
    val fs = hfs(spark, root)
    fs.mkdirs(new Path(root))
    val out = fs.create(bucketSpecPath(root), true)
    try out.write((tsvEsc(spec.partCol) + "\t" + spec.n + "\t" +
        spec.keyCols.map(tsvEsc).mkString(","))
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** The registered bucket layout, if any. */
  def bucketSpecOf(spark: SparkSession, root: String): Option[CowBucketSpec] = {
    val fs = hfs(spark, root)
    val p = bucketSpecPath(root)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val line =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val parts = line.trim.split("\t")
      Some(CowBucketSpec(tsvUnesc(parts(0)), parts(1).toInt,
        parts(2).split(",").toSeq.map(tsvUnesc)))
    }
  }

  /** Spark's bucket-file tag (`_00003`), inserted before the name's
    * first extension dot — the exact shape `FileSourceScanExec`'s
    * bucketed read parses back out of the file NAME.
    */
  private[sinks] def bucketTagName(name: String, k: Int): String = {
    val dot = name.indexOf('.')
    val tag = f"_$k%05d"
    if (dot < 0) name + tag
    else name.substring(0, dot) + tag + name.substring(dot)
  }

  private val BucketTagRe = """.*_(\d+)(?:\..*)?$""".r

  /** The bucket id a file NAME declares, if any (Spark's own parse). */
  private[graft] def bucketIdOfName(name: String): Option[Int] =
    name match {
      case BucketTagRe(d) => d.toIntOption
      case _ => None
    }

  /** Rename the just-written files of `batchDir` to carry their bucket
    * tag (parsed from the `__gp_<partCol>=<k>` directory), and verify
    * the written rows actually hash to their declared bucket — one
    * batch-sized pass; a violating writer fails HERE, before commit,
    * never at join time.
    */
  private def tagBucketFiles(
      spark: SparkSession, batchDir: String, schema: StructType,
      spec: CowBucketSpec): Unit = {
    val fs = hfs(spark, batchDir)
    val dir = new Path(batchDir)
    if (!fs.exists(dir)) return
    val marker = s"__gp_${spec.partCol}="
    def walk(p: Path): Unit =
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.startsWith("part-") &&
            st.getPath.getName.endsWith(".parquet")) {
          val full = st.getPath.toString
          val i = full.indexOf(marker)
          if (i >= 0) {
            val k = full.substring(i + marker.length)
              .takeWhile(_ != '/').toIntOption
            k.filter(v => v >= 0 && v < spec.n).foreach { v =>
              val renamed = new Path(st.getPath.getParent,
                bucketTagName(st.getPath.getName, v))
              require(fs.rename(st.getPath, renamed),
                s"could not bucket-tag ${st.getPath}")
            }
          }
        }
      }
    walk(dir)
    if (spec.keyCols.forall(schema.fieldNames.contains) &&
        schema.fieldNames.contains(spec.partCol)) {
      val bad = spark.read.schema(schema).parquet(batchDir)
        .where(bucketId(spec.keyCols, spec.n) =!= col(spec.partCol))
      require(bad.isEmpty,
        s"batch rows violate the registered bucket spec $spec at " +
          s"$batchDir — write ${spec.partCol} as " +
          s"CowTable.bucketId(${spec.keyCols.mkString(",")}, ${spec.n})")
    }
  }

  /** Canonical partition identity: partition values in `partCols`
    * order, NULL distinguished from every real value by a
    * non-printable marker.
    */
  def partKey(partCols: Seq[String], part: Map[String, String]): String =
    partCols.map(c => Option(part.getOrElse(c, null)).getOrElse("\u0000NULL"))
      .mkString("\u0001")

  /** Partition keys of `m` whose PARTITION VALUES satisfy `pred` — the
    * scope resolver behind `replaceWhere` overwrites and partition-
    * scoped `OPTIMIZE … WHERE`. The predicate must reference partition
    * columns only (checked loudly: a data-column predicate here would
    * silently select nothing); it is evaluated IN-ENGINE over a local
    * frame of the manifest's distinct partition tuples — the stamped
    * strings cast back to the schema's own column types, so a date
    * range compares as dates, not text. Driver-bounded by the table's
    * partition COUNT (manifest-sized metadata, the sanctioned use),
    * never by its data.
    */
  private[graft] def partitionsMatching(spark: SparkSession,
      m: CowManifest, pred: Column): Set[String] = {
    require(m.partCols.nonEmpty,
      "a partition predicate needs a partitioned table")
    partitionValuesMatching(spark, m.schema, m.partCols,
      m.allFiles.map(f => partKey(m.partCols, f.part) -> f.part)
        .toMap.toSeq,
      pred)
  }

  /** [[partitionsMatching]] over an EXPLICIT `(key, values)` list —
    * shared with the written-batch validation of `replaceWhere`, which
    * evaluates the predicate over the partitions the write actually
    * landed rather than over a manifest.
    */
  private[graft] def partitionValuesMatching(spark: SparkSession,
      schema: StructType, partCols: Seq[String],
      distinctParts: Seq[(String, Map[String, String])],
      pred: Column): Set[String] = {
    if (distinctParts.isEmpty) return Set.empty
    val rows = distinctParts.map { case (k, p) =>
      Row.fromSeq(k +: partCols.map(c => p.getOrElse(c, null)))
    }
    val strSchema = StructType(StructField("__pm_key", StringType) +:
      partCols.map(c => StructField(c, StringType)))
    val typed = partCols.foldLeft(
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        strSchema))((d, c) => d.withColumn(c,
          col(c).cast(schema(c).dataType)))
    // the column rule is enforced by ANALYSIS against this frame,
    // which has only the partition columns: a data-column reference
    // fails resolution here, loudly — introspecting the unresolved
    // Column instead is impossible in Spark 4 (ColumnNodeExpression
    // leaves hide the node tree from catalyst collect)
    try typed.where(pred).select("__pm_key").collect()
      .map(_.getString(0)).toSet
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"partition predicate may reference partition columns " +
            s"$partCols only — for data-column predicates use DELETE " +
            s"+ INSERT or MERGE (${e.getMessage})")
    }
  }

  private def hfs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** Ids of committed snapshots (manifest `_SUCCESS` present),
    * ascending — ONE FS metadata call via the shared
    * [[FsListing.committedIdsUnder]] (glob over the markers; see its
    * scaladoc — this is the hottest listing in the engine: every
    * currentManifest and frontier poll starts here).
    */
  def committedIds(spark: SparkSession, root: String): Seq[Long] =
    FsListing.committedIdsUnder(hfs(spark, root), root, ManifestPrefix)

  /** Committed manifests are IMMUTABLE (the replay guard refuses
    * re-committing any id ≤ the newest), so one parse per (root, id)
    * per JVM is sound — this bounded LRU holds the parsed result and
    * serves every later read for the cost of ONE directory listing
    * (the fingerprint check below) instead of a Spark parquet job.
    * The fingerprint guards the one aliasing case immutability does
    * not cover: a table root deleted and re-created from scratch
    * reuses (root, id) keys with different content. Entries of a
    * delta CHAIN share their carried [[CowFile]] instances with their
    * base's cached seq, so a chain costs O(adds) extra memory per
    * link, not O(files).
    */
  private val ManifestMemoMax = 64
  private val manifestMemo =
    new java.util.LinkedHashMap[(String, Long), (String, CowManifest)](
      ManifestMemoMax, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), (String, CowManifest)])
          : Boolean = size > ManifestMemoMax
    }

  /** Manifest PARSES (memo misses that read a manifest or checkpoint
    * dir — driver-side or distributed, see [[manifestFrame]]) per
    * qualified root. Consumed as a MONOTONIC delta (PlanDump's
    * `parses=`, `DeltaManifestSpec`'s one parse per (root, id) per
    * JVM), so it is never cleared: it grows by one entry per distinct
    * root that ever parsed.
    */
  private[graft] val manifestParses =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Spec hook: drop every memoized manifest, forcing the next reads
    * to parse from disk (simulates a fresh JVM / evicted cache — the
    * cold chain-walk path).
    */
  private[graft] def clearManifestMemoForTest(): Unit =
    manifestMemo.synchronized(manifestMemo.clear())

  /** The memo-validity fingerprint: one listStatus of the manifest
    * dir (names + lengths + mtimes). Any rewrite of the dir — only
    * possible via out-of-band deletion + re-creation — changes it.
    */
  private def manifestFingerprint(
      fs: org.apache.hadoop.fs.FileSystem, dir: Path): String =
    try fs.listStatus(dir).toSeq
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(";")
    catch { case _: java.io.FileNotFoundException => "" }

  /** Byte ceiling for DRIVER-SIDE manifest reads — the read mirror of
    * [[driverManifestMaxRows]]'s write seam: a manifest/checkpoint dir
    * whose data files total at or below this is parsed on the driver
    * through Spark's own parquet reader (no Spark job at all); above
    * it the distributed read stays (a millions-of-files checkpoint
    * manifest must not drain through one driver thread). Sized from
    * the same argument as the write seam: O(commit)-row manifests are
    * a few KB-MB; only full manifests of very large tables cross it.
    */
  private def driverManifestReadMaxBytes: Long =
    sys.props.get("graft.cow.manifest.driverReadMaxBytes")
      .flatMap(_.toLongOption).getOrElse(32L * 1024 * 1024)

  /** Spec hook companion of [[manifestParses]]: manifest-dir reads
    * that fell through to the DISTRIBUTED parquet read (and so pay a
    * Spark job when collected) — dir above the driver-read seam, or
    * the driver read unavailable. The r20 optimization target is this
    * staying 0 on every cold cow-query path at test scale.
    */
  private[graft] val manifestParseSparkJobs =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** The row frame over ONE manifest/checkpoint/staged-manifest dir.
    * At or below [[driverManifestReadMaxBytes]] the dir is read on the
    * driver ([[Bridge.readParquetDriverSide]]) into a LocalRelation —
    * every downstream select/filter/collect then folds driver-locally
    * with NO Spark job (the cold-manifest-parse job was 1-3 jobs per
    * cow query, the largest per-commit fixed cost left after r19's
    * driver-side write). Larger dirs keep the distributed read.
    */
  private def manifestFrame(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir)
    val fs = hfs(spark, dir)
    val statuses =
      try fs.listStatus(p).toSeq.filter { s =>
        val n = s.getPath.getName
        !s.isDirectory && !n.startsWith("_") && !n.startsWith(".")
      } catch { case _: java.io.FileNotFoundException => Nil }
    val local =
      if (statuses.nonEmpty &&
          statuses.map(_.getLen).sum <= driverManifestReadMaxBytes)
        // maxRows: the byte seam alone under-bounds DECODED size (a
        // dictionary/RLE-compressed manifest of millions of
        // near-identical paths can sit under 32 MB) — cap the decoded
        // rows at the same seam as the driver-side WRITE so driver
        // memory stays O(seam) whatever the compression ratio; over
        // the cap the read falls back to distributed (r20 review)
        try org.apache.spark.sql.graftbridge.Bridge
          .readParquetDriverSide(spark, statuses,
            maxRows = driverManifestMaxRows.toLong)
        catch { case scala.util.control.NonFatal(_) => None }
      else None
    local.getOrElse {
      // the counter is consumed as a MONOTONIC delta (PlanDump's
      // parseJobs=, DriverManifestReadSpec) — never clear it; it is
      // keyed by manifest DIR and grows only with distinct fallback
      // dirs, which the seam keeps rare (r20 review: a mid-measure
      // clear() read as "zero fallbacks" exactly when they happened)
      manifestParseSparkJobs.merge(
        fs.makeQualified(p).toString, 1L, (a, b) => a + b)
      spark.read.parquet(dir)
    }
  }

  /** Load the manifest of snapshot `id` (must be committed) — memoized
    * per (qualified root, id); see [[manifestMemo]].
    */
  def manifest(spark: SparkSession, root: String, id: Long): CowManifest = {
    val fs = hfs(spark, root)
    val qroot = fs.makeQualified(new Path(root)).toString
    val dir = new Path(s"$root/$ManifestPrefix$id")
    val fp = manifestFingerprint(fs, dir)
    val key = (qroot, id)
    val hit = manifestMemo.synchronized {
      Option(manifestMemo.get(key)).filter(_._1 == fp)
    }
    hit match {
      case Some((_, m)) => m
      case None =>
        manifestParses.merge(qroot, 1L, (a, b) => a + b)
        // a committed checkpoint short-circuits the delta chain: the
        // full resolved list in one parse, no base needed (what lets
        // vacuum prune the chain)
        val ckpt = new Path(s"$root/$CkptPrefix$id")
        val m =
          if (fs.exists(new Path(ckpt, "_SUCCESS")))
            manifestAt(spark, ckpt.toString, id)
          else
            try manifestAt(spark, dir.toString, id, baseRoot = Some(root))
            catch { case e: IllegalStateException =>
              // RECOVERY-ONLY path (zero cost when healthy): an
              // unresolvable delta chain (bases pruned after a
              // checkpoint committed) may have its only committed
              // checkpoint copy stranded under a `.stale-` name by a
              // crashed sweep ([[checkpoint]]'s rename-aside) — adopt
              // it rather than failing the snapshot
              staleTwinOf(fs, root, id) match {
                case Some(tw) =>
                  try manifestAt(spark, tw.toString, id)
                  catch { case scala.util.control.NonFatal(_) =>
                    // the twin may be MID-RESTORE by a concurrent
                    // sweep (renamed back to the primary between our
                    // probe and the parse — ADVICE r16): re-probe the
                    // primary, then the twin, once; a second miss is
                    // real and the original chain error stands
                    if (fs.exists(new Path(ckpt, "_SUCCESS")))
                      manifestAt(spark, ckpt.toString, id)
                    else staleTwinOf(fs, root, id) match {
                      case Some(tw2) =>
                        manifestAt(spark, tw2.toString, id)
                      case None => throw e
                    }
                  }
                case None => throw e
              }
            }
        manifestMemo.synchronized { manifestMemo.put(key, (fp, m)) }
        m
    }
  }

  /** A committed `_ckpt-<id>.stale-<uuid>` twin, when a crashed sweep
    * stranded one (see [[checkpoint]]). Probed only on chain-walk
    * failure — never on the healthy path.
    */
  private def staleTwinOf(
      fs: org.apache.hadoop.fs.FileSystem, root: String,
      id: Long): Option[Path] =
    try fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(s"$CkptPrefix$id.stale-"))
      .find(s => fs.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath)
    catch { case _: java.io.FileNotFoundException => None }

  /** Peek the full-manifest memo WITHOUT loading anything: Some only
    * when snapshot (root, id) is already parsed, fingerprint-valid and
    * resident — the zero-cost fast path every lazy surface consults
    * before considering a disk read.
    */
  private[graft] def memoPeek(
      spark: SparkSession, root: String, id: Long): Option[CowManifest] = {
    val fs = hfs(spark, root)
    val qroot = fs.makeQualified(new Path(root)).toString
    val dir = new Path(s"$root/$ManifestPrefix$id")
    val fp = manifestFingerprint(fs, dir)
    manifestMemo.synchronized {
      Option(manifestMemo.get((qroot, id))).filter(_._1 == fp).map(_._2)
    }
  }

  // -------------------------------------------------------------------
  // Partition-pruned manifest loading (round-16): planning stays
  // driver-bounded at extreme file counts. Commit IO went O(Δ) in
  // round 15; these surfaces retire the read side's last O(table-
  // files) driver structure — a filtered scan of a COLD table pushes
  // its partition predicate into the manifest/checkpoint parquet read
  // itself and collects ONLY the surviving entries.
  // -------------------------------------------------------------------

  private val MetaMemoMax = 256
  private val metaMemo =
    new java.util.LinkedHashMap[(String, Long), (String, CowManifestMeta)](
      MetaMemoMax, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), (String, CowManifestMeta)])
          : Boolean = size > MetaMemoMax
    }

  /** Spec hook: entries MATERIALIZED to the driver through pruned
    * loads, per qualified root — the round-16 spec pins that a
    * 1-partition read of an N-partition cold table lands O(1/N) here.
    */
  private[graft] val entriesMaterialized =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Spec hook companion: pruned (pushed-predicate) manifest loads per
    * qualified root.
    */
  private[graft] val prunedLoads =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private[graft] def clearMetaMemoForTest(): Unit = {
    metaMemo.synchronized(metaMemo.clear())
    sidecarMemo.synchronized(sidecarMemo.clear())
  }

  /** Head-only metadata of snapshot `id` — served from the full
    * manifest when one is already memo-resident (zero IO; chain fields
    * blank — they are only consulted by [[entriesFrame]], which
    * re-reads them per link), else parsed from ONE row of the manifest
    * parquet (memoized with the same fingerprint guard as the full
    * memo). Never materializes the entry list.
    */
  def manifestMeta(
      spark: SparkSession, root: String, id: Long): CowManifestMeta =
    memoPeek(spark, root, id).map(CowManifestMeta.of).getOrElse(
      metaFromDisk(spark, root, id))

  private def metaFromDisk(
      spark: SparkSession, root: String, id: Long): CowManifestMeta = {
    val fs = hfs(spark, root)
    val qroot = fs.makeQualified(new Path(root)).toString
    val dir = new Path(s"$root/$ManifestPrefix$id")
    val fp = manifestFingerprint(fs, dir)
    val key = (qroot, id)
    metaMemo.synchronized {
      Option(metaMemo.get(key)).filter(_._1 == fp)
    } match {
      case Some((_, m)) => m
      case None =>
        val df = manifestFrame(spark, dir.toString)
        val names = df.schema.fieldNames.toSet
        val metaCols = Seq("part_cols", "schema_ddl") ++
          Seq("col_map", "retired_phys", "base_id", "removed_parts",
            "total_rows", "total_bytes", "total_files", "nondata_files",
            "bucket_ok")
            .filter(names.contains)
        val head = df.select(metaCols.map(col): _*).limit(1).collect()
          .headOption.getOrElse(throw new IllegalStateException(
            s"manifest $id at $root is empty — corrupt commit"))
        def opt[T](c: String, f: Row => T, dflt: T): T =
          if (!names.contains(c)) dflt
          else Option(f(head)).getOrElse(dflt)
        def optLong(c: String): Option[Long] =
          if (!names.contains(c)) None
          else Option(head.getAs[java.lang.Long](c)).map(_.toLong)
        val m = CowManifestMeta(
          id,
          head.getAs[scala.collection.Seq[String]]("part_cols").toSeq,
          head.getAs[String]("schema_ddl"),
          opt("col_map",
            _.getAs[Map[String, String]]("col_map"), Map.empty),
          opt[scala.collection.Seq[String]]("retired_phys",
            _.getAs[scala.collection.Seq[String]]("retired_phys"),
            Nil).toSeq,
          optLong("base_id"),
          opt[scala.collection.Seq[String]]("removed_parts",
            _.getAs[scala.collection.Seq[String]]("removed_parts"),
            Nil).toSeq,
          totalRows = optLong("total_rows"),
          totalBytes = optLong("total_bytes"),
          totalFiles = optLong("total_files"),
          nondataFiles = optLong("nondata_files"),
          bucketOk =
            if (!names.contains("bucket_ok")) None
            else Option(head.getAs[java.lang.Boolean]("bucket_ok"))
              .map(_.booleanValue()))
        metaMemo.synchronized { metaMemo.put(key, (fp, m)) }
        m
    }
  }

  /** The canonical 9-column entry frame of one manifest directory —
    * meta columns dropped, sentinel rows out, pre-nulls manifests
    * normalized — so chain links written by different code versions
    * union cleanly.
    */
  private def normalizedEntries(
      spark: SparkSession, dir: String): DataFrame = {
    val raw = manifestFrame(spark, dir)
    val names = raw.schema.fieldNames.toSet
    val withNulls =
      if (names.contains("nulls")) raw
      else raw.withColumn("nulls", lit(null).cast("map<string,bigint>"))
    withNulls
      .select(col("path"), col("part"), col("rows"), col("bytes"),
        col("mins"), col("maxs"), col("kind"), col("blooms"),
        col("nulls"))
      .where(col("path").isNotNull)
  }

  /** Engine-side twin of [[partKey]] over the entry frame's `part`
    * map — byte-identical rendering, so `removed_parts` membership
    * filters in a Spark job exactly as it does on the driver.
    */
  private def partKeyCol(partCols: Seq[String]): Column =
    concat_ws("\u0001", partCols.map(c =>
      coalesce(element_at(col("part"), lit(c)), lit("\u0000NULL"))): _*)

  /** Snapshot `id`'s fully-resolved entry list AS A DATAFRAME — the
    * delta chain unrolled into unions with per-link `removed_parts`
    * anti-filters, NOTHING collected. A committed checkpoint
    * short-circuits exactly like the eager path; a memo-resident link
    * stops the walk with a local frame over its in-memory entries.
    * This is what pruned loading filters before materializing.
    */
  /** Local (LocalRelation-backed) entry frame over a driver-resident
    * manifest — the jobless branch [[entriesFrame]] serves whenever the
    * entries are already (or cheaply) in driver memory.
    */
  private def localEntriesFrame(
      spark: SparkSession, m: CowManifest): DataFrame = {
    import spark.implicits._
    m.allFiles.toDS().toDF()
      .select(col("path"), col("part"), col("rows"), col("bytes"),
        col("mins"), col("maxs"), col("kind"), col("blooms"),
        col("nulls"))
  }

  private[sinks] def entriesFrame(
      spark: SparkSession, root: String, id: Long,
      partCols: Seq[String]): DataFrame = {
    memoPeek(spark, root, id) match {
      case Some(m) =>
        // local frame from the resident entries (driver-held already;
        // no disk IO, no chain walk)
        localEntriesFrame(spark, m)
      case None =>
        val fs = hfs(spark, root)
        val ckpt = new Path(s"$root/$CkptPrefix$id")
        if (fs.exists(new Path(ckpt, "_SUCCESS")))
          normalizedEntries(spark, ckpt.toString)
        else {
          val meta = metaFromDisk(spark, root, id)
          meta.baseId match {
            // NOTE(r20): an eager-chain shortcut here (resolve small
            // chains through the memoized full parse) saved one Spark
            // job per cold chain-collect but broke the lazy-read
            // contract LazyDebtStatsSpec/MetaTablesSpec pin — a cold
            // DESCRIBE FILES / filtered debt read must materialize
            // O(kept) entries, never O(table-files). The per-link
            // frames below are driver-local ([[manifestFrame]]) under
            // the read seam, so the union is cheap; laziness wins.
            case None => normalizedEntries(spark, s"$root/$ManifestPrefix$id")
            case Some(b) =>
              require(meta.partCols == partCols,
                s"delta manifest $id at $root changes partitioning " +
                  s"($partCols -> ${meta.partCols}) — corrupt commit")
              val own =
                normalizedEntries(spark, s"$root/$ManifestPrefix$id")
              val base = entriesFrame(spark, root, b, partCols)
              val kept =
                if (meta.removedParts.isEmpty) base
                else base.where(!partKeyCol(partCols)
                  .isin(meta.removedParts: _*))
              kept.unionByName(own)
          }
        }
    }
  }

  /** Decode collected entry rows (either the raw manifest shape or the
    * [[normalizedEntries]] frame) into [[CowFile]]s — the one decoder
    * [[manifestAt]] and the pruned loader share. An entry of any kind
    * but data or DV fails loudly: key and full-row tombstones, the
    * older merge-on-read delete form, are no longer applied, so
    * reading past one would show its deleted rows again.
    */
  private def filesOfRows(rows: Seq[Row]): Seq[CowFile] =
    rows.filter(_.getAs[String]("path") != null).map { r =>
      val kind = r.getAs[String]("kind")
      if (kind != KindData && kind != KindDv)
        throw new IllegalStateException(
          s"manifest entry ${r.getAs[String]("path")} has kind " +
            s"'$kind': only data files and deletion vectors are read. " +
            "Key and full-row tombstones are no longer supported; with " +
            "the previous release, fold them (CowTable.foldTombstones) " +
            "and vacuum the snapshots that still hold them")
      CowFile(
        path = r.getAs[String]("path"),
        part = Option(r.getAs[Map[String, String]]("part"))
          .getOrElse(Map.empty),
        rows = r.getAs[Long]("rows"),
        bytes = r.getAs[Long]("bytes"),
        mins = Option(r.getAs[Map[String, String]]("mins"))
          .getOrElse(Map.empty),
        maxs = Option(r.getAs[Map[String, String]]("maxs"))
          .getOrElse(Map.empty),
        kind = kind,
        blooms = Option(
          r.getAs[Map[String, scala.collection.Seq[Long]]]("blooms"))
          .map(_.map { case (k, v) => k -> v.toSeq }).getOrElse(Map.empty),
        nulls =
          if (!r.schema.fieldNames.contains("nulls")) Map.empty
          else Option(r.getAs[Map[String, Long]]("nulls"))
            .getOrElse(Map.empty))
    }

  /** Materialize snapshot `id` NARROWED to the entries `pushed` keeps
    * (plus every non-data entry — DV sidecars must always
    * ride along for correctness). `pushed` references the typed
    * `__pp_<partCol>` columns this method adds over the entry frame;
    * [[CowLazyFileIndex.pushedOf]] builds it from the scan's partition
    * filters. Driver memory: O(surviving entries), never O(table) —
    * the predicate evaluates INSIDE the manifest parquet read. Falls
    * through to the memoized full manifest when one is resident (no
    * job at all).
    */
  private[graft] def prunedManifest(
      spark: SparkSession, root: String, id: Long,
      pushed: Column): CowManifest =
    try prunedManifestImpl(spark, root, id, pushed)
    catch { case scala.util.control.NonFatal(_) =>
      // pruning is only ever an optimization: any pruned-load failure
      // (e.g. a chain whose recovery needs the eager path's
      // stale-twin adoption) falls back to the full memoized parse,
      // which either serves the snapshot or raises the REAL error
      manifest(spark, root, id)
    }

  private def prunedManifestImpl(
      spark: SparkSession, root: String, id: Long,
      pushed: Column): CowManifest =
    memoPeek(spark, root, id).getOrElse {
      val meta = metaFromDisk(spark, root, id)
      val qroot = hfs(spark, root)
        .makeQualified(new Path(root)).toString
      val frame0 = entriesFrame(spark, root, id, meta.partCols)
      val typed = meta.partCols.foldLeft(frame0)((d, c) =>
        d.withColumn(s"__pp_$c",
          element_at(col("part"), lit(c)).cast(meta.schema(c).dataType)))
      // kind != data keeps non-data entries unconditionally; a pushed
      // predicate evaluating NULL (e.g. a NULL partition value) drops
      // the row — same outcome as the in-memory Predicate.eval path
      val rows = typed
        .where(col("kind") =!= KindData || pushed)
        .drop(meta.partCols.map(c => s"__pp_$c"): _*)
        .collect().toSeq
      if (prunedLoads.size > 1024) prunedLoads.clear()
      if (entriesMaterialized.size > 1024) entriesMaterialized.clear()
      prunedLoads.merge(qroot, 1L, (a, b) => a + b)
      entriesMaterialized.merge(qroot, rows.length.toLong, (a, b) => a + b)
      CowManifest(id, meta.partCols, meta.schemaDdl, filesOfRows(rows),
        meta.colMap, meta.retiredPhys)
    }

  private val sidecarMemo =
    new java.util.LinkedHashMap[(String, Long), (String, Seq[CowFile])](
      MetaMemoMax, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), (String, Seq[CowFile])])
          : Boolean = size > MetaMemoMax
    }

  /** Spec hook companion of [[prunedLoads]]: cold kind≠data sidecar
    * loads per qualified root (the round-17 debt-read pin).
    */
  private[graft] val sidecarLoads =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Snapshot `id`'s NON-DATA entries (the merge-on-read DV sidecars)
    * WITHOUT materializing the data entry list: memo-resident
    * manifests answer in memory; cold ones with ONE tiny kind≠data
    * filtered job over the chain-unrolled entry frame — O(sidecars)
    * driver memory, which is the floor for serving the subtraction at
    * all. This is what lets a DEBT-carrying snapshot read lazily
    * ([[CowV2.lazyReadSnapshot]]): the subtraction wrapper needs only
    * these entries, never the data list. Memoized per snapshot UNDER
    * THE SAME FINGERPRINT GUARD as every manifest memo — a
    * deleted-and-recreated root reusing (root, id) with different
    * content must re-answer, exactly the aliasing case
    * [[manifestMemo]] documents (a stale empty answer here would
    * silently skip the subtraction: wrong rows, no error).
    */
  /** The fingerprint-guarded sidecar-memo slot for (root, id): a
    * still-valid peek plus a put that stores under the CURRENT
    * fingerprint. The one place the key and its validity guard are
    * built, so [[snapshotSidecars]] and [[nonDataEmpty]] can never
    * diverge on the guard — a stale empty answer would silently skip
    * the MOR subtraction (the round-16 cache-aliasing bug class).
    */
  private def sidecarSlot(
      spark: SparkSession, root: String, id: Long)
      : (String, Option[Seq[CowFile]], Seq[CowFile] => Unit) = {
    val fs = hfs(spark, root)
    val qroot = fs.makeQualified(new Path(root)).toString
    val fp = manifestFingerprint(fs,
      new Path(s"$root/$ManifestPrefix$id"))
    val key = (qroot, id)
    val peek = sidecarMemo.synchronized(
      Option(sidecarMemo.get(key)).filter(_._1 == fp)).map(_._2)
    (qroot, peek,
      v => sidecarMemo.synchronized { sidecarMemo.put(key, (fp, v)); () })
  }

  private[graft] def snapshotSidecars(
      spark: SparkSession, root: String, id: Long): Seq[CowFile] =
    memoPeek(spark, root, id) match {
      case Some(m) => m.allFiles.filter(_.kind != KindData)
      case None =>
        val (qroot, peek, put) = sidecarSlot(spark, root, id)
        peek.getOrElse {
          val v =
            try {
              val meta = metaFromDisk(spark, root, id)
              // head-carried fast path (round-17): a debt-free
              // verdict written at commit time costs no job at all
              if (meta.nondataFiles.contains(0L)) Nil
              else {
                val rows = entriesFrame(spark, root, id, meta.partCols)
                  .where(col("kind") =!= KindData).collect().toSeq
                if (sidecarLoads.size > 1024) sidecarLoads.clear()
                sidecarLoads.merge(qroot, 1L, (a, b) => a + b)
                filesOfRows(rows)
              }
            } catch { case scala.util.control.NonFatal(_) =>
              // recovery fallback, same reasoning as prunedManifest:
              // the eager path owns chain recovery (stale-twin
              // adoption) — answer from it or surface ITS error
              manifest(spark, root, id).allFiles
                .filter(_.kind != KindData)
            }
          put(v)
          v
        }
    }

  /** Is snapshot `id` free of merge-on-read debt (no DV sidecars)?
    * The gate the BARE-relation surfaces must pass — a
    * relation cannot carry the subtraction ([[CowV2.relationFor]]'s
    * loud refusal); the DataFrame surfaces serve debt lazily via
    * [[snapshotSidecars]] + [[CowV2.lazyReadSnapshot]] instead.
    *
    * BOOLEAN-ONLY shape (ADVICE r17): on a PRE-r17 manifest — no
    * head-carried nondata total — this probes emptiness with one
    * `limit(1)` job instead of [[snapshotSidecars]]'s full O(sidecars)
    * collect; the list materializes only on the lazy-read path that
    * actually consumes it. An EMPTY answer memoizes Nil under the same
    * fingerprint guard (exactly what the full collect would have
    * stored), so repeated gate checks stay free; a NON-empty answer
    * memoizes nothing (the entries weren't read).
    */
  private[graft] def nonDataEmpty(
      spark: SparkSession, root: String, id: Long): Boolean =
    memoPeek(spark, root, id) match {
      case Some(m) => m.allFiles.forall(_.kind == KindData)
      case None =>
        val (_, peek, put) = sidecarSlot(spark, root, id)
        peek match {
          case Some(v) => v.isEmpty
          case None =>
            try {
              val meta = metaFromDisk(spark, root, id)
              val empty = meta.nondataFiles.map(_ == 0L).getOrElse(
                entriesFrame(spark, root, id, meta.partCols)
                  .where(col("kind") =!= KindData).isEmpty)
              // an empty answer is exactly what the full collect would
              // memoize; a non-empty one stores nothing (no list read)
              if (empty) put(Nil)
              empty
            } catch { case scala.util.control.NonFatal(_) =>
              // recovery fallback, same reasoning as snapshotSidecars
              manifest(spark, root, id).allFiles
                .forall(_.kind == KindData)
            }
        }
    }

  /** CHECKPOINT delta manifest `id`: write its fully-resolved entry
    * list as the committed `_ckpt-<id>/` dir, after which readers stop
    * walking its chain and [[vacuum]] may prune the chain's bases. A
    * no-op for full manifests and already-checkpointed ids; idempotent
    * and crash-safe (a half-written checkpoint has no `_SUCCESS` and
    * is ignored, then overwritten by the next attempt). Vacuum invokes
    * this automatically when a retained chain crosses the retention
    * floor by more than [[manifestCheckpointInterval]] links; explicit
    * calls collapse eagerly (immediate space reclamation).
    */
  def checkpoint(spark: SparkSession, root: String, id: Long): Unit = {
    val fs = hfs(spark, root)
    val ckptDir = new Path(s"$root/$CkptPrefix$id")
    if (fs.exists(new Path(ckptDir, "_SUCCESS"))) return
    val isDelta = fs.listStatus(new Path(root)).toSeq.exists(s =>
      !s.isDirectory &&
        s.getPath.getName.startsWith(s"$MbasePrefix$id="))
    if (!isDelta) return
    val m = manifest(spark, root, id)
    // write-to-temp + rename: two vacuums (different drivers' post-
    // commit vacuums hold no lock) may both decide to collapse —
    // overwriting the final dir directly could interleave two jobs'
    // part files under one _SUCCESS. The rename is atomic; the loser
    // cleans its temp and the winner's dir is complete by
    // construction. Same-content writers, so losing is benign.
    val tmpDir = new Path(s"$root/$CkptPrefix$id.tmp-" +
      java.util.UUID.randomUUID().toString.replace("-", ""))
    writeManifestAt(spark, tmpDir.toString, m.partCols,
      m.schemaDdl, m.allFiles, (m.colMap, m.retiredPhys),
      bucketOk = bucketOkOf(spark, root, m.allFiles))
    // sweep a CRASHED collapse's marker-less dir BEFORE renaming —
    // not on rename failure: Hadoop's rename onto an existing
    // directory may MOVE THE SOURCE INSIDE IT and report success,
    // which would leave the checkpoint forever uncommitted (the tmp
    // content nested one level down, no top-level marker). The sweep
    // itself is RENAME-ASIDE, not check-then-delete: a concurrent
    // collapser may publish between our _SUCCESS probe and the sweep,
    // and deleting what we did not inspect could DESTROY a committed
    // checkpoint a concurrent vacuum has already pruned chain bases
    // for. Renaming aside is atomic; we then inspect what we actually
    // took — crashed garbage (no marker) is deleted, a just-committed
    // winner is restored intact (and our own publish below then loses
    // cleanly to it, same-content writers).
    if (fs.exists(ckptDir) && !fs.exists(new Path(ckptDir, "_SUCCESS"))) {
      val aside = new Path(s"$root/$CkptPrefix$id.stale-" +
        java.util.UUID.randomUUID().toString.replace("-", ""))
      if (fs.rename(ckptDir, aside)) {
        if (!fs.exists(new Path(aside, "_SUCCESS")))
          fs.delete(aside, true) // crashed-collapse garbage
        else if (!fs.rename(aside, ckptDir)) {
          // we took a committed winner and could not put it back.
          // Delete the aside copy ONLY when a committed primary
          // verifiably exists (another publish landed — same-content
          // duplicate); otherwise LEAVE it: a committed `.stale-`
          // twin must never be the copy we destroy — readers adopt it
          // ([[staleTwinOf]]) and vacuum sweeps it once a committed
          // primary exists.
          if (fs.exists(new Path(ckptDir, "_SUCCESS")))
            fs.delete(aside, true)
        }
      } // rename-aside failure: someone else swept or published — the
        // publish attempt below sorts out which
    }
    publishCheckpoint(fs, tmpDir, ckptDir)
  }

  /** Publish a complete checkpoint temp dir by atomic rename, losing
    * CLEANLY to any concurrent publish. Rename-onto-existing-dir
    * filesystems MOVE the source INSIDE the existing destination and
    * report success (ADVICE r16): if a concurrent publish — or the
    * sweep's own restored winner — landed ckptDir first, the tmp copy
    * is now NESTED junk under the committed dir that the top-level
    * vacuum sweep would never reclaim. Probe and delete it
    * (same-content writers: dropping the loser is benign), then
    * verify the top-level marker either way.
    */
  private[graft] def publishCheckpoint(
      fs: org.apache.hadoop.fs.FileSystem,
      tmpDir: Path, ckptDir: Path): Unit = {
    if (!fs.rename(tmpDir, ckptDir)) {
      fs.delete(tmpDir, true)
      require(fs.exists(new Path(ckptDir, "_SUCCESS")),
        s"could not publish checkpoint $ckptDir")
    } else {
      val nested = new Path(ckptDir, tmpDir.getName)
      if (fs.exists(nested)) fs.delete(nested, true)
      require(fs.exists(new Path(ckptDir, "_SUCCESS")),
        s"could not publish checkpoint $ckptDir")
    }
  }

  /** Parse a manifest from an explicit directory (committed or
    * staged). `baseRoot` enables DELTA resolution (recursing to the
    * base snapshot through the memo); staged manifests are always
    * written full, so their readers pass None and a delta-shaped
    * manifest there fails loudly.
    */
  private def manifestAt(
      spark: SparkSession, dir: String, id: Long,
      baseRoot: Option[String] = None): CowManifest = {
    val rows = manifestFrame(spark, dir).collect()
    require(rows.nonEmpty, s"manifest $id at $dir is empty — corrupt commit")
    val head = rows.head
    val partCols = head.getAs[scala.collection.Seq[String]]("part_cols").toSeq
    val ddl = head.getAs[String]("schema_ddl")
    // pre-nulls manifests decode as count-unknown (no pruning) rather
    // than failing the parse — filesOfRows checks per-row schema
    val files = filesOfRows(rows.toSeq)
    // manifests written before column mapping read as identity-mapped
    val colMap =
      if (!head.schema.fieldNames.contains("col_map")) Map.empty[String, String]
      else Option(head.getAs[Map[String, String]]("col_map"))
        .getOrElse(Map.empty)
    val retired =
      if (!head.schema.fieldNames.contains("retired_phys")) Nil
      else Option(head.getAs[scala.collection.Seq[String]]("retired_phys"))
        .map(_.toSeq).getOrElse(Nil)
    // manifests written before delta manifests read as full
    val baseId =
      if (!head.schema.fieldNames.contains("base_id")) None
      else Option(head.getAs[java.lang.Long]("base_id")).map(_.toLong)
    baseId match {
      case None => CowManifest(id, partCols, ddl, files, colMap, retired)
      case Some(b) =>
        val root = baseRoot.getOrElse(throw new IllegalStateException(
          s"manifest $id at $dir is a DELTA (base $b) but was read " +
            "from a context without a table root (staged manifests " +
            "are always written full) — corrupt state"))
        val base =
          try manifest(spark, root, b)
          catch { case e: Exception => throw new IllegalStateException(
            s"delta manifest $id at $root references base snapshot $b " +
              s"which could not be loaded — retention must retain a " +
              s"delta's whole base chain (${e.getMessage})", e) }
        require(base.partCols == partCols,
          s"delta manifest $id at $root changes partitioning " +
            s"(${base.partCols} -> $partCols) — deltas carry entries " +
            "by reference and cannot re-key them; corrupt commit")
        val removed = Option(rows.head
            .getAs[scala.collection.Seq[String]]("removed_parts"))
          .map(_.toSet).getOrElse(Set.empty[String])
        val carried =
          if (removed.isEmpty) base.allFiles
          else base.allFiles.filterNot(f =>
            removed.contains(partKey(partCols, f.part)))
        CowManifest(id, partCols, ddl, carried ++ files, colMap, retired,
          chainDepth = base.chainDepth + 1)
    }
  }

  /** The current snapshot's manifest, if any commit exists. */
  def currentManifest(spark: SparkSession, root: String): Option[CowManifest] =
    committedIds(spark, root).lastOption.map(manifest(spark, root, _))

  /** The current table state (deletion vectors applied). */
  def read(spark: SparkSession, root: String): Option[DataFrame] =
    currentManifest(spark, root).map(m => resolved(spark, root, m, m.files))

  /** The table state of an ALREADY-LOADED manifest — for callers that
    * read the manifest once for its metadata (size, schema, history)
    * and need the matching data frame from the SAME snapshot, without
    * a second manifest read that could land on a newer commit.
    */
  private[graft] def readSnapshot(
      spark: SparkSession, root: String, m: CowManifest): DataFrame =
    resolved(spark, root, m, m.files)

  /** TIME TRAVEL by wall clock (Delta's TIMESTAMP AS OF): the highest
    * snapshot whose manifest COMMITTED (its `_SUCCESS` marker's mtime)
    * at or before `tsMillis`. Commit time is the marker file's mtime —
    * the same authority the commit protocol uses for the commit point
    * itself; retention applies (a vacuumed snapshot is not
    * addressable). None when no snapshot had committed by then.
    */
  def readAtTime(
      spark: SparkSession, root: String, tsMillis: Long): Option[DataFrame] =
    committedIdsAt(spark, root, tsMillis).lastOption
      .map { i =>
        val m = manifest(spark, root, i)
        resolved(spark, root, m, m.files)
      }

  /** Committed ids whose manifest had PUBLISHED (by `_SUCCESS` mtime)
    * at or before `tsMillis` — the single id set every
    * timestamp-addressed surface ([[readAtTime]], the cow data
    * source's `timestampMs` option, [[vacuumOlderThan]]) resolves
    * against, so their notions of "as of" can never diverge.
    */
  def committedIdsAt(
      spark: SparkSession, root: String, tsMillis: Long): Seq[Long] = {
    val fs = hfs(spark, root)
    committedIds(spark, root).filter(i => fs.getFileStatus(
      new Path(s"$root/$ManifestPrefix$i/_SUCCESS"))
      .getModificationTime <= tsMillis)
  }

  /** TIME TRAVEL: highest committed snapshot ≤ `id` (ids ARE versions). */
  def readAt(spark: SparkSession, root: String, id: Long): Option[DataFrame] =
    committedIds(spark, root).filter(_ <= id).lastOption
      .map(i => { val m = manifest(spark, root, i)
        resolved(spark, root, m, m.files) })

  /** RESTORE (Delta's `RESTORE TABLE … TO VERSION AS OF`): commit a
    * NEW snapshot whose content is identical to committed snapshot
    * `toId`, BY REFERENCE — the new manifest lists exactly `toId`'s
    * files (data AND outstanding deletion vectors), so no data file is
    * read, copied or rewritten and the whole operation costs one
    * manifest write whatever the table size. Restore is an UNDO that
    * PRESERVES history: the undone commits stay addressable for time
    * travel until retention removes them, and the feed range crossing
    * the restore is served by snapshot diff (no sidecar is emitted —
    * the restore's net change is "whatever undoes the bad commits",
    * which only the diff can state).
    *
    * Vacuum safety: [[vacuum]]'s batch-dir liveness rule is
    * referenced-by-a-RETAINED-MANIFEST, so the old batch dirs the
    * restored manifest re-references survive retention for as long as
    * the restored snapshot does — even after `toId`'s own manifest is
    * pruned.
    *
    * Schema: the restored manifest carries `toId`'s schema and
    * partitioning verbatim, WITHOUT the forward-evolution gate — undo
    * of a bad schema change is half of restore's point, and the gate's
    * invariant (no carried file straddling two layouts) holds
    * trivially because the file list IS one previously-committed
    * consistent snapshot.
    *
    * Concurrency: the same per-id lease + manifest-lock critical
    * section as every commit; `basedOn` is the current snapshot
    * observed at entry, so a commit racing the restore makes exactly
    * one of the two win ([[CowConcurrentCommitException]] for the
    * other). Restoring to the CURRENT snapshot is a no-op (returns
    * `toId` with no new commit).
    *
    * Returns the new snapshot's id.
    */
  def restore(
      spark: SparkSession, root: String, toId: Long, keep: Int = 2): Long = {
    require(keep >= 1, "must keep at least the current snapshot")
    val ids = committedIds(spark, root)
    require(ids.contains(toId),
      s"restore target $toId is not a committed snapshot at $root" +
        vacuumHwm(spark, root).filter(toId <= _)
          .map(h => s" (vacuumed: retention high-water mark is $h)")
          .getOrElse(""))
    val cur = ids.last
    if (toId == cur) return cur
    val newId = cur + 1
    val target = manifest(spark, root, toId)
    val base = manifest(spark, root, cur)
    val committed =
      leasedCommit(spark, root, newId, Some(base), Some(cur), Some(keep)) {
        Leased.Rewrite(target.allFiles, target.partCols, target.schemaDdl,
          mappingOf(Some(target)))
      }
    if (!committed)
      throw new CowConcurrentCommitException(
        s"restore at $root: commit $newId landed first — restore " +
          "against the new head (nothing was published)")
    newId
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE … SHALLOW CLONE src`): the
    * clone's first snapshot is a MANIFEST-REFERENCE copy of the
    * source's snapshot `asOf` (default: current head) — O(manifest)
    * metadata IO, ZERO data bytes copied. Carried entries reference
    * the source's files by decoded ABSOLUTE path (every reader
    * resolves through [[entryPath]]); writes DIVERGE from the first
    * commit on, landing under the clone's own root exactly like any
    * table — a dev/test fork of a 100 TB table costs kilobytes.
    *
    * SOURCE RETENTION: before the clone manifest lands, a vacuum
    * fence (`clone-<uuid>` → the cloned id) registers at the SOURCE
    * root, so source vacuums retain the cloned snapshot's manifest
    * and files however aggressive their `keep` — the Delta hazard
    * ("VACUUM on the source breaks clones") is closed structurally.
    * The crash order is fence-first: an orphan fence only
    * over-retains. Every deterministic refusal runs BEFORE the fence;
    * a post-fence failure (lost vacuum race, target commit error)
    * releases it — no failed clone leaks retention.
    *
    * LIFECYCLE: the clone records its provenance (source root + fence
    * name, `_cloneprov.tsv` at the target) and the source records the
    * reverse pointer (`_cloneref-<fence>` naming the target), so
    * dropping a clone CAN release its fence — [[releaseCloneFence]]
    * does, and the named catalog's `DROP TABLE` calls it (root
    * deletion FIRST, then the fence: a crash between the two leaves
    * an orphan fence, which only over-retains and which [[fsck]] at
    * the source reports via the reverse pointer).
    *
    * SCOPE: the source snapshot must be debt-free (no outstanding
    * deletion vectors) — their sidecars resolve file
    * identity against THEIR table root, which a foreign-root reader
    * cannot reuse; `OPTIMIZE` folds the debt first. A source that is
    * ITSELF a clone still referencing its own source's files by
    * absolute path is refused: the second-level clone would carry the
    * ORIGINAL root's files while fencing only its immediate source,
    * so dropping the intermediate clone (releasing its fence — the
    * documented flow) would let the original root's vacuum delete
    * files the second-level clone still references. The clone starts
    * with the source's CHECK constraints (already valid for the
    * carried data) and bucket layout (a property of the carried
    * files). Returns the cloned source snapshot id.
    */
  def shallowClone(
      spark: SparkSession, sourceRoot: String, targetRoot: String,
      asOf: Option[Long] = None): Long = {
    val ids = committedIds(spark, sourceRoot)
    require(ids.nonEmpty, s"no committed snapshot at $sourceRoot")
    val at = asOf match {
      case Some(v) => ids.filter(_ <= v).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no committed snapshot at or before $v at $sourceRoot" +
            vacuumHwm(spark, sourceRoot).filter(v <= _)
              .map(h => s" (vacuumed: retention high-water mark is $h)")
              .getOrElse("")))
      case None => ids.last
    }
    require(committedIds(spark, targetRoot).isEmpty,
      s"shallow clone target $targetRoot already has commits")
    val m = manifest(spark, sourceRoot, at)
    require(m.dvs.isEmpty,
      s"shallow clone of $sourceRoot@$at: the snapshot carries " +
        "outstanding merge-on-read debt (deletion " +
        "vectors) whose sidecars are root-anchored — run OPTIMIZE " +
        "on the source to fold the debt, then clone")
    // clone-of-a-clone with still-foreign entries: the carried files
    // live at a root this clone would NOT fence — refuse (see scaladoc)
    val foreign = m.allFiles.filter(_.path.startsWith("/"))
    require(foreign.isEmpty,
      s"shallow clone of $sourceRoot@$at: the snapshot references " +
        s"${foreign.size} file(s) at another table's root (the source " +
        "is itself a shallow clone that has not yet localized them) — " +
        "a second-level clone would outlive the intermediate clone's " +
        "fence; OPTIMIZE the source to rewrite the carried files " +
        "under its own root, then clone")
    val srcUri = hfs(spark, sourceRoot)
      .makeQualified(new Path(sourceRoot)).toUri
    // the absolute-reference convention stores DECODED SCHEME-LESS
    // paths that readers resolve against the session's DEFAULT
    // filesystem — a source on any other filesystem would silently
    // resolve to the wrong store, so refuse it loudly (BEFORE the
    // fence: a deterministic refusal must not leak retention)
    val defUri = org.apache.hadoop.fs.FileSystem
      .get(spark.sessionState.newHadoopConf()).getUri
    require(srcUri.getScheme == defUri.getScheme &&
        Option(srcUri.getAuthority).getOrElse("") ==
          Option(defUri.getAuthority).getOrElse(""),
      s"shallow clone source $srcUri is not on the session's default " +
        s"filesystem ($defUri): carried absolute references would " +
        "resolve against the wrong store — clone within one filesystem")
    // fence FIRST: from here the source's vacuum retains snapshot `at`
    val fenceName =
      "clone-" + java.util.UUID.randomUUID().toString.replace("-", "")
    registerStreamFrontier(spark, sourceRoot, fenceName, at)
    // once the clone's manifest COMMITS, the clone is live and
    // servable — a later failure (e.g. the provenance write) must NOT
    // release the fence, or the source's next vacuum deletes files a
    // readable clone references
    var cloneCommitted = false
    try {
      // the reverse pointer rides with the fence (same crash window:
      // pointer-no-fence is impossible, fence-no-pointer only until
      // the write below lands) so fsck can verify the fence's target
      writeCloneRef(spark, sourceRoot, fenceName, targetRoot)
      // TOCTOU re-check: a source vacuum running BETWEEN the manifest
      // read above and the fence landing may have pruned snapshot `at`
      // (its frontier listing predated the fence). Once the fence is
      // visible no vacuum can remove `at`, so committed-now means
      // committed-for-the-clone's-lifetime; absent-now means the clone
      // would reference deleted files — abort and release the fence.
      if (!committedIds(spark, sourceRoot).contains(at))
        throw new IllegalStateException(
          s"shallow clone lost a race with a source vacuum: snapshot " +
            s"$at at $sourceRoot was pruned before the clone fence " +
            "landed — retry against a retained snapshot")
      val srcAbs = graft.functions.DvDeletedExpr.normalize(srcUri.toString)
      val entries = m.allFiles.map(f =>
        f.copy(path = entryPath(srcAbs, f.path)))
      // bucket layout rides with the carried files; must register
      // before the clone's first commit (setBucketSpec's own rule)
      bucketSpecOf(spark, sourceRoot)
        .foreach(bs => setBucketSpec(spark, targetRoot, bs))
      cloneCommitted =
        leasedCommit(spark, targetRoot, 1L, None, None, keep = None) {
          Leased.Rewrite(entries, m.partCols, m.schemaDdl, mappingOf(Some(m)))
        }
      if (!cloneCommitted)
        throw new CowConcurrentCommitException(
          s"shallow clone target $targetRoot: another writer committed " +
            "its first snapshot first (nothing was published)")
      // provenance at the target: what releaseCloneFence / DROP reads.
      // Written AFTER the commit — a crash in between leaves a clone
      // whose drop cannot auto-release (the documented legacy state,
      // surfaced by fsck at the source), never a dangling pointer.
      writeCloneProv(spark, targetRoot, sourceRoot, fenceName)
    } catch { case t: Throwable =>
      // release on a pre-commit failure only — the clone did not
      // happen. Post-commit failures (provenance write) keep the
      // fence: the clone is LIVE; over-retention beats data loss, and
      // fsck at the source surfaces the state
      if (!cloneCommitted) {
        deleteCloneRef(spark, sourceRoot, fenceName)
        unregisterStreamFrontier(spark, sourceRoot, fenceName)
      }
      throw t
    }
    val checks = checkConstraints(spark, sourceRoot)
    if (checks.nonEmpty)
      // already valid: every carried row passed them at the source
      setCheckConstraints(spark, targetRoot, checks, validate = false)
    at
  }

  // ---- clone provenance: target -> (source, fence); source -> target

  private def cloneProvPath(root: String) = new Path(s"$root/_cloneprov.tsv")
  private def cloneRefPath(root: String, fence: String) =
    new Path(s"$root/_cloneref-$fence")

  private def writeCloneProv(spark: SparkSession, targetRoot: String,
      sourceRoot: String, fence: String): Unit = {
    val fs = hfs(spark, targetRoot)
    val out = fs.create(cloneProvPath(targetRoot), true)
    try out.write((tsvEsc(sourceRoot) + "\t" + tsvEsc(fence))
      .getBytes("UTF-8"))
    finally out.close()
  }

  private def writeCloneRef(spark: SparkSession, sourceRoot: String,
      fence: String, targetRoot: String): Unit = {
    val fs = hfs(spark, sourceRoot)
    val out = fs.create(cloneRefPath(sourceRoot, fence), true)
    try out.write(tsvEsc(targetRoot).getBytes("UTF-8"))
    finally out.close()
  }

  private def deleteCloneRef(spark: SparkSession, sourceRoot: String,
      fence: String): Unit =
    hfs(spark, sourceRoot).delete(cloneRefPath(sourceRoot, fence), false)

  /** The clone provenance a [[shallowClone]] recorded at `root`, if
    * any: `(sourceRoot, fenceName)`.
    */
  def cloneProvenance(
      spark: SparkSession, root: String): Option[(String, String)] = {
    val fs = hfs(spark, root)
    val p = cloneProvPath(root)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val line =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val cut = line.indexOf('\t')
      if (cut < 0) None
      else Some(tsvUnesc(line.substring(0, cut)) ->
        tsvUnesc(line.substring(cut + 1)))
    }
  }

  /** Release the clone fence `root`'s provenance names at its source —
    * the DROP-side half of the clone lifecycle. Call AFTER the clone's
    * root is gone (or is about to be abandoned): releasing while the
    * clone still serves reads would let the source vacuum the files it
    * references. Idempotent; a no-op for non-clones. The named
    * catalog's `DROP TABLE` runs this automatically (root deletion
    * first, then the release — a crash between the two leaves an
    * over-retaining orphan fence, which [[fsck]] at the source
    * reports).
    */
  def releaseCloneFence(spark: SparkSession, root: String,
      prov: Option[(String, String)] = None): Unit =
    prov.orElse(cloneProvenance(spark, root)).foreach {
      case (sourceRoot, fence) =>
        deleteCloneRef(spark, sourceRoot, fence)
        unregisterStreamFrontier(spark, sourceRoot, fence)
    }

  /** Clone fences at `root` whose target no longer exists (no
    * committed snapshot at the recorded target root) — over-retention
    * leaks from crashed or out-of-band clone drops, surfaced for
    * operators to release. A target that HAS commits is never reported
    * — even without its provenance file (a clone that crashed between
    * its manifest commit and the provenance write is LIVE and serving;
    * flagging it would invite a release that lets the source vacuum
    * delete files it reads). A fence with no reverse pointer at all is
    * listed: either a pre-lifecycle clone (release manually once its
    * target is confirmed gone) or a clone INTERRUPTED before its
    * target committed. Report-only — a clone in the middle of being
    * created looks identical for an instant, so nothing is deleted
    * here.
    */
  def orphanCloneFences(spark: SparkSession, root: String): Seq[String] = {
    streamFrontiers(spark, root).keys.toSeq.sorted
      .filter(_.startsWith("clone-"))
      .filter { fence =>
        val fs = hfs(spark, root)
        val ref = cloneRefPath(root, fence)
        if (!fs.exists(ref)) true
        else {
          val in = fs.open(ref)
          val target =
            try tsvUnesc(
              scala.io.Source.fromInputStream(in, "UTF-8").mkString)
            finally in.close()
          // a zero-byte / unreadable ref (crash inside writeCloneRef)
          // counts as no reverse pointer: report, never throw — this
          // is the diagnostic for exactly that crash leftover
          target.isEmpty ||
            scala.util.Try(committedIds(spark, target).isEmpty)
              .getOrElse(true)
        }
      }
  }

  /** METADATA-ONLY schema evolution — `ALTER TABLE … ADD COLUMNS` /
    * `ALTER COLUMN … TYPE <wider>` as a commit that rewrites ZERO data
    * files (Delta's ALTER TABLE semantics; the reference evolves
    * schemas only by `overwriteSchema` full rewrites —
    * jobs/raw/dl_rw_job.py's overwrite mode — which is O(table) where
    * this is O(manifest)):
    *
    *  - the new schema must be a [[SchemaCompat]]-safe GROW of the
    *    current one: every existing column kept at its type or widened
    *    along the documented chains, added columns nullable (carried
    *    files hold no values for them — they read as NULL), partition
    *    column types frozen (their string form is partition identity).
    *  - carried files keep their stats, EXCEPT columns whose widening
    *    changes a value's string form (float→double, decimal rescale):
    *    their blooms AND min/max drop, exactly as a data commit under
    *    the same evolution would drop them (see [[bloomUnsafeCols]] —
    *    a float-era stat understates the upcast double, so an envelope
    *    test could FALSE-SKIP a file).
    *  - column ORDER is anchored to the current schema with additions
    *    appended ([[effSchemaOf]]) — an ALTER cannot reorder files'
    *    columns, so a position spec is refused at the catalog.
    *
    * The next data commit's own [[effSchemaOf]] run then unions any
    * narrower batch into this schema as usual. Subsequent snapshots
    * time-travel: `VERSION AS OF` a pre-ALTER id serves the old
    * schema. Returns false without consuming `id` when already
    * superseded (crash-replay guard, same as every commit path — see
    * the ownership contract on [[commitPartitions]]); true when the
    * evolution is in the table, including the no-op-ALTER case.
    */
  def evolveSchema(
      spark: SparkSession, root: String, id: Long,
      newSchema: StructType, keep: Int = 2): Boolean = {
    require(keep >= 1, "must keep at least the current snapshot")
    if (committedIds(spark, root).exists(_ >= id)) return false
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    m.schema.fieldNames.foreach(c =>
      require(newSchema.fieldNames.contains(c),
        s"schema evolution is grow-only: column $c would be dropped " +
          "(drops/renames would orphan carried files' data — rewrite " +
          "via commitFull under the new schema instead)"))
    newSchema.fields.filterNot(f => m.schema.fieldNames.contains(f.name))
      .foreach(f => require(f.nullable,
        s"added column ${f.name} must be nullable: carried files hold " +
          "no values for it, so existing rows read it as NULL"))
    val eff = effSchemaOf(Some(m), newSchema)
    validateEvolution(m, eff, m.partCols)
    if (eff.toDDL == m.schemaDdl) return true // no-op ALTER — id unconsumed
    // a pure ADD/widen that drops no carried stats changes no entry —
    // the schema rides the delta's own header
    leasedCommit(spark, root, id, Some(m), Some(m.id), Some(keep)) {
      Leased.Adds(Nil, eff.toDDL, mappingForAdds(Some(m), eff),
        statsUnsafe = bloomUnsafeCols(m, eff))
    }
  }

  /** Column names a CHECK-constraint predicate references (top-level
    * attribute parts of the parsed expression).
    */
  private def constraintRefs(spark: SparkSession, sql: String): Set[String] = {
    val e = spark.sessionState.sqlParser.parseExpression(sql)
    e.collect {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        u.nameParts.head
    }.toSet
  }

  /** `ALTER TABLE … RENAME COLUMN old TO new` as a METADATA-ONLY
    * commit (Delta's column-mapping rename): the column's PHYSICAL
    * name — what the data files store — never changes; the new
    * manifest carries the new logical schema, the logical→physical
    * map, and its own stat/part keys re-keyed to the new name, so
    * ZERO data files rewrite and every reader serves the new name
    * through the mapping seams ([[readLogical]], the mapped parquet
    * format). Time travel across the rename serves the OLD name (each
    * manifest carries its own map). CHECK constraints referencing the
    * column re-point (parse → rename → re-render). Refused when:
    *  - the new name already exists (case-insensitive);
    *  - a registered bucket layout references the column (bucket file
    *    tags and the planner's bucket spec are name-anchored);
    *  - retained change-feed sidecars exist (`_changes/` non-empty) —
    *    sidecar files store write-time names that feed readers request
    *    under the CURRENT schema; vacuum past them first.
    */
  def renameColumn(
      spark: SparkSession, root: String, id: Long,
      oldName: String, newName: String, keep: Int = 2): Boolean = {
    require(keep >= 1, "must keep at least the current snapshot")
    if (committedIds(spark, root).exists(_ >= id)) return false
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    require(m.schema.fieldNames.contains(oldName),
      s"RENAME COLUMN: no column $oldName at $root")
    require(!m.schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"RENAME COLUMN: column $newName already exists at $root")
    bucketSpecOf(spark, root).foreach(bs =>
      require(!(bs.keyCols :+ bs.partCol).contains(oldName),
        s"RENAME COLUMN $oldName: the registered bucket layout " +
          "references it (bucket file tags and the planner spec are " +
          "name-anchored) — rewrite under the new shape instead"))
    val fs = hfs(spark, root)
    val changes = new Path(root, ChangesDir)
    require(!fs.exists(changes) || fs.listStatus(changes).isEmpty,
      s"RENAME COLUMN at $root: retained change-feed sidecars exist — " +
        "they store write-time column names that feed readers request " +
        "under the current schema; VACUUM past them (or rebuild feed " +
        "consumers), then rename")
    val newSchema = StructType(m.schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val newMap = (m.colMap - oldName) + (newName -> m.phys(oldName))
    def rekey[V](mm: Map[String, V]): Map[String, V] =
      mm.map { case (k, v) =>
        (if (k == oldName) newName else k) -> v }
    val files = m.allFiles.map(f => f.copy(
      part = rekey(f.part), mins = rekey(f.mins), maxs = rekey(f.maxs),
      blooms = rekey(f.blooms), nulls = rekey(f.nulls)))
    val newPartCols =
      m.partCols.map(c => if (c == oldName) newName else c)
    // constraints re-point by parse → transform → re-render, made
    // ATOMIC with the manifest commit via the PENDING protocol (round
    // 15, closing the round-14 crash window): the repointed set lands
    // as `_checks.tsv.pending-<id>` BEFORE the manifest (under the
    // per-id lease, so no other writer can take the id meanwhile) and
    // is adopted — one atomic rename — right after; a crash between
    // the two is HEALED lazily by [[checkConstraints]], which adopts a
    // pending whose rename demonstrably committed (the id's manifest
    // carries the new name and not the old) and discards one whose id
    // went to some other statement. No observer can see a committed
    // rename with un-repointed constraints.
    val checks = checkConstraints(spark, root)
    val repointed = checks.map { case (n, sql) =>
      if (!constraintRefs(spark, sql).exists(_.equalsIgnoreCase(oldName)))
        n -> sql
      else n -> spark.sessionState.sqlParser.parseExpression(sql)
        .transform {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if u.nameParts.head.equalsIgnoreCase(oldName) =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
              newName +: u.nameParts.tail)
        }.sql
    }
    leasedCommit(spark, root, id, Some(m), Some(m.id), Some(keep)) {
      val repoint = repointed != checks
      if (repoint)
        writePendingChecks(spark, root, id, oldName, newName, repointed)
      Leased.Rewrite(files, newPartCols, newSchema.toDDL,
        (newMap, m.retiredPhys), pendingChecks = repoint)
    }
  }

  // ---- pending-constraint protocol (atomic RENAME re-point) ----

  private def pendingChecksPath(root: String, id: Long) =
    new Path(s"$root/_checks.tsv.pending-$id")

  /** Stage the repointed set for commit `id`: the first line records
    * the rename (`#rename <old> <new>`, tab-separated) so the healer
    * can verify against the id's committed schema; the rest is the
    * ordinary tsv.
    */
  private def writePendingChecks(
      spark: SparkSession, root: String, id: Long,
      oldName: String, newName: String,
      checks: Map[String, String]): Unit = {
    val fs = hfs(spark, root)
    val out = fs.create(pendingChecksPath(root, id), true)
    try out.write((
      (s"#rename\t${tsvEsc(oldName)}\t${tsvEsc(newName)}" +:
        checks.toSeq.sortBy(_._1)
          .map { case (n, e) => tsvEsc(n) + "\t" + tsvEsc(e) })
        .mkString("\n")).getBytes("UTF-8"))
    finally out.close()
  }

  /** Publish the staged set: one atomic rename over `_checks.tsv`
    * (the same publish idiom as [[setCheckConstraints]]). Strips the
    * header by rewriting — file is tiny.
    */
  private def adoptPendingChecks(
      spark: SparkSession, root: String, id: Long): Unit = {
    val fs = hfs(spark, root)
    val p = pendingChecksPath(root, id)
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val body = lines.filterNot(_.startsWith("#rename\t"))
    val tmp = new Path(s"$root/_checks.tsv.adopt-$id")
    val out = fs.create(tmp, true)
    try out.write(body.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(checksPath(root), false)
    if (!fs.rename(tmp, checksPath(root))) {
      fs.delete(tmp, false)
      // a CONCURRENT healer of the same crashed rename won the
      // publish — identical content, losing is benign and the
      // pending may be consumed. Any OTHER writer landing in the
      // window (e.g. an ADD CONSTRAINT publish) must NOT consume the
      // pending: its set was computed from the un-repointed text, and
      // deleting the pending would destroy the only heal source —
      // leave it for a later heal pass instead.
      val in2 = fs.open(checksPath(root))
      val published =
        try scala.io.Source.fromInputStream(in2, "UTF-8").mkString
        finally in2.close()
      if (published != body.mkString("\n")) return
    }
    fs.delete(p, false)
  }

  /** Heal crashed rename re-points: adopt the pending whose rename
    * demonstrably COMMITTED (the id's manifest has the new name, not
    * the old), discard pendings whose id went to some other statement
    * or can never commit, and leave a possibly-in-flight one alone.
    */
  private def healPendingChecks(spark: SparkSession, root: String): Unit = {
    val fs = hfs(spark, root)
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return
    val pendings = fs.listStatus(rootPath).toSeq
      .filter(s => !s.isDirectory &&
        s.getPath.getName.startsWith("_checks.tsv.pending-"))
      .flatMap(s => s.getPath.getName
        .stripPrefix("_checks.tsv.pending-").toLongOption)
      .sorted.reverse
    if (pendings.isEmpty) return
    val ids = committedIds(spark, root)
    pendings.foreach { id =>
      val p = pendingChecksPath(root, id)
      def renamePair: Option[(String, String)] = {
        val in = fs.open(p)
        val header =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .toList.headOption.getOrElse("")
          finally in.close()
        val parts = header.split("\t", -1)
        if (parts.length == 3 && parts(0) == "#rename")
          Some((tsvUnesc(parts(1)), tsvUnesc(parts(2))))
        else None
      }
      if (ids.contains(id)) {
        val renamed = renamePair.exists { case (o, n) =>
          val sch = manifest(spark, root, id).schema.fieldNames
          sch.contains(n) && !sch.contains(o)
        }
        if (renamed) adoptPendingChecks(spark, root, id)
        else fs.delete(p, false) // the id went to some other statement
      } else if (ids.lastOption.exists(_ >= id)) {
        // the id itself is gone. If retention never removed a
        // committed manifest at or above it, the id NEVER committed —
        // the rename lost its race and the pending is dead. If the
        // vacuum high-water mark covers it, committed-then-vacuumed is
        // possible (MOR/DV commits never read constraints, so several
        // keep=2 vacuums can outrun the first heal): decide from the
        // LIVE schema — renames carry forward, so new-present and
        // old-absent at the head means the rename (or an equivalent)
        // committed and the repointed set is the right one to adopt;
        // old-present means it did not. Both or neither present (later
        // drops/adds muddied the trail) is undecidable — fail LOUD
        // rather than guess with the only heal source.
        if (!vacuumHwm(spark, root).exists(_ >= id)) {
          fs.delete(p, false) // never committed: the rename lost
        } else renamePair match {
          case Some((o, n)) =>
            val sch = currentManifest(spark, root)
              .map(_.schema.fieldNames.toSeq).getOrElse(Nil)
            if (sch.contains(n) && !sch.contains(o))
              adoptPendingChecks(spark, root, id)
            else if (sch.contains(o) && !sch.contains(n))
              fs.delete(p, false)
            else throw new IllegalStateException(
              s"pending constraint re-point $p is undecidable: its " +
                s"snapshot $id was vacuumed and the current schema " +
                s"carries neither a clear '$o' nor a clear '$n' — " +
                "inspect and either rename the pending onto " +
                "_checks.tsv or delete it")
          case None => fs.delete(p, false) // malformed — unusable
        }
      } // else: possibly in flight under its lease — leave it
    }
  }

  /** `ALTER TABLE … ALTER COLUMN c FIRST | AFTER other` (and the
    * positioned half of ADD COLUMNS) as a METADATA-ONLY commit:
    * column ORDER is a property of the LOGICAL schema alone — every
    * read resolves file columns BY NAME (parquet projection,
    * [[readLogical]], the mapped format), so the manifest's field
    * order can change freely while carried files keep theirs. Order
    * is not cosmetic: star expansion and POSITIONAL `INSERT INTO t
    * VALUES (…)` bind by it, which is why the statement exists.
    * Partition columns may move like any other (partitioning is a
    * column SET, not an order).
    */
  def reorderColumn(
      spark: SparkSession, root: String, id: Long,
      name: String, afterOrFirst: Option[String],
      keep: Int = 2): Boolean = {
    require(keep >= 1, "must keep at least the current snapshot")
    if (committedIds(spark, root).exists(_ >= id)) return false
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    require(m.schema.fieldNames.contains(name),
      s"ALTER COLUMN position: no column $name at $root")
    afterOrFirst.foreach(a =>
      require(m.schema.fieldNames.contains(a) && a != name,
        s"ALTER COLUMN $name AFTER $a: no such (distinct) column"))
    val moved = m.schema.fields.find(_.name == name).get
    val rest = m.schema.fields.filterNot(_.name == name)
    val newFields = afterOrFirst match {
      case None => moved +: rest
      case Some(a) =>
        val i = rest.indexWhere(_.name == a)
        (rest.take(i + 1) :+ moved) ++ rest.drop(i + 1)
    }
    val newSchema = StructType(newFields)
    if (newSchema.toDDL == m.schemaDdl) return true // no-op
    // a reorder changes no entry at all — pure schema delta
    leasedCommit(spark, root, id, Some(m), Some(m.id), Some(keep)) {
      Leased.Adds(Nil, newSchema.toDDL, mappingOf(Some(m)))
    }
  }

  /** `ALTER TABLE … DROP COLUMN` as a METADATA-ONLY commit: carried
    * files keep the bytes (readers simply stop requesting the
    * column); the physical name RETIRES so a later ADD of the same
    * logical name allocates a fresh physical name instead of
    * resurrecting the dropped data. Refused for partition columns,
    * the last column, bucket-layout columns, and columns a CHECK
    * constraint references (DROP the constraint first).
    */
  def dropColumn(
      spark: SparkSession, root: String, id: Long,
      name: String, keep: Int = 2): Boolean = {
    require(keep >= 1, "must keep at least the current snapshot")
    if (committedIds(spark, root).exists(_ >= id)) return false
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    require(m.schema.fieldNames.contains(name),
      s"DROP COLUMN: no column $name at $root")
    require(!m.partCols.contains(name),
      s"DROP COLUMN $name: partition columns are the table's layout — " +
        "rewrite under a new partitioning instead")
    require(m.schema.fields.length > 1,
      s"DROP COLUMN $name would leave the table without columns")
    bucketSpecOf(spark, root).foreach(bs =>
      require(!(bs.keyCols :+ bs.partCol).contains(name),
        s"DROP COLUMN $name: the registered bucket layout references " +
          "it — rewrite under the new shape instead"))
    // retained change-feed sidecars store the column's write-time
    // values; a DROP + re-ADD would resurrect them through the feed
    val changesDir = new Path(root, ChangesDir)
    val dropFs = hfs(spark, root)
    require(!dropFs.exists(changesDir) ||
        dropFs.listStatus(changesDir).isEmpty,
      s"DROP COLUMN at $root: retained change-feed sidecars exist — " +
        "VACUUM past them (or rebuild feed consumers), then drop")
    val checks = checkConstraints(spark, root)
    checks.foreach { case (n, sql) =>
      require(!constraintRefs(spark, sql).exists(_.equalsIgnoreCase(name)),
        s"DROP COLUMN $name: CHECK constraint $n references it — " +
          s"ALTER TABLE … DROP CONSTRAINT $n first") }
    val newSchema = StructType(m.schema.fields.filterNot(_.name == name))
    val files = m.allFiles.map(f => f.copy(
      mins = f.mins - name, maxs = f.maxs - name,
      blooms = f.blooms - name, nulls = f.nulls - name))
    leasedCommit(spark, root, id, Some(m), Some(m.id), Some(keep)) {
      Leased.Rewrite(files, m.partCols, newSchema.toDDL,
        (m.colMap - name, m.retiredPhys :+ m.phys(name)))
    }
  }

  // -------------------------------------------------------------------
  // CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT): named SQL
  // boolean expressions every commit's written data must satisfy.
  // -------------------------------------------------------------------

  private def checksPath(root: String) = new Path(s"$root/_checks.tsv")

  private def tsvEsc(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t")
      .replace("\n", "\\n").replace("\r", "\\r")

  private def tsvUnesc(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => b += '\\'
          case 't' => b += '\t'
          case 'n' => b += '\n'
          case 'r' => b += '\r'
          case o => b += '\\' += o
        }
        i += 2
      } else { b += c; i += 1 }
    }
    b.toString
  }

  /** Register the table's CHECK constraints (`name -> SQL boolean
    * expression`), REPLACING the previous set. Delta's ADD CONSTRAINT
    * semantics: the CURRENT table state is validated against the new
    * set first (one scan), so a registered constraint is a real
    * invariant — every row that was ever visible under it passed it.
    * Subsequent commits validate their written data in one extra
    * batch-sized pass ([[CowConstraintException]] on violation, before
    * anything is published); SQL-standard NULL semantics — a row
    * violates only when the expression is FALSE, NULL passes (state
    * `x IS NOT NULL` explicitly for NOT NULL enforcement). The set is
    * a tiny flat file read with plain filesystem I/O — constraint
    * lookup costs a commit no Spark job. [[restore]] is exempt: it
    * republishes a previously-committed snapshot, which may predate
    * the constraint.
    */
  def setCheckConstraints(
      spark: SparkSession, root: String, checks: Map[String, String],
      validate: Boolean = true): Unit = {
    // heal first: a crashed rename's pending must resolve BEFORE this
    // replacement lands, or a later heal would clobber the new set
    healPendingChecks(spark, root)
    // validate=false is ONLY for callers that can prove the new set is
    // implied by the old one (a pure DROP CONSTRAINT: shrinking the set
    // cannot invalidate data every commit already passed) — it skips
    // the one full-table scan, not the per-commit enforcement
    if (validate) currentManifest(spark, root).foreach { m =>
      enforceChecks(readSnapshot(spark, root, m), checks,
        s"existing data at $root refuses the new constraint set")
    }
    val fs = hfs(spark, root)
    fs.mkdirs(new Path(root))
    val tmp = new Path(s"$root/_checks.tsv.tmp")
    val out = fs.create(tmp, true)
    try out.write(checks.toSeq.sortBy(_._1)
      .map { case (n, e) => tsvEsc(n) + "\t" + tsvEsc(e) }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(checksPath(root), false)
    require(fs.rename(tmp, checksPath(root)),
      s"could not publish constraint set at $root")
  }

  /** Canonical fingerprint of a constraint set — what [[stageAppend]]
    * records so [[publishStaged]] can tell whether the set changed
    * between stage and publish (order-free, content-exact).
    */
  private def checksFingerprint(checks: Map[String, String]): String = {
    val canon = checks.toSeq.sortBy(_._1)
      .map { case (n, e) => tsvEsc(n) + "\t" + tsvEsc(e) }.mkString("\n")
    val d = java.security.MessageDigest.getInstance("SHA-256")
    d.digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** The registered CHECK constraints (empty when none). Heals any
    * crashed RENAME re-point first (see [[healPendingChecks]]), so no
    * caller can observe a committed rename with un-repointed
    * constraints.
    */
  def checkConstraints(spark: SparkSession, root: String): Map[String, String] = {
    healPendingChecks(spark, root)
    val fs = hfs(spark, root)
    val p = checksPath(root)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val bytes =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](8192)
          var n = in.read(chunk)
          while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
          buf.toByteArray
        } finally in.close()
      new String(bytes, "UTF-8").split("\n").filter(_.nonEmpty).map { line =>
        val cut = line.indexOf('\t')
        tsvUnesc(line.substring(0, cut)) -> tsvUnesc(line.substring(cut + 1))
      }.toMap
    }
  }

  /** One batch-sized job: evaluate every constraint as a violation
    * flag, surface the FIRST offending row with the names of every
    * constraint it breaks and its content — the error a data engineer
    * debugs from, not a bare boolean.
    */
  private def enforceChecks(
      df: DataFrame, checks: Map[String, String], what: String): Unit = {
    if (checks.isEmpty) return
    val names = checks.keys.toSeq.sorted
    val flags = names.map(n =>
      (!coalesce(expr(checks(n)), lit(true))).as(n))
    val rowJson = to_json(struct(df.columns.map(col): _*)).as("__row")
    val bad = df.select(flags :+ rowJson: _*)
      .where(names.map(col).reduce(_ || _))
      .limit(1).collect()
    bad.headOption.foreach { r =>
      val broken = names.filter(n => r.getAs[Boolean](n))
      throw new CowConstraintException(
        s"$what: CHECK constraint${if (broken.size > 1) "s" else ""} " +
          s"${broken.map(n => s"$n (${checks(n)})").mkString(", ")} " +
          s"violated by row ${r.getAs[String]("__row")}")
    }
  }

  /** CHANGE DATA FEED between two committed snapshots: the I/U/D
    * changelog that replays snapshot `fromId` into snapshot `toId`
    * (Delta's table_changes / Iceberg's changelog scan).
    *
    * Served two ways, cheapest first:
    *  1. WRITE-TIME SIDECARS — when every commit in the range emitted
    *     its signed changelog (`changeLogKeys` at commit), the feed is
    *     the NET of the concatenated sidecars ([[changeFeedFromLog]]):
    *     O(sum of batch sizes), never touching table data. This is the
    *     100 TB path — a day of commits against a 100 TB table reads
    *     only that day's deltas.
    *  2. SNAPSHOT DIFF — the honest fallback when any commit in the
    *     range lacks a sidecar: time travel + [[Cdc.changelog]], a
    *     full-outer join of the two snapshots. Round-trip
    *     (apply(feed) == destination) is property-pinned in CdcSpec;
    *     sidecar ≡ diff equivalence is oracle-pinned
    *     (`cow_change_feed`).
    */
  def changeFeed(
      spark: SparkSession,
      root: String,
      fromId: Long,
      toId: Long,
      keyCols: Seq[String],
      operCol: String = "oper"): DataFrame = {
    require(fromId <= toId, s"fromId $fromId > toId $toId")
    changeFeedFromLog(spark, root, fromId, toId, keyCols, operCol)
      .getOrElse(changeFeedByDiff(spark, root, fromId, toId, keyCols, operCol))
  }

  /** The diff-serving path of [[changeFeed]], always available. */
  def changeFeedByDiff(
      spark: SparkSession, root: String, fromId: Long, toId: Long,
      keyCols: Seq[String], operCol: String = "oper"): DataFrame = {
    val before = readAt(spark, root, fromId).getOrElse(
      throw new IllegalArgumentException(
        s"no committed snapshot at or before $fromId under $root"))
    val after = readAt(spark, root, toId).getOrElse(
      throw new IllegalArgumentException(
        s"no committed snapshot at or before $toId under $root"))
    Cdc.changelog(before, after, keyCols, operCol)
  }

  /** The sidecar-serving path of [[changeFeed]]: None unless EVERY
    * commit in `(fromId, toId]` (snapped to committed ids) wrote a
    * `_changes/<id>/` sidecar whose schemas agree up to WIDENING
    * (older sidecars upcast into the newest — a safely-evolved range
    * stays on the O(batch) path). Vacuum retains the
    * newest manifests as a SUFFIX of history, so the committed-id
    * enumeration over a servable range is complete — a vacuumed-away
    * commit forces `fromId` itself out of range rather than silently
    * dropping its changes.
    *
    * The net of the signed per-batch logs reproduces the snapshot diff
    * EXACTLY: a key's first signed record in range, if `D`, carries
    * its `fromId`-time image (every batch logs the before-image it
    * displaced), and its last record, if `I`, carries its final image —
    * so existed/exists at the range edges plus those two images decide
    * I/U/D/nothing with no table read.
    */
  def changeFeedFromLog(
      spark: SparkSession, root: String, fromId: Long, toId: Long,
      keyCols: Seq[String], operCol: String = "oper"): Option[DataFrame] = {
    require(fromId <= toId, s"fromId $fromId > toId $toId")
    val ids = committedIds(spark, root)
    val effFrom = ids.filter(_ <= fromId).lastOption.getOrElse(return None)
    val effTo = ids.filter(_ <= toId).lastOption.getOrElse(return None)
    val range = ids.filter(i => i > effFrom && i <= effTo)
    if (range.isEmpty) return None
    val fs = hfs(spark, root)
    val dirs = range.map(i => s"$root/$ChangesDir/$i")
    val found = dirs.iterator.map(d => sidecarSchema(spark, fs, d))
      .takeWhile(_.nonEmpty).flatten.toVector
    if (found.size < dirs.size) return None
    // nullability varies with the writer (an empty fold sidecar vs a
    // delete's semi-join) — compare and read under the relaxed form
    val schemas = found.map(relaxed)
    // schema evolved mid-range: servable anyway when every older
    // sidecar's schema UPCASTS into the newest (the same SchemaCompat
    // widening gate the table's carried data files passed at commit) —
    // the parquet reader then widens narrow columns (SPARK-40876) and
    // fills added ones with NULL, exactly as carried data files read
    // under the evolved table schema. A non-widening mix (dropped or
    // retyped column — impossible for sidecars of committed evolution,
    // but this layer doesn't assume) keeps the honest None →
    // snapshot-diff fallback. Newest is widest: evolution is grow-only.
    val target = schemas.last
    if (!schemas.forall(s => s == target ||
        graft.types.SchemaCompat.check(s, target).compatible)) return None
    val log = dirs.zip(range).map { case (d, i) =>
      spark.read.schema(target).parquet(d).withColumn("__cid", lit(i))
    }.reduce(_.unionByName(_))
    Some(netSignedLog(log, keyCols, operCol))
  }

  /** One commit's SIGNED changelog sidecar (D-before/I-after rows, the
    * [[Cdc.changelogSigned]] form), if the commit emitted one. This is
    * the feed RETRACTABLE aggregation consumes
    * ([[graft.operators.MaterializedAgg.retractStateOf]]): a downstream
    * MV applies each commit's sidecar with ±1 weights and never
    * rescans the table — oracle-pinned in `cow_mv_from_feed`.
    */
  /** Whether commit `id` PUBLISHED a changelog sidecar (complete —
    * `_SUCCESS` present). Consumers that can only see sidecar rows
    * ([[graft.streaming.CowStream]]) use this to detect committed ids
    * that never emitted one and fail loud instead of diverging.
    */
  def hasChangeLog(spark: SparkSession, root: String, id: Long): Boolean =
    hfs(spark, root).exists(new Path(s"$root/$ChangesDir/$id/_SUCCESS"))

  def changeLogFor(
      spark: SparkSession, root: String, id: Long,
      operCol: String = "oper"): Option[DataFrame] = {
    // the id must have actually COMMITTED: a crash between sidecar
    // publish and manifest write can orphan a sidecar, and serving it
    // would hand consumers changes that never took effect
    if (!committedIds(spark, root).contains(id)) None
    else {
      val d = s"$root/$ChangesDir/$id"
      sidecarSchema(spark, hfs(spark, root), d).map(s =>
        spark.read.schema(s).parquet(d).withColumnRenamed(ChangeOper, operCol))
    }
  }

  /** A complete `_changes/<id>` sidecar's schema, from one data file's
    * footer ([[Bridge.footerSchema]]: driver-side, no Spark job) — None
    * when the dir is missing or has no `_SUCCESS`. The one listing is
    * also the `_SUCCESS` probe. A footer without a Spark schema falls
    * back to Spark's inference.
    */
  private def sidecarSchema(
      spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[StructType] = {
    val kids =
      try fs.listStatus(new Path(dir))
      catch { case _: java.io.FileNotFoundException => return None }
    if (!kids.exists(_.getPath.getName == "_SUCCESS")) None
    else Some(kids.map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .sortBy(_.getName).headOption
      .flatMap(p => org.apache.spark.sql.graftbridge.Bridge
        .footerSchema(spark, p.toString))
      .getOrElse(spark.read.parquet(dir).schema))
  }

  /** `s` with every field, element and value nullable — the form
    * Spark's file reader gives a schema, so two writers' schemas that
    * differ only in nullability compare equal.
    */
  private def relaxed(s: StructType): StructType = {
    def relax(dt: DataType): DataType = dt match {
      case s: StructType => relaxed(s)
      case a: ArrayType => a.copy(relax(a.elementType), containsNull = true)
      case m: MapType =>
        m.copy(relax(m.keyType), relax(m.valueType), valueContainsNull = true)
      case other => other
    }
    StructType(s.fields.map(f => f.copy(dataType = relax(f.dataType),
      nullable = true)))
  }

  /** Net a concatenation of per-batch SIGNED changelogs down to the
    * I/U/D diff feed — one shuffle on the keys, log-sized.
    */
  private def netSignedLog(
      log: DataFrame, keyCols: Seq[String], operCol: String): DataFrame = {
    val outCols = log.columns.toSeq
      .filterNot(c => c == ChangeOper || c == "__cid")
    val dataCols = outCols.filterNot(keyCols.contains)
    // chronological order: commit id, then D-before-I inside one batch
    // (an in-batch update logs D(old) then I(new))
    val seqNo = col("__cid") * 2 +
      when(col(ChangeOper) === "D", lit(0)).otherwise(lit(1))
    val rec = struct(col(ChangeOper).as("o"),
      struct(dataCols.map(col): _*).as("v"))
    log.groupBy(keyCols.map(col): _*)
      .agg(min_by(rec, seqNo).as("__first"), max_by(rec, seqNo).as("__last"))
      .withColumn(operCol,
        when(col("__first.o") === "D" && col("__last.o") === "I",
          when(col("__first.v") <=> col("__last.v"), lit(null))
            .otherwise(lit("U")))
          .when(col("__first.o") === "D", lit("D"))
          .when(col("__last.o") === "I", lit("I")))
      .where(col(operCol).isNotNull)
      .select(outCols.map { c =>
        if (keyCols.contains(c)) col(c)
        else when(col(operCol) === "D", col(s"__first.v.$c"))
          .otherwise(col(s"__last.v.$c")).as(c)
      } :+ col(operCol): _*)
  }

  /** MERGE-ON-READ resolution: the data files' rows minus every row a
    * positional deletion vector of the same partitions names. The
    * vectors mask INSIDE the scan (a codegen'd filter, no join), and
    * only the wanted partitions' sidecars load; [[foldTombstones]]
    * retires them. Mapped tables materialize `_metadata` across the
    * logical projection ([[dfForMeta]]) so the mask can still address
    * file/pos; it drops again before the frame leaves this seam.
    */
  private def resolved(
      spark: SparkSession, root: String,
      m: CowManifest, dataFiles: Seq[CowFile]): DataFrame = {
    val wanted = dataFiles.map(m.partKeyOf).toSet
    val dvFiles = m.dvs.filter(d => wanted.contains(m.partKeyOf(d)))
    val df =
      if (dvFiles.nonEmpty && m.mapped) dfForMeta(spark, root, m, dataFiles)
      else dfFor(spark, root, m, dataFiles)
    applyDvs(spark, root, df,
      col("_metadata.file_path"), col("_metadata.row_index"), dvFiles)
      .drop("_metadata")
  }

  /** Apply positional deletion vectors as a SCAN-STAGE mask: filter
    * with [[graft.functions.DvDeletedExpr]] on the scan's own
    * `_metadata` columns. The read-time cost is a codegen'd per-row
    * binary search — no anti-join, no build/probe, no shuffle. This is
    * the one delete form every merge-on-read read applies
    * ([[resolved]], [[visibleWithPos]], the planner's file index).
    *
    * The DRIVER'S part here is metadata-only: it hands the expression
    * the sidecar PATHS (one manifest entry per DV commit per touched
    * partition), the canonical root and the session Hadoop conf —
    * never a position. Each EXECUTOR loads the delete-batch-sized
    * sidecars itself on first use ([[graft.functions.DvSidecars]],
    * cached per snapshot per JVM), so a 100 TB table's delete debt
    * flows storage→executors directly instead of through a driver
    * collect + global broadcast, whose heap and egress were the
    * previous scale ceiling.
    *
    * `fpCol`/`posCol` are passed in because callers that need the
    * position AFTER other operators (the DV writer itself) must
    * project `_metadata` before joins detach it from the scan.
    *
    * Exactness note: positions are FILE positions (`row_index`), so
    * the mask composes with any later file pruning or parquet
    * row-group skipping — a skipped row simply never tests.
    */
  private[sinks] def applyDvs(
      spark: SparkSession, root: String, df: DataFrame,
      fpCol: Column, posCol: Column, dvFiles: Seq[CowFile]): DataFrame = {
    if (dvFiles.isEmpty) return df
    val fs = hfs(spark, root)
    // the canonical decoded root — map keys are rootKey + "/" + the
    // sidecars' stored LITERAL relative paths, the same form the mask
    // derives from _metadata.file_path at runtime
    val rootKey = graft.functions.DvDeletedExpr.normalize(
      fs.makeQualified(new Path(root)).toUri.toString)
    val uri = fs.makeQualified(new Path(root)).toUri
    // literal absolute sidecar paths; the executor re-escapes via the
    // multi-arg URI ctor (hive-escaped partition dirs, space values)
    val sidecars = dvFiles.map(f => entryPath(rootKey, f.path)).sorted
    import org.apache.spark.sql.graftbridge.Bridge
    df.where(!Bridge.column(graft.functions.DvDeletedExpr(
      Bridge.expression(fpCol), Bridge.expression(posCol),
      rootKey, sidecars, uri.getScheme, uri.getAuthority,
      new graft.functions.SerializableHadoopConf(
        spark.sessionState.newHadoopConf()))))
  }

  /** Resolve a manifest entry path against the table root: SHALLOW
    * CLONE manifests reference the SOURCE table's files by DECODED
    * ABSOLUTE path (leading '/'), everything else is root-relative.
    * Every reader resolves through this, so a clone's carried files
    * serve from where they live — zero bytes copied at clone time.
    */
  def entryPath(root: String, p: String): String =
    if (p.startsWith("/")) p else s"$root/$p"

  /** Read parquet `paths` — whose files store PHYSICAL column names —
    * as the LOGICAL `schema`. Identity-mapped tables (every table
    * until its first RENAME/DROP) take the plain reader, so their
    * plans are bit-identical to the pre-mapping engine; mapped tables
    * read under the physical schema and alias back to logical in one
    * scan-stage projection. `meta = true` additionally materializes
    * the `_metadata` struct as a column of that name, so callers keep
    * addressing `_metadata.file_path` across the projection (the
    * VIRTUAL metadata column does not survive a select).
    */
  private def readLogical(spark: SparkSession, paths: Seq[String],
      schema: StructType, colMap: Map[String, String],
      meta: Boolean = false): DataFrame = {
    val mapped = colMap.filter { case (l, p) => l != p }
    if (mapped.isEmpty) spark.read.schema(schema).parquet(paths: _*)
    else {
      val phys = StructType(schema.fields.map(f =>
        f.copy(name = mapped.getOrElse(f.name, f.name))))
      val raw = spark.read.schema(phys).parquet(paths: _*)
      val logicalCols = schema.fields.toSeq.map(f =>
        raw(mapped.getOrElse(f.name, f.name)).as(f.name))
      raw.select(
        (if (meta) Seq(col("_metadata").as("_metadata"))
         else Nil) ++ logicalCols: _*)
    }
  }

  /** DataFrame over an explicit subset of a manifest's files, read
    * under the MANIFEST's schema — older files missing newly-evolved
    * columns surface them as NULL without any footer-merging pass;
    * physically-renamed columns alias back to their logical names.
    */
  def dfFor(
      spark: SparkSession,
      root: String,
      m: CowManifest,
      files: Seq[CowFile]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], m.schema)
    else
      readLogical(spark, files.map(f => entryPath(root, f.path)),
        m.schema, m.colMap)

  /** [[dfFor]] with `_metadata` kept addressable across the mapping
    * projection — for the DV-mask and positional-delete paths, which
    * need `_metadata.file_path`/`row_index` on the logical frame.
    * Callers must not leak the materialized `_metadata` column into
    * committed frames (drop it, or project explicit fields).
    */
  private def dfForMeta(
      spark: SparkSession,
      root: String,
      m: CowManifest,
      files: Seq[CowFile]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], m.schema)
    else
      readLogical(spark, files.map(f => entryPath(root, f.path)),
        m.schema, m.colMap, meta = true)

  // -------------------------------------------------------------------
  // Data skipping
  // -------------------------------------------------------------------

  /** Typed stats comparison: numerics compare as decimal values,
    * everything else in its Spark string form (date / timestamp /
    * boolean string forms are order-preserving). None = incomparable
    * (NaN, malformed) — callers must treat as "cannot skip".
    *
    * Strings compare as UNSIGNED UTF-8 BYTES, not Java chars: Spark's
    * UTF8String ordering is binary, and Java's UTF-16 code-unit
    * compareTo disagrees with it for supplementary characters (an
    * emoji sorts below U+FFFD in UTF-16 but above it in UTF-8) — a
    * char-order comparison here could prune a file whose rows the
    * residual filter would have kept.
    */
  private[graft] def statCompare(dt: DataType, a: String, b: String): Option[Int] =
    dt match {
      case _: NumericType =>
        try Some(BigDecimal(a).compare(BigDecimal(b)))
        catch { case _: NumberFormatException => None }
      case _ => Some(utf8Compare(a, b))
    }

  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Fold per-file stat values into one bound. None when any file
    * lacks the stat (all-null column, or a string max dropped for
    * length at collect) or when two stats are incomparable (NaN) —
    * callers must treat None as "unknown", never as a value.
    */
  private[graft] def foldStat(
      dt: DataType, side: Seq[Option[String]],
      takeMax: Boolean): Option[String] =
    if (side.isEmpty || side.exists(_.isEmpty)) None
    else {
      val vs = side.flatten
      var acc = vs.head
      // self-compare screens a single incomparable element (NaN) —
      // without it a one-file table would answer "NaN" where the same
      // table split across two files refuses
      var ok = statCompare(dt, acc, acc).isDefined
      var i = 1
      while (ok && i < vs.length) {
        statCompare(dt, vs(i), acc) match {
          case Some(c) => if ((c > 0) == takeMax) acc = vs(i)
          case None => ok = false
        }
        i += 1
      }
      if (ok) Some(acc) else None
    }

  // -------------------------------------------------------------------
  // Manifest-served aggregates: answers from KILOBYTES of manifest
  // instead of the table. At 100 TB, `SELECT count(*)` and min/max
  // health probes are the most common queries a table gets — serving
  // them without listing, opening, or scanning a single data file is
  // the table format's cheapest big win (the same trick Delta/Iceberg
  // pull from their AddFile stats).
  // -------------------------------------------------------------------

  /** O(manifest) COUNT(*): the sum of the live data files' row counts.
    * EXACT only while no deletion vectors are outstanding (a vector
    * masks rows its data file still carries) — returns
    * None then; callers fall back to a scan or [[foldTombstones]]
    * first. Never guesses.
    */
  def countFast(spark: SparkSession, root: String): Option[Long] = {
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    if (m.dvs.nonEmpty) None
    else Some(m.files.map(_.rows).sum)
  }

  /** OPTIMIZE … ZORDER BY as one COW commit: rewrite every live
    * partition with the rows bucketed by RANGE over their Morton
    * z-value ([[ZOrder.zvalue]]), so each output file covers a narrow
    * z-range and the per-file min/max envelopes become selective on
    * EVERY clustering dimension at once — multi-column skipping on a
    * table whose original layout scattered both dimensions across all
    * files. Content is byte-identical table state (spec-pinned);
    * outstanding deletion vectors fold for free (the rewrite reads the
    * resolved state). Boundaries come from `approx_percentile`
    * (sketch variance moves bytes between FILES, never rows out of
    * results — the z-order oracle contract). Replay-guarded like every
    * commit; returns false when the id is already surpassed or the
    * table is empty.
    */
  def optimizeZorder(
      spark: SparkSession,
      root: String,
      id: Long,
      zCols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024,
      bits: Int = 8,
      keep: Int = 2,
      changeLogKeys: Seq[String] = Nil,
      where: Option[Column] = None): Boolean =
    optimizeZorderStatus(spark, root, id, zCols, targetFileBytes, bits,
      keep, changeLogKeys, where) == MaintCommitted

  /** [[optimizeZorder]] with the no-op / lost-race distinction made IN
    * the return value: the Boolean form's `false` conflates "nothing
    * to do, id unconsumed" (benign) with "a concurrent writer took the
    * id" (the caller's work is NOT in the table), forcing callers to
    * re-list committed ids after the fact — a window in which a fresh
    * concurrent commit turns a benign no-op into a spurious race
    * report. Here the engine itself says which exit it took.
    */
  def optimizeZorderStatus(
      spark: SparkSession,
      root: String,
      id: Long,
      zCols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024,
      bits: Int = 8,
      keep: Int = 2,
      changeLogKeys: Seq[String] = Nil,
      where: Option[Column] = None): MaintStatus = {
    require(zCols.nonEmpty, "OPTIMIZE ZORDER needs clustering columns")
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    if (committedIds(spark, root).exists(_ >= id)) return MaintSuperseded
    val m = currentManifest(spark, root).getOrElse(return MaintNoOp)
    if (m.files.isEmpty) return MaintNoOp
    zCols.foreach(c => require(m.schema.fieldNames.contains(c),
      s"z-order column $c is not a table column"))
    // partition-scoped form (`OPTIMIZE … WHERE p`): recluster ONLY the
    // matching partitions — boundaries, bin budget and the touched set
    // all derive from the scoped files, everything else carries by
    // manifest reference (at 100 TB, re-Z-ordering a hot day must not
    // rewrite the year)
    val scope = where.map(partitionsMatching(spark, m, _))
    val files = m.files.filter(f => scope.forall(_.contains(m.partKeyOf(f))))
    if (files.isEmpty) return MaintNoOp
    val all = resolved(spark, root, m, files)
    val z = ZOrder.zvalue(zCols.map(col),
      ZOrder.boundariesFor(all, zCols, bits), bits)
    val totalBins = math.max(1L,
      (files.map(_.bytes).sum + targetFileBytes - 1) / targetFileBytes)
    val touched = m.allFiles
      .filter(f => scope.forall(_.contains(m.partKeyOf(f))))
      .map(m.partKeyOf).toSet
    // ownership rides through: false from the commit is a lost race
    // (a concurrent writer took this id between our guard and the
    // lease), and reporting it as success would hide a skipped
    // optimize behind a "done" — the silent-supersede hole the
    // ownership contract exists to close
    if (commitPartitionsFrom(Some(m), all.withColumn("__z", z), touched,
        root, id, m.partCols, keep, changeLogKeys = changeLogKeys,
        split = Some(("__z", math.min(totalBins, 1L << 20).toInt))))
      MaintCommitted
    else MaintSuperseded
  }

  /** Filesystem ↔ manifest integrity audit (fsck). Reports, without
    * mutating anything:
    *
    *  - `missing`: paths a RETAINED manifest references that do not
    *    exist on disk — real corruption (external deletion, botched
    *    restore of the directory); affected snapshots cannot serve.
    *  - `orphans`: batch-dir data files no retained manifest
    *    references — crash leftovers (a writer that died between
    *    writeBatch and commit) or files awaiting [[vacuum]]'s age
    *    rule; wasted bytes, never a correctness problem.
    *  - `staged`: unpublished write-audit-publish ids ([[stagedIds]])
    *    — work in flight or abandoned audits awaiting
    *    [[discardStaged]].
    *
    * Listing cost is one recursive walk of the table root plus the
    * retained manifests (already cached driver-side by any recent
    * reader) — no data file is opened.
    */
  def fsck(spark: SparkSession, root: String): CowFsckReport = {
    val fs = hfs(spark, root)
    val rootPath = new Path(root)
    if (!fs.exists(rootPath))
      return CowFsckReport(Nil, Nil, Nil)
    val ids = committedIds(spark, root)
    val referenced = ids.flatMap(i =>
      manifest(spark, root, i).allFiles.map(_.path)).toSet
    val staged = stagedIds(spark, root)
    val stagedReferenced = staged.flatMap(i =>
      manifestAt(spark, stagedManifestDir(root, i), i).allFiles.map(_.path))
      .toSet
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap {
        case d if d.isDirectory => walk(d.getPath)
        case f if f.getPath.getName.endsWith(".parquet") =>
          Seq(f.getPath.toString)
        case _ => Nil
      }
    val rootUri = fs.makeQualified(rootPath).toString
    val onDisk = fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(BatchPrefix))
      .flatMap(s => walk(s.getPath))
      .map(_.stripPrefix(rootUri).stripPrefix("/"))
      .toSet
    // SHALLOW CLONE references (absolute, outside this root) probe
    // existence directly; relative references compare against the walk
    val (absRefs, relRefs) = referenced.partition(_.startsWith("/"))
    val missing = (relRefs.filterNot(onDisk) ++
      absRefs.filterNot(p => fs.exists(new Path(
        new java.net.URI(null, null, p, null))))).toSeq.sorted
    val orphans = onDisk
      .filterNot(referenced)
      .filterNot(stagedReferenced)
      .toSeq.sorted
    CowFsckReport(missing, orphans, staged,
      orphanCloneFences(spark, root))
  }

  /** Hive's partition-path escaping
    * (`ExternalCatalogUtils.escapePathName` — the convention real
    * hive-style paths use): partition values containing '/', '=', '%'
    * or control characters render unambiguously in the operator-facing
    * `c=v/…` strings (ADVICE r16). NULL stays NULL for the column
    * form; driver-side callers handle the default-partition sentinel.
    */
  private[graft] def hiveEscape(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(s)

  private lazy val hiveEscapeUdf =
    udf((s: String) => if (s == null) null else hiveEscape(s))

  /** The `files` METADATA TABLE (Iceberg's `table$files`): one row per
    * live entry of the current snapshot with its partition rendering
    * (hive-style `c=v/…`, escaped), kind (data/dv), row/byte
    * counts, and the stats triad as map columns (min/max envelopes in
    * Spark string form, null counts, bloom column names). Served from
    * the manifest alone — no data file opened; the operator's view
    * into what skipping will see.
    *
    * LAZY AND DISTRIBUTED (round-17): the frame reads the
    * chain-unrolled entry listing ([[entriesFrame]]) inside the
    * engine, so the driver never holds the listing — at 10⁷–10⁸ files
    * a `LIMIT`/filter composes as an ordinary plan operator instead of
    * truncating a driver-materialized copy. (The previous
    * implementation collected the eager manifest's entries into a
    * command — O(table files) on the driver, twice.)
    */
  def fileStats(spark: SparkSession, root: String): DataFrame =
    fileStatsAt(spark, root,
      committedIds(spark, root).lastOption.getOrElse(
        throw new IllegalStateException(
          s"no committed snapshot at $root")))

  /** [[fileStats]] PINNED to snapshot `id` — what the named metadata
    * table serves, so every reference a query resolves at analysis
    * lists the same snapshot (snapshot isolation, like every other
    * reader).
    */
  def fileStatsAt(
      spark: SparkSession, root: String, id: Long): DataFrame = {
    val meta = manifestMeta(spark, root, id)
    val partCol =
      if (meta.partCols.isEmpty) lit("")
      else concat_ws("/", meta.partCols.map(c =>
        concat(lit(hiveEscape(c) + "="),
          coalesce(hiveEscapeUdf(element_at(col("part"), lit(c))),
            lit("__HIVE_DEFAULT_PARTITION__")))): _*)
    entriesFrame(spark, root, id, meta.partCols).select(
      col("path"),
      partCol.as("partition"),
      col("kind"),
      col("rows").as("n_rows"),
      col("bytes").as("n_bytes"),
      col("mins"),
      col("maxs"),
      coalesce(col("nulls"),
        map().cast("map<string,bigint>")).as("null_counts"),
      coalesce(sort_array(map_keys(col("blooms"))),
        array().cast("array<string>")).as("bloom_cols"))
  }

  /** The `partitions` METADATA TABLE (Iceberg's `table$partitions`):
    * one row per live partition with its file/row/byte totals.
    * Debt-free snapshots serve ENTIRELY from the manifest — zero data
    * files opened, whatever the table size. Outstanding deletion
    * vectors make the manifest's per-partition row counts
    * overstatements; since debt is the STEADY STATE under continuous
    * ingest, the table no longer refuses (round-18): file and byte
    * totals still come from the manifest (they describe the physical
    * layout, which is exact debt or no debt), and row counts for the
    * DEBT-TOUCHED partitions are recomputed exactly by a grouped count
    * over the debt-subtracted snapshot read — scoped to just those
    * partitions (sidecars land through the partitioned batch writer,
    * so their manifest part values name the partitions they can touch,
    * and DV masks target files inside their own partition).
    * Untouched partitions keep their manifest counts — a 100 TB table with debt in three
    * partitions lists ALL partitions at the cost of scanning three.
    * Partition values come back in their Spark string form (the
    * manifest's own representation); NULL partitions stay NULL.
    */
  def partitionStats(
      spark: SparkSession, root: String): DataFrame =
    partitionStatsAt(spark, root,
      committedIds(spark, root).lastOption.getOrElse(
        throw new IllegalStateException(
          s"no committed snapshot at $root")))

  /** [[partitionStats]] PINNED to snapshot `id` (the named metadata
    * table's snapshot-isolation contract).
    */
  def partitionStatsAt(
      spark: SparkSession, root: String, id: Long): DataFrame = {
    val meta = manifestMeta(spark, root, id)
    val partCols = meta.partCols
    // LAZY AND DISTRIBUTED (round-17): grouped over the chain-unrolled
    // entry listing inside the engine — the driver holds only the
    // per-partition result. The `__one` grouping key makes the
    // unpartitioned shape match a driver-side groupBy: an empty table
    // yields zero rows, not one all-NULL aggregate row.
    val frame = entriesFrame(spark, root, id, partCols)
      .where(col("kind") === KindData)
    val keys =
      if (partCols.isEmpty) Seq(lit(1).as("__one"))
      else partCols.map(c => element_at(col("part"), lit(c)).as(c))
    val manifestSide = frame.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_files"), sum("rows").as("__m_rows"),
        sum("bytes").as("n_bytes"))
    val sidecars = snapshotSidecars(spark, root, id)
    if (sidecars.isEmpty)
      return manifestSide
        .select((if (partCols.isEmpty) Seq.empty[Column]
          else partCols.map(col)) ++ Seq(col("n_files"),
          col("__m_rows").as("n_rows"), col("n_bytes")): _*)
    // DEBT: exact rows via the debt-subtracted read, scoped to the
    // partitions the sidecars name. Sidecar part maps store the RAW
    // partition value (collectEntries truncates only the mins/maxs
    // stat cells, never the part map) and always carry every partition
    // KEY — a NULL partition arrives as a null VALUE, not a missing
    // key, and its filter/join legs below go IS NULL, not equality. A
    // genuinely missing key (defensive; no current writer produces
    // one) widens the rescan to the whole table — never narrower than
    // the truth.
    val scoped = partCols.nonEmpty &&
      sidecars.forall(f => partCols.forall(f.part.contains))
    val debtKeys: Seq[Seq[String]] =
      if (!scoped) Nil
      else sidecars.map(f => partCols.map(f.part(_))).distinct
    val read = CowV2.readAt(spark, root, id)
    val debtRead =
      if (!scoped) read
      else read.where(debtKeys.map(vs => partCols.zip(vs).map {
        // typed literal, not a cast on the column: EqualTo(attr, lit)
        // pushes into the lazy index and prunes to the debt partitions
        case (c, null) => col(c).isNull
        case (c, v) => col(c) === lit(v).cast(meta.schema(c).dataType)
      }.reduce(_ && _)).reduce(_ || _))
    // exact-side keys in the manifest's own representation (plain
    // Spark cast-to-string — the exact form the part map holds).
    // TIMESTAMP partition columns inherit the engine-wide contract
    // that partition identity is the SESSION's cast-to-string form:
    // a reader whose spark.sql.session.timeZone differs from the
    // writer's already breaks partition-granular rewrites and
    // touched-set routing everywhere, so this join assumes the same
    // session-TZ consistency rather than defending alone against it
    val exactKeys =
      if (partCols.isEmpty) Seq(lit(1).as("__x_one"))
      else partCols.map(c => col(c).cast("string").as(s"__x_$c"))
    val exact = debtRead.groupBy(exactKeys: _*)
      .agg(count(lit(1)).as("__x_rows"))
    val joinCond =
      if (partCols.isEmpty) col("__one") === col("__x_one")
      else partCols.map(c => col(c) <=> col(s"__x_$c")).reduce(_ && _)
    val inDebt: Column =
      if (!scoped) lit(true)
      else debtKeys.map(vs => partCols.zip(vs).map {
        case (c, null) => col(c).isNull
        case (c, v) => col(c) <=> lit(v) }.reduce(_ && _))
        .reduce(_ || _)
    manifestSide.join(exact, joinCond, "left")
      .select((if (partCols.isEmpty) Seq.empty[Column]
        else partCols.map(col)) ++ Seq(
        col("n_files"),
        // a debt partition whose every row is masked counts 0, not its
        // manifest overstatement — hence coalesce AFTER the left join
        when(inDebt, coalesce(col("__x_rows"), lit(0L)))
          .otherwise(col("__m_rows")).as("n_rows"),
        col("n_bytes")): _*)
  }

  /** O(manifest) MIN/MAX of a NON-STRING orderable column, in Spark
    * string form (the caller casts back — numeric/date/timestamp
    * string forms are exact). Strings are refused outright: their
    * collected stats may be length-truncated, so a string extreme
    * cannot be certified from the manifest. None under the same
    * no-debt rule as [[countFast]] (a delete may have removed the
    * extreme row), or when any live file lacks the stat.
    */
  def minMaxFast(
      spark: SparkSession, root: String,
      colName: String): Option[(String, String)] = {
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val dt = m.schema.fields.find(_.name == colName).map(_.dataType)
    if (dt.isEmpty || dt.contains(StringType) ||
        m.dvs.nonEmpty || m.files.isEmpty) None
    else for {
      lo <- foldStat(dt.get, m.files.map(_.mins.get(colName)),
        takeMax = false)
      hi <- foldStat(dt.get, m.files.map(_.maxs.get(colName)),
        takeMax = true)
    } yield (lo, hi)
  }

  /** Can any row of `f` satisfy `lo <= colName <= hi`? (Either bound
    * optional.) Missing stats ⇒ true — skipping is only ever an
    * optimization, never a filter.
    */
  private[graft] def mayMatch(
      schema: StructType, f: CowFile, colName: String,
      lo: Option[String], hi: Option[String]): Boolean = {
    val dt = leafType(schema, colName)
      .getOrElse(return true)
    val belowLo = for {
      l <- lo; mx <- f.maxs.get(colName); c <- statCompare(dt, mx, l)
    } yield c < 0
    val aboveHi = for {
      h <- hi; mn <- f.mins.get(colName); c <- statCompare(dt, mn, h)
    } yield c > 0
    !(belowLo.getOrElse(false) || aboveHi.getOrElse(false))
  }

  /** Manifest-driven DATA-SKIPPING read: keep only files whose min/max
    * envelope can intersect `[lo, hi]` on `colName`, then apply the
    * predicate itself as a residual filter (so the result is EXACTLY
    * the full scan's — skipping can only remove provably-empty files,
    * `CowTableSpec` pins result-equality plus a strictly smaller
    * bytes-read via the metrics listener). Bounds are given in Spark
    * string form (`cast(col as string)`); pass both equal for a point
    * lookup. At 100 TB this is the scan path for selective queries: a
    * sorted or z-ordered layout makes most files' envelopes disjoint
    * from the predicate, and they are dropped from the FILE LIST —
    * never listed, opened, or footer-read.
    */
  def readWhereBetween(
      spark: SparkSession, root: String, colName: String,
      lo: Option[String], hi: Option[String]): DataFrame =
    readWhere(spark, root, Seq(CowRange(colName, lo, hi)))

  /** Multi-column data-skipping read: the CONJUNCTION of per-column
    * ranges. A file survives only if EVERY range's envelope test keeps
    * it, so a z-ordered table queried on both clustering dimensions
    * prunes on both — each dimension's test independently removes the
    * files whose envelope misses it, and the kept set is the
    * intersection (strictly smaller than either 1-D prune on
    * decorrelated dimensions; `CowTableSpec` pins exactly that on the
    * z-ordered layout). Every range is then re-applied as a residual
    * filter, so the result is exactly the full scan's.
    */
  def readWhere(
      spark: SparkSession, root: String,
      ranges: Seq[CowRange]): DataFrame = {
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val kept = keptFiles(spark, m, ranges)
    val df = resolved(spark, root, m, kept)
    // residual filters in each COLUMN's type (casting the column to
    // string would both break numeric ordering and block parquet
    // pushdown); the string bound round-trips through the same cast
    // that produced the stats
    ranges.foldLeft(df) { (acc, r) =>
      val dt = m.schema.fields.find(_.name == r.colName)
        .map(_.dataType).getOrElse(StringType)
      val c = col(r.colName)
      def b(v: String) = lit(v).cast(dt)
      (r.lo, r.hi) match {
        case (Some(l), Some(h)) if l == h => acc.where(c === b(l))
        case (Some(l), Some(h)) => acc.where(c >= b(l) && c <= b(h))
        case (Some(l), None) => acc.where(c >= b(l))
        case (None, Some(h)) => acc.where(c <= b(h))
        case (None, None) => acc
      }
    }
  }

  /** Skipping file selection: per-range min/max envelope conjunction
    * always; for each POINT range (lo == hi) additionally the per-file
    * Bloom filter when the column carries one — the pruner for
    * unsorted high-cardinality columns whose envelopes span
    * everything. Files without a bloom are kept (skipping stays purely
    * an optimization).
    */
  private def keptFiles(
      spark: SparkSession, m: CowManifest,
      ranges: Seq[CowRange]): Seq[CowFile] =
    keptFilesAmong(spark, m, m.files, ranges)

  /** [[keptFiles]] over an EXPLICIT starting set — the composable form
    * [[CowFileIndex]] uses to intersect range pruning with the file
    * survivors of earlier conjuncts (IN-list, partition pruning).
    */
  private[sinks] def keptFilesAmong(
      spark: SparkSession, m: CowManifest, from: Seq[CowFile],
      ranges: Seq[CowRange]): Seq[CowFile] = {
    val byStats = from.filter(f =>
      ranges.forall(r => mayMatch(m.schema, f, r.colName, r.lo, r.hi)))
    ranges.foldLeft(byStats) { (files, r) =>
      val point = r.lo.zip(r.hi).collectFirst { case (l, h) if l == h => l }
      point match {
        case Some(v) if files.exists(_.blooms.contains(r.colName)) =>
          val dt = leafType(m.schema, r.colName)
            .getOrElse(StringType)
          val hashes = bloomHashesOf(spark, v, dt)
          if (hashes.isEmpty) files
          else files.filter(f => f.blooms.get(r.colName)
            .forall(words => bloomHasValue(words, hashes)))
        case _ => files
      }
    }
  }

  /** IN-LIST skipping read: the rows whose `colName` is any of
    * `values` (Spark string form). A file survives when AT LEAST ONE
    * value could live in it — inside its min/max envelope AND, when
    * the column carries Bloom filters, bloom-positive for that value.
    * This is the multi-key serving read for NON-key columns (the keyed
    * path is [[lookupKeys]]): "fetch these 50 order ids" probes each
    * file's bloom 50 times on the driver and reads only the files that
    * can answer — on a hash-scattered layout where every envelope
    * spans everything, the blooms alone cut the file list to ~the
    * files actually holding the values. The residual `IN` filter makes
    * the result exactly the full scan's.
    */
  def readWhereIn(
      spark: SparkSession, root: String, colName: String,
      values: Seq[String]): DataFrame = {
    require(values.nonEmpty, "empty IN-list")
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val kept = keptFilesIn(spark, m, colName, values)
    val dt = leafType(m.schema, colName)
      .getOrElse(StringType)
    val df = resolved(spark, root, m, kept)
    df.where(col(colName).isin(values.map(v => lit(v).cast(dt)): _*))
  }

  private def keptFilesIn(
      spark: SparkSession, m: CowManifest, colName: String,
      values: Seq[String]): Seq[CowFile] =
    keptFilesInAmong(spark, m, m.files, colName, values)

  /** [[keptFilesIn]] over an EXPLICIT starting set (see
    * [[keptFilesAmong]]).
    */
  private[sinks] def keptFilesInAmong(
      spark: SparkSession, m: CowManifest, from: Seq[CowFile],
      colName: String, values: Seq[String]): Seq[CowFile] = {
    val dt = leafType(m.schema, colName)
      .getOrElse(StringType)
    val byStats = from.filter(f =>
      values.exists(v => mayMatch(m.schema, f, colName, Some(v), Some(v))))
    if (!byStats.exists(_.blooms.contains(colName))) byStats
    else {
      // every value's hashes from ONE driver-side evaluation
      val hashes = bloomHashesOfAll(spark, values, dt)
      byStats.filter(f => f.blooms.get(colName).forall(words =>
        hashes.exists(h => h.nonEmpty && bloomHasValue(words, h)) ||
          hashes.exists(_.isEmpty)))
    }
  }

  /** The [[bloomHashesOf]] canonicalize-and-hash for a whole value
    * list in ONE evaluation over [[oneRow]]. Uncastable values yield Nil
    * (no bloom pruning for them), like the single-value form.
    */
  private[graft] def bloomHashesOfAll(
      spark: SparkSession, values: Seq[String],
      dt: DataType): Seq[Seq[Long]] = {
    val row = oneRow(spark).select(values.zipWithIndex.map { case (v, i) =>
      val canon = lit(v).cast(dt).cast("string")
      struct(canon.isNull.as("nul"),
        array((0 until BloomHashes).map(k =>
          xxhash64(lit(k), coalesce(canon, lit("")))): _*).as("hs"))
        .as(s"v$i")
    }: _*).first()
    values.indices.map { i =>
      val s = row.getStruct(i)
      if (s.getBoolean(0)) Nil else s.getSeq[Long](1).toSeq
    }
  }

  /** Files an IN-list read would keep — for asserting skip counts. */
  def filesForIn(
      spark: SparkSession, root: String, colName: String,
      values: Seq[String]): Seq[CowFile] = {
    val m = currentManifest(spark, root).getOrElse(return Nil)
    keptFilesIn(spark, m, colName, values)
  }

  /** Files the skipping read would keep — for asserting skip counts. */
  def filesForRange(
      spark: SparkSession, root: String, colName: String,
      lo: Option[String], hi: Option[String]): Seq[CowFile] =
    filesFor(spark, root, Seq(CowRange(colName, lo, hi)))

  /** Files a multi-range skipping read would keep. */
  def filesFor(
      spark: SparkSession, root: String,
      ranges: Seq[CowRange]): Seq[CowFile] = {
    val m = currentManifest(spark, root).getOrElse(return Nil)
    keptFiles(spark, m, ranges)
  }

  // -------------------------------------------------------------------
  // Commit
  // -------------------------------------------------------------------

  /** Is `dt` a stats-eligible atomic: orderable, min/max fit a small
    * manifest cell. Arrays/maps/structs/binary carry no usable
    * envelope.
    */
  private def statType(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case StringType | BooleanType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }

  /** Stats-eligible columns: orderable atomics whose min/max fit a
    * small manifest cell. Long strings are handled at collection time
    * (min truncated — still a valid lower bound; max dropped — a
    * truncated upper bound would be unsound).
    */
  private def statCols(schema: StructType): Seq[String] =
    schema.fields.toSeq.collect {
      case f if statType(f.dataType) => f.name
    }

  /** Dotted paths of atomic orderable leaves inside top-level STRUCT
    * columns: `s.a` for struct `s`'s leaf `a`, recursing to `depth`
    * struct levels (round-18; round-17 collected one). These collect
    * min/max/null stats alongside the top-level columns in the same
    * grouped pass, so range/point filters on nested fields skip files
    * too ([[mayMatch]] resolves dotted paths; the file-index
    * translators emit them). The default depth 1 is the budget trade
    * Delta's stats collector makes — deeper nesting multiplies
    * stat-map weight; tables whose filters live deeper opt in via
    * [[setNestedStatsDepth]].
    *
    * Field names containing a literal '.' are SKIPPED at every level
    * (ADVICE r17): the dotted stat path is later parsed by `col()` and
    * [[leafType]] as '.'-separated parts, so a leaf named `"a.b"`
    * would misresolve — and throw at commit time for schemas that
    * committed fine before nested stats existed.
    */
  private def nestedStatCols(schema: StructType, depth: Int): Seq[String] = {
    def walk(st: StructType, prefix: String, d: Int): Seq[String] =
      st.fields.toSeq.flatMap { f =>
        if (f.name.contains(".")) Nil
        else f.dataType match {
          case s: StructType if d > 1 => walk(s, s"$prefix${f.name}.", d - 1)
          case dt if statType(dt) => Seq(s"$prefix${f.name}")
          case _ => Nil
        }
      }
    schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case st: StructType if !f.name.contains(".") =>
          walk(st, s"${f.name}.", depth)
        case _ => Nil
      }
    }
  }

  private def statsDepthPath(root: String) =
    new Path(s"$root/_statsdepth.tsv")

  /** Register the table's NESTED-STATS DEPTH: dotted struct-leaf stats
    * collect to this many struct levels at every SUBSEQUENT commit
    * (default 1 — see [[nestedStatCols]]), so filters like `s.a.b`
    * skip files too. A budget knob, not a correctness one: carried
    * files keep whatever stats they collected, and a missing stat only
    * means "read the file". Same registration idiom as
    * [[setBucketSpec]], but changeable at any time — the read side is
    * path-generic at any depth.
    */
  def setNestedStatsDepth(
      spark: SparkSession, root: String, depth: Int): Unit = {
    require(depth >= 1 && depth <= 8,
      s"nested stats depth must be in [1, 8], got $depth")
    val fs = hfs(spark, root)
    fs.mkdirs(new Path(root))
    val out = fs.create(statsDepthPath(root), true)
    try out.write(depth.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The registered nested-stats depth (default 1). */
  def nestedStatsDepthOf(spark: SparkSession, root: String): Int = {
    val fs = hfs(spark, root)
    val p = statsDepthPath(root)
    if (!fs.exists(p)) 1
    else {
      val in = fs.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      // same [1,8] clamp as setNestedStatsDepth: a hand-written or
      // corrupted file value must not bypass the documented
      // stat-map-weight bound (ADVICE r18)
      s.trim.toIntOption.filter(d => d >= 1 && d <= 8).getOrElse(1)
    }
  }

  /** Data type of a (possibly dotted) stat path — top-level column or
    * a nested struct leaf. None when the path does not resolve
    * (callers treat that as "no pruning": skipping is only ever an
    * optimization).
    */
  private[sinks] def leafType(
      schema: StructType, path: String): Option[DataType] = {
    val i = path.indexOf('.')
    if (i < 0) schema.fields.find(_.name == path).map(_.dataType)
    else schema.fields.find(_.name == path.take(i)).map(_.dataType) match {
      case Some(st: StructType) => leafType(st, path.drop(i + 1))
      case _ => None
    }
  }

  private val MaxStatLen = 64

  // Per-file Bloom filter geometry: 2^17 bits (16 KiB as 2048 longs)
  // per column per file, 4 hashes — false-positive rate < 1e-6 up to
  // ~4k distinct values/file and still a useful ~5% at ~40k. An
  // oversaturated filter on a huge file degrades to "keep the file":
  // wasted read, never wrong results. The BIT COUNT is self-describing
  // on read (m = stored word count × 64) and may change between
  // commits; the HASH COUNT is not stored — BloomHashes may only ever
  // be LOWERED (old files set bits for the original k; requiring more
  // would false-negative on them, the one hazard this design forbids).
  private val BloomBits = 1 << 17
  private val BloomWords = BloomBits / 64
  private val BloomHashes = 4

  /** The raw `xxhash64(k, value)` hashes of a lookup value — computed
    * BY SPARK's own expressions (evaluated on the driver over
    * [[oneRow]]) so the read side can never drift from the write side's
    * `xxhash64(k, cast(col as string))`; reduced modulo each FILE's own
    * filter size at check time.
    *
    * The bound is CANONICALIZED through the column's own type first
    * (`cast(cast(v as dt) as string)`): the write side hashed the
    * column's cast-to-string form, so a numerically-equal but
    * non-canonical bound ("1500" probing a DOUBLE column that stores
    * "1500.0") must be normalized or the bloom would wrongly prune the
    * live file — the envelope layer's BigDecimal compare is tolerant
    * of exactly this, and the two pruners must agree.
    */
  private[graft] def bloomHashesOf(
      spark: SparkSession, value: String, dt: DataType): Seq[Long] = {
    val canon = lit(value).cast(dt).cast("string")
    val row = oneRow(spark).select(
      (0 until BloomHashes).map(k => xxhash64(lit(k), canon)): _*)
      .first()
    if (row.anyNull) Nil // uncastable bound: no bloom pruning
    else (0 until BloomHashes).map(row.getLong)
  }

  /** A one-row frame over a `LocalRelation`: a projection of it folds
    * on the driver (`ConvertToLocalRelation`), so `first()` launches no
    * Spark job — `spark.range(1)` would launch one per call.
    */
  private def oneRow(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(0)),
      StructType(Seq(StructField("i", IntegerType))))

  private def bloomHasValue(words: Seq[Long], hashes: Seq[Long]): Boolean = {
    val m = words.size.toLong * 64
    m > 0 && hashes.forall { h =>
      val p = java.lang.Math.floorMod(h, m)
      ((words((p / 64).toInt) >>> (p % 64).toInt) & 1L) == 1L
    }
  }

  /** Collect per-file (path, bytes, rows, min/max, partition values)
    * for everything under `batchDir` — ONE Spark job over the files
    * just written, using the `_metadata` column so path and size come
    * from the same source (no listing-string join to mismatch).
    */
  /** One bloom word: the bit_or over the file's rows of each row's
    * contributions to word `w` — a row sets `BloomHashes` bits, each
    * lands in some word; this expression collects word `w`'s share.
    * Pure scan-stage arithmetic inside the same grouped aggregate as
    * the min/max stats — no extra pass.
    */
  /** Per-file Bloom words for ALL `bloomCols` in ONE delta-sized scan:
    * each row contributes a (column, positions) struct per bloom
    * column; two explodes fan those to (file, column, position) and
    * one grouped bit_or ORs them per (file, column, word) — sparse, so
    * the shuffle carries at most min(4·rows, BloomWords) entries per
    * (file, column) — then densify driver-side. One scan regardless of
    * bloom column count (was one full batch read PER column). Separate
    * from the min/max aggregate because a per-word CASE in that one
    * grouped agg would mean BloomWords×BloomHashes codegen terms.
    */
  private def collectBlooms(
      spark: SparkSession, batchDir: String, schema: StructType,
      bloomCols: Seq[String],
      colMap: Map[String, String] = Map.empty)
      : Map[(String, String), Seq[Long]] = {
    if (bloomCols.isEmpty) return Map.empty
    val perCol = array(bloomCols.map { c =>
      struct(lit(c).as("__c"),
        when(col(c).isNotNull, array((0 until BloomHashes).map(k =>
          pmod(xxhash64(lit(k), col(c).cast("string")),
            lit(BloomBits.toLong))): _*)).as("__ps"))
    }: _*)
    readLogical(spark, Seq(batchDir), schema, colMap, meta = true)
      .select(col("_metadata.file_path").as("__fp"),
        explode(perCol).as("__cp"))
      .where(col("__cp.__ps").isNotNull)
      .select(col("__fp"), col("__cp.__c").as("__c"),
        explode(col("__cp.__ps")).as("__pos"))
      .groupBy(col("__fp"), col("__c"),
        expr("CAST(__pos div 64 AS INT)").as("__w"))
      .agg(expr(
        "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT)))")
        .as("__bits"))
      .collect()
      .groupBy(r => (r.getAs[String]("__fp"), r.getAs[String]("__c")))
      .map { case (key, rs) =>
        val words = Array.fill(BloomWords)(0L)
        rs.foreach(r =>
          words(r.getAs[Int]("__w")) |= r.getAs[Long]("__bits"))
        key -> words.toSeq
      }
  }

  /** Decode one level of URI escaping (%20 → space, %25 → %). The
    * input is always a valid URI reference (it came from Path.toUri),
    * so the single-arg URI parse cannot see raw spaces; a malformed
    * string falls back to itself rather than failing the commit.
    */
  private def decodeUriPath(s: String): String =
    try new java.net.URI(s).getPath
    catch { case _: java.net.URISyntaxException => s }

  private def collectEntries(
      spark: SparkSession, batchDir: String, id: Long,
      schema: StructType, partCols: Seq[String],
      bloomCols: Seq[String] = Nil,
      colMap: Map[String, String] = Map.empty): Seq[CowFile] = {
    val fs = hfs(spark, batchDir)
    val anyData = fs.exists(new Path(batchDir)) &&
      Compaction.tableBytes(spark, batchDir) > 0
    if (!anyData) return Nil
    val cols = schema.fieldNames.toSeq
    val topSc = statCols(schema)
    partCols.foreach(c => require(topSc.contains(c),
      s"partition column $c must be an orderable atomic type"))
    bloomCols.foreach(c => require(cols.contains(c),
      s"bloom column $c is not a table column"))
    // dotted struct leaves ride the SAME grouped pass (round-17):
    // col("s.a") extracts inside the aggregation, one extra agg pair
    // per leaf, no extra scan. Depth comes from the table property
    // (default 1); the root derives from the batch dir the same way
    // writeBatch's naming does
    val depthRoot = {
      val i = batchDir.lastIndexOf(s"/$BatchPrefix")
      if (i < 0) batchDir else batchDir.take(i)
    }
    val sc = topSc ++
      nestedStatCols(schema, nestedStatsDepthOf(spark, depthRoot))
    val aggs = count(lit(1)).as("__rows") +:
      max(col("_metadata.file_size")).as("__bytes") +:
      (sc.flatMap(c => Seq(
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))) ++
      // per-file NULL counts (Delta-parity stat): same grouped pass,
      // serves IS NULL / IS NOT NULL file pruning (a NULL struct
      // counts its leaves NULL — matching IsNull(s.a) semantics)
      sc.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")))
    val rows = readLogical(spark, Seq(batchDir), schema, colMap,
        meta = true)
      .select(col("_metadata.file_path").as("__fp") +: cols.map(col): _*)
      .groupBy(col("__fp"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val bloomsByFile = collectBlooms(spark, batchDir, schema, bloomCols,
      colMap)
    val marker = s"/$BatchPrefix$id/"
    val isStr = sc.filter(c =>
      leafType(schema, c).contains(StringType)).toSet
    rows.toSeq.map { r =>
      val full = r.getAs[String]("__fp")
      val cut = full.indexOf(marker)
      require(cut >= 0, s"file $full not under $BatchPrefix$id")
      // `_metadata.file_path` is URI-ENCODED (a space-valued partition
      // dir arrives as %20, a hive-escaped ':' as %253A). Manifests
      // store the on-disk LITERAL form: every consumer — dfFor's
      // string reads, fsck's existence probes, vacuum's reference
      // checks, CowFileIndex's FileStatus construction — treats f.path
      // as a plain filesystem string, and Hadoop Path re-escapes it
      // correctly on its own.
      val rel = decodeUriPath(full.substring(cut + 1))
      val mins = sc.flatMap { c =>
        Option(r.getAs[String](s"__min_$c")).map { v =>
          c -> (if (isStr(c) && v.length > MaxStatLen) v.take(MaxStatLen) else v)
        }
      }.toMap
      val maxs = sc.flatMap { c =>
        Option(r.getAs[String](s"__max_$c"))
          .filter(v => !isStr(c) || v.length <= MaxStatLen)
          .map(c -> _)
      }.toMap
      val blooms = bloomCols.flatMap(c =>
        bloomsByFile.get((full, c)).map(c -> _)).toMap
      CowFile(
        path = rel,
        part = partCols.map(c => c -> r.getAs[String](s"__min_$c")).toMap,
        rows = r.getAs[Long]("__rows"),
        bytes = r.getAs[Long]("__bytes"),
        mins = mins,
        maxs = maxs,
        blooms = blooms,
        nulls = sc.map(c => c -> r.getAs[Long](s"__nulls_$c")).toMap)
    }
  }

  /** `split`, when set, is a (column, totalBins) pair: the column (NOT
    * part of the table) participates in the repartitioning so one
    * partition value fans out over several write tasks → several
    * files, and is dropped before the write. The EXPLICIT bin count
    * pins the shuffle width — range partitioning maps the distinct
    * (partition, bin) groups onto tasks nearly 1:1 and an explicit
    * count keeps AQE from coalescing the bins back into one writer
    * (exactly [[Compaction]]'s reasoning). [[compactPartitions]] uses
    * it to hit a target file size inside large partitions.
    */
  private def writeBatch(
      rewrite0: DataFrame, batchDir: String,
      partCols0: Seq[String], sortCols0: Seq[String],
      split: Option[(String, Int)] = None,
      colMap: Map[String, String] = Map.empty): Unit = {
    // data files ALWAYS store PHYSICAL column names — the rename that
    // makes ALTER TABLE RENAME COLUMN metadata-only. Routing columns
    // (__gp_*, split bins) are not table columns and never map.
    val mapped = colMap.filter { case (l, p) => l != p }
    val rewrite =
      if (mapped.isEmpty) rewrite0
      else rewrite0.select(rewrite0.columns.toSeq.map(c =>
        rewrite0(c).as(mapped.getOrElse(c, c))): _*)
    val partCols = partCols0.map(c => mapped.getOrElse(c, c))
    val sortCols = sortCols0.map(c => mapped.getOrElse(c, c))
    if (partCols.isEmpty) {
      val shaped = split match {
        case Some((s, n)) => rewrite.repartitionByRange(n, col(s)).drop(s)
        case None => rewrite
      }
      val out = if (sortCols.nonEmpty)
        shaped.sortWithinPartitions(sortCols.map(col): _*) else shaped
      out.write.mode("overwrite").parquet(batchDir)
    } else {
      // a batch dir must ALWAYS be replaced whole: under a session's
      // spark.sql.sources.partitionOverwriteMode=dynamic, a
      // partitionBy overwrite only replaces the partitions present in
      // the NEW data — stale partition dirs from an earlier aborted
      // attempt of this id (failed validation, lost based-on race)
      // would survive and be absorbed by collectEntries as if this
      // batch wrote them. The per-write option pins static semantics
      // whatever the session says.
      val gp = partCols.map(c => s"__gp_$c")
      // duplicated __gp_* drive the directory layout; the REAL columns
      // stay in the files (self-contained reads, no dir-name parsing)
      val dup = rewrite.select(
        col("*") +: partCols.map(c => col(c).as(s"__gp_$c")): _*)
      // one task per touched partition value (or per (value, bin) when
      // splitting): a delta-sized batch writes one file per partition
      val shaped = split match {
        case Some((s, n)) =>
          dup.repartitionByRange(n, (gp :+ s).map(col): _*).drop(s)
        case None => dup.repartition(gp.map(col): _*)
      }
      val sorted = if (sortCols.nonEmpty)
        shaped.sortWithinPartitions((gp ++ sortCols).map(col): _*)
      else shaped
      sorted.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy(gp: _*).parquet(batchDir)
      // bucket-spec'd tables: tag the just-written files so the layout
      // stays planner-declarable across EVERY write path (append, COW
      // rewrite, compaction, optimize, stage — they all land here)
      val i = batchDir.lastIndexOf(s"/$BatchPrefix")
      if (i > 0) {
        val root = batchDir.substring(0, i)
        val spark = rewrite.sparkSession
        bucketSpecOf(spark, root)
          .filter(bs => partCols.contains(bs.partCol))
          .foreach(bs => tagBucketFiles(spark, batchDir,
            StructType(rewrite.schema.filterNot(f =>
              f.name.startsWith("__gp_"))), bs))
      }
    }
  }

  /** `mapping` carries the snapshot's column mapping + retired set —
    * REQUIRED (no default) so no commit path can silently drop a
    * table's mapping: losing it would make every reader request
    * logical names from physically-named files (all-NULL columns).
    * EVERY path carries the base manifest's pair forward — including
    * full rewrites (commitFull flows through commitPartitionsFrom →
    * mappingForAdds, which preserves colMap/retiredPhys), because even
    * a TRUNCATE's snapshot may carry history readable via time travel
    * whose files store physical names. Only a table's very first
    * commit starts with an empty map.
    */
  private def writeManifest(
      spark: SparkSession, root: String, id: Long,
      partCols: Seq[String], ddl: String, files: Seq[CowFile],
      mapping: (Map[String, String], Seq[String])): Unit = {
    writeManifestAt(spark, s"$root/$ManifestPrefix$id", partCols, ddl,
      files, mapping, bucketOk = bucketOkOf(spark, root, files))
    memoizeWritten(spark, root, id,
      CowManifest(id, partCols, ddl, files, mapping._1, mapping._2))
  }

  /** Memoize a manifest THE WRITER JUST MATERIALIZED (round-16): the
    * commit holds the full resolved entry list in memory, so the first
    * post-write read should not re-parse it from parquet — it serves
    * from the memo like any warm snapshot. Crash/abort safe by the
    * same fingerprint guard as every memo entry: a rolled-back or
    * deleted manifest dir no longer matches its fingerprint, and the
    * replay guard forbids re-committing an id, so (root, id) content
    * can never silently change under a matching fingerprint.
    */
  private def memoizeWritten(
      spark: SparkSession, root: String, id: Long, m: CowManifest): Unit = {
    val fs = hfs(spark, root)
    val qroot = fs.makeQualified(new Path(root)).toString
    val fp = manifestFingerprint(fs, new Path(s"$root/$ManifestPrefix$id"))
    if (fp.nonEmpty)
      manifestMemo.synchronized { manifestMemo.put((qroot, id), (fp, m)) }
  }

  private def writeManifestAt(
      spark: SparkSession, dir: String,
      partCols: Seq[String], ddl: String, files: Seq[CowFile],
      mapping: (Map[String, String], Seq[String]),
      baseId: Option[Long] = None,
      removedParts: Seq[String] = Nil,
      /** The RESOLVED snapshot entry list when it differs from `files`
        * (delta manifests list only their adds); defaults to `files` —
        * correct for every full-manifest path. Head totals derive from
        * this, so they always describe the whole snapshot.
        */
      resolved: Option[Seq[CowFile]] = None,
      bucketOk: Option[Boolean] = None): Unit = {
    import spark.implicits._
    val (colMap, retired) = mapping
    val all = resolved.getOrElse(files)
    val data = all.filter(_.kind == KindData)
    val totRows = Some(data.map(_.rows).sum)
    val totBytes = Some(data.map(_.bytes).sum)
    val totFiles = Some(data.size.toLong)
    val nondata = Some((all.size - data.size).toLong)
    val rows =
      if (files.isEmpty)
        Seq(CowManifestRow(null, Map.empty, 0L, 0L, Map.empty, Map.empty,
          partCols, ddl, KindData, Map.empty, Map.empty, colMap, retired,
          baseId, removedParts, totRows, totBytes, totFiles, nondata,
          bucketOk))
      else files.map(f => CowManifestRow(
        f.path, f.part, f.rows, f.bytes, f.mins, f.maxs, partCols, ddl,
        f.kind, f.blooms, f.nulls, colMap, retired, baseId, removedParts,
        totRows, totBytes, totFiles, nondata, bucketOk))
    // DRIVER-SIDE manifest write for O(commit)-row manifests (r19): the
    // old `toDS().repartition(1).write` launched a full Spark job —
    // scheduling + a 1-partition exchange — to write a handful of rows,
    // a fixed ~0.1-0.3 s tax on EVERY commit (delta manifests are
    // O(adds) rows by design, so at any table size the common commit
    // stays under the threshold — Delta writes its log driver-side for
    // the same reason). Same ParquetWriteSupport bytes, same
    // `_SUCCESS`-last commit point; a giant full/checkpoint manifest
    // (above the threshold) keeps the distributed write.
    if (rows.size <= driverManifestMaxRows) {
      val fs = hfs(spark, dir)
      val p = new Path(dir)
      if (fs.exists(p)) fs.delete(p, true)
      fs.mkdirs(p)
      val enc = manifestRowEncoder.createSerializer()
      org.apache.spark.sql.graftbridge.Bridge.writeParquetDriverSide(
        spark, dir, manifestRowEncoder.schema,
        rows.iterator.map(enc.apply))
      fs.create(new Path(p, "_SUCCESS"), true).close()
    } else
      rows.toDS().repartition(1).write.mode("overwrite").parquet(dir)
  }

  /** Manifest row-count ceiling for the driver-side single-file write;
    * above it the write stays a distributed Spark job (a full manifest
    * of millions of files should not serialize through one driver
    * thread). Spec/ops-tunable via system property.
    */
  private def driverManifestMaxRows: Int =
    sys.props.get("graft.cow.manifest.driverWriteMaxRows")
      .flatMap(_.toIntOption).getOrElse(100000)

  private lazy val manifestRowEncoder =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[CowManifestRow]()

  /** Does every live data file of `files` carry a bucket tag matching
    * its manifest partition value — the planner-declarable condition
    * [[CowV2]]'s eager relation re-checks per read? None when the
    * table has no registered bucket spec. Computed once at COMMIT time
    * (the writer holds the resolved list anyway) so the lazy read path
    * can declare the layout from head metadata alone.
    */
  private def bucketOkOf(spark: SparkSession, root: String,
      files: Seq[CowFile]): Option[Boolean] =
    bucketSpecOf(spark, root).map { bs =>
      val data = files.filter(_.kind == KindData)
      data.nonEmpty && data.forall { f =>
        val name = f.path.substring(f.path.lastIndexOf('/') + 1)
        bucketIdOfName(name)
          .exists(k => f.part.get(bs.partCol).contains(k.toString))
      }
    }

  /** How many delta links may chain before a commit writes a full
    * (checkpoint) manifest. Each link costs one extra memo lookup at
    * read time and ties the snapshot's liveness to its base's, so the
    * interval bounds both. Spec-tunable via system property.
    */
  private[graft] def manifestCheckpointInterval: Int =
    sys.props.get("graft.cow.manifest.checkpoint")
      .flatMap(_.toIntOption).getOrElse(8)

  private def mbaseMarker(root: String, id: Long, baseId: Long) =
    new Path(root, s"$MbasePrefix$id=$baseId")

  /** Write snapshot `id` as a DELTA against `base`: O(adds +
    * removedParts) manifest rows — the commit-IO shape that holds at
    * millions of files. The root-level `_mbase-<id>=<base>` marker
    * lands FIRST (create-before-manifest: a committed delta ALWAYS has
    * its marker, so [[vacuum]]'s chain-retention rule can never
    * misread a delta as a full manifest and prune its base; a crashed
    * attempt's orphan marker is swept like a dead lease). The caller
    * ([[leasedCommit]]) guarantees an unchanged partitioning, chain
    * headroom, and that `resolvedAll` — the snapshot's full entry
    * list — equals `base.allFiles -- removedParts ++ adds` with carried
    * entries byte-identical: head totals derive from it, and the memo
    * is seeded with it so the first post-commit read skips the parse
    * AND the chain walk.
    */
  private def writeManifestDelta(
      spark: SparkSession, root: String, id: Long, base: CowManifest,
      ddl: String, adds: Seq[CowFile], removedParts: Set[String],
      mapping: (Map[String, String], Seq[String]),
      resolvedAll: Seq[CowFile]): Unit = {
    require(id > base.id,
      s"delta manifest $id must build on an earlier base, got ${base.id}")
    val fs = hfs(spark, root)
    // create-only; the full name encodes (id, base), so a collision can
    // only be a replay of THIS exact marker — any other IO failure must
    // abort (a committed delta without its marker would let vacuum
    // prune its base)
    try fs.create(mbaseMarker(root, id, base.id), false).close()
    catch { case e: java.io.IOException =>
      if (!fs.exists(mbaseMarker(root, id, base.id))) throw e }
    writeManifestAt(spark, s"$root/$ManifestPrefix$id", base.partCols,
      ddl, adds, mapping, baseId = Some(base.id),
      removedParts = removedParts.toSeq.sorted,
      resolved = Some(resolvedAll),
      bucketOk = bucketOkOf(spark, root, resolvedAll))
    memoizeWritten(spark, root, id,
      CowManifest(id, base.partCols, ddl, resolvedAll,
        mapping._1, mapping._2, chainDepth = base.chainDepth + 1))
  }

  /** The mapping pair a commit carries forward from its base. */
  private def mappingOf(
      m: Option[CowManifest]): (Map[String, String], Seq[String]) =
    m.map(p => (p.colMap, p.retiredPhys)).getOrElse((Map.empty, Nil))

  /** Mapping for a commit whose schema may ADD columns (implicit
    * union on append, ALTER ADD COLUMNS): a new logical name whose
    * default physical (itself) was EVER used at this table — another
    * live column's physical, or a dropped/renamed column's retired
    * physical — gets a fresh DETERMINISTIC physical name, so old
    * files' bytes can never resurrect under the new column (and a
    * crash-replayed commit picks the same name).
    */
  private def mappingForAdds(prev: Option[CowManifest],
      effSchema: StructType): (Map[String, String], Seq[String]) =
    prev match {
      case None => (Map.empty, Nil)
      case Some(p) =>
        val added = effSchema.fieldNames.toSeq
          .filterNot(p.schema.fieldNames.contains)
        if (added.isEmpty) (p.colMap, p.retiredPhys)
        else {
          // CASE-INSENSITIVE collision checks: Spark's parquet schema
          // clipping is case-insensitive by default, so a re-ADD
          // differing only in case would otherwise read the retired
          // column's bytes from old files
          val used = scala.collection.mutable.Set[String]()
          used ++= p.usedPhys.map(_.toLowerCase(java.util.Locale.ROOT))
          val extra = added.flatMap { c =>
            val lc = c.toLowerCase(java.util.Locale.ROOT)
            if (!used.contains(lc)) { used += lc; None }
            else {
              var cand = c + "__p" + p.id
              while (used.contains(
                  cand.toLowerCase(java.util.Locale.ROOT))) cand += "_"
              used += cand.toLowerCase(java.util.Locale.ROOT)
              Some(c -> cand)
            }
          }
          (p.colMap ++ extra, p.retiredPhys)
        }
    }

  // -------------------------------------------------------------------
  // Commit concurrency: per-id lease + based-on verification
  // -------------------------------------------------------------------

  private def lockPath(root: String, id: Long) =
    new Path(s"$root/_commit-$id.lock")

  /** Acquire the commit lease for `id` — an ATOMIC create-if-absent of
    * `_commit-<id>.lock`. On a local filesystem this is NIO
    * `createFile` (O_CREAT|O_EXCL, kernel-atomic); other schemes use
    * Hadoop `create(overwrite=false)` (atomic on HDFS; an object store
    * would want a conditional put here). Exactly one of two racing
    * same-id writers wins the create; the loser throws
    * [[CowConcurrentCommitException]] BEFORE touching the batch
    * directory — which is what protects the winner's data files from a
    * concurrent overwrite-mode write into the same `batch-<id>/`.
    */
  private def atomicCreate(
      spark: SparkSession, root: String, p: Path,
      conflict: => CowConcurrentCommitException): Unit = {
    val fs = hfs(spark, root)
    // locality decided by the RESOLVED filesystem, not the raw URI: a
    // scheme-less root on a cluster resolves to fs.defaultFS (HDFS,
    // object store) — creating the lock via local NIO there would put
    // it on the driver's own disk, breaking mutual exclusion AND
    // making release (which goes through the resolved fs) miss it
    if (fs.getUri.getScheme == "file") {
      val nio = java.nio.file.Paths.get(
        Path.getPathWithoutSchemeAndAuthority(
          fs.makeQualified(p)).toString)
      java.nio.file.Files.createDirectories(nio.getParent)
      try { java.nio.file.Files.createFile(nio); () } // O_CREAT|O_EXCL
      catch {
        case _: java.nio.file.FileAlreadyExistsException => throw conflict
      }
    } else {
      try fs.create(p, false).close()
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException =>
          throw conflict
        // Some FileSystem impls (RawLocal via ChecksumFileSystem, older
        // connectors) signal create-if-absent failure as a bare
        // IOException saying the path "already exists" — map ONLY that
        // phrasing to the lost-race exception. A bare "exist" match
        // would also catch "does not exist" (missing parent, missing
        // bucket) and send the caller into a doomed recompute-and-retry
        // loop against a root that isn't there. Any other IOException
        // (network, permission, quota, not-found) is a real I/O
        // failure: rethrow it as itself, with nothing swallowed.
        // find(), not matches(): connector messages can span lines
        // (HDFS RemoteException embeds the server stack) and a
        // whole-string '.*' match stops at '\n', misreporting a benign
        // lost race as a hard I/O failure
        case e: java.io.IOException
            if e.getMessage != null &&
              java.util.regex.Pattern.compile("(already|file)\\s+exists")
                .matcher(e.getMessage.toLowerCase(java.util.Locale.ROOT))
                .find() =>
          val c = conflict
          c.initCause(e)
          throw c
      }
    }
  }

  private def acquireCommitLock(
      spark: SparkSession, root: String, id: Long): Unit = {
    atomicCreate(spark, root, lockPath(root, id),
      new CowConcurrentCommitException(
        s"commit $id at $root: another writer holds the id lease — " +
          "lost the commit race (or a crashed commit leaked the lock; " +
          "repair via breakCommitLock)"))
  }

  private def releaseCommitLock(
      spark: SparkSession, root: String, id: Long): Unit = {
    hfs(spark, root).delete(lockPath(root, id), false)
  }

  private def manifestLockPath(root: String) = new Path(s"$root/_commit.lock")

  /** The TABLE-WIDE manifest lock: held only around
    * [based-on verification → sidecar publish → manifest write], the
    * short critical section that makes cross-id lost-updates
    * impossible — without it, two writers of DIFFERENT ids could both
    * pass the based-on check in the window before either manifest's
    * `_SUCCESS` lands, and the later manifest would silently drop the
    * earlier commit's files (which vacuum would then delete). The
    * expensive work (batch write, stats, changelog join) happens
    * OUTSIDE this lock; contention is bounded by a manifest write.
    * Acquisition retries briefly (another writer's critical section),
    * then throws — a leak from a crashed writer is repaired with
    * [[breakManifestLock]].
    */
  private def acquireManifestLock(
      spark: SparkSession, root: String, id: Long): Unit = {
    val waitSec = sys.props.get("graft.cow.manifestLockWaitSec")
      .flatMap(_.toLongOption).getOrElse(60L)
    val deadline = System.nanoTime() + waitSec * 1000000000L
    while (true) {
      try {
        atomicCreate(spark, root, manifestLockPath(root),
          new CowConcurrentCommitException(
            s"commit $id at $root: manifest lock busy"))
        return
      } catch {
        case e: CowConcurrentCommitException =>
          if (System.nanoTime() >= deadline)
            throw new CowConcurrentCommitException(
              s"commit $id at $root: manifest lock held for >60s — a " +
                "crashed writer may have leaked it; repair via " +
                "breakManifestLock after confirming no writer is live")
          Thread.sleep(50)
      }
    }
  }

  private def releaseManifestLock(spark: SparkSession, root: String): Unit =
    hfs(spark, root).delete(manifestLockPath(root), false)

  /** Crash repair: remove a commit lease leaked by a writer that died
    * mid-commit (lock present, no `manifest-<id>/_SUCCESS`). The
    * operator invokes this manually after confirming the writer is
    * dead — the lease protocol itself cannot distinguish a crashed
    * writer from a slow one. Locks for ids at or behind the commit
    * frontier are dead by construction and [[vacuum]] sweeps them.
    */
  def breakCommitLock(spark: SparkSession, root: String, id: Long): Boolean =
    hfs(spark, root).delete(lockPath(root, id), false)

  /** Crash repair for the table-wide manifest lock. */
  def breakManifestLock(spark: SparkSession, root: String): Boolean =
    hfs(spark, root).delete(manifestLockPath(root), false)

  // ---- shared commit-protocol pieces (commitPartitions/commitAppend
  // must never drift apart on these) ----

  /** The committed schema: proposed fields with nullability widened to
    * the grow-only union (carried files may hold NULLs a stricter
    * batch doesn't — the manifest must not lie about them) and column
    * order anchored to the previous schema (new columns append), so a
    * batch whose plan reordered columns cannot flap the manifest DDL.
    */
  /** OR `cur`'s nullability into `prop` RECURSIVELY when the shapes
    * match: a batch whose nested fields are REQUIRED where the table's
    * are nullable is a stricter writer, not a schema evolution — a
    * `named_struct` literal always produces required struct fields,
    * and without the deep union every such INSERT would refuse as
    * "nullable -> required". Shapes that differ pass through for
    * [[SchemaCompat]] to judge.
    */
  private def unionNullability(cur: DataType, prop: DataType): DataType =
    (cur, prop) match {
      case (cs: StructType, ps: StructType)
          if cs.fieldNames.sameElements(ps.fieldNames) =>
        StructType(cs.fields.zip(ps.fields).map { case (c, f) =>
          f.copy(dataType = unionNullability(c.dataType, f.dataType),
            nullable = c.nullable || f.nullable) })
      case (ca: ArrayType, pa: ArrayType) =>
        ArrayType(unionNullability(ca.elementType, pa.elementType),
          ca.containsNull || pa.containsNull)
      case (cm: MapType, pm: MapType) =>
        MapType(unionNullability(cm.keyType, pm.keyType),
          unionNullability(cm.valueType, pm.valueType),
          cm.valueContainsNull || pm.valueContainsNull)
      case _ => prop
    }

  private def effSchemaOf(
      prev: Option[CowManifest], proposed: StructType): StructType =
    prev match {
      case None => proposed
      case Some(p) =>
        val byName = proposed.fields.map(f => f.name -> f).toMap
        val kept = p.schema.fields.flatMap(pf => byName.get(pf.name)
          .map(f => f.copy(
            dataType = unionNullability(pf.dataType, f.dataType),
            nullable = pf.nullable || f.nullable)))
        val added = proposed.fields
          .filterNot(f => p.schema.fieldNames.contains(f.name))
        StructType(kept ++ added)
    }

  /** The evolution gate every commit path runs: same partitioning,
    * [[SchemaCompat]]-compatible change, and partition columns frozen
    * at their exact type (their STRING form is the partition identity
    * carried files are keyed by — even a "safe" widening would change
    * it and strand carried rows in unmatchable partitions).
    */
  private def validateEvolution(
      p: CowManifest, effSchema: StructType, partCols: Seq[String],
      fullRewrite: Boolean = false): Unit = {
    // a FULL rewrite (every partition touched, nothing carried) may
    // change the partitioning — no carried file can straddle the two
    // layouts, which is the only thing the equality protects. Partial
    // commits must keep the layout: carried files are keyed by the old
    // partition identity.
    require(fullRewrite || p.partCols == partCols,
      s"partitioning changed: ${p.partCols} -> $partCols (only a full " +
        "rewrite may repartition — see repartitionTable)")
    val report = SchemaCompat.check(p.schema, effSchema)
    require(report.compatible,
      "breaking schema evolution refused: " +
        report.breaking.map(c => s"${c.path}: ${c.detail}").mkString("; "))
    if (!fullRewrite) partCols.foreach { c =>
      val was = p.schema(c).dataType
      val now = effSchema(c).dataType
      require(was == now,
        s"partition column $c may not change type ($was -> $now): its " +
          "string form is the partition identity carried files are keyed by")
    }
  }

  /** Columns whose carried Bloom words went stale in this commit: the
    * type changed in a way that changes a value's cast-to-string form
    * (float→double, decimal growth), so probes hashed under the new
    * schema would false-NEGATIVE against the old words. Integer-chain
    * widenings preserve the string form and keep their blooms.
    */
  private def bloomUnsafeCols(
      p: CowManifest, effSchema: StructType): Set[String] =
    p.schema.fields.toSeq.collect {
      case f if effSchema.fieldNames.contains(f.name) &&
        effSchema(f.name).dataType != f.dataType &&
        !integerWidening(f.dataType, effSchema(f.name).dataType) =>
        f.name
    }.toSet

  /** Drop the carried stats an unsafe widening invalidates — the
    * named top-level columns AND their nested dotted leaves (a struct
    * whose type changed carries `s.a`-keyed stats too, round-17).
    */
  private def stripUnsafeStats(f: CowFile, unsafe: Set[String]): CowFile =
    if (unsafe.isEmpty) f
    else {
      def keep[V](m: Map[String, V]): Map[String, V] =
        m.filterNot { case (k, _) =>
          unsafe.exists(u => k == u || k.startsWith(u + ".")) }
      f.copy(blooms = keep(f.blooms), mins = keep(f.mins),
        maxs = keep(f.maxs))
    }

  /** Commit `rewrite` as the FULL new content of the partitions whose
    * canonical keys are in `touched`; every other partition carries
    * over from the previous snapshot by reference. A touched partition
    * with no rows in `rewrite` is thereby DELETED. Initial commit
    * (no previous snapshot): `touched` is ignored, `rewrite` is the
    * whole table.
    *
    * Schema evolution is gated by [[SchemaCompat]]: safe changes
    * (adding nullable columns, widening along byte→short→int→long,
    * float→double, decimal growth, required→nullable) commit, and
    * carried-over old files upcast into the new schema at read (the
    * parquet reader's widening promotions); breaking changes (drops,
    * renames, narrowing, nullable→required) are refused loudly.
    * Partition columns are stricter — their STRING form is partition
    * identity, so their types may not change at all. Carried files'
    * min/max envelopes stay sound under widening (numeric stats
    * compare as decimals), but Bloom filters hash the value's exact
    * string form, which float→double / decimal-rescale widenings
    * change — carried blooms on such columns are dropped (pruning
    * degrades, correctness holds; integer widenings keep theirs).
    *
    * CONCURRENCY: commits are optimistic, and every table commit —
    * this one, appends, merge-on-read DML, schema changes, restore,
    * clone and WAP publish — runs the one skeleton [[leasedCommit]].
    * The per-id lease ([[acquireCommitLock]]) makes same-id races
    * one-winner — the loser throws [[CowConcurrentCommitException]]
    * before writing anything. Cross-id races (two writers committing
    * different ids against the same base snapshot) are excluded by the
    * table-wide [[acquireManifestLock]]: based-on verification (current
    * manifest still the snapshot `carried` was computed from) and the
    * manifest write sit in one short critical section, so the window
    * where two different-id writers both pass the check cannot exist.
    * A failed verification aborts with the same exception, sidecar
    * unpublished, and the caller recomputes against the new base.
    *
    * `changeLogKeys` (non-empty = enabled) emits the batch's signed
    * row-level changelog ([[Cdc.changelogSigned]] of the touched
    * partitions' before vs after state, keyed by these columns) into
    * the `_changes/<id>/` sidecar, published atomically only when the
    * commit's verification passes — the write-time feed [[changeFeed]]
    * then serves without diffing snapshots. Cost: one delta-sized join
    * over the touched partitions, outside every lock.
    *
    * OWNERSHIP CONTRACT (every commit/DML entry point shares it):
    * returns TRUE when this call's effect is in the table — a
    * published manifest, or a benign no-op (zero rows matched, no-op
    * ALTER); returns FALSE only when the superseded guard fired, i.e.
    * a commit with this id or higher was already published by SOMEONE
    * ELSE before this call reached its lease. An explicit-id replayer
    * (streaming batchId) treats false as the exactly-once skip it is;
    * an id AUTO-ALLOCATOR (head+1 — the named catalog's INSERT, the
    * textual DML executor) must treat false as a lost race and fail or
    * retry: its data is NOT in the table, and checking
    * `committedIds.contains(id)` instead would be satisfied by the
    * racing writer's commit (the silent-lost-write hole this contract
    * closes).
    */
  def commitPartitions(
      rewrite: DataFrame,
      touched: Set[String],
      root: String,
      id: Long,
      partCols: Seq[String],
      keep: Int = 2,
      sortCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      changeLogKeys: Seq[String] = Nil,
      split: Option[(String, Int)] = None): Boolean =
    commitPartitionsFrom(currentManifest(rewrite.sparkSession, root),
      rewrite, touched, root, id, partCols, keep, sortCols, bloomCols,
      changeLogKeys, split)

  /** [[commitPartitions]] against an EXPLICIT base manifest — the one
    * the caller computed `rewrite`/`touched` from. Every derived entry
    * point (upsert, applyCdc, fold, compact, …) reads the manifest
    * once, computes its rewrite from it, and passes that SAME manifest
    * here, so the based-on verification in [[leasedCommit]] checks
    * against the snapshot the rewrite actually used. Re-reading
    * `currentManifest` at commit time instead would open a lost-update
    * window: a concurrent commit landing between the caller's read and
    * the re-read would pass verification and have its changes to the
    * touched partitions silently overwritten. Carried files and the
    * changelog before-state come from this same manifest for the same
    * reason.
    */
  private[graft] def commitPartitionsFrom(
      base: Option[CowManifest],
      rewrite: DataFrame,
      touched: Set[String],
      root: String,
      id: Long,
      partCols: Seq[String],
      keep: Int = 2,
      sortCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      changeLogKeys: Seq[String] = Nil,
      split: Option[(String, Int)] = None,
      relayout: Boolean = false,
      touchedFromWritten: Boolean = false,
      validateWritten: Seq[CowFile] => Unit = _ => ()): Boolean = {
    require(keep >= 1, "must keep at least the current snapshot")
    // touchedFromWritten: `touched` is only the EXTRA partitions to
    // drop (a replaceWhere region, a declared static spec); the full
    // touched set is derived from the files the batch write actually
    // LANDED, and the CHECK scan + `validateWritten` run against those
    // files — so a non-deterministic INSERT needs no driver-side pin
    // of its input (the old full-input localCheckpoint, 2× write
    // amplification and executor-death-fragile) to keep the committed
    // touched set consistent with the committed rows: the write IS the
    // single evaluation.
    require(!(touchedFromWritten && relayout),
      "touchedFromWritten and relayout are mutually exclusive")
    val spark = rewrite.sparkSession
    // the split column (see writeBatch) is routing-only — the table's
    // schema is the rewrite WITHOUT it
    val payload = split.map { case (s, _) => rewrite.drop(s) }
      .getOrElse(rewrite)
    val prev = base
    // replay guard — see scaladoc: rewriting a committed batch's files
    // would rename them out from under later manifests
    if (prev.exists(_.id >= id)) return false
    // CHECK constraints: one batch-sized pass, outside every lock (in
    // touchedFromWritten mode the pass runs over the WRITTEN files
    // instead — see below — so the input query evaluates exactly once)
    if (!touchedFromWritten)
      enforceChecks(payload, checkConstraints(spark, root),
        s"commit $id at $root")
    val effSchema = effSchemaOf(prev, payload.schema)
    // added columns may need fresh physical names (see mappingForAdds)
    val commitMapping = mappingForAdds(prev, effSchema)
    // layout change is legal ONLY via the explicit relayout flag
    // (commitFull → repartitionTable): the flag's caller constructs
    // `touched` = every previous partition FROM the previous manifest
    // itself, so nothing can be carried. Inferring "full rewrite" from
    // touched ⊇ prev-keys here would be layout-BLIND — partition keys
    // are bare value strings, and a partial commit under a new layout
    // whose values coincide with the old layout's (pb 0..3 vs seg
    // 0..3) would silently drop every row it didn't re-supply.
    prev.foreach(p => validateEvolution(p, effSchema, partCols,
      fullRewrite = relayout &&
        p.allFiles.map(p.partKeyOf).toSet.subsetOf(touched)))
    leasedCommit(spark, root, id, prev, prev.map(_.id), Some(keep)) {
      val batchDir = s"$root/$BatchPrefix$id"
      writeBatch(rewrite, batchDir, partCols, sortCols, split,
        colMap = commitMapping._1)
      // bloom columns INHERIT from the previous snapshot when the caller
      // doesn't name any: a table committed with blooms must not quietly
      // lose its point-lookup pruning every time a merge or fold
      // rewrites a partition
      val effBloomCols =
        if (bloomCols.nonEmpty) bloomCols
        else prev.toSeq.flatMap(_.files.flatMap(_.blooms.keys)).distinct
          .filter(effSchema.fieldNames.contains)
      val fresh = collectEntries(spark, batchDir, id, effSchema, partCols,
        effBloomCols, colMap = commitMapping._1)
      // written-derived touched set: partitions come from the batch
      // files just landed (their manifest entries carry the partition
      // values), so the committed set can never disagree with the
      // committed rows; validation and the CHECK scan read those same
      // files — batch-sized IO, no re-evaluation of the input query
      val allTouched =
        if (!touchedFromWritten) touched
        else {
          // a refused batch must not leave its staged files behind:
          // the id was not consumed, so a LATER attempt reuses this
          // batch dir — the static-mode overwrite in writeBatch
          // replaces it whole, but deleting here keeps failed
          // statements free of disk debris (same cleanup the DV/MOR
          // abort paths perform)
          try {
            validateWritten(fresh)
            if (fresh.nonEmpty)
              enforceChecks(
                dfFor(spark, root,
                  CowManifest(id, partCols, effSchema.toDDL, fresh,
                    commitMapping._1, commitMapping._2),
                  fresh),
                checkConstraints(spark, root), s"commit $id at $root")
          } catch { case t: Throwable =>
            hfs(spark, root).delete(new Path(batchDir), true)
            throw t
          }
          touched ++ fresh.map(f => partKey(partCols, f.part))
        }
      // carry untouched DATA files and untouched partitions' DVs;
      // a touched partition's DVs retire here — its rewrite was
      // computed from the RESOLVED base, so they are folded in. Widened
      // columns whose string form changed lose their carried blooms AND
      // min/max stats (see bloomUnsafeCols): a float-era stat "0.1"
      // understates the upcast double 0.10000000149…, so an envelope
      // test against it could FALSE-SKIP the file, and a manifest-served
      // extreme would disagree with the scan. A dropped stat only
      // widens (the file is kept, the aggregate refuses) — never wrong.
      val bloomUnsafe = prev.map(bloomUnsafeCols(_, effSchema))
        .getOrElse(Set.empty[String])
      // the changelog JOIN runs here, outside the manifest lock; only
      // the rename publishes it
      val stagedLog =
        if (changeLogKeys.isEmpty) None
        else {
          val newDdl = effSchema.toDDL
          // before-state read under the NEW schema (old files upcast),
          // so the signed changelog is well-typed across evolution
          val before = prev.map(p => resolved(spark, root,
            p.copy(schemaDdl = newDdl),
            p.files.filter(f => allTouched.contains(p.partKeyOf(f)))))
          val stub = CowManifest(id, partCols, newDdl, fresh,
            commitMapping._1, commitMapping._2)
          val after = dfFor(spark, root, stub, stub.files)
          Some(stageChangeLog(spark, root, id, Cdc.changelogSigned(
            before.getOrElse(after.limit(0)), after, changeLogKeys,
            ChangeOper)))
        }
      prev match {
        // the touched partitions' new content against the base: a
        // DELTA when the carried entries stay byte-identical, O(touched)
        // manifest rows instead of O(table files)
        case Some(_) if !relayout =>
          Leased.Adds(fresh, effSchema.toDDL, commitMapping, stagedLog,
            removedParts = allTouched, statsUnsafe = bloomUnsafe)
        // a first commit, or a relayout (whose partitioning may change):
        // the full list
        case _ =>
          val carried = prev.toSeq.flatMap(p => p.allFiles
            .filterNot(f => allTouched.contains(p.partKeyOf(f)))
            .map(stripUnsafeStats(_, bloomUnsafe)))
          Leased.Rewrite(carried ++ fresh, partCols, effSchema.toDDL,
            commitMapping, stagedLog)
      }
    }
  }

  /** What a [[leasedCommit]] body decided, under the lease. */
  private sealed trait Leased
  private object Leased {
    /** Nothing to commit: `id` stays unconsumed. `dropBatch` removes
      * the `batch-<id>` dir the body wrote before finding no change.
      */
    final case class NoCommit(dropBatch: Boolean) extends Leased
    /** A snapshot to publish under `ddl` and `mapping`. `changeLog` is
      * its sidecar, already staged by [[stageChangeLog]]; `retire`
      * lists files the commit consumes, deleted once the manifest is
      * written.
      */
    sealed trait Commit extends Leased {
      def ddl: String
      def mapping: (Map[String, String], Seq[String])
      def changeLog: Option[Path]
      def retire: Seq[Path]
      def pendingChecks: Boolean = false
    }
    /** Snapshot `id` = the base's entries outside `removedParts` (with
      * the stats of `statsUnsafe` columns stripped — see
      * [[bloomUnsafeCols]]) followed by `adds`, under the base's
      * partitioning: a DELTA manifest against the base when every
      * carried entry is byte-identical and the chain has headroom
      * ([[manifestCheckpointInterval]]), else a full one.
      */
    final case class Adds(
        adds: Seq[CowFile], ddl: String,
        mapping: (Map[String, String], Seq[String]),
        changeLog: Option[Path] = None,
        removedParts: Set[String] = Set.empty,
        statsUnsafe: Set[String] = Set.empty,
        retire: Seq[Path] = Nil) extends Commit
    /** Snapshot `id` = exactly `files` under `partCols`, written as a
      * full manifest. `pendingChecks`: the body staged the table's new
      * CHECK set as `_checks.tsv.pending-<id>` ([[writePendingChecks]]);
      * it is adopted once the manifest is written and deleted if the
      * commit fails.
      */
    final case class Rewrite(
        files: Seq[CowFile], partCols: Seq[String], ddl: String,
        mapping: (Map[String, String], Seq[String]),
        changeLog: Option[Path] = None,
        retire: Seq[Path] = Nil,
        override val pendingChecks: Boolean = false) extends Commit
  }

  /** The adds-only outcome every merge-on-read commit has: base `m`'s
    * entries verbatim plus `adds`, with `changeLog` (table columns then
    * [[ChangeOper]]) staged as the sidecar.
    */
  private def morAdds(
      spark: SparkSession, root: String, id: Long, m: CowManifest,
      adds: Seq[CowFile], changeLog: Option[DataFrame]): Leased =
    Leased.Adds(adds, m.schemaDdl, mappingOf(Some(m)),
      changeLog.map(stageChangeLog(spark, root, id, _)))

  /** The commit skeleton every table commit runs:
    *  1. take the per-id lease ([[acquireCommitLock]]) and re-check the
    *     id (an FS listing, no Spark job) — false when `id` is already
    *     committed;
    *  1. refuse an id whose `batch-<id>` a fresh `_retrykeep-<id>`
    *     marker shields;
    *  1. run `body` and act on its [[Leased]] outcome: under the
    *     table-wide manifest lock ([[acquireManifestLock]]) verify the
    *     head is still `basedOn` (the cross-id lost-update guard; on a
    *     mismatch the staged changelog is discarded and nothing is
    *     published), publish the changelog, and write the manifest —
    *     delta or full — from the outcome's data;
    *  1. release the lease and, unless `keep` is None, vacuum with the
    *     new snapshot's and `base`'s entries already known.
    *
    * `base` is the manifest the body computed from: None for a table's
    * first commit, or when the caller holds only the base's id (a WAP
    * publish). A clone's first commit passes `keep = None`: nothing is
    * retained against, and the clone fence must see a failure only
    * when the manifest did not land.
    */
  private def leasedCommit(
      spark: SparkSession, root: String, id: Long,
      base: Option[CowManifest], basedOn: Option[Long], keep: Option[Int])(
      body: => Leased): Boolean = {
    val fs = hfs(spark, root)
    var vacuumKnown: Map[Long, Seq[String]] = Map.empty
    acquireCommitLock(spark, root, id)
    try {
      if (committedIds(spark, root).exists(_ >= id)) return false
      // a FRESH `_retrykeep-<id>` marker shields a parked retry / WAP
      // re-point stage's ONLY data under batch-<id>; a body writing
      // there (or a no-change call dropping the dir) would destroy it.
      // Stale markers are crashed leftovers vacuum sweeps. KNOWN WINDOW
      // (ADVICE.md, best-effort by design): markers are created by
      // retry claim() WITHOUT this lease, so one appearing between this
      // check and the body's write is still overwritten. Closing it
      // would require claim() to take the per-id lease, serializing
      // every retry attempt behind unrelated commits; the retry path's
      // own id-skip (appendWithRetryImpl avoids ids under foreign fresh
      // markers) keeps the window to a crash-then-reclaim race.
      if (freshRetryKeep(fs, root, id))
        throw new CowConcurrentCommitException(
          s"commit $id at $root: an in-flight retry holds this id's " +
            "batch dir — commit under a different id")
      body match {
        case Leased.NoCommit(dropBatch) =>
          if (dropBatch) fs.delete(new Path(s"$root/$BatchPrefix$id"), true)
          return true
        case c: Leased.Commit =>
          val (partCols, files) = (c, base) match {
            case (a: Leased.Adds, Some(b)) =>
              (b.partCols, b.allFiles
                .filterNot(f => a.removedParts.contains(b.partKeyOf(f)))
                .map(stripUnsafeStats(_, a.statsUnsafe)) ++ a.adds)
            case (r: Leased.Rewrite, _) => (r.partCols, r.files)
            case _ => throw new IllegalArgumentException(
              s"commit $id at $root: an adds-only commit needs its base")
          }
          try {
            acquireManifestLock(spark, root, id)
            try {
              // only the latest ID is compared, so the verification is
              // a pure FS listing — no manifest parquet read (a Spark
              // job) inside the critical section
              val latest = committedIds(spark, root).lastOption
              if (latest != basedOn) {
                discardChangeLog(spark, root, c.changeLog)
                throw new CowConcurrentCommitException(
                  s"commit $id at $root: based on snapshot $basedOn but " +
                    s"current is $latest — recompute against the new " +
                    "base and retry (nothing was published)")
              }
              c.changeLog.foreach(publishChangeLog(spark, root, id, _))
              (c, base) match {
                case (a: Leased.Adds, Some(b)) if a.statsUnsafe.isEmpty &&
                    b.chainDepth < manifestCheckpointInterval =>
                  writeManifestDelta(spark, root, id, b, a.ddl, a.adds,
                    a.removedParts, a.mapping, files)
                case _ =>
                  writeManifest(spark, root, id, partCols, c.ddl, files,
                    c.mapping)
              }
            } finally releaseManifestLock(spark, root)
          } catch { case t: Throwable =>
            if (c.pendingChecks)
              fs.delete(pendingChecksPath(root, id), false)
            throw t
          }
          if (c.pendingChecks) adoptPendingChecks(spark, root, id)
          c.retire.foreach(fs.delete(_, true))
          vacuumKnown = Map(id -> files.map(_.path)) ++
            base.map(b => b.id -> b.allFiles.map(_.path))
      }
    } finally releaseCommitLock(spark, root, id)
    keep.foreach(vacuum(spark, root, _, vacuumKnown))
    true
  }


  /** The pure-I changelog sidecar for an APPEND of `fresh` files onto
    * base `p`, or None when an appended key overlaps an incumbent (the
    * snapshot-diff fallback then serves the range) — the envelope-
    * scoped probe [[commitAppend]]'s scaladoc documents. Shared by
    * [[commitAppend]] and [[stageAppend]]: a staged append is the same
    * insert-only shape, and publish's based-on verification pins the
    * base unchanged between stage and publish, so a stage-time probe
    * against `p` stays valid at publish time.
    */
  private def stagePureInsertLog(
      spark: SparkSession, root: String, p: CowManifest,
      fresh: Seq[CowFile], effSchema: StructType, partCols: Seq[String],
      id: Long, changeLogKeys: Seq[String],
      changeLogRequired: Boolean, what: String): Option[Path] = {
    if (changeLogKeys.isEmpty) None
    else {
      // pure-I guard (see scaladoc): NO appended key may be
      // visible anywhere in the table — a duplicate landing in
      // a DIFFERENT partition than its incumbent would
      // otherwise still get a pure-I sidecar. The check scopes
      // itself with the manifest's own stats: only files whose
      // [min, max] envelope on the first key column intersects
      // the batch's key range (plus stat-less files) are read;
      // for the monotonically-growing keys insert-only ingest
      // appends, that prunes to nothing. DV-masked incumbents
      // may false-positive the overlap, which only SKIPS the
      // sidecar — the diff fallback stays correct. No broadcast
      // hint: the batch's distinct keys can be arbitrarily
      // large; AQE broadcasts when they are in fact small.
      //
      // The batch's key bounds come from the JUST-COLLECTED
      // per-file stats in `fresh` (native-order min/max cast to
      // string — the exact form the envelope layer compares):
      // zero extra jobs over the batch, and correctly ordered
      // for numerics where a cast-then-aggregate would be
      // lexicographic ("999" > "1000" as strings, inverting the
      // interval and pruning the very files that hold the
      // duplicates). A file with an absent stat (all-null keys,
      // or an over-long string max dropped at collect) makes
      // that side unbounded — conservative: more candidates,
      // never fewer. The probe side reads the batch's WRITTEN
      // files, not its input lineage (which may be an arbitrary
      // uncached upstream DAG).
      val keyCol = changeLogKeys.head
      val keyDt = effSchema.fields.find(_.name == keyCol)
        .map(_.dataType).getOrElse(StringType)
      val stub = CowManifest(id, partCols, effSchema.toDDL, fresh,
        p.colMap, p.retiredPhys)
      val mins = fresh.map(_.mins.get(keyCol))
      val candidates =
        // an all-absent min on a STAT column means every batch
        // key is NULL — null keys match no incumbent, so no
        // overlap is possible and the probe is skipped entirely
        if (fresh.isEmpty ||
            (statCols(effSchema).contains(keyCol) &&
              mins.forall(_.isEmpty))) Nil
        else keptFiles(spark, p, Seq(CowRange(keyCol,
          foldStat(keyDt, mins, takeMax = false),
          foldStat(keyDt, fresh.map(_.maxs.get(keyCol)),
            takeMax = true))))
      val overlaps = candidates.nonEmpty &&
        !dfFor(spark, root, p, candidates)
          .select(changeLogKeys.map(col): _*)
          .join(dfFor(spark, root, stub, fresh)
              .select(changeLogKeys.map(col): _*).distinct(),
            changeLogKeys, "left_semi")
          .isEmpty
      if (overlaps) {
        // a sidecar-REQUIRED append (streaming feed consumers
        // have no snapshot-diff fallback) must not commit a
        // sidecar-less batch — downstream MVs would silently
        // miss every row of it. Fail the batch loudly: dedupe
        // upstream or use the upsert sink for mutable keys.
        if (changeLogRequired) throw new IllegalStateException(
          s"$what updates keys already present in " +
            s"$root; a pure-I changelog sidecar would be wrong " +
            "and changeLogRequired forbids committing without " +
            "one — deduplicate upstream or upsert instead")
        None
      } else {
        val after = dfFor(spark, root, stub, stub.files)
        Some(stageChangeLog(spark, root, id, Cdc.changelogSigned(
          after.limit(0), after, changeLogKeys, ChangeOper)))
      }
    }
  }

  /** Integer-chain widenings preserve a value's Spark string form
    * (42: Int and 42: Long both cast to "42"), so carried Bloom words
    * stay valid; float→double and decimal growth do not.
    */
  private def integerWidening(from: DataType, to: DataType): Boolean = {
    val chain = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    chain.indexOf(from) >= 0 && chain.indexOf(to) > chain.indexOf(from)
  }

  /** APPEND commit: `batch`'s files ADD to the table — no partition is
    * rewritten, every previous file (data and DVs) carries over
    * verbatim. This is the write path for insert-only fact/event
    * ingest, where [[commitPartitions]]' rewrite-the-touched-partition
    * contract would cost a partition rewrite per micro-batch for zero
    * benefit: an append costs exactly the batch's own bytes, whatever
    * the table or partition size. The flip side, stated plainly:
    * appends never collapse duplicate keys (the table is a multiset —
    * use [[upsert]] for keyed tables), and repeated appends FRAGMENT
    * partitions into one file per batch — [[compactPartitions]] is the
    * periodic repair, and the per-file manifest stats keep skipping
    * sharp in between.
    *
    * Same lease + based-on verification as [[commitPartitions]]; same
    * [[SchemaCompat]] evolution gate. `changeLogKeys` emits the
    * sidecar feed as pure `I` rows of the batch (no diff join — an
    * append IS its own changelog). The pure-I form is only correct
    * when appended keys are NEW, which insert-only ingest guarantees —
    * and the commit VERIFIES it cheaply (batch keys semi-joined
    * against the touched partitions' visible rows): a batch that
    * appends an already-present key skips the sidecar, so
    * [[changeFeed]] serves that range by snapshot diff (always
    * correct) instead of a sidecar that would report I where the
    * truth is U.
    */
  def commitAppend(
      batch: DataFrame,
      root: String,
      id: Long,
      partCols: Seq[String],
      keep: Int = 2,
      sortCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      changeLogKeys: Seq[String] = Nil,
      changeLogRequired: Boolean = false): Boolean = {
    require(keep >= 1, "must keep at least the current snapshot")
    val spark = batch.sparkSession
    val prev = currentManifest(spark, root)
    if (prev.exists(_.id >= id)) return false
    prev match {
      case None =>
        // first commit: an append to nothing is the initial snapshot
        commitPartitionsFrom(None, batch, Set.empty, root, id, partCols,
          keep, sortCols, bloomCols, changeLogKeys)
      case Some(p) =>
        commitAppendOnto(batch, root, id, p, partCols, keep, sortCols,
          bloomCols, changeLogKeys, changeLogRequired,
          reuse = None, recordStaged = _ => ())
    }
  }

  /** A batch STAGED by a failed [[appendWithRetry]] attempt, carried to
    * the next one: the data files under `batch-<batchId>/` plus their
    * collected entries, and the context they were written under —
    * schema DDL, the physical column map [[writeBatch]] applied, and
    * the CHECK-constraint set validated. A retry attempt ADOPTS the
    * stage (zero data-file rewrites — the files move by one directory
    * RENAME) only when the new base still presents the same schema and
    * mapping; anything else re-stages, which is exactly what a
    * recompute-from-scratch caller would have done anyway.
    */
  private final case class StagedAppendBatch(
      batchId: Long,
      fresh: Seq[CowFile],
      effSchemaDdl: String,
      writeColMap: Map[String, String],
      checks: Map[String, String])

  /** One append attempt of `batch` onto base `p` as commit `id` — the
    * shared body of [[commitAppend]] (reuse = None: byte-identical to
    * the pre-retry path) and [[appendWithRetry]] (reuse carries a prior
    * attempt's staged files across a lost race). Returns false when the
    * replay guard fired (a commit with this id or later landed first);
    * throws [[CowConcurrentCommitException]] on a lost lease or failed
    * based-on verification. `recordStaged` fires once the batch's data
    * files and entries are durable — BEFORE the manifest race — so the
    * caller still holds the handle when the race is lost.
    */
  private def commitAppendOnto(
      batch: DataFrame, root: String, id: Long, p: CowManifest,
      partCols: Seq[String], keep: Int, sortCols: Seq[String],
      bloomCols: Seq[String], changeLogKeys: Seq[String],
      changeLogRequired: Boolean,
      reuse: Option[StagedAppendBatch],
      recordStaged: StagedAppendBatch => Unit,
      protectStage: Boolean = false,
      onStagedForTest: () => Unit = () => ()): Boolean = {
    val spark = batch.sparkSession
    val checks = checkConstraints(spark, root)
    if (reuse.isEmpty)
      enforceChecks(batch, checks, s"append $id at $root")
    val effSchema = effSchemaOf(Some(p), batch.schema)
    validateEvolution(p, effSchema, partCols)
    val commitMapping = mappingForAdds(Some(p), effSchema)
    leasedCommit(spark, root, id, Some(p), Some(p.id), Some(keep)) {
      val batchDir = s"$root/$BatchPrefix$id"
      val fs = hfs(spark, root)
      if (protectStage) {
        // a PENDING WAP STAGE parked on this very id: batch-<id> is
        // that stage's only data and the restage below would overwrite
        // it — lose loudly so the retry loop re-picks (its id choice
        // skips parked stages; this closes the list-then-stage race)
        if (fs.exists(stagedMetaPath(root, id)))
          throw new CowConcurrentCommitException(
            s"commit $id at $root: a pending WAP stage is parked on " +
              "this id — retry against the next id")
        // CLAIM the dir before any file lands, and shield it from
        // vacuum: the moment a competing commit advances the frontier
        // past our id, an unmarked batch dir is vacuum bait — and the
        // winner's post-commit vacuum runs immediately. The claim is
        // create-if-absent: an EXISTING fresh marker is another
        // in-flight retry's moved data parked at this id (review r18)
        // — overwriting it would destroy that retry's only copy, so
        // lose loudly instead; a stale marker is a crashed retry's
        // leftover and is swept then re-claimed. (A vacuum that listed
        // markers before this create can still reap a dir it listed
        // after — that worst case loses this attempt's staging work,
        // never correctness: the competing commit that armed the
        // vacuum fails our based-on check anyway.)
        def claim(): Boolean =
          try { fs.create(retryKeepPath(root, id), false).close(); true }
          catch { case _: java.io.IOException => false }
        if (!claim()) {
          if (freshRetryKeep(fs, root, id))
            throw new CowConcurrentCommitException(
              s"commit $id at $root: another in-flight retry holds " +
                "this id's batch dir — retry against the next id")
          fs.delete(retryKeepPath(root, id), false)
          if (!claim())
            throw new CowConcurrentCommitException(
              s"commit $id at $root: lost the batch-dir claim race — " +
                "retry against the next id")
        }
      }
      // ADOPT a prior attempt's staged batch when the new base still
      // presents the schema and physical mapping the files were written
      // under — a concurrent winner that evolved either invalidates the
      // stage (the files' layout or the entries' stat keys would lie).
      // The move is ONE directory rename; a concurrent vacuum racing
      // the old name (its id fell behind the new frontier the moment
      // the winner committed) can tear the source mid-move, so adoption
      // confirms every staged file arrived before trusting the rename —
      // the renamed dir itself is safe from any LATER sweep (its id is
      // ahead of every frontier this commit can lose to and still win).
      val adopted: Option[Seq[CowFile]] = reuse
        .filter(s => s.effSchemaDdl == effSchema.toDDL &&
          s.writeColMap == commitMapping._1)
        .flatMap { s =>
          val moved: Option[Seq[CowFile]] =
            if (s.batchId == id) Some(s.fresh)
            else {
              val src = new Path(s"$root/$BatchPrefix${s.batchId}")
              val dst = new Path(batchDir)
              // move under the SOURCE id's lease: a gap-id stage's dir
              // (id still ahead of the frontier) is legitimately
              // claimable by a writer of that very id, whose overwrite
              // interleaving with a bare check-then-rename could move
              // ITS files into our commit (review r18). The lease
              // closes the window — ids ahead of the frontier are
              // exactly the ones vacuum never sweeps leases for, and a
              // claimant holding it makes us refuse (None) instead of
              // racing. Behind-the-frontier ids (the appendWithRetry
              // shape) have no live claimants (the pre-stage replay
              // guard), so the lease there is uncontended by
              // construction.
              val leased =
                try { acquireCommitLock(spark, root, s.batchId); true }
                catch { case _: CowConcurrentCommitException => false }
              if (!leased) None
              else try {
                // the source dir must still hold OUR staged files: a
                // racer that already committed s.batchId overwrote the
                // dir with its own batch — renaming that would corrupt
                // the racer's snapshot. File names are UUID-unique, so
                // per-file existence is ownership. (A pending stage
                // parked at the TARGET id already threw up-front.)
                val ours = s.fresh.forall(f =>
                  fs.exists(new Path(s"$root/${f.path}")))
                if (!ours) None
                else {
                  // a crashed leftover under OUR leased id would make
                  // the rename nest src INSIDE it (Hadoop local-fs
                  // semantics); nothing live writes batch-<id> while
                  // we hold the id lease
                  if (fs.exists(dst)) fs.delete(dst, true)
                  val ok = try fs.rename(src, dst)
                    catch { case scala.util.control.NonFatal(_) => false }
                  if (!ok) None
                  else Some(s.fresh.map(f => f.copy(path =
                    s"$BatchPrefix$id/" +
                      f.path.stripPrefix(s"$BatchPrefix${s.batchId}/"))))
                }
              } finally releaseCommitLock(spark, root, s.batchId)
            }
          moved.filter(_.forall(f =>
            fs.exists(new Path(s"$root/${f.path}"))))
        }
      // the OLD staged dir's marker is done either way: adopted means
      // the files now live under batch-<id> (its own marker above);
      // refused means the stage is abandoned and vacuum should reclaim
      reuse.filter(_.batchId != id).foreach(s =>
        fs.delete(retryKeepPath(root, s.batchId), false))
      adopted.foreach { _ =>
        // the constraint set may have changed while retrying: re-check
        // the rows exactly as staged (the batch DF may be
        // nondeterministic upstream; the files are what commits)
        if (reuse.exists(_.checks != checks))
          enforceChecks(readLogical(spark, Seq(batchDir), effSchema,
            commitMapping._1), checks, s"append retry $id at $root")
      }
      val fresh = adopted.getOrElse {
        if (reuse.exists(_.checks != checks))
          enforceChecks(batch, checks, s"append $id at $root")
        writeBatch(batch, batchDir, partCols, sortCols,
          colMap = commitMapping._1)
        val effBloomCols =
          if (bloomCols.nonEmpty) bloomCols
          else p.files.flatMap(_.blooms.keys).distinct
            .filter(effSchema.fieldNames.contains)
        collectEntries(spark, batchDir, id, effSchema,
          partCols, effBloomCols, colMap = commitMapping._1)
      }
      recordStaged(StagedAppendBatch(id, fresh, effSchema.toDDL,
        commitMapping._1, checks))
      onStagedForTest()
      val stagedLog = stagePureInsertLog(spark, root, p, fresh,
        effSchema, partCols, id, changeLogKeys, changeLogRequired,
        s"append batch $id")
      // an append is the ideal delta: adds-only, O(batch) rows —
      // per-micro-batch ingest commits stay O(Δ) at any table size.
      // Carried files lose blooms AND min/max stats on string-form-
      // changing widenings exactly as in commitPartitions (a stale
      // bloom would false-negative against probes hashed under the new
      // schema; a stale stat would false-skip the envelope test). Once
      // the manifest references the files — the durable protection —
      // a claim marker has done its job.
      Leased.Adds(fresh, effSchema.toDDL, commitMapping, stagedLog,
        statsUnsafe = bloomUnsafeCols(p, effSchema),
        retire = if (protectStage) Seq(retryKeepPath(root, id)) else Nil)
    }
  }

  /** APPEND with BOUNDED AUTOMATIC RETRY on lost commit races —
    * Delta's documented conflict rule for blind appends, which have no
    * read dependency to recompute: whoever wins, the correct next
    * snapshot is still base+adds, so losing the id lease (or the
    * based-on verification) re-points the base at the new head and
    * re-commits under the next id instead of failing the whole job.
    * The staged data files are NEVER rewritten across retries when the
    * base's schema and column mapping are unchanged — a lost manifest
    * race moves them by one directory rename ([[StagedAppendBatch]]);
    * in the common two-appender race the loser fails at lease
    * acquisition BEFORE staging anything, so each writer's files are
    * written exactly once either way.
    *
    * Only appends get this: MERGE / DELETE / UPDATE / overwrite read
    * the snapshot they rewrite, so a concurrent commit invalidates
    * their computation and the conflict MUST surface to the caller
    * (same split Delta draws). Returns the committed snapshot id;
    * throws [[CowConcurrentCommitException]] after `maxAttempts`
    * losses (e.g. a crashed writer's leaked lease — repair via
    * [[breakCommitLock]]) and [[CowConstraintException]] if a CHECK
    * constraint rejects the batch (retrying cannot fix data).
    *
    * After a lease loss with an UNMOVED head the winner is still
    * publishing, so the loop polls the frontier (every 50 ms, up to
    * 2 s) before burning the next attempt against the same busy lease.
    */
  def appendWithRetry(
      batch: DataFrame,
      root: String,
      partCols: Seq[String],
      keep: Int = 2,
      sortCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      changeLogKeys: Seq[String] = Nil,
      changeLogRequired: Boolean = false,
      maxAttempts: Int = 8): Long =
    appendWithRetryImpl(batch, root, partCols, keep, sortCols, bloomCols,
      changeLogKeys, changeLogRequired, maxAttempts, () => ())

  /** Poll the frontier until it moves past `seen` or `waitMs` elapses —
    * the shared backoff of the retry loops: a busy lease with an
    * unmoved head means the winner is mid-publish, and re-attempting
    * immediately just loses the same race again.
    */
  private def awaitFrontierMove(
      spark: SparkSession, root: String, seen: Option[Long],
      waitMs: Long): Unit = {
    val deadline = System.nanoTime() + waitMs * 1000000L
    // poll the committed-id LISTING, not currentManifest: the poll only
    // needs the head's id, and on a cold memo each currentManifest call
    // pays a full manifest parse per 50 ms tick (ADVICE r18)
    while (committedIds(spark, root).lastOption == seen &&
        System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  /** [[appendWithRetry]] with test seams: `onStagedForTest` fires
    * after an attempt's batch is staged and BEFORE its manifest race —
    * the deterministic window a spec uses to land a competing commit
    * and pin the staged-reuse path — and `waitMs` bounds the poll
    * between attempts.
    */
  private[graft] def appendWithRetryImpl(
      batch: DataFrame, root: String, partCols: Seq[String],
      keep: Int, sortCols: Seq[String], bloomCols: Seq[String],
      changeLogKeys: Seq[String], changeLogRequired: Boolean,
      maxAttempts: Int, onStagedForTest: () => Unit,
      waitMs: Long = 2000L): Long = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    val spark = batch.sparkSession
    var staged: Option[StagedAppendBatch] = None
    var lastConflict: Option[CowConcurrentCommitException] = None
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val prev = currentManifest(spark, root)
      // head+1, skipping any PENDING WAP stage parked on an id just
      // above the head — committing (or staging into) its id would
      // overwrite that stage's only data (review r18) — and any id
      // claimed by a FOREIGN fresh `_retrykeep` marker (another
      // in-flight retry's moved data, or a crashed retry's marker
      // inside its grace period): the claim() below would refuse that
      // id every attempt, burning all of them against the same marker
      // (ADVICE r18). Our OWN staged batch's marker is not foreign —
      // adoption re-points it by rename.
      val parked = stagedIds(spark, root).toSet
      val fsPick = hfs(spark, root)
      val ownStaged = staged.map(_.batchId).toSet
      val keepCutoff = System.currentTimeMillis() - StaleGraceMs
      val foreignClaims: Set[Long] =
        if (!fsPick.exists(new Path(root))) Set.empty
        else fsPick.listStatus(new Path(root)).toSeq
          .filter(s => !s.isDirectory &&
            s.getPath.getName.startsWith(RetryKeepPrefix) &&
            s.getModificationTime >= keepCutoff)
          .flatMap(_.getPath.getName.stripPrefix(RetryKeepPrefix)
            .toLongOption)
          .toSet -- ownStaged
      var id = prev.map(_.id).getOrElse(0L) + 1L
      while (parked.contains(id) || foreignClaims.contains(id)) id += 1
      try {
        val ok = prev match {
          case None =>
            // first commit: an append to nothing is the initial
            // snapshot (same rule as commitAppend); a lost race here
            // staged under commitPartitionsFrom's own machinery and
            // simply retries against the winner's table
            commitPartitionsFrom(None, batch, Set.empty, root, id,
              partCols, keep, sortCols, bloomCols, changeLogKeys)
          case Some(p) =>
            commitAppendOnto(batch, root, id, p, partCols, keep,
              sortCols, bloomCols, changeLogKeys, changeLogRequired,
              reuse = staged, recordStaged = s => staged = Some(s),
              protectStage = true, onStagedForTest = onStagedForTest)
        }
        if (ok) return id
        // superseded replay guard: the head advanced past our id —
        // nothing of ours was staged this attempt; retry immediately
      } catch {
        case e: CowConcurrentCommitException =>
          lastConflict = Some(e)
          awaitFrontierMove(spark, root, prev.map(_.id), waitMs)
      }
    }
    // exhausted: reclaim our staged files if any (safe — our ids are
    // behind the frontier that beat us, so no live writer stages into
    // those dirs, and the batch was never referenced by a manifest)
    staged.foreach { s =>
      if (!committedIds(spark, root).contains(s.batchId))
        try {
          val fs = hfs(spark, root)
          fs.delete(new Path(s"$root/$BatchPrefix${s.batchId}"), true)
          fs.delete(retryKeepPath(root, s.batchId), false)
        } catch { case scala.util.control.NonFatal(_) => () }
    }
    val cause = lastConflict
    val e = new CowConcurrentCommitException(
      s"append at $root: lost the commit race $maxAttempts times — " +
        "either the table is under extreme write contention (raise " +
        "maxAttempts) or a crashed writer leaked a commit lease " +
        "(repair via breakCommitLock after confirming no writer is " +
        "live)")
    cause.foreach(e.initCause)
    throw e
  }

  // -------------------------------------------------------------------
  // Write-audit-publish (staged commits)
  // -------------------------------------------------------------------

  private def stagedManifestDir(root: String, id: Long) =
    s"$root/${ManifestPrefix}staged-$id"
  private def stagedMetaPath(root: String, id: Long) =
    new Path(s"$root/_staged-$id.meta")

  /** STAGE an append without publishing it — the write half of the
    * write-audit-publish pattern (Iceberg's WAP): the batch's data
    * files land under `batch-<id>/` and a full manifest (fresh +
    * carried files) is written under a STAGED name that
    * [[committedIds]] cannot parse, so every reader — [[read]],
    * [[readAt]], [[changeFeed]], concurrent writers — still sees the
    * pre-stage table. An auditor reads the WOULD-BE snapshot via
    * [[readStaged]] (data-quality gates, row counts, reconciliation)
    * and then either [[publishStaged]] — one manifest write, zero data
    * I/O, under the same lock + based-on verification as every commit
    * — or [[discardStaged]].
    *
    * Append shape only (insert-only batches; the WAP audit use case):
    * every previous file carries over, CHECK constraints and the
    * [[SchemaCompat]] evolution gate run at STAGE time so a doomed
    * batch fails before the audit. No changelog sidecar is emitted —
    * a published WAP range serves its feed by snapshot diff.
    *
    * Concurrency: the staged manifest records the base snapshot id it
    * carried files from; a commit landing between stage and publish
    * fails the plain publish's based-on verification (the carried list
    * is stale) — [[publishStagedWithRetry]] then RE-POINTS the carried
    * list at the new head and commits the staged files under the next
    * id (round-18), or the caller discards and re-stages. Vacuum
    * safety: a pending stage's batch dir is PINNED by its
    * `_staged-<id>.meta` marker until published or discarded
    * (round-18 — an overtaken stage is re-publishable, so it is no
    * longer doomed); a crashed half-stage never wrote the marker and
    * ages out like any dead batch.
    */
  def stageAppend(
      batch: DataFrame,
      root: String,
      id: Long,
      partCols: Seq[String],
      sortCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      changeLogKeys: Seq[String] = Nil,
      changeLogRequired: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val prev = currentManifest(spark, root)
    require(!prev.exists(_.id >= id),
      s"stage id $id at $root is not ahead of committed ${prev.map(_.id)}")
    enforceChecks(batch, checkConstraints(spark, root),
      s"stage $id at $root")
    val effSchema = effSchemaOf(prev, batch.schema)
    prev.foreach(p => validateEvolution(p, effSchema, partCols))
    val commitMapping = mappingForAdds(prev, effSchema)
    // per-id lease, same as every batch-writing path: an ordinary
    // writer racing for the SAME id would otherwise interleave its
    // locked batch-dir write with this unlocked one and commit a
    // manifest listing a mix of both writers' files
    acquireCommitLock(spark, root, id)
    try {
      if (committedIds(spark, root).exists(_ >= id))
        throw new CowConcurrentCommitException(
          s"stage $id at $root: a commit with id >= $id landed while " +
            "acquiring the lease — re-stage with a fresh id")
      // a FRESH `_retrykeep-<id>` marker is an in-flight retry's claim
      // on batch-<id> (its moved staged data may be parked there
      // between attempts) — overwriting it would destroy that retry's
      // only copy (review r18); stale markers are crashed leftovers
      // vacuum sweeps
      if (freshRetryKeep(hfs(spark, root), root, id))
        throw new CowConcurrentCommitException(
          s"stage $id at $root: an in-flight retry holds this id's " +
            "batch dir — re-stage with a different id")
      val batchDir = s"$root/$BatchPrefix$id"
      writeBatch(batch, batchDir, partCols, sortCols,
        colMap = commitMapping._1)
      val effBloomCols =
        if (bloomCols.nonEmpty) bloomCols
        else prev.toSeq.flatMap(_.files.flatMap(_.blooms.keys)).distinct
          .filter(effSchema.fieldNames.contains)
      val fresh = collectEntries(spark, batchDir, id, effSchema, partCols,
        effBloomCols, colMap = commitMapping._1)
      val bloomUnsafe = prev.map(bloomUnsafeCols(_, effSchema))
        .getOrElse(Set.empty[String])
      val carried = prev.map(_.allFiles
          .map(stripUnsafeStats(_, bloomUnsafe)))
        .getOrElse(Nil)
      writeManifestAt(spark, stagedManifestDir(root, id), partCols,
        effSchema.toDDL, fresh ++ carried, commitMapping,
        bucketOk = bucketOkOf(spark, root, fresh ++ carried))
      // changelog sidecar, STAGED like everything else: the stage is
      // append-only, so the same pure-I guard as commitAppend applies
      // (the publish's based-on verification pins the base unchanged,
      // so the stage-time probe stays valid). The sidecar lands under
      // a dot-prefixed staging dir invisible to every consumer until
      // publishStaged renames it into _changes/<id> — without this, a
      // WAP-published commit on a sidecar-maintained table was
      // silently invisible to its streaming MVs.
      val stagedLog = stagePureInsertLog(spark, root,
        prev.getOrElse(CowManifest(id, partCols, effSchema.toDDL, Nil)),
        fresh, effSchema, partCols, id, changeLogKeys, changeLogRequired,
        s"staged append $id")
      val fs = hfs(spark, root)
      val out = fs.create(stagedMetaPath(root, id), true)
      // meta v2: base id \n sidecar staging dir name (or -) \n the
      // fingerprint of the CHECK-constraint set validated at stage
      // time (publish re-validates the staged rows when it changed)
      try out.write((prev.map(_.id.toString).getOrElse("none") + "\n" +
          stagedLog.map(_.getName).getOrElse("-") + "\n" +
          checksFingerprint(checkConstraints(spark, root)))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } finally releaseCommitLock(spark, root, id)
  }

  /** The WOULD-BE snapshot of staged commit `id` — what the table will
    * serve if [[publishStaged]] succeeds (carried deletion vectors
    * applied). This is the audit surface.
    */
  def readStaged(spark: SparkSession, root: String, id: Long): DataFrame = {
    val m = manifestAt(spark, stagedManifestDir(root, id), id)
    resolved(spark, root, m, m.files)
  }

  /** Staged (unpublished) commit ids at `root`. */
  def stagedIds(spark: SparkSession, root: String): Seq[Long] = {
    val rootPath = new Path(root)
    val fs = hfs(spark, root)
    if (!fs.exists(rootPath)) Nil
    else fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(s"${ManifestPrefix}staged-") &&
        // same completeness gate as committedIds: a crash mid-stage
        // leaves a partial manifest dir that must read as ABSENT (its
        // batch files then surface as fsck orphans), not as a staged
        // commit whose parse blows up every auditor
        fs.exists(new Path(s.getPath, "_SUCCESS")))
      .flatMap(_.getPath.getName.stripPrefix(s"${ManifestPrefix}staged-")
        .toLongOption)
      .sorted
  }

  /** PUBLISH staged commit `id`: verify (under the table-wide manifest
    * lock) that the current snapshot is still the base the stage
    * carried files from, then write the real manifest — the staged
    * rows verbatim, one metadata write, no data touched. Throws
    * [[CowConcurrentCommitException]] when a commit landed since the
    * stage; the stage is then unpublishable — [[discardStaged]] it and
    * re-stage against the new base.
    */
  /** The staged-meta file's trimmed lines: base id, sidecar staging
    * name (or `-`), CHECK-set fingerprint. Shared by [[publishStaged]]
    * and [[publishStagedWithRetry]].
    */
  private def stagedMetaLines(
      fs: org.apache.hadoop.fs.FileSystem, metaP: Path): Seq[String] = {
    val in = fs.open(metaP)
    val s = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](256)
      var n = in.read(chunk)
      while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString(java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
    s.split("\n", -1).toSeq.map(_.trim)
  }

  def publishStaged(
      spark: SparkSession, root: String, id: Long, keep: Int = 2): Unit = {
    val fs = hfs(spark, root)
    val metaP = stagedMetaPath(root, id)
    require(fs.exists(metaP), s"no staged commit $id at $root")
    val metaLines = stagedMetaLines(fs, metaP)
    val basedOn = metaLines.headOption.flatMap(_.toLongOption)
    val stagedLog0 = metaLines.lift(1).filter(n => n.nonEmpty && n != "-")
      .map(n => new Path(s"$root/$ChangesDir/$n"))
    // a retry after a crash BETWEEN the sidecar rename and the manifest
    // write finds the staging dir gone and _changes/<id> already
    // published — treat that as done (re-publishing would first delete
    // the published sidecar and then fail the rename forever); a
    // missing staging with NO published sidecar is real loss, fail loud
    val stagedLog = stagedLog0.filter(p => fs.exists(p))
    stagedLog0.filterNot(p => fs.exists(p)).foreach { p =>
      require(hasChangeLog(spark, root, id),
        s"staged sidecar $p of commit $id vanished without being " +
          "published — discard the stage and re-stage")
    }
    val stagedFp = metaLines.lift(2).filter(_.nonEmpty)
    val m = manifestAt(spark, stagedManifestDir(root, id), id)
    // a CHECK constraint registered AFTER the stage validated only the
    // then-current table (setCheckConstraints scans committed state,
    // not stages) — re-validate exactly the STAGED rows against the
    // current set before they become visible
    val curChecks = checkConstraints(spark, root)
    if (curChecks.nonEmpty &&
        !stagedFp.contains(checksFingerprint(curChecks))) {
      val freshFiles = m.files.filter(_.path.startsWith(s"$BatchPrefix$id/"))
      enforceChecks(dfFor(spark, root, m, freshFiles), curChecks,
        s"publish of staged commit $id at $root (constraints changed " +
          "since stage)")
    }
    // the staged rows verbatim; the stage's manifest and meta are
    // consumed by the commit
    val committed = leasedCommit(spark, root, id, None, basedOn, Some(keep)) {
      Leased.Rewrite(m.allFiles, m.partCols, m.schemaDdl, mappingOf(Some(m)),
        stagedLog, retire = Seq(new Path(stagedManifestDir(root, id)), metaP))
    }
    if (!committed)
      throw new CowConcurrentCommitException(
        s"staged commit $id at $root: a commit with id >= $id already " +
          "exists — discard the stage and re-stage with a fresh id")
  }

  /** [[publishStaged]] with BOUNDED AUTO-RETRY on a lost race — the
    * WAP twin of [[appendWithRetry]]. A staged append has no read
    * dependency either: whoever committed between stage and publish,
    * the correct next snapshot is still newHead+adds, so instead of
    * "discard and re-stage" the publish RE-POINTS the carried list at
    * the new head and commits the already-staged files under the next
    * id. Zero data rewrites when the interleaving winner left schema
    * and column mapping unchanged (the staged dir moves by rename,
    * [[StagedAppendBatch]] adoption); a schema/mapping-changing winner
    * re-stages FROM THE STAGED FILES (one rewrite of the batch — never
    * a recompute of the source query). Returns the id that actually
    * committed: the staged id when no race, a later one after
    * re-pointing.
    *
    * Refusals (the conflict rethrows, stage left intact for the caller
    * to discard + re-stage):
    *  - the stage carries a CHANGELOG sidecar — its pure-insert
    *    certification was probed against the stage-time base and
    *    cannot be re-certified here (the probe keys are not recorded);
    *  - the staged batch dir no longer holds the staged files (a racer
    *    committed the staged id itself and overwrote the dir — gap-id
    *    stages hold no lease between stage and publish).
    */
  def publishStagedWithRetry(
      spark: SparkSession, root: String, id: Long, keep: Int = 2,
      maxAttempts: Int = 8): Long =
    publishStagedWithRetryImpl(spark, root, id, keep, maxAttempts,
      () => ())

  /** [[publishStagedWithRetry]] with the same test seams as
    * [[appendWithRetryImpl]]: `onStagedForTest` fires between an
    * attempt's staging/adoption and its manifest race, and `waitMs`
    * bounds the poll between attempts.
    */
  private[graft] def publishStagedWithRetryImpl(
      spark: SparkSession, root: String, id: Long, keep: Int,
      maxAttempts: Int, onStagedForTest: () => Unit,
      waitMs: Long = 2000L): Long = {
    val first =
      try { publishStaged(spark, root, id, keep); return id }
      catch { case e: CowConcurrentCommitException => e }
    val fs = hfs(spark, root)
    val metaP = stagedMetaPath(root, id)
    if (!fs.exists(metaP) ||
        !fs.exists(new Path(stagedManifestDir(root, id), "_SUCCESS")))
      throw first
    val metaLines = stagedMetaLines(fs, metaP)
    if (metaLines.lift(1).exists(n => n.nonEmpty && n != "-"))
      throw first // sidecar-carrying stage: pure-I unprovable — refuse
    val m = manifestAt(spark, stagedManifestDir(root, id), id)
    val freshAtStage =
      m.files.filter(_.path.startsWith(s"$BatchPrefix$id/"))
    if (!freshAtStage.forall(f => fs.exists(new Path(s"$root/${f.path}"))))
      throw first // stage destroyed by a same-id racer — refuse loudly
    // airtight CHECK seeding (review r18): re-validate the staged rows
    // whenever the CURRENT set differs from the one the STAGE
    // validated (the failed publish validated some set, but another
    // registration may have landed since ITS read) — then the reuse
    // handle below re-enforces only if the set moves yet again
    val checksNow = checkConstraints(spark, root)
    if (checksNow.nonEmpty && !metaLines.lift(2).filter(_.nonEmpty)
        .contains(checksFingerprint(checksNow)))
      enforceChecks(dfFor(spark, root, m, freshAtStage), checksNow,
        s"re-pointed publish of staged commit $id at $root " +
          "(constraints changed since stage)")
    var staged: StagedAppendBatch = StagedAppendBatch(
      id, freshAtStage, m.schemaDdl, m.colMap, checksNow)
    // the restage source is the STAGED ROWS THEMSELVES — deterministic,
    // already audited; the original query never re-evaluates. Rebuilt
    // per attempt over the CURRENT staged paths (an adopted-then-lost
    // attempt moved them; a frame planned over the old paths would
    // read nothing — review r18). File reads surface as NULLABLE
    // whatever schema the files were written under (HadoopFsRelation's
    // asNullable), and the adoption guard compares exact DDLs — so the
    // stage's own schema is re-imposed on the frame, UPCAST to the
    // current head's type wherever the interleaving winner WIDENED a
    // column (proposing the stage's narrower type would read as a
    // refused narrowing — review r18; the staged rows are trivially
    // widenable). Bloom columns re-derive from the staged entries so a
    // restage keeps the stage-time blooms; the stage's sort layout is
    // not recorded and a restage loses it (performance, never
    // correctness).
    def batchNow(headSchema: StructType): DataFrame = {
      val target = StructType(m.schema.fields.map { f =>
        headSchema.fields.find(_.name == f.name)
          .map(hf => f.copy(dataType = hf.dataType,
            nullable = f.nullable || hf.nullable))
          .getOrElse(f)
      })
      val raw = dfFor(spark, root, m, staged.fresh)
      if (raw.schema == target) raw
      else spark.createDataFrame(
        raw.select(target.fields.toSeq.map(f =>
          col(f.name).cast(f.dataType).as(f.name)): _*).rdd, target)
    }
    val stageBloomCols = freshAtStage.flatMap(_.blooms.keys).distinct
    var lastConflict = first
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      currentManifest(spark, root) match {
        case None =>
          // empty table: nothing to re-point onto — the original
          // publish applies verbatim once the contended lease frees
          // (a first committer racing an empty-table stage)
          try { publishStaged(spark, root, id, keep); return id }
          catch {
            case e: CowConcurrentCommitException =>
              lastConflict = e
              awaitFrontierMove(spark, root, None, waitMs)
          }
        case Some(prev) =>
          // strictly past the head, the staged id AND any pending
          // stage's id: a retry id equal to the current staged dir
          // would make the restage fallback overwrite the very
          // directory its source reads from, and one equal to ANOTHER
          // stage's id would destroy that stage's only data
          val parked = stagedIds(spark, root).toSet
          var newId = math.max(prev.id, staged.batchId.max(id)) + 1
          while (parked.contains(newId)) newId += 1
          try {
            val ok = commitAppendOnto(batchNow(prev.schema), root,
              newId, prev, m.partCols, keep, Nil, stageBloomCols, Nil,
              changeLogRequired = false,
              reuse = Some(staged), recordStaged = s => staged = s,
              protectStage = true, onStagedForTest = onStagedForTest)
            if (ok) {
              // the stage is consumed: its manifest + meta sweep; the
              // batch dir lives on under the committed name
              fs.delete(new Path(stagedManifestDir(root, id)), true)
              fs.delete(metaP, false)
              return newId
            }
            // superseded replay guard: head advanced — retry now
          } catch {
            case e: CowConcurrentCommitException =>
              lastConflict = e
              awaitFrontierMove(spark, root, Some(prev.id), waitMs)
          }
      }
    }
    // exhausted: RESTORE the stage to a publishable state — an
    // adopted-then-lost attempt left the files under a retry id; move
    // them back so the staged manifest's paths resolve again and the
    // caller can audit/discard/re-publish (review r18). Best-effort —
    // BUT the keep marker only drops when the move verifiably
    // succeeded: unpinning a dir the rename did NOT move back would
    // hand the stage's only data to the next vacuum (review r18, 2nd
    // pass).
    if (staged.batchId != id)
      try {
        val back = new Path(s"$root/$BatchPrefix$id")
        if (!fs.exists(back))
          fs.rename(new Path(s"$root/$BatchPrefix${staged.batchId}"),
            back)
        // restored = the STAGE's own paths resolve again; only then is
        // the parked copy's marker safe to drop
        if (freshAtStage.forall(f =>
            fs.exists(new Path(s"$root/${f.path}"))))
          fs.delete(retryKeepPath(root, staged.batchId), false)
      } catch { case scala.util.control.NonFatal(_) => () }
    val e = new CowConcurrentCommitException(
      s"publish of staged commit $id at $root: lost the commit race " +
        s"$maxAttempts times — raise maxAttempts, or discard and " +
        "re-stage (a leaked lease repairs via breakCommitLock)")
    e.initCause(lastConflict)
    throw e
  }

  /** DISCARD staged commit `id`: remove the staged manifest, its meta
    * marker, and — when `id` was never published — its batch data dir.
    */
  def discardStaged(spark: SparkSession, root: String, id: Long): Unit = {
    val fs = hfs(spark, root)
    // any staged sidecar of this id (named .tmp-<id>-<uuid>) dies with
    // the stage; vacuum would also reap it once the id is decided
    val changes = new Path(root, ChangesDir)
    if (fs.exists(changes))
      fs.listStatus(changes).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(s".tmp-$id-"))
        .foreach(st => fs.delete(st.getPath, true))
    fs.delete(new Path(stagedManifestDir(root, id)), true)
    fs.delete(stagedMetaPath(root, id), false)
    if (!committedIds(spark, root).contains(id))
      fs.delete(new Path(s"$root/$BatchPrefix$id"), true)
  }

  /** COMPACTION as a COW commit: rewrite exactly the partitions whose
    * file count exceeds what their bytes need at `targetFileBytes`
    * (the fragmentation [[commitAppend]] accrues — one file per append
    * per partition) or that carry outstanding deletion vectors (folded for
    * free by the rewrite), binning rows so each compacted partition
    * lands in ~ceil(bytes / target) files. Bin sizing comes from the
    * MANIFEST's per-file byte counts — no data pass — and the bin
    * assignment is a pure hash of the row, so task retries route
    * identically. Untouched partitions carry over by reference;
    * time travel, the replay guard and the lease all apply because
    * this IS [[commitPartitions]]. Content is byte-for-byte the same
    * table (spec-pinned). Returns false (id unconsumed) when nothing
    * needs compacting.
    */
  def compactPartitions(
      spark: SparkSession,
      root: String,
      id: Long,
      targetFileBytes: Long = 128L * 1024 * 1024,
      keep: Int = 2,
      changeLogKeys: Seq[String] = Nil,
      where: Option[Column] = None): Boolean =
    compactPartitionsStatus(spark, root, id, targetFileBytes, keep,
      changeLogKeys, where) == MaintCommitted

  /** [[compactPartitions]] with the no-op / lost-race distinction in
    * the return value — see [[optimizeZorderStatus]].
    */
  def compactPartitionsStatus(
      spark: SparkSession,
      root: String,
      id: Long,
      targetFileBytes: Long = 128L * 1024 * 1024,
      keep: Int = 2,
      changeLogKeys: Seq[String] = Nil,
      where: Option[Column] = None): MaintStatus = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    if (committedIds(spark, root).exists(_ >= id)) return MaintSuperseded
    val m = currentManifest(spark, root).getOrElse(return MaintNoOp)
    // partition-scoped form (`OPTIMIZE … WHERE p`): compact and fold
    // delete debt in the matching partitions only
    val scope = where.map(partitionsMatching(spark, m, _))
    val debtParts = m.dvs.map(m.partKeyOf).toSet
    val wantByPart: Map[String, Long] = m.files.groupBy(m.partKeyOf)
      .flatMap { case (pk, fs) =>
        val bytes = fs.map(_.bytes).sum
        val want = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
        if ((fs.size > want || debtParts.contains(pk)) &&
            scope.forall(_.contains(pk))) Some(pk -> want)
        else None
      }
    if (wantByPart.isEmpty) return MaintNoOp
    val touched = wantByPart.keySet
    val rewrite = resolved(spark, root, m,
      m.files.filter(f => touched.contains(m.partKeyOf(f))))
    // per-partition bin counts ride in on a tiny broadcast table keyed
    // by the partition values' Spark string forms (the same cast that
    // stamps manifest entries); null-safe join so NULL partitions bin
    val salted =
      if (m.partCols.isEmpty) {
        val want = wantByPart.values.head
        rewrite.withColumn("__cw_bin", pmod(binHash(rewrite), lit(want)))
      } else {
        import spark.implicits._
        val wantRows = wantByPart.toSeq.map { case (pk, want) =>
          val part = m.files.find(f => m.partKeyOf(f) == pk).get.part
          (m.partCols.map(c => part.getOrElse(c, null)), want)
        }
        val wantDf = wantRows.toDF("__cw_vals", "__cw_want").select(
          m.partCols.zipWithIndex.map { case (c, i) =>
            col("__cw_vals").getItem(i).as(s"__cw_$c")
          } :+ col("__cw_want"): _*)
        val cond = m.partCols.map(c =>
          col(c).cast("string") <=> col(s"__cw_$c")).reduce(_ && _)
        rewrite.join(broadcast(wantDf), cond)
          .withColumn("__cw_bin", pmod(binHash(rewrite), col("__cw_want")))
          .drop(m.partCols.map(c => s"__cw_$c") :+ "__cw_want": _*)
      }
    val totalBins = math.min(wantByPart.values.sum, 1L << 20).toInt
    // ownership rides through (see optimizeZorder): false = lost race
    if (commitPartitionsFrom(Some(m), salted, touched, root, id,
        m.partCols, keep, changeLogKeys = changeLogKeys,
        split = Some(("__cw_bin", totalBins))))
      MaintCommitted
    else MaintSuperseded
  }

  /** Deterministic row hash for compaction binning: every hashable
    * column (maps aren't) — duplicates co-binning is a skew concern,
    * never a correctness one.
    */
  private def binHash(df: DataFrame): Column = {
    val hashable = df.schema.fields.toSeq
      .filterNot(f => f.dataType.isInstanceOf[MapType]).map(f => col(f.name))
    if (hashable.isEmpty) lit(0L) else xxhash64(hashable: _*)
  }

  /** Commit `df` as a complete snapshot (initial load, restatement, or
    * compaction) — every partition is new; nothing carries over.
    */
  def commitFull(
      df: DataFrame, root: String, id: Long, partCols: Seq[String],
      keep: Int = 2, sortCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      changeLogKeys: Seq[String] = Nil): Boolean = {
    val base = currentManifest(df.sparkSession, root)
    val allTouched = base
      .map(p => p.allFiles.map(p.partKeyOf).toSet).getOrElse(Set.empty)
    commitPartitionsFrom(base, df, allTouched, root, id, partCols, keep,
      sortCols, bloomCols, changeLogKeys, relayout = true)
  }

  /** PARTITION LAYOUT EVOLUTION as one COW commit: the current content
    * rewritten under `newPartCols` at the SAME root — history, time
    * travel, skipping stats and the commit protocol all carry over.
    * Reads of OLDER snapshots keep the old layout (every data file is
    * self-contained: partition values live inside the files, so a
    * mixed-layout history is safe); partial commits after this one key
    * off the new layout. Allowed precisely because the rewrite touches
    * every partition — no carried file can straddle two layouts, which
    * is what the partial-commit layout check protects. Outstanding
    * deletion vectors fold into the rewrite for free. The full-rewrite cost
    * is the honest price of relayout at any scale; what the format
    * buys is doing it IN history (readers never see a half-moved
    * table, and a crashed relayout is invisible).
    */
  def repartitionTable(
      spark: SparkSession, root: String, id: Long,
      newPartCols: Seq[String],
      keep: Int = 2, sortCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      changeLogKeys: Seq[String] = Nil): Boolean = {
    val df = read(spark, root).getOrElse(throw new IllegalStateException(
      s"no committed snapshot at $root"))
    commitFull(df, root, id, newPartCols, keep, sortCols, bloomCols,
      changeLogKeys)
  }

  // -------------------------------------------------------------------
  // Incremental merge entry points
  // -------------------------------------------------------------------

  /** Canonical keys of the partitions a delta lands in. Values come
    * from the same Spark string-cast that stamps manifest entries, so
    * the two sides can never drift (driver-side toString of a
    * collected Timestamp would). A driver-resident delta (a
    * `LocalRelation` once optimized, like [[SnapshotTarget.commit]]'s
    * fast path) collects with no Spark job and dedupes on the driver;
    * any other frame dedupes in one distributed job.
    */
  private def touchedKeys(
      delta: DataFrame, partCols: Seq[String]): Set[String] = {
    val parts = delta.select(partCols.map(c => col(c).cast("string")): _*)
    val rows = parts.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        parts.collect()
      case _ => parts.distinct().collect()
    }
    rows.map(r => partKey(partCols,
        partCols.zipWithIndex.map { case (c, i) => c -> r.getString(i) }.toMap))
      .toSet
  }

  private def baseFor(
      spark: SparkSession, root: String,
      m: CowManifest, touched: Set[String]): DataFrame =
    resolved(spark, root, m,
      m.files.filter(f => touched.contains(m.partKeyOf(f))))

  /** COPY-ON-WRITE MERGE: [[Merge.upsert]] of `delta` into the table,
    * rewriting ONLY the partitions the delta touches.
    *
    * CONTRACT: every `partCols` value must be a pure function of the
    * merge keys (date extracted from an immutable event time, or
    * [[keyBucket]] over the keys) — that is what guarantees a delta
    * key's incumbent row lives in one of the delta's own partitions,
    * so untouched partitions need not even be read. A key whose
    * partition value could drift between versions would leave its old
    * row stranded in an unread partition; use bucket partitioning for
    * such tables.
    *
    * Cost: O(delta) + O(touched partitions), independent of table
    * size — the property [[SnapshotTarget]] could not offer.
    */
  def upsert(
      spark: SparkSession,
      root: String,
      id: Long,
      delta: DataFrame,
      keyCols: Seq[String],
      partCols: Seq[String],
      versionCol: Option[String] = None,
      keep: Int = 2,
      sortCols: Seq[String] = Nil,
      changeLog: Boolean = false): Boolean = {
    if (committedIds(spark, root).exists(_ >= id)) return false
    val touched = touchedKeys(delta, partCols)
    val outCols = delta.columns.toSeq.filterNot(versionCol.contains)
    val base = currentManifest(spark, root)
    val merged = base match {
      case None =>
        Merge.upsert(delta.select(outCols.map(col): _*).limit(0), delta,
          keyCols, versionCol)
      case Some(m) =>
        Merge.upsert(baseFor(spark, root, m, touched), delta,
          keyCols, versionCol)
    }
    commitPartitionsFrom(base, merged, touched, root, id, partCols, keep,
      sortCols, changeLogKeys = if (changeLog) keyCols else Nil)
  }

  /** PREDICATE DELETE as a COW commit (Delta's `DELETE FROM t WHERE`):
    * rewrite exactly the partitions that hold matching rows, dropping
    * those rows; every other partition carries by reference.
    *
    * `prune` (optional) is a manifest-skipping HINT — per-column
    * ranges that over-approximate where `cond` can match (e.g. the
    * cond's own bounds on a stats column). Files whose envelopes miss
    * every range are not even READ when locating matches; correctness
    * never depends on it (`cond` re-evaluates on every candidate row),
    * a wrong hint can only cause a missed delete if it excludes files
    * that DO match — so the hint must over-approximate, which the
    * caller owns. At 100 TB: a time-ranged retention delete with a
    * date-range hint reads the few files of that date span and
    * rewrites only their partitions.
    *
    * Cost: one scan of the candidate files (locating touched
    * partitions) + a rewrite of those partitions. Same commit
    * protocol, checks, and evolution gates as every other commit.
    */
  def deleteWhere(
      spark: SparkSession,
      root: String,
      id: Long,
      cond: Column,
      prune: Seq[CowRange] = Nil,
      keep: Int = 2,
      sortCols: Seq[String] = Nil,
      changeLogKeys: Seq[String] = Nil): Boolean =
    deleteWhereBy(spark, root, id, _ => cond, prune, keep, sortCols,
      changeLogKeys)

  /** [[deleteWhere]] with the condition built PER SCAN FRAME
    * (`condOf(df)` receives the resolved read it will filter): the
    * seam the analyzer-DML subquery path needs — a condition carrying
    * subquery plans binds to a frame's own attribute ids, so a plain
    * late-binding Column cannot express it. Plain conditions pass
    * through as `_ => cond`.
    */
  private[graft] def deleteWhereBy(
      spark: SparkSession,
      root: String,
      id: Long,
      condOf: DataFrame => Column,
      prune: Seq[CowRange] = Nil,
      keep: Int = 2,
      sortCols: Seq[String] = Nil,
      changeLogKeys: Seq[String] = Nil): Boolean = {
    if (committedIds(spark, root).exists(_ >= id)) return false
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val candidates =
      if (prune.isEmpty) m.files else keptFiles(spark, m, prune)
    if (candidates.isEmpty) return true // nothing can match — id unconsumed
    // partitions that actually hold matching rows (candidate-scan only;
    // values cast to string IN-ENGINE so they match the manifest's own
    // cast-to-string partition representation exactly)
    val candScan = resolved(spark, root, m, candidates)
    val hit = candScan
      .where(condOf(candScan))
      .select(m.partCols.map(c => col(c).cast("string")): _*)
      .distinct().collect()
      .map(r => partKey(m.partCols,
        m.partCols.zipWithIndex.map { case (c, i) =>
          c -> (if (r.isNullAt(i)) null else r.getString(i)) }.toMap))
      .toSet
    if (hit.isEmpty) return true
    val baseScan = resolved(spark, root, m,
      m.files.filter(f => hit.contains(m.partKeyOf(f))))
    val rewrite = baseScan.where(!coalesce(condOf(baseScan), lit(false)))
    commitPartitionsFrom(Some(m), rewrite, hit, root, id, m.partCols,
      keep, sortCols, changeLogKeys = changeLogKeys)
  }

  /** SET assignments made SAFE against the table schema — two layers,
    * because a bare `v.cast(columnType)` under non-ANSI evaluation
    * turns a mistyped assignment (a non-numeric string into a long, an
    * overflowing decimal) into silent NULLs in committed data:
    *
    *  1. STATIC: the assignment expression's resolved type must be
    *     ANSI-store-assignable to the column (the SQL standard's
    *     assignment rule, Spark's `Cast.canANSIStoreAssign` — the same
    *     gate `INSERT` columns pass under the ANSI store-assignment
    *     policy). A string into a long fails HERE, before any data is
    *     read.
    *  2. RUNTIME: for assignable types whose cast can still fail
    *     value-wise (integral overflow, decimal overflow to a tighter
    *     precision, etc.), the value is cast with TRY semantics —
    *     NULL on any value the target type cannot represent,
    *     INDEPENDENT of the session's ansi mode (a plain non-ANSI
    *     cast WRAPS an overflowing long→int instead of nulling, which
    *     would slip a silently wrong value past a null-only guard) —
    *     and a non-NULL value that try-casts to NULL raises with the
    *     offending value in the message instead of landing as NULL.
    *
    * Returns the guarded cast per SET column; evaluation cost is the
    * cast itself plus one null test — still codegen'd scan-stage work.
    */
  /** `frame` is the scan the assignments will evaluate against — type
    * probing analyzes `frame.select(v)` (no execution), so SET values
    * carrying BOUND analyzed expressions (scalar/predicate subqueries,
    * frame-resolved attributes) type-check exactly like plain ones.
    */
  private def checkedAssignments(
      frame: DataFrame, m: CowManifest,
      set: Map[String, Column]): Map[String, Column] = {
    set.map { case (name, v) =>
      val f = m.schema(name)
      val from = frame.select(v).schema.head.dataType
      require(
        org.apache.spark.sql.catalyst.expressions.Cast
          .canANSIStoreAssign(from, f.dataType),
        s"UPDATE SET $name: expression type ${from.simpleString} cannot " +
          s"be assigned to column type ${f.dataType.simpleString} " +
          "(ANSI store-assignment rule) — cast explicitly if the " +
          "conversion is intended")
      val c = v.try_cast(f.dataType)
      name -> when(v.isNotNull && c.isNull,
        raise_error(concat(
          lit(s"UPDATE SET $name: value "), v.cast("string"),
          lit(s" cannot be represented as ${f.dataType.simpleString}")))
          .cast(f.dataType))
        .otherwise(c)
    }
  }

  /** PREDICATE UPDATE as a COW commit (Delta's `UPDATE t SET … WHERE`)
    * — the DML statement [[upsert]]/[[mergeInto]]/[[deleteWhere]]
    * bracket but none expresses directly: rewrite exactly the
    * partitions that hold matching rows with `set`'s assignments
    * applied to those rows; every other partition carries by
    * reference. Non-matching rows of a touched partition (including
    * NULL-predicate rows, SQL semantics) rewrite byte-identical.
    *
    * Each assignment casts back to the column's EXISTING type — an
    * UPDATE never evolves the schema (that is a merge/append
    * privilege), so downstream readers, stats and blooms stay
    * type-stable. Partition columns may not be assigned (a row that
    * migrated partitions would land outside the touched set — the
    * same hazard the upsert contract excludes). `prune` is the same
    * over-approximating skip hint as [[deleteWhere]]'s; `cond` must
    * be deterministic. `changeLogKeys` emits the commit's sidecar as
    * the usual signed D(old)/I(new) pairs via the generic diff path.
    *
    * Cost: one candidate scan + a rewrite of the touched partitions —
    * at 100 TB, a keyed correction with a tight hint reads a few
    * files and rewrites only their partitions.
    */
  def updateWhere(
      spark: SparkSession,
      root: String,
      id: Long,
      cond: Column,
      set: Map[String, Column],
      prune: Seq[CowRange] = Nil,
      keep: Int = 2,
      sortCols: Seq[String] = Nil,
      changeLogKeys: Seq[String] = Nil): Boolean =
    {
    require(set.nonEmpty, "UPDATE needs at least one SET assignment")
    updateWhereBy(spark, root, id, _ => cond, _ => set, prune, keep,
      sortCols, changeLogKeys)
    }

  /** [[updateWhere]] with PER-FRAME condition and SET values — see
    * [[deleteWhereBy]]. `setOf` binds each assignment to the frame it
    * evaluates on, which is what lets SET values carry analyzed
    * subqueries (scalar, correlated) exactly like conditions do. The
    * matched-row test rides inside the rewrite PROJECTION
    * (`when(applies, …)`), which Spark plans fine even for predicate
    * subqueries (existence-join rewrite).
    */
  private[graft] def updateWhereBy(
      spark: SparkSession,
      root: String,
      id: Long,
      condOf: DataFrame => Column,
      setOf: DataFrame => Map[String, Column],
      prune: Seq[CowRange] = Nil,
      keep: Int = 2,
      sortCols: Seq[String] = Nil,
      changeLogKeys: Seq[String] = Nil,
      setsSubquery: Boolean = false): Boolean = {
    if (committedIds(spark, root).exists(_ >= id)) return false
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    // key validation binds against an empty probe (bound SET values
    // resolve by name against any frame carrying the table schema)
    val setKeys = setOf(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], m.schema)).keySet
    require(setKeys.nonEmpty, "UPDATE needs at least one SET assignment")
    setKeys.foreach(c => require(m.schema.fieldNames.contains(c),
      s"SET column '$c' is not a table column"))
    m.partCols.foreach(p => require(!setKeys.contains(p),
      s"UPDATE SET must not assign partition column '$p'"))
    val candidates =
      if (prune.isEmpty) m.files else keptFiles(spark, m, prune)
    if (candidates.isEmpty) return true // nothing can match — id unconsumed
    val candScan = resolved(spark, root, m, candidates)
    val hit = candScan
      .where(condOf(candScan))
      .select(m.partCols.map(c => col(c).cast("string")): _*)
      .distinct().collect()
      .map(r => partKey(m.partCols,
        m.partCols.zipWithIndex.map { case (c, i) =>
          c -> (if (r.isNullAt(i)) null else r.getString(i)) }.toMap))
      .toSet
    if (hit.isEmpty) return true
    // guarded casts: mistyped assignments fail loud (statically or with
    // the offending value), never as silent NULLs — see
    // [[checkedAssignments]]. The guard sits INSIDE when(applies, …),
    // so it only ever evaluates on matched rows.
    val baseScan = resolved(spark, root, m,
      m.files.filter(f => hit.contains(m.partKeyOf(f))))
    val setChecked = checkedAssignments(baseScan, m, setOf(baseScan))
    val applies = coalesce(condOf(baseScan), lit(false))
    val rewrite =
      if (!setsSubquery)
        baseScan.select(m.schema.fields.toSeq.map { f =>
          setChecked.get(f.name) match {
            case Some(v) =>
              when(applies, v).otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        }: _*)
      else {
        // ANSI: SET evaluates on MATCHED rows only. A subquery-bearing
        // value plans as a JOIN that — inside when(applies, …) — would
        // still run for every row of the hit partitions, so a
        // correlated scalar subquery that is multi-row only for an
        // UNMATCHED row would spuriously abort the statement (and the
        // DV twin, which computes new images from the cond-filtered
        // matches, would diverge). Split matched/untouched instead:
        // two passes over exactly the touched partitions, only when
        // subqueries ride in the SET.
        val updated = baseScan.where(applies)
          .select(m.schema.fields.toSeq.map(f =>
            setChecked.get(f.name).map(_.as(f.name))
              .getOrElse(col(f.name))): _*)
        baseScan.where(!applies)
          .select(m.schema.fieldNames.toSeq.map(col): _*)
          .unionByName(updated)
      }
    commitPartitionsFrom(Some(m), rewrite, hit, root, id, m.partCols,
      keep, sortCols, changeLogKeys = changeLogKeys)
  }

  /** PREDICATE UPDATE as MERGE-ON-READ with POSITIONAL deletion
    * vectors — the update twin of [[deleteWhereDv]]:
    *
    *  - WRITE: the matched-and-changed rows' old images are recorded
    *    as (file, row-position) sidecars — O(changed × ~8 bytes) —
    *    while their new images append as ordinary data files in the
    *    SAME commit; the old ROW BYTES are never written again whatever
    *    the row width, and no partition is rewritten.
    *  - EXACTNESS: positions name exact rows of OLD files, and appended
    *    files carry no mask, so a new image can never cancel itself or
    *    another row: no collision probe and no COW fallback exist.
    *  - READ: readers compose the position mask (scan-stage filter)
    *    with the appended files; rows the SET leaves bit-identical are
    *    not touched at all (cheaper, and keeps the changelog signal-
    *    only).
    *
    * Same SET rules as [[updateWhere]] (no partition-column
    * assignments, [[checkedAssignments]]' loud mistype guard); same
    * CHECK-constraint enforcement on the new images; `changeLogKeys`
    * emits the signed D(old)/I(new) sidecar. Debt retires via any COW
    * rewrite or [[foldTombstones]].
    */
  def updateWhereDv(
      spark: SparkSession,
      root: String,
      id: Long,
      cond: Column,
      set: Map[String, Column],
      prune: Seq[CowRange] = Nil,
      keep: Int = 2,
      changeLogKeys: Seq[String] = Nil): Boolean =
    {
    require(set.nonEmpty, "UPDATE needs at least one SET assignment")
    updateWhereDvBy(spark, root, id, _ => cond, _ => set, prune, keep,
      changeLogKeys)
    }

  /** [[updateWhereDv]] with per-frame condition and SET values — see
    * [[updateWhereBy]].
    */
  private[graft] def updateWhereDvBy(
      spark: SparkSession,
      root: String,
      id: Long,
      condOf: DataFrame => Column,
      setOf: DataFrame => Map[String, Column],
      prune: Seq[CowRange] = Nil,
      keep: Int = 2,
      changeLogKeys: Seq[String] = Nil): Boolean = {
    if (committedIds(spark, root).exists(_ >= id)) return false
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val setKeys = setOf(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], m.schema)).keySet
    require(setKeys.nonEmpty, "UPDATE needs at least one SET assignment")
    setKeys.foreach(c => require(m.schema.fieldNames.contains(c),
      s"SET column '$c' is not a table column"))
    m.partCols.foreach(p => require(!setKeys.contains(p),
      s"UPDATE SET must not assign partition column '$p'"))
    Seq("path", "positions").foreach(c => require(!m.partCols.contains(c),
      s"DV update: partition column '$c' collides with the deletion-" +
        "vector sidecar schema — use the copy-on-write updateWhere " +
        "for this table"))
    def underLease(): Leased = {
      val candidates =
        if (prune.isEmpty) m.files else keptFiles(spark, m, prune)
      if (candidates.isEmpty) return Leased.NoCommit(dropBatch = false)
      val fields = m.schema.fields.toSeq
      val visible = visibleWithPos(spark, root, m, candidates)
      val setChecked = checkedAssignments(visible, m, setOf(visible))
      val matches = visible.where(coalesce(condOf(visible), lit(false)))
      val oldStruct = struct(fields.map(f => col(f.name)): _*)
      // pinned once: feeds the new-image write, the CHECK pass, the DV
      // sidecar, and the changelog D rows
      val changed = matches
        .where(!(oldStruct <=> struct(fields.map { f =>
          setChecked.get(f.name).getOrElse(col(f.name)).as(f.name)
        }: _*)))
        .localCheckpoint()
      val ni = changed.select(fields.map { f =>
        setChecked.get(f.name).map(_.as(f.name)).getOrElse(col(f.name))
      }: _*)
      // CHECK constraints bind the new images exactly as they bind the
      // COW twin's rewritten rows; the old images need no re-check
      enforceChecks(ni, checkConstraints(spark, root),
        s"DV update $id at $root")
      val batchDir = s"$root/$BatchPrefix$id"
      writeBatch(ni, batchDir, m.partCols, Nil, colMap = m.colMap)
      val freshDv = writeDvSidecar(spark, root, m, id, changed)
      val effBloomCols = m.files.flatMap(_.blooms.keys).distinct
        .filter(m.schema.fieldNames.contains)
      val freshData = collectEntries(spark, batchDir, id, m.schema,
        m.partCols, effBloomCols, colMap = m.colMap)
      if (freshData.isEmpty && freshDv.isEmpty)
        Leased.NoCommit(dropBatch = true) // nothing changed
      else morAdds(spark, root, id, m, freshDv ++ freshData,
        if (changeLogKeys.isEmpty) None
        else {
          val iStub = CowManifest(id, m.partCols, m.schemaDdl,
            freshData, m.colMap, m.retiredPhys)
          Some(signedRows(m, changed, "D").unionByName(
            signedRows(m, dfFor(spark, root, iStub, iStub.files), "I")))
        })
    }
    leasedCommit(spark, root, id, Some(m), Some(m.id), Some(keep))(
      underLease())
  }

  /** COPY-ON-WRITE multi-clause MERGE: [[graft.operators.MergeInto]]
    * applied through the partition-granular commit — conditional
    * MATCHED UPDATE/DELETE and guarded NOT MATCHED INSERT run against
    * ONLY the partitions the source touches (same key-stable
    * partitioning contract as [[upsert]]), so the cost is O(source +
    * touched partitions) whatever the table size.
    *
    * NOT MATCHED BY SOURCE clauses act on rows the source does NOT
    * carry — they force reading AND rewriting every partition (the
    * clause's semantics need the whole table), so they flip this into
    * a full-table commit; the scaladoc price is stated rather than
    * hidden. SET expressions may not assign partition columns (a row
    * that migrated partitions would land outside the touched set and
    * duplicate against its carried incumbent — the same hazard the
    * upsert contract excludes).
    */
  def mergeInto(
      spark: SparkSession,
      root: String,
      id: Long,
      source: DataFrame,
      keyCols: Seq[String],
      partCols: Seq[String],
      clauses: Seq[graft.operators.MergeClause],
      keep: Int = 2,
      sortCols: Seq[String] = Nil,
      changeLogKeys: Seq[String] = Nil,
      boundConds: Seq[Option[DataFrame => Column]] = Nil,
      boundSets: Seq[Map[String, DataFrame => Column]] = Nil): Boolean = {
    import graft.operators.{NotMatchedBySourceDelete, NotMatchedBySourceUpdate}
    if (committedIds(spark, root).exists(_ >= id)) return false
    val sets = clauses.collect {
      case u: graft.operators.MatchedUpdate => u.set.keySet
      case u: NotMatchedBySourceUpdate => u.set.keySet
    }.flatten.toSet
    partCols.foreach(p => require(!sets.contains(p),
      s"MERGE SET must not assign partition column '$p'"))
    // bound (subquery) SET/VALUES may not assign partition columns
    // anywhere: SET because partition values are immutable per row
    // (the rule above), INSERT because the touched-partition set
    // derives from the SOURCE's columns — a subquery-computed
    // partition value would land rows outside it
    boundSets.foreach(_.keys.foreach(c => require(!partCols.contains(c),
      s"MERGE SET/VALUES must not assign partition column '$c' from " +
        "a subquery — partition values must derive from the source")))
    // explicit-values inserts fill unlisted columns with NULL — a
    // partition column left out would land rows in the NULL partition,
    // outside the touched set; require it assigned (the caller owns
    // assigning it to the SOURCE's value, same key-stable contract as
    // SET above)
    clauses.zipWithIndex.collect {
      case (i: graft.operators.NotMatchedInsert, idx) if i.values.nonEmpty ||
          boundSets.lift(idx).exists(_.nonEmpty) => i }
      .foreach(i => partCols.foreach(p =>
        require(i.values.contains(p),
          s"explicit-values INSERT must assign partition column '$p' " +
            "(s.<col>) — an unlisted partition column would NULL out " +
            "and land the row outside its bucket")))
    val hasBySource = clauses.exists {
      case _: NotMatchedBySourceUpdate | _: NotMatchedBySourceDelete => true
      case _ => false
    }
    val base = currentManifest(spark, root)
    val (target, touched) = base match {
      case None => (source.limit(0), touchedKeys(source, partCols))
      case Some(m) if hasBySource =>
        (resolved(spark, root, m, m.files),
          m.allFiles.map(m.partKeyOf).toSet ++ touchedKeys(source, partCols))
      case Some(m) =>
        val t = touchedKeys(source, partCols)
        (baseFor(spark, root, m, t), t)
    }
    val merged = graft.operators.MergeInto(target, source, keyCols,
      clauses, boundConds = boundConds, boundSets = boundSets)
    commitPartitionsFrom(base, merged, touched, root, id, partCols, keep,
      sortCols, changeLogKeys = changeLogKeys)
  }

  /** COPY-ON-WRITE CDC apply: [[Cdc.apply]] (I/U/D, newest-wins) over
    * only the touched partitions. Same key-stable partitioning
    * contract as [[upsert]] — D rows must carry the key's partition
    * value (automatic when it derives from the key).
    */
  def applyCdc(
      spark: SparkSession,
      root: String,
      id: Long,
      batch: DataFrame,
      keyCols: Seq[String],
      partCols: Seq[String],
      operCol: String = "oper",
      versionCol: Option[String] = None,
      keep: Int = 2,
      sortCols: Seq[String] = Nil,
      changeLog: Boolean = false): Boolean = {
    if (committedIds(spark, root).exists(_ >= id)) return false
    val touched = touchedKeys(batch, partCols)
    val outCols = batch.columns.toSeq
      .filterNot(c => c == operCol || versionCol.contains(c))
    val baseM = currentManifest(spark, root)
    val base = baseM match {
      case None => batch.select(outCols.map(col): _*).limit(0)
      case Some(m) => baseFor(spark, root, m, touched)
    }
    val merged = Cdc.apply(base, batch, keyCols, operCol, versionCol)
    commitPartitionsFrom(baseM, merged, touched, root, id, partCols, keep,
      sortCols, changeLogKeys = if (changeLog) keyCols else Nil)
  }

  /** KEYED POINT LOOKUP: the rows of `keys` (which must carry the
    * table's `partCols`, computed with the same key-derived expression
    * the writes use — e.g. [[keyBucket]]) joined against ONLY the
    * partitions those keys land in. The read cost is O(touched
    * buckets + keys), not O(table): the manifest prunes the file list
    * to the keys' buckets before Spark lists anything, and the
    * semi-join inside those buckets broadcasts the (small) key set.
    * This is the serving-path read a 100 TB keyed table needs —
    * "fetch these 10k customers" touches 10k/bucket-count of the
    * table's partitions, proven byte-wise in `CowTableSpec`.
    */
  def lookupKeys(
      spark: SparkSession,
      root: String,
      keys: DataFrame,
      keyCols: Seq[String],
      partCols: Seq[String]): DataFrame = {
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val touched = touchedKeys(keys, partCols)
    baseFor(spark, root, m, touched)
      .join(broadcast(keys.select(keyCols.map(col): _*).distinct()),
        keyCols, "left_semi")
  }

  /** COPY-ON-WRITE SCD-2 CDC: [[Merge.scd2Cdc]] (close-and-insert
    * history, deletes, rebirths) over only the touched partitions.
    *
    * The partitioning contract is STRICTER than [[upsert]]'s: a key's
    * ENTIRE version history must live in one partition, because the
    * merge needs the key's open version and closed frontier. A
    * [[keyBucket]] over the merge keys satisfies this; an
    * effective-date partition does NOT (versions of one key span
    * dates). First batch bootstraps an empty SCD-2 target from the
    * change schema, like the streaming sink.
    *
    * This gives the SCD-2 dimension the same cost shape as the SCD-1
    * table: a daily change batch rewrites O(touched buckets) of
    * history, never the dimension — and [[Merge.scd2Restate]] composes
    * the same way (restate the affected buckets, commit them as one
    * batch via [[commitPartitions]]).
    */
  def applyScd2Cdc(
      spark: SparkSession,
      root: String,
      id: Long,
      changes: DataFrame,
      keyCols: Seq[String],
      partCols: Seq[String],
      effCol: String,
      operCol: String = "oper",
      keep: Int = 2,
      sortCols: Seq[String] = Nil): Boolean = {
    if (committedIds(spark, root).exists(_ >= id)) return false
    val touched = touchedKeys(changes, partCols)
    val baseM = currentManifest(spark, root)
    val base = baseM match {
      case None =>
        val dataCols = changes.columns.toSeq
          .filterNot(c => c == operCol || c == effCol)
        changes.select(dataCols.map(col) ++ Seq(
          col(effCol).as("effective_from"),
          lit(null).cast(changes.schema(effCol).dataType).as("effective_to"),
          lit(true).as("is_current")): _*).limit(0)
      case Some(m) => baseFor(spark, root, m, touched)
    }
    val merged = Merge.scd2Cdc(base, changes, keyCols, effCol, operCol)
    commitPartitionsFrom(baseM, merged, touched, root, id, partCols, keep,
      sortCols)
  }

  /** SNAPSHOT HISTORY, metadata-only: one row per retained committed
    * snapshot — data-file and deletion-vector counts,
    * manifest row and byte totals, and the file-level churn vs the
    * previous retained snapshot (files added = paths new in this
    * manifest, removed = paths it dropped). `n_rows` is the DATA
    * files' count sum — exact when the snapshot has no outstanding
    * delete debt (`dv_files == 0`), an upper
    * bound otherwise, same caveat as [[countFast]]. Reads only
    * manifests: O(retained snapshots × files), zero data bytes.
    */
  def history(spark: SparkSession, root: String,
      upTo: Option[Long] = None): DataFrame = {
    import spark.implicits._
    // `upTo` pins the log for the named metadata table (snapshot
    // isolation: two references in one query list the same commits)
    val ids = committedIds(spark, root)
      .filter(i => upTo.forall(i <= _))
    val outCols = Seq("snapshot_id", "data_files", "dv_files", "n_rows",
      "bytes", "files_added", "files_removed")
    if (ids.isEmpty)
      return Seq.empty[(Long, Long, Long, Long, Long, Long, Long)]
        .toDF(outCols: _*)
    // MEMO-WARM fast path: when every snapshot in range is already
    // resident, answer from the memo directly — nothing is forced, no
    // job runs, and the transient path-sets are bounded by entries
    // the driver already holds (the write-side batteries' shape:
    // tables built and inspected in one JVM).
    val resident = ids.flatMap(i => memoPeek(spark, root, i))
    if (resident.size == ids.size) {
      val rows = resident.zip(None +: resident.map(Some(_))).map {
        case (m, prevOpt) =>
          val prevPaths = prevOpt.map(_.allFiles.map(_.path).toSet)
            .getOrElse(Set.empty[String])
          val paths = m.allFiles.map(_.path).toSet
          (m.id, m.files.size.toLong, m.dvs.size.toLong,
            m.files.map(_.rows).sum, m.files.map(_.bytes).sum,
            (paths -- prevPaths).size.toLong,
            (prevPaths -- paths).size.toLong)
      }
      return rows.toDF(outCols: _*)
    }
    // DISTRIBUTED (round-17 review): the old implementation
    // materialized EVERY retained snapshot's manifest on the driver —
    // O(snapshots × files) memory for a diagnostics query, exactly
    // what the files/partitions frames avoid. This path unions the
    // chain-unrolled entry frames and computes per-snapshot totals
    // plus the consecutive-snapshot path diffs (adds/removes as two
    // anti-joins against tiny broadcast link tables) inside the
    // engine; the driver holds only the O(snapshots) result and a
    // cold 10⁸-file table can never OOM it from a metadata query.
    val all = ids.map { i =>
      entriesFrame(spark, root, i,
          manifestMeta(spark, root, i).partCols)
        .select(lit(i).as("snapshot_id"), col("path"), col("kind"),
          col("rows"), col("bytes"))
    }.reduce(_ unionByName _)
    val spine = ids.toDF("snapshot_id")
    val totals = spine.join(
      all.groupBy("snapshot_id").agg(
        sum(when(col("kind") === KindData, 1L).otherwise(0L))
          .as("data_files"),
        sum(when(col("kind") === KindDv, 1L).otherwise(0L))
          .as("dv_files"),
        sum(when(col("kind") === KindData, col("rows")).otherwise(0L))
          .as("n_rows"),
        sum(when(col("kind") === KindData, col("bytes")).otherwise(0L))
          .as("bytes")),
      Seq("snapshot_id"), "left")
    val paths = all.select(col("snapshot_id"), col("path"))
    // renamed projection of the probe side: a raw self-join would hit
    // Spark's ambiguous-attribute resolution
    val probe = paths.select(col("snapshot_id").as("__p_sid"),
      col("path").as("__p_path"))
    // added at i: i's paths absent at prev(i); the first snapshot
    // links to the matchless sentinel -1, so all its paths count
    val prevLinks = broadcast(ids.zipWithIndex.map { case (i, k) =>
      (i, if (k == 0) -1L else ids(k - 1)) }
      .toDF("snapshot_id", "__prev"))
    val added = paths.join(prevLinks, Seq("snapshot_id"))
      .join(probe, col("path") === col("__p_path") &&
        col("__p_sid") === col("__prev"), "left_anti")
      .groupBy("snapshot_id")
      .agg(count(lit(1)).as("files_added"))
    // removed at i: prev(i)'s paths absent at i — counted under i
    val nextLinks = broadcast(ids.zip(ids.drop(1))
      .toDF("__c_sid", "__next"))
    val removed = paths
      .join(nextLinks, col("snapshot_id") === col("__c_sid"))
      .join(probe, col("path") === col("__p_path") &&
        col("__p_sid") === col("__next"), "left_anti")
      .groupBy(col("__next").as("snapshot_id"))
      .agg(count(lit(1)).as("files_removed"))
    totals
      .join(added, Seq("snapshot_id"), "left")
      .join(removed, Seq("snapshot_id"), "left")
      .select(col("snapshot_id") +: outCols.drop(1).map(c =>
        coalesce(col(c), lit(0L)).as(c)): _*)
  }

  // -------------------------------------------------------------------
  // Merge-on-read deletes
  // -------------------------------------------------------------------

  /** KEYED merge-on-read delete — the write-amplification escape
    * hatch copy-on-write lacks: deleting k rows from a partition
    * holding millions costs a positional deletion-vector sidecar
    * (Delta's deletion vectors / Iceberg's positional deletes), not a
    * partition rewrite. It removes the rows with these keys that exist
    * NOW: positions name exact rows of current files, so a row
    * appended later with the same key stays visible — DELETE-statement
    * semantics.
    *
    * `keys` must carry the merge keys AND the table's `partCols`
    * (key-derived, as everywhere in this API): only the partitions the
    * keys' own `partCols` values name are read — the same key-stable
    * partitioning contract as [[upsert]]. A row matches when it
    * equals a key on every key AND partition column, null-safely: a
    * key deletes only in the partition it names, and an
    * explicitly-named NULL-keyed row is deleted like any other. Keys that match no visible row commit nothing, leave no
    * `batch-<id>` and keep the id free. Readers apply the positions as
    * a scan-stage mask ([[applyDvs]]); the debt retires when the
    * partition next rewrites or via [[foldTombstones]].
    * `changeLog = true` emits the matched rows as a pure-D sidecar.
    */
  def deleteKeysMor(
      spark: SparkSession,
      root: String,
      id: Long,
      keys: DataFrame,
      keyCols: Seq[String],
      partCols: Seq[String],
      keep: Int = 2,
      changeLog: Boolean = false): Boolean = {
    if (committedIds(spark, root).exists(_ >= id)) return false
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    require(m.partCols == partCols,
      s"partitioning mismatch: table has ${m.partCols}, got $partCols")
    require(keyCols.nonEmpty, "keyed delete needs at least one key column")
    keyCols.foreach(c => require(m.schema.fieldNames.contains(c),
      s"key column $c is not a table column"))
    Seq("path", "positions").foreach(c => require(!m.partCols.contains(c),
      s"DV delete: partition column '$c' collides with the deletion-" +
        "vector sidecar schema — use the copy-on-write deleteWhere " +
        "for this table"))
    def underLease(): Leased = {
      val touched = touchedKeys(keys, partCols)
      val candidates = m.files.filter(f => touched.contains(m.partKeyOf(f)))
      if (candidates.isEmpty) return Leased.NoCommit(dropBatch = false)
      val visible = visibleWithPos(spark, root, m, candidates)
      // a key names a row in its own partition only; a semi-join
      // ignores duplicate keys, so no distinct() is needed
      val on = (keyCols ++ partCols).distinct
      val k = broadcast(keys.select(on.map(col): _*))
      val matched0 = visible.join(k,
        on.map(c => visible(c) <=> k(c)).reduce(_ && _), "left_semi")
      val matched = if (changeLog) matched0.localCheckpoint() else matched0
      val fresh = writeDvSidecar(spark, root, m, id, matched)
      if (fresh.isEmpty) Leased.NoCommit(dropBatch = true) // no row matched
      else morAdds(spark, root, id, m, fresh,
        if (changeLog) Some(signedRows(m, matched, "D")) else None)
    }
    leasedCommit(spark, root, id, Some(m), Some(m.id), Some(keep))(
      underLease())
  }

  private val DvFpCol = "__dv_fp"
  private val DvPosCol = "__dv_pos"

  /** The VISIBLE state of `candidates` with each row's file identity
    * and position riding along as `__dv_fp`/`__dv_pos` — the scan's
    * own `_metadata`. Prior DVs apply first, so a position a DV writer
    * derives from this frame can never be recorded twice.
    */
  private def visibleWithPos(
      spark: SparkSession, root: String, m: CowManifest,
      candidates: Seq[CowFile]): DataFrame = {
    val wanted = candidates.map(m.partKeyOf).toSet
    // explicit logical fields (not `*`): on a mapped table the frame
    // carries a materialized `_metadata` column that must not leak
    val base =
      if (m.mapped) dfForMeta(spark, root, m, candidates)
      else dfFor(spark, root, m, candidates)
    val withPos = base
      .select(m.schema.fieldNames.toSeq.map(col) ++ Seq(
        col("_metadata.file_path").as(DvFpCol),
        col("_metadata.row_index").as(DvPosCol)): _*)
    applyDvs(spark, root, withPos, col(DvFpCol), col(DvPosCol),
      m.dvs.filter(d => wanted.contains(m.partKeyOf(d))))
  }

  /** Aggregate `matched` (a [[visibleWithPos]] frame, already
    * cond-filtered) into the commit's positional sidecar under
    * `batch-<id>/__dv/` and return its manifest entries. Paths
    * relativize EXECUTOR-side to the manifest's decoded-literal
    * convention — no raw positions collect through the driver.
    */
  private def writeDvSidecar(
      spark: SparkSession, root: String, m: CowManifest, id: Long,
      matched: DataFrame): Seq[CowFile] = {
    val rootAbs = graft.functions.DvDeletedExpr.normalize(
      hfs(spark, root).makeQualified(new Path(root)).toUri.toString)
    // files under this root store relative (the usual case); a SHALLOW
    // CLONE's carried source files live OUTSIDE the clone root and
    // store as their decoded ABSOLUTE path — the same convention the
    // clone manifest uses, and the executor-side loader keys absolute
    // entries verbatim so the mask still matches _metadata.file_path
    val relativize = udf((s: String) => {
      val p = graft.functions.DvDeletedExpr.normalize(s)
      if (p.startsWith(rootAbs + "/")) p.substring(rootAbs.length + 1)
      else p
    })
    // hash the positions by partition ONCE: the per-file aggregate is
    // then shuffle-free, and writeBatch's repartition by the same
    // columns is planned away as already satisfied
    val byPart =
      if (m.partCols.isEmpty) matched
      else matched.repartition(m.partCols.map(col): _*)
    val dvDf = byPart
      .groupBy(col(DvFpCol) +: m.partCols.map(col): _*)
      .agg(sort_array(collect_list(col(DvPosCol))).as("positions"))
      .select(relativize(col(DvFpCol)).as("path") +: col("positions") +:
        m.partCols.map(col): _*)
    val dvDir = s"$root/$BatchPrefix$id/$DvDirName"
    // the sidecar's frame holds the reserved `path`/`positions` columns
    // PLUS the partition columns — only the latter are table columns,
    // so only THEIR mapping entries apply. Passing the full table map
    // would rename a sidecar column whenever some table column maps
    // non-identically to `path`/`positions` (renamed-to, or dropped and
    // re-added under a fresh physical name): the sidecar would then
    // store that column's physical name where the executor loader
    // hard-requires `path` (DvMask's getFieldRepetitionCount), failing
    // EVERY read of the table after the DV commit — including the
    // OPTIMIZE needed to fold the debt.
    val dvMap = m.colMap.filter { case (l, _) => m.partCols.contains(l) }
    writeBatch(dvDf, dvDir, m.partCols, Nil, colMap = dvMap)
    val dvSchema = StructType(
      StructField("path", StringType) +:
        StructField("positions", ArrayType(LongType)) +:
        m.partCols.map(c => m.schema(c)))
    collectEntries(spark, dvDir, id, dvSchema, m.partCols,
      colMap = dvMap)
      .map(_.copy(kind = KindDv))
  }

  /** PREDICATE DELETE as POSITIONAL DELETION VECTORS — the merge-on-
    * read point on the delete spectrum, matching Delta's DV sidecars
    * and Iceberg's positional delete files:
    *
    *  - [[deleteWhere]] (COW): rewrites every partition holding a
    *    match — O(touched partitions) written; steady state clean.
    *  - THIS: records each matched row as (file, row position) —
    *    O(matched × ~8 bytes) written whatever the row width — and
    *    readers apply the positions as a codegen'd SCAN-STAGE FILTER
    *    ([[applyDvs]]): no anti-join in the plan at all.
    *
    * Positions come from `_metadata.row_index` on the candidate scan
    * (file-absolute, so they compose with any later file pruning or
    * row-group skipping), taken from the VISIBLE state — prior DVs
    * apply first, so a position can never be
    * recorded twice and re-deleting is a no-op. Semantics are exact
    * positional: only the matched physical rows disappear (duplicates
    * elsewhere keep their own positions — same contract as a
    * predicate delete, which matches them independently anyway).
    *
    * The sidecar lands under `batch-<id>/__dv/` with schema
    * `(path, positions, partition columns…)`, one entry per referenced
    * file, partitioned like the table so reads outside the touched
    * partitions never load it. The debt retires when any COW rewrite
    * of the partition folds it, or
    * [[foldTombstones]] explicitly. `cond` must be deterministic;
    * `prune` is the same over-approximating hint as [[deleteWhere]]'s;
    * `changeLog = true` emits the matched rows as a pure-D sidecar.
    */
  def deleteWhereDv(
      spark: SparkSession,
      root: String,
      id: Long,
      cond: Column,
      prune: Seq[CowRange] = Nil,
      keep: Int = 2,
      changeLog: Boolean = false): Boolean =
    deleteWhereDvBy(spark, root, id, _ => cond, prune, keep, changeLog)

  /** [[deleteWhereDv]] with a per-frame condition — see
    * [[deleteWhereBy]].
    */
  private[graft] def deleteWhereDvBy(
      spark: SparkSession,
      root: String,
      id: Long,
      condOf: DataFrame => Column,
      prune: Seq[CowRange] = Nil,
      keep: Int = 2,
      changeLog: Boolean = false): Boolean = {
    if (committedIds(spark, root).exists(_ >= id)) return false
    val m = currentManifest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    // sidecar columns ride next to the partition columns in the DV
    // files — a partition column named like them cannot be represented
    Seq("path", "positions").foreach(c => require(!m.partCols.contains(c),
      s"DV delete: partition column '$c' collides with the deletion-" +
        "vector sidecar schema — use the copy-on-write deleteWhere " +
        "for this table"))
    def underLease(): Leased = {
      val candidates =
        if (prune.isEmpty) m.files else keptFiles(spark, m, prune)
      if (candidates.isEmpty) return Leased.NoCommit(dropBatch = false)
      val visible = visibleWithPos(spark, root, m, candidates)
      val matched0 = visible.where(coalesce(condOf(visible), lit(false)))
      // two consumers when a changelog is kept (the DV aggregation and
      // the D-row sidecar) — pin so the candidate scan runs once
      val matched = if (changeLog) matched0.localCheckpoint() else matched0
      val fresh = writeDvSidecar(spark, root, m, id, matched)
      if (fresh.isEmpty) Leased.NoCommit(dropBatch = true) // no row matched
      // the matched rows ARE the before-images: a pure-D sidecar
      else morAdds(spark, root, id, m, fresh,
        if (changeLog) Some(signedRows(m, matched, "D")) else None)
    }
    leasedCommit(spark, root, id, Some(m), Some(m.id), Some(keep))(
      underLease())
  }

  /** Retire all outstanding positional deletion vectors by rewriting
    * exactly the partitions that have any: the COW state afterwards is
    * debt-free and scans stop paying the scan mask. Returns false (no
    * commit, id unconsumed) when there is nothing to fold.
    */
  def foldTombstones(
      spark: SparkSession, root: String, id: Long, keep: Int = 2,
      changeLogKeys: Seq[String] = Nil): Boolean = {
    if (committedIds(spark, root).exists(_ >= id)) return false
    val m = currentManifest(spark, root).getOrElse(return false)
    val touched = m.dvs.map(m.partKeyOf).toSet
    if (touched.isEmpty) return false
    val rewrite = resolved(spark, root, m,
      m.files.filter(f => touched.contains(m.partKeyOf(f))))
    // a fold changes no visible rows, so its sidecar (when the table
    // keeps a write-time feed) is the EMPTY changelog — the feed range
    // stays servable across folds
    commitPartitionsFrom(Some(m), rewrite, touched, root, id, m.partCols,
      keep, changeLogKeys = changeLogKeys)
    true
  }

  // -------------------------------------------------------------------
  // Retention
  // -------------------------------------------------------------------

  /** Drop manifests beyond the newest `keep`, any uncommitted manifest
    * partial behind the commit frontier, and every batch directory no
    * retained manifest references (old COW'd-away files AND crash-
    * orphaned uncommitted batches behind the frontier).
    */
  private val VacuumHwmPrefix = "_vacuum-hwm-"

  /** The highest COMMITTED id whose manifest a vacuum has removed, or
    * None if no committed manifest was ever vacuumed. An id at or
    * below this mark that is absent from [[committedIds]] is
    * AMBIGUOUS — it may have been committed and since vacuumed, or
    * never committed at all — and consumers (the streaming change-feed
    * frontier rule) must treat it as an error, never drop it as an
    * orphan.
    */
  def vacuumHwm(spark: SparkSession, root: String): Option[Long] = {
    val fs = hfs(spark, root)
    val p = new Path(root)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .filter(s => !s.isDirectory &&
        s.getPath.getName.startsWith(VacuumHwmPrefix))
      .flatMap(_.getPath.getName.stripPrefix(VacuumHwmPrefix).toLongOption)
      .maxOption
  }

  private val StreamFencePrefix = "_streamfence-"

  /** VACUUM FENCE for streaming consumers: a registered frontier
    * `name -> appliedId` pins retention at this root — [[vacuum]] (and
    * therefore [[vacuumOlderThan]]) will not drop the manifest of any
    * committed id ≥ the LOWEST registered frontier, nor the changelog
    * sidecars above it, however aggressive its `keep`. That turns the
    * streaming retention contract ("the writer's keep must exceed the
    * stream's worst-case lag", [[graft.streaming.CowStream]]) from
    * documentation into structure: a lagging stream's time-travel
    * target stays servable instead of failing loud and unrecoverable.
    *
    * Markers are CREATE-ONLY files `_streamfence-<name>=<id>` (the
    * `=` separator is excluded from fence names, so hyphenated names
    * and NEGATIVE ids parse unambiguously) — the
    * same crash-safe pattern as the vacuum high-water markers: the new
    * marker exists before lower ones are pruned, so the per-name MAX
    * survives any crash point, and a register racing a vacuum can only
    * make the vacuum retain MORE. A frontier of -1 ("nothing applied
    * yet") pins every commit — the honest requirement of a consumer
    * that still needs the full feed. The flip side is operational: a
    * DEAD stream's fence pins retention forever; operators list fences
    * via [[streamFrontiers]] and remove them with
    * [[unregisterStreamFrontier]].
    */
  def registerStreamFrontier(
      spark: SparkSession, root: String, name: String,
      appliedId: Long): Unit = {
    require(name.matches("[A-Za-z0-9_.-]+"),
      s"fence name '$name' must be [A-Za-z0-9_.-]+")
    val fs = hfs(spark, root)
    if (streamFrontiers(spark, root).get(name).exists(_ >= appliedId))
      return
    try fs.create(
      new Path(root, s"$StreamFencePrefix$name=$appliedId"), false).close()
    catch { case _: java.io.IOException => () } // racer already wrote it
    // prune superseded markers only AFTER the new one exists
    fs.listStatus(new Path(root)).toSeq
      .filter(s => !s.isDirectory &&
        s.getPath.getName.startsWith(s"$StreamFencePrefix$name="))
      .filter(_.getPath.getName.stripPrefix(s"$StreamFencePrefix$name=")
        .toLongOption.exists(_ < appliedId))
      .foreach(s => fs.delete(s.getPath, false))
  }

  /** Remove `name`'s fence — retention returns to `keep` alone. */
  def unregisterStreamFrontier(
      spark: SparkSession, root: String, name: String): Unit = {
    val fs = hfs(spark, root)
    if (fs.exists(new Path(root)))
      fs.listStatus(new Path(root)).toSeq
        .filter(s => !s.isDirectory &&
          s.getPath.getName.startsWith(s"$StreamFencePrefix$name="))
        .foreach(s => fs.delete(s.getPath, false))
  }

  /** Registered stream fences at this root: name → highest applied id. */
  def streamFrontiers(
      spark: SparkSession, root: String): Map[String, Long] = {
    val fs = hfs(spark, root)
    if (!fs.exists(new Path(root))) Map.empty
    else fs.listStatus(new Path(root)).toSeq
      .filter(s => !s.isDirectory &&
        s.getPath.getName.startsWith(StreamFencePrefix))
      .flatMap { s =>
        val rest = s.getPath.getName.stripPrefix(StreamFencePrefix)
        val cut = rest.lastIndexOf('=')
        if (cut <= 0) None
        else rest.substring(cut + 1).toLongOption // handles negative ids
          .map(id => rest.substring(0, cut) -> id)
      }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).max }
  }

  /** TIME-BASED retention (Delta's `VACUUM … RETAIN n HOURS` shape):
    * translate an age horizon into the id-based [[vacuum]] via an
    * EXPLICIT id floor — the lowest id that committed within the
    * horizon. A count would race: a commit landing between the age
    * computation and the vacuum's own listing shifts a
    * kept-newest-`count` window down, vacuuming a manifest still
    * inside the RETAIN horizon; a floor is immune — later commits
    * only ever land ABOVE it. At least `minKeep` newest survive
    * regardless (a quiet table must never vacuum itself below a
    * restorable history).
    */
  def vacuumOlderThan(
      spark: SparkSession, root: String, olderThanMs: Long,
      minKeep: Int = 2, collapse: Boolean = false): Unit = {
    require(olderThanMs >= 0 && minKeep >= 1, "invalid retention")
    val cutoff = System.currentTimeMillis() - olderThanMs
    val inHorizon = committedIds(spark, root)
      .diff(committedIdsAt(spark, root, cutoff - 1))
    vacuum(spark, root, keep = minKeep, floorId = inHorizon.headOption,
      collapse = collapse)
  }

  /** `floorId`, when given, additionally retains EVERY committed id at
    * or above it (evaluated under this vacuum's own listing — no
    * TOCTOU against concurrent commits); `keep` still bounds the
    * newest-N floor from below. Registered stream fences
    * ([[registerStreamFrontier]]) impose their own floor the same way:
    * nothing a lagging registered stream still needs is dropped.
    */
  def vacuum(spark: SparkSession, root: String, keep: Int,
      knownFiles: Map[Long, Seq[String]] = Map.empty,
      floorId: Option[Long] = None,
      collapse: Boolean = false): Unit = {
    val ids = committedIds(spark, root)
    val newest = ids.lastOption.getOrElse(return)
    val byCount = ids.takeRight(keep)
    val floors = floorId.toSeq ++
      streamFrontiers(spark, root).values.minOption.toSeq
    val retained0 = floors.minOption match {
      case Some(f) => ids.filter(i => i >= f || byCount.contains(i))
      case None => byCount
    }
    val fs = hfs(spark, root)
    // DELTA CHAINS: a retained delta manifest resolves through its
    // base, so retention closes over the `_mbase-` markers (created
    // BEFORE each delta's manifest, so no committed delta lacks one).
    // A MULTI-map: a crashed attempt of an id may leave a stale marker
    // naming a different base than the attempt that later committed
    // the id (the create-only write cannot replace it) — retaining the
    // UNION of advertised bases only ever over-retains, and all of an
    // id's markers age out together when its manifest is vacuumed.
    // Committed-only bases: an orphan marker must not resurrect
    // retention of ids nothing references.
    val baseOf: Map[Long, Seq[Long]] = fs.listStatus(new Path(root))
      .toSeq
      .filter(s => !s.isDirectory &&
        s.getPath.getName.startsWith(MbasePrefix))
      .flatMap { s =>
        val rest = s.getPath.getName.stripPrefix(MbasePrefix)
        val cut = rest.indexOf('=')
        if (cut <= 0) None
        else for {
          i <- rest.substring(0, cut).toLongOption
          b <- rest.substring(cut + 1).toLongOption
        } yield i -> b
      }.groupBy(_._1).map { case (i, xs) => i -> xs.map(_._2) }
    val committed = ids.toSet
    // a checkpointed delta resolves without its chain — no base edge
    def ckptCommitted(i: Long): Boolean =
      fs.exists(new Path(s"$root/$CkptPrefix$i/_SUCCESS"))
    def expand(seed: Set[Long]): Set[Long] = {
      var closure = seed
      var frontier = closure
      while (frontier.nonEmpty) {
        frontier = frontier.filterNot(ckptCommitted)
          .flatMap(i => baseOf.getOrElse(i, Nil))
          .filter(committed).diff(closure)
        closure ++= frontier
      }
      closure
    }
    val retainedSet0 = retained0.toSet
    var closure = expand(retainedSet0)
    // CHECKPOINT COMPACTION: when retention-floor crossings pile past
    // the interval, collapse each floor manifest whose chain dips
    // below (writing its `_ckpt` — a NEW committed dir, so concurrent
    // readers of the delta manifest are untouched), then re-expand:
    // everything below the floor prunes this very vacuum. Between
    // collapses, chain bases stay retained (manifests AND their
    // exclusive batch dirs) — bounded reclamation lag, the price of
    // O(Δ) commit manifests, Delta's own log model. An EXPLICIT
    // `collapse = true` (the textual VACUUM statements — an operator's
    // stated reclamation intent) collapses on ANY crossing, so
    // `VACUUM … RETAIN n` retains exactly n.
    if (closure.diff(retainedSet0).size >= manifestCheckpointInterval ||
        (collapse && closure.size != retainedSet0.size)) {
      retained0.foreach { i =>
        if (expand(Set(i)).exists(_ < retained0.head)) checkpoint(spark, root, i)
      }
      closure = expand(retainedSet0)
    }
    val retained = ids.filter(closure)
    val cutoff = retained.head
    // manifests: same pruning rule as SnapshotTarget. Record the
    // highest COMMITTED id whose manifest this vacuum removes as a
    // create-only `_vacuum-hwm-<id>` marker BEFORE deleting: consumers
    // that see an unknown id at-or-below the high-water mark cannot
    // tell "committed then vacuumed" from "never committed" and must
    // fail loud instead of guessing (see [[vacuumHwm]]). Markers are
    // create-only (no overwrite race); older ones are pruned after the
    // new one exists, so the max survives any crash point.
    val deletable = fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(ManifestPrefix))
      .filter(_.getPath.getName.stripPrefix(ManifestPrefix).toLongOption
        .exists(i => if (committed(i)) !closure.contains(i) else i < newest))
    val vacuumedCommitted = deletable
      .flatMap(_.getPath.getName.stripPrefix(ManifestPrefix).toLongOption)
      .filter(committed)
    vacuumedCommitted.maxOption.foreach { hwm =>
      if (!vacuumHwm(spark, root).exists(_ >= hwm)) {
        try fs.create(new Path(root, s"$VacuumHwmPrefix$hwm"), false).close()
        catch { case _: java.io.IOException => () } // racer already wrote it
        fs.listStatus(new Path(root)).toSeq
          .filter(s => !s.isDirectory &&
            s.getPath.getName.startsWith(VacuumHwmPrefix))
          .filter(_.getPath.getName.stripPrefix(VacuumHwmPrefix)
            .toLongOption.exists(_ < hwm))
          .foreach(s => fs.delete(s.getPath, false))
      }
    }
    deletable.foreach(s => fs.delete(s.getPath, true))
    // delta-base markers age out with their manifests; orphan markers
    // of crashed attempts (id never committed, behind the frontier)
    // are dead like their leases. A marker whose id is retained stays.
    val deletedIds = deletable
      .flatMap(_.getPath.getName.stripPrefix(ManifestPrefix).toLongOption)
      .toSet
    fs.listStatus(new Path(root)).toSeq
      .filter(s => !s.isDirectory &&
        s.getPath.getName.startsWith(MbasePrefix))
      .filter(_.getPath.getName.stripPrefix(MbasePrefix)
        .takeWhile(_ != '=').toLongOption
        .exists(i => deletedIds.contains(i) ||
          (!committed(i) && i < newest)))
      .foreach(s => fs.delete(s.getPath, false))
    // checkpoints age out with their manifests; the `!committed`
    // fallback sweeps one ORPHANED by a crash between a prior vacuum's
    // manifest deletion and its own checkpoint sweep. MIRRORS the
    // _mbase rule exactly, `i < newest` included: this vacuum's
    // committed-ids snapshot is stale by the time the sweep runs, so
    // a checkpoint for an id COMMITTED AFTER our listing (a concurrent
    // writer's collapse) must not be mistaken for an orphan — deleting
    // it after that writer pruned its chain would leave the head
    // unresolvable.
    fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(CkptPrefix))
      .filter(_.getPath.getName.stripPrefix(CkptPrefix).toLongOption
        .exists(i => deletedIds.contains(i) ||
          (!committed(i) && i < newest)))
      .foreach(s => fs.delete(s.getPath, true))
    // crashed checkpoint TEMP dirs (`_ckpt-<id>.tmp-<uuid>`) are junk,
    // but an hour-long grace period keeps a concurrent vacuum's
    // in-progress checkpoint write safe from this sweep. `.stale-`
    // twins (the sweep's rename-aside leftovers) age out too — but a
    // COMMITTED twin is deletable only once a committed primary
    // exists (until then it may be the snapshot's only copy, adopted
    // by [[staleTwinOf]]); marker-less twins are garbage like tmps.
    val staleMs = System.currentTimeMillis() - StaleGraceMs
    fs.listStatus(new Path(root)).toSeq
      .filter { s =>
        val name = s.getPath.getName
        s.isDirectory && name.startsWith(CkptPrefix) &&
          s.getModificationTime < staleMs && (
            name.contains(".tmp-") ||
            (name.contains(".stale-") && (
              !fs.exists(new Path(s.getPath, "_SUCCESS")) ||
              name.stripPrefix(CkptPrefix).takeWhile(_ != '.')
                .toLongOption.exists(i => fs.exists(
                  new Path(s"$root/$CkptPrefix$i/_SUCCESS"))))))
      }
      .foreach(s => fs.delete(s.getPath, true))
    // IN-FLIGHT RETRY STAGES: a fresh `_retrykeep-<id>` marker shields
    // batch-<id> — a lost [[appendWithRetry]] race leaves its staged
    // files unreferenced and behind the winner's frontier exactly
    // until the retry adopts them by rename; without the marker, the
    // winner's own post-commit vacuum (this code) would reap them in
    // that window. Markers expire on the same grace clock as crashed
    // checkpoint temps (a crashed retry's leftover), and a marker
    // whose id COMMITTED is done (the manifest's references are the
    // durable protection) — both are swept here.
    val markerListing = fs.listStatus(new Path(root)).toSeq
    val retryKeepFresh: Set[Long] = markerListing
      .filter(s => !s.isDirectory &&
        s.getPath.getName.startsWith(RetryKeepPrefix))
      .flatMap { s =>
        val idOpt = s.getPath.getName
          .stripPrefix(RetryKeepPrefix).toLongOption
        if (s.getModificationTime < staleMs ||
            idOpt.forall(committed)) {
          fs.delete(s.getPath, false)
          None
        } else idOpt
      }.toSet
    // PENDING WAP STAGES pin their batch dirs (round-18): an overtaken
    // stage is no longer doomed — publishStagedWithRetry RE-POINTS it
    // at the new head — so its only data must survive until the stage
    // is published or discarded (both remove `_staged-<id>.meta`,
    // unpinning the dir). The pin requires the staged manifest's
    // _SUCCESS: stageAppend writes the manifest BEFORE the meta, so a
    // meta without a committed staged manifest is a crash leftover of
    // discard/publish — swept here so it can never pin garbage
    // forever. A crashed half-stage never wrote its meta and stays
    // reapable as before. (Same root listing as the marker sweep.)
    val pendingStages: Set[Long] = markerListing
      .filter(s => !s.isDirectory &&
        s.getPath.getName.startsWith("_staged-") &&
        s.getPath.getName.endsWith(".meta"))
      .flatMap { s =>
        s.getPath.getName.stripPrefix("_staged-")
          .stripSuffix(".meta").toLongOption match {
          case Some(i) if fs.exists(new Path(
              s"$root/${ManifestPrefix}staged-$i/_SUCCESS")) => Some(i)
          case _ =>
            fs.delete(s.getPath, false)
            None
        }
      }.toSet
    // batch dirs: referenced-by-any-retained-manifest is the liveness
    // rule — DV sidecar references count (a batch dir may hold only
    // a sidecar). `knownFiles` lets a just-committed writer hand over
    // the manifests it already holds in memory (its own and its base):
    // with the default keep=2 that makes the post-commit vacuum zero
    // manifest reads (each is a Spark parquet job) instead of `keep`.
    val liveBatches = retained
      .flatMap(i => knownFiles.getOrElse(i,
        manifest(spark, root, i).allFiles.map(_.path)))
      .flatMap(p => p.split("/").headOption
        .flatMap(_.stripPrefix(BatchPrefix).toLongOption))
      .toSet
    fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(BatchPrefix))
      .filter(_.getPath.getName.stripPrefix(BatchPrefix).toLongOption
        .exists(i => i < newest && !liveBatches.contains(i) &&
          !retryKeepFresh.contains(i) && !pendingStages.contains(i)))
      .foreach(s => fs.delete(s.getPath, true))
    // dead commit leases: an id at or behind the frontier can never
    // commit again (replay guard), so its lock is a crash leftover
    fs.listStatus(new Path(root)).toSeq
      .filter(s => !s.isDirectory && s.getPath.getName.startsWith("_commit-"))
      .filter(_.getPath.getName.stripPrefix("_commit-").stripSuffix(".lock")
        .toLongOption.exists(_ <= newest))
      .foreach(s => fs.delete(s.getPath, false))
    // changelog sidecars age out with their manifests: the feed serves
    // ranges starting at a RETAINED snapshot, so sidecars behind the
    // retention cutoff are unreachable. Staging leftovers (.tmp-<id>-*)
    // from aborted/crashed attempts of already-decided ids go too.
    val changes = new Path(root, ChangesDir)
    if (fs.exists(changes))
      fs.listStatus(changes).toSeq
        .filter(s => s.isDirectory && (
          s.getPath.getName.toLongOption.exists(_ < cutoff) ||
            s.getPath.getName.stripPrefix(".tmp-").takeWhile(_ != '-')
              .toLongOption.exists(i =>
                s.getPath.getName.startsWith(".tmp-") && i <= newest)))
        .foreach(s => fs.delete(s.getPath, true))
  }
}
