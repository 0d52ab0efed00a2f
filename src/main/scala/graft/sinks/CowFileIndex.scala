package graft.sinks

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, Attribute, AttributeReference, BoundReference, Cast, EqualNullSafe,
  EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull,
  IsNull, LessThan, LessThanOrEqual, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{
  FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{StringType, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** A manifest-driven [[FileIndex]] over one [[CowTable]] snapshot — the
  * integration point that puts the table format INSIDE Spark's native
  * scan planning instead of in front of it. `spark.read.parquet(paths)`
  * (what [[CowTable.dfFor]] does) fixes the file list at DataFrame
  * construction, so each predicate needs its own entry point
  * (`readWhere`, `readWhereIn`, …). This class instead hands Catalyst a
  * listing source it consults AT PLANNING TIME: `FileSourceStrategy`
  * splits the query's conjuncts into partition filters and data filters
  * and passes both to [[listFiles]], where
  *
  *  - partition filters evaluate against each file's manifest partition
  *    values (static pruning; Spark's dynamic partition pruning filters
  *    the same `PartitionDirectory` rows at runtime, so a join on the
  *    partition column prunes too — no `cell=N` directory parsing, the
  *    values come from the manifest), and
  *  - data filters run the SAME min/max-envelope + Bloom skipping as
  *    [[CowTable.readWhere]]/[[CowTable.readWhereIn]]
  *    ([[CowTable.keptFilesAmong]]), so `df.where($"k" === 7)` skips
  *    files for ANY predicate Catalyst can normalize to ranges/IN-lists
  *    — composed with the ordinary residual `Filter` node, parquet
  *    row-group pushdown, and the vectorized columnar reader, none of
  *    which this class re-implements.
  *
  * One instance pins ONE manifest (snapshot isolation, same contract as
  * every other CowTable reader): [[refresh]] is a no-op and later
  * commits are invisible. Reads at 100 TB: the driver filters a cached
  * in-memory file list (no filesystem listing — the manifest is the
  * listing), and only surviving files are opened.
  *
  * Partition columns are declared in [[partitionSchema]] even though
  * CowTable data files are self-contained (the real columns stay in the
  * files — `CowTable.writeBatch` duplicates them into `__gp_*` for the
  * directory layout): `HadoopFsRelation` treats the overlap as
  * hive-style, sourcing those columns from the manifest's partition
  * values and never decoding them from the files.
  */
final class CowFileIndex(
    spark: SparkSession,
    root: String,
    m: CowManifest,
    /** Marks an index already narrowed by [[graft.plans
      * .CowScanPruneRule]] — the rule's fixpoint guard.
      */
    override private[graft] val pruned: Boolean = false)
  extends FileIndex with CowPrunableIndex {

  private val schema: StructType = m.schema

  /** Exact live-row count from the manifest (the planner-statistics
    * companion of [[sizeInBytes]]).
    */
  private[graft] def fileRowCount: Long = m.files.map(_.rows).sum

  /** Session-TZ TIMESTAMP partition columns are NOT declared here —
    * same hazard [[pruningOf]] guards for data filters: the manifest
    * renders partition values under the WRITER's session timezone and
    * [[partValue]] would re-parse them under the READER's, shifting
    * the value and mispruning (or mis-populating) the partition. Such
    * columns simply stay DATA columns: the files are self-contained
    * (CowTable keeps the real columns in them), so the scan reads them
    * like any other column and filters stay residual — correct under
    * any reader timezone, just not partition-pruned.
    */
  override val partitionSchema: StructType =
    StructType(m.partCols.map(c => schema(c))
      .filterNot(_.dataType == TimestampType))

  /** Full file schema (partition columns included — the files carry
    * them); `HadoopFsRelation` dedupes the overlap.
    */
  def dataSchema: StructType = schema

  override def rootPaths: Seq[Path] = Seq(new Path(root))

  override lazy val sizeInBytes: Long = m.files.map(_.bytes).sum

  override def inputFiles: Array[String] =
    m.files.map(f => CowTable.entryPath(root, f.path)).toArray

  /** Snapshot-pinned by design: the manifest IS the listing. */
  override def refresh(): Unit = ()

  private lazy val qualify: Path => Path = {
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    p => fs.makeQualified(p)
  }

  /** Manifest partition-value string → Catalyst internal value, via the
    * inverse of the cast that produced it (`cast(col as string)` in
    * `CowTable.collectEntries`).
    */
  private def partValue(s: String, dt: org.apache.spark.sql.types.DataType): Any =
    if (s == null) null
    else Cast(Literal(UTF8String.fromString(s), StringType), dt,
      Option(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)

  private def rowFor(part: Map[String, String]): InternalRow =
    InternalRow.fromSeq(partitionSchema.fields.toSeq.map(f =>
      partValue(part.getOrElse(f.name, null), f.dataType)))

  /** One data-filter conjunct → the manifest pruning it supports, or
    * None (unsupported shape: keep all files — skipping is only ever an
    * optimization; the residual filter preserves exactness). Strict
    * inequalities prune with their inclusive envelope (sound superset).
    */
  private def pruningOf(e: Expression): Option[Either[CowRange, (String, Seq[String])]] = {
    def statStr(l: Literal): Option[String] =
      Option(Cast(l, StringType,
        Option(spark.sessionState.conf.sessionLocalTimeZone)).eval(null))
        .map(_.toString)
    // a session-TZ TIMESTAMP's string form depends on the session
    // timezone — the manifest stats were rendered under the WRITER's,
    // this literal under the READER's; a mismatch could FALSE-SKIP a
    // live file (rows silently missing — the one failure mode skipping
    // must never have). Such columns are simply not auto-pruned here
    // (TimestampNTZ, dates, numerics and strings are TZ-free and safe).
    // Nested STRUCT leaves (round-17) translate to their dotted stat
    // path — `s.a` — matching collectEntries' nested stat keys; an
    // unstatted path just never prunes (missing key ⇒ keep).
    def named(x: Expression): Option[String] = x match {
      case a: AttributeReference
          if a.dataType != org.apache.spark.sql.types.TimestampType =>
        Some(a.name)
      case g: org.apache.spark.sql.catalyst.expressions.GetStructField
          if g.dataType != org.apache.spark.sql.types.TimestampType =>
        CowFileIndex.dottedPathOf(g)
      case _ => None
    }
    e match {
      case EqualTo(a, l: Literal) => for {
        n <- named(a); v <- statStr(l)
      } yield Left(CowRange(n, Some(v), Some(v)))
      case EqualTo(l: Literal, a) => pruningOf(EqualTo(a, l))
      case EqualNullSafe(a, l: Literal) if l.value != null =>
        pruningOf(EqualTo(a, l))
      case GreaterThan(a, l: Literal) => for {
        n <- named(a); v <- statStr(l)
      } yield Left(CowRange(n, Some(v), None))
      case GreaterThanOrEqual(a, l: Literal) => pruningOf(GreaterThan(a, l))
      case LessThan(a, l: Literal) => for {
        n <- named(a); v <- statStr(l)
      } yield Left(CowRange(n, None, Some(v)))
      case LessThanOrEqual(a, l: Literal) => pruningOf(LessThan(a, l))
      // literal-on-the-left inequalities flip the bound side
      case GreaterThan(l: Literal, a) => pruningOf(LessThan(a, l))
      case GreaterThanOrEqual(l: Literal, a) => pruningOf(LessThan(a, l))
      case LessThan(l: Literal, a) => pruningOf(GreaterThan(a, l))
      case LessThanOrEqual(l: Literal, a) => pruningOf(GreaterThan(a, l))
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        for {
          n <- named(a)
          ss <- Some(vs.collect { case l: Literal => statStr(l) })
          if ss.forall(_.isDefined)
        } yield Right((n, ss.flatten))
      case InSet(a, hset) if hset.nonEmpty =>
        named(a).flatMap { n =>
          val ss = hset.toSeq.map(v =>
            statStr(Literal(v, a.dataType)))
          if (ss.forall(_.isDefined)) Some(Right((n, ss.flatten.map(_.toString))))
          else None
        }
      case _ => None
    }
  }

  /** NULL-count pruning for one conjunct (the stats triad's third leg:
    * envelopes, Blooms, null counts). A file without a recorded count
    * is always kept. Dotted struct leaves prune too: collectEntries
    * counts a NULL struct's leaves as NULL, exactly
    * `IsNull(GetStructField)` semantics.
    */
  private def nullPruneOf(e: Expression): Option[CowFile => Boolean] = {
    def named(x: Expression): Option[String] = x match {
      case a: AttributeReference => Some(a.name)
      case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
        CowFileIndex.dottedPathOf(g)
      case _ => None
    }
    e match {
      case IsNull(c) =>
        named(c).map(n => f => f.nulls.get(n).forall(_ > 0L))
      case IsNotNull(c) =>
        named(c).map(n => f => f.nulls.get(n).forall(_ < f.rows))
      case _ => None
    }
  }

  /** The manifest-pruned (partition values + stats skipping) file
    * groups — shared by [[listFiles]] (scan planning) and
    * [[prunedTo]] (the static-estimate narrowing rule).
    */
  private def keptGroups(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression],
      withBlooms: Boolean = true)
      : Seq[(Map[String, String], Seq[CowFile])] = {
    // 1. static partition pruning: bind the filters to the partition
    //    schema by name and evaluate per distinct partition value
    val groups: Seq[(Map[String, String], Seq[CowFile])] =
      m.files.groupBy(_.part).toSeq
    val afterPart =
      if (partitionFilters.isEmpty) groups
      else {
        val fields = partitionSchema.fields
        val resolver = spark.sessionState.analyzer.resolver
        val bound = partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = fields.indexWhere(f => resolver(f.name, a.name))
            require(i >= 0, s"partition filter on non-partition column $a")
            BoundReference(i, fields(i).dataType, nullable = true)
        }
        val pred = Predicate.createInterpreted(bound)
        pred.initialize(0)
        groups.filter { case (part, _) => pred.eval(rowFor(part)) }
      }
    // 2. data skipping: translate supported conjuncts and intersect
    val (ranges, ins) = dataFilters.flatMap(pruningOf).partitionMap(identity)
    val nullPrunes = dataFilters.flatMap(nullPruneOf)
    afterPart.flatMap { case (part, files) =>
      var kept = files.filter(f => nullPrunes.forall(_(f)))
      if (ranges.nonEmpty) {
        if (withBlooms)
          kept = CowTable.keptFilesAmong(spark, m, kept, ranges)
        else {
          // estimate pass: POINT ranges would also probe blooms (a
          // Spark job) — strip the bloom words for the skipping
          // decision, then map the survivors back to their original
          // entries so a pruned index keeps full stats for the scan
          val byPath = kept.map(f => f.path -> f).toMap
          kept = CowTable.keptFilesAmong(spark, m,
              kept.map(_.copy(blooms = Map.empty)), ranges)
            .map(f => byPath(f.path))
        }
      }
      // IN-list pruning hashes probe values through a Spark job
      // (bloomHashesOfAll) — fine at scan planning, not inside the
      // optimizer's estimate pass (withBlooms = false there)
      if (withBlooms) ins.foreach { case (n, vs) =>
        if (kept.nonEmpty)
          kept = CowTable.keptFilesInAmong(spark, m, kept, n, vs)
      }
      if (kept.isEmpty) None else Some(part -> kept)
    }
  }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    keptGroups(partitionFilters, dataFilters).map { case (part, kept) =>
      PartitionDirectory(rowFor(part), kept.map { f =>
        // manifest paths are the on-disk LITERAL form (collectEntries
        // decodes `_metadata.file_path`'s URI escaping once); Hadoop
        // Path's multi-arg URI constructor re-escapes spaces and '%'
        // itself, so the FileStatus round-trips exactly.
        FileStatusWithMetadata(new FileStatus(
          f.bytes, false, 1, 128L * 1024 * 1024, 0L,
          qualify(new Path(CowTable.entryPath(root, f.path)))))
      })
    }

  /** This index narrowed to the files the given filters keep — what
    * [[graft.plans.CowScanPruneRule]] swaps in so the LOGICAL size
    * estimate (broadcast decisions, join reorder) reflects manifest
    * pruning, not the whole table. The data is unchanged (pruning
    * keeps a superset of matching rows; the plan's own Filter still
    * applies), only the estimate and the planned file list narrow.
    */
  private[graft] def prunedTo(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): CowFileIndex = {
    // estimate-only pass: partition values + min/max envelopes + null
    // counts — all driver-local. Bloom probes would launch a Spark job
    // inside logical optimization; the scan's own listFiles still runs
    // them over the (already narrowed) survivors.
    val kept = keptGroups(partitionFilters, dataFilters,
        withBlooms = false)
      .flatMap(_._2)
    if (kept.length == m.files.length)
      new CowFileIndex(spark, root, m, pruned = true)
    else
      new CowFileIndex(spark, root,
        m.copy(allFiles =
          kept ++ m.allFiles.filter(_.kind != CowTable.KindData)),
        pruned = true)
  }
}

object CowFileIndex {
  /** Dotted stat path of a struct-leaf extraction — a GetStructField
    * chain bottoming out at an AttributeReference: `s.a`. None for any
    * other shape (array/map steps carry no stats). Field names resolve
    * BY ORDINAL from the child's actual struct schema (a
    * case-mismatched query name would otherwise miss the stat key
    * collectEntries wrote).
    */
  private[graft] def dottedPathOf(
      g: org.apache.spark.sql.catalyst.expressions.GetStructField)
      : Option[String] = {
    def walk(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case gg: org.apache.spark.sql.catalyst.expressions.GetStructField =>
        val fieldName = gg.child.dataType match {
          case st: StructType => st(gg.ordinal).name
          case _ => gg.extractFieldName
        }
        walk(gg.child).map(p => s"$p.$fieldName")
      case _ => None
    }
    walk(g)
  }
}

/** What [[graft.plans.CowScanPruneRule]] narrows: both the eager
  * manifest-holding index and the lazy (cold-table) one answer
  * `prunedTo` with an EAGER index over exactly the surviving entries.
  */
private[graft] trait CowPrunableIndex { self: FileIndex =>
  private[graft] def pruned: Boolean
  private[graft] def prunedTo(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): CowFileIndex
}

/** The LAZY twin of [[CowFileIndex]] (round-16): holds only the
  * snapshot's HEAD metadata — schema, partitioning, column mapping —
  * and defers the entry list until the scan's filters are known. A
  * filtered scan of a COLD table (no memo-resident manifest) pushes
  * its partition-filter conjuncts into the manifest/checkpoint parquet
  * read itself ([[CowTable.prunedManifest]]) and materializes O(kept)
  * entries driver-side instead of O(table files) — the planning-memory
  * analog of round-15's O(Δ) commits. Every materializing surface
  * first consults the full-manifest memo, so a WARM table behaves
  * byte-identically (and at identical cost) to the eager index.
  *
  * Unfiltered scans, `inputFiles` and `sizeInBytes` genuinely need the
  * whole listing — they materialize the full manifest through the
  * ordinary memoized path (the scan must open every file anyway, so
  * O(files) driver memory is the floor there, exactly as in Delta).
  */
final class CowLazyFileIndex(
    spark: SparkSession,
    root: String,
    meta: CowManifestMeta) extends FileIndex with CowPrunableIndex {

  private[graft] def pruned: Boolean = false

  private def full: CowManifest = CowTable.manifest(spark, root, meta.id)

  override val partitionSchema: StructType =
    StructType(meta.partCols.map(c => meta.schema(c))
      .filterNot(_.dataType == TimestampType))

  def dataSchema: StructType = meta.schema

  override def rootPaths: Seq[Path] = Seq(new Path(root))

  /** Head-carried totals (round-17) serve a COLD stats consult without
    * any entry materialization — a cold unfiltered JOIN's size probe
    * no longer defeats the lazy path. Byte-identical to the eager
    * sum (the writer computed it from the same entries); pre-r17
    * manifests fall back to the full parse.
    */
  override lazy val sizeInBytes: Long =
    meta.totalBytes.getOrElse(full.files.map(_.bytes).sum)

  override def inputFiles: Array[String] =
    full.files.map(f => CowTable.entryPath(root, f.path)).toArray

  override def refresh(): Unit = ()

  /** The eager index serving this scan: memo-resident manifest when
    * warm; a pushed-predicate pruned load when the partition filters
    * or data-filter min/max envelopes translate; the full (memoizing)
    * parse otherwise. Cached per instance: a scan calls listFiles
    * more than once (`FileSourceScanExec` lists statically, then
    * again with dynamic-partition-pruning runtime filters appended),
    * and re-running the pruned load per call would double cold
    * planning IO. Reuse is sound exactly when the cached slice's
    * filters are a SUBSET of the call's (the slice is then a superset
    * of what the stronger filters keep, and the in-memory pass still
    * applies every filter); full/memo-resident indexes cache with
    * empty filter sets and serve everything.
    */
  @volatile private var cachedEager
      : Option[(Set[String], Set[String], CowFileIndex)] = None

  private def canon(es: Seq[Expression]): Set[String] =
    es.map(_.canonicalized.toString).toSet

  private def eagerFor(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): CowFileIndex = {
    val (pc, dc) = (canon(partitionFilters), canon(dataFilters))
    cachedEager match {
      case Some((cp, cd, idx)) if cp.subsetOf(pc) && cd.subsetOf(dc) =>
        idx
      case _ =>
        val built = CowTable.memoPeek(spark, root, meta.id) match {
          case Some(m) => (Set.empty[String], Set.empty[String],
            new CowFileIndex(spark, root, m))
          case None =>
            (pushedOf(partitionFilters).toSeq ++ statsPredOf(dataFilters))
              .reduceOption(_ && _) match {
              case Some(pred) => (pc, dc, new CowFileIndex(spark, root,
                CowTable.prunedManifest(spark, root, meta.id, pred)))
              case None => (Set.empty[String], Set.empty[String],
                new CowFileIndex(spark, root, full))
            }
        }
        cachedEager = Some(built)
        built._3
    }
  }

  /** Stat types whose string-rendered extremes CAST back losslessly
    * and totally in-engine: floats are excluded (NaN comparisons
    * would DROP files the driver-side partial comparator keeps),
    * timestamps are excluded (the writer-TZ hazard [[CowFileIndex
    * .pruningOf]] documents), decimals/binary excluded (cast scale /
    * no stats). Same conservatism as the in-memory path — pushing is
    * only ever a narrowing; the slice still runs the full skipping
    * triad in memory.
    */
  private def statSafe(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.BooleanType => true
      case _ => false
    }

  /** The min/max-envelope HALF of data skipping, pushed into the
    * manifest read (round-16): for range/point conjuncts on stat-safe
    * columns, keep an entry unless its envelope PROVABLY excludes the
    * bound — `coalesce(…, true)` turns every NULL outcome (stat
    * absent, truncated-away max, malformed) into KEEP, exactly
    * [[CowTable.mayMatch]]'s missing/incomparable semantics. Blooms,
    * IN-lists and null counts stay in-memory over the materialized
    * slice (they need driver-side probe hashing).
    */
  private def statsPredOf(dataFilters: Seq[Expression]): Option[Column] = {
    import org.apache.spark.sql.functions.{coalesce, element_at, lit}
    val resolver = spark.sessionState.analyzer.resolver
    def statStr(l: Literal): Option[String] =
      Option(Cast(l, StringType,
        Option(spark.sessionState.conf.sessionLocalTimeZone)).eval(null))
        .map(_.toString)
    def named(x: Expression)
        : Option[(String, org.apache.spark.sql.types.DataType)] = x match {
      case a: AttributeReference if statSafe(a.dataType) =>
        meta.schema.fields.find(f => resolver(f.name, a.name))
          .map(f => (f.name, f.dataType))
      // nested struct leaves push their envelope too (round-17): the
      // dotted path is the stat key collectEntries wrote
      case g: org.apache.spark.sql.catalyst.expressions.GetStructField
          if statSafe(g.dataType) =>
        CowFileIndex.dottedPathOf(g).flatMap(p =>
          CowTable.leafType(meta.schema, p).map(dt => (p, dt)))
      case _ => None
    }
    def keepLo(n: String, dt: org.apache.spark.sql.types.DataType,
        v: String): Column =
      coalesce(element_at(col("maxs"), lit(n)).isNull ||
        element_at(col("maxs"), lit(n)).cast(dt) >= lit(v).cast(dt),
        lit(true))
    def keepHi(n: String, dt: org.apache.spark.sql.types.DataType,
        v: String): Column =
      coalesce(element_at(col("mins"), lit(n)).isNull ||
        element_at(col("mins"), lit(n)).cast(dt) <= lit(v).cast(dt),
        lit(true))
    def predOf(e: Expression): Option[Column] = e match {
      case EqualTo(a, l: Literal) => for {
        (n, dt) <- named(a); v <- statStr(l)
      } yield keepLo(n, dt, v) && keepHi(n, dt, v)
      case EqualTo(l: Literal, a) => predOf(EqualTo(a, l))
      case EqualNullSafe(a, l: Literal) if l.value != null =>
        predOf(EqualTo(a, l))
      case GreaterThan(a, l: Literal) => for {
        (n, dt) <- named(a); v <- statStr(l) } yield keepLo(n, dt, v)
      case GreaterThanOrEqual(a, l: Literal) => predOf(GreaterThan(a, l))
      case LessThan(a, l: Literal) => for {
        (n, dt) <- named(a); v <- statStr(l) } yield keepHi(n, dt, v)
      case LessThanOrEqual(a, l: Literal) => predOf(LessThan(a, l))
      case GreaterThan(l: Literal, a) => predOf(LessThan(a, l))
      case GreaterThanOrEqual(l: Literal, a) => predOf(LessThan(a, l))
      case LessThan(l: Literal, a) => predOf(GreaterThan(a, l))
      case LessThanOrEqual(l: Literal, a) => predOf(GreaterThan(a, l))
      case _ => None
    }
    dataFilters
      .filter(f => f.deterministic &&
        !org.apache.spark.sql.catalyst.expressions.SubqueryExpression
          .hasSubquery(f))
      .flatMap(predOf).reduceOption(_ && _)
  }

  /** Translate the scan's partition-filter conjuncts into ONE Column
    * over [[CowTable.prunedManifest]]'s typed `__pp_<c>` projection of
    * the entry frame: partition attributes rewrite to the projected
    * columns and the predicate evaluates INSIDE the manifest read —
    * exact for any deterministic, subquery-free shape (not just the
    * envelope forms), because it is the same expression. Untranslatable
    * conjuncts are simply not pushed (the in-memory pass still applies
    * every filter, so pushing is only ever a narrowing).
    */
  private def pushedOf(filters: Seq[Expression]): Option[Column] = {
    val resolver = spark.sessionState.analyzer.resolver
    val usable = filters.filter(f =>
      f.deterministic &&
        !org.apache.spark.sql.catalyst.expressions.SubqueryExpression
          .hasSubquery(f) &&
        f.references.nonEmpty &&
        f.references.forall(a =>
          partitionSchema.fieldNames.exists(n => resolver(n, a.name))))
    if (usable.isEmpty) None
    else {
      val rewritten = usable.reduce(And).transform {
        case a: AttributeReference =>
          val c = meta.partCols.find(resolver(_, a.name)).getOrElse(
            throw new IllegalStateException(
              s"partition filter on non-partition column ${a.name}"))
          org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute(Seq(s"__pp_$c"))
      }
      Some(org.apache.spark.sql.graftbridge.Bridge.column(rewritten))
    }
  }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    eagerFor(partitionFilters, dataFilters)
      .listFiles(partitionFilters, dataFilters)

  private[graft] def prunedTo(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): CowFileIndex =
    eagerFor(partitionFilters, dataFilters)
      .prunedTo(partitionFilters, dataFilters)
}

/** Planner-integrated CowTable reads: ONE DataFrame whose scan prunes
  * files per-query via [[CowFileIndex]] — `CowV2.read(spark, root)`
  * then `.where(...)` anything; partition pruning (static AND dynamic),
  * manifest min/max + Bloom skipping, parquet pushdown, and the
  * vectorized reader all compose through Spark's own file-source
  * machinery (`HadoopFsRelation` + `ParquetFileFormat`), exactly the
  * architecture Delta's batch read path uses.
  */
object CowV2 {

  /** The current snapshot as a planner-pruned DataFrame. */
  def read(spark: SparkSession, root: String): Option[DataFrame] =
    CowTable.committedIds(spark, root).lastOption
      .map(readAt(spark, root, _))

  /** Time travel: snapshot `id` as a planner-pruned DataFrame.
    * Resolution is LAZY for unbucketed tables (round-17): head-only
    * metadata plus the O(sidecars) non-data slice — a cold filtered
    * read of a 10⁸-file table, debt or no debt, lands O(kept) entries
    * on the driver. Bucket layouts need every file name at relation
    * build, so they keep the eager manifest.
    */
  def readAt(spark: SparkSession, root: String, id: Long): DataFrame = {
    val meta = CowTable.manifestMeta(spark, root, id)
    if (lazyServable(spark, root, meta))
      lazyReadSnapshot(spark, root, meta,
        CowTable.snapshotSidecars(spark, root, id))
    else
      readManifest(spark, root, CowTable.manifest(spark, root, id))
  }

  /** A snapshot read with LAZY data-entry planning — the data side is
    * the lazy relation (cold filtered scans materialize O(kept)
    * entries, exactly the debt-free path), and any merge-on-read debt
    * is carried by the DataFrame wrapper from the O(sidecars) non-data
    * slice alone. Retires the round-16 debt gate's one O(table-files)
    * read floor: a 100 TB table mid-stream of MOR deletes (the normal
    * steady state under continuous ingest) now plans O(query-touched)
    * too. Callers route bucket-spec'd tables through the eager path.
    */
  private[graft] def lazyReadSnapshot(
      spark: SparkSession, root: String,
      meta: CowManifestMeta, sidecars: Seq[CowFile]): DataFrame = {
    val df = spark.baseRelationToDataFrame(lazyRelation(spark, root, meta))
    CowTable.applyDvs(spark, root, df,
      col("_metadata.file_path"), col("_metadata.row_index"),
      sidecars.filter(_.kind == CowTable.KindDv))
  }

  /** An ALREADY-LOADED manifest as a planner-pruned DataFrame (MOR
    * debt applied) — for callers holding a pinned snapshot, e.g. the
    * named-catalog conversion rule ([[graft.plans.CowCatalogRule]]).
    */
  private[graft] def readSnapshot(
      spark: SparkSession, root: String, m: CowManifest): DataFrame =
    readManifest(spark, root, m)

  /** [[relationFor]] for a pinned snapshot, package-visible for the
    * named-catalog conversion rule's debt-free fast path.
    */
  private[graft] def snapshotRelation(
      spark: SparkSession, root: String, m: CowManifest): HadoopFsRelation =
    relationFor(spark, root, m)

  /** The LAZY relation for a snapshot known only by its head metadata
    * — entry materialization deferred to scan planning
    * ([[CowLazyFileIndex]]). Callers own the debt handling (bare
    * relations cannot carry the MOR subtraction — [[lazyReadSnapshot]]
    * wraps it; [[relationFor]] refuses) and the [[lazyServable]] gate.
    * A registered bucket layout declares from HEAD metadata when the
    * COMMIT certified every live file tagged (`meta.bucketOk`,
    * round-17) — the planner's bucketed read parses membership from
    * file names at scan time, so the declaration needs only the
    * certificate, not the list.
    */
  private[graft] def lazyRelation(
      spark: SparkSession, root: String,
      meta: CowManifestMeta): HadoopFsRelation = {
    val index = new CowLazyFileIndex(spark, root, meta)
    val bucketSpec =
      if (!meta.bucketOk.contains(true)) None
      else CowTable.bucketSpecOf(spark, root).map(bs =>
        org.apache.spark.sql.catalyst.catalog.BucketSpec(
          bs.n, bs.keyCols, Nil))
    HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = index.dataSchema,
      bucketSpec = bucketSpec,
      fileFormat = new CowMappedParquetFileFormat(meta.colMap,
        meta.schema.fieldNames.toSet),
      options = Map.empty)(spark)
  }

  /** May this snapshot serve through the LAZY relation? Yes unless a
    * registered bucket layout exists that the snapshot's head did NOT
    * certify all-tagged (pre-r17 manifest, spec registered after the
    * commit, or mixed untagged history) — declaring an uncertified
    * layout needs every file name, the eager floor.
    */
  private[graft] def lazyServable(
      spark: SparkSession, root: String, meta: CowManifestMeta): Boolean =
    meta.bucketOk.contains(true) ||
      CowTable.bucketSpecOf(spark, root).isEmpty

  /** The planner-native relation for one snapshot — what
    * [[graft.sinks.CowSource]] hands `spark.read.format("cow")`.
    * A relation cannot carry the deletion-vector mask, so an
    * UNFOLDED table refuses loudly (the steady state — after any COW
    * rewrite or [[CowTable.foldTombstones]] — is always servable;
    * [[CowV2.read]] serves the transient MOR state programmatically).
    */
  private[sinks] def relationFor(
      spark: SparkSession, root: String,
      m: CowManifest): HadoopFsRelation = {
    require(m.dvs.isEmpty,
      s"snapshot ${m.id} at $root has outstanding merge-on-read " +
        "deletion vectors — fold them " +
        "(CowTable.foldTombstones) or read through CowV2.read, which " +
        "applies the mask")
    buildRelation(spark, root, m)
  }

  private def readManifest(
      spark: SparkSession, root: String, m: CowManifest): DataFrame = {
    val relation = buildRelation(spark, root, m)
    val df = spark.baseRelationToDataFrame(relation)
    // outstanding positional deletion vectors mask inside the scan
    // (codegen'd filter on _metadata — CowTable.applyDvs), exactly as
    // in CowTable.resolved; a folded table skips the mask
    CowTable.applyDvs(spark, root, df,
      col("_metadata.file_path"), col("_metadata.row_index"), m.dvs)
  }

  private def buildRelation(
      spark: SparkSession, root: String,
      m: CowManifest): HadoopFsRelation = {
    val index = new CowFileIndex(spark, root, m)
    // a registered bucket layout is declared to the planner ONLY when
    // every live data file carries a bucket tag matching its manifest
    // partition value — the planner's bucketed read parses membership
    // from file NAMES and throws on an untagged file, so a table with
    // mixed history degrades to a plain (still correct) scan instead
    val bucketSpec = CowTable.bucketSpecOf(spark, root).flatMap { bs =>
      val allTagged = m.files.nonEmpty && m.files.forall { f =>
        val name = f.path.substring(f.path.lastIndexOf('/') + 1)
        CowTable.bucketIdOfName(name)
          .exists(k => f.part.get(bs.partCol).contains(k.toString))
      }
      if (allTagged)
        Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(
          bs.n, bs.keyCols, Nil))
      else None
    }
    HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = index.dataSchema,
      bucketSpec = bucketSpec,
      fileFormat = CowMappedParquetFileFormat.forManifest(m),
      options = Map.empty)(spark)
  }
}
