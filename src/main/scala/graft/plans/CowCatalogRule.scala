package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable,
  InsertIntoStatement, LogicalPlan, MergeIntoTable,
  OverwritePartitionsDynamic, Project, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.catalog.{CowDynamicOverwriteCommand, CowNamedTable}
import graft.sinks.CowV2

/** The read half of the named cow catalog: swap the analyzer's
  * `DataSourceV2Relation` over a [[graft.catalog.CowNamedTable]] for
  * the V1 [[graft.sinks.CowV2]] relation, so `SELECT … FROM cow.db.t`
  * plans through [[graft.sinks.CowFileIndex]] — manifest-as-listing,
  * static+dynamic partition pruning, min/max + Bloom + null-count
  * skipping, declared bucketing, vectorized parquet — exactly the plan
  * `CowV2.read` produces. This is the architecture Delta's own
  * analysis rule uses for its batch reads (DeltaTableV2 → V1
  * `HadoopFsRelation`): the catalog names the table, the V1 file-scan
  * machinery reads it. Injected by [[graft.GraftExtensions]].
  *
  * Two structural guards keep the swap read-only:
  *
  *  - V2 WRITE commands (`AppendData`, `OverwriteByExpression`, …)
  *    hold their target as a non-child `table` field, so the
  *    child-only traversal below can never rewrite a write target out
  *    from under the V1-write fallback.
  *  - `InsertIntoStatement` (the parsed form, before `ResolveInsertInto`
  *    turns it into a V2 write) is recursed ONLY through its query:
  *    converting its target relation would drop the INSERT onto the V1
  *    `InsertIntoHadoopFsRelationCommand` path, which writes parquet
  *    straight into the table root behind the manifest's back —
  *    corruption, not a commit.
  *
  * A debt-free snapshot converts to a bare `LogicalRelation` that
  * REUSES the v2 relation's output attribute ids (no projection at
  * all); outstanding deletion vectors wrap the resolved read in an
  * id-preserving alias Project, so parent operators keep their
  * references either way.
  */
class CowCatalogRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = convert(plan)

  private def convert(p: LogicalPlan): LogicalPlan = p match {
    // ANALYZER-RESOLVED DML over named cow tables (CowAnalyzedDml):
    // the target relation must STAY a v2 relation while the analyzer
    // resolves conditions/assignments against it (converting it to V1
    // here would hand the statement to checkAnalysis' unsupported-DML
    // error); once the whole statement is resolved, it converts to the
    // runnable command. Non-cow targets keep Spark's own behavior.
    case d: DeleteFromTable =>
      CowAnalyzedDml.namedTarget(d.table) match {
        case Some(t) => if (d.resolved) CowAnalyzedDml.convertDelete(d, t)
          else d
        case None => d.mapChildren(convert)
      }
    case u: UpdateTable =>
      CowAnalyzedDml.namedTarget(u.table) match {
        case Some(t) => if (u.resolved) CowAnalyzedDml.convertUpdate(u, t)
          else u
        case None => u.mapChildren(convert)
      }
    case m: MergeIntoTable =>
      CowAnalyzedDml.namedTarget(m.targetTable) match {
        case Some(t) => if (m.resolved) CowAnalyzedDml.convertMerge(m, t)
          else m
        case None => m.mapChildren(convert)
      }
    case i: InsertIntoStatement =>
      // never touch the insert TARGET (see scaladoc); query side only
      val q = convert(i.query)
      if (q eq i.query) i else i.copy(query = q)
    // dynamic partition overwrite: Spark's V1 fallback has no exec for
    // OverwritePartitionsDynamic, so once the analyzer has aligned the
    // query to the table schema (outputResolved — ResolveOutputRelation
    // has added its casts/reorders) the command swaps for the
    // partition-granular cow commit. Converting any earlier would skip
    // that alignment.
    // guard table/query resolution BEFORE outputResolved: Spark
    // asserts (not answers false) when either side is unresolved
    case o @ OverwritePartitionsDynamic(
        r: DataSourceV2Relation, _, _, _, _)
        if o.table.resolved && o.query.resolved && o.outputResolved =>
      r.table match {
        case t: CowNamedTable =>
          CowDynamicOverwriteCommand(t.root, t.manifest, convert(o.query))
        case _ => o
      }
    case r: DataSourceV2Relation => r.table match {
      case t: CowNamedTable => toV1(r, t)
      case t: graft.catalog.CowMetaTable => metaToV1(r, t)
      case _ => r
    }
    case m: CowMetaStatement => metaStatement(m)
    case other =>
      other.mapChildren(convert).transformExpressions {
        case se: SubqueryExpression => se.withNewPlan(convert(se.plan))
      }
  }

  /** Planner STATISTICS for a named cow read (round-16): the manifest
    * knows the snapshot's exact live-row count and byte size — surface
    * them as `CatalogStatistics` on the `LogicalRelation`, the one
    * seam `computeStats` consults before falling back to
    * `sizeInBytes`. With `spark.sql.cbo.planStats.enabled` (or full
    * CBO) on, join-cardinality and broadcast decisions then see REAL
    * row counts instead of byte-size proxies — a small-rowcount table
    * whose strings make it byte-heavy still broadcasts
    * (`RowCountStatsSpec` pins the flip). Default confs read only
    * `sizeInBytes`, which equals the relation's own estimate — no
    * behavior change unless opted in. Served from the memo-resident
    * manifest when warm, and from the HEAD-CARRIED commit totals when
    * cold (round-17) — statistics never force an entry-list
    * materialization the lazy read path just avoided. Debt-carrying
    * snapshots attach no stats (the totals would overstate the
    * subtracted read). [[CowScanPruneRule]] re-narrows these stats
    * whenever it narrows the index, so a filtered scan's estimate
    * reflects the slice.
    */
  private def statsTableFor(t: CowNamedTable)
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] = {
    val exact: Option[(Long, Long)] =
      graft.sinks.CowTable.memoPeek(spark, t.root, t.meta.id) match {
        case Some(m) =>
          if (m.dvs.isEmpty)
            Some((m.files.map(_.bytes).sum, m.files.map(_.rows).sum))
          else None
        case None if t.meta.nondataFiles.contains(0L) =>
          for { b <- t.meta.totalBytes; r <- t.meta.totalRows }
            yield (b, r)
        case None => None
      }
    exact.map { case (bytes, rows) =>
      import org.apache.spark.sql.catalyst.catalog.{
        CatalogStatistics, CatalogStorageFormat, CatalogTable,
        CatalogTableType}
      CatalogTable(
        identifier = org.apache.spark.sql.catalyst
          .TableIdentifier(t.name()),
        tableType = CatalogTableType.EXTERNAL,
        storage = CatalogStorageFormat.empty.copy(
          locationUri = Some(
            new org.apache.hadoop.fs.Path(t.root).toUri)),
        schema = t.meta.schema,
        provider = Some("parquet"),
        // sizeInBytes scales by fileCompressionFactor exactly as the
        // stats-less path would (HadoopFsRelation.sizeInBytes does
        // the same multiply) — attaching stats must not change the
        // default-conf estimate for ANY conf value
        stats = Some(CatalogStatistics(
          sizeInBytes = BigInt((bytes *
            spark.sessionState.conf.fileCompressionFactor).toLong),
          rowCount = Some(BigInt(rows)))))
    }
  }

  private def toV1(r: DataSourceV2Relation, t: CowNamedTable): LogicalPlan = {
    // debt-free fast path, LAZY (round-16): the relation's schema is
    // the table's schema in the same order (the index declares the
    // partition columns inside dataSchema), so the v2 output binds
    // directly — and the ENTRY LIST is not materialized here at all.
    // A filtered scan of a cold table pushes its partition predicate
    // into the manifest read (CowLazyFileIndex); a warm table serves
    // from the memo at the old path's exact cost. Bucket-spec'd tables
    // keep the eager relation (declaring the layout needs every file
    // name at build time).
    if (graft.sinks.CowTable.nonDataEmpty(spark, t.root, t.meta.id)) {
      if (CowV2.lazyServable(spark, t.root, t.meta))
        LogicalRelation(CowV2.lazyRelation(spark, t.root, t.meta),
          r.output, statsTableFor(t), isStreaming = false, None)
      else
        LogicalRelation(
          CowV2.snapshotRelation(spark, t.root, t.manifest),
          r.output, statsTableFor(t), isStreaming = false, None)
    } else {
      // outstanding MOR debt: the resolved read (the DV scan mask) is
      // a subtree with fresh attribute ids —
      // re-expose it under the v2 relation's ids so parents resolve.
      // Data-side planning is LAZY (round-17): only the O(sidecars)
      // non-data slice materializes at conversion — a cold filtered
      // read of a debt-carrying table plans O(kept) entries like the
      // debt-free path. Bucket layouts keep the eager relation.
      val child = (if (CowV2.lazyServable(spark, t.root, t.meta))
          CowV2.lazyReadSnapshot(spark, t.root, t.meta,
            graft.sinks.CowTable.snapshotSidecars(spark, t.root,
              t.meta.id))
        else CowV2.readSnapshot(spark, t.root, t.manifest))
        .queryExecution.analyzed
      aliasTo(t.name(), r, child)
    }
  }

  /** Re-expose a freshly-analyzed subtree under the v2 relation's
    * attribute ids (an id-preserving alias Project), so parent
    * operators' references keep resolving.
    */
  private def aliasTo(name: String, r: DataSourceV2Relation,
      child: LogicalPlan): LogicalPlan = {
    require(child.output.size == r.output.size,
      s"cow conversion arity mismatch for $name: " +
        s"${child.output.map(_.name)} vs ${r.output.map(_.name)}")
    val resolver = spark.sessionState.analyzer.resolver
    Project(r.output.zip(child.output).map { case (tgt, src) =>
      require(resolver(tgt.name, src.name),
        s"cow conversion column mismatch: ${src.name} vs ${tgt.name}")
      Alias(src, tgt.name)(exprId = tgt.exprId,
        qualifier = tgt.qualifier)
    }, child)
  }

  /** `cow.ns.t.files` / `cow.ns.t.partitions`: swap the metadata-table
    * relation for the LAZY distributed manifest frame — the listing
    * never lands on the driver, and composed filters/LIMITs push into
    * the plan like any relation (Iceberg's `t$files` shape).
    */
  private def metaToV1(r: DataSourceV2Relation,
      t: graft.catalog.CowMetaTable): LogicalPlan = {
    // all three serve the snapshot PINNED at loadTable (t.atId):
    // re-resolving the head here would let two references in one
    // query list different snapshots across a concurrent commit
    val df = t.kind match {
      case "files" =>
        graft.sinks.CowTable.fileStatsAt(spark, t.root, t.atId)
      case "partitions" =>
        // debt-tolerant (round-18): under MOR debt the frame recomputes
        // the touched partitions' row counts from the debt-subtracted
        // read — exact, distributed, scoped to the debt
        graft.sinks.CowTable.partitionStatsAt(spark, t.root, t.atId)
      case "history" =>
        graft.sinks.CowTable.history(spark, t.root, upTo = Some(t.atId))
    }
    aliasTo(t.name(), r, df.queryExecution.analyzed)
  }

  /** Resolve a parser-named metadata STATEMENT into its lazy frame —
    * at ANALYSIS time (the parser does no table I/O; each spark.sql
    * call re-resolves under the session's current catalog conf and
    * pins the then-current head, like any table reference).
    */
  private def metaStatement(m: CowMetaStatement): LogicalPlan = {
    import graft.sinks.{CowSql, CowTable}
    val root = CowSql.refRoot(spark, m.cat, m.path, m.ns, m.table)
    val df = m.kind match {
      case "files" => CowTable.fileStats(spark, root)
      case "history" =>
        CowTable.history(spark, root).orderBy("snapshot_id")
      case "show_partitions" =>
        val head = CowTable.committedIds(spark, root).lastOption
          .getOrElse(throw new IllegalStateException(
            s"no committed snapshot at $root"))
        require(CowTable.manifestMeta(spark, root, head)
            .partCols.nonEmpty,
          s"SHOW PARTITIONS: table at $root is not partitioned")
        CowTable.fileStatsAt(spark, root, head)
          .where(org.apache.spark.sql.functions.col("kind") ===
            CowTable.KindData)
          .select("partition").distinct().orderBy("partition")
      case other => throw new IllegalStateException(
        s"unknown cow metadata statement kind $other")
    }
    df.queryExecution.analyzed
  }
}
