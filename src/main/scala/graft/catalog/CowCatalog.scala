package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException,
  NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange,
  SupportsNamespaces, SupportsWrite, Table, TableCapability, TableCatalog,
  TableCatalogCapability, TableChange, TableInfo}
import org.apache.spark.sql.connector.catalog.constraints.{Check, Constraint}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
  SupportsDynamicOverwrite, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, And, EqualNullSafe,
  EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, InsertableRelation,
  IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or, StringStartsWith}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sinks.{CowManifest, CowManifestMeta, CowTable}

/** The cow table format as a NAMED SQL citizen — a DataSourceV2
  * `TableCatalog` (`spark.sql.catalog.cow=graft.catalog.CowCatalog`,
  * `spark.sql.catalog.cow.warehouse=<dir>`), so Spark's OWN analyzer
  * resolves `cow.db.table` in any statement, with no path literals and
  * no pre-parse interception — the reference's name-addressed layout
  * (`{project}.{env}_<layer>.{table}`,
  * jobs/semantic/gosales_thin_layer/tl_sm_gosales_overview_01.sql:22-25)
  * expressed directly over the table format:
  *
  * {{{
  * CREATE NAMESPACE cow.curated;
  * CREATE TABLE cow.curated.orders (…) PARTITIONED BY (priority);
  * INSERT INTO cow.curated.orders SELECT …;           -- commitAppend
  * INSERT OVERWRITE cow.curated.orders SELECT …;      -- commitFull
  * SELECT … FROM cow.curated.orders;                  -- CowFileIndex scan
  * SELECT … FROM cow.curated.orders VERSION AS OF 3;  -- time travel
  * }}}
  *
  * Identifiers map to `warehouse/<namespace>/<table>`; the Delta-style
  * path form `` cow.`/abs/path` `` (empty namespace, absolute name)
  * addresses any table root directly. Namespaces are one level — the
  * reference's `{env}_{layer}` datasets are flat too.
  *
  * READS do not go through a DSv2 scan: [[graft.plans.CowCatalogRule]]
  * (injected by [[graft.GraftExtensions]]) swaps the analyzer's
  * `DataSourceV2Relation` for the V1 [[graft.sinks.CowV2]] relation, so
  * a named read plans through [[graft.sinks.CowFileIndex]] — manifest
  * listing, partition pruning (static + dynamic), min/max + Bloom +
  * null-count skipping, declared bucketing, and outstanding MOR
  * debt (positional-DV scan masks) — identical
  * to `CowV2.read`. WRITES use the `V1Write` fallback: `INSERT INTO` →
  * `commitAppend`, `INSERT OVERWRITE` → `commitFull`, dynamic
  * partition overwrite → partition-granular `commitPartitions`
  * (rewrites ONLY the partitions the query produced — the 100 TB path
  * the reference's TRUNCATE+INSERT shape cannot express), static
  * `PARTITION (p=v)` overwrite → the same granular commit for exactly
  * those partitions. Every write lands through the ordinary commit
  * protocol: optimistic per-id lease, CHECK constraints, schema
  * evolution gate, changelog plumbing untouched.
  */
class CowCatalog extends TableCatalog with SupportsNamespaces {

  private var catName: String = "cow"
  private var warehouse: String = _

  override def initialize(
      name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.warehouse")
  }

  override def name(): String = catName

  // SUPPORT_TABLE_CONSTRAINT admits `CREATE TABLE … CHECK (…)`, whose
  // constraints arrive through the TableInfo createTable overload
  // below and register atomically after the empty first snapshot —
  // never silently dropped (the earlier refusal's concern). The
  // textual `ALTER TABLE … ADD/DROP CONSTRAINT` still routes
  // pre-analysis through graft.plans.CowSqlParser → CowSql (Spark's
  // own AddCheckConstraint resolution requires a session-catalog V1
  // relation this catalog never produces); the TableChange cases in
  // alterTable serve programmatic callers.
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  private def spark: SparkSession = SparkSession.active

  private def fs = new Path(warehouse)
    .getFileSystem(spark.sessionState.newHadoopConf())

  /** `cow.db.t` → `warehouse/db/t`; `` cow.`/abs/path` `` → the path. */
  private def rootOf(ident: Identifier): String =
    if (ident.namespace.isEmpty && ident.name.startsWith("/")) ident.name
    else {
      require(ident.namespace.length == 1,
        s"cow catalog namespaces are one level, got " +
          ident.namespace.mkString("."))
      s"$warehouse/${ident.namespace.head}/${ident.name}"
    }

  private def displayName(ident: Identifier): String =
    (catName +: (ident.namespace :+ ident.name)).mkString(".")

  override def tableExists(ident: Identifier): Boolean =
    CowTable.committedIds(spark, rootOf(ident)).nonEmpty

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style nested metadata table `<table>.changes`: the
    // committed change feed as its OWN named (streaming) table —
    // `spark.readStream.table("cow.ns.t.changes")`. The feed needs a
    // distinct table identity because its schema is the table's plus
    // `_oper`/`_commit_id`, and a streaming scan's rows must match the
    // DECLARED schema of the table they were resolved from.
    // resolution is HEAD-ONLY (CowManifestMeta): naming a table must
    // never pull its entry list to the driver — reads defer that to
    // scan planning (CowLazyFileIndex), writes/DML to execution
    feedIdentOf(ident).foreach { base =>
      val root = rootOf(base)
      val head = CowTable.committedIds(spark, root).lastOption.getOrElse(
        throw new NoSuchTableException(ident))
      return graft.streaming.CowFeedTable(
        s"${displayName(base)}.changes", root,
        CowTable.manifestMeta(spark, root, head).schema)
    }
    // Iceberg-style `<table>.files` / `<table>.partitions` metadata
    // tables (round-17): the file-level and partition-level manifest
    // listings as QUERYABLE, JOINABLE relations — resolved lazily
    // (head-only here; the listing stays distributed inside the scan,
    // so LIMIT/filters push and the driver never holds it).
    // the snapshot pins HERE: every reference the analyzer resolves
    // lists the same commit even if writers land mid-query
    metaIdentOf(ident).foreach { case (base, _) =>
      val root = rootOf(base)
      return metaTableAt(ident,
        CowTable.committedIds(spark, root).lastOption.getOrElse(
          throw new NoSuchTableException(ident))).get
    }
    val root = rootOf(ident)
    val head = CowTable.committedIds(spark, root).lastOption.getOrElse(
      throw new NoSuchTableException(ident))
    CowNamedTable(displayName(ident), root,
      CowTable.manifestMeta(spark, root, head), pinned = false)
  }

  /** `cow.ns.t.changes` → `Some(cow.ns.t)`; also the path form
    * `` cow.`/abs/path`.changes ``. None for ordinary identifiers.
    */
  private def feedIdentOf(ident: Identifier): Option[Identifier] =
    if (ident.name != "changes") None
    else ident.namespace.toSeq match {
      case Seq(p) if p.startsWith("/") =>
        Some(Identifier.of(Array.empty, p))
      case Seq(ns, t) => Some(Identifier.of(Array(ns), t))
      case _ => None
    }

  /** `cow.ns.t.files` / `cow.ns.t.partitions` / `cow.ns.t.history` →
    * the base identifier plus the metadata-table kind; also the path
    * forms. None for ordinary identifiers (a TABLE literally named
    * `files` has a one-level namespace and never matches — same rule
    * as `.changes`).
    *
    * The `Seq(ns, t)` claim is safe ONLY under [[rootOf]]'s one-level-
    * namespace rule (ADVICE r17): a real table named `files` can never
    * live under a TWO-level namespace, because rootOf refuses to
    * resolve one — so claiming every two-level suffix match shadows
    * nothing. The guard below ties the two invariants together: if a
    * future change teaches rootOf deeper namespaces, this match must
    * learn to disambiguate instead of silently shadowing, and the
    * require makes that forgetting loud at the first metadata lookup.
    */
  private def metaIdentOf(ident: Identifier): Option[(Identifier, String)] =
    if (ident.name != "files" && ident.name != "partitions" &&
        ident.name != "history") None
    else ident.namespace.toSeq match {
      case Seq(p) if p.startsWith("/") =>
        Some((Identifier.of(Array.empty, p), ident.name))
      case Seq(ns, t) =>
        // rootOf(Identifier.of(Array(ns, t), "files")) must be
        // unresolvable for the claim to shadow nothing — pin the
        // invariant rather than assume it
        require(!resolvesDeepNamespace(ident),
          s"metadata-table suffix '${ident.name}' is ambiguous: the " +
            s"catalog resolved a real table under namespace " +
            s"${ident.namespace.mkString(".")} — disambiguate " +
            "metaIdentOf before widening namespace depth")
        Some((Identifier.of(Array(ns), t), ident.name))
      case _ => None
    }

  /** Would `ident` ALSO resolve as an ordinary table (its namespace
    * taken at face value)? One-level namespaces make this statically
    * false — [[rootOf]] refuses depth-2 — so this costs nothing today;
    * it exists to fail loud the day the namespace rule widens.
    */
  private def resolvesDeepNamespace(ident: Identifier): Boolean =
    ident.namespace.length >= 2 &&
      (try { rootOf(ident); true }
      catch { case _: IllegalArgumentException => false })

  /** A time-traveled METADATA table: `cow.ns.t.files VERSION AS OF n`
    * inspects the OLD snapshot's listing (what skipping saw then) —
    * the metadata frames are already id-pinned, so time travel is
    * just a different pin.
    */
  private def metaTableAt(
      ident: Identifier, at: Long): Option[Table] =
    metaIdentOf(ident).map { case (base, kind) =>
      val root = rootOf(base)
      CowMetaTable(s"${displayName(base)}.$kind", root, kind, at,
        CowMetaTable.schemaFor(kind,
          CowTable.manifestMeta(spark, root, at)))
    }

  /** `VERSION AS OF <id>` — highest committed snapshot ≤ id, the same
    * time-travel rule as `CowTable.readAt`; the result is read-only.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val id = version.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"cow versions are commit ids, got '$version'"))
    def at(root: String): Long =
      CowTable.committedIds(spark, root).filter(_ <= id).lastOption
        .getOrElse(throw new NoSuchTableException(ident))
    metaIdentOf(ident).foreach { case (base, _) =>
      return metaTableAt(ident, at(rootOf(base))).get
    }
    val root = rootOf(ident)
    CowNamedTable(displayName(ident),
      root, CowTable.manifestMeta(spark, root, at(root)), pinned = true)
  }

  /** `TIMESTAMP AS OF` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    def at(root: String): Long =
      CowTable.committedIdsAt(spark, root, timestamp / 1000L)
        .lastOption.getOrElse(throw new NoSuchTableException(ident))
    metaIdentOf(ident).foreach { case (base, _) =>
      return metaTableAt(ident, at(rootOf(base))).get
    }
    val root = rootOf(ident)
    CowNamedTable(displayName(ident),
      root, CowTable.manifestMeta(spark, root, at(root)), pinned = true)
  }

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val root = rootOf(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val partCols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case other => throw new IllegalArgumentException(
        s"cow tables partition by identity columns only, got $other")
    }
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c is not in the table schema"))
    // the empty first snapshot: schema + partitioning persist via the
    // manifest's path-NULL sentinel; the first INSERT appends as id 2
    CowTable.commitFull(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
      root, 1L, partCols)
    CowNamedTable(displayName(ident),
      root, CowTable.currentManifest(spark, root).get, pinned = false)
  }

  /** `CREATE TABLE … CHECK (…)`: constraints arrive HERE (the
    * TableInfo overload Spark's CreateTableExec calls once
    * SUPPORT_TABLE_CONSTRAINT is declared). Vetting runs BEFORE the
    * empty snapshot lands (an unsupported constraint kind refuses with
    * nothing created); registration is the CHECK store's own atomic
    * rename, published before this returns — so from the very first
    * INSERT every commit validates, and a violating first INSERT fails
    * loudly ([[graft.sinks.CowConstraintException]]). A registration
    * I/O failure tears the just-created root down rather than leaving
    * a table that silently lacks its declared invariants.
    */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val checks = info.constraints().toSeq.map {
      case ck: Check =>
        require(ck.enforced,
          s"CHECK ${ck.name} NOT ENFORCED: cow constraints are real " +
            "invariants (every commit validates) — an unenforced " +
            "claim would be a lie to downstream readers")
        ck.name -> ck.predicateSql
      case other: Constraint => throw new UnsupportedOperationException(
        s"cow tables enforce CHECK constraints only; ${other.toDDL} " +
          "(PRIMARY KEY / UNIQUE / FOREIGN KEY) would be an " +
          "informational-only claim the engine cannot enforce " +
          "without a global index — refused rather than silently " +
          "unenforced")
    }
    require(checks.map(_._1).distinct.size == checks.size,
      s"duplicate constraint names in CREATE TABLE: " +
        checks.map(_._1).mkString(", "))
    val table = createTable(ident, info.schema(), info.partitions(),
      info.properties())
    if (checks.nonEmpty) {
      val root = rootOf(ident)
      try
        // validate=false: the just-created snapshot is EMPTY by
        // construction — no data can predate the constraint set
        CowTable.setCheckConstraints(spark, root, checks.toMap,
          validate = false)
      catch { case t: Throwable =>
        fs.delete(new Path(root), true)
        throw t
      }
    }
    table
  }

  /** `ALTER TABLE` as METADATA-ONLY evolution ([[CowTable.evolveSchema]]
    * — zero data files rewritten): `ADD COLUMNS` (nullable, appended),
    * `ALTER COLUMN … TYPE` along the [[graft.sinks.SchemaCompat]]
    * widening chains, and `ALTER COLUMN … DROP NOT NULL`. Drops,
    * renames, narrowings and `SET NOT NULL` are refused loudly — they
    * are breaking under carried files; positions other than append
    * cannot be honored (the manifest anchors column order so files
    * never reorder).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootOf(ident)
    val m = CowTable.currentManifest(spark, root).getOrElse(
      throw new NoSuchTableException(ident))
    // RENAME/DROP COLUMN are METADATA-ONLY commits of their own
    // (column mapping: the physical name in carried files never
    // changes — CowTable.renameColumn/dropColumn). They commit
    // per-change at head+1, so a statement mixing them with other
    // change kinds would interleave two commit disciplines — Spark's
    // grammar never produces such a mix, but refuse it if a
    // programmatic caller does.
    val mapChanges = changes.collect {
      case rn: TableChange.RenameColumn => rn: TableChange
      case dc: TableChange.DeleteColumn => dc: TableChange
      case up: TableChange.UpdateColumnPosition => up: TableChange
    }
    if (mapChanges.nonEmpty) {
      require(mapChanges.size == changes.size,
        "RENAME/DROP/REPOSITION COLUMN cannot combine with other " +
          "ALTER changes in one statement — issue them separately")
      changes.foreach {
        case up: TableChange.UpdateColumnPosition =>
          require(up.fieldNames.length == 1,
            "cow tables reposition top-level columns only, got " +
              up.fieldNames.mkString("."))
          val target = up.position match {
            case _: TableChange.First => None
            case a: TableChange.After => Some(a.column)
            case other => throw new UnsupportedOperationException(
              s"unsupported column position $other")
          }
          val cur = CowTable.currentManifest(spark, root).get
          require(CowTable.reorderColumn(spark, root, cur.id + 1,
              up.fieldNames.head, target, keep = Int.MaxValue),
            s"ALTER COLUMN position on ${displayName(ident)} raced a " +
              "concurrent commit — retry the statement")
        case rn: TableChange.RenameColumn =>
          // PERMANENT design boundary, not a gap scheduled to close:
          // the column mapping is a top-level name split (physical
          // names are immutable per top-level column; nested field
          // names live INSIDE the files), so a metadata-only nested
          // rename would require per-scope physical naming through
          // structs/arrays/maps on both the read AND write paths —
          // cost out of proportion to the operation's rarity. The
          // remedy rewrites the data under the new shape:
          //   UPDATE t SET s = named_struct('z', s.a, 'b', s.b)
          // after an ALTER that declares the new struct type, or a
          // CTAS/INSERT OVERWRITE with the reshaped projection —
          // NestedMappingSpec pins the remedy end-to-end.
          require(rn.fieldNames.length == 1,
            "cow tables rename top-level columns only (a nested " +
              s"field rename — got ${rn.fieldNames.mkString(".")} — " +
              "is refused BY DESIGN: nested names live inside the " +
              "data files); rewrite under the new shape instead: " +
              "INSERT OVERWRITE/CTAS with the reshaped struct, or " +
              "rename the top-level column and reshape its type")
          val cur = CowTable.currentManifest(spark, root).get
          require(CowTable.renameColumn(spark, root, cur.id + 1,
              rn.fieldNames.head, rn.newName, keep = Int.MaxValue),
            s"RENAME COLUMN on ${displayName(ident)} raced a " +
              "concurrent commit — retry the statement")
        case dc: TableChange.DeleteColumn =>
          require(dc.fieldNames.length == 1,
            "cow tables drop top-level columns only, got " +
              dc.fieldNames.mkString("."))
          val cur = CowTable.currentManifest(spark, root).get
          if (!cur.schema.fieldNames.contains(dc.fieldNames.head)) {
            require(dc.ifExists != null && dc.ifExists.booleanValue(),
              s"DROP COLUMN: no column ${dc.fieldNames.head} on " +
                displayName(ident))
          } else require(CowTable.dropColumn(spark, root, cur.id + 1,
              dc.fieldNames.head, keep = Int.MaxValue),
            s"DROP COLUMN on ${displayName(ident)} raced a " +
              "concurrent commit — retry the statement")
        case _ => ()
      }
      return loadTable(ident)
    }
    var schema = m.schema
    def updated(fieldNames: Array[String], what: String)(
        f: org.apache.spark.sql.types.StructField
          => org.apache.spark.sql.types.StructField): Unit = {
      require(fieldNames.length == 1,
        s"cow tables evolve top-level columns only, got " +
          fieldNames.mkString("."))
      val c = fieldNames.head
      require(schema.fieldNames.contains(c),
        s"$what: no column $c in ${displayName(ident)}")
      schema = StructType(schema.fields.map(x =>
        if (x.name == c) f(x) else x))
    }
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "cow tables add top-level columns only, got " +
            add.fieldNames.mkString("."))
        require(add.isNullable,
          s"added column ${add.fieldNames.head} must be nullable: " +
            "existing rows read it as NULL")
        require(add.position == null,
          "cow ADD COLUMNS appends at the end — add the column, then " +
            "place it with ALTER TABLE … ALTER COLUMN <c> FIRST|AFTER " +
            "<other> (both metadata-only)")
        require(add.defaultValue == null,
          s"added column ${add.fieldNames.head} may not carry a " +
            "DEFAULT: carried files would silently read NULL where " +
            "the default was promised")
        val base = org.apache.spark.sql.types.StructField(
          add.fieldNames.head, add.dataType, nullable = true)
        schema = StructType(schema.fields :+
          Option(add.comment).map(base.withComment).getOrElse(base))
      case ut: TableChange.UpdateColumnType =>
        updated(ut.fieldNames, "ALTER COLUMN TYPE")(
          _.copy(dataType = ut.newDataType))
      case un: TableChange.UpdateColumnNullability =>
        require(un.nullable,
          s"SET NOT NULL on ${un.fieldNames.mkString(".")}: carried " +
            "files may hold NULLs — cow nullability only widens")
        updated(un.fieldNames, "ALTER COLUMN NULLABILITY")(
          _.copy(nullable = true))
      case cc: TableChange.UpdateColumnComment =>
        updated(cc.fieldNames, "COMMENT ON COLUMN")(
          _.withComment(cc.newComment))
      // constraint DDL maps onto the table's CHECK store — Delta's
      // ADD CONSTRAINT semantics live in CowTable.setCheckConstraints
      // (existing data validated in one scan, then every commit
      // enforces); a constraint change commits no manifest
      case ac: TableChange.AddConstraint => ac.constraint match {
        case ck: Check =>
          require(ck.enforced,
            s"CHECK ${ck.name} NOT ENFORCED: cow constraints are real " +
              "invariants (every commit validates) — an unenforced " +
              "claim would be a lie to downstream readers")
          val cur = CowTable.checkConstraints(spark, root)
          require(!cur.contains(ck.name),
            s"constraint ${ck.name} already exists on " +
              s"${displayName(ident)} (DROP it first)")
          CowTable.setCheckConstraints(spark, root,
            cur + (ck.name -> ck.predicateSql))
        case other => throw new UnsupportedOperationException(
          s"cow tables enforce CHECK constraints only; ${other.toDDL} " +
            "(PRIMARY KEY / UNIQUE / FOREIGN KEY) would be an " +
            "informational-only claim the engine cannot enforce " +
            "without a global index — refused rather than silently " +
            "unenforced")
      }
      case dc: TableChange.DropConstraint =>
        val cur = CowTable.checkConstraints(spark, root)
        if (cur.contains(dc.name))
          CowTable.setCheckConstraints(spark, root, cur - dc.name,
            validate = false) // a shrunk set cannot invalidate data
        else require(dc.ifExists,
          s"no constraint ${dc.name} on ${displayName(ident)}")
      case other => throw new UnsupportedOperationException(
        s"cow ALTER TABLE does not support $other: positions other " +
          "than append cannot be honored under carried files; " +
          "properties carry no meaning; CHECK constraints via " +
          "CowTable.setCheckConstraints")
    }
    // keep = MaxValue: a metadata-only ALTER must not shrink history —
    // VERSION AS OF across the ALTER stays servable; retention remains
    // governed by data commits and explicit VACUUM statements.
    // Constraint-only ALTERs leave the schema var untouched (reference
    // equality) and commit no manifest at all.
    if (schema ne m.schema)
      // ownership check, not existence: a false return means a
      // concurrent commit took id m.id+1 first — surfacing it beats
      // returning an unevolved table as if the ALTER had applied
      require(CowTable.evolveSchema(spark, root, m.id + 1, schema,
          keep = Int.MaxValue),
        s"ALTER TABLE ${displayName(ident)} raced a concurrent commit " +
          s"(id ${m.id + 1} was taken) — retry the statement")
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    val existed = tableExists(ident)
    if (existed) {
      // a dropped SHALLOW CLONE releases its source vacuum fence —
      // provenance read BEFORE the root goes, fence released AFTER
      // (a crash between the two leaves an over-retaining orphan
      // fence, which CowTable.fsck at the source reports; the reverse
      // order could let a source vacuum delete files a still-living
      // clone references)
      val prov = CowTable.cloneProvenance(spark, root)
      fs.delete(new Path(root), true)
      CowTable.releaseCloneFence(spark, root, prov)
    }
    existed
  }

  override def renameTable(old: Identifier, next: Identifier): Unit = {
    require(tableExists(old), s"no table ${displayName(old)}")
    require(!tableExists(next), s"table ${displayName(next)} exists")
    val dst = new Path(rootOf(next))
    fs.mkdirs(dst.getParent)
    require(fs.rename(new Path(rootOf(old)), dst),
      s"rename ${displayName(old)} -> ${displayName(next)} failed")
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val dir = new Path(s"$warehouse/${namespace.mkString("/")}")
    fs.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(t => CowTable.committedIds(spark,
        s"$warehouse/${namespace.mkString("/")}/$t").nonEmpty)
      .map(Identifier.of(namespace, _)).toArray
  }

  // ---- namespaces (one level: warehouse subdirectories) ----

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 &&
      fs.exists(new Path(s"$warehouse/${namespace.head}"))

  override def listNamespaces(): Array[Array[String]] = {
    val w = new Path(warehouse)
    if (!fs.exists(w)) Array.empty
    else fs.listStatus(w).toSeq.filter(_.isDirectory)
      .map(s => Array(s.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) Map.empty[String, String].asJava
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(
      namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(namespace.length == 1,
      s"cow namespaces are one level, got ${namespace.mkString(".")}")
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(new Path(s"$warehouse/${namespace.head}"))
  }

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("cow namespaces carry no metadata")

  override def dropNamespace(
      namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) false
    else {
      require(cascade || listTables(namespace).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty")
      fs.delete(new Path(s"$warehouse/${namespace.head}"), true)
    }
  }
}

/** One resolved cow table: the identifier's root plus the snapshot
  * PINNED at load time (snapshot isolation — every reader of this
  * relation sees one commit, like every other CowTable surface).
  * Reads are converted to the V1 [[graft.sinks.CowV2]] relation by
  * [[graft.plans.CowCatalogRule]]; writes go through the V1 write
  * fallback below. `pinned` marks a time-traveled load — read-only.
  *
  * Resolution carries only the snapshot's HEAD metadata
  * ([[CowManifestMeta]] — schema, partitioning, column mapping): at
  * extreme file counts, naming a table in a query must not pull its
  * whole entry list to the driver. Surfaces that genuinely need the
  * listing (writes, DML rewrites, debt-carrying reads) materialize
  * through [[manifest]] — the ordinary memoized parse.
  */
final case class CowNamedTable(
    tableName: String, root: String, meta: CowManifestMeta,
    pinned: Boolean) extends Table with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsRead {

  /** The session that RESOLVED this table, captured at construction
    * (= loadTable time, on the resolving session's thread): lazy
    * materializations below must read the root under THAT session's
    * Hadoop conf/credentials, not whichever session happens to be
    * active when first touched — in a multi-session driver with
    * per-session filesystem configuration those differ (ADVICE r16).
    * Transient with an active-session fallback after deserialization.
    */
  @transient private val resolvedWith: SparkSession = SparkSession.active

  private def session: SparkSession =
    Option(resolvedWith).getOrElse(SparkSession.active)

  /** The pinned snapshot's FULL manifest, materialized on first use
    * (per-JVM memoized; a warm table costs a fingerprint check).
    */
  lazy val manifest: CowManifest =
    CowTable.manifest(session, root, meta.id)

  override def name(): String = tableName

  override def schema(): StructType = meta.schema

  override def partitioning(): Array[Transform] =
    meta.partCols.map(Expressions.identity).toArray

  /** The registered CHECK set, surfaced through the v2 metadata API
    * (DESCRIBE and the analyzer see them). Always enforced + VALID:
    * registration validated the then-current data and every commit
    * since re-validated its writes.
    */
  override def constraints(): Array[Constraint] =
    CowTable.checkConstraints(session, root)
      .toSeq.sortBy(_._1).map { case (n, sql) =>
        Constraint.check(n).predicateSql(sql)
          .enforced(true)
          .validationStatus(Constraint.ValidationStatus.VALID)
          .build()
      }.toArray

  // AUTOMATIC_SCHEMA_EVOLUTION admits `MERGE WITH SCHEMA EVOLUTION`:
  // Spark's own ResolveMergeIntoSchemaEvolution computes the add-only
  // column set from the source and applies it through alterTable —
  // which is METADATA-ONLY here (CowTable.evolveSchema, zero data
  // files rewritten; carried files read the new columns as NULL) —
  // before the merge resolves against the evolved schema.
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** STREAMING reads only — `spark.readStream.table("cow.ns.t")`
    * serves the current snapshot then each commit's added files
    * ([[graft.streaming.CowTableStream]], Delta's table-stream
    * semantics). Batch reads never reach this scan: the analyzer rule
    * swaps named relations onto the planner-integrated `CowFileIndex`
    * path before scan planning.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    require(!pinned,
      s"$tableName was loaded AS OF a version — stream from the live " +
        "table (optionally with startingSnapshot) instead")
    new graft.streaming.CowTableScanBuilder(root, meta.schema,
      meta.colMap, options)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pinned,
      s"$tableName was loaded AS OF a version — time-traveled " +
        "relations are read-only")
    new CowWriteBuilder(root, manifest)
  }
}

object CowNamedTable {
  /** Construction from an already-materialized manifest (specs,
    * programmatic pinning) — metadata derives from it; [[CowNamedTable
    * .manifest]] re-serves it from the memo.
    */
  def apply(tableName: String, root: String, m: CowManifest,
      pinned: Boolean): CowNamedTable =
    CowNamedTable(tableName, root, CowManifestMeta.of(m), pinned)
}

/** A named METADATA table (`cow.ns.t.files` / `cow.ns.t.partitions`,
  * Iceberg's `t$files`/`t$partitions` shape): the manifest listing as
  * a first-class queryable relation. Reads convert in
  * [[graft.plans.CowCatalogRule]] to the LAZY distributed frames
  * ([[CowTable.fileStats]] / [[CowTable.partitionStats]]) — the
  * listing never materializes on the driver; filters and LIMIT push
  * like any relation. Read-only by construction (no SupportsWrite).
  */
final case class CowMetaTable(tableName: String, root: String,
    kind: String, atId: Long, metaSchema: StructType) extends Table
  with org.apache.spark.sql.connector.catalog.SupportsRead {

  override def name(): String = tableName

  override def schema(): StructType = metaSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  /** Unreachable when the graft extensions are registered (the
    * analyzer rule converts the relation first) — fail with the
    * actionable cause rather than a planner internal error.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    throw new UnsupportedOperationException(
      s"$tableName resolves through the graft extensions " +
        "(CowCatalogRule) — register graft.GraftExtensions on the " +
        "session")
}

object CowMetaTable {
  /** The declared schema of one metadata-table kind — must mirror the
    * lazy frames' shapes exactly (the conversion rule re-binds by
    * column name).
    */
  def schemaFor(kind: String, meta: CowManifestMeta): StructType =
    kind match {
      case "files" => StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("partition",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("kind",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_bytes",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("mins",
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)),
        org.apache.spark.sql.types.StructField("maxs",
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)),
        org.apache.spark.sql.types.StructField("null_counts",
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.types.StructField("bloom_cols",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType))))
      case "partitions" => StructType(
        meta.partCols.map(c => org.apache.spark.sql.types.StructField(
          c, org.apache.spark.sql.types.StringType)) ++ Seq(
          org.apache.spark.sql.types.StructField("n_files",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_bytes",
            org.apache.spark.sql.types.LongType)))
      case "history" => StructType(
        Seq("snapshot_id", "data_files", "dv_files", "n_rows", "bytes",
          "files_added", "files_removed")
          .map(c => org.apache.spark.sql.types.StructField(
            c, org.apache.spark.sql.types.LongType,
            nullable = false)))
      case other => throw new IllegalArgumentException(
        s"unknown cow metadata table kind $other")
    }
}

/** The write half of the named surface, via the `V1Write` fallback
  * (the same route Spark's own `AppendDataExecV1` serves every V1
  * file source through): the analyzer has already aligned the query
  * to the table schema when [[InsertableRelation.insert]] receives
  * the DataFrame, and each mode lands as the matching commit —
  * append, full rewrite, or partition-granular replace. The commit id
  * is head+1 at EXECUTION time; the per-id lease plus the
  * committed-check below make racing writers loud, exactly the
  * cow data source's contract.
  */
private final class CowWriteBuilder(root: String, base: CowManifest)
  extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {

  // Append | Truncate | Dynamic | Static(partition filters) |
  // Replace(arbitrary partition predicate — Delta's replaceWhere)
  private var mode: String = "append"
  private var staticFilters: Seq[(String, Any)] = Nil
  private var replaceFilters: Seq[Filter] = Nil

  override def truncate(): WriteBuilder = { mode = "truncate"; this }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = "dynamic"; this
  }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue]))
      return truncate()
    val eqs = filters.toSeq.collect {
      case EqualTo(c, v) if base.partCols.contains(c) => c -> v
      case EqualNullSafe(c, v) if base.partCols.contains(c) => c -> v
    }
    if (eqs.size == filters.length &&
        eqs.map(_._1).toSet == base.partCols.toSet) {
      // the analyzer's static PARTITION (col=value, …) spec naming
      // every partition column: the strict declared-partition path
      mode = "static"; staticFilters = eqs; this
    } else {
      // anything else is replaceWhere: replace exactly the partitions
      // the predicate matches (ranges, IN lists, partial specs) —
      // `writeTo(t).overwrite(pred)` lands here through Spark's
      // filter translation
      mode = "replace"; replaceFilters = filters.toSeq; this
    }
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: Dataset[Row], overwrite: Boolean): Unit =
          run(data.toDF())
      }
  }

  private def run(data: DataFrame): Unit = mode match {
    case "append" => CowWrites.append(data, root, base)
    case "truncate" => CowWrites.truncate(data, root, base)
    case "dynamic" => CowWrites.dynamicOverwrite(data, root, base)
    case "static" => CowWrites.staticOverwrite(data, root, base,
      staticFilters)
    case "replace" => CowWrites.replaceWhere(data, root, base,
      CowWrites.filtersToColumn(replaceFilters))
  }
}

/** Shared execution of the named-catalog write modes — called from the
  * V1 write fallback above (append / truncate / static partition
  * spec) and from [[CowDynamicOverwriteCommand]] (dynamic partition
  * overwrite, which Spark's V1 fallback has no exec for). The commit
  * id is head+1 at EXECUTION time; the per-id lease plus the
  * committed-check make racing writers loud (the cow data source's
  * contract).
  */
private[graft] object CowWrites {

  private def withCommit(data: DataFrame, root: String,
      base: CowManifest)(
      body: (Option[CowManifest], Seq[String], Long) => Boolean): Unit = {
    val spark = data.sparkSession
    val cur = CowTable.currentManifest(spark, root)
    val partCols = cur.map(_.partCols).getOrElse(base.partCols)
    val id = cur.map(_.id).getOrElse(0L) + 1L
    // the commit paths report OWNERSHIP: false means the pre-lease
    // replay guard fired on a CONCURRENT writer's commit of this same
    // id. The previous committedIds.contains(id) check here was
    // satisfied by the other writer's commit too — which silently
    // dropped this INSERT's rows on exactly that interleaving.
    require(body(cur, partCols, id),
      s"INSERT commit $id at $root was superseded by a concurrent " +
        "commit — retry the statement")
  }

  def append(data: DataFrame, root: String, base: CowManifest): Unit = {
    // blind-append conflict rule (Delta's, round-18): an INSERT INTO
    // has no read dependency — the next snapshot is base+adds whoever
    // wins — so a lost id race re-commits the staged batch against the
    // new head (bounded attempts) instead of failing the statement.
    // Read-dependent paths (truncate/overwrite below, MERGE/DELETE/
    // UPDATE) still surface every conflict.
    val cur = CowTable.currentManifest(data.sparkSession, root)
    val partCols = cur.map(_.partCols).getOrElse(base.partCols)
    CowTable.appendWithRetry(data, root, partCols)
    ()
  }

  def truncate(data: DataFrame, root: String, base: CowManifest): Unit =
    withCommit(data, root, base)((_, pc, id) =>
      CowTable.commitFull(data, root, id, pc))

  /** Rewrite ONLY the partitions the query produced — the partition-
    * granular economics the reference's TRUNCATE+INSERT shape cannot
    * express. The touched set derives FROM THE WRITTEN BATCH FILES
    * (`touchedFromWritten`), so the query evaluates exactly once — the
    * batch write itself. The earlier design pinned the whole input
    * with `localCheckpoint` to keep a pre-write `SELECT DISTINCT
    * partCols` consistent with the write: full-input materialization
    * (2× write amplification on the biggest write path) whose blocks
    * die with their executor on a real cluster — the touched set now
    * needs no second evaluation at all, Delta's model.
    */
  def dynamicOverwrite(data: DataFrame, root: String,
      base: CowManifest): Unit =
    withCommit(data, root, base)((cur, pc, id) =>
      CowTable.commitPartitionsFrom(cur, data, Set.empty, root, id, pc,
        touchedFromWritten = true))

  /** V1 `Filter`s → one engine Column — the DSv2 overwrite condition
    * arrives translated; render it back so [[CowTable
    * .partitionsMatching]] can evaluate it over the partition values.
    */
  private[graft] def filtersToColumn(fs: Seq[Filter]): Column = {
    import org.apache.spark.sql.functions.{col, lit}
    def one(f: Filter): Column = f match {
      case EqualTo(a, v) => col(a) === lit(v)
      case EqualNullSafe(a, v) => col(a) <=> lit(v)
      case GreaterThan(a, v) => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v) => col(a) < lit(v)
      case LessThanOrEqual(a, v) => col(a) <= lit(v)
      case In(a, vs) => col(a).isin(vs.toSeq: _*)
      case IsNull(a) => col(a).isNull
      case IsNotNull(a) => col(a).isNotNull
      case Not(c) => !one(c)
      case And(l, r) => one(l) && one(r)
      case Or(l, r) => one(l) || one(r)
      case StringStartsWith(a, v) => col(a).startsWith(v)
      case other => throw new UnsupportedOperationException(
        s"replaceWhere filter $other is not supported — use equality/" +
          "range/IN predicates over partition columns")
    }
    fs.map(one).reduce(_ && _)
  }

  /** Delta's `replaceWhere`: one commit that drops every partition the
    * predicate matches and writes the query's rows in their place —
    * partition-granular (non-matching partitions carry by manifest
    * reference; at 100 TB, restating a date range never rewrites the
    * rest of the table). Contract: the predicate references partition
    * columns only, and EVERY incoming row must satisfy it (rows
    * outside the replaced region would otherwise silently survive the
    * next identical replace — refused loudly, Delta's own rule).
    */
  def replaceWhere(data: DataFrame, root: String, base: CowManifest,
      pred: Column): Unit = {
    withCommit(data, root, base) { (cur, pc, id) =>
      val spark = data.sparkSession
      val m = cur.getOrElse(base)
      val matched = CowTable.partitionsMatching(spark, m, pred)
      CowTable.commitPartitionsFrom(cur, data, matched, root, id, pc,
        touchedFromWritten = true,
        validateWritten = fresh => {
          // every WRITTEN partition's values must satisfy the
          // predicate — partition-level ≡ row-level because the
          // predicate references partition columns only, and
          // NULL-STRICT by construction: a partition whose values
          // evaluate the predicate to NULL is simply not in the
          // matching set, so it counts as outside the region (the
          // same rule the old row-level not(coalesce(pred, false))
          // check enforced)
          val written = fresh
            .map(f => CowTable.partKey(pc, f.part) -> f.part).toMap
          val ok = CowTable.partitionValuesMatching(spark, m.schema,
            pc, written.toSeq, pred)
          val outside = written.keySet -- ok
          require(outside.isEmpty,
            s"replaceWhere: the query produced rows OUTSIDE the " +
              s"replaced region ($pred) — constrain the query or " +
              "widen the predicate (offending partition values: " +
              s"${outside.map(written(_)).mkString(", ")})")
        })
    }
  }

  /** Replace exactly the partitions a static `PARTITION (col=value)`
    * spec names with the query's rows; the analyzer already stamped
    * the static values onto every row, so the WRITTEN files' own
    * partition values must agree (validated post-write — the touched
    * set derives from the written batch, see [[dynamicOverwrite]]).
    */
  def staticOverwrite(data: DataFrame, root: String, base: CowManifest,
      staticFilters: Seq[(String, Any)]): Unit = {
    withCommit(data, root, base) { (cur, pc, id) =>
      val named = staticFilters.map { case (c, v) =>
        c -> Option(v).map(_.toString).orNull }.toMap
      val declared = CowTable.partKey(pc,
        pc.map(c => c -> named.getOrElse(c, null)).toMap)
      require(staticFilters.map(_._1).toSet == pc.toSet,
        s"static overwrite must name every partition column " +
          s"(got ${staticFilters.map(_._1)}, table partitions $pc)")
      CowTable.commitPartitionsFrom(cur, data, Set(declared), root, id,
        pc, touchedFromWritten = true,
        validateWritten = fresh => {
          val written = fresh.map(f => CowTable.partKey(pc, f.part)).toSet
          require(written.forall(_ == declared),
            s"static overwrite: the query's rows must land in the " +
              s"declared partition (got $written, declared $declared)")
        })
    }
  }
}

/** `INSERT OVERWRITE` in DYNAMIC partition-overwrite mode against a
  * named cow table. Spark's V1 write fallback covers append and
  * filter-overwrite but has no exec for `OverwritePartitionsDynamic`,
  * so [[graft.plans.CowCatalogRule]] swaps that command for this one
  * once the analyzer has aligned the query to the table schema — the
  * same command-with-inner-query pattern as Spark's own
  * `InsertIntoDataSourceCommand`. Execution is the partition-granular
  * [[CowWrites.dynamicOverwrite]].
  */
final case class CowDynamicOverwriteCommand(
    root: String, base: CowManifest,
    query: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  extends org.apache.spark.sql.execution.command.LeafRunnableCommand {

  override def innerChildren
      : Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] = Seq(query)

  override def run(session: SparkSession): Seq[Row] = {
    CowWrites.dynamicOverwrite(
      org.apache.spark.sql.graftbridge.Bridge.ofRows(session, query),
      root, base)
    Nil
  }
}
