package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StructType}

import graft.sinks.CowSql

/** DML and maintenance over cow tables as FIRST-CLASS `spark.sql`
  * statements — a delegating [[ParserInterface]] (injected via
  * `SparkSessionExtensions.injectParser`, the same seam Delta's
  * `DeltaSqlParser` uses) that recognizes two statement shapes and
  * hands everything else to the stock parser untouched:
  *
  *  - `UPDATE` / `DELETE FROM` / `MERGE INTO` whose TARGET is a cow
  *    reference (`` cow.`/path` `` or `cow.<ns>.<table>`): Spark's own
  *    grammar parses them but no executor exists for v1 relations, so
  *    the parsed statement routes to [[graft.sinks.CowSql]]'s
  *    interpreter as a runnable command with the commit id allocated
  *    at EXECUTION time (head+1, like the catalog's INSERT path).
  *  - `OPTIMIZE … ZORDER BY (…)` / `VACUUM … RETAIN n SNAPSHOTS|HOURS`
  *    / `RESTORE … TO SNAPSHOT n` over a cow reference — statements
  *    Spark's grammar does not have at all (Delta's surface syntax);
  *    a non-cow text still falls through so the stock parser raises
  *    its own ParseException.
  *
  * With this in place the reference's SQL-file runner style
  * (utilities.py's executor over the jobs/semantic SQL files) covers the table
  * format end to end through ONE entry point — `spark.sql(text)` —
  * with no CowSql.exec calls and no commit-id bookkeeping in user
  * code:
  *
  * {{{
  * spark.sql("UPDATE cow.curated.orders SET flag = 'x' WHERE id = 42")
  * spark.sql("DELETE FROM cow.curated.orders WHERE ts < DATE'2020-01-01'")
  * spark.sql("MERGE INTO cow.curated.dim AS t USING updates AS s ON …")
  * spark.sql("OPTIMIZE cow.curated.orders ZORDER BY (id)")
  * }}}
  *
  * UPDATE / DELETE economics route per session conf
  * `spark.graft.cow.dml.mode` = `cow` | `mor` | `auto` (default
  * `auto`: merge-on-read deletion vectors once the manifest's live
  * bytes exceed `spark.graft.cow.dml.morThresholdBytes`, copy-on-write
  * rewrites below it — both property-proven result-identical in
  * `PropertyDmlSpec`); `spark.graft.cow.dml.keep` caps retained
  * snapshots per DML commit (default 2).
  */
class CowSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  private def route(sqlText: String): Option[LogicalPlan] =
    if (CowSql.isMaintenance(session, sqlText))
      Some(CowStatementCommand(sqlText))
    // DESCRIBE HISTORY / SHOW PARTITIONS / DESCRIBE FILES route to
    // LAZY metadata frames (round-17): the listings stay distributed —
    // per-snapshot totals and path diffs (history), the distinct
    // hive-escaped partition strings, and the file listing compute
    // inside the engine; the driver holds only what the caller's
    // action pulls, and composed LIMIT/filters push like any relation
    // (the old collect-into-commands held O(table-files) driver rows).
    // The parser only NAMES the reference ([[CowMetaStatement]]) —
    // warehouse lookup, head pin and frame construction happen in the
    // analyzer, the same timing as any table reference, so a dry-run
    // parse does no table I/O and throws no table-state errors.
    else CowSql.describeHistoryRef(session, sqlText)
      .map(r =>
        CowMetaStatement("history", r._1, r._2, r._3, r._4): LogicalPlan)
      .orElse(CowSql.describeDetailRef(session, sqlText)
        .map(r => CowDescribeDetailCommand(r._1, r._2, r._3, r._4)))
      .orElse(CowSql.showPartitionsRef(session, sqlText)
        .map(r => CowMetaStatement("show_partitions",
          r._1, r._2, r._3, r._4)))
      .orElse(CowSql.fsckRef(session, sqlText)
        .map(r => CowFsckCommand(r._1, r._2, r._3, r._4)))
      .orElse(CowSql.describeFilesRef(session, sqlText)
        .map(r => CowMetaStatement("files", r._1, r._2, r._3, r._4)))

  private def routed(sqlText: String, parsed: => LogicalPlan,
      hasParams: Boolean = false): LogicalPlan =
    route(sqlText).getOrElse {
      val plan = parsed
      if (CowSql.parserRoutes(session, plan)) {
        // the routed command re-parses the TEXT at execution — bind
        // markers would reach the interpreter unbound, or (when the
        // delegate wraps the DML for later analyzer binding) miss the
        // route entirely and die on the analyzer's unsupported-v2-DML
        // error. Refuse up front with the actionable message instead.
        if (hasParams) throw new UnsupportedOperationException(
          "parameterized SQL against a cow table is not supported for " +
            "UPDATE/DELETE/MERGE — inline the values into the " +
            "statement text, or use the CowTable DataFrame DML API")
        CowStatementCommand(sqlText)
      } else plan
    }

  override def parsePlan(sqlText: String): LogicalPlan =
    routed(sqlText, delegate.parsePlan(sqlText))

  override def parsePlanWithParameters(
      sqlText: String, context: ParameterContext): LogicalPlan = {
    import org.apache.spark.sql.catalyst.parser.{HybridParameterContext,
      NamedParameterContext, PositionalParameterContext}
    val hasParams = context match {
      case NamedParameterContext(m) => m.nonEmpty
      case PositionalParameterContext(ps) => ps.nonEmpty
      case HybridParameterContext(ps, ns) => ps.nonEmpty || ns.nonEmpty
      case _ => true // unknown carrier — refuse rather than drop bindings
    }
    routed(sqlText, delegate.parsePlanWithParameters(sqlText, context),
      hasParams)
  }

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)

  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)

  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)

  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)

  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)

  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)

  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

/** One routed cow statement, held as TEXT until execution (the
  * interpreter re-parses with its own stock parser — the statement
  * never re-enters the session parser, and nothing unresolved hangs
  * off this node for the analyzer to trip on). Commit id, COW-vs-MOR
  * routing and retention come from [[graft.sinks.CowSql.execAuto]] +
  * the session confs documented on [[CowSqlParser]].
  */
/** `DESCRIBE DETAIL cow.<ref>` — Delta's one-row table-detail
  * statement, answered from the CURRENT manifest and the catalog
  * sidecars alone (no data file opens): format, location, head
  * snapshot, partitioning, file/row/byte totals, outstanding
  * merge-on-read debt, retained history and registered CHECK
  * constraints.
  */
final case class CowDescribeDetailCommand(
    cat: String, path: String, ns: String,
    table: String) extends LeafRunnableCommand {

  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.{LongType, StringType}

  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("format", StringType, nullable = false)(),
      AttributeReference("location", StringType, nullable = false)(),
      AttributeReference("snapshot_id", LongType, nullable = false)(),
      AttributeReference("partition_columns", StringType,
        nullable = false)(),
      AttributeReference("num_data_files", LongType, nullable = false)(),
      AttributeReference("num_dv_files", LongType, nullable = false)(),
      AttributeReference("data_file_rows", LongType, nullable = false)(),
      AttributeReference("size_bytes", LongType, nullable = false)(),
      AttributeReference("retained_snapshots", LongType,
        nullable = false)(),
      AttributeReference("check_constraints", LongType,
        nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    import graft.sinks.CowTable
    val root = CowSql.refRoot(session, cat, path, ns, table)
    val ids = CowTable.committedIds(session, root)
    val head = ids.lastOption.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val meta = CowTable.manifestMeta(session, root, head)
    // HEAD-ONLY when the commit carried totals (round-17): the one-row
    // health probe then never materializes the data entry list. Debt
    // is counted from the sidecar slice, whose decode refuses any
    // entry that is not a deletion vector. Pre-r17 manifests fall back
    // to the memoized full parse.
    val (dataFiles, nRows, nBytes, dvs) =
      (meta.totalFiles, meta.totalRows, meta.totalBytes,
          meta.nondataFiles) match {
        case (Some(f), Some(r), Some(b), Some(0L)) => (f, r, b, 0L)
        case (Some(f), Some(r), Some(b), Some(_)) =>
          (f, r, b,
            CowTable.snapshotSidecars(session, root, head).size.toLong)
        case _ =>
          val m = CowTable.manifest(session, root, head)
          (m.files.size.toLong, m.files.map(_.rows).sum,
            m.files.map(_.bytes).sum, m.dvs.size.toLong)
      }
    Seq(Row("cow", root, head, meta.partCols.mkString(","),
      dataFiles, dvs, nRows, nBytes, ids.size.toLong,
      CowTable.checkConstraints(session, root).size.toLong))
  }
}

/** `FSCK cow.<ref>` — the table-invariant check
  * ([[graft.sinks.CowTable.fsck]]) as ONE report row: referenced
  * files missing from disk, unreferenced on-disk orphans (candidates
  * for a crashed write's sweep), staged WAP snapshots, and orphaned
  * clone fences. `clean = true` means every invariant holds; the
  * list columns carry the offending paths/ids for triage. Read-only —
  * FSCK never repairs (vacuum owns reclamation; missing files need a
  * human).
  */
final case class CowFsckCommand(
    cat: String, path: String, ns: String,
    table: String) extends LeafRunnableCommand {

  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.{ArrayType, BooleanType, LongType,
    StringType}

  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(AttributeReference("clean", BooleanType, nullable = false)(),
      AttributeReference("missing_files", ArrayType(StringType),
        nullable = false)(),
      AttributeReference("orphan_files", ArrayType(StringType),
        nullable = false)(),
      AttributeReference("staged_snapshots", ArrayType(LongType),
        nullable = false)(),
      AttributeReference("orphan_clone_fences", ArrayType(StringType),
        nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val root = CowSql.refRoot(session, cat, path, ns, table)
    val r = graft.sinks.CowTable.fsck(session, root)
    Seq(Row(r.clean, r.missing, r.orphans, r.staged, r.orphanFences))
  }
}

/** An UNRESOLVED metadata statement (`DESCRIBE HISTORY` / `DESCRIBE
  * FILES` / `SHOW PARTITIONS`): the parser only names the reference;
  * resolution — warehouse lookup under the session's CURRENT catalog
  * conf, head pin, lazy frame construction — happens in the ANALYZER
  * ([[CowCatalogRule]]), the same timing as any table reference.
  */
final case class CowMetaStatement(kind: String, cat: String,
    path: String, ns: String, table: String)
  extends org.apache.spark.sql.catalyst.plans.logical.LeafNode {
  override def output
      : Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  override lazy val resolved: Boolean = false
}

final case class CowStatementCommand(sqlText: String)
    extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    // one parse of the routing confs for every DML surface — the
    // bound-subquery commands read the same trio, so a default change
    // can never route textual and bound DML differently
    val (mode, keep, thr) = CowBoundDml.dmlConf(session)
    CowSql.execAuto(session, sqlText, keep = keep, mode = mode,
      morThresholdBytes = thr)
    Nil
  }
}
