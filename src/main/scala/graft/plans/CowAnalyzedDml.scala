package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet,
  Expression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteAction,
  DeleteFromTable, InsertAction, InsertStarAction, LogicalPlan,
  MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction,
  UpdateTable}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.catalog.CowNamedTable

/** ANALYZER-RESOLVED DML over NAMED cow tables (round-13 verdict #3):
  * `UPDATE` / `DELETE FROM` / `MERGE INTO cow.<ns>.<t>` now flow
  * through Spark's OWN analyzer — the catalog resolves the target, the
  * analyzer resolves every condition, SET assignment and MERGE action
  * against the real schemas (a misspelled column fails ANALYSIS with
  * Spark's `UNRESOLVED_COLUMN` error and its did-you-mean suggestions,
  * before any engine code runs), and only then does
  * [[CowCatalogRule]] convert the RESOLVED statement into a runnable
  * command.
  *
  * ARCHITECTURE NOTE — why the analyzer-rule seam and not
  * `SupportsRowLevelOperations`: the V2 row-level rewrite
  * (`RewriteDeleteFromTable` → `ReplaceData`/`WriteDelta`) runs in the
  * OPTIMIZER over a scan the operation itself must provide, which
  * would force this engine to ship a second, V2 read path — bypassing
  * [[graft.sinks.CowFileIndex]]'s manifest pruning and the
  * positional-DV scan masks that make cow reads
  * correct and cheap — plus executor-side V2 file writers duplicating
  * the commit protocol. Delta chose the same seam for the same reason:
  * its DML is analyzer rules producing commands over its own
  * transactional writers, not `SupportsRowLevelOperations`. The
  * conversion DE-RESOLVES the analyzed expressions to SQL text (the
  * proven round-trip the textual engine executes), so execution lands
  * on the identical partition-granular / deletion-vector primitives —
  * with conf-routed COW/MOR economics — as every other DML surface.
  *
  * A side profit: PARAMETERIZED named DML (`spark.sql(sql, args)`)
  * now works — the analyzer binds the markers to literals before the
  * conversion renders them (the path form still refuses, having no
  * analyzer pass to bind in).
  */
private[plans] object CowAnalyzedDml {

  /** The cow root of a RESOLVED DML target, when it is one. */
  def namedTarget(plan: LogicalPlan): Option[CowNamedTable] = plan match {
    case SubqueryAlias(_, child) => namedTarget(child)
    case r: DataSourceV2Relation => r.table match {
      case t: CowNamedTable => Some(t)
      case _ => None
    }
    case _ => None
  }

  private def targetAttrs(plan: LogicalPlan): AttributeSet =
    AttributeSet(plan.output)

  /** De-resolve an analyzed expression back to parseable SQL text:
    * resolved attributes become bare (or `t.`/`s.`-qualified) names,
    * everything else renders through `Expression.sql` — the same
    * round-trip the textual interpreter already executes.
    */
  private def textOf(e: Expression, tgt: AttributeSet,
      src: AttributeSet = AttributeSet.empty): String =
    e.transform {
      case a: Attribute if src.contains(a) =>
        UnresolvedAttribute(Seq("s", a.name))
      case a: Attribute if tgt.contains(a) =>
        if (src.isEmpty) UnresolvedAttribute(Seq(a.name))
        else UnresolvedAttribute(Seq("t", a.name))
    }.sql

  /** Resolved subqueries do not round-trip through `Expression.sql`,
    * so every position that takes them carries them ANALYZED instead:
    * DELETE/UPDATE conditions and UPDATE SET values on
    * [[CowBoundDeleteCommand]]/[[CowBoundUpdateCommand]], MERGE
    * WHEN-clause conditions and SET/VALUES assignment values on
    * [[CowBoundMergeCommand]]. The ONE refusing position is MERGE ON
    * — by design, not as a gap (a subquery there would change
    * matchedness per pair; see [[graft.sinks.CowSql.refuseSubqueries]]).
    */
  private def noSubqueries(es: Seq[Expression], what: String): Unit =
    graft.sinks.CowSql.refuseSubqueries(es, what)

  private def nameOf(key: Expression): String = key match {
    case a: Attribute => a.name
    case u: UnresolvedAttribute => u.nameParts.last
    case other => throw new IllegalArgumentException(
      s"SET target must be a column, got $other")
  }

  /** Render a SET/INSERT column name as a re-parseable identifier:
    * embedded backticks double (Spark's own quoting rule) — a raw
    * s"`$name`" wrap would emit unparseable or WRONG text for a column
    * whose name contains a backtick.
    */
  private def quoted(key: Expression): String =
    org.apache.spark.sql.catalyst.util.QuotingUtils
      .quoteIdentifier(nameOf(key))

  /** Render a RESOLVED DELETE as the path-form statement the textual
    * engine executes (commit id allocation, COW/MOR conf routing and
    * the ownership check all ride along).
    */
  def convertDelete(d: DeleteFromTable, t: CowNamedTable): LogicalPlan = {
    // a condition carrying subqueries travels ANALYZED — plans and
    // all — and binds per scan frame at execution (CowBoundDml)
    if (CowBoundDml.hasSubquery(Seq(d.condition)))
      return CowBoundDeleteCommand(t.root,
        new BoundDmlCond(d.condition, d.table.output))
    val tgt = targetAttrs(d.table)
    val cond = d.condition match {
      case org.apache.spark.sql.catalyst.expressions.Literal(true, _) =>
        "true"
      case c => textOf(c, tgt)
    }
    CowStatementCommand(s"DELETE FROM cow.`${t.root}` WHERE $cond")
  }

  /** Alignment artifacts out: the analyzer may rewrite the SET list to
    * assign EVERY column, padding unassigned ones with identity
    * assignments (`c = c`) — semantically "leave untouched", which is
    * exactly what the engine's UPDATE does for unlisted columns (and an
    * identity on a partition column must not trip the no-partition-SET
    * rule).
    */
  private def real(as: Seq[org.apache.spark.sql.catalyst.plans.logical
      .Assignment], t: CowNamedTable): Seq[org.apache.spark.sql.catalyst
      .plans.logical.Assignment] = {
    val kept = as.filterNot(a => a.value.semanticEquals(a.key))
    if (kept.nonEmpty || as.isEmpty) kept
    else {
      // the USER-WRITTEN list was all identities (`SET v = v`) — a
      // valid, semantically no-op rewrite the textual engine executes;
      // filtering it to nothing would fail a legal statement (or
      // render an unparseable empty SET in MERGE). Keep one identity
      // on a NON-partition column so the no-partition-SET rule stays
      // untripped and the rendered text round-trips.
      val pc = t.meta.partCols.toSet
      as.find(a => !pc.contains(nameOf(a.key))).map(Seq(_)).getOrElse(
        throw new IllegalArgumentException(
          "UPDATE SET on partition columns only is not supported on " +
            "cow tables — partition values are immutable per row; " +
            "DELETE + INSERT instead"))
    }
  }

  def convertUpdate(u: UpdateTable, t: CowNamedTable): LogicalPlan = {
    val tgt = targetAttrs(u.table)
    val kept = real(u.assignments, t)
    require(kept.nonEmpty, "UPDATE needs at least one SET assignment")
    if (CowBoundDml.hasSubquery(
        u.condition.toSeq ++ u.assignments.map(_.value))) {
      // subqueries anywhere: condition AND set values travel ANALYZED
      // — plans included — and bind per scan frame at execution
      // (CowBoundDml.bind handles plain expressions identically, so
      // one carried form serves both). A scalar-subquery SET value
      // returning more than one row fails with Spark's own runtime
      // error; the engine's checkedAssignments type gate applies to
      // bound values exactly as to textual ones.
      val boundSets = kept.map(a =>
        nameOf(a.key) -> new BoundDmlCond(a.value, u.table.output))
      return CowBoundUpdateCommand(t.root, boundSets,
        u.condition.map(new BoundDmlCond(_, u.table.output)))
    }
    val sets = kept.map(a =>
      s"${quoted(a.key)} = ${textOf(a.value, tgt)}").mkString(", ")
    val cond = u.condition.map(textOf(_, tgt)).getOrElse("true")
    CowStatementCommand(
      s"UPDATE cow.`${t.root}` SET $sets WHERE $cond")
  }

  def convertMerge(m: MergeIntoTable, t: CowNamedTable): LogicalPlan = {
    // MERGE WITH SCHEMA EVOLUTION: by the time the statement is
    // resolved, Spark's ResolveMergeIntoSchemaEvolution has already
    // applied the add-only changes through CowCatalog.alterTable
    // (metadata-only — the AUTOMATIC_SCHEMA_EVOLUTION capability
    // admits it), so `t` here is the EVOLVED relation and the merge
    // renders against the new schema. Stated plainly: the evolution
    // commits DURING ANALYSIS — Spark's own DSv2 design, not Delta's
    // in-transaction form — so an EXPLAIN of the statement, or a merge
    // that later fails, leaves the (benign, add-only, NULL-reading)
    // column in place. The evolution is idempotent: re-analysis
    // against the evolved schema computes no further changes. A
    // still-outstanding evolution at conversion would silently drop
    // the source's new columns — refuse that loudly (it means the
    // analyzer rule did not run).
    require(!m.needSchemaEvolution,
      "MERGE WITH SCHEMA EVOLUTION: the schema changes were not " +
        "applied during analysis — ALTER TABLE first, then MERGE")
    // ON with a subquery would change MATCHEDNESS per pair — a failed
    // residual must fan one joined row into a not-matched insert AND
    // a by-source action, and a source key matching several target
    // rows must insert at most once — semantics this engine's
    // one-row-per-pair merge does not express; refuse with the remedy.
    // CLAUSE CONDITIONS (the WHEN … AND <cond> guards) and SET/VALUES
    // assignment values take subqueries: a guard gates the action of
    // an already-decided pair (bound boolean column over the merge's
    // own join), a value computes within one ([[CowBoundMergeCommand]])
    // — both carry ANALYZED.
    noSubqueries(Seq(m.mergeCondition), "MERGE ON condition")
    val tgt = targetAttrs(m.targetTable)
    val src = targetAttrs(m.sourceTable)
    def txt(e: Expression): String = textOf(e, tgt, src)
    val clauseConds = (m.matchedActions ++ m.notMatchedActions ++
      m.notMatchedBySourceActions).flatMap(_.condition)
    val actionValues = (m.matchedActions ++ m.notMatchedActions ++
      m.notMatchedBySourceActions).flatMap {
        case UpdateAction(_, as, _) => as.map(_.value)
        case InsertAction(_, as) => as.map(_.value)
        case _ => Nil
      }
    if (CowBoundDml.hasSubquery(clauseConds ++ actionValues))
      return convertBoundMerge(m, t)
    def cond(c: Option[Expression]): String =
      c.map(x => s" AND ${txt(x)}").getOrElse("")
    def assigns(as: Seq[org.apache.spark.sql.catalyst.plans.logical
        .Assignment]): String =
      as.map(a => s"${quoted(a.key)} = ${txt(a.value)}").mkString(", ")
    val matched = m.matchedActions.map {
      case DeleteAction(c) => s"WHEN MATCHED${cond(c)} THEN DELETE"
      case UpdateAction(c, as, _) =>
        s"WHEN MATCHED${cond(c)} THEN UPDATE SET ${assigns(real(as, t))}"
      case UpdateStarAction(c) =>
        s"WHEN MATCHED${cond(c)} THEN UPDATE SET *"
      case other => throw new IllegalArgumentException(
        s"unsupported MATCHED action $other")
    }
    val notMatched = m.notMatchedActions.map {
      case InsertAction(c, as) =>
        val cols = as.map(a => quoted(a.key)).mkString(", ")
        val vals = as.map(a => txt(a.value)).mkString(", ")
        s"WHEN NOT MATCHED${cond(c)} THEN INSERT ($cols) VALUES ($vals)"
      case InsertStarAction(c) =>
        s"WHEN NOT MATCHED${cond(c)} THEN INSERT *"
      case other => throw new IllegalArgumentException(
        s"unsupported NOT MATCHED action $other")
    }
    val bySource = m.notMatchedBySourceActions.map {
      case DeleteAction(c) =>
        s"WHEN NOT MATCHED BY SOURCE${cond(c)} THEN DELETE"
      case UpdateAction(c, as, _) =>
        s"WHEN NOT MATCHED BY SOURCE${cond(c)} THEN UPDATE SET " +
          assigns(real(as, t))
      case other => throw new IllegalArgumentException(
        s"unsupported NOT MATCHED BY SOURCE action $other")
    }
    // the scratch view NAME is chosen here and rendered directly into
    // the statement text — never a placeholder substituted at run time,
    // which would also rewrite the placeholder string inside user
    // literals in rendered conditions/values (silently corrupting the
    // executed statement)
    val srcView = "graft_merge_src_" + java.util.UUID.randomUUID()
      .toString.replace("-", "")
    CowAnalyzedMergeCommand(t.root,
      s"MERGE INTO cow.`${t.root}` AS t USING $srcView AS s " +
        s"ON ${txt(m.mergeCondition)} " +
        (matched ++ notMatched ++ bySource).mkString(" "),
      srcView, m.sourceTable)
  }

  /** The bound-merge conversion (round-15): WHEN-clause conditions
    * carrying subqueries travel ANALYZED on [[CowBoundMergeCommand]];
    * everything else (keys, values, star expansion) resolves here at
    * conversion exactly as the textual engine would.
    */
  private def convertBoundMerge(
      m: MergeIntoTable, t: CowNamedTable): LogicalPlan = {
    import graft.operators._
    val tgtOut = m.targetTable.output
    val srcOut = m.sourceTable.output
    val tgtSet = AttributeSet(tgtOut)
    val srcSet = AttributeSet(srcOut)
    def txt(e: Expression): String = textOf(e, tgtSet, srcSet)
    val keys = CowBoundDml.conjuncts(m.mergeCondition).map {
      // EXACT name equality, matching the textual path's rule — a
      // case-mismatched pair would pass here and then fail inside the
      // merge's case-sensitive source-column check with a misleading
      // error, diverging from the non-subquery path's clear refusal
      case org.apache.spark.sql.catalyst.expressions
          .EqualTo(a: Attribute, b: Attribute)
          if a.name == b.name &&
            ((tgtSet.contains(a) && srcSet.contains(b)) ||
              (tgtSet.contains(b) && srcSet.contains(a))) =>
        a.name
      case other => throw new IllegalArgumentException(
        s"ON clause must be a conjunction of t.k = s.k equalities; " +
          s"got ${other.sql}")
    }
    def condPair(c: Option[Expression])
        : (Option[String], Option[BoundMergeCond]) = c match {
      case Some(x) if CowBoundDml.hasSubquery(Seq(x)) =>
        (None, Some(new BoundMergeCond(x, tgtOut, srcOut)))
      case other => (other.map(txt), None)
    }
    // star expansion replicated from the textual engine: every
    // non-partition target column assigned from the source by name
    lazy val starSet: Map[String, String] = {
      val starCols = t.meta.schema.fieldNames.toSeq
        .filterNot(t.meta.partCols.contains)
      val srcNames = srcOut.map(_.name)
      val missing = starCols.filterNot(srcNames.contains)
      require(missing.isEmpty,
        s"UPDATE SET *: source is missing target column(s) " +
          missing.mkString(", "))
      starCols.map(c => c -> s"s.`$c`").toMap
    }
    // assignment values carrying subqueries travel ANALYZED (the same
    // BoundMergeCond carrier as clause guards — an expression resolved
    // against both relations' outputs, bound to the flat join frame at
    // execution); plain values render as text exactly as before. ONE
    // splitter serves both positions — SET callers pre-filter identity
    // assignments through real(), INSERT callers pass the list whole.
    type BV = Map[String, BoundMergeCond]
    def splitVals(as: Seq[org.apache.spark.sql.catalyst.plans.logical
        .Assignment]): (Map[String, String], BV) = {
      val (subq, plain) = as
        .partition(a => CowBoundDml.hasSubquery(Seq(a.value)))
      (plain.map(a => nameOf(a.key) -> txt(a.value)).toMap,
        subq.map(a => nameOf(a.key) ->
          new BoundMergeCond(a.value, tgtOut, srcOut)).toMap)
    }
    def sets(as: Seq[org.apache.spark.sql.catalyst.plans.logical
        .Assignment]): (Map[String, String], BV) = splitVals(real(as, t))
    val pairs: Seq[(MergeClause, Option[BoundMergeCond], BV)] =
      m.matchedActions.map {
        case DeleteAction(c) =>
          val (tc, bc) = condPair(c)
          (MatchedDelete(tc), bc, Map.empty: BV)
        case UpdateAction(c, as, _) =>
          val (tc, bc) = condPair(c)
          val (txtSets, bv) = sets(as)
          (MatchedUpdate(txtSets, tc), bc, bv)
        case UpdateStarAction(c) =>
          val (tc, bc) = condPair(c)
          (MatchedUpdate(starSet, tc), bc, Map.empty: BV)
        case other => throw new IllegalArgumentException(
          s"unsupported MATCHED action $other")
      } ++ m.notMatchedActions.map {
        case InsertAction(c, as) =>
          val (tc, bc) = condPair(c)
          val (txtVals, bv) = splitVals(as)
          (NotMatchedInsert(txtVals, tc), bc, bv)
        case InsertStarAction(c) =>
          val (tc, bc) = condPair(c)
          (NotMatchedInsert(Map.empty, tc), bc, Map.empty: BV)
        case other => throw new IllegalArgumentException(
          s"unsupported NOT MATCHED action $other")
      } ++ m.notMatchedBySourceActions.map {
        case DeleteAction(c) =>
          val (tc, bc) = condPair(c)
          (NotMatchedBySourceDelete(tc), bc, Map.empty: BV)
        case UpdateAction(c, as, _) =>
          val (tc, bc) = condPair(c)
          val (txtSets, bv) = sets(as)
          (NotMatchedBySourceUpdate(txtSets, tc), bc, bv)
        case other => throw new IllegalArgumentException(
          s"unsupported NOT MATCHED BY SOURCE action $other")
      }
    CowBoundMergeCommand(t.root, keys, pairs.map(_._1),
      pairs.map(_._2), m.sourceTable, pairs.map(_._3))
  }
}

/** The MERGE command: the analyzed SOURCE plan travels as an inner
  * child (arbitrary queries, not just named views); execution
  * registers it under the scratch temp-view name the conversion
  * already rendered into `statement`, and hands the text to the same
  * conf-routed executor every cow statement uses.
  */
final case class CowAnalyzedMergeCommand(
    root: String, statement: String, srcView: String,
    sourcePlan: LogicalPlan)
  extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(sourcePlan)

  override def run(session: SparkSession): Seq[Row] = {
    org.apache.spark.sql.graftbridge.Bridge.ofRows(session, sourcePlan)
      .createOrReplaceTempView(srcView)
    try CowStatementCommand(statement).run(session)
    finally session.catalog.dropTempView(srcView)
  }
}
