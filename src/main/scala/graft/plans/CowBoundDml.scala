package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, Expression, OuterReference, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.expr

import graft.sinks.{CowSql, CowTable}

/** SUBQUERY conditions in analyzer-resolved DML (round-13 verdict #2):
  * `DELETE FROM cow.<ns>.<t> WHERE k IN (SELECT …)` / `EXISTS (…)` /
  * `NOT IN` and the `UPDATE … WHERE <subquery>` forms execute instead
  * of refusing. The analyzed condition — subquery PLANS included —
  * travels on the command (the same carried-plan pattern as
  * [[CowAnalyzedMergeCommand]]'s source), and execution binds it to
  * each scan frame the DML primitives build by substituting the
  * resolved target attributes with the frame's own (by name, exprId
  * mappings applied through subquery outer references too). Spark's
  * optimizer then rewrites the predicate into the ordinary semi/anti/
  * existence joins — feeding the SAME partition-granular (COW) or
  * positional-deletion-vector (MOR) primitives as every other DML —
  * so NULL semantics (`NOT IN` with a NULL-bearing subquery matches
  * nothing; a NULL-evaluating condition row is NOT matched) come from
  * Spark's own null-aware anti join, not a re-implementation.
  *
  * The conditions' subquery plans were analyzed WITH the session's
  * extensions, so an inner read of a named cow table already plans
  * through `CowFileIndex` (manifest pruning and MOR debt resolution
  * included) and sees the PRE-statement snapshot — the SQL-standard
  * evaluation order for self-referential DML.
  */
private[graft] object CowBoundDml {

  /** Does the expression (or any nested plan) carry a subquery? */
  def hasSubquery(es: Seq[Expression]): Boolean =
    es.exists(_.exists(_.isInstanceOf[SubqueryExpression]))

  /** Top-level AND-conjuncts of an expression — the one shared
    * flattener (merge-key extraction, scan-prune classification).
    */
  def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** Bind `cond` (analyzed against `oldOutput`) to `df`'s own
    * attributes: every target attribute — bare in the condition or
    * wrapped in an `OuterReference` inside a subquery plan — is
    * substituted with `df`'s same-named attribute, so the resulting
    * Column is fully resolved against the frame that will filter on
    * it. Recurses through nested subquery plans.
    */
  def bind(cond: Expression, oldOutput: Seq[Attribute])(
      df: DataFrame): Column =
    bindTo(cond, df, oldOutput.map(o => o -> o.name))

  /** [[bind]] for MERGE positions: the expression was analyzed against
    * BOTH relations' outputs, and the execution frame is the flat
    * prefixed join ([[graft.operators.MergeInto]]'s bound
    * construction) — target attributes rebind to `__t_<name>`, source
    * attributes to `__s_<name>`.
    */
  def bindMerge(cond: Expression, tgtOut: Seq[Attribute],
      srcOut: Seq[Attribute])(df: DataFrame): Column =
    bindTo(cond, df,
      tgtOut.map(o => o -> s"__t_${o.name}") ++
        srcOut.map(o => o -> s"__s_${o.name}"))

  /** Substitute each old attribute — bare in the expression or wrapped
    * in an `OuterReference` inside a subquery plan — with `df`'s
    * same-named (per the pairs' target names) attribute, recursing
    * through nested subquery plans.
    */
  private def bindTo(cond: Expression, df: DataFrame,
      pairs: Seq[(Attribute, String)]): Column = {
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    val newOut = df.queryExecution.analyzed.output
    val mapping: Map[Long, AttributeReference] = pairs.map {
      case (o, name) =>
        val n = newOut.find(a => resolver(a.name, name)).getOrElse(
          throw new IllegalStateException(
            s"DML condition column $name is missing from the scan " +
              s"frame (${newOut.map(_.name).mkString(", ")})"))
        o.exprId.id -> n.asInstanceOf[AttributeReference]
    }.toMap
    def rebaseExpr(e: Expression): Expression = e.transformUp {
      case a: AttributeReference if mapping.contains(a.exprId.id) =>
        mapping(a.exprId.id)
      case s: SubqueryExpression => s.withNewPlan(rebasePlan(s.plan))
    }
    // inside subquery plans only OUTER references re-point (the plan's
    // own attributes keep their ids); nested subqueries recurse
    def rebasePlan(p: LogicalPlan): LogicalPlan = p.transformUp {
      case node => node.transformExpressionsUp {
        case OuterReference(a: AttributeReference)
            if mapping.contains(a.exprId.id) =>
          OuterReference(mapping(a.exprId.id))
        case s: SubqueryExpression => s.withNewPlan(rebasePlan(s.plan))
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.column(rebaseExpr(cond))
  }

  /** The session's DML routing confs — the same trio
    * [[CowStatementCommand]] reads for the textual path.
    */
  def dmlConf(session: SparkSession): (CowSql.DmlMode, Int, Long) = {
    val conf = session.conf
    val mode = conf.get("spark.graft.cow.dml.mode", "auto") match {
      case "cow" => CowSql.Cow
      case "mor" => CowSql.Mor
      case "auto" => CowSql.Auto
      case other => throw new IllegalArgumentException(
        s"spark.graft.cow.dml.mode must be cow|mor|auto, got $other")
    }
    (mode,
      conf.get("spark.graft.cow.dml.keep", "2").toInt,
      conf.get("spark.graft.cow.dml.morThresholdBytes",
        (128L * 1024 * 1024).toString).toLong)
  }

  /** head+1 id allocation with the ownership contract — the same
    * discipline as [[graft.sinks.CowSql.execAuto]].
    */
  def runOwned(session: SparkSession, root: String, what: String)(
      body: Long => Boolean): Unit = {
    val head = CowTable.currentManifest(session, root).map(_.id)
      .getOrElse(throw new IllegalStateException(
        s"no committed snapshot at $root"))
    val id = head + 1L
    require(body(id),
      s"$what raced a concurrent commit at $root (id $id was taken " +
        "by another writer) — retry the statement")
  }
}

/** Opaque carrier for an analyzed condition and the target relation's
  * output it was resolved against. Deliberately NOT an `Expression`
  * field of the command: `CheckAnalysis.checkSubqueryExpression`
  * whitelists the node types an IN/EXISTS subquery may sit under
  * (filters, joins, Spark's own DML ASTs), so a bare expression field
  * on a custom command fails validation — while the carried condition
  * is already fully analyzed and needs no further analyzer attention.
  */
final class BoundDmlCond(
    val cond: Expression, val tableOutput: Seq[Attribute]) {
  override def toString: String = cond.sql
  def subplans: Seq[LogicalPlan] =
    cond.collect { case s: SubqueryExpression => s.plan }
}

/** Opaque carrier for an analyzed MERGE clause condition and the two
  * relation outputs it resolved against (same CheckAnalysis-dodging
  * reasoning as [[BoundDmlCond]]).
  */
final class BoundMergeCond(
    val cond: Expression, val tgtOut: Seq[Attribute],
    val srcOut: Seq[Attribute]) {
  override def toString: String = cond.sql
  def subplans: Seq[LogicalPlan] =
    cond.collect { case s: SubqueryExpression => s.plan }
}

/** `MERGE INTO <named cow table>` whose WHEN-clause conditions or
  * SET/VALUES assignment values carry subqueries: the clauses travel
  * as the engine's own [[graft.operators.MergeClause]] objects
  * (subquery-free values as rendered text — the proven round-trip)
  * with the subquery-bearing conditions AND values ANALYZED, bound at
  * execution against the merge's flat join frame
  * ([[CowBoundDml.bindMerge]]) — conditions evaluate as boolean
  * columns, values as target-typed value columns (Spark rewrites both
  * into existence/outer joins, scalar at-most-one-row enforced by its
  * own machinery). ON stays a key-equality conjunction — a subquery
  * there would change MATCHEDNESS, which this engine's
  * one-row-per-pair merge does not express (refused at conversion
  * with the materialize-a-view remedy).
  */
final case class CowBoundMergeCommand(
    root: String, keys: Seq[String],
    clauses: Seq[graft.operators.MergeClause],
    boundConds: Seq[Option[BoundMergeCond]],
    sourcePlan: LogicalPlan,
    boundSetVals: Seq[Map[String, BoundMergeCond]] = Nil)
  extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] =
    sourcePlan +: (boundConds.flatMap(_.toSeq.flatMap(_.subplans)) ++
      boundSetVals.flatMap(_.values.flatMap(_.subplans)))

  override def run(session: SparkSession): Seq[Row] = {
    val (_, keep, _) = CowBoundDml.dmlConf(session)
    val source =
      org.apache.spark.sql.graftbridge.Bridge.ofRows(session, sourcePlan)
    val partCols = CowTable.currentManifest(session, root).getOrElse(
      throw new IllegalStateException(
        s"no committed snapshot at $root")).partCols
    val bound = boundConds.map(_.map(b =>
      CowBoundDml.bindMerge(b.cond, b.tgtOut, b.srcOut) _))
    val boundVals = boundSetVals.map(_.map { case (c, b) =>
      c -> CowBoundDml.bindMerge(b.cond, b.tgtOut, b.srcOut) _ })
    CowBoundDml.runOwned(session, root, "MERGE") { id =>
      CowTable.mergeInto(session, root, id, source, keys, partCols,
        clauses, keep = keep, boundConds = bound,
        boundSets =
          if (boundVals.exists(_.nonEmpty)) boundVals else Nil)
    }
    Nil
  }
}

/** `DELETE FROM <named cow table> WHERE <condition with subqueries>`,
  * carried ANALYZED: `innerChildren` exposes the subquery plans to
  * EXPLAIN. Routing (COW rewrite vs positional DVs) follows the same
  * session confs as the textual path.
  */
final case class CowBoundDeleteCommand(root: String, bound: BoundDmlCond)
  extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = bound.subplans

  override def run(session: SparkSession): Seq[Row] = {
    val (mode, keep, thr) = CowBoundDml.dmlConf(session)
    val condOf = CowBoundDml.bind(bound.cond, bound.tableOutput) _
    CowBoundDml.runOwned(session, root, "DELETE") { id =>
      if (CowSql.useMor(session, root, mode, thr))
        CowTable.deleteWhereDvBy(session, root, id, condOf, keep = keep)
      else
        CowTable.deleteWhereBy(session, root, id, condOf, keep = keep)
    }
    Nil
  }
}

/** `UPDATE <named cow table> SET … WHERE …` with subqueries anywhere
  * — condition AND SET values (scalar subqueries, correlated included)
  * travel ANALYZED and bind per scan frame at execution. `bound` is
  * None for an unconditioned UPDATE whose SET values carry subqueries.
  */
final case class CowBoundUpdateCommand(
    root: String, boundSets: Seq[(String, BoundDmlCond)],
    bound: Option[BoundDmlCond])
  extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] =
    bound.toSeq.flatMap(_.subplans) ++ boundSets.flatMap(_._2.subplans)

  override def run(session: SparkSession): Seq[Row] = {
    val (mode, keep, thr) = CowBoundDml.dmlConf(session)
    val condOf: DataFrame => Column = bound match {
      case Some(b) => CowBoundDml.bind(b.cond, b.tableOutput)
      case None => _ => expr("true")
    }
    val setOf: DataFrame => Map[String, Column] = df =>
      boundSets.map { case (c, b) =>
        c -> CowBoundDml.bind(b.cond, b.tableOutput)(df) }.toMap
    // subquery-bearing SETs force the matched-only evaluation split
    // (ANSI: SET evaluates on matched rows only — see updateWhereBy)
    val subqSets = boundSets.exists(_._2.subplans.nonEmpty)
    CowBoundDml.runOwned(session, root, "UPDATE") { id =>
      if (CowSql.useMor(session, root, mode, thr))
        CowTable.updateWhereDvBy(session, root, id, condOf, setOf,
          keep = keep)
      else
        CowTable.updateWhereBy(session, root, id, condOf, setOf,
          keep = keep, setsSubquery = subqSets)
    }
    Nil
  }
}
