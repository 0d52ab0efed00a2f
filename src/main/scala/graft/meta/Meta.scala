package graft.meta

import java.sql.Timestamp

/** Control-plane records — the typed analog of the reference's MySQL
  * `etl_monitoring` database (reference: configs/env_variables.py:1-16,
  * commons/utilities.py:160-199).
  */

/** One column of a declared table schema (reference: the per-table
  * `table_definations` dict, shape at commons/dictionary_check.py:4-16).
  */
final case class ColumnDef(
    name: String,
    sqlType: String,
    isMergeKey: Boolean = false,
    isMasked: Boolean = false,
    isPartitionKey: Boolean = false)

/** Declared source-table schema + extraction config (reference:
  * commons/utilities.py:160-199 — the J6 metadata join flattened into one
  * case class).
  */
final case class TableDef(
    database: String,
    schema: String,
    table: String,
    columns: Seq[ColumnDef],
    extractionType: String = "full", // "full" | "incremental"
    watermarkColumn: Option[String] = None, // incremental bookmark (utilities.py:162)
    latestWatermark: Option[String] = None) {

  def columnNames: Seq[String] = columns.map(_.name)
  def mergeKeys: Seq[String] = columns.filter(_.isMergeKey).map(_.name)
  def partitionKeys: Seq[String] = columns.filter(_.isPartitionKey).map(_.name)

  /** Generated extraction SELECT — the analog of the reference's
    * metadata-driven query builder (commons/utilities.py:192) with
    * temporal CASTs (jobs/raw/dl_rw_job.py:59-66) and the incremental
    * watermark predicate the reference reserved but never wired up
    * (SURVEY §4 "Incremental extraction").
    */
  def extractionSql(castTemporalsToChar: Boolean = false): String = {
    val cols = columns.map { c =>
      val (base, _, _) = graft.types.SqlTypeMapper.parse(c.sqlType)
      if (castTemporalsToChar &&
          Set("date", "datetime", "timestamp", "time").contains(base))
        s"CAST(${c.name} AS CHAR) AS ${c.name}"
      else c.name
    }
    val where = (extractionType, watermarkColumn, latestWatermark) match {
      case ("incremental", Some(wm), Some(last)) =>
        // the bookmark value originates from DATA (max of the watermark
        // column) — escape quotes so it can't break or inject into the
        // query sent to the source database
        s" WHERE $wm > '${last.replace("'", "''")}'"
      case _ => ""
    }
    s"SELECT ${cols.mkString(", ")} FROM $schema.$table$where"
  }
}

/** Per-run audit record — the analog of `Job_Meta_Details`
  * (reference: commons/Job_Meta_Details.py:1-19, all 16 fields).
  */
final case class JobRun(
    batchId: String,
    tableId: Long,
    dbName: String,
    schemaName: String,
    tblName: String,
    layer: String, // RAW | CURATED | SEMANTIC
    rowsIngested: Long,
    jobStartTime: Timestamp,
    jobEndTime: Timestamp,
    jobExecutionTime: Double,
    jobStatus: String, // Success | Failure
    exception: String,
    remarks: String,
    srcExtractionType: String,
    rawIngestionType: String,
    jobName: String)

object JobRun {
  /** Exception-text sanitizer (reference: commons/utilities.py:375-383 —
    * strip non-ASCII + quotes, truncate to 1500 chars).
    */
  def sanitize(message: String): String =
    Option(message).getOrElse("")
      .replaceAll("[^\\x20-\\x7E]", "")
      .replaceAll("['\"]", "")
      .take(1500)
}
