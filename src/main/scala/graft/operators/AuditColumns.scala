package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Audit/lineage projection (SURVEY §2.2 R4/R5): every curated write in
  * the reference appends ins_tmstmp/upd_tmstmp/batch_id (reference:
  * .../dl_ct_gosales_sales_fact_01.py:38-42 `add_meta_info`) plus
  * constant lineage columns source/oper/table_id
  * (.../sales_fact_01.py:64-66).
  *
  * `oper='I'` is an insert-only CDC marker — the reference performs no
  * updates/deletes (SURVEY §7.5.6). Timestamps are nondeterministic by
  * nature; golden comparisons must exclude them (SURVEY §7.5.5).
  */
object AuditColumns {
  def withAudit(
      df: DataFrame,
      batchId: String,
      source: String,
      tableId: Long): DataFrame =
    df.withColumn("ins_tmstmp", current_timestamp())
      .withColumn("upd_tmstmp", current_timestamp())
      .withColumn("batch_id", lit(batchId))
      .withColumn("source", lit(source))
      .withColumn("oper", lit("I"))
      .withColumn("table_id", lit(tableId))
}
