package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC apply — the I/U/D completion of the reference's `oper` lineage
  * contract. Every curated write in the reference stamps `oper='I'` as
  * a hardcoded constant (reference: jobs/curated/facts/sales_fact/
  * dl_ct_gosales_sales_fact_01.py:65) — the column is reserved for a
  * change-data-capture feed that never arrives. This operator applies a
  * real CDC batch: each row carries its operation in `operCol`
  * (`I`nsert / `U`pdate / `D`elete, case-insensitive) plus an optional
  * ordering column, and the target moves to the state after the batch.
  *
  * Semantics:
  *  - the batch collapses NEWEST-WINS per merge key first (versionCol
  *    DESC, deterministic tiebreak) — so `D` then `I` at a later
  *    version re-inserts the key, `U` then `D` deletes it; only the
  *    FINAL operation per key acts;
  *  - a final `D` removes the key (deleting a key absent from the
  *    target is a no-op, like SQL MERGE's WHEN MATCHED THEN DELETE);
  *  - a final `I` or `U` upserts — both are row-level replacement,
  *    [[Merge.upsert]]'s SCD-1 semantics. Treating I and U identically
  *    is deliberate: real CDC feeds routinely deliver an `I` for a key
  *    that already exists (snapshot + stream overlap) or a `U` for one
  *    that doesn't (stream started mid-history); distinguishing them
  *    would make the apply order-fragile for zero information gain;
  *  - NULL merge keys never match (ANSI MERGE): null-keyed I/U rows
  *    insert as-is, null-keyed D rows are no-ops.
  *
  * Scale notes (100 TB): identical shape to [[Merge.upsert]] — the
  * batch is hash-partitioned ONCE on the merge keys (the collapse
  * window and the full-outer join share the exchange, plan-asserted in
  * `CdcSpec`), the target pays the one unavoidable shuffle, and the
  * delete is a filter on the joined row (no separate anti-join pass,
  * which would shuffle the target a second time).
  */
object Cdc {

  /** Apply a CDC batch to `target`.
    *
    * @param target     current table state
    * @param batch      CDC rows: every `target` column + `operCol`
    *                   (+ `versionCol`); extra columns are dropped
    * @param keyCols    merge keys
    * @param operCol    operation column: I/U/D, case-insensitive,
    *                   surrounding whitespace ignored
    * @param versionCol newest-wins ordering inside the batch; None ⇒
    *                   at most one row per key is trusted
    * @param tiebreak   deterministic tiebreak for equal versions —
    *                   defaults to `operCol` then all non-key data
    *                   columns in target order
    */
  def apply(
      target: DataFrame,
      batch: DataFrame,
      keyCols: Seq[String],
      operCol: String = "oper",
      versionCol: Option[String] = None,
      tiebreak: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "CDC apply needs at least one merge key")
    val outCols = target.columns.toSeq
    require(!outCols.contains(operCol),
      s"target must not carry the CDC operation column '$operCol'")
    val dataCols = outCols.filterNot(keyCols.contains)
    val tb = if (tiebreak.nonEmpty) tiebreak else operCol +: dataCols
    val ordering =
      versionCol.map(col(_).desc).toSeq ++ tb.map(col(_).asc)
    val isDel = upper(trim(col(operCol))) === "D"

    val anyKeyNull = keyCols.map(col(_).isNull).reduce(_ || _)
    // null-keyed deletes match nothing; null-keyed inserts/updates land
    // as-is, bypassing the collapse (same routing as Merge.upsert)
    val nullKeyed = batch.where(anyKeyNull && !isDel)
      .select(outCols.map(col): _*)

    val latest = batch
      .where(!anyKeyNull)
      .withColumn("__rn",
        row_number().over(
          Window.partitionBy(keyCols.map(col): _*).orderBy(ordering: _*)))
      .where(col("__rn") === 1)
      .select(outCols.map(col) ++
        Seq(isDel.as("__del"), lit(true).as("__upd")): _*)

    // plain equality (not <=>) for the same two reasons as Merge.upsert:
    // ANSI NULL-key semantics and exchange reuse with the window above
    val t = target.alias("__ct")
    val u = latest.alias("__cu")
    val joinCond = keyCols
      .map(k => col(s"__ct.$k") === col(s"__cu.$k"))
      .reduce(_ && _)
    t.join(u, joinCond, "full_outer")
      // a joined row whose final batch operation is D is the delete:
      // drop it here — matched target rows vanish, unmatched D rows
      // produce nothing. coalesce: rows with no batch side survive.
      .where(!coalesce(col("__cu.__del"), lit(false)))
      .select(outCols.map { c =>
        if (keyCols.contains(c))
          coalesce(col(s"__cu.$c"), col(s"__ct.$c")).as(c)
        else
          when(col("__cu.__upd").isNotNull, col(s"__cu.$c"))
            .otherwise(col(s"__ct.$c")).as(c)
      }: _*)
      .unionByName(nullKeyed)
  }

  /** Snapshot diff → CDC changelog: the INVERSE of [[apply]]. Compares
    * two states of a table keyed by `keyCols` and emits one row per
    * difference: `I` (key only in `after`), `D` (key only in `before`,
    * carrying the before-image), `U` (key in both, data columns
    * null-safe different, carrying the after-image). Unchanged keys
    * emit nothing.
    *
    * Round-trip contract (property-pinned in `CdcSpec`): for non-null
    * keys, `apply(before, changelog(before, after)) == after` — which
    * is how a batch pipeline PUBLISHES changes downstream (compute the
    * new state, diff against the old, ship the delta instead of the
    * table). Null-keyed rows break the round-trip asymmetrically by
    * design: an after-side null-key row emits `I` (and re-applies),
    * but a before-side one emits `D` that [[apply]] treats as a no-op
    * — ANSI NULL keys can never match, so a null-keyed row is not
    * deletable through a key-addressed changelog.
    *
    * Scale notes: one full-outer join on the keys (the same one
    * unavoidable shuffle as [[apply]]); the output is delta-sized.
    */
  def changelog(
      before: DataFrame,
      after: DataFrame,
      keyCols: Seq[String],
      operCol: String = "oper"): DataFrame = {
    require(keyCols.nonEmpty, "changelog needs at least one key")
    val outCols = before.columns.toSeq
    require(!outCols.contains(operCol),
      s"input already carries a '$operCol' column — the output would " +
        "have two; pass a different operCol")
    require(after.columns.toSeq.sorted == outCols.sorted,
      s"before/after schemas differ: $outCols vs ${after.columns.toSeq}")
    val dataCols = outCols.filterNot(keyCols.contains)
    val b = before.withColumn("__b", lit(true)).alias("__gb")
    val a = after.withColumn("__a", lit(true)).alias("__ga")
    val joinCond = keyCols
      .map(k => col(s"__gb.$k") === col(s"__ga.$k"))
      .reduce(_ && _)
    val bData = struct(dataCols.map(c => col(s"__gb.$c")): _*)
    val aData = struct(dataCols.map(c => col(s"__ga.$c")): _*)
    b.join(a, joinCond, "full_outer")
      .where(col("__ga.__a").isNull || col("__gb.__b").isNull ||
        !(bData <=> aData))
      .select(outCols.map { c =>
        if (keyCols.contains(c))
          coalesce(col(s"__ga.$c"), col(s"__gb.$c")).as(c)
        else // D carries the before-image, I/U the after-image
          when(col("__ga.__a").isNull, col(s"__gb.$c"))
            .otherwise(col(s"__ga.$c")).as(c)
      } :+ when(col("__ga.__a").isNull, lit("D"))
        .when(col("__gb.__b").isNull, lit("I"))
        .otherwise(lit("U")).as(operCol): _*)
  }

  /** NORMALIZED changelog: like [[changelog]], but an update emits TWO
    * rows — `D` with the before-image and `I` with the after-image —
    * so every row carries exactly one full row image with a ±1 meaning.
    * This is the form retractable aggregation needs
    * ([[MaterializedAgg.retractStateOf]]): the D-old row cancels the
    * old contribution exactly, the I-new row adds the new one; a plain
    * [[changelog]] `U` (after-image only) cannot retract a sum because
    * the old value is gone. Same one full-outer shuffle; at most 2
    * output rows per changed key.
    */
  def changelogSigned(
      before: DataFrame,
      after: DataFrame,
      keyCols: Seq[String],
      operCol: String = "oper"): DataFrame = {
    require(keyCols.nonEmpty, "changelog needs at least one key")
    val outCols = before.columns.toSeq
    require(!outCols.contains(operCol),
      s"input already carries a '$operCol' column — the output would " +
        "have two; pass a different operCol")
    require(after.columns.toSeq.sorted == outCols.sorted,
      s"before/after schemas differ: $outCols vs ${after.columns.toSeq}")
    val dataCols = outCols.filterNot(keyCols.contains)
    val b = before.withColumn("__b", lit(true)).alias("__gb")
    val a = after.withColumn("__a", lit(true)).alias("__ga")
    val joinCond = keyCols
      .map(k => col(s"__gb.$k") === col(s"__ga.$k"))
      .reduce(_ && _)
    val bData = struct(dataCols.map(c => col(s"__gb.$c")): _*)
    val aData = struct(dataCols.map(c => col(s"__ga.$c")): _*)
    def img(side: String, oper: String) = struct(
      (outCols.map(c =>
        if (keyCols.contains(c))
          coalesce(col(s"__ga.$c"), col(s"__gb.$c")).as(c)
        else col(s"$side.$c").as(c)) :+ lit(oper).as(operCol)): _*)
    val changed = col("__gb.__b").isNull || col("__ga.__a").isNull ||
      !(bData <=> aData)
    b.join(a, joinCond, "full_outer")
      .where(changed)
      .select(explode(filter(array(
        when(col("__gb.__b").isNotNull, img("__gb", "D")),
        when(col("__ga.__a").isNotNull, img("__ga", "I"))),
        x => x.isNotNull)).as("__row"))
      .select((outCols :+ operCol).map(c => col(s"__row.$c").as(c)): _*)
  }
}
