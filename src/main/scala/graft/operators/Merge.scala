package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD-1 MERGE upsert — the operator the reference's metadata contract
  * reserves but never implements: every table dict carries a
  * `merge_column` key (reference: commons/dictionary_check.py:11, parsed
  * at commons/utilities.py:194), yet the curated jobs only ever insert
  * (`oper='I'`, jobs/curated/facts/sales_fact/
  * dl_ct_gosales_sales_fact_01.py:65) and [[KeyMapUpsert]] only appends
  * new keys. Any pipeline ingesting a MUTABLE dimension (customer moves
  * segment, product gets renamed) needs MERGE: matched target rows are
  * REPLACED by the incoming row, unmatched incoming rows are inserted,
  * untouched target rows survive.
  *
  * Spark-first shape (no Delta/warehouse MERGE INTO available — this is
  * the engine-level equivalent):
  *
  *  1. collapse `updates` to one row per merge key — newest wins by
  *     `versionCol` DESC with a deterministic tiebreak (so re-running a
  *     batch that carries duplicate keys is reproducible);
  *  2. one FULL OUTER join of target vs collapsed updates on the merge
  *     keys; per row, the update side wins when present (row-level
  *     replacement, NOT per-column coalesce — an update that sets a
  *     column to NULL must stick, so presence is detected via a
  *     non-null marker literal, never via data columns).
  *
  * Scale notes (100 TB): the dedup window partitions by the merge keys
  * and the join keys are the same columns, so the updates side is
  * hash-partitioned ONCE and the exchange is reused across both
  * operators; the target pays the one unavoidable shuffle. A full outer
  * join can never broadcast, but when the target is written bucketed on
  * the merge keys ([[graft.sinks.Bucketing]]) its exchange disappears
  * too — MERGE then costs one shuffle of the (small) delta only, which
  * is the lakehouse-engine shape (Delta/Iceberg do the same dance with
  * file-level pruning on top). Update batches are typically ≪ target, so
  * the window is cheap; the full-outer is the dominant cost and it is
  * one stage.
  */
object Merge {

  /** SCD-1 upsert of `updates` into `target`.
    *
    * @param target     current table state
    * @param updates    incoming rows; must contain every `target` column
    *                   (extra columns — e.g. the version column — are
    *                   dropped from the output, which keeps the target
    *                   schema exactly)
    * @param keyCols    merge keys (the reference's `merge_column`)
    * @param versionCol newest-wins ordering column inside `updates`;
    *                   None ⇒ updates are trusted unique per key and
    *                   duplicates collapse by the tiebreak alone
    * @param tiebreak   deterministic tiebreak columns (ascending) for
    *                   equal versions — defaults to all non-key data
    *                   columns in `target` order so the collapse is
    *                   never layout-dependent
    */
  def upsert(
      target: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      versionCol: Option[String] = None,
      tiebreak: Seq[String] = Nil): DataFrame =
    mergeCore(target, updates, keyCols, versionCol, tiebreak, evolve = false)

  /** [[upsert]] with automatic SCHEMA EVOLUTION — the `MERGE … UPDATE
    * SET *` + `mergeSchema` semantics of a lakehouse table format:
    *
    *  - a column only in `updates` is ADDED to the output schema
    *    (after the target's columns); untouched target rows carry NULL
    *    for it;
    *  - a column only in `target` is KEPT: matched rows retain their
    *    target value (an update that simply doesn't know about a
    *    column must not null it out — unlike [[upsert]]'s strict
    *    row-replacement, which REQUIRES updates to carry every target
    *    column precisely so that silent partial updates cannot
    *    happen); inserted rows get NULL;
    *  - shared non-key columns keep row-replacement semantics.
    *
    * Use with [[graft.sinks.SnapshotTarget]] and the schema evolves
    * per snapshot, exactly like a format-native evolving MERGE.
    */
  def upsertEvolve(
      target: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      versionCol: Option[String] = None,
      tiebreak: Seq[String] = Nil): DataFrame =
    mergeCore(target, updates, keyCols, versionCol, tiebreak, evolve = true)

  private def mergeCore(
      target: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      versionCol: Option[String],
      tiebreak: Seq[String],
      evolve: Boolean): DataFrame = {
    require(keyCols.nonEmpty, "MERGE needs at least one merge key")
    val targetCols = target.columns.toSeq
    val updCols = updates.columns.toSeq
    keyCols.foreach(k => require(updCols.contains(k),
      s"updates must carry merge key '$k'"))
    if (!evolve) targetCols.foreach(c => require(updCols.contains(c),
      s"updates must carry target column '$c' (use upsertEvolve for " +
        "schema evolution)"))
    // evolved output = target columns ++ update-only columns (the
    // version column is bookkeeping, never schema)
    val newCols =
      if (evolve)
        updCols.filterNot(c => targetCols.contains(c) || versionCol.contains(c))
      else Nil
    val outCols = targetCols ++ newCols
    val presentInUpd = outCols.filter(updCols.contains).toSet
    val dataCols = outCols.filterNot(keyCols.contains)
    val tb =
      if (tiebreak.nonEmpty) tiebreak
      else dataCols.filter(presentInUpd) // collapse orders on what updates carry
    val ordering =
      versionCol.map(col(_).desc).toSeq ++ tb.map(col(_).asc)
    // NULL-merge-key updates can never match (ANSI MERGE) — they insert
    // as-is, WITHOUT the newest-wins collapse: Window.partitionBy groups
    // all NULL keys into one partition, so leaving them in the window
    // would silently keep only one of them
    val anyKeyNull = keyCols.map(col(_).isNull).reduce(_ || _)
    val nullKeyed = updates.where(anyKeyNull).select(outCols.map { c =>
      if (presentInUpd(c)) col(c)
      else lit(null).cast(target.schema(c).dataType).as(c)
    }: _*)
    // newest-wins collapse; window partitioning == join keys below, so
    // Catalyst reuses one hash exchange of the updates side for both.
    // A KEY-ONLY evolve delta (register keys now, fill columns later)
    // has nothing to order by — its rows are identical per key, so
    // dropDuplicates collapses them without a window (an empty orderBy
    // would fail analysis).
    val collapsed =
      if (ordering.isEmpty)
        updates.where(!anyKeyNull).dropDuplicates(keyCols)
      else
        updates
          .where(!anyKeyNull)
          .withColumn("__rn",
            row_number().over(
              Window.partitionBy(keyCols.map(col): _*).orderBy(ordering: _*)))
          .where(col("__rn") === 1)
    // marker column: row-level presence flag for the post-join
    // selection (data columns can be legitimately NULL, key columns
    // vanish on the unmatched-target side — only a constant works)
    val latest = collapsed
      .select(outCols.filter(presentInUpd).map(col) :+
        lit(true).as("__upd"): _*)

    // plain equality, deliberately NOT null-safe `<=>`: (a) ANSI MERGE
    // semantics — a NULL merge key never matches, the row just lands as
    // its own unmatched side; (b) `<=>` makes the join partition on
    // (coalesce(k), isnull(k)) which no longer matches the window's
    // hashpartitioning(k) — the updates side would shuffle TWICE
    // (plan-asserted in MergeSpec). Sides are aliased because target and
    // updates routinely share lineage (updates derived from the same
    // source table), which otherwise trips the ambiguous-self-join check.
    val t = target.alias("__mt")
    val u = latest.alias("__mu")
    val joinCond = keyCols
      .map(k => col(s"__mt.$k") === col(s"__mu.$k"))
      .reduce(_ && _)
    // selected in outCols ORDER (target's order, new columns last): the
    // output must keep the target's column order exactly, or positional
    // consumers (insertInto, CSV) misalign when merge keys aren't leading
    t.join(u, joinCond, "full_outer").select(
      outCols.map { c =>
        if (keyCols.contains(c))
          coalesce(col(s"__mu.$c"), col(s"__mt.$c")).as(c)
        else if (!presentInUpd(c)) // target-only column: always target's
          col(s"__mt.$c").as(c)
        else if (!targetCols.contains(c)) // update-only: theirs or NULL
          col(s"__mu.$c").as(c)
        else
          when(col("__mu.__upd").isNotNull, col(s"__mu.$c"))
            .otherwise(col(s"__mt.$c")).as(c)
      }: _*)
      .unionByName(nullKeyed)
  }

  /** Metadata-driven variant: merge keys come from the declared schema
    * (`ColumnDef.isMergeKey` — the `merge_column` contract,
    * commons/dictionary_check.py:11).
    */
  def upsertFor(
      target: DataFrame,
      updates: DataFrame,
      tdef: graft.meta.TableDef,
      versionCol: Option[String] = None): DataFrame =
    upsert(target, updates, tdef.mergeKeys, versionCol)

  /** SCD-2 history-tracking merge — close-and-insert on change. The
    * completion of the mutable-dimension story [[upsert]] started: where
    * SCD-1 overwrites the matched row, SCD-2 keeps every version as its
    * own row tiled by `[effective_from, effective_to)` with exactly one
    * open (`is_current`, `effective_to IS NULL`) version per key — the
    * shape every warehouse dimension with history needs (the reference
    * reserves the `merge_column` contract, commons/dictionary_check.py:11,
    * but only ever inserts, `oper='I'` at sales_fact_01.py:65).
    *
    * Version semantics:
    *  - each update row carries its change timestamp in `effCol`; a new
    *    version opens at that instant and the previously-open version is
    *    CLOSED at it (`effective_to` = successor's `effective_from`) —
    *    intervals tile with no gaps or overlaps;
    *  - NO-CHANGE suppression: an update whose data columns null-safe
    *    equal the previous surviving version's creates no version (a
    *    re-extracted unchanged dimension row must not churn history);
    *  - duplicate (key, effCol) rows in one batch collapse by the
    *    deterministic `tiebreak`; an update sharing the OPEN version's
    *    `effective_from` is ignored (the timestamp is the version
    *    identity — this is what makes re-applying a batch a no-op);
    *  - LATE updates older than the open version's `effective_from` are
    *    dropped (history is immutable; rewriting closed intervals is a
    *    restatement job, not a merge);
    *  - NULL merge keys never match (ANSI MERGE): null-keyed target rows
    *    pass through untouched, null-keyed updates insert as standalone
    *    open versions — never collapsed into one window partition.
    *
    * Scale notes (100 TB): CLOSED history never shuffles — it is
    * filtered out up front and unioned back verbatim, so the operator's
    * cost is one hash shuffle of (open versions ∪ delta) on the merge
    * keys, i.e. dimension-current-size + batch-size, independent of
    * history depth. All four window passes (anchor max, (key,from)
    * dedup, change-detect lag, tiling lead) partition by the same keys
    * and reuse that single exchange.
    *
    * @param target  current SCD-2 table: key cols + data cols + the
    *                three SCD columns (`fromCol`, `toCol`, `currentCol`)
    * @param updates incoming rows: key cols + data cols + `effCol`
    * @param effCol  change-instant column in `updates`; becomes the new
    *                version's `effective_from` (must be comparable with
    *                `fromCol` — use the same type)
    */
  def scd2(
      target: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      effCol: String,
      fromCol: String = "effective_from",
      toCol: String = "effective_to",
      currentCol: String = "is_current",
      tiebreak: Seq[String] = Nil): DataFrame =
    scdCore(target, updates, keyCols, effCol, None,
      fromCol, toCol, currentCol, tiebreak)

  /** Shared SCD-2 engine behind [[scd2]] (operCol = None) and
    * [[scd2Cdc]] (operCol = Some) — one body so the chain semantics
    * (dedup, late-guard, suppression, tiling) can never diverge, the
    * [[mergeCore]] precedent.
    */
  private def scdCore(
      target: DataFrame,
      changes: DataFrame,
      keyCols: Seq[String],
      effCol: String,
      operCol: Option[String],
      fromCol: String,
      toCol: String,
      currentCol: String,
      tiebreak: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "SCD-2 needs at least one merge key")
    val outCols = target.columns.toSeq
    val scdCols = Seq(fromCol, toCol, currentCol)
    scdCols.foreach(c => require(outCols.contains(c),
      s"SCD-2 target must carry column '$c' (has ${outCols.mkString(", ")})"))
    require(!keyCols.exists(scdCols.contains),
      "merge keys cannot be SCD bookkeeping columns")
    operCol.foreach(oc => require(!outCols.contains(oc),
      s"target must not carry the CDC operation column '$oc'"))
    val dataCols =
      outCols.filterNot(c => keyCols.contains(c) || scdCols.contains(c))
    require(dataCols.nonEmpty, "SCD-2 needs at least one tracked data column")
    val tb = if (tiebreak.nonEmpty) tiebreak else dataCols
    val toType = target.schema(toCol).dataType
    // NULL/absent oper counts as an upsert, never a delete (matches
    // Cdc.apply's coalesce — a malformed feed must not silently erase)
    val isDel = operCol
      .map(oc => coalesce(upper(trim(col(oc))) === "D", lit(false)))
      .getOrElse(lit(false))

    val anyKeyNull = keyCols.map(col(_).isNull).reduce(_ || _)
    // NULL-keyed rows are routed around every window (see scaladoc);
    // null-keyed deletes can match nothing and vanish
    val nullKeyTarget = target.where(anyKeyNull)
    val nullKeyUpd = changes.where(anyKeyNull && !isDel)
      .withColumn(fromCol, col(effCol))
      .withColumn(toCol, lit(null).cast(toType))
      .withColumn(currentCol, lit(true))
      .select(outCols.map(col): _*)

    // closed history passes through VERBATIM — never shuffled row-wise.
    // NULL is_current counts as closed (a plain =!= would silently DROP
    // such rows on both branches).
    val isOpen = coalesce(col(currentCol), lit(false))
    val hist = target.where(!anyKeyNull && !isOpen)
    // ...but history DOES contribute one aggregate: the per-key CLOSED
    // FRONTIER (max effective_to). Without it, a key whose versions are
    // all closed (deleted via scd2Cdc, or a hand-built target) has no
    // open anchor row, and a LATE change older than the frontier would
    // insert a version OVERLAPPING closed history. Partial aggregation
    // makes this a per-key-sized shuffle, not a per-row one.
    val frontier = hist.groupBy(keyCols.map(col): _*)
      .agg(max(col(toCol)).as("__closedTo"))

    val chainCols = keyCols ++ dataCols :+ fromCol
    val cur = target.where(!anyKeyNull && isOpen)
      .select(chainCols.map(col) ++
        Seq(lit(0).as("__src"), lit(false).as("__del")): _*)
    val chg = changes.where(!anyKeyNull)
      .select((keyCols ++ dataCols).map(col) ++
        Seq(col(effCol).as(fromCol), lit(1).as("__src"),
          isDel.as("__del")): _*)

    val wKey = Window.partitionBy(keyCols.map(col): _*)
    // one ordering drives every sequenced pass: (from, src, ¬del, tb) —
    // the open target version precedes any change sharing its from
    // (replay rule: target wins), duplicate (key, from) change rows
    // order deterministically, and among same-instant CHANGES a DELETE
    // precedes a non-delete so the terminal state of an
    // update+delete-at-one-timestamp feed is DELETED (conservative:
    // without a log sequence number the data cannot be trusted either
    // way, and a false survivor is worse than a false delete). Keeping
    // the FIRST row of each equal-from run then dedupes per (key, from)
    // inside the (key) partitioning — a dedicated (key, from) window
    // would cost a second exchange.
    val wSeq = wKey.orderBy(
      Seq(col(fromCol).asc, col("__src").asc, col("__del").desc) ++
        tb.map(col(_).asc): _*)
    val dataStruct = struct(dataCols.map(col): _*)

    val tiled = cur.unionByName(chg)
      // per-key frontier join shares the (key) exchange with the windows
      .join(frontier, keyCols, "left")
      // drop LATE changes: older than the open version's start AND
      // older than the closed frontier (greatest skips NULLs; NULL only
      // when the key has no open row and no closed history)
      .withColumn("__anchor",
        max(when(col("__src") === 0, col(fromCol))).over(wKey))
      .withColumn("__bound", greatest(col("__anchor"), col("__closedTo")))
      .where(col("__src") === 0 ||
        col("__bound").isNull || col(fromCol) >= col("__bound"))
      // keep only the first row of each equal-from run (dedup + the
      // target-wins replay rule)
      .withColumn("__same_from",
        lag(col(fromCol), 1).over(wSeq) === col(fromCol))
      .where(!coalesce(col("__same_from"), lit(false)))
      // delete validity: a D needs a live (non-D) predecessor. One pass
      // suffices: in a run of D's only the first can have a non-D
      // predecessor, so every later D sees a D and drops
      .withColumn("__pdel", lag(col("__del"), 1).over(wSeq))
      .where(!col("__del") ||
        (col("__pdel").isNotNull && !col("__pdel")))
      // no-change suppression: data null-safe-equal to the previous
      // surviving version ⇒ no new version (equality runs are
      // transitive, so lag ≡ previous survivor) — EXCEPT right after a
      // delete (rebirth is a new version even with identical data), and
      // never for D rows (they ride through to donate their instant to
      // the predecessor's effective_to). __prevDel is NOT __pdel reused:
      // __pdel was the PRE-validity-filter lag; this one runs on the
      // filtered frame, the same frame __prev sees
      .withColumn("__prevDel", lag(col("__del"), 1).over(wSeq))
      .withColumn("__prev", lag(dataStruct, 1).over(wSeq))
      .where(col("__del") || col("__prev").isNull ||
        coalesce(col("__prevDel"), lit(false)) ||
        !(dataStruct <=> col("__prev")))
      // interval tiling INCLUDING D rows: a version followed by a D
      // closes at the D's instant; then the D row itself vanishes
      .withColumn(toCol, lead(col(fromCol), 1).over(wSeq).cast(toType))
      .where(!col("__del"))
      .withColumn(currentCol, col(toCol).isNull)
      .select(outCols.map(col): _*)

    hist.select(outCols.map(col): _*)
      .unionByName(tiled)
      .unionByName(nullKeyTarget.select(outCols.map(col): _*))
      .unionByName(nullKeyUpd)
  }

  /** CDC-driven SCD-2 — [[scd2]] extended with DELETES: change rows
    * carry I/U/D in `operCol`, and a `D` CLOSES the key's open version
    * at its `effCol` instant without inserting a successor — the key
    * then has NO current row until a later I/U re-opens it (a rebirth
    * is always a new version, even with identical data: the key's
    * non-existence in between is real history). The full
    * mutable-dimension matrix: [[upsert]] = SCD-1, [[Cdc.apply]] =
    * SCD-1 + deletes, [[scd2]] = history, this = history + deletes.
    *
    * Delete semantics on the version chain:
    *  - a D with no live predecessor (unknown key, or the key already
    *    deleted) is a NO-OP — dropped before it can influence anything;
    *  - consecutive D's collapse to the first;
    *  - after a D, the "exactly one open version per key" invariant of
    *    [[scd2]] relaxes to AT MOST one, and interval tiling allows a
    *    GAP over the deleted span — both are the correct history;
    *  - among same-instant CHANGES the delete wins (terminal state of
    *    an update+delete within one timestamp granularity is DELETED —
    *    conservative without a log sequence number); a change sharing
    *    the OPEN TARGET version's instant still loses to the target
    *    (the replay rule);
    *  - the late-change guard covers deleted keys too: a change older
    *    than the key's closed-history frontier is dropped, never
    *    inserted overlapping closed intervals;
    *  - a NULL/absent oper is an UPSERT, never a delete (malformed
    *    feeds must not silently erase);
    *  - everything else ([[scd2]]'s no-change suppression, same-from
    *    replay idempotence, NULL-key routing — a null-keyed D deletes
    *    nothing) carries over.
    *
    * Scale shape identical to [[scd2]]: closed history never shuffles;
    * one exchange of (open ∪ changes) serves every window pass.
    */
  def scd2Cdc(
      target: DataFrame,
      changes: DataFrame,
      keyCols: Seq[String],
      effCol: String,
      operCol: String = "oper",
      fromCol: String = "effective_from",
      toCol: String = "effective_to",
      currentCol: String = "is_current",
      tiebreak: Seq[String] = Nil): DataFrame =
    scdCore(target, changes, keyCols, effCol, Some(operCol),
      fromCol, toCol, currentCol, tiebreak)

  /** SCD-2 RESTATEMENT — the offline completion of the merge family:
    * [[scd2]]/[[scd2Cdc]] deliberately DROP late changes older than a
    * key's closed frontier (history is immutable under incremental
    * merge; see the late-guard in scdCore). When such a change must
    * nevertheless land — a backfilled source, a corrected feed — the
    * answer is not to mutate closed intervals in place but to REBUILD
    * the key's tiling from the full event log:
    *
    *  1. the existing history is decompiled back into its events —
    *     one upsert per version start, plus a DELETE at every closing
    *     instant no successor starts at (tiling gaps and final closes
    *     are real deletions and must survive the rebuild);
    *  2. `corrections` (key + data + `effCol` + `operCol`) union in at
    *     HIGHER priority: at the same (key, instant) a correction
    *     REPLACES what history recorded — that is what "restatement"
    *     means — while at fresh instants (including ones older than
    *     the old frontier) it becomes a new version;
    *  3. the combined log is re-tiled from an empty target through the
    *     same scdCore engine, so every chain invariant (same-instant
    *     D-wins, no-change suppression, delete validity, rebirth
    *     across gaps) is shared with the incremental path by
    *     construction rather than re-implemented.
    *
    * Idempotence (property-pinned): restating a restated table with no
    * corrections is a fixed point, and re-applying the same
    * corrections is a no-op. Note restatement CANONICALIZES: adjacent
    * versions carrying identical data (which a well-formed incremental
    * history never contains) merge under no-change suppression.
    *
    * Scale notes: this is the one SCD operator that intentionally
    * shuffles the FULL history — the point is rewriting closed
    * intervals, so that cost is inherent. Two key-partitioned
    * exchanges total (plan-pinned): one for the decompile window over
    * the history, one for the event union feeding the collapse — after
    * which every scdCore window reuses the collapse's partitioning.
    * Run it per affected PARTITION (e.g. [[graft.sinks.CowTable]]
    * key-buckets of the corrected keys) and the rewrite is
    * O(affected buckets), not O(dimension).
    */
  def scd2Restate(
      history: DataFrame,
      corrections: DataFrame,
      keyCols: Seq[String],
      effCol: String,
      operCol: String = "oper",
      fromCol: String = "effective_from",
      toCol: String = "effective_to",
      currentCol: String = "is_current",
      tiebreak: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "SCD-2 restate needs at least one merge key")
    val outCols = history.columns.toSeq
    val scdCols = Seq(fromCol, toCol, currentCol)
    scdCols.foreach(c => require(outCols.contains(c),
      s"history must carry SCD column '$c'"))
    require(corrections.columns.contains(operCol),
      s"corrections must carry the operation column '$operCol'")
    val dataCols =
      outCols.filterNot(c => keyCols.contains(c) || scdCols.contains(c))
    val tb = if (tiebreak.nonEmpty) tiebreak else dataCols
    val anyKeyNull = keyCols.map(col(_).isNull).reduce(_ || _)

    // history → event log (non-null keys; null-keyed rows are
    // standalone and ride through scdCore's target passthrough below)
    val wFrom = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(fromCol).asc)
    val hv = history.where(!anyKeyNull)
      .withColumn("__nextFrom", lead(col(fromCol), 1).over(wFrom))
    val verEvents = hv.select(
      (keyCols ++ dataCols).map(col) ++ Seq(
        col(fromCol).as(effCol), lit("U").as(operCol),
        lit(1).as("__prio")): _*)
    // a close no successor starts at = a real deletion at that instant
    val delEvents = hv
      .where(col(toCol).isNotNull &&
        (col("__nextFrom").isNull || col("__nextFrom") =!= col(toCol)))
      .select((keyCols ++ dataCols).map(col) ++ Seq(
        col(toCol).as(effCol), lit("D").as(operCol),
        lit(1).as("__prio")): _*)
    val corrEvents = corrections.select(
      (keyCols ++ dataCols).map(col) ++ Seq(
        col(effCol), col(operCol), lit(0).as("__prio")): _*)

    // collapse per (key, instant) with corrections beating history and
    // (within a class) delete beating upsert — same keep-first-of-run
    // trick as scdCore, inside the (key) partitioning so the exchange
    // is REUSED by every scdCore window downstream
    val isDel = coalesce(upper(trim(col(operCol))) === "D", lit(false))
    val wSeq = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(Seq(col(effCol).asc, col("__prio").asc, isDel.desc) ++
        tb.map(col(_).asc): _*)
    val events = verEvents.unionByName(delEvents).unionByName(corrEvents)
      .where(!anyKeyNull)
      .withColumn("__same_eff",
        lag(col(effCol), 1).over(wSeq) === col(effCol))
      .where(!coalesce(col("__same_eff"), lit(false)))
      .drop("__same_eff", "__prio")
      // null-keyed corrections skip the collapse (each is standalone)
      .unionByName(corrEvents.where(anyKeyNull).drop("__prio"))

    // rebuild from scratch: target = only the null-keyed history rows
    // (passthrough), so no frontier exists and nothing counts as late
    scdCore(history.where(anyKeyNull), events, keyCols, effCol,
      Some(operCol), fromCol, toCol, currentCol, tiebreak)
  }

  /** Point-in-time dimension lookup — the READ side of [[scd2]]: enrich
    * each fact with the dimension version effective AT THE FACT'S OWN
    * TIME, i.e. the version whose `[effective_from, effective_to)`
    * interval contains `tsCol`. This is what makes SCD-2 history worth
    * keeping: a reprocessed 2019 fact joins the 2019 dimension row, not
    * today's (a plain `is_current` join silently rewrites history).
    *
    * LEFT join: facts with no matching key OR a timestamp before the
    * key's first version keep NULL dimension columns. The scd2 tiling
    * invariant (no overlaps) guarantees at most one match per fact, so
    * the join can never fan out.
    *
    * Scale notes: an equi-join on the merge keys with the interval
    * predicate evaluated as the join's residual condition — one hash
    * shuffle of each side on the keys (or zero for the dim side when
    * it broadcasts). NOT a blind interval join: the key equality does
    * the routing, so no interval-bucketing machinery
    * ([[RangeJoin]]-style) is needed unless a single key's history is
    * itself huge — dimensions aren't.
    */
  def scd2Lookup(
      facts: DataFrame,
      dim: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      fromCol: String = "effective_from",
      toCol: String = "effective_to"): DataFrame = {
    require(keyCols.nonEmpty, "SCD-2 lookup needs at least one key")
    // every non-key dim column (validity bounds included) lands in the
    // output NEXT TO all fact columns — a shared name would produce
    // duplicate output columns that break any later select-by-name, so
    // fail loud here instead (callers rename or drop the clash)
    val clash = dim.columns.toSeq.filterNot(keyCols.contains)
      .intersect(facts.columns.toSeq)
    require(clash.isEmpty,
      s"scd2Lookup: dimension columns ${clash.mkString(", ")} collide " +
        "with fact columns; rename or drop them on one side first")
    val f = facts.alias("__lf")
    val d = dim.alias("__ld")
    val keyEq = keyCols
      .map(k => col(s"__lf.$k") === col(s"__ld.$k"))
      .reduce(_ && _)
    val inInterval = col(s"__lf.$tsCol") >= col(s"__ld.$fromCol") &&
      (col(s"__ld.$toCol").isNull ||
        col(s"__lf.$tsCol") < col(s"__ld.$toCol"))
    val dimDataCols = dim.columns.toSeq.filterNot(keyCols.contains)
    f.join(d, keyEq && inInterval, "left")
      .select(facts.columns.toSeq.map(c => col(s"__lf.$c").as(c)) ++
        dimDataCols.map(c => col(s"__ld.$c").as(c)): _*)
  }
}
