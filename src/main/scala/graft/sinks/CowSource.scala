package graft.sinks

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider,
  DataSourceRegister, RelationProvider}

/** `spark.read.format("cow")` — the table format as a REGISTERED Spark
  * data source, so reading a CowTable needs no graft import at all:
  *
  * {{{
  * spark.read.format("cow").load("/data/events")              // head
  * spark.read.format("cow").option("snapshot", 7).load(p)     // as-of id
  * spark.read.format("cow").option("timestampMs", t).load(p)  // as-of time
  * }}}
  *
  * Resolution goes through [[CowV2]]'s planner-integrated relation
  * ([[CowFileIndex]]): partition pruning (static + dynamic), manifest
  * envelope/Bloom/null-count skipping, declared bucketing and manifest
  * statistics all apply exactly as with `CowV2.read`. Registered via
  * `META-INF/services/org.apache.spark.sql.sources.DataSourceProvider`
  * -discovery (`DataSourceRegister`), the same mechanism every
  * built-in format uses.
  *
  * `snapshot` wins over `timestampMs` when both are set; a missing
  * table or unservable snapshot fails loud (same contracts as the
  * programmatic readers).
  *
  * WRITES mirror the read surface:
  *
  * {{{
  * df.write.format("cow").mode("overwrite")               // commitFull
  *   .option("partitionBy", "region,day").save(root)
  * df.write.format("cow").mode("append").save(root)       // commitAppend
  * }}}
  *
  * The commit id comes from `option("id", n)` or defaults to
  * head + 1 — two racing auto-id writers collide on the per-id lease
  * and the loser throws, exactly the optimistic-concurrency contract
  * of the programmatic API. `partitionBy`, `sortBy` and `bloomBy`
  * (comma-separated) pass through to the commit; append to an
  * existing table takes the TABLE's partitioning (the option must
  * agree when given).
  */
final class CowSource extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "cow"

  /** `df.writeStream.format("cow")` — see [[graft.streaming
    * .CowStreamSink]] for the seam rationale (Delta's V1 Sink choice),
    * output modes and options.
    */
  override def createSink(
      ctx: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink =
    graft.streaming.CowStreamSink.fromParameters(
      ctx.sparkSession, parameters, partitionColumns, outputMode)

  override def createRelation(
      ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = ctx.sparkSession
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "cow source needs a path: spark.read.format(\"cow\").load(root)"))
    val at = parameters.get("snapshot").map(_.toLong) match {
      case Some(id) =>
        // resolve against COMMITTED ids only (highest committed ≤ id —
        // the same time-travel rule as CowTable.readAt): loading the
        // manifest dir directly would serve a crashed writer's orphan
        // (parquet written, _SUCCESS missing) as table state
        CowTable.committedIds(spark, root).filter(_ <= id).lastOption
          .getOrElse(throw new IllegalStateException(
            s"no committed snapshot at or before id $id at $root"))
      case None => parameters.get("timestampMs").map(_.toLong) match {
        case Some(ts) =>
          CowTable.committedIdsAt(spark, root, ts).lastOption.getOrElse(
            throw new IllegalStateException(
              s"no committed snapshot at or before $ts at $root"))
        case None =>
          CowTable.committedIds(spark, root).lastOption.getOrElse(
            throw new IllegalStateException(
              s"no committed snapshot at $root"))
      }
    }
    // debt-free snapshots resolve LAZILY (round-16): the relation
    // carries head metadata only, and a filtered scan of a cold table
    // materializes just the surviving entries — the same
    // driver-bounded planning as the named catalog path. MOR debt
    // keeps the eager path for its loud fold-first refusal (a bare
    // relation cannot carry the subtraction); a registered bucket
    // layout the head did not certify all-tagged (round-17
    // `bucket_ok`) needs the eager relation's file-name check.
    val meta = CowTable.manifestMeta(spark, root, at)
    if (CowTable.nonDataEmpty(spark, root, at) &&
        CowV2.lazyServable(spark, root, meta))
      CowV2.lazyRelation(spark, root, meta)
    else
      CowV2.relationFor(spark, root, CowTable.manifest(spark, root, at))
  }

  override def createRelation(
      ctx: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val spark = ctx.sparkSession
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "cow sink needs a path: df.write.format(\"cow\").save(root)"))
    def cols(key: String): Seq[String] = parameters.get(key)
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)
    val existing = CowTable.currentManifest(spark, root)
    val id = parameters.get("id").map(_.toLong)
      .getOrElse(existing.map(_.id).getOrElse(0L) + 1L)
    // a stale explicit id would hit the commit paths' silent
    // crash-replay guard and the rows would vanish without a word —
    // refuse up front; together with the post-commit check below (and
    // the per-id lease, whose loser throws) every superseded write is
    // LOUD
    require(mode == SaveMode.Ignore || existing.forall(_.id < id),
      s"write id $id at $root is not ahead of committed head " +
        s"${existing.map(_.id).getOrElse(0L)} — re-read and retry")
    val given = cols("partitionBy")
    // append takes the TABLE's layout (a disagreeing option is an
    // error); overwrite MAY relayout — it maps to commitFull, the same
    // full-rewrite mechanism repartitionTable uses
    val partCols = (mode, existing) match {
      case (SaveMode.Append, Some(m)) =>
        require(given.isEmpty || given == m.partCols,
          s"partitionBy $given disagrees with the table's ${m.partCols}")
        m.partCols
      case (_, e) =>
        if (given.nonEmpty) given else e.map(_.partCols).getOrElse(Nil)
    }
    val landed: Long = mode match {
      case SaveMode.Overwrite =>
        CowTable.commitFull(data, root, id, partCols,
          sortCols = cols("sortBy"), bloomCols = cols("bloomBy"),
          changeLogKeys = cols("changeLogBy"))
        id
      case SaveMode.Append =>
        // blind-append conflict rule (round-18): an auto-id append has
        // no read dependency, so a lost race auto-retries against the
        // new head (CowTable.appendWithRetry) instead of failing the
        // write. An EXPLICIT id stays pinned — it encodes the caller's
        // own replay/exactly-once protocol (the streaming sink's
        // shape), where committing under a different id would be wrong.
        if (parameters.contains("id")) {
          CowTable.commitAppend(data, root, id, partCols,
            sortCols = cols("sortBy"), bloomCols = cols("bloomBy"),
            changeLogKeys = cols("changeLogBy"))
          id
        } else
          CowTable.appendWithRetry(data, root, partCols,
            sortCols = cols("sortBy"), bloomCols = cols("bloomBy"),
            changeLogKeys = cols("changeLogBy"))
      case SaveMode.ErrorIfExists =>
        require(existing.isEmpty,
          s"table at $root already exists (mode ErrorIfExists)")
        CowTable.commitFull(data, root, id, partCols,
          sortCols = cols("sortBy"), bloomCols = cols("bloomBy"),
          changeLogKeys = cols("changeLogBy"))
        id
      case SaveMode.Ignore =>
        if (existing.isEmpty)
          CowTable.commitFull(data, root, id, partCols,
            sortCols = cols("sortBy"), bloomCols = cols("bloomBy"),
            changeLogKeys = cols("changeLogBy"))
        id
    }
    // the commit paths RETURN silently when a commit with id >= ours
    // already exists (the crash-replay guard) — for a data-source
    // write that silence would be lost rows; verify the commit landed
    // and fail LOUD so the racer re-reads the head and retries
    if (mode != SaveMode.Ignore || existing.isEmpty)
      require(CowTable.committedIds(spark, root).contains(landed),
        s"write of commit $landed at $root was superseded by a " +
          "concurrent commit — re-read the head and retry with a fresh id")
    // schema-only result: CreatableRelationProvider's return value is
    // vestigial, and building a READ relation here would wrongly throw
    // on tables with outstanding deletion vectors
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: org.apache.spark.sql.types.StructType =
        data.schema
    }
  }
}
