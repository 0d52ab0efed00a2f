package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sinks.CowTable

/** Round-17 metadata-table surfaces:
  *
  *  - `DESCRIBE FILES` is a LAZY relation, not a collecting command —
  *    the listing stays distributed, LIMIT/filters compose as plan
  *    operators, and the driver never materializes the entry list.
  *  - `cow.ns.t.files` / `cow.ns.t.partitions` are first-class named
  *    metadata tables (Iceberg's `t$files`/`t$partitions` shape):
  *    queryable, joinable, aggregable through plain SQL.
  *  - Partition strings render HIVE-ESCAPED (`escapePathName`), so
  *    values containing '/', '=' or '%' stay unambiguous (ADVICE r16).
  */
class MetaTablesSpec extends SparkSpec {
  import spark.implicits._

  private def freshNs(tag: String): String = {
    val ns = s"$tag${System.nanoTime() % 1000000}"
    spark.sql(s"CREATE NAMESPACE cow.$ns")
    ns
  }

  private def qroot(root: String): String =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(new Path(root)).toString

  private def goCold(): Unit = {
    CowTable.clearManifestMemoForTest()
    CowTable.clearMetaMemoForTest()
  }

  test("DESCRIBE FILES is a lazy relation: no collecting command in " +
      "the plan, a LIMIT composes, and a cold run materializes no " +
      "entry list driver-side") {
    val ns = freshNs("mtd")
    val root = s"${spark.conf.get("spark.sql.catalog.cow.warehouse")}/$ns/t"
    spark.sql(s"CREATE TABLE cow.$ns.t (id BIGINT, p BIGINT) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, id % 10 FROM range(1000)")
    goCold()
    val e0 = Option(CowTable.entriesMaterialized.get(qroot(root)))
      .getOrElse(0L)
    val mp0 = Option(CowTable.manifestParses.get(qroot(root)))
      .getOrElse(0L)
    val df = spark.sql(s"DESCRIBE FILES cow.$ns.t")
    // not a command: the analyzed plan must carry no runnable command
    // (the old shape collected O(table-files) rows into a LeafCommand)
    val analyzed = df.queryExecution.analyzed
    assert(!analyzed.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.command.LeafRunnableCommand]),
      s"DESCRIBE FILES must be a relation, got:\n$analyzed")
    val one = df.limit(1).collect()
    assert(one.length == 1, "LIMIT must compose on the statement result")
    assert(Option(CowTable.entriesMaterialized.get(qroot(root)))
        .getOrElse(0L) == e0 &&
      Option(CowTable.manifestParses.get(qroot(root))).getOrElse(0L) == mp0,
      "a cold DESCRIBE FILES must not materialize the entry list or " +
        "run a full parse — the listing flows through the engine")
    // full statement still serves every row with exact totals
    val rows = df.collect()
    assert(rows.map(_.getAs[Long]("n_rows")).sum == 1000L)
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }

  test("cow.ns.t.files and cow.ns.t.partitions are queryable named " +
      "metadata tables; partitions stays EXACT under MOR debt " +
      "(round-18: totals equal a grouped count over the read)") {
    val ns = freshNs("mtn")
    val root = s"${spark.conf.get("spark.sql.catalog.cow.warehouse")}/$ns/t"
    spark.sql(s"CREATE TABLE cow.$ns.t (id BIGINT, p BIGINT) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, id % 4 FROM range(400)")
    // $files: aggregable through plain SQL
    val n = spark.sql(
      s"SELECT CAST(sum(n_rows) AS BIGINT) FROM cow.$ns.t.files " +
        "WHERE kind = 'data'").as[Long].head()
    assert(n == 400L, s"files metadata table must total the rows, got $n")
    // $partitions: per-partition totals agree with a grouped count
    val got = spark.sql(
      s"SELECT p, n_rows FROM cow.$ns.t.partitions ORDER BY p")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq("0", "1", "2", "3").map((_, 100L)),
      s"partitions metadata table totals wrong: $got")
    // joinable with the base table (a relation, not a command)
    val joined = spark.sql(
      s"SELECT count(*) FROM cow.$ns.t b JOIN cow.$ns.t.partitions m " +
        "ON CAST(b.p AS STRING) = m.p WHERE m.n_rows = 100")
      .as[Long].head()
    assert(joined == 400L, "metadata tables must join like relations")
    // snapshot ISOLATION: a resolved metadata frame pins the snapshot
    // it was loaded at — a commit landing after resolution is
    // invisible to it (review r17)
    val pinned = spark.sql(
      s"SELECT CAST(sum(n_rows) AS BIGINT) FROM cow.$ns.t.files " +
        "WHERE kind = 'data'")
    spark.sql(s"INSERT INTO cow.$ns.t VALUES (9999, 0)")
    assert(pinned.as[Long].head() == 400L,
      "a resolved files frame must not see a later commit")
    assert(spark.sql(s"SELECT CAST(sum(n_rows) AS BIGINT) " +
      s"FROM cow.$ns.t.files WHERE kind = 'data'").as[Long].head()
      == 401L, "a fresh reference resolves the new head")
    // TIME-TRAVELED metadata: the old snapshot's listing (the frames
    // are id-pinned, so VERSION AS OF is just a different pin)
    assert(spark.sql(s"SELECT CAST(sum(n_rows) AS BIGINT) " +
      s"FROM cow.$ns.t.files VERSION AS OF 2 WHERE kind = 'data'")
      .as[Long].head() == 400L,
      "a time-traveled files table must list the old snapshot")
    // $history: commit log queryable as a relation (Iceberg's shape)
    val hist = spark.sql(s"SELECT snapshot_id, n_rows " +
      s"FROM cow.$ns.t.history ORDER BY snapshot_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(hist == Seq((1L, 0L), (2L, 400L), (3L, 401L)),
      s"history metadata table must replay the commit log: $hist")
    // MOR debt → partitions STAYS exact (round-18): debt is the steady
    // state under continuous ingest, so the surface recomputes the
    // debt partitions' rows from the subtracted read instead of
    // refusing; totals must equal a grouped count over the table
    require(CowTable.deleteWhereDv(spark, root, 4L, col("id") < 10L,
      keep = 10))
    val underDebt = spark.sql(
      s"SELECT p, n_rows FROM cow.$ns.t.partitions ORDER BY p")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val direct = spark.sql(
      s"SELECT CAST(p AS STRING) AS p, CAST(count(*) AS BIGINT) AS n " +
        s"FROM cow.$ns.t GROUP BY p ORDER BY p")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(underDebt == direct,
      s"partitions under debt must equal a grouped count: " +
        s"$underDebt vs $direct")
    assert(underDebt == Seq(("0", 98L), ("1", 97L), ("2", 98L),
      ("3", 98L)), s"wrong debt-subtracted totals: $underDebt")
    // $files still serves (a file listing is exact regardless of debt)
    assert(spark.sql(s"SELECT count(*) FROM cow.$ns.t.files " +
      "WHERE kind = 'dv'").as[Long].head() >= 1L)
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }

  test("partitions under debt rescans ONLY the debt partitions: exact " +
      "totals with O(debt) cold entry materialization") {
    val ns = freshNs("mtp")
    val root = s"${spark.conf.get("spark.sql.catalog.cow.warehouse")}/$ns/t"
    spark.sql(s"CREATE TABLE cow.$ns.t (id BIGINT, p BIGINT) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, id % 4 FROM range(400)")
    // debt confined to partition p=1 (one masked row)
    require(CowTable.deleteWhereDv(spark, root, 3L, col("id") === 5L,
      keep = 10))
    goCold()
    val e0 = Option(CowTable.entriesMaterialized.get(qroot(root)))
      .getOrElse(0L)
    val got = spark.sql(
      s"SELECT p, n_rows FROM cow.$ns.t.partitions ORDER BY p")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("0", 100L), ("1", 99L), ("2", 100L),
      ("3", 100L)), s"wrong scoped debt totals: $got")
    val delta = Option(CowTable.entriesMaterialized.get(qroot(root)))
      .getOrElse(0L) - e0
    // the exact-count rescan pushes the debt partitions' filter into
    // the lazy index: only p=1's data file plus the sidecars may
    // materialize driver-side (the manifest-side totals stay in the
    // distributed frame and never count here)
    assert(delta <= 4L,
      s"debt rescan must be partition-scoped: materialized $delta " +
        "entries for a one-partition debt")
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }

  test("DESCRIBE DETAIL cold equals warm and is HEAD-ONLY: no full " +
      "manifest parse, the tombstone/DV split from the sidecar slice") {
    val ns = freshNs("mdd")
    val root = s"${spark.conf.get("spark.sql.catalog.cow.warehouse")}/$ns/t"
    spark.sql(s"CREATE TABLE cow.$ns.t (id BIGINT, p BIGINT) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, id % 5 FROM range(500)")
    require(CowTable.deleteWhereDv(spark, root, 3L, col("id") < 7L,
      keep = 10))
    val warm = spark.sql(s"DESCRIBE DETAIL cow.$ns.t").collect().head
    goCold()
    val mp0 = Option(CowTable.manifestParses.get(qroot(root)))
      .getOrElse(0L)
    val cold = spark.sql(s"DESCRIBE DETAIL cow.$ns.t").collect().head
    assert(cold == warm,
      s"cold head-total DETAIL must equal the warm parse: $cold vs $warm")
    assert(cold.getAs[Long]("num_dv_files") >= 1L,
      "the sidecar split must surface the DV debt")
    assert(Option(CowTable.manifestParses.get(qroot(root)))
        .getOrElse(0L) == mp0,
      "a cold DESCRIBE DETAIL must be head+sidecars only — no full " +
        "manifest parse")
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }

  test("a manifest entry of kind 'tombstone' (the retired key and " +
      "full-row delete form) is refused by reads, relationFor and " +
      "DESCRIBE DETAIL") {
    val ns = freshNs("mtt")
    val root = s"${spark.conf.get("spark.sql.catalog.cow.warehouse")}/$ns/t"
    spark.sql(s"CREATE TABLE cow.$ns.t (id BIGINT, p BIGINT) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, id % 2 FROM range(10)")
    // rewrite the head manifest as an older release left it after a
    // merge-on-read delete: one extra entry of kind "tombstone",
    // counted in the head's non-data total
    val head = CowTable.committedIds(spark, root).last
    val dir = new Path(s"$root/manifest-$head")
    val forged = java.nio.file.Files.createTempDirectory("mtt_forged")
      .resolve("m").toString
    val rows = spark.read.parquet(dir.toString)
    rows.unionByName(rows.where(col("path").isNotNull).limit(1)
        .withColumn("path", lit(s"batch-$head/__tomb/part-0.parquet"))
        .withColumn("kind", lit("tombstone")))
      .withColumn("nondata_files", lit(1L))
      .coalesce(1).write.parquet(forged)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(d: Path) = fs.listStatus(d).toSeq.map(_.getPath)
      .filterNot(q => q.getName.startsWith("_") || q.getName.startsWith("."))
    dataFiles(dir).foreach(fs.delete(_, false))
    dataFiles(new Path(forged)).foreach(q =>
      fs.rename(q, new Path(dir, q.getName)))
    def refused(what: String)(body: => Any): Unit = {
      goCold()
      val e = intercept[Exception](body)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("kind 'tombstone'")),
        s"$what must refuse the tombstone entry by name, got: $e")
    }
    refused("CowTable.read")(CowTable.read(spark, root).get.collect())
    refused("CowV2.read")(
      graft.sinks.CowV2.read(spark, root).get.collect())
    refused("a catalog SELECT")(
      spark.sql(s"SELECT * FROM cow.$ns.t").collect())
    refused("format(\"cow\") (relationFor)")(
      spark.read.format("cow").load(root).collect())
    refused("DESCRIBE DETAIL")(
      spark.sql(s"DESCRIBE DETAIL cow.$ns.t").collect())
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }

  test("partition strings render hive-escaped: '/', '=' and '%' in a " +
      "value stay unambiguous in DESCRIBE FILES, SHOW PARTITIONS and " +
      "the files metadata table") {
    val ns = freshNs("mte")
    spark.sql(s"CREATE TABLE cow.$ns.t (id BIGINT, k STRING) " +
      "PARTITIONED BY (k)")
    spark.sql(s"INSERT INTO cow.$ns.t VALUES (1, 'a/b=c%d'), (2, 'plain')")
    val want = "k=" + org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.escapePathName("a/b=c%d")
    val df = spark.sql(s"DESCRIBE FILES cow.$ns.t")
      .select("partition").as[String].collect().toSet
    assert(df.contains(want) && df.contains("k=plain"),
      s"DESCRIBE FILES must hive-escape partition values: $df")
    assert(!df.exists(s => s.contains("a/b")),
      s"raw '/' in a value would make the path string ambiguous: $df")
    val sp = spark.sql(s"SHOW PARTITIONS cow.$ns.t")
      .as[String].collect().toSet
    assert(sp == Set(want, "k=plain"),
      s"SHOW PARTITIONS must agree with the files rendering: $sp")
    val mt = spark.sql(s"SELECT partition FROM cow.$ns.t.files")
      .as[String].collect().toSet
    assert(mt == df, "named files table and DESCRIBE FILES must agree")
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }
}
