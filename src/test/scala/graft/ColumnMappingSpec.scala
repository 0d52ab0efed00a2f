package graft

import org.apache.spark.sql.functions._

import graft.sinks.CowTable

/** COLUMN MAPPING (round-13 verdict #3, Delta's name-mapping mode):
  * RENAME/DROP COLUMN are metadata-only — each column's PHYSICAL name
  * (its name at creation) is what data files store, fixed forever;
  * the manifest maps logical→physical and every read/write seam
  * translates at the file boundary. Carried files never rewrite.
  */
class ColumnMappingSpec extends SparkSpec {
  import spark.implicits._

  private def freshNs(tag: String): String = {
    val ns = s"$tag${System.nanoTime() % 1000000}"
    spark.sql(s"CREATE NAMESPACE cow.$ns")
    ns
  }

  private def rootOf(ns: String, t: String): String =
    s"${spark.conf.get("spark.sql.catalog.cow.warehouse")}/$ns/$t"

  test("RENAME COLUMN is metadata-only: zero data files rewritten, " +
      "old files serve the new name, filters/stats prune on it, time " +
      "travel serves the old name, writes after the rename compose") {
    val ns = freshNs("ren")
    spark.sql(s"CREATE TABLE cow.$ns.t (id BIGINT, amount BIGINT, " +
      "p BIGINT) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, id * 10, id % 2 " +
      "FROM range(20)")
    val root = rootOf(ns, "t")
    val preIds = CowTable.committedIds(spark, root)
    val prePaths = CowTable.currentManifest(spark, root).get
      .files.map(_.path).toSet
    spark.sql(s"ALTER TABLE cow.$ns.t RENAME COLUMN amount TO cents")
    val m = CowTable.currentManifest(spark, root).get
    assert(m.files.map(_.path).toSet == prePaths,
      "a rename must rewrite zero data files")
    assert(m.schema.fieldNames.toSeq == Seq("id", "cents", "p"))
    assert(m.colMap == Map("cents" -> "amount"))
    // old files serve the NEW name with the right values
    val t = spark.table(s"cow.$ns.t")
    assert(t.where($"cents" === 150L).select("id").as[Long]
      .head() == 15L)
    assert(t.agg(sum("cents")).as[Long].head() == (0 until 20)
      .map(_ * 10L).sum)
    // the manifest's stat keys re-keyed: skipping on the NEW name works
    assert(m.files.forall(f => f.mins.contains("cents") &&
      !f.mins.contains("amount")),
      "stats must re-key to the new logical name")
    // time travel BEFORE the rename serves the old name
    val old = spark.sql(
      s"SELECT * FROM cow.$ns.t VERSION AS OF ${preIds.last}")
    assert(old.columns.toSeq == Seq("id", "amount", "p"))
    assert(old.agg(sum("amount")).as[Long].head() == (0 until 20)
      .map(_ * 10L).sum)
    // writes AFTER the rename land under the stable physical name and
    // compose with carried files
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, id * 10, id % 2 " +
      "FROM range(100, 110)")
    assert(spark.table(s"cow.$ns.t").count() == 30L)
    assert(spark.table(s"cow.$ns.t").where($"cents" >= 1000L)
      .count() == 10L)
    // DML through the renamed name
    spark.sql(s"UPDATE cow.$ns.t SET cents = 0 WHERE id = 15")
    assert(spark.table(s"cow.$ns.t").where($"id" === 15)
      .select("cents").as[Long].head() == 0L)
    spark.sql(s"DELETE FROM cow.$ns.t WHERE cents >= 1000")
    assert(spark.table(s"cow.$ns.t").count() == 20L)
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }

  test("PARTITION column rename re-points partCols and partition " +
      "pruning; replaceWhere over the new name works") {
    val ns = freshNs("prn")
    spark.sql(s"CREATE TABLE cow.$ns.t (id BIGINT, seg BIGINT) " +
      "PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, id % 4 FROM range(40)")
    val root = rootOf(ns, "t")
    val prePaths = CowTable.currentManifest(spark, root).get
      .files.map(_.path).toSet
    spark.sql(s"ALTER TABLE cow.$ns.t RENAME COLUMN seg TO bucket")
    val m = CowTable.currentManifest(spark, root).get
    assert(m.partCols == Seq("bucket"))
    assert(m.files.map(_.path).toSet == prePaths)
    assert(m.files.forall(_.part.contains("bucket")),
      "partition values must re-key to the new name")
    assert(spark.table(s"cow.$ns.t").where($"bucket" === 2).count() == 10L)
    // replaceWhere over the renamed partition column
    spark.range(500, 505).select($"id", lit(1L).as("bucket"))
      .writeTo(s"cow.$ns.t").overwrite($"bucket" === 1)
    val t = spark.table(s"cow.$ns.t")
    assert(t.where($"bucket" === 1).count() == 5L)
    assert(t.where($"bucket" =!= 1).count() == 30L)
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }

  test("DROP COLUMN is metadata-only; a re-ADD of the same name reads " +
      "NULL from old files (fresh physical name, no resurrection)") {
    val ns = freshNs("drp")
    spark.sql(s"CREATE TABLE cow.$ns.t (id BIGINT, secret STRING, " +
      "v BIGINT)")
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, concat('s', id), id " +
      "FROM range(10)")
    val root = rootOf(ns, "t")
    val prePaths = CowTable.currentManifest(spark, root).get
      .files.map(_.path).toSet
    spark.sql(s"ALTER TABLE cow.$ns.t DROP COLUMN secret")
    val m = CowTable.currentManifest(spark, root).get
    assert(m.files.map(_.path).toSet == prePaths,
      "a drop must rewrite zero data files")
    assert(m.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(m.retiredPhys == Seq("secret"))
    assert(spark.table(s"cow.$ns.t").columns.toSeq == Seq("id", "v"))
    // re-ADD the same logical name: fresh physical, so the old files'
    // dropped bytes can never resurrect — carried rows read NULL
    spark.sql(s"ALTER TABLE cow.$ns.t ADD COLUMNS (secret STRING)")
    val m2 = CowTable.currentManifest(spark, root).get
    assert(m2.colMap.get("secret").exists(_ != "secret"),
      s"re-added column must map to a fresh physical name, got " +
        s"${m2.colMap}")
    assert(spark.table(s"cow.$ns.t").where($"secret".isNotNull).isEmpty,
      "old files must read the re-added column as NULL, not the " +
        "dropped column's bytes")
    // new writes land the fresh physical and read back
    spark.sql(s"INSERT INTO cow.$ns.t VALUES (100, 5, 'fresh')")
    assert(spark.table(s"cow.$ns.t").where($"secret" === "fresh")
      .count() == 1L)
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }

  test("CHECK constraints re-point on rename and still enforce; " +
      "refusals: duplicate name, partition-col drop, constraint-" +
      "referenced drop") {
    val ns = freshNs("ck")
    spark.sql(s"CREATE TABLE cow.$ns.t (id BIGINT, qty BIGINT, " +
      "p BIGINT, CONSTRAINT pos CHECK (qty >= 0)) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, id, id % 2 " +
      "FROM range(5)")
    val root = rootOf(ns, "t")
    spark.sql(s"ALTER TABLE cow.$ns.t RENAME COLUMN qty TO amount")
    assert(CowTable.checkConstraints(spark, root)("pos")
      .contains("amount"), "constraint text must re-point")
    val e = intercept[Exception](spark.sql(
      s"INSERT INTO cow.$ns.t VALUES (9, -1, 1)"))
    assert(e.getMessage != null && e.getMessage.contains("pos"),
      s"re-pointed constraint must still enforce: $e")
    // duplicate target name refuses
    val e2 = intercept[Exception](spark.sql(
      s"ALTER TABLE cow.$ns.t RENAME COLUMN amount TO p"))
    assert(e2.getMessage.contains("already exists"), s"got $e2")
    // partition column drop refuses
    val e3 = intercept[Exception](spark.sql(
      s"ALTER TABLE cow.$ns.t DROP COLUMN p"))
    assert(e3.getMessage.contains("partition"), s"got $e3")
    // constraint-referenced drop refuses with the remedy
    val e4 = intercept[Exception](spark.sql(
      s"ALTER TABLE cow.$ns.t DROP COLUMN amount"))
    assert(e4.getMessage.contains("DROP CONSTRAINT"), s"got $e4")
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }

  test("RENAME constraint re-point is crash-ATOMIC (round-15 pending " +
      "protocol): a crash between manifest commit and adoption heals " +
      "on the next read; a pending whose id went to another statement " +
      "is discarded; an in-flight pending is left alone") {
    val ns = freshNs("pend")
    spark.sql(s"CREATE TABLE cow.$ns.t (id BIGINT, qty BIGINT, " +
      "CONSTRAINT pos CHECK (qty >= 0))")
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, id FROM range(5)")
    val root = rootOf(ns, "t")
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def writeFile(name: String, content: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(root, name), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    // real rename (adopts immediately); then MANUFACTURE the crash
    // state: old tsv restored, the repointed set parked as pending-3
    // (the rename's manifest id)
    spark.sql(s"ALTER TABLE cow.$ns.t RENAME COLUMN qty TO amount")
    val renameId = CowTable.currentManifest(spark, root).get.id
    val repointed = CowTable.checkConstraints(spark, root)("pos")
    assert(repointed.contains("amount"))
    writeFile("_checks.tsv", "pos\tqty >= 0") // the pre-rename set
    writeFile(s"_checks.tsv.pending-$renameId",
      s"#rename\tqty\tamount\npos\t$repointed")
    // heal-on-read: the committed rename's pending is adopted — no
    // observer sees the committed rename with un-repointed constraints
    val healed = CowTable.checkConstraints(spark, root)
    assert(healed("pos") == repointed, s"heal failed: $healed")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root,
      s"_checks.tsv.pending-$renameId")), "pending must be consumed")
    // a pending whose id was taken by ANOTHER statement (an append —
    // its schema still has no such rename) is discarded, current kept
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, id FROM range(5, 7)")
    val appendId = CowTable.currentManifest(spark, root).get.id
    writeFile(s"_checks.tsv.pending-$appendId",
      "#rename\tamount\tghost\npos\tghost >= 0")
    val kept = CowTable.checkConstraints(spark, root)
    assert(kept("pos") == repointed,
      s"a foreign-id pending must not be adopted: $kept")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root,
      s"_checks.tsv.pending-$appendId")), "stale pending must delete")
    // an in-flight pending (id above the head) is left untouched
    writeFile(s"_checks.tsv.pending-${appendId + 7}",
      "#rename\tamount\tfuture\npos\tfuture >= 0")
    assert(CowTable.checkConstraints(spark, root)("pos") == repointed)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root,
      s"_checks.tsv.pending-${appendId + 7}")),
      "an in-flight pending must be left for its owner")
    fs.delete(new org.apache.hadoop.fs.Path(root,
      s"_checks.tsv.pending-${appendId + 7}"), false)
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }

  test("MOR on a mapped table: positional-DV delete and tombstone " +
      "update resolve through the physical names") {
    val ns = freshNs("mor")
    spark.sql(s"CREATE TABLE cow.$ns.t (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, id FROM range(30)")
    val root = rootOf(ns, "t")
    spark.sql(s"ALTER TABLE cow.$ns.t RENAME COLUMN v TO w")
    // DV delete against the renamed column on CARRIED (physical) files
    val head = CowTable.currentManifest(spark, root).get.id
    assert(CowTable.deleteWhereDv(spark, root, head + 1, col("w") < 5))
    assert(CowTable.currentManifest(spark, root).get.dvs.nonEmpty)
    assert(spark.table(s"cow.$ns.t").count() == 25L)
    // MOR update: DV mask + append, both through the mapping
    assert(CowTable.updateWhereDv(spark, root, head + 2,
      col("w") === 10, Map("w" -> lit(1000L))))
    val t = spark.table(s"cow.$ns.t")
    assert(t.where($"w" === 1000L).count() == 1L)
    assert(t.where($"w" === 10L).isEmpty)
    assert(t.count() == 25L)
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }

  test("on a RENAMED table, written-derived overwrites still enforce " +
      "CHECKs and changelog sidecars carry real values (stub " +
      "manifests thread the column map)") {
    val ns = freshNs("stub")
    spark.sql(s"CREATE TABLE cow.$ns.t (id BIGINT, amount BIGINT, " +
      "p BIGINT, CONSTRAINT nonneg CHECK (amount >= 0)) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, id, id % 2 " +
      "FROM range(10)")
    spark.sql(s"ALTER TABLE cow.$ns.t RENAME COLUMN amount TO cents")
    val root = rootOf(ns, "t")
    // the written-derived overwrite validates CHECKs against the
    // WRITTEN files — which store the physical name; without the
    // mapped stub manifest the check read all-NULL and waved the
    // violation through
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val e = try intercept[Exception] {
      spark.range(1).select(lit(999L).as("id"),
          lit(-5L).as("cents"), lit(0L).as("p"))
        .writeTo(s"cow.$ns.t").overwritePartitions()
    } finally spark.conf.set(
      "spark.sql.sources.partitionOverwriteMode", "static")
    assert(e.getMessage != null && e.getMessage.contains("nonneg"),
      s"the renamed-column CHECK must still enforce on overwrites: $e")
    // changelog sidecars on a renamed table carry REAL values for the
    // renamed column (the sidecar's read-back stub maps physical)
    val head = CowTable.currentManifest(spark, root).get.id
    CowTable.commitAppend(
      spark.range(100, 103).select($"id", ($"id" * 2).as("cents"),
        lit(0L).as("p")),
      root, head + 1, Seq("p"), changeLogKeys = Seq("id"))
    val feed = spark.read.option("startSnapshot", (head + 1).toString)
      .table(s"cow.`$root`.changes")
    assert(feed.where($"cents".isNull).isEmpty &&
      feed.agg(sum("cents")).as[Long].head() == (100 to 102)
        .map(_ * 2L).sum,
      "sidecars must carry the renamed column's values, not NULL")
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }

  test("ALTER COLUMN FIRST/AFTER reorders metadata-only: star order " +
      "and positional INSERT follow, zero files rewrite, time travel " +
      "serves the old order") {
    val ns = freshNs("ord")
    spark.sql(s"CREATE TABLE cow.$ns.t (id BIGINT, v STRING, w BIGINT)")
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, 'a', id * 2 " +
      "FROM range(5)")
    val root = rootOf(ns, "t")
    val preIds = CowTable.committedIds(spark, root)
    val prePaths = CowTable.currentManifest(spark, root).get
      .files.map(_.path).toSet
    spark.sql(s"ALTER TABLE cow.$ns.t ALTER COLUMN w AFTER id")
    val m = CowTable.currentManifest(spark, root).get
    assert(m.schema.fieldNames.toSeq == Seq("id", "w", "v"))
    assert(m.files.map(_.path).toSet == prePaths,
      "a reorder must rewrite zero data files")
    // star expansion follows the new order; carried values intact
    val t = spark.table(s"cow.$ns.t")
    assert(t.columns.toSeq == Seq("id", "w", "v"))
    assert(t.where($"id" === 3).select("w").as[Long].head() == 6L)
    // time travel serves the pre-reorder order (checked before the
    // next INSERT's default retention prunes the old manifest)
    assert(spark.sql(
      s"SELECT * FROM cow.$ns.t VERSION AS OF ${preIds.last}")
      .columns.toSeq == Seq("id", "v", "w"))
    // positional INSERT binds by the NEW order
    spark.sql(s"INSERT INTO cow.$ns.t VALUES (100L, 200L, 'pos')")
    assert(spark.table(s"cow.$ns.t").where($"id" === 100)
      .select("w", "v").as[(Long, String)].head() == ((200L, "pos")))
    // FIRST, and reorder composes with rename on a mapped table
    spark.sql(s"ALTER TABLE cow.$ns.t RENAME COLUMN v TO label")
    spark.sql(s"ALTER TABLE cow.$ns.t ALTER COLUMN label FIRST")
    val t2 = spark.table(s"cow.$ns.t")
    assert(t2.columns.toSeq == Seq("label", "id", "w"))
    assert(t2.where($"label" === "pos").select("id").as[Long]
      .head() == 100L)
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }

  test("the named table STREAM serves carried physical files under " +
      "the logical schema after a rename") {
    val ns = freshNs("str")
    spark.sql(s"CREATE TABLE cow.$ns.t (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, id * 2 FROM range(10)")
    spark.sql(s"ALTER TABLE cow.$ns.t RENAME COLUMN v TO pay")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream.table(s"cow.$ns.t")
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cmstr").toString)
      .foreachBatch(
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) => {
          got.synchronized {
            got ++= b.select("id", "pay").collect()
              .map(r => (r.getLong(0), r.getLong(1)))
          }
          ()
        })
      .start()
    try {
      q.processAllAvailable()
      assert(got.synchronized(got.toSet) ==
        (0 until 10).map(i => (i.toLong, i * 2L)).toSet,
        s"stream must serve physical files under the logical name, " +
          s"got $got")
    } finally q.stop()
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }
}
