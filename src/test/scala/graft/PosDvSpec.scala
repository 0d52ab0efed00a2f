package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sinks.CowTable

/** Positional deletion vectors ([[graft.sinks.CowTable.deleteWhereDv]],
  * [[graft.sinks.CowTable.deleteKeysMor]],
  * [[graft.sinks.CowTable.updateWhereDv]]): (file, row-position)
  * sidecars applied as a codegen'd scan-stage mask, pinned three ways:
  * results identical to the COW twin, sidecar bytes ≪ the bytes a COW
  * rewrite copies on a wide table, and the read plan free of any join.
  */
class PosDvSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"posdv_$tag").toString

  /** 2000 rows, ~1 KB of INCOMPRESSIBLE payload each (chained sha2
    * hex — a constant pad would deflate the rewritten rows under
    * snappy and understate their true row-width cost), partitioned —
    * including a SPACE-valued partition so the file-path identity
    * survives URI encoding end to end.
    */
  private def wide = spark.range(2000).select(
    $"id",
    concat(lit("seg "), ($"id" % 4).cast("string")).as("seg"),
    ($"id" % 10).as("k"),
    concat((0 until 16).map(i =>
      sha2(concat($"id".cast("string"), lit(s"-$i")), 256)): _*).as("body"))

  private def sidecarBytes(root: String, kind: String): Long =
    CowTable.currentManifest(spark, root).get.allFiles
      .filter(_.kind == kind).map(_.bytes).sum

  test("deleteWhereDv equals the COW deleteWhere result, writes " +
      "position-sized sidecars (≪ the COW rewrite on a wide " +
      "table), and the read plan has NO join") {
    val dv = tmp("dv"); val cow = tmp("cow")
    Seq(dv, cow).foreach(r =>
      CowTable.commitFull(wide, r, 1L, Seq("seg"), keep = 10))
    val cond = $"k" < 3 // 600 of 2000 rows, spread over every file
    CowTable.deleteWhereDv(spark, dv, 2L, cond, keep = 10)
    CowTable.deleteWhere(spark, cow, 2L, cond, keep = 10)
    val gotDv = CowTable.read(spark, dv).get
    val want = CowTable.read(spark, cow).get
    assert(gotDv.count() == 1400 &&
      gotDv.exceptAll(want).isEmpty && want.exceptAll(gotDv).isEmpty,
      "DV delete diverged from the COW twin")
    // byte economics: positions, not row bytes
    val dvBytes = sidecarBytes(dv, CowTable.KindDv)
    val rewritten = CowTable.currentManifest(spark, cow).get.files
      .filter(_.path.startsWith("batch-2/")).map(_.bytes).sum
    assert(dvBytes > 0 && dvBytes * 10 < rewritten,
      s"DV sidecar ($dvBytes B) should be ≪ the COW rewrite " +
        s"($rewritten B)")
    // plan shape: the mask is a scan-stage filter — no join of any
    // kind in the read plan
    val dvPlan = gotDv.queryExecution.executedPlan.toString
    assert(!dvPlan.toLowerCase.contains("join"),
      s"DV read plan must be join-free:\n$dvPlan")
    assert(dvPlan.contains("graft_dv_deleted"),
      "DV read plan should carry the scan-stage mask predicate")
  }

  test("DV deletes compose incrementally, with keyed deletes, and " +
      "with data-skipping reads; fold retires the debt") {
    val root = tmp("mix")
    CowTable.commitFull(wide, root, 1L, Seq("seg"), keep = 10)
    CowTable.deleteWhereDv(spark, root, 2L, $"k" === 0, keep = 10)
    // a second DV delete scans the MASKED state — no double-marking
    CowTable.deleteWhereDv(spark, root, 3L, $"k" <= 1, keep = 10)
    assert(CowTable.read(spark, root).get.count() == 1600)
    // a keyed delete adds its own vectors next to the predicate ones
    val dvsBefore = CowTable.currentManifest(spark, root).get.dvs.size
    CowTable.deleteKeysMor(spark, root, 4L,
      Seq((5L, "seg 1")).toDF("id", "seg"), Seq("id"), Seq("seg"),
      keep = 10)
    val m = CowTable.currentManifest(spark, root).get
    assert(m.dvs.size > dvsBefore)
    assert(CowTable.read(spark, root).get.count() == 1599)
    // exactness guards: fast count refuses while debt is outstanding
    assert(CowTable.countFast(spark, root).isEmpty)
    // pruned read through the planner-integrated path stays masked
    val viaV2 = graft.sinks.CowV2.read(spark, root).get
      .where($"seg" === "seg 1").select("id").as[Long].collect().toSet
    val expect = CowTable.read(spark, root).get
      .where($"seg" === "seg 1").select("id").as[Long].collect().toSet
    assert(viaV2 == expect && !viaV2.exists(i => i % 10 <= 1) &&
      !viaV2.contains(5L))
    // time travel: the pre-delete snapshot still serves all rows
    assert(CowTable.readAt(spark, root, 1L).get.count() == 2000)
    // fold rewrites exactly the indebted partitions; state unchanged
    val before = CowTable.read(spark, root).get.orderBy("id", "k")
      .collect().toSeq
    assert(CowTable.foldTombstones(spark, root, 5L, keep = 10))
    val after = CowTable.currentManifest(spark, root).get
    assert(after.dvs.isEmpty)
    assert(CowTable.read(spark, root).get.orderBy("id", "k")
      .collect().toSeq == before)
    assert(CowTable.countFast(spark, root).contains(1599L))
  }

  test("updateWhereDv equals the COW updateWhere result: positions " +
      "mask the old images, new images append, base files carry") {
    val dv = tmp("udv"); val cow = tmp("ucow")
    Seq(dv, cow).foreach(r =>
      CowTable.commitFull(wide, r, 1L, Seq("seg"), keep = 10))
    val cond = $"k" < 2
    val set = Map("body" -> concat(lit("UPD:"), $"id".cast("string")))
    CowTable.updateWhereDv(spark, dv, 2L, cond, set, keep = 10)
    CowTable.updateWhere(spark, cow, 2L, cond, set, keep = 10)
    val got = CowTable.read(spark, dv).get
    val want = CowTable.read(spark, cow).get
    assert(got.count() == 2000 && got.exceptAll(want).isEmpty &&
      want.exceptAll(got).isEmpty)
    val m = CowTable.currentManifest(spark, dv).get
    assert(m.dvs.nonEmpty, "DV update must mask positionally")
    assert(m.files.count(_.path.startsWith("batch-1/")) ==
      CowTable.manifest(spark, dv, 1L).files.size,
      "DV update rewrote a base data file")
    // the old-image BYTES are gone from the write path: sidecar +
    // new images ≪ the data a COW rewrite of every touched partition
    // would copy (cond touches all partitions)
    val newBytes = m.dvs.map(_.bytes).sum +
      m.files.filter(_.path.startsWith("batch-2/")).map(_.bytes).sum
    assert(newBytes * 3 < m.files.map(_.bytes).sum,
      s"DV update wrote $newBytes B — not O(changed)")
    // history() reports the outstanding positional debt: dv_files > 0
    // marks n_rows as an upper bound
    val h = CowTable.history(spark, dv).orderBy("snapshot_id")
      .select("snapshot_id", "dv_files").as[(Long, Long)]
      .collect().toMap
    assert(h(1L) == 0L && h(2L) > 0L,
      s"history() must surface DV debt per snapshot: $h")
  }

  test("a new image equal to a DIFFERENT matched row's old image " +
      "stays on the DV path and is exact") {
    val root = tmp("ucollide")
    CowTable.commitFull(
      Seq((1L, 10L), (1L, 20L)).toDF("k", "v"), root, 1L, Nil, keep = 10)
    // both rows match; the first's new image (1,20) equals the
    // second's old image — an equality-based delete would cancel the
    // fresh append (lost row); positions cannot
    CowTable.updateWhereDv(spark, root, 2L, $"v" <= 20L,
      Map("v" -> ($"v" + 10L)), keep = 10)
    val m = CowTable.currentManifest(spark, root).get
    assert(m.dvs.nonEmpty,
      "the collision case must NOT have fallen back to a COW rewrite")
    assert(CowTable.read(spark, root).get.orderBy("v")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 20L), (1L, 30L)))
  }

  test("deleteKeysMor removes the CURRENT rows with the keys (≡ the " +
      "COW rewrite), null-safely, and a LATER append of a deleted key " +
      "survives") {
    val dv = tmp("kdv"); val cow = tmp("kcow")
    val base = Seq(
      (1L, "p0", 10L), (2L, "p0", 20L), (2L, "p1", 21L),
      (3L, "p1", 30L)).toDF("id", "pt", "v")
      .unionByName(Seq((Option.empty[Long], "p0", 99L))
        .toDF("id", "pt", "v"))
    Seq(dv, cow).foreach(r =>
      CowTable.commitFull(base, r, 1L, Seq("pt"), keep = 10))
    // keys carry the partition value (key-stable contract); includes a
    // NULL key — the match must be null-safe
    val keys = Seq((Some(2L), "p0"), (Some(2L), "p1"), (None, "p0"))
      .toDF("id", "pt")
    CowTable.deleteKeysMor(spark, dv, 2L, keys, Seq("id"), Seq("pt"),
      keep = 10)
    CowTable.deleteWhere(spark, cow, 2L,
      col("id").isin(2L) || col("id").isNull, keep = 10)
    val got = CowTable.read(spark, dv).get
    val want = CowTable.read(spark, cow).get
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty &&
      got.count() == 2,
      "positional keyed delete must equal the COW rewrite")
    val m = CowTable.currentManifest(spark, dv).get
    assert(m.dvs.nonEmpty &&
      m.files.size == CowTable.manifest(spark, dv, 1L).files.size,
      "keyed DV delete must mask positionally without rewriting")
    // a later append of a deleted key stays visible
    val fresh = Seq((2L, "p0", 200L)).toDF("id", "pt", "v")
    CowTable.commitAppend(fresh, dv, 3L, Seq("pt"), keep = 10)
    assert(CowTable.read(spark, dv).get
      .where($"v" === 200L).count() == 1,
      "a position mask must NOT swallow a later append of the key")
  }

  test("deleteKeysMor deletes a key only in the partition it names: " +
      "the same key in another partition stays") {
    val dv = tmp("kpart")
    val base = Seq((2L, "p0", 20L), (3L, "p0", 30L), (3L, "p1", 31L))
      .toDF("id", "pt", "v")
    CowTable.commitFull(base, dv, 1L, Seq("pt"), keep = 10)
    // both partitions are read (p0 for id 2, p1 for id 3), but id 3's
    // row in p0 is not named and must survive
    val keys = Seq((2L, "p0"), (3L, "p1")).toDF("id", "pt")
    assert(CowTable.deleteKeysMor(spark, dv, 2L, keys, Seq("id"),
      Seq("pt"), keep = 10))
    assert(CowTable.read(spark, dv).get.orderBy("v")
      .as[(Long, String, Long)].collect().toSeq == Seq((3L, "p0", 30L)),
      "a keyed delete must match on the key AND its partition")
  }

  test("re-deleting already-deleted rows is a no-op (id unconsumed) " +
      "and an unpartitioned table takes DV deletes too") {
    val root = tmp("noop")
    CowTable.commitFull(spark.range(100).toDF("id"), root, 1L, Nil,
      keep = 10)
    CowTable.deleteWhereDv(spark, root, 2L, $"id" < 10, keep = 10)
    assert(CowTable.read(spark, root).get.count() == 90)
    // every remaining candidate is visible-unmatched: no commit
    CowTable.deleteWhereDv(spark, root, 3L, $"id" < 10, keep = 10)
    assert(CowTable.committedIds(spark, root) == Seq(1L, 2L),
      "a no-match DV delete must leave the id unconsumed")
    // changelog form: pure-D sidecar of the matched rows
    CowTable.deleteWhereDv(spark, root, 3L, $"id" >= 95, keep = 10,
      changeLog = true)
    val log = CowTable.changeLogFor(spark, root, 3L).get
    assert(log.where($"oper" =!= "D").isEmpty &&
      log.select("id").as[Long].collect().toSet ==
        (95L until 100L).toSet)
    assert(CowTable.read(spark, root).get.count() == 85)
  }
}
