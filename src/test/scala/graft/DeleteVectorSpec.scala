package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sinks.{CowRange, CowTable, CowV2}

/** [[graft.sinks.CowTable.deleteWhereDv]] — merge-on-read predicate
  * deletes: matched rows become positional deletion vectors instead of
  * partition rewrites; readers mask them inside the scan.
  */
class DeleteVectorSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"dv_$tag").toString

  private def base = spark.range(2000)
    .select($"id", ($"id" % 4).as("part"),
      concat(lit("row-"), $"id").as("name"),
      ($"id" * 7 % 1000).as("score"))

  test("deleteWhereDv equals deleteWhere's result while writing " +
      "deletion vectors instead of rewriting partitions") {
    val cow = tmp("cow"); val mor = tmp("mor")
    CowTable.commitFull(base, cow, 1L, Seq("part"), keep = 10)
    CowTable.commitFull(base, mor, 1L, Seq("part"), keep = 10)
    val cond = $"score" < 50 // scattered across every partition
    CowTable.deleteWhere(spark, cow, 2L, cond, keep = 10)
    CowTable.deleteWhereDv(spark, mor, 2L, cond, keep = 10)
    val a = CowTable.read(spark, cow).get.collect().toSet
    val b = CowTable.read(spark, mor).get.collect().toSet
    assert(a == b, "MOR predicate delete diverged from the COW rewrite")
    val mm = CowTable.currentManifest(spark, mor).get
    assert(mm.dvs.nonEmpty, "no deletion vectors written")
    // every data file of the base commit carried over by REFERENCE
    assert(mm.files.forall(_.path.startsWith("batch-1/")),
      "MOR delete rewrote data files")
    // the economics: sidecar bytes well under the rewrite the COW
    // path paid (which rewrote all four partitions for this predicate)
    val cowM = CowTable.currentManifest(spark, cow).get
    val rewritten = cowM.files.filter(_.path.startsWith("batch-2/"))
      .map(_.bytes).sum
    val dv = mm.dvs.map(_.bytes).sum
    assert(dv < rewritten,
      s"sidecars ($dv B) not cheaper than the rewrite ($rewritten B)")
    // and the planner path masks them identically
    assert(CowV2.read(spark, mor).get.collect().toSet == a)
  }

  test("a predicate DV delete removes rows with NULL data columns") {
    val root = tmp("nulls")
    val rows = Seq(
      (1L, 0L, Some("keep"), 10L),
      (2L, 0L, None, 999L), // matched AND null-valued
      (3L, 1L, Some("keep2"), 11L))
      .toDF("id", "part", "name", "score")
    CowTable.commitFull(rows, root, 1L, Seq("part"), keep = 10)
    CowTable.deleteWhereDv(spark, root, 2L, $"score" === 999L, keep = 10)
    val got = CowTable.read(spark, root).get
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 3L),
      s"null-valued matched row survived its delete: $got")
  }

  test("a duplicate of a matched row is deleted in every copy — the " +
      "DELETE WHERE multiset contract") {
    val root = tmp("dups")
    val rows = Seq((1L, 0L, "dup", 999L), (1L, 0L, "dup", 999L),
      (2L, 0L, "other", 5L)).toDF("id", "part", "name", "score")
    CowTable.commitFull(rows, root, 1L, Seq("part"), keep = 10)
    CowTable.deleteWhereDv(spark, root, 2L, $"score" === 999L, keep = 10)
    assert(CowTable.read(spark, root).get.count() == 1)
  }

  test("prune hint skips candidate files; foldTombstones retires the " +
      "debt with unchanged content") {
    val root = tmp("fold")
    // range-clustered so the prune hint can drop files
    CowTable.commitFull(base.repartitionByRange(8, $"id"), root, 1L, Nil,
      sortCols = Seq("id"), keep = 10)
    CowTable.deleteWhereDv(spark, root, 2L, $"id" >= 1900L,
      prune = Seq(CowRange("id", Some("1900"), None)), keep = 10)
    val before = CowTable.read(spark, root).get.collect().toSet
    assert(before.size == 1900)
    assert(CowTable.foldTombstones(spark, root, 3L, keep = 10))
    val m = CowTable.currentManifest(spark, root).get
    assert(m.dvs.isEmpty, "fold left deletion vectors outstanding")
    assert(CowTable.read(spark, root).get.collect().toSet == before,
      "fold changed visible content")
  }

  test("keyed and predicate DV deletes compose on one table, on the " +
      "direct and the planner read") {
    val root = tmp("mixed")
    val rows = spark.range(100).select($"id", ($"id" % 2).as("part"),
      concat(lit("n"), $"id").as("name"), ($"id" % 10).as("score"))
    CowTable.commitFull(rows, root, 1L, Seq("part"), keep = 10)
    // a keyed delete: (id, part) only
    CowTable.deleteKeysMor(spark, root, 2L,
      spark.range(5).select($"id", ($"id" % 2).as("part")),
      Seq("id"), Seq("part"), keep = 10)
    // then a predicate delete over the already-masked state
    CowTable.deleteWhereDv(spark, root, 3L, $"score" === 7L, keep = 10)
    val want = (0L until 100L)
      .filterNot(_ < 5L).filterNot(_ % 10 == 7L).toSeq
    val got = CowTable.read(spark, root).get
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == want,
      "composed deletes diverged (direct read)")
    val v2 = CowV2.read(spark, root).get
      .select("id").as[Long].collect().sorted.toSeq
    assert(v2 == want,
      "composed deletes diverged (planner read)")
  }

  test("DROP COLUMN with outstanding DV debt reads exactly like the COW " +
      "delete then drop, before and after a fold") {
    val cow = tmp("dropcow"); val mor = tmp("dropmor")
    CowTable.commitFull(base, cow, 1L, Seq("part"), keep = 10)
    CowTable.commitFull(base, mor, 1L, Seq("part"), keep = 10)
    CowTable.deleteWhere(spark, cow, 2L,
      $"score" < 50 || $"id".isin(7L, 11L), keep = 10)
    assert(CowTable.deleteWhereDv(spark, mor, 2L, $"score" < 50, keep = 10))
    assert(CowTable.deleteKeysMor(spark, mor, 3L,
      Seq((7L, 3L), (11L, 3L)).toDF("id", "part"), Seq("id"), Seq("part"),
      keep = 10))
    assert(CowTable.dropColumn(spark, cow, 3L, "name", keep = 10))
    assert(CowTable.dropColumn(spark, mor, 4L, "name", keep = 10))
    val mm = CowTable.currentManifest(spark, mor).get
    assert(mm.dvs.nonEmpty && !mm.schema.fieldNames.contains("name"),
      "the drop must commit over the outstanding vectors")
    def rows(root: String) = CowTable.read(spark, root).get
      .select("id", "part", "score").as[(Long, Long, Long)]
      .collect().sorted.toSeq
    val want = rows(cow)
    assert(want.size == 2000 - base.where($"score" < 50 ||
      $"id".isin(7L, 11L)).count())
    assert(rows(mor) == want, "DV-masked read diverged after DROP COLUMN")
    assert(CowV2.read(spark, mor).get.select("id", "part", "score")
      .as[(Long, Long, Long)].collect().sorted.toSeq == want)
    assert(CowTable.foldTombstones(spark, mor, 5L, keep = 10))
    assert(rows(mor) == want, "fold after DROP COLUMN changed the rows")
  }

  test("no-match predicate leaves the id unconsumed and no orphan " +
      "batch dir; changeLog=true serves the matched rows as pure-D") {
    val root = tmp("log")
    CowTable.commitFull(base, root, 1L, Seq("part"), keep = 10,
      changeLogKeys = Seq("id"))
    CowTable.deleteWhereDv(spark, root, 2L, $"score" === -1L, keep = 10)
    assert(CowTable.committedIds(spark, root) == Seq(1L),
      "empty delete must not commit")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/batch-2")),
      "empty delete left an orphan batch dir")
    CowTable.deleteWhereDv(spark, root, 3L, $"score" < 10L, keep = 10,
      changeLog = true)
    val log = CowTable.changeLogFor(spark, root, 3L).get
    assert(log.where($"oper" =!= "D").isEmpty, "sidecar not pure-D")
    val want = base.where($"score" < 10L).select("id").as[Long]
      .collect().sorted.toSeq
    assert(log.select("id").as[Long].collect().sorted.toSeq == want)
  }
}
