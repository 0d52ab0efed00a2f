package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sinks.{CowRange, CowTable, CowV2}

/** [[graft.sinks.CowTable.updateWhereDv]] — merge-on-read UPDATE:
  * old images are masked by positional deletion vectors, new images
  * append, zero partitions rewritten. Positions name exact old rows,
  * so a new image can never cancel another row: exactness needs no
  * collision probe and no copy-on-write fallback.
  */
class UpdateMorSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("updmor").toString

  private def base = spark.range(2000)
    .select($"id", ($"id" % 4).as("part"),
      concat(lit("n"), $"id").as("name"), ($"id" % 100).as("score"))

  test("MOR update equals the COW update while appending O(changed) " +
      "instead of rewriting partitions; planner path agrees") {
    val cow = tmp(); val mor = tmp()
    CowTable.commitFull(base, cow, 1L, Seq("part"), keep = 10)
    CowTable.commitFull(base, mor, 1L, Seq("part"), keep = 10)
    val cond = $"score" < 5 // scattered across all partitions
    val set = Map("name" -> concat(lit("U-"), col("id")))
    CowTable.updateWhere(spark, cow, 2L, cond, set, keep = 10)
    CowTable.updateWhereDv(spark, mor, 2L, cond, set, keep = 10)
    val a = CowTable.read(spark, cow).get.collect().toSet
    val b = CowTable.read(spark, mor).get.collect().toSet
    assert(a == b, "MOR update diverged from the COW update")
    assert(CowV2.read(spark, mor).get.collect().toSet == a)
    val mm = CowTable.currentManifest(spark, mor).get
    assert(mm.dvs.nonEmpty, "no deletion vectors written")
    // base data files all carried by reference; batch-2 holds only the
    // O(changed) appends
    assert(mm.files.exists(_.path.startsWith("batch-1/")))
    val appended = mm.files.filter(_.path.startsWith("batch-2/"))
    assert(appended.map(_.rows).sum == base.where($"score" < 5).count())
  }

  test("rows the SET leaves bit-identical are not touched — and do " +
      "not vanish through a self-cancelling tombstone pair") {
    val root = tmp()
    CowTable.commitFull(base, root, 1L, Seq("part"), keep = 10)
    // SET score = 0 WHERE score <= 0: every matched row is already 0,
    // so the update changes nothing and commits nothing
    CowTable.updateWhereDv(spark, root, 2L, $"score" <= 0L,
      Map("score" -> lit(0L)), keep = 10)
    assert(CowTable.committedIds(spark, root) == Seq(1L),
      "an all-no-op update must not even commit")
    assert(CowTable.read(spark, root).get.count() == 2000)
    // mixed batch: some rows change, some are already at the target
    CowTable.updateWhereDv(spark, root, 3L, $"score" <= 1L,
      Map("score" -> lit(0L)), keep = 10)
    val got = CowTable.read(spark, root).get
    assert(got.count() == 2000, "no-op rows vanished")
    assert(got.where($"score" === 0L).count() ==
      base.where($"score" <= 1L).count())
  }

  test("a new image equal to another matched row's old image keeps " +
      "both rows: positions cannot collide") {
    val root = tmp()
    // two matched rows where the SET maps row 1 onto row 2's old image:
    // (1,'x',10) -> (1,'x',20) == old image of... needs FULL-row
    // equality, so craft ids equal too: use a non-key table
    val rows = Seq(
      (0L, "a", 10L), (0L, "a", 20L), (1L, "b", 5L))
      .toDF("part", "name", "score")
    CowTable.commitFull(rows, root, 1L, Seq("part"), keep = 10)
    // UPDATE SET score = score + 10 WHERE part = 0: new image of
    // ('a',10) is ('a',20) — exactly the other matched row's old image
    CowTable.updateWhereDv(spark, root, 2L, $"part" === 0L,
      Map("score" -> (col("score") + 10L)), keep = 10)
    val got = CowTable.read(spark, root).get
      .select("part", "name", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      .sorted
    assert(got == Seq((0L, "a", 20L), (0L, "a", 30L), (1L, "b", 5L)),
      s"collision case returned wrong multiset: $got")
    // and it stayed merge-on-read: masked positions, no rewrite
    val m = CowTable.currentManifest(spark, root).get
    assert(m.dvs.nonEmpty && m.files.exists(_.path.startsWith("batch-1/")),
      "the colliding batch should still mask positions and append")
  }

  test("a new image equal to a row a PRIOR merge-on-read delete " +
      "removed stays visible — no silent row loss") {
    // predicate-delete variant: delete (0,'a',10), then update the
    // surviving row so its new image IS the deleted row
    val root = tmp()
    CowTable.commitFull(
      Seq((0L, "a", 10L), (0L, "b", 20L)).toDF("part", "name", "score"),
      root, 1L, Seq("part"), keep = 10)
    CowTable.deleteWhereDv(spark, root, 2L, $"name" === "a", keep = 10)
    assert(CowTable.currentManifest(spark, root).get.dvs.nonEmpty)
    CowTable.updateWhereDv(spark, root, 3L, $"name" === "b",
      Map("name" -> lit("a"), "score" -> lit(10L)), keep = 10)
    val got = CowTable.read(spark, root).get
      .select("part", "name", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, "a", 10L)),
      s"prior delete ate the fresh append: $got")

    // keyed-delete variant: the new image carries the key a prior
    // keyed delete removed
    val rk = tmp()
    CowTable.commitFull(
      Seq((1L, 0L, "x"), (2L, 0L, "y")).toDF("id", "part", "name"),
      rk, 1L, Seq("part"), keep = 10)
    CowTable.deleteKeysMor(spark, rk, 2L,
      Seq((1L, 0L)).toDF("id", "part"), Seq("id"), Seq("part"),
      keep = 10)
    CowTable.updateWhereDv(spark, rk, 3L, $"id" === 2L,
      Map("id" -> lit(1L)), keep = 10)
    val gotK = CowTable.read(spark, rk).get
      .select("id", "name").as[(Long, String)].collect().toSeq
    assert(gotK == Seq((1L, "y")),
      s"prior keyed delete ate the fresh append: $gotK")
  }

  test("prune hint + changeLog: the sidecar carries D(old)/I(new) " +
      "pairs and foldTombstones retires the debt") {
    val root = tmp()
    CowTable.commitFull(base.repartitionByRange(8, $"id"), root, 1L,
      Nil, sortCols = Seq("id"), keep = 10, changeLogKeys = Seq("id"))
    CowTable.updateWhereDv(spark, root, 2L, $"id" >= 1950L,
      Map("name" -> lit("TAIL")),
      prune = Seq(CowRange("id", Some("1950"), None)),
      keep = 10, changeLogKeys = Seq("id"))
    val log = CowTable.changeLogFor(spark, root, 2L).get
    assert(log.where($"oper" === "D").count() == 50)
    assert(log.where($"oper" === "I").count() == 50)
    assert(log.where($"oper" === "I" && $"name" === "TAIL").count() == 50)
    val before = CowTable.read(spark, root).get.collect().toSet
    assert(CowTable.foldTombstones(spark, root, 3L, keep = 10))
    assert(CowTable.read(spark, root).get.collect().toSet == before)
  }
}
