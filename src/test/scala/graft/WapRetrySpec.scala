package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sinks.{CowConcurrentCommitException, CowTable}

/** WAP publish auto-retry (round-18): a staged append has no read
  * dependency, so a commit landing between stage and publish re-points
  * the carried list at the new head and commits the ALREADY-STAGED
  * files under the next id — zero data rewrites when schema/mapping
  * are unchanged (directory rename), one rewrite FROM THE STAGED FILES
  * (never a source recompute) when the winner evolved. Sidecar-
  * carrying stages and destroyed stages still refuse loudly.
  */
class WapRetrySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    s"${java.nio.file.Files.createTempDirectory("wapretry")}/t"

  private def parquetNames(root: String, dir: String): Set[String] = {
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap(s =>
        if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.endsWith(".parquet"))
          Seq(s.getPath.getName)
        else Nil)
    walk(new Path(s"$root/$dir")).toSet
  }

  test("a commit landing between stage and publish re-points the " +
      "publish: the staged files land under the next id by RENAME " +
      "(same basenames), both writers' rows visible") {
    val root = tmp()
    CowTable.commitFull(Seq((0L, "base")).toDF("id", "v"), root, 1L, Nil)
    CowTable.stageAppend(Seq((7L, "mine")).toDF("id", "v"), root, 10L, Nil)
    val stagedNames = parquetNames(root, "batch-10")
    assert(stagedNames.nonEmpty)
    // the racer lands an ordinary append between stage and publish
    assert(CowTable.commitAppend(
      Seq((99L, "racer")).toDF("id", "v"), root, 2L, Nil, keep = 5))
    val landed = CowTable.publishStagedWithRetry(spark, root, 10L,
      keep = 5)
    assert(landed == 11L, s"re-pointed publish must land past the " +
      s"staged id, got $landed")
    val m = CowTable.manifest(spark, root, landed)
    val mine = m.files.filter(_.path.startsWith(s"batch-$landed/"))
      .map(_.path.split("/").last).toSet
    assert(mine == stagedNames,
      "re-pointed publish must move the staged files, not rewrite them")
    val rows = CowTable.read(spark, root).get
    assert(rows.count() == 3)
    assert(rows.where(col("v") === "mine").count() == 1)
    assert(rows.where(col("v") === "racer").count() == 1)
    // the stage is consumed
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(!fs.exists(new Path(s"$root/manifest-staged-10")))
    assert(!fs.exists(new Path(s"$root/_staged-10.meta")))
    assert(!fs.exists(new Path(s"$root/batch-10")))
  }

  test("a mapping-changing winner (DROP + re-ADD allocates a fresh " +
      "physical name) re-stages FROM THE STAGED FILES and still lands") {
    val root = tmp()
    CowTable.commitFull(
      Seq((0L, "base", Option(0.5))).toDF("id", "v", "w"), root, 1L, Nil)
    CowTable.stageAppend(
      Seq((7L, "mine", Option(1.5))).toDF("id", "v", "w"), root, 10L, Nil)
    val stagedNames = parquetNames(root, "batch-10")
    assert(CowTable.dropColumn(spark, root, 2L, "w", keep = 5))
    val landed = CowTable.publishStagedWithRetry(spark, root, 10L,
      keep = 5)
    assert(landed == 11L)
    val m = CowTable.manifest(spark, root, landed)
    assert(m.schema.fieldNames.toSeq == Seq("id", "v", "w"))
    assert(m.phys("w") != "w",
      s"re-added w must map to a fresh physical name, got ${m.colMap}")
    val mine = m.files.filter(_.path.startsWith(s"batch-$landed/"))
      .map(_.path.split("/").last).toSet
    assert(mine.intersect(stagedNames).isEmpty,
      "a mapping change must re-stage, not adopt the old layout")
    val rows = CowTable.read(spark, root).get
    assert(rows.count() == 2)
    // dropped-then-readded w: base's old value must NOT resurrect;
    // the staged row keeps its audited value
    assert(rows.where(col("v") === "base" && col("w").isNull).count() == 1)
    assert(rows.where(col("v") === "mine" && col("w") === 1.5).count() == 1)
  }

  test("a sidecar-carrying stage refuses the retry: its pure-insert " +
      "certification cannot be re-proved against a moved base") {
    val root = tmp()
    CowTable.commitFull(Seq((1L, "a")).toDF("id", "v"), root, 1L, Nil,
      changeLogKeys = Seq("id"))
    CowTable.stageAppend(Seq((7L, "mine")).toDF("id", "v"), root, 10L,
      Nil, changeLogKeys = Seq("id"))
    assert(CowTable.commitAppend(
      Seq((99L, "racer")).toDF("id", "v"), root, 2L, Nil, keep = 5,
      changeLogKeys = Seq("id")))
    intercept[CowConcurrentCommitException] {
      CowTable.publishStagedWithRetry(spark, root, 10L, keep = 5)
    }
    // the stage survives for discard + re-stage
    assert(CowTable.stagedIds(spark, root) == Seq(10L))
    CowTable.discardStaged(spark, root, 10L)
    assert(CowTable.read(spark, root).get.count() == 2)
  }

  test("DOUBLE race: an adopted-then-lost attempt re-adopts from the " +
      "MOVED paths — same basenames through two renames, zero rewrites") {
    val root = tmp()
    CowTable.commitFull(Seq((0L, "base")).toDF("id", "v"), root, 1L, Nil)
    CowTable.stageAppend(Seq((7L, "mine")).toDF("id", "v"), root, 10L, Nil)
    val stagedNames = parquetNames(root, "batch-10")
    assert(CowTable.commitAppend(
      Seq((99L, "racer1")).toDF("id", "v"), root, 2L, Nil, keep = 9))
    // one more racer lands INSIDE the first retry attempt (after its
    // adoption rename, before its manifest write) — the attempt loses
    // again and the second attempt must work from the moved paths
    val raced = new java.util.concurrent.atomic.AtomicInteger(0)
    val landed = CowTable.publishStagedWithRetryImpl(spark, root, 10L,
      keep = 9, maxAttempts = 4, onStagedForTest = () => {
        if (raced.incrementAndGet() == 1)
          assert(CowTable.commitAppend(
            Seq((98L, "racer2")).toDF("id", "v"), root, 3L, Nil,
            keep = 9))
      })
    assert(landed > 11L, s"second attempt must land past the first, " +
      s"got $landed")
    val m = CowTable.manifest(spark, root, landed)
    val mine = m.files.filter(_.path.startsWith(s"batch-$landed/"))
      .map(_.path.split("/").last).toSet
    assert(mine == stagedNames,
      "both retries must MOVE the staged files, never rewrite them")
    val rows = CowTable.read(spark, root).get
    assert(rows.count() == 4)
    assert(rows.where(col("v").isin("mine", "racer1", "racer2"))
      .count() == 3)
  }

  test("exhaustion RESTORES the stage: the adopted dir moves back " +
      "under the staged id and a later publish retry still lands") {
    val root = tmp()
    CowTable.commitFull(Seq((0L, "base")).toDF("id", "v"), root, 1L, Nil)
    CowTable.stageAppend(Seq((7L, "mine")).toDF("id", "v"), root, 10L, Nil)
    val stagedNames = parquetNames(root, "batch-10")
    assert(CowTable.commitAppend(
      Seq((99L, "racer1")).toDF("id", "v"), root, 2L, Nil, keep = 9))
    // the single allowed attempt adopts (rename to 11) then loses to
    // racer2 — exhaustion must put the files back under batch-10
    intercept[CowConcurrentCommitException] {
      CowTable.publishStagedWithRetryImpl(spark, root, 10L,
        keep = 9, maxAttempts = 1, onStagedForTest = () =>
          if (!CowTable.committedIds(spark, root).contains(3L))
            assert(CowTable.commitAppend(
              Seq((98L, "racer2")).toDF("id", "v"), root, 3L, Nil,
              keep = 9)),
        waitMs = 1)
    }
    assert(parquetNames(root, "batch-10") == stagedNames,
      "exhaustion must restore the staged dir")
    assert(CowTable.stagedIds(spark, root) == Seq(10L))
    // the stage is whole: a later retry (no competitor now) lands it
    val landed = CowTable.publishStagedWithRetryImpl(spark, root, 10L,
      keep = 9, maxAttempts = 8, onStagedForTest = () => (), waitMs = 1)
    assert(landed > 3L)
    assert(CowTable.read(spark, root).get.count() == 4)
  }

  test("a re-pointed publish and appendWithRetry both SKIP ids parked " +
      "by other pending stages — the parked stage's data survives and " +
      "publishes later") {
    val root = tmp()
    CowTable.commitFull(Seq((0L, "base")).toDF("id", "v"), root, 1L, Nil)
    CowTable.stageAppend(Seq((7L, "mine")).toDF("id", "v"), root, 10L, Nil)
    // a SECOND pending stage parked exactly where a naive retry id
    // (max(head, 10)+1 = 11) would land
    CowTable.stageAppend(Seq((8L, "other")).toDF("id", "v"), root, 11L,
      Nil)
    val otherNames = parquetNames(root, "batch-11")
    assert(CowTable.commitAppend(
      Seq((99L, "racer")).toDF("id", "v"), root, 2L, Nil, keep = 9))
    val landed = CowTable.publishStagedWithRetry(spark, root, 10L,
      keep = 9)
    assert(landed == 12L,
      s"retry must skip the parked stage id 11, got $landed")
    assert(parquetNames(root, "batch-11") == otherNames,
      "the parked stage's data must survive the retry")
    // an ordinary retried append ALSO skips the parked id
    val appended = CowTable.appendWithRetry(
      Seq((50L, "plain")).toDF("id", "v"), root, Nil, keep = 9)
    assert(appended == 13L,
      s"appendWithRetry must skip the parked stage id, got $appended")
    // and the parked stage still publishes (re-pointed past everything)
    val otherLanded = CowTable.publishStagedWithRetry(spark, root, 11L,
      keep = 9)
    assert(otherLanded == 14L)
    val rows = CowTable.read(spark, root).get
    assert(rows.count() == 5)
    assert(rows.where(col("v") === "other").count() == 1)
  }

  test("a stage whose batch dir was overwritten by a same-id racer " +
      "refuses loudly and NEVER touches the racer's committed files") {
    val root = tmp()
    CowTable.commitFull(Seq((0L, "base")).toDF("id", "v"), root, 1L, Nil)
    // natural WAP id (head+1) — exactly the id an ordinary racer picks
    CowTable.stageAppend(Seq((7L, "mine")).toDF("id", "v"), root, 2L, Nil)
    assert(CowTable.commitAppend(
      Seq((99L, "racer")).toDF("id", "v"), root, 2L, Nil, keep = 5))
    intercept[CowConcurrentCommitException] {
      CowTable.publishStagedWithRetry(spark, root, 2L, keep = 5)
    }
    // the racer's snapshot is untouched: every referenced file exists
    // and the data reads back whole
    val fsck = CowTable.fsck(spark, root)
    assert(fsck.missing.isEmpty,
      s"retry must not corrupt the racer's snapshot: ${fsck.missing}")
    val rows = CowTable.read(spark, root).get
    assert(rows.count() == 2)
    assert(rows.where(col("v") === "racer").count() == 1)
  }
}
