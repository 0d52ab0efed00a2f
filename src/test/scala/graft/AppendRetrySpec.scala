package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sinks.{CowConcurrentCommitException, CowTable}
import graft.operators.MatchedUpdate

/** Bounded auto-retry for CONFLICT-FREE commits (round-18): a blind
  * append losing the id lease re-points its base at the new head and
  * re-commits — the batch has no read dependency, so recomputing it is
  * pure waste (Delta's documented conflict rule). These tests pin the
  * contract: two racing appenders BOTH land with zero data-file
  * rewrites (the committed file lists are the disjoint union of the
  * two batches), a staged batch survives a lost manifest race by
  * directory RENAME (same file basenames land under the next id), a
  * schema-evolving winner invalidates the stage (adoption guard),
  * exhaustion is loud, and read-dependent DML (MERGE) still surfaces
  * the conflict instead of retrying.
  */
class AppendRetrySpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("appendretry").toString

  private def dataFileNames(root: String): Set[String] = {
    val m = CowTable.currentManifest(spark, root).get
    m.files.map(f => f.path.split("/").last).toSet
  }

  test("two racing appenders both land; committed files are the " +
      "disjoint union of the two batches (zero rewrites, no orphans)") {
    import spark.implicits._
    val root = s"${tmp()}/t"
    CowTable.commitFull(Seq((0L, "base")).toDF("id", "v"), root, 1L, Nil)
    val baseFiles = dataFileNames(root)

    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val failures =
      new java.util.concurrent.atomic.AtomicReference[Throwable]
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    (1 to 2).foreach { k =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          try {
            val batch = Seq((k.toLong * 10, s"w$k"), (k.toLong * 10 + 1,
              s"w$k")).toDF("id", "v")
            ids.add(CowTable.appendWithRetry(batch, root, Nil))
          } catch { case t: Throwable => failures.compareAndSet(null, t) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(failures.get() == null, s"appender failed: ${failures.get()}")

    // both landed, under distinct ids, and every row is visible
    assert(ids.size == 2 && ids.toArray.toSet.size == 2)
    val rows = CowTable.read(spark, root).get
    assert(rows.count() == 5)
    assert(rows.where(col("v") === "w1").count() == 2)
    assert(rows.where(col("v") === "w2").count() == 2)

    // zero data-file rewrites: the final manifest's files are the base
    // plus exactly one staged batch per writer — and NO orphan batch
    // dir exists (a wasted stage would leave one behind)
    val finalFiles = CowTable.currentManifest(spark, root).get
      .files.map(_.path).toSet
    assert(finalFiles.map(_.split("/").last).size == finalFiles.size)
    assert(baseFiles.subsetOf(finalFiles.map(_.split("/").last)))
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    val onDisk = fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch-"))
      .flatMap { d =>
        val rel = d.getPath.getName
        def walk(p: Path): Seq[String] =
          fs.listStatus(p).toSeq.flatMap(s =>
            if (s.isDirectory) walk(s.getPath)
            else if (s.getPath.getName.endsWith(".parquet"))
              Seq(s.getPath.getName)
            else Nil)
        walk(d.getPath).map(n => s"$rel:$n")
      }.toSet
    // every parquet file on disk is referenced by the head manifest
    // (retention keep=2 may also retain the PREVIOUS snapshot's files,
    // which here are a subset of the head's — appends only add)
    assert(onDisk.map(_.split(":").last) == finalFiles.map(_.split("/").last),
      s"staged-but-unreferenced files on disk: $onDisk vs $finalFiles")
  }

  test("a lost manifest race re-commits the STAGED files under the " +
      "next id by rename — same basenames, no rewrite") {
    import spark.implicits._
    val root = s"${tmp()}/t"
    CowTable.commitFull(Seq((0L, "base")).toDF("id", "v"), root, 1L, Nil)
    val competed = new java.util.concurrent.atomic.AtomicBoolean(false)
    var stagedNames: Set[String] = Set.empty
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    val landed = CowTable.appendWithRetryImpl(
      Seq((7L, "mine")).toDF("id", "v"), root, Nil,
      keep = 5, sortCols = Nil, bloomCols = Nil, changeLogKeys = Nil,
      changeLogRequired = false, maxAttempts = 4,
      onStagedForTest = () => {
        // fire ONCE, in the window between our stage (as id 2) and our
        // manifest write: land a competing commit under id 3 so our
        // based-on verification fails and the retry must adopt the
        // already-staged batch
        if (competed.compareAndSet(false, true)) {
          def walk(p: Path): Seq[String] =
            fs.listStatus(p).toSeq.flatMap(s =>
              if (s.isDirectory) walk(s.getPath)
              else if (s.getPath.getName.endsWith(".parquet"))
                Seq(s.getPath.getName)
              else Nil)
          stagedNames = walk(new Path(s"$root/batch-2")).toSet
          assert(CowTable.commitAppend(
            Seq((99L, "racer")).toDF("id", "v"), root, 3L, Nil, keep = 5))
        }
      })
    // ours landed AFTER the racer, under a later id, with the SAME
    // staged parquet files (renamed, not rewritten)
    assert(landed == 4L)
    assert(stagedNames.nonEmpty)
    val m = CowTable.manifest(spark, root, 4L)
    val mine = m.files.filter(_.path.startsWith("batch-4/"))
    assert(mine.map(_.path.split("/").last).toSet == stagedNames)
    assert(!fs.exists(new Path(s"$root/batch-2")))
    val rows = CowTable.read(spark, root).get
    assert(rows.count() == 3)
    assert(rows.where(col("v") === "mine").count() == 1)
    assert(rows.where(col("v") === "racer").count() == 1)
  }

  test("a retry whose next id is its own staged batch's adopts the " +
      "files in place instead of refusing its own claim marker") {
    import spark.implicits._
    val root = s"${tmp()}/t"
    CowTable.commitFull(Seq((0L, "base")).toDF("id", "v"), root, 1L, Nil)
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    // another in-flight retry's fresh claim on id 2: ours stages as id 3
    val foreign = new Path(s"$root/_retrykeep-2")
    fs.create(foreign, false).close()
    val competed = new java.util.concurrent.atomic.AtomicBoolean(false)
    var stagedNames: Set[String] = Set.empty
    val landed = CowTable.appendWithRetryImpl(
      Seq((7L, "mine")).toDF("id", "v"), root, Nil,
      keep = 5, sortCols = Nil, bloomCols = Nil, changeLogKeys = Nil,
      changeLogRequired = false, maxAttempts = 3,
      onStagedForTest = () => {
        // that retry lands id 2, BELOW our stage: our based-on check
        // fails, and the next id, head + 1 = 3, is our own stage's
        if (competed.compareAndSet(false, true)) {
          stagedNames = fs.listStatus(new Path(s"$root/batch-3")).toSeq
            .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
          fs.delete(foreign, false)
          assert(CowTable.commitAppend(
            Seq((99L, "racer")).toDF("id", "v"), root, 2L, Nil, keep = 5))
        }
      },
      waitMs = 100L)
    assert(landed == 3L)
    assert(stagedNames.nonEmpty)
    assert(CowTable.manifest(spark, root, 3L).files
      .filter(_.path.startsWith("batch-3/"))
      .map(_.path.split("/").last).toSet == stagedNames)
    assert(!fs.exists(new Path(s"$root/_retrykeep-3")))
    val rows = CowTable.read(spark, root).get
    assert(rows.count() == 3)
    assert(rows.where(col("v") === "mine").count() == 1)
  }

  test("a mapping-changing winner invalidates the staged batch: the " +
      "retry re-stages under the fresh physical mapping and still lands") {
    import spark.implicits._
    val root = s"${tmp()}/t"
    CowTable.commitFull(
      Seq((0L, "base", Option(0.5))).toDF("id", "v", "w"), root, 1L, Nil)
    val competed = new java.util.concurrent.atomic.AtomicBoolean(false)
    var stagedNames: Set[String] = Set.empty
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap(s =>
        if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.endsWith(".parquet"))
          Seq(s.getPath.getName)
        else Nil)
    val landed = CowTable.appendWithRetryImpl(
      Seq((7L, "mine", Option(1.5))).toDF("id", "v", "w"), root, Nil,
      keep = 5, sortCols = Nil, bloomCols = Nil, changeLogKeys = Nil,
      changeLogRequired = false, maxAttempts = 4,
      onStagedForTest = () => {
        if (competed.compareAndSet(false, true)) {
          stagedNames = walk(new Path(s"$root/batch-2")).toSet
          // the racer DROPS w: our append re-ADDS it, which must
          // allocate a FRESH physical name (never resurrect the
          // dropped bytes) — the staged files store w under the OLD
          // physical name, so adoption must refuse and re-stage
          assert(CowTable.dropColumn(spark, root, 3L, "w", keep = 5))
        }
      })
    assert(landed == 4L)
    val m = CowTable.manifest(spark, root, 4L)
    assert(m.schema.fieldNames.toSeq == Seq("id", "v", "w"))
    assert(m.phys("w") != "w",
      s"re-added w must map to a fresh physical name, got ${m.colMap}")
    // the adoption guard REFUSED: the landed files are a fresh stage,
    // not the renamed originals
    val mine = m.files.filter(_.path.startsWith("batch-4/"))
      .map(_.path.split("/").last).toSet
    assert(stagedNames.nonEmpty && mine.intersect(stagedNames).isEmpty,
      s"mapping-changed retry must re-stage: $mine vs $stagedNames")
    val rows = CowTable.read(spark, root).get
    assert(rows.count() == 2)
    // the drop+re-add must NOT resurrect base's old w value
    assert(rows.where(col("v") === "base" && col("w").isNull).count() == 1)
    assert(rows.where(col("v") === "mine" && col("w") === 1.5).count() == 1)
  }

  test("exhaustion is loud: a leaked lease fails after maxAttempts " +
      "with repair advice, and nothing was committed") {
    import spark.implicits._
    val root = s"${tmp()}/t"
    CowTable.commitFull(Seq((0L, "base")).toDF("id", "v"), root, 1L, Nil)
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    // a crashed writer leaked the lease for the next id
    fs.create(new Path(s"$root/_commit-2.lock"), false).close()
    val e = intercept[CowConcurrentCommitException] {
      CowTable.appendWithRetryImpl(
        Seq((7L, "mine")).toDF("id", "v"), root, Nil,
        keep = 2, sortCols = Nil, bloomCols = Nil, changeLogKeys = Nil,
        changeLogRequired = false, maxAttempts = 2,
        onStagedForTest = () => (), waitMs = 1)
    }
    assert(e.getMessage.contains("breakCommitLock"))
    assert(CowTable.read(spark, root).get.count() == 1)
  }

  test("read-dependent DML still surfaces the conflict: a MERGE racing " +
      "a held lease refuses instead of retrying") {
    import spark.implicits._
    val root = s"${tmp()}/t"
    CowTable.commitFull(Seq((1L, "a")).toDF("id", "v"), root, 1L, Nil)
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    fs.create(new Path(s"$root/_commit-2.lock"), false).close()
    try {
      intercept[CowConcurrentCommitException] {
        CowTable.mergeInto(spark, root, 2L,
          Seq((1L, "b")).toDF("id", "v"), Seq("id"), Nil,
          Seq(MatchedUpdate(Map("v" -> "s.v"))))
      }
      assert(CowTable.read(spark, root).get
        .where(col("v") === "a").count() == 1)
    } finally fs.delete(new Path(s"$root/_commit-2.lock"), false)
  }
}
