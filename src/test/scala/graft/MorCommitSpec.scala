package graft

import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.sinks.{CowConcurrentCommitException, CowRange, CowTable}

/** The commit contract every table commit shares (they all run through
  * one lease → recheck → stage → publish → vacuum skeleton), pinned
  * table-driven. Over the three merge-on-read paths:
  *
  *  - replaying a committed id returns false and writes nothing;
  *  - a call that changes nothing returns true, leaves no `batch-<id>`
  *    dir and leaves the id free for the next commit — both when no
  *    file can match and when files were scanned but no row matched;
  *  - a change-logged commit publishes `_changes/<id>` and leaves no
  *    `_changes/.tmp-*` staging dir behind;
  *  - a fresh `_retrykeep-<id>` marker refuses the id and the parked
  *    data under `batch-<id>` survives.
  *
  * Over the data, restore, clone, rename and WAP commits:
  *
  *  - replaying a committed id returns false (a WAP publish throws)
  *    and writes nothing;
  *  - losing the based-on check throws [[CowConcurrentCommitException]]
  *    and leaves no `manifest-<id>`, `_changes/<id>`, `_changes/.tmp-*`
  *    or `_commit-<id>.lock` behind.
  */
class MorCommitSpec extends SparkSpec {
  import spark.implicits._

  private def base = Seq(
    (1L, "p1", 10), (2L, "p1", 20), (3L, "p2", 30)).toDF("id", "part", "v")

  /** One merge-on-read path. `run(root, id, hit, changeLog)` touches
    * row id 1 when `hit`, else a row that does not exist; `noFile`
    * (when the path can express it) is a call no file can match.
    */
  private case class MorPath(
      name: String,
      opers: Seq[String],
      run: (String, Long, Boolean, Boolean) => Boolean,
      noFile: Option[(String, Long) => Boolean])

  private def target(hit: Boolean): Column =
    $"id" === (if (hit) 1L else -1L)
  private val noRange = Seq(CowRange("id", Some("100"), Some("200")))
  private val bump = Map("v" -> ($"v" + 100))
  private def keys(hit: Boolean, part: String = "p1") =
    Seq((if (hit) 1L else -1L, part)).toDF("id", "part")
  private def logKeys(changeLog: Boolean) =
    if (changeLog) Seq("id") else Nil

  private val paths = Seq(
    MorPath("updateWhereDv", Seq("D", "I"),
      (r, id, hit, cl) => CowTable.updateWhereDv(spark, r, id, target(hit),
        bump, keep = 10, changeLogKeys = logKeys(cl)),
      Some((r, id) => CowTable.updateWhereDv(spark, r, id, target(true),
        bump, prune = noRange, keep = 10))),
    MorPath("deleteKeysMor", Seq("D"),
      (r, id, hit, cl) => CowTable.deleteKeysMor(spark, r, id, keys(hit),
        Seq("id"), Seq("part"), keep = 10, changeLog = cl),
      Some((r, id) => CowTable.deleteKeysMor(spark, r, id,
        keys(hit = true, part = "p9"), Seq("id"), Seq("part"), keep = 10))),
    MorPath("deleteWhereDv", Seq("D"),
      (r, id, hit, cl) => CowTable.deleteWhereDv(spark, r, id, target(hit),
        keep = 10, changeLog = cl),
      Some((r, id) => CowTable.deleteWhereDv(spark, r, id, target(true),
        prune = noRange, keep = 10))))

  private def fresh(tag: String): String = {
    val root = Files.createTempDirectory(s"morcommit_$tag").toString
    CowTable.commitFull(base, root, 1L, Seq("part"), keep = 10)
    root
  }

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** Every file and dir under `root` with its length — what a call
    * that "writes nothing" must leave unchanged.
    */
  private def tree(root: String): Set[(String, Long)] = {
    val it = fs(root).listFiles(new Path(root), true)
    val out = Set.newBuilder[(String, Long)]
    while (it.hasNext) {
      val s = it.next()
      out += (s.getPath.toString -> s.getLen)
    }
    out.result()
  }

  private def hasBatch(root: String, id: Long): Boolean =
    fs(root).exists(new Path(s"$root/batch-$id"))

  paths.foreach { p =>
    test(s"${p.name}: replaying a committed id returns false and " +
        "writes nothing") {
      val root = fresh(p.name)
      assert(p.run(root, 2L, true, false))
      assert(CowTable.committedIds(spark, root) == Seq(1L, 2L))
      val before = tree(root)
      assert(!p.run(root, 2L, true, false), "replayed id 2 committed")
      assert(!p.run(root, 1L, true, false), "replayed id 1 committed")
      assert(tree(root) == before, "a replayed call wrote files")
      assert(CowTable.committedIds(spark, root) == Seq(1L, 2L))
    }

    test(s"${p.name}: a call that changes nothing returns true, leaves " +
        "no batch dir and leaves the id free") {
      val root = fresh(p.name)
      val live = CowTable.read(spark, root).get.collect().toSet
      assert(p.run(root, 2L, false, true), "no-match call returned false")
      p.noFile.foreach(f => assert(f(root, 2L), "no-file call failed"))
      assert(CowTable.committedIds(spark, root) == Seq(1L))
      assert(!hasBatch(root, 2L), "a no-change call left batch-2")
      assert(!fs(root).exists(new Path(s"$root/_changes")),
        "a no-change call staged a changelog")
      assert(CowTable.read(spark, root).get.collect().toSet == live)
      // the id is still free: the next real commit takes it
      assert(p.run(root, 2L, true, false))
      assert(CowTable.committedIds(spark, root) == Seq(1L, 2L))
    }

    test(s"${p.name}: a change-logged commit publishes _changes/<id> " +
        "and leaves no staging dir") {
      val root = fresh(p.name)
      assert(p.run(root, 2L, true, true))
      val changes = new Path(s"$root/_changes")
      assert(fs(root).exists(new Path(changes, "2/_SUCCESS")),
        "no published sidecar for id 2")
      val left = fs(root).listStatus(changes).map(_.getPath.getName)
      assert(left.toSeq == Seq("2"), s"unexpected _changes entries: " +
        left.mkString(", "))
      val log = CowTable.changeLogFor(spark, root, 2L).get
      assert(log.select("oper").as[String].collect().sorted.toSeq ==
        p.opers, "sidecar rows")
      assert(log.select("id").distinct().as[Long].collect().toSeq ==
        Seq(1L), "sidecar names the wrong rows")
    }
  }

  paths.foreach { p =>
    test(s"${p.name}: a fresh _retrykeep marker refuses the id and the " +
        "parked data survives") {
      val root = fresh(p.name)
      val parked = new Path(s"$root/batch-2/parked.parquet")
      fs(root).create(new Path(s"$root/_retrykeep-2"), false).close()
      fs(root).create(parked, false).close()
      intercept[CowConcurrentCommitException](p.run(root, 2L, true, false))
      assert(fs(root).exists(parked), "the parked retry's data is gone")
      assert(CowTable.committedIds(spark, root) == Seq(1L))
    }
  }

  private def more = Seq((4L, "p1", 40)).toDF("id", "part", "v")

  /** Commits that replay an id by argument: each commits id 2 over a
    * fresh table; the same call is then replayed.
    */
  private val replays: Seq[(String, String => Boolean)] = Seq(
    "commitPartitions" -> (r => CowTable.commitPartitions(
      more, Set("p1"), r, 2L, Seq("part"), keep = 10)),
    "commitAppend" -> (r =>
      CowTable.commitAppend(more, r, 2L, Seq("part"), keep = 10)),
    "renameColumn" -> (r =>
      CowTable.renameColumn(spark, r, 2L, "v", "w", keep = 10)))

  replays.foreach { case (name, run) =>
    test(s"$name: replaying a committed id returns false and writes " +
        "nothing") {
      val root = fresh(name)
      assert(run(root))
      val before = tree(root)
      assert(!run(root), "replayed id 2 committed")
      assert(tree(root) == before, "a replayed call wrote files")
      assert(CowTable.committedIds(spark, root) == Seq(1L, 2L))
    }
  }

  test("publishStaged: a staged id a later commit passed throws and " +
      "writes nothing") {
    val root = fresh("publish")
    CowTable.stageAppend(more, root, 5L, Seq("part"))
    assert(CowTable.commitAppend(more, root, 6L, Seq("part"), keep = 10))
    val before = tree(root)
    intercept[CowConcurrentCommitException](
      CowTable.publishStaged(spark, root, 5L))
    assert(tree(root) == before, "a refused publish wrote files")
    assert(CowTable.committedIds(spark, root) == Seq(1L, 6L))
  }

  /** Run `call` on another thread while this one holds `root`'s
    * manifest lock: once `call` holds its lease on `id`, snapshot
    * `racer` lands (a copy of `from`'s manifest 1) and the lock is
    * released, so `call` finds a head it was not based on.
    */
  private def racing(root: String, id: Long, racer: Long, from: String)(
      call: => Any): Unit = {
    val lock = new Path(s"$root/_commit.lock")
    fs(root).create(lock, false).close()
    val done = Future(call)(ExecutionContext.global)
    try {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!fs(root).exists(new Path(s"$root/_commit-$id.lock"))) {
        assert(!done.isCompleted, s"the call ended before leasing $id")
        assert(System.nanoTime() < deadline, s"no lease on $id")
        Thread.sleep(10)
      }
      FileUtil.copy(fs(from), new Path(s"$from/manifest-1"), fs(root),
        new Path(s"$root/manifest-$racer"), false,
        spark.sessionState.newHadoopConf())
    } finally fs(root).delete(lock, false)
    intercept[CowConcurrentCommitException](
      Await.result(done, 120.seconds))
  }

  /** Paths that lose the based-on check: each builds its own tables,
    * loses, and returns the root and id it tried to commit.
    */
  private val losers: Seq[(String, () => (String, Long))] = Seq(
    "commitPartitions" -> (() => {
      val root = fresh("lose_partitions")
      val stale = CowTable.currentManifest(spark, root)
      assert(CowTable.commitAppend(more, root, 2L, Seq("part"), keep = 10))
      intercept[CowConcurrentCommitException](
        CowTable.commitPartitionsFrom(stale, more, Set("p1"), root, 3L,
          Seq("part"), keep = 10, changeLogKeys = Seq("id")))
      (root, 3L)
    }),
    "commitAppend" -> (() => {
      val root = fresh("lose_append")
      intercept[CowConcurrentCommitException](
        CowTable.appendWithRetryImpl(more, root, Seq("part"), keep = 10,
          sortCols = Nil, bloomCols = Nil, changeLogKeys = Seq("id"),
          changeLogRequired = false, maxAttempts = 1,
          onStagedForTest = () => assert(CowTable.commitAppend(
            more, root, 3L, Seq("part"), keep = 10)),
          waitMs = 1))
      (root, 2L)
    }),
    "publishStaged" -> (() => {
      val root = fresh("lose_publish")
      CowTable.stageAppend(more, root, 5L, Seq("part"),
        changeLogKeys = Seq("id"))
      assert(CowTable.commitAppend(more, root, 2L, Seq("part"), keep = 10))
      intercept[CowConcurrentCommitException](
        CowTable.publishStaged(spark, root, 5L))
      (root, 5L)
    }),
    "restore" -> (() => {
      val root = fresh("lose_restore")
      assert(CowTable.commitAppend(more, root, 2L, Seq("part"), keep = 10))
      racing(root, 3L, 4L, root)(CowTable.restore(spark, root, 1L))
      (root, 3L)
    }),
    "shallowClone" -> (() => {
      val src = fresh("lose_clone")
      val root = s"${Files.createTempDirectory("morcommit_clone")}/t"
      racing(root, 1L, 2L, src)(CowTable.shallowClone(spark, src, root))
      // the failed clone released its fence: the source keeps none
      assert(!fs(src).listStatus(new Path(src))
        .exists(_.getPath.getName.contains("clone-")),
        "a failed clone left its fence at the source")
      (root, 1L)
    }),
    "renameColumn" -> (() => {
      val root = fresh("lose_rename")
      CowTable.setCheckConstraints(spark, root, Map("pos" -> "v > 0"))
      val checks = CowTable.checkConstraints(spark, root)
      racing(root, 3L, 2L, root)(
        CowTable.renameColumn(spark, root, 3L, "v", "w", keep = 10))
      assert(!fs(root).exists(new Path(s"$root/_checks.tsv.pending-3")),
        "a failed rename left its pending CHECK set")
      assert(CowTable.checkConstraints(spark, root) == checks)
      (root, 3L)
    }))

  losers.foreach { case (name, lose) =>
    test(s"$name: losing the based-on check throws and leaves no " +
        "manifest, sidecar, staging dir or lease") {
      val (root, id) = lose()
      assert(!fs(root).exists(new Path(s"$root/manifest-$id")),
        s"manifest-$id was published")
      assert(!fs(root).exists(new Path(s"$root/_commit-$id.lock")),
        s"the lease on $id leaked")
      val changes = new Path(s"$root/_changes")
      val left =
        if (!fs(root).exists(changes)) Nil
        else fs(root).listStatus(changes).map(_.getPath.getName).toSeq
      assert(!left.contains(id.toString), s"_changes/$id was published")
      assert(!left.exists(_.startsWith(".tmp-")),
        s"a staging dir was left: ${left.mkString(", ")}")
    }
  }
}
