package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.sinks.{CowRange, CowTable}

/** The commit contract every merge-on-read path shares (they all run
  * through one lease → recheck → stage → publish → vacuum skeleton),
  * pinned table-driven over the six paths:
  *
  *  - replaying a committed id returns false and writes nothing;
  *  - a call that changes nothing returns true, leaves no `batch-<id>`
  *    dir and leaves the id free for the next commit — both when no
  *    file can match and when files were scanned but no row matched
  *    (every path but [[CowTable.deleteKeysMor]], which always commits
  *    its key tombstones);
  *  - a change-logged commit publishes `_changes/<id>` and leaves no
  *    `_changes/.tmp-*` staging dir behind.
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
      noFile: Option[(String, Long) => Boolean],
      noMatchRule: Boolean = true)

  private def target(hit: Boolean): Column =
    $"id" === (if (hit) 1L else -1L)
  private val noRange = Seq(CowRange("id", Some("100"), Some("200")))
  private val bump = Map("v" -> ($"v" + 100))
  private def keys(hit: Boolean, part: String = "p1") =
    Seq((if (hit) 1L else -1L, part)).toDF("id", "part")
  private def logKeys(changeLog: Boolean) =
    if (changeLog) Seq("id") else Nil

  private val paths = Seq(
    MorPath("updateWhereMor", Seq("D", "I"),
      (r, id, hit, cl) => CowTable.updateWhereMor(spark, r, id, target(hit),
        bump, keep = 10, changeLogKeys = logKeys(cl)),
      Some((r, id) => CowTable.updateWhereMor(spark, r, id, target(true),
        bump, prune = noRange, keep = 10))),
    MorPath("updateWhereDv", Seq("D", "I"),
      (r, id, hit, cl) => CowTable.updateWhereDv(spark, r, id, target(hit),
        bump, keep = 10, changeLogKeys = logKeys(cl)),
      Some((r, id) => CowTable.updateWhereDv(spark, r, id, target(true),
        bump, prune = noRange, keep = 10))),
    MorPath("deleteKeysMor", Seq("D"),
      (r, id, hit, cl) => CowTable.deleteKeysMor(spark, r, id, keys(hit),
        Seq("id"), Seq("part"), keep = 10, changeLog = cl),
      None, noMatchRule = false),
    MorPath("deleteKeysDv", Seq("D"),
      (r, id, hit, cl) => CowTable.deleteKeysDv(spark, r, id, keys(hit),
        Seq("id"), Seq("part"), keep = 10, changeLog = cl),
      Some((r, id) => CowTable.deleteKeysDv(spark, r, id,
        keys(hit = true, part = "p9"), Seq("id"), Seq("part"), keep = 10))),
    MorPath("deleteWhereMor", Seq("D"),
      (r, id, hit, cl) => CowTable.deleteWhereMor(spark, r, id, target(hit),
        keep = 10, changeLog = cl),
      Some((r, id) => CowTable.deleteWhereMor(spark, r, id, target(true),
        prune = noRange, keep = 10))),
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

    if (p.noMatchRule)
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
}
