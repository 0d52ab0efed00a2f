package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.graftbridge.Bridge
import graft.sinks.{CowBucketSpec, CowFile, CowTable}

/** `CowTable.writeBatch`'s driver branch: a driver-resident frame (a
  * `LocalRelation` once optimized) is written on the driver, one
  * Parquet file per partition directory, with no Spark job. Each case
  * commits the same rows twice, once as the local frame and once
  * distributed (a `repartition` of it, which takes the Spark write), to
  * two roots, and requires the two commits to agree on everything but
  * the file names and byte counts: one file per partition directory
  * (NULL and '' share one, as in a Spark write task), the same
  * partition maps, row and NULL counts, min/max, Bloom words and footer
  * schemas, and the same rows read back.
  */
class DriverBatchWriteSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"driverbatch_$tag").toString

  private def dataFiles(root: String, batch: Long): Seq[CowFile] =
    CowTable.currentManifest(spark, root).get.allFiles
      .filter(f => f.kind == CowTable.KindData &&
        f.path.startsWith(s"batch-$batch/"))

  /** What both writes must agree on per file: everything in its entry
    * but the path and the byte count (row order inside a file differs).
    */
  private def stats(root: String, f: CowFile) =
    (f.part, f.rows, f.nulls, f.mins, f.maxs, f.blooms,
      Bridge.footerSchema(spark, s"$root/${f.path}"))

  private def rowsOf(root: String): Seq[String] =
    CowTable.read(spark, root).get.collect().toSeq.map(_.toString).sorted

  /** Run `commit` once with `local` into a fresh root and once with
    * `distributed(local)` into another, after `setup` on each; returns
    * (local root, distributed root, jobs of the local commit). Both
    * commits must land and agree on batch `batch`'s files and on the
    * rows read back.
    */
  private def differential(tag: String, local: DataFrame, batch: Long,
      setup: String => Unit = _ => (),
      distributed: DataFrame => DataFrame = _.repartition(2))(
      commit: (DataFrame, String) => Boolean): (String, String, Long) = {
    val (l, d) = (tmp(s"${tag}_l"), tmp(s"${tag}_d"))
    setup(l); setup(d)
    val (jobs, okL) = jobsDuring(commit(local, l))
    val (distJobs, okD) = jobsDuring(commit(distributed(local), d))
    assert(okL && okD, s"$tag: a commit was refused")
    assert(distJobs > jobs,
      s"$tag: the distributed frame ran $distJobs jobs, the local one $jobs")
    val (fl, fd) = (dataFiles(l, batch), dataFiles(d, batch))
    val partCols = CowTable.currentManifest(spark, l).get.partCols
    // NULL and '' name the same (default) partition directory
    val dirs = local.select(partCols.map(c => coalesce(col(c).cast("string"),
      lit(""))): _*).distinct().count()
    assert(fl.size == dirs && fd.size == dirs,
      s"$tag: ${fl.size} local and ${fd.size} distributed files for " +
        s"$dirs partition directories")
    assert(fl.map(stats(l, _)).sortBy(_.toString) ==
      fd.map(stats(d, _)).sortBy(_.toString),
      s"$tag: the two writes' manifest entries differ")
    assert(rowsOf(l) == rowsOf(d), s"$tag: the two tables read differently")
    (l, d, jobs)
  }

  test("NULL, '', '/', '=' and '%' partition values: driver and Spark " +
      "writes agree") {
    val df = Seq[(Long, String, Double)]((1L, null, 1.0), (2L, "", 2.0),
      (3L, "/", 3.0), (4L, "=", 4.0), (5L, "%", 5.0), (6L, "a b", 6.0),
      (7L, "/", 7.0), (8L, null, 8.0)).toDF("id", "p", "v")
    val (l, _, jobs) = differential("strs", df, 1L)(
      (f, r) => CowTable.commitAppend(f, r, 1L, Seq("p")))
    assert(jobs == 0L, s"a local first commit ran $jobs jobs")
    assert(CowTable.read(spark, l).get.where("p IS NULL").count() == 2L)
    assert(CowTable.read(spark, l).get.where("p = ''").count() == 1L)
  }

  test("date and timestamp partition columns: driver and Spark writes " +
      "agree") {
    val df = Seq[(Long, Date, Timestamp)](
      (1L, Date.valueOf("2024-01-01"), Timestamp.valueOf("2024-01-01 10:00:00.123456")),
      (2L, Date.valueOf("2024-01-01"), Timestamp.valueOf("2024-01-01 10:00:00.123456")),
      (3L, Date.valueOf("1969-12-31"), Timestamp.valueOf("1969-12-31 23:59:59")),
      (4L, null, null)).toDF("id", "d", "t")
    differential("dt", df, 1L)(
      (f, r) => CowTable.commitFull(f, r, 1L, Seq("d", "t")))
  }

  test("an unpartitioned table: one file from either write") {
    val df = Seq((1L, "x"), (2L, "y"), (3L, null)).toDF("id", "s")
    val (_, _, jobs) = differential("flat", df, 1L,
      distributed = _.repartition(1))(
      (f, r) => CowTable.commitFull(f, r, 1L, Nil))
    assert(jobs == 0L, s"a local unpartitioned commit ran $jobs jobs")
  }

  test("a bloomCols table: the driver-written files carry the same " +
      "Bloom words") {
    val df = (1L to 20L).map(i => (i, s"p${i % 3}", s"s$i")).toDF("id", "p", "s")
    val (l, _, _) = differential("bloom", df, 1L)(
      (f, r) => CowTable.commitFull(f, r, 1L, Seq("p"), bloomCols = Seq("id")))
    assert(dataFiles(l, 1L).forall(_.blooms.keySet == Set("id")))
  }

  test("a bucketed table: driver-written files are named and tagged as " +
      "Spark-written ones are") {
    val spec = CowBucketSpec("pb", 4, Seq("k"))
    val df = (1L to 30L).map(i => (i, s"v$i")).toDF("k", "v")
      .withColumn("pb", CowTable.bucketId(Seq("k"), 4))
    val (l, d, _) = differential("bkt", df, 1L,
      setup = r => CowTable.setBucketSpec(spark, r, spec))(
      (f, r) => CowTable.commitFull(f, r, 1L, Seq("pb")))
    val SparkName = """part-\d{5}-[0-9a-f-]{36}_(\d{5})\.c000\.snappy\.parquet""".r
    Seq(l, d).foreach { root =>
      dataFiles(root, 1L).foreach { f =>
        val name = f.path.substring(f.path.lastIndexOf('/') + 1)
        name match {
          case SparkName(_) =>
          case _ => fail(s"$name does not have Spark's bucket-tagged shape")
        }
        assert(CowTable.bucketIdOfName(name).map(_.toString) ==
          f.part.get("pb"), s"$name carries the wrong bucket tag")
      }
    }
  }

  test("after RENAME COLUMN the driver write uses the physical names") {
    val setup = (r: String) => {
      CowTable.commitFull(Seq((1L, "a", 1.0)).toDF("id", "p", "v"), r, 1L,
        Seq("p"))
      assert(CowTable.renameColumn(spark, r, 2L, "v", "w"))
      assert(CowTable.renameColumn(spark, r, 3L, "p", "q")): Unit
    }
    val df = Seq((2L, "a", 2.0), (3L, "b", 3.0), (4L, null, 4.0))
      .toDF("id", "q", "w")
    val (l, _, _) = differential("ren", df, 4L, setup = setup)(
      (f, r) => CowTable.commitAppend(f, r, 4L, Seq("q")))
    assert(dataFiles(l, 4L).forall(_.path.contains("/__gp_p=")),
      "the partition dirs must carry the physical name")
    assert(CowTable.read(spark, l).get.where("w > 1").count() == 3L)
  }

  test("a local commitAppend and a local commitFull run 0 Spark jobs") {
    val root = tmp("jobs")
    CowTable.commitFull(Seq((1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("id", "p", "v"), root, 1L, Seq("p"))
    val (appendJobs, appended) = jobsDuring(CowTable.commitAppend(
      Seq((3L, "a", 3.0), (4L, "c", 4.0)).toDF("id", "p", "v"), root, 2L,
      Seq("p")))
    val (fullJobs, full) = jobsDuring(CowTable.commitFull(
      Seq((5L, "d", 5.0)).toDF("id", "p", "v"), root, 3L, Seq("p")))
    assert(appended && full)
    assert((appendJobs, fullJobs) == (0L, 0L),
      s"append ran $appendJobs jobs, full $fullJobs")
    assert(rowsOf(root) == Seq(Row(5L, "d", 5.0).toString))
  }

  test("an empty local frame, a frame with sortCols and a frame above " +
      "the row ceiling keep the Spark write") {
    val root = tmp("spark")
    CowTable.commitFull(Seq((1L, "a", 1.0)).toDF("id", "p", "v"), root, 1L,
      Seq("p"))
    val (emptyJobs, _) = jobsDuring(CowTable.commitAppend(
      Seq.empty[(Long, String, Double)].toDF("id", "p", "v"), root, 2L,
      Seq("p")))
    val (sortedJobs, _) = jobsDuring(CowTable.commitAppend(
      Seq((2L, "a", 2.0), (3L, "b", 3.0)).toDF("id", "p", "v"), root, 3L,
      Seq("p"), sortCols = Seq("id")))
    val key = "graft.cow.manifest.driverWriteMaxRows"
    val (bigJobs, _) = {
      // 3 rows over the ceiling of 2; the 2-entry delta manifest stays
      // at the ceiling, so only the data write moves
      sys.props(key) = "2"
      try jobsDuring(CowTable.commitAppend(
        Seq((4L, "a", 4.0), (5L, "c", 5.0), (6L, "c", 6.0))
          .toDF("id", "p", "v"), root, 4L, Seq("p")))
      finally sys.props -= key
    }
    assert((emptyJobs, sortedJobs, bigJobs) == (1L, 2L, 2L),
      s"empty ran $emptyJobs jobs, sorted $sortedJobs, above the " +
        s"ceiling $bigJobs")
    assert(CowTable.read(spark, root).get.count() == 6L)
  }
}
