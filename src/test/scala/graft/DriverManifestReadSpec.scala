package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sinks.CowTable

/** Round-20 pin: COLD manifest parses run DRIVER-SIDE (zero Spark
  * jobs) for manifest dirs at or below the driver-read byte seam —
  * the read mirror of r19's driver-side manifest write. Above the
  * seam (forced via the sysprop) the distributed read remains and
  * resolves identically, so the seam is a pure execution-strategy
  * switch, never a semantic one.
  */
class DriverManifestReadSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("drivermanifest").toString

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def rows3 = Seq(
    (1L, "p1", 10.0), (2L, "p1", 20.0),
    (3L, "p2", 30.0), (4L, "p2", 40.0),
    (5L, "p3", 50.0)).toDF("id", "part", "score")

  test("cold manifest parse under the seam: ZERO Spark jobs, " +
      "and it resolves exactly what the warm memo held") {
    val root = tmp()
    CowTable.commitFull(rows3, root, 1L, Seq("part"), keep = 100)
    CowTable.upsert(spark, root, 2L,
      Seq((6L, "p1", 60.0)).toDF("id", "part", "score"),
      Seq("id"), Seq("part"), keep = 100)
    val warm = CowTable.currentManifest(spark, root).get
    val qroot = fs(root).makeQualified(new Path(root)).toString

    CowTable.clearManifestMemoForTest()
    CowTable.clearMetaMemoForTest()
    CowTable.manifestParses.remove(qroot)
    val (jobs, cold) = jobsDuring {
      CowTable.currentManifest(spark, root).get
    }
    assert(jobs == 0L,
      s"cold manifest parse (head delta + base) launched $jobs Spark " +
        "jobs — the driver-side read must launch none")
    assert(CowTable.manifestParses.getOrDefault(qroot, 0L) == 2L,
      "chain walk should still count head + base as two parses")
    import scala.jdk.CollectionConverters._
    assert(!CowTable.manifestParseSparkJobs.asScala.keys
        .exists(_.contains(qroot)),
      "no manifest dir of this root may have hit the distributed read")
    assert(cold.id == warm.id && cold.partCols == warm.partCols &&
      cold.schemaDdl == warm.schemaDdl &&
      cold.allFiles.sortBy(_.path) == warm.allFiles.sortBy(_.path),
      "driver-side cold parse diverged from the warm manifest")
  }

  test("cold manifestMeta + debt probes under the seam launch no job") {
    val root = tmp()
    CowTable.commitFull(rows3, root, 1L, Seq("part"), keep = 100)
    assert(CowTable.deleteWhereDv(spark, root, 2L, col("id") === 5L,
      keep = 100))
    CowTable.clearManifestMemoForTest()
    CowTable.clearMetaMemoForTest()
    val (jobs, (meta, sidecars)) = jobsDuring {
      (CowTable.manifestMeta(spark, root, 2L),
        CowTable.snapshotSidecars(spark, root, 2L))
    }
    assert(jobs == 0L,
      s"cold meta + sidecar loads launched $jobs Spark jobs")
    assert(meta.partCols == Seq("part"))
    assert(sidecars.nonEmpty && sidecars.forall(_.kind != "data"),
      "the DV sidecar must still surface from the driver-side read")
  }

  test("above the seam the distributed read remains and resolves " +
      "identically (sysprop-forced)") {
    val root = tmp()
    CowTable.commitFull(rows3, root, 1L, Seq("part"), keep = 100)
    val warm = CowTable.currentManifest(spark, root).get
    val qroot = fs(root).makeQualified(new Path(root)).toString
    val prop = "graft.cow.manifest.driverReadMaxBytes"
    val old = sys.props.get(prop)
    sys.props(prop) = "0"
    try {
      CowTable.clearManifestMemoForTest()
      CowTable.clearMetaMemoForTest()
      // the fallback counter keys by manifest DIR; match by root prefix
      import scala.jdk.CollectionConverters._
      def fallbacks(): Long = CowTable.manifestParseSparkJobs.asScala
        .collect { case (k, v) if k.contains(qroot) => v }.sum
      val before = fallbacks()
      val cold = CowTable.currentManifest(spark, root).get
      assert(fallbacks() - before >= 1L,
        "seam=0 must route the parse through the distributed read")
      assert(cold.id == warm.id &&
        cold.allFiles.sortBy(_.path) == warm.allFiles.sortBy(_.path),
        "distributed cold parse diverged from the warm manifest")
    } finally {
      old match {
        case Some(v) => sys.props(prop) = v
        case None => sys.props.remove(prop): Unit
      }
    }
  }

  /** A table with merge-on-read debt at its head: a keyed DV delete
    * (id 1) and a predicate DV delete (id 4).
    */
  private def indebted(): String = {
    val root = tmp()
    CowTable.commitFull(rows3, root, 1L, Seq("part"), keep = 100)
    assert(CowTable.deleteKeysMor(spark, root, 2L,
      Seq((1L, "p1")).toDF("id", "part"), Seq("id"), Seq("part"),
      keep = 100))
    assert(CowTable.deleteWhereDv(spark, root, 3L, col("id") === 4L,
      keep = 100))
    assert(CowTable.currentManifest(spark, root).get.dvs.size == 2,
      "one sidecar per delete")
    root
  }

  test("a head read over DV debt, on a renamed table too, is built " +
      "with zero Spark jobs") {
    val root = indebted()
    val want = Set((2L, "p1", 20.0), (3L, "p2", 30.0), (5L, "p3", 50.0))
    val (jobs, df) = jobsDuring(CowTable.read(spark, root).get)
    assert(jobs == 0L,
      s"building a read over 2 DV sidecars launched $jobs Spark jobs")
    assert(df.select("id", "part", "score").as[(Long, String, Double)]
      .collect().toSet == want)
    assert(CowTable.renameColumn(spark, root, 4L, "id", "key", keep = 100))
    val m = CowTable.currentManifest(spark, root).get
    assert(m.dvs.size == 2 && m.mapped,
      "the rename keeps both sidecars and maps key -> physical id")
    val (renamedJobs, renamed) = jobsDuring(CowTable.read(spark, root).get)
    assert(renamedJobs == 0L,
      s"building a renamed-table read launched $renamedJobs Spark jobs")
    assert(renamed.select("key", "part", "score")
      .as[(Long, String, Double)].collect().toSet == want)
  }

  test("a local-frame upsert and keyed delete find their partitions " +
      "with no Spark job: upsert runs 4 jobs, deleteKeysMor 3") {
    val root = tmp()
    CowTable.commitFull(rows3, root, 1L, Seq("part"), keep = 100)
    val (upJobs, up) = jobsDuring(CowTable.upsert(spark, root, 2L,
      Seq((1L, "p1", 11.0), (1L, "p1", 11.0), (6L, "p2", 60.0))
        .toDF("id", "part", "score"),
      Seq("id"), Seq("part"), keep = 100))
    assert(up)
    val (delJobs, del) = jobsDuring(CowTable.deleteKeysMor(spark, root, 3L,
      Seq((2L, "p1"), (2L, "p1"), (3L, "p2")).toDF("id", "part"),
      Seq("id"), Seq("part"), keep = 100))
    assert(del)
    assert(CowTable.read(spark, root).get.select("id", "score")
      .as[(Long, Double)].collect().toSet ==
      Set((1L, 11.0), (4L, 40.0), (5L, 50.0), (6L, 60.0)))
    // upsert: writeBatch 4; delete: the key broadcast, one shuffle and
    // the write in writeBatch. collectEntries reads the footers: no job
    assert((upJobs, delJobs) == (4L, 3L),
      s"upsert launched $upJobs jobs, deleteKeysMor $delJobs")
  }

  test("a local-frame append runs 0 jobs, and collectEntries none") {
    val root = tmp()
    CowTable.commitFull(rows3, root, 1L, Seq("part"), keep = 100)
    val (jobs, ok) = jobsDuring(CowTable.commitAppend(
      Seq((6L, "p1", 60.0), (7L, "p4", 70.0)).toDF("id", "part", "score"),
      root, 2L, Seq("part"), keep = 100))
    assert(ok)
    // writeBatch writes the driver-resident rows on the driver; the
    // entries come from footers
    assert(jobs == 0L, s"append launched $jobs jobs")
    assert(CowTable.read(spark, root).get.count() == 7L)
  }

  test("a parquet-backed key frame's deleteKeysMor pays one job to " +
      "find its partitions: 5 jobs in all") {
    val root = tmp()
    CowTable.commitFull(rows3, root, 1L, Seq("part"), keep = 100)
    val keysDir = tmp() + "/keys"
    Seq((2L, "p1"), (2L, "p1"), (3L, "p2")).toDF("id", "part")
      .write.parquet(keysDir)
    val (jobs, del) = jobsDuring(CowTable.deleteKeysMor(spark, root, 2L,
      spark.read.parquet(keysDir), Seq("id"), Seq("part"), keep = 100))
    assert(del)
    assert(CowTable.read(spark, root).get.select("id").as[Long]
      .collect().toSet == Set(1L, 4L, 5L))
    // touchedKeys 1 (per-task dedupe, no shuffle; a distinct() would
    // run 2) + 4 for the delete, whose semi-join over parquet keys
    // shuffles one stage more than a local frame's broadcast
    assert(jobs == 5L, s"deleteKeysMor launched $jobs jobs")
  }

  test("an append to a table with bloomCols still carries its Bloom " +
      "words") {
    val root = tmp()
    CowTable.commitFull(rows3, root, 1L, Seq("part"), keep = 100,
      bloomCols = Seq("id"))
    assert(CowTable.commitAppend(
      Seq((6L, "p1", 60.0), (7L, "p4", 70.0)).toDF("id", "part", "score"),
      root, 2L, Seq("part"), keep = 100))
    val fresh = CowTable.currentManifest(spark, root).get.files
      .filter(_.path.startsWith("batch-2/"))
    assert(fresh.size == 2)
    assert(fresh.forall(f => f.blooms.get("id").exists(_.exists(_ != 0L))),
      s"bloom words missing: ${fresh.map(_.blooms.keySet)}")
    assert(CowTable.readWhereIn(spark, root, "id", Seq("7"))
      .select("score").as[Double].collect().toSeq == Seq(70.0))
  }

  test("changelog frames are built with zero Spark jobs and keep the " +
      "schema Spark's inference gives the sidecar") {
    val root = tmp()
    CowTable.commitFull(rows3, root, 1L, Seq("part"), keep = 100,
      changeLogKeys = Seq("id"))
    CowTable.upsert(spark, root, 2L,
      Seq((1L, "p1", 11.0), (6L, "p2", 60.0)).toDF("id", "part", "score"),
      Seq("id"), Seq("part"), keep = 100, changeLog = true)
    val (jobs, (log, feed)) = jobsDuring {
      (CowTable.changeLogFor(spark, root, 2L).get,
        CowTable.changeFeedFromLog(spark, root, 1L, 2L, Seq("id")).get)
    }
    assert(jobs == 0L, s"building changelog frames launched $jobs jobs")
    val inferred = spark.read.parquet(s"$root/${CowTable.ChangesDir}/2")
    assert(log.schema ==
      inferred.withColumnRenamed(CowTable.ChangeOper, "oper").schema)
    assert(feed.schema == StructType(
      inferred.schema.filterNot(_.name == CowTable.ChangeOper) :+
        StructField("oper", StringType, nullable = true)))
    assert(feed.select("id", "oper").as[(Long, String)].collect().toSet ==
      Set((1L, "U"), (6L, "I")))
  }

  test("Bloom probes hash on the driver: filesForIn launches no Spark " +
      "job, and the hashes equal a spark.range(1) evaluation's") {
    val root = tmp()
    CowTable.commitFull(rows3, root, 1L, Seq("part"), keep = 100,
      bloomCols = Seq("id"))
    val values = Seq("1", "4", "99")
    val (jobs, kept) = jobsDuring {
      (CowTable.filesForIn(spark, root, "id", values),
        CowTable.filesForRange(spark, root, "id", Some("4"), Some("4")))
    }
    assert(jobs == 0L, s"Bloom probes launched $jobs Spark jobs")
    assert(kept._1.map(_.part("part")).toSet == Set("p1", "p2"))
    assert(kept._2.map(_.part("part")) == Seq("p2"))
    def onRange(v: String) = {
      val canon = lit(v).cast(LongType).cast("string")
      spark.range(1).select((0 until 4).map(k =>
        xxhash64(lit(k), coalesce(canon, lit("")))): _*)
        .first().toSeq.map(_.asInstanceOf[Long])
    }
    assert(CowTable.bloomHashesOfAll(spark, values, LongType) ==
      values.map(onRange))
    assert(values.forall(v =>
      CowTable.bloomHashesOf(spark, v, LongType) == onRange(v)))
  }

  test("footerSchema gives the schema Spark infers for a Spark-written " +
      "file and for a footer without a Spark schema") {
    import org.apache.spark.sql.graftbridge.Bridge
    val dir = tmp()
    rows3.write.parquet(s"$dir/spark")
    val file = new java.io.File(s"$dir/spark").listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).head
    val footer = Bridge.footerSchema(spark, file)
    assert(footer.contains(spark.read.parquet(file).schema))
    assert(spark.read.schema(footer.get).parquet(file).schema ==
      spark.read.parquet(file).schema)
    val msg = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required int64 id; }")
    val foreign = new Path(s"$dir/foreign.parquet")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(foreign).withType(msg)
      .withConf(spark.sessionState.newHadoopConf()).build()
    try w.write(new org.apache.parquet.example.data.simple
      .SimpleGroupFactory(msg).newGroup().append("id", 7L))
    finally w.close()
    assert(Bridge.sparkSchemaOf(Bridge.readFooters(spark,
      Seq(fs(dir).getFileStatus(foreign))).head).isEmpty)
    assert(Bridge.footerSchema(spark, foreign.toString)
      .contains(spark.read.parquet(foreign.toString).schema))
  }
}
