package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import graft.sinks.ParquetSink
import graft.sources.TargetTable

/** The driver-side parquet metadata reads the medallion tasks use in
  * place of Spark jobs: `ParquetSink.rowCount` must return what a
  * re-read `count()` returns, and `Bridge.footerSchema` what Spark's
  * schema inference returns, with no Spark job for either.
  */
class ParquetFooterSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("parquetfooter").toString

  /** The footer count of `p`, checked against Spark's re-read count
    * (the reference) and run with no Spark job.
    */
  private def footerCount(p: String): Long = {
    val reference = spark.read.parquet(p).count()
    val (jobs, n) = jobsDuring(ParquetSink(p).rowCount(spark))
    assert(jobs == 0, s"rowCount ran $jobs Spark jobs")
    assert(n == reference, s"footer count $n, Spark count $reference")
    n
  }

  private def dataFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  test("rowCount after an overwrite counts only the new write") {
    val p = s"${tmp()}/t"
    ParquetSink(p).write(spark.range(0, 100, 1, 3).toDF("id"))
    ParquetSink(p).write(spark.range(0, 37, 1, 2).toDF("id"))
    assert(footerCount(p) == 37)
  }

  test("rowCount after an append counts both writes") {
    val p = s"${tmp()}/t"
    ParquetSink(p).write(spark.range(0, 10, 1, 2).toDF("id"))
    ParquetSink(p, mode = "append").write(spark.range(0, 5, 1, 1).toDF("id"))
    assert(footerCount(p) == 15)
  }

  test("rowCount after a dynamic partition overwrite keeps the older " +
      "partition's rows") {
    val p = s"${tmp()}/t"
    val sink = ParquetSink(p, partitionBy = Seq("k"))
    sink.write(Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "v"))
    sink.write(Seq(("b", 4L), ("b", 5L), ("b", 6L)).toDF("k", "v"))
    assert(footerCount(p) == 5)
  }

  test("rowCount of a 0-row write is 0") {
    val p = s"${tmp()}/t"
    ParquetSink(p).write(spark.range(0).toDF("id"))
    assert(dataFiles(p).nonEmpty, "an empty write still lands a file")
    assert(footerCount(p) == 0)
  }

  test("rowCount skips _SUCCESS, .crc files and a leftover _temporary " +
      "data file") {
    val p = s"${tmp()}/t"
    ParquetSink(p).write(spark.range(0, 8, 1, 2).toDF("id"))
    val names = new java.io.File(p).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    val leftover = Paths.get(p, "_temporary", "0", "_temporary",
      "attempt_0", "part-00009.snappy.parquet")
    Files.createDirectories(leftover.getParent)
    Files.copy(dataFiles(p).head.toPath, leftover,
      StandardCopyOption.REPLACE_EXISTING)
    assert(footerCount(p) == 8)
  }

  test("rowCount counts the __HIVE_DEFAULT_PARTITION__ dir") {
    val p = s"${tmp()}/t"
    ParquetSink(p, partitionBy = Seq("k")).write(
      Seq((Some("a"), 1L), (None: Option[String], 2L),
        (None: Option[String], 3L)).toDF("k", "v"))
    assert(new java.io.File(s"$p/k=__HIVE_DEFAULT_PARTITION__").isDirectory)
    assert(footerCount(p) == 3)
  }

  /** footerSchema of `p`, run with no Spark job. */
  private def schemaOf(p: String): StructType = {
    val (jobs, s) = jobsDuring(Bridge.footerSchema(spark, p))
    assert(jobs == 0, s"footerSchema ran $jobs Spark jobs")
    assert(s.isDefined, s"no schema for $p")
    s.get
  }

  test("footerSchema is Spark's inferred schema for every test table " +
      "(pyarrow-written: no Spark schema key in the footer)") {
    Tables.names.foreach { t =>
      val p = s"$sfDir/$t.parquet"
      assert(schemaOf(p) == spark.read.parquet(p).schema, t)
    }
  }

  test("footerSchema converts a foreign TIMESTAMP(NANOS) column under the " +
      "session's nanosAsLong, as inference does") {
    val msg = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); " +
        "optional binary s (STRING); }")
    val f = new org.apache.hadoop.fs.Path(s"${tmp()}/nanos.parquet")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(f).withType(msg)
      .withConf(spark.sessionState.newHadoopConf()).build()
    try w.write(new org.apache.parquet.example.data.simple
      .SimpleGroupFactory(msg).newGroup()
      .append("ts", 1700000000123456789L).append("s", "x"))
    finally w.close()
    val inferred = spark.read.parquet(f.toString).schema
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(inferred("ts").dataType == LongType)
    assert(schemaOf(f.toString) == inferred)
  }

  test("footerSchema is Spark's inferred schema for a multi-file dir") {
    val p = s"${tmp()}/t"
    spark.range(0, 40, 1, 4)
      .selectExpr("id", "CAST(id AS INT) AS n", "CAST(id AS STRING) AS s",
        "named_struct('a', id, 'b', ARRAY(CAST(id AS DOUBLE))) AS st",
        "DATE'2024-01-01' AS d", "TIMESTAMP'2024-01-01 00:00:00' AS ts",
        "CAST(id AS DECIMAL(12,3)) AS dec")
      .write.parquet(p)
    assert(dataFiles(p).size == 4)
    assert(schemaOf(p) == spark.read.parquet(p).schema)
  }

  test("footerSchema of a partitioned dir is the data schema; a read " +
      "given it infers the partition columns as inference does") {
    val p = s"${tmp()}/t"
    Seq(("a", 1, 1L), ("b", 2, 2L)).toDF("k", "n", "v")
      .write.partitionBy("k", "n").parquet(p)
    val inferred = spark.read.parquet(p).schema
    val s = schemaOf(p)
    assert(s == StructType(inferred.filterNot(f => Set("k", "n")(f.name))))
    assert(spark.read.schema(s).parquet(p).schema == inferred)
    assert(inferred("n").dataType == IntegerType)
  }

  test("footerSchema follows inference when the files disagree on " +
      "schema, and prefers a _common_metadata summary file") {
    val p = s"${tmp()}/t"
    Seq((1L, "x")).toDF("a", "b").coalesce(1).write.parquet(p)
    Seq((2L, 2.5)).toDF("a", "c").coalesce(1)
      .write.mode("append").parquet(p)
    assert(dataFiles(p).size == 2)
    assert(schemaOf(p) == spark.read.parquet(p).schema)
    // a summary file wins over every data file, and holds no rows
    val other = s"${tmp()}/o"
    Seq((true, 3)).toDF("flag", "n").coalesce(1).write.parquet(other)
    Files.copy(dataFiles(other).head.toPath, Paths.get(p, "_common_metadata"))
    val inferred = spark.read.parquet(p).schema
    assert(inferred.fieldNames.toSeq == Seq("flag", "n"))
    assert(schemaOf(p) == inferred)
    assert(footerCount(p) == 2)
  }

  test("footerSchema is None for a missing path and a dir with no data " +
      "file") {
    val root = tmp()
    assert(Bridge.footerSchema(spark, s"$root/absent").isEmpty)
    Files.createDirectories(Paths.get(root, "t", "_temporary", "0"))
    Files.createFile(Paths.get(root, "t", "_SUCCESS"))
    assert(Bridge.footerSchema(spark, s"$root/t").isEmpty)
  }

  test("readOrEmpty keeps its three states: missing path and no data " +
      "file give an empty frame, a corrupt data file throws") {
    val root = tmp()
    val declared = StructType(Seq(StructField("k", StringType)))
    val missing = TargetTable.readOrEmpty(spark, s"$root/absent", declared)
    assert(missing.schema == declared && missing.isEmpty)
    Files.createDirectories(Paths.get(root, "bare", "_temporary", "0"))
    Files.createFile(Paths.get(root, "bare", "_SUCCESS"))
    val bare = TargetTable.readOrEmpty(spark, s"$root/bare", declared)
    assert(bare.schema == declared && bare.isEmpty)
    Files.createDirectories(Paths.get(root, "bad"))
    Files.writeString(Paths.get(root, "bad", "part-0.parquet"), "not parquet")
    intercept[Exception](TargetTable.readOrEmpty(spark, s"$root/bad", declared))
    // a live target reads with the footer's schema, not the declared one
    val live = s"$root/live"
    Seq(("a", 1L)).toDF("k", "key").write.parquet(live)
    val read = TargetTable.readOrEmpty(spark, live, declared)
    assert(read.schema == spark.read.parquet(live).schema)
    assert(read.as[(String, Long)].collect().toSeq == Seq(("a", 1L)))
  }
}
