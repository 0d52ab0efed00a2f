package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sinks.{CowFile, CowTable}

/** Manifest entries built from the Parquet footers a commit just wrote
  * (`CowTable.collectEntries`) against the grouped Spark aggregate that
  * built them before: row count, file size, `min(c).cast("string")`,
  * `max(c).cast("string")` and NULL counts per file, over every stat
  * type, struct leaves, mapped and widened columns, and every kind of
  * partition value. Entries are equal except for four documented cases,
  * each pinned by name:
  *  - `nan_d`: a chunk holding NaN carries no min/max;
  *  - `ts` under the default INT96 encoding carries no min/max;
  *  - `s_4k`: a chunk over 4 KiB of min+max carries no stats at all;
  *  - `zero_d`: a zero min or max prints `0.0` where the aggregate
  *    may print `-0.0`.
  */
class CommitStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("commitstats").toString

  private val MaxStatLen = 64

  /** The aggregate `collectEntries` ran before it read footers. */
  private def aggregateEntries(
      dir: String, id: Long, schema: StructType, partCols: Seq[String],
      colMap: Map[String, String] = Map.empty,
      depth: Int = 1): Seq[CowFile] = {
    def statType(dt: DataType) = dt match {
      case _: NumericType => true
      case StringType | BooleanType | DateType | TimestampType |
           TimestampNTZType => true
      case _ => false
    }
    def leaves(st: StructType, prefix: String, d: Int): Seq[String] =
      st.fields.toSeq.flatMap { f =>
        f.dataType match {
          case s: StructType if d > 1 => leaves(s, s"$prefix${f.name}.", d - 1)
          case dt if statType(dt) => Seq(s"$prefix${f.name}")
          case _ => Nil
        }
      }
    val sc = schema.fields.toSeq.collect {
      case f if statType(f.dataType) => f.name } ++
      schema.fields.toSeq.flatMap { f => f.dataType match {
        case st: StructType => leaves(st, s"${f.name}.", depth)
        case _ => Nil
      } }
    def leafType(c: String): DataType =
      c.split('.').foldLeft(schema: DataType) {
        case (st: StructType, n) => st(n).dataType
        case (dt, _) => dt
      }
    val mapped = colMap.filter { case (l, p) => l != p }
    val phys = StructType(schema.fields.map(f =>
      f.copy(name = mapped.getOrElse(f.name, f.name))))
    val raw = spark.read.schema(phys).parquet(dir)
    val read = raw.select(col("_metadata").as("_metadata") +:
      schema.fields.toSeq.map(f =>
        raw(mapped.getOrElse(f.name, f.name)).as(f.name)): _*)
    val aggs = count(lit(1)).as("__rows") +:
      max(col("_metadata.file_size")).as("__bytes") +:
      (sc.flatMap(c => Seq(
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))) ++
      sc.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")))
    val marker = s"/batch-$id/"
    read.select(col("_metadata.file_path").as("__fp") +:
        schema.fieldNames.toSeq.map(col): _*)
      .groupBy(col("__fp"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.map { r =>
        val full = r.getAs[String]("__fp")
        val rel = new java.net.URI(
          full.substring(full.indexOf(marker) + 1)).getPath
        val isStr = (c: String) => leafType(c) == StringType
        CowFile(
          path = rel,
          part = partCols.map(c => c -> r.getAs[String](s"__min_$c")).toMap,
          rows = r.getAs[Long]("__rows"),
          bytes = r.getAs[Long]("__bytes"),
          mins = sc.flatMap(c => Option(r.getAs[String](s"__min_$c")).map(v =>
            c -> (if (isStr(c) && v.length > MaxStatLen) v.take(MaxStatLen)
                  else v))).toMap,
          maxs = sc.flatMap(c => Option(r.getAs[String](s"__max_$c"))
            .filter(v => !isStr(c) || v.length <= MaxStatLen)
            .map(c -> _)).toMap,
          nulls = sc.map(c => c -> r.getAs[Long](s"__nulls_$c")).toMap)
      }
  }

  /** `df` (physical column names) written in the batch layout the
    * table's writer uses: `__gp_<col>=` directories, the real partition
    * columns kept in the files.
    */
  private def writeBatchDir(
      df: DataFrame, dir: String, partCols: Seq[String],
      opts: Map[String, String] = Map.empty): Unit =
    if (partCols.isEmpty) df.write.options(opts).parquet(dir)
    else df.select(col("*") +: partCols.map(c => col(c).as(s"__gp_$c")): _*)
      .repartition(partCols.map(c => col(s"__gp_$c")): _*)
      .write.options(opts).partitionBy(partCols.map(c => s"__gp_$c"): _*)
      .parquet(dir)

  /** Footer-built entries equal the aggregate's, except the stat cells
    * of `documented` columns, which are returned for the caller to pin.
    */
  private def assertSame(got: Seq[CowFile], want: Seq[CowFile],
      documented: Set[String] = Set.empty): Seq[(CowFile, CowFile)] = {
    assert(got.map(_.path).sorted == want.map(_.path).sorted)
    val byPath = want.map(f => f.path -> f).toMap
    got.map { g =>
      val w = byPath(g.path)
      def strip(f: CowFile) = f.copy(mins = f.mins -- documented,
        maxs = f.maxs -- documented, nulls = f.nulls -- documented)
      assert(strip(g) == strip(w), s"\nfooter:    $g\naggregate: $w")
      (g, w)
    }
  }

  private val Documented = Set("nan_d", "ts", "s_4k", "zero_d")

  private val matrixSchema = StructType(Seq(
    StructField("b", ByteType), StructField("sh", ShortType),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("dec5", DecimalType(5, 2)),
    StructField("dec15", DecimalType(15, 3)),
    StructField("dec25", DecimalType(25, 4)),
    StructField("s", StringType), StructField("s_long", StringType),
    StructField("bo", BooleanType), StructField("dt", DateType),
    StructField("ts", TimestampType), StructField("tsn", TimestampNTZType),
    StructField("nul", IntegerType),
    StructField("nan_d", DoubleType), StructField("zero_d", DoubleType),
    StructField("pz_d", DoubleType),
    StructField("s_4k", StringType),
    StructField("st", StructType(Seq(
      StructField("a", IntegerType), StructField("b", StringType),
      StructField("inner", StructType(Seq(
        StructField("x", LongType))))))),
    StructField("p", StringType)))

  /** 120 rows over four partitions: an escaped value, NULL, '' and a
    * plain one; NULLs sprinkled through every column.
    */
  private def matrix: DataFrame = {
    val rows = (0 until 120).map { n =>
      def orNull[T](v: T): Any = if (n % 7 == 3) null else v
      Row(
        orNull((n % 50 - 25).toByte), orNull((n * 300 - 9000).toShort),
        orNull(n * 1000 - 50000), orNull(n.toLong * 1000000007L - 3L),
        orNull(n * 0.25f - 7.5f), orNull(n * 1.125 - 60.0),
        orNull(BigDecimal(n * 13 - 700, 2).bigDecimal),
        orNull(BigDecimal(n.toLong * 1000003L - 5L, 3).bigDecimal),
        orNull(BigDecimal(BigInt(n) * BigInt("100000000000000007") - 1, 4)
          .bigDecimal),
        orNull(f"k$n%03d-ü"), orNull(s"${"long-" * 15}$n"),
        orNull(n % 3 == 0),
        orNull(java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1)
          .plusDays(n * 11L))),
        orNull(java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(
          2021, 3, 14, 1, 59, 26).plusSeconds(n * 3607L).plusNanos(n * 1000L))),
        orNull(java.time.LocalDateTime.of(1999, 12, 31, 23, 0)
          .plusMinutes(n * 97L)),
        null,
        if (n % 5 == 0) Double.NaN else n * 0.5,
        if (n % 2 == 0) -0.0 else 0.0,
        (n % 3).toDouble,
        if (n == 10) "z" * 5000 else s"s4k-$n",
        if (n % 11 == 5) null
        else Row(orNull(n * 7), orNull(s"sa$n"),
          if (n % 13 == 6) null else Row(orNull(n * 99L))),
        n % 4 match {
          case 0 => "a:b/c d%"
          case 1 => null
          case 2 => ""
          case _ => "plain"
        })
    }
    spark.createDataFrame(java.util.List.of(rows: _*), matrixSchema)
  }

  /** The documented cases, checked on every file of the matrix. */
  private def assertDocumented(pairs: Seq[(CowFile, CowFile)]): Unit =
    pairs.foreach { case (got, want) =>
      // NaN: the aggregate's max is NaN; the footer drops min and max
      assert(want.maxs.get("nan_d").contains("NaN"))
      assert(!got.mins.contains("nan_d") && !got.maxs.contains("nan_d"))
      assert(got.nulls.get("nan_d") == want.nulls.get("nan_d"))
      // INT96 timestamps carry no min/max; the NULL count survives
      assert(want.mins.contains("ts") || want.nulls("ts") == want.rows)
      assert(!got.mins.contains("ts") && !got.maxs.contains("ts"))
      assert(got.nulls.get("ts") == want.nulls.get("ts"))
      // ±0.0: equal numbers; the footer's zero prints 0.0
      assert(got.mins.get("zero_d").contains("0.0") &&
        got.maxs.get("zero_d").contains("0.0"))
      assert(want.mins("zero_d").toDouble == 0.0 &&
        want.maxs("zero_d").toDouble == 0.0)
      // over 4 KiB: only the file holding the 5000-char value loses
      // every s_4k stat, its NULL count included
      if (want.maxs.get("s_4k").isEmpty &&
          want.mins.get("s_4k").exists(_ <= "z")) {
        assert(!got.mins.contains("s_4k") && !got.nulls.contains("s_4k"))
      } else assert(got.mins.get("s_4k") == want.mins.get("s_4k") &&
        got.maxs.get("s_4k") == want.maxs.get("s_4k") &&
        got.nulls.get("s_4k") == want.nulls.get("s_4k"))
    }

  test("every stat type, struct leaves to depth 2 and NULL, '' and " +
      "escaped partition values match the aggregate, several row " +
      "groups per file included") {
    val root = tmp()
    CowTable.setNestedStatsDepth(spark, root, 2)
    val dir = s"$root/batch-1"
    // a tiny row group size: several row groups per file, merged
    writeBatchDir(matrix, dir, Seq("p"), Map(
      "parquet.block.size" -> "2048",
      "parquet.page.size.row.check.min" -> "2",
      "parquet.page.size.row.check.max" -> "4"))
    val got = CowTable.collectEntries(spark, dir, 1L, matrixSchema, Seq("p"))
    val want = aggregateEntries(dir, 1L, matrixSchema, Seq("p"), depth = 2)
    assertDocumented(assertSame(got, want, Documented))
    // NULL and '' rows share the default partition's file: its value
    // is '' (the aggregate's min), its NULL count the NULL rows
    assert(got.map(_.part("p")).toSet == Set("a:b/c d%", "", "plain"))
    assert(got.exists(f => f.part("p") == "" && f.nulls("p") == 30L))
    assert(got.forall(_.mins.contains("st.inner.x")))
    // a +0.0 minimum prints as the aggregate prints it
    assert(got.forall(_.mins.get("pz_d").contains("0.0")))
    assert(got.exists(_.nulls.get("nul").contains(30L)))
    assert(got.exists(f => !f.nulls.contains("s_4k")),
      "the 5000-char value must land in some file")
    val footers = org.apache.spark.sql.graftbridge.Bridge.readFooters(
      spark, listFiles(dir))
    assert(footers.exists(_.getBlocks.size > 1),
      "the matrix must exercise the row-group merge")
  }

  private def listFiles(dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(_.getPath.getName.endsWith(".parquet")).toSeq
  }

  test("INT64 timestamps, legacy FLBA decimals, Julian-rebased old " +
      "dates and a timestamp partition column match the aggregate with " +
      "no exception") {
    val root = tmp()
    val dir = s"$root/batch-1"
    val schema = StructType(matrixSchema.fields.filterNot(f =>
      Documented.contains(f.name) || f.name == "p") ++ Seq(
      StructField("ts", TimestampType), StructField("old_dt", DateType),
      StructField("old_ts", TimestampType), StructField("tp", TimestampType)))
    val df = matrix.drop("nan_d", "zero_d", "s_4k", "p")
      .withColumn("old_dt", expr("date_add(date'1500-02-20', i % 40)"))
      .withColumn("old_ts", expr("timestamp'1400-03-01 12:00:00' + " +
        "make_interval(0, 0, 0, CAST(i % 40 AS INT), 0, 0, 0)"))
      .withColumn("tp", expr("timestamp'2024-03-10 01:30:00.25' + " +
        "make_interval(0, 0, 0, 0, CAST(i % 3 AS INT), 0, 0)"))
    val keys = Seq("spark.sql.parquet.outputTimestampType",
      "spark.sql.parquet.writeLegacyFormat",
      "spark.sql.parquet.datetimeRebaseModeInWrite")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "TIMESTAMP_MICROS")
    spark.conf.set(keys(1), "true")
    spark.conf.set(keys(2), "LEGACY")
    try writeBatchDir(df, dir, Seq("tp"))
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val got = CowTable.collectEntries(spark, dir, 1L, schema, Seq("tp"))
    assertSame(got, aggregateEntries(dir, 1L, schema, Seq("tp")))
    // `i` is NULL exactly where `ts` is, so that file's `tp` is NULL
    assert(got.exists(_.part("tp") == null))
    assert(got.forall(f => f.part("tp") == null ||
      (f.mins.contains("ts") && f.mins.contains("tp"))))
    // the old values were stored Julian-rebased: the footer says so
    assert(got.forall(f => f.part("tp") == null ||
      (f.mins.get("old_dt").exists(_ < "1500-04") &&
        f.mins.get("old_ts").exists(_.startsWith("1400-0")))))
    assert(org.apache.spark.sql.graftbridge.Bridge.readFooters(
      spark, listFiles(dir)).forall(_.getFileMetaData.getKeyValueMetaData
        .containsKey("org.apache.spark.legacyDateTime")))
  }

  test("a renamed (mapped) column, an int column read as long and a " +
      "NULL partition match the aggregate") {
    val root = tmp()
    val dir = s"$root/batch-1"
    // on disk: physical `c7` holds the logical `score`, `n` is an INT;
    // the manifest reads `n` as LONG and partitions by `part` (`c8`)
    writeBatchDir(
      Seq((1, 2.5, "x"), (7, -1.0, "y"), (3, 9.0, "x"), (-4, 0.5, "y"),
        (5, 4.0, null)).toDF("n", "c7", "c8"), dir, Seq("c8"))
    val schema = StructType(Seq(StructField("n", LongType),
      StructField("score", DoubleType), StructField("part", StringType)))
    val colMap = Map("n" -> "n", "score" -> "c7", "part" -> "c8")
    val got = CowTable.collectEntries(spark, dir, 1L, schema, Seq("part"),
      colMap = colMap)
    assertSame(got,
      aggregateEntries(dir, 1L, schema, Seq("part"), colMap = colMap))
    // a NULL-only default partition reads NULL
    assert(got.map(f => f.part("part") -> f.maxs("score")).toSet ==
      Set("x" -> "9.0", "y" -> "0.5", (null, "4.0")))
  }

  test("an empty batch has no entries; a split compaction and a DV " +
      "sidecar record what the aggregate records, with no stats job") {
    val root = tmp()
    val empty = s"$root/batch-9"
    writeBatchDir(Seq.empty[(Long, String)].toDF("k", "p"), empty, Nil)
    val emptySchema = StructType(Seq(StructField("k", LongType),
      StructField("p", StringType)))
    assert(CowTable.collectEntries(spark, empty, 9L, emptySchema, Nil).isEmpty)
    assert(CowTable.collectEntries(spark, s"$root/batch-8", 8L, emptySchema,
      Nil).isEmpty)

    val t = s"$root/t"
    // four commits → four files per partition, compacted into two
    def slice(i: Int) = (i * 1000 until (i + 1) * 1000)
      .map(n => (n.toLong, f"v$n%05d" * 8, s"p${n % 2}")).toDF("k", "v", "p")
    CowTable.commitFull(slice(0), t, 1L, Seq("p"), keep = 100)
    (1 to 3).foreach(i =>
      CowTable.commitAppend(slice(i), t, i + 1L, Seq("p"), keep = 100))
    val m = CowTable.currentManifest(spark, t).get
    val schema = m.schema
    assert(CowTable.compactPartitions(spark, t, 5L,
      targetFileBytes = m.files.map(_.bytes).sum / 4, keep = 100))
    val compacted = CowTable.currentManifest(spark, t).get.files
      .filter(_.path.startsWith("batch-5/"))
    assert(compacted.groupBy(_.part).values.exists(_.size > 1),
      s"compaction did not split: ${compacted.map(_.path)}")
    assertSame(compacted,
      aggregateEntries(s"$t/batch-5", 5L, schema, Seq("p")))

    assert(CowTable.deleteKeysMor(spark, t, 6L,
      Seq((5L, "p1"), (8L, "p0"), (9L, "p1")).toDF("k", "p"),
      Seq("k"), Seq("p"), keep = 100))
    val dvs = CowTable.currentManifest(spark, t).get.dvs
      .filter(_.path.startsWith("batch-6/"))
    assert(dvs.size == 2)
    val dvSchema = StructType(Seq(StructField("path", StringType),
      StructField("positions", ArrayType(LongType)),
      StructField("p", StringType)))
    assertSame(dvs.map(_.copy(kind = CowTable.KindData)),
      aggregateEntries(s"$t/batch-6/__dv", 6L, dvSchema, Seq("p")))

    val (jobs, _) = jobsDuring(
      CowTable.collectEntries(spark, s"$t/batch-5", 5L, schema, Seq("p")))
    assert(jobs == 0L, s"collectEntries launched $jobs jobs")
  }
}
