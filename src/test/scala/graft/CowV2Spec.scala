package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.sinks.{CowTable, CowV2}

/** The planner-integrated read path ([[graft.sinks.CowFileIndex]] /
  * [[graft.sinks.CowV2]]): manifest skipping and partition pruning
  * happen INSIDE `FileSourceStrategy`, driven by ordinary `.where`
  * predicates on one DataFrame — no per-predicate entry point.
  */
class CowV2Spec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("cowv2").toString

  private def base = Seq(
    (1L, "p1", "a", 10.0),
    (2L, "p1", "b", 20.0),
    (3L, "p2", "c", 30.0),
    (4L, "p2", "d", 40.0),
    (5L, "p3", "e", 50.0),
    (6L, "p3", "f", 60.0))
    .toDF("id", "part", "name", "score")

  /** Files the executed plan's scan actually selected — read from the
    * scan's own file listing (`selectedPartitions`), which is exactly
    * what `createReadRDD` enumerates; the `numFiles` SQLMetric is
    * zeroed by `resetMetrics()` at action start when the lazy listing
    * was already forced at planning time, so it cannot be asserted on.
    */
  private def filesRead(df: DataFrame): Long = {
    df.collect()
    val scan = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.headOption.getOrElse(fail("no file scan in the executed plan"))
    scan.selectedPartitions.totalNumberOfFiles
  }

  private def withoutAqe[A](body: => A): A = {
    val saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  test("CowV2.read equals CowTable.read through commitFull + upsert + " +
      "MOR delete (tombstones subtracted), and readAt time-travels") {
    val root = tmp()
    CowTable.commitFull(base, root, 1L, Seq("part"))
    val delta = Seq((2L, "p1", "B2", 21.0), (7L, "p2", "g", 70.0))
      .toDF("id", "part", "name", "score")
    CowTable.upsert(spark, root, 2L, delta, Seq("id"), Seq("part"))
    CowTable.deleteKeysMor(spark, root, 3L,
      Seq((5L, "p3")).toDF("id", "part"), Seq("id"), Seq("part"))

    val v2 = CowV2.read(spark, root).get
    val v1 = CowTable.read(spark, root).get
    assert(v2.collect().toSet == v1.collect().toSet)
    assert(v2.columns.toSeq == v1.columns.toSeq,
      "planner path must preserve the manifest column order")
    assert(!v2.select("id").collect().map(_.getLong(0)).contains(5L),
      "MOR-deleted row leaked through the v2 path")

    // delta-chain retention keeps id=1 alive under keep=2 (the head's
    // chain resolves through it) — it stays SERVABLE until a
    // checkpoint collapses the chain, after which the v2 path fails
    // loud (same contract as the vacuum-reader pins). An in-retention
    // id then time-travels to the pre-delete state.
    assert(CowV2.readAt(spark, root, 1L).collect().toSet ==
      CowTable.readAt(spark, root, 1L).get.collect().toSet,
      "a chain-retained base must stay servable")
    CowTable.checkpoint(spark, root, 2L)
    CowTable.vacuum(spark, root, keep = 2)
    intercept[Exception] { CowV2.readAt(spark, root, 1L).collect() }
    val t2 = CowV2.readAt(spark, root, 2L)
    assert(t2.collect().toSet ==
      CowTable.readAt(spark, root, 2L).get.collect().toSet,
      "time travel to id=2 must return the pre-delete snapshot")
    assert(t2.select("id").collect().map(_.getLong(0)).contains(5L))
  }

  test("partition filter prunes statically: the scan's file listing " +
      "drops to the one partition's file and the filter sits in " +
      "PartitionFilters") {
    withoutAqe {
      val root = tmp()
      CowTable.commitFull(base, root, 1L, Seq("part"))
      val df = CowV2.read(spark, root).get.where($"part" === "p2")
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
      val plan = df.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*part".r.findFirstIn(plan).isDefined,
        s"partition predicate did not land in PartitionFilters:\n$plan")
      assert(filesRead(df) == 1, "expected exactly the one partition's file")
      // unfiltered baseline: all three partitions' files
      assert(filesRead(CowV2.read(spark, root).get) == 3)
    }
  }

  test("data filter on a NON-partition column prunes through the " +
      "manifest min/max envelopes at planning time") {
    withoutAqe {
      val root = tmp()
      CowTable.commitFull(base, root, 1L, Seq("part"))
      // ids cluster per partition (p1:1-2, p2:3-4, p3:5-6), so the
      // envelope test keeps exactly one file for a point predicate
      val df = CowV2.read(spark, root).get.where($"id" === 6L)
      assert(df.collect().map(_.getString(2)).toSeq == Seq("f"))
      assert(filesRead(df) == 1, "envelope skipping must keep one file")
      // IN-list across two partitions keeps exactly those two files
      val in = CowV2.read(spark, root).get.where($"id".isin(1L, 5L))
      assert(in.collect().length == 2)
      assert(filesRead(in) == 2,
        "IN-list skipping must keep exactly the two ids' files")
      // a range predicate composes: id >= 3 drops p1's file
      val rg = CowV2.read(spark, root).get.where($"id" >= 3L)
      assert(rg.collect().length == 4)
      assert(filesRead(rg) == 2)
    }
  }

  test("NULL-count stats prune IS NULL / IS NOT NULL at planning: a " +
      "no-nulls file skips the former, an all-nulls file the latter") {
    withoutAqe {
      val root = tmp()
      val data = Seq(
        (1L, "p1", Some("a")), (2L, "p1", Some("b")), // p1: no nulls
        (3L, "p2", None), (4L, "p2", None),           // p2: all null
        (5L, "p3", Some("e")), (6L, "p3", None))      // p3: mixed
        .toDF("id", "part", "tag")
      CowTable.commitFull(data, root, 1L, Seq("part"))
      val isNull = CowV2.read(spark, root).get.where($"tag".isNull)
      assert(isNull.collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(3L, 4L, 6L))
      assert(filesRead(isNull) == 2, "the no-nulls file must skip")
      val notNull = CowV2.read(spark, root).get.where($"tag".isNotNull)
      assert(notNull.collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(1L, 2L, 5L))
      assert(filesRead(notNull) == 2, "the all-nulls file must skip")
    }
  }

  test("an UNSUPPORTED predicate shape keeps every file and stays " +
      "exact (skipping is only an optimization)") {
    withoutAqe {
      val root = tmp()
      CowTable.commitFull(base, root, 1L, Seq("part"))
      val df = CowV2.read(spark, root).get
        .where(length($"name") === 1 && $"id" % 2 === 0)
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L, 6L))
      assert(filesRead(df) == 3,
        "non-range predicates must not prune (no false skipping)")
    }
  }

  test("dynamic partition pruning fires on the CowV2 scan: a filtered " +
      "broadcast dim installs a dynamicpruning PartitionFilter") {
    val saved = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
      .map(k => k -> spark.conf.get(k))
    try {
      // tiny test tables carry no usable stats; the fallback ratio
      // heuristic decides instead (the production default behavior on
      // an unanalyzed external table)
      spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio",
        "10")
      val root = tmp()
      CowTable.commitFull(base, root, 1L, Seq("part"))
      // the dim must be a real scan with a surviving selective filter
      // (a local relation constant-folds the filter away, and the DPP
      // rule keys on a selective predicate on the filtering side)
      val dimPath = tmp() + "/dim"
      Seq(("p2", "keep"), ("zz", "drop")).toDF("dpart", "tag")
        .write.parquet(dimPath)
      val dim = spark.read.parquet(dimPath).where($"tag" === "keep")
      val joined = CowV2.read(spark, root).get
        .join(broadcast(dim), $"part" === $"dpart")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"CowV2 scan lost dynamic partition pruning:\n$plan")
      assert(joined.count() == 2)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("schema evolution through the planner path: old int-era files " +
      "upcast to the widened long schema and surface NULL for the " +
      "added column") {
    val root = tmp()
    val v1 = Seq((1, "p1", 10), (2, "p2", 20)).toDF("id", "part", "v")
    CowTable.commitFull(v1, root, 1L, Seq("part"), keep = 10)
    val v2 = Seq((3L, "p1", 30L, "t3")).toDF("id", "part", "v", "tag")
    CowTable.commitAppend(v2, root, 2L, Seq("part"), keep = 10)
    val df = CowV2.read(spark, root).get
    assert(df.schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    val rows = df.orderBy("id").collect()
    assert(rows.map(_.getLong(2)).toSeq == Seq(10L, 20L, 30L),
      "old int files must upcast through the vectorized reader")
    assert(rows.map(r => Option(r.getString(3))).toSeq ==
      Seq(None, None, Some("t3")),
      "pre-evolution files must surface NULL for the added column")
  }

  test("bloom-only pruning through the planner: a point predicate on " +
      "a hash-scattered column (envelopes span everything) still " +
      "drops files via the per-file blooms") {
    withoutAqe {
      val root = tmp()
      // interleave ids across partitions so every file's id-envelope
      // covers the whole key space — only the bloom can prune
      val scattered = Seq(
        (1L, "p1"), (4L, "p1"), (2L, "p2"), (5L, "p2"),
        (3L, "p3"), (6L, "p3"))
        .toDF("id", "part")
        .withColumn("tag", concat(lit("v"), $"id"))
      CowTable.commitFull(scattered, root, 1L, Seq("part"),
        bloomCols = Seq("tag"))
      val df = CowV2.read(spark, root).get.where($"tag" === "v5")
      assert(df.collect().map(_.getLong(0)).toSeq == Seq(5L))
      assert(filesRead(df) < 3,
        "bloom skipping must prune at least one file at planning time")
    }
  }

  test("2-D conjunct through the planner prunes no worse than either " +
      "1-D predicate on a z-ordered layout (the cow_zorder_2d shape)") {
    withoutAqe {
      val root = tmp()
      val n = 512
      val rows = spark.range(n).select(
        ($"id" % 32L).as("x"), ($"id" / 32L).as("y"), $"id")
      CowTable.commitFull(
        graft.sinks.ZOrder.cluster(rows, Seq("x", "y"), nFiles = 8),
        root, 1L, Nil)
      def kept(p: org.apache.spark.sql.Column): Long =
        filesRead(CowV2.read(spark, root).get.where(p))
      val total = filesRead(CowV2.read(spark, root).get)
      val k1 = kept($"x".between(4L, 11L))
      val k2 = kept($"y".between(2L, 6L))
      val both = kept($"x".between(4L, 11L) && $"y".between(2L, 6L))
      assert(both <= k1 && both <= k2 && both < total,
        s"2-D planner prune kept $both of $total vs 1-D $k1/$k2")
      // and the pruned read is still exact
      val got = CowV2.read(spark, root).get
        .where($"x".between(4L, 11L) && $"y".between(2L, 6L))
        .agg(count("*"), sum("id")).collect().head
      val exp = rows.where($"x".between(4L, 11L) && $"y".between(2L, 6L))
        .agg(count("*"), sum("id")).collect().head
      assert(got == exp)
    }
  }

  test("manifest statistics flow to Catalyst: a small CowV2 dim " +
      "auto-broadcasts under the planner's OWN threshold with no " +
      "hint, and stops broadcasting when the threshold drops") {
    val root = tmp()
    CowTable.commitFull(
      spark.range(200).select($"id".as("d_key"),
        concat(lit("n"), $"id").as("d_name")),
      root, 1L, Nil)
    val dim = CowV2.read(spark, root).get
    // the relation's size estimate is the manifest's byte count (times
    // Spark's file compression factor) — no listing, no data read
    val stats = dim.queryExecution.optimizedPlan.stats.sizeInBytes
    val manifestBytes =
      CowTable.currentManifest(spark, root).get.files.map(_.bytes).sum
    assert(stats > 0 && stats <= manifestBytes * 10,
      s"stats $stats not derived from manifest bytes $manifestBytes")
    val fact = spark.range(10000)
      .select(($"id" % 200).as("d_key"), $"id".as("v"))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      val p = fact.join(dim, Seq("d_key")).queryExecution
        .executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"Catalyst did not auto-broadcast the manifest-sized dim:\n$p")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      val p2 = fact.join(dim, Seq("d_key")).queryExecution
        .executedPlan.toString
      assert(!p2.contains("BroadcastHashJoin"),
        s"oversized-for-threshold dim still broadcast:\n$p2")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("snapshot isolation: a CowV2 DataFrame pins its manifest — a " +
      "commit AFTER construction is invisible to it") {
    val root = tmp()
    CowTable.commitFull(base, root, 1L, Seq("part"))
    val pinned = CowV2.read(spark, root).get
    val delta = Seq((8L, "p1", "h", 80.0))
      .toDF("id", "part", "name", "score")
    CowTable.upsert(spark, root, 2L, delta, Seq("id"), Seq("part"))
    assert(pinned.count() == 6, "pinned snapshot saw a later commit")
    assert(CowV2.read(spark, root).get.count() == 7)
  }
}
