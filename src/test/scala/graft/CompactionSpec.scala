package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sinks.Compaction

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def contentHash(path: String): String =
    spark.read.parquet(path)
      .select(xxhash64(col("k"), col("v"), col("dt")).as("h"))
      .agg(sum(col("h").cast("decimal(38,0)")).cast("string")).as[String].head()

  test("partitioned compaction: fewer files, identical content, layout " +
      "and pruning preserved") {
    val root = Files.createTempDirectory("graft-compact").toString + "/t"
    // 3 partitions × 8 tiny appended files each
    (1 to 8).foreach { i =>
      Seq.tabulate(30)(j => (i * 100L + j, s"v$i-$j", s"d${j % 3 + 1}"))
        .toDF("k", "v", "dt")
        .repartition(1).write.mode("append").partitionBy("dt").parquet(root)
    }
    val before = contentHash(root)
    val beforeRows = spark.read.parquet(root).count()

    val stats = Compaction.compact(spark, root, targetFileBytes = 64L * 1024 * 1024)
    assert(stats.partitionDirs == 3)
    assert(stats.filesBefore == 24, s"expected 24 input files, $stats")
    // tiny partitions bin-pack to ONE file each
    assert(stats.filesAfter == 3, s"expected 3 output files, $stats")

    // content byte-identical (order-insensitive hash), row count intact
    assert(spark.read.parquet(root).count() == beforeRows)
    assert(contentHash(root) == before)

    // partition pruning still works on the compacted layout
    val pruned = spark.read.parquet(root).where(col("dt") === "d1")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(dt"),
      s"partition filter not pushed:\n$scan")
    assert(pruned.count() == beforeRows / 3)
    // staging/old leftovers are gone
    assert(!new java.io.File(root + "__staging").exists())
    assert(!new java.io.File(root + "__old").exists())
  }

  test("a partition larger than targetFileBytes splits into multiple bins") {
    val root = Files.createTempDirectory("graft-compact2").toString + "/t"
    Seq.tabulate(20000)(j => (j.toLong, "x" * 64, "d1"))
      .toDF("k", "v", "dt")
      .repartition(10).write.partitionBy("dt").parquet(root)
    val bytes = {
      val p = new org.apache.hadoop.fs.Path(root)
      val it = p.getFileSystem(spark.sessionState.newHadoopConf())
        .listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    }
    val stats = Compaction.compact(spark, root, targetFileBytes = bytes / 4)
    assert(stats.filesAfter >= 3 && stats.filesAfter <= 8,
      s"expected ~4-way split of the big partition, got $stats")
    assert(spark.read.parquet(root).count() == 20000)
  }

  test("unpartitioned compaction bin-packs globally") {
    val root = Files.createTempDirectory("graft-compact3").toString + "/t"
    (1 to 6).foreach { i =>
      Seq.tabulate(10)(j => (i * 10L + j, s"r$j", "na")).toDF("k", "v", "dt")
        .repartition(1).write.mode("append").parquet(root)
    }
    val before = contentHash(root)
    val stats = Compaction.compact(spark, root)
    assert(stats.filesBefore == 6 && stats.filesAfter == 1, s"$stats")
    assert(contentHash(root) == before)
  }

  test("bucketed-table compaction preserves the bucket spec and the " +
      "exchange-free join it buys") {
    val root = Files.createTempDirectory("graft-compactb").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS cbk LOCATION '$root/wh'")
    try {
      // many small appends into a bucketed table
      (1 to 4).foreach { i =>
        Seq.tabulate(50)(j => (j.toLong, s"b$i-$j")).toDF("k", "v")
          .repartition(1)
          .write.mode("append").bucketBy(4, "k").sortBy("k")
          .saveAsTable("cbk.fact")
      }
      val beforeRows = spark.table("cbk.fact").count()
      Compaction.compactBucketedTable(spark, "cbk.fact")
      assert(spark.table("cbk.fact").count() == beforeRows)
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("fact", Some("cbk")))
      assert(meta.bucketSpec.exists(_.numBuckets == 4))
      // the join on the bucket key still runs with NO exchange on the
      // compacted side
      val dim = Seq((1L, "one"), (2L, "two")).toDF("k", "name")
        .hint("shuffle_hash")
      val joined = spark.table("cbk.fact").join(dim, "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"compacted scan lost its bucketing:\n$plan")
      // exactly ONE exchange (the non-bucketed dim side); a second
      // would mean the compacted fact side re-shuffles
      assert("Exchange".r.findAllIn(plan).size == 1,
        s"bucketed side re-shuffled after compaction:\n$plan")
    } finally spark.sql("DROP DATABASE IF EXISTS cbk CASCADE")
  }
}
