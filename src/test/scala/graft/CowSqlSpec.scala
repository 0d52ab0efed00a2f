package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sinks.{CowSql, CowTable}

/** [[graft.sinks.CowSql]] — ANSI DML text executed against CowTable
  * paths via Spark's own parser.
  */
class CowSqlSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("cowsql").toString

  private def mk(root: String): Unit =
    CowTable.commitFull(
      spark.range(100).select($"id", ($"id" % 4).as("pb"),
        concat(lit("n"), $"id").as("name"), ($"id" % 10).as("score")),
      root, 1L, Seq("pb"), keep = 10)

  test("DELETE FROM cow.`path` WHERE …") {
    val root = tmp(); mk(root)
    CowSql.exec(spark, 2L,
      s"DELETE FROM cow.`$root` WHERE score >= 8 OR id = 0")
    val got = CowTable.read(spark, root).get
      .select("id").as[Long].collect().sorted.toSeq
    val want = (1L until 100L).filter(_ % 10 < 8).toSeq
    assert(got == want)
  }

  test("UPDATE cow.`path` SET … WHERE … with expressions over the row") {
    val root = tmp(); mk(root)
    CowSql.exec(spark, 2L,
      s"UPDATE cow.`$root` SET name = concat('U-', id), " +
        "score = score + 100 WHERE score < 2")
    val got = CowTable.read(spark, root).get
    assert(got.where($"score" >= 100L).count() ==
      (0L until 100L).count(_ % 10 < 2))
    val one = got.where($"id" === 11L)
      .select("name", "score").as[(String, Long)].collect().head
    assert(one == ("U-11", 101L))
    assert(got.where($"id" === 5L).select("name").as[String]
      .collect().head == "n5", "non-matching row mutated")
  }

  test("mode=Mor routes a textual DELETE to positional deletion " +
      "vectors — bytes written ≪ the partition rewrite, result " +
      "identical to the COW twin") {
    // big enough that per-file parquet overhead does not swamp the
    // byte comparison (the micro-table `mk` would)
    def mkWide(root: String): Unit = CowTable.commitFull(
      spark.range(20000).select($"id", ($"id" % 4).as("pb"),
        sha2(concat(lit("n"), $"id"), 256).as("name"),
        ($"id" % 10).as("score")),
      root, 1L, Seq("pb"), keep = 10)
    val root = tmp(); mkWide(root)
    val cowRoot = tmp(); mkWide(cowRoot)
    val stmt = "DELETE FROM cow.`%s` WHERE score >= 8 OR id = 0"
    CowSql.exec(spark, 2L, stmt.format(root), mode = CowSql.Mor)
    CowSql.exec(spark, 2L, stmt.format(cowRoot), mode = CowSql.Cow)
    val got = CowTable.read(spark, root).get.select("id", "name", "score")
    val want = CowTable.read(spark, cowRoot).get
      .select("id", "name", "score")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // economics: every base data file carried by reference; the
    // sidecar bytes are a fraction of what the COW twin rewrote
    val m = CowTable.currentManifest(spark, root).get
    assert(m.files.forall(_.path.startsWith("batch-1/")),
      "MOR DELETE rewrote a base data file")
    val mCow = CowTable.currentManifest(spark, cowRoot).get
    val rewritten = mCow.files.filter(_.path.startsWith("batch-2/"))
    assert(rewritten.nonEmpty,
      "sanity: the COW twin rewrites the touched partitions")
    assert(m.dvs.nonEmpty &&
      m.dvs.map(_.bytes).sum * 4 < rewritten.map(_.bytes).sum,
      s"textual MOR DELETE wrote ${m.dvs.map(_.bytes).sum} sidecar " +
        s"bytes vs the COW rewrite's ${rewritten.map(_.bytes).sum}")
  }

  test("mode=Mor routes a textual UPDATE to updateWhereDv; Auto " +
      "picks by manifest bytes") {
    val root = tmp(); mk(root)
    CowSql.exec(spark, 2L,
      s"UPDATE cow.`$root` SET name = concat('U-', id) WHERE score < 2",
      mode = CowSql.Mor)
    val m = CowTable.currentManifest(spark, root).get
    assert(m.dvs.nonEmpty &&
      m.files.exists(_.path.startsWith("batch-2/")) &&
      m.files.count(_.path.startsWith("batch-1/")) ==
        CowTable.manifest(spark, root, 1L).files.size,
      "textual MOR UPDATE must mask positions and append new images " +
        "without rewriting")
    assert(CowTable.read(spark, root).get
      .where($"id" === 11L).select("name").as[String]
      .collect().head == "U-11")
    // Auto on a tiny table stays COW (below any sane threshold)…
    val auto = tmp(); mk(auto)
    CowSql.exec(spark, 2L,
      s"DELETE FROM cow.`$auto` WHERE score >= 8", mode = CowSql.Auto)
    assert(CowTable.currentManifest(spark, auto).get.dvs.isEmpty)
    // …and flips to MOR once the manifest's data bytes exceed it
    val auto2 = tmp(); mk(auto2)
    CowSql.exec(spark, 2L,
      s"DELETE FROM cow.`$auto2` WHERE score >= 8", mode = CowSql.Auto,
      morThresholdBytes = 1L)
    assert(CowTable.currentManifest(spark, auto2).get.dvs.nonEmpty)
  }

  test("MERGE INTO cow.`path` AS t USING view AS s — conditional " +
      "update, star insert, by-source delete") {
    val root = tmp(); mk(root)
    spark.range(90, 110)
      .select($"id", ($"id" % 4).as("pb"),
        concat(lit("src"), $"id").as("name"), lit(55L).as("score"))
      .createOrReplaceTempView("merge_src")
    CowSql.exec(spark, 2L, s"""
      MERGE INTO cow.`$root` AS t USING merge_src AS s
      ON t.id = s.id AND t.pb = s.pb
      WHEN MATCHED AND t.score < 5 THEN UPDATE SET name = s.name
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND t.id < 3 THEN DELETE""")
    val got = CowTable.read(spark, root).get
    // inserts: 100-109 arrived with source names
    assert(got.where($"id" >= 100L).count() == 10)
    // conditional matched update: ids 90..99 with score%10 < 5 renamed
    val renamed = got.where($"id".between(90L, 99L) &&
      $"name".startsWith("src")).select("id").as[Long]
      .collect().sorted.toSeq
    assert(renamed == (90L until 100L).filter(_ % 10 < 5).toSeq,
      s"conditional UPDATE wrong: $renamed")
    // by-source delete: ids 0-2 gone, 3+ intact
    assert(got.where($"id" < 3L).count() == 0)
    assert(got.where($"id" === 3L).count() == 1)
  }

  test("OPTIMIZE / VACUUM / RESTORE textual forms") {
    val root = tmp(); mk(root)
    CowSql.exec(spark, 2L,
      s"UPDATE cow.`$root` SET name = 'x' WHERE id < 10")
    // restore back to snapshot 1 (allocates its own commit id)
    CowSql.exec(spark, 0L, s"RESTORE cow.`$root` TO SNAPSHOT 1")
    assert(CowTable.read(spark, root).get
      .where($"name" === "x").count() == 0, "restore did not roll back")
    CowSql.exec(spark, 9L,
      s"OPTIMIZE cow.`$root` ZORDER BY (id, score)")
    assert(CowTable.read(spark, root).get.count() == 100,
      "optimize changed content")
    CowSql.exec(spark, 0L, s"VACUUM cow.`$root` RETAIN 2 SNAPSHOTS")
    assert(CowTable.committedIds(spark, root).size == 2,
      "vacuum did not prune to the retained window")
    // time-based retention: everything published in the last hour is
    // fresh, so nothing below minKeep vacuums
    CowSql.exec(spark, 0L, s"VACUUM cow.`$root` RETAIN 1 HOURS")
    assert(CowTable.committedIds(spark, root).size == 2,
      "hour-based vacuum pruned fresh snapshots")
  }

  test("UPDATE SET * with a source missing a target column fails " +
      "loud instead of leaving the column silently stale") {
    val root = tmp(); mk(root)
    spark.range(5).select($"id", ($"id" % 4).as("pb"),
      concat(lit("z"), $"id").as("name")) // no `score` column
      .createOrReplaceTempView("star_src_missing")
    val e = intercept[IllegalArgumentException] {
      CowSql.exec(spark, 2L, s"""
        MERGE INTO cow.`$root` AS t USING star_src_missing AS s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *""")
    }
    assert(e.getMessage.contains("score"), s"got: ${e.getMessage}")
  }

  test("unsupported statements and non-cow references fail loud") {
    intercept[IllegalArgumentException] {
      CowSql.exec(spark, 9L, "SELECT 1")
    }
    intercept[IllegalArgumentException] {
      CowSql.exec(spark, 9L, "DELETE FROM plain_table WHERE x = 1")
    }
  }

  test("NAMED catalog tables take the same DML and maintenance text: " +
      "UPDATE/DELETE/MERGE/VACUUM over cow.<ns>.<table>, resolving " +
      "to the root the analyzer itself serves") {
    val ns = s"sqlnamed${System.nanoTime() % 1000000}"
    spark.sql(s"CREATE NAMESPACE cow.$ns")
    spark.sql(s"CREATE TABLE cow.$ns.acct (id BIGINT, seg STRING, " +
      "bal BIGINT) PARTITIONED BY (seg)")
    spark.sql(s"INSERT INTO cow.$ns.acct SELECT id, " +
      "concat('s', id % 3), id * 10 FROM range(60)")
    CowSql.exec(spark, 3L,
      s"UPDATE cow.$ns.acct SET bal = bal + 1 WHERE id < 10")
    CowSql.exec(spark, 4L,
      s"DELETE FROM cow.$ns.acct WHERE id >= 50", mode = CowSql.Mor)
    Seq((7L, "s1", 777L)).toDF("id", "seg", "bal")
      .createOrReplaceTempView("named_src")
    CowSql.exec(spark, 5L, s"""
      MERGE INTO cow.$ns.acct AS t USING named_src AS s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET bal = s.bal""")
    val t = spark.table(s"cow.$ns.acct")
    assert(t.count() == 50)
    assert(t.where($"id" === 3L).select("bal").as[Long]
      .collect().head == 31L)
    assert(t.where($"id" === 7L).select("bal").as[Long]
      .collect().head == 777L)
    // the named reference and the analyzer address the SAME root: the
    // MOR delete's DV debt is visible on the path CowCatalog serves
    val root = s"${spark.conf.get("spark.sql.catalog.cow.warehouse")}" +
      s"/$ns/acct"
    // the MERGE was a COW rewrite of the touched partition; earlier DV
    // debt on other partitions must still subtract through the named read
    assert(CowTable.committedIds(spark, root).nonEmpty)
    // maintenance text over the named form
    CowSql.exec(spark, 6L, s"VACUUM cow.$ns.acct RETAIN 2 SNAPSHOTS")
    assert(CowTable.committedIds(spark, root).size == 2)
    assert(spark.table(s"cow.$ns.acct").count() == 50)
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
    // a named reference without the catalog registered fails loud
    val was = spark.conf.get("spark.sql.catalog.cow.warehouse")
    spark.conf.unset("spark.sql.catalog.cow.warehouse")
    try intercept[IllegalArgumentException] {
      CowSql.exec(spark, 9L, "DELETE FROM cow.nons.t WHERE id = 1")
    } finally spark.conf.set("spark.sql.catalog.cow.warehouse", was)
  }
}
