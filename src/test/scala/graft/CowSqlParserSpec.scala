package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.CowTable

/** DML and maintenance as first-class `spark.sql` statements
  * ([[graft.plans.CowSqlParser]], injected by [[GraftExtensions]]):
  * UPDATE / DELETE / MERGE over `cow.` references execute with
  * auto-allocated commit ids, OPTIMIZE / VACUUM / RESTORE parse even
  * though Spark's grammar lacks them, COW-vs-MOR economics route per
  * session conf, and every non-cow statement falls through to the
  * stock parser byte-identical.
  */
class CowSqlParserSpec extends SparkSpec {

  private val ns = s"psr${System.nanoTime() % 1000000}"

  private def sql(s: String): DataFrame = spark.sql(s)

  private def root(table: String): String =
    s"${spark.conf.get("spark.sql.catalog.cow.warehouse")}/$ns/$table"

  test("spark.sql UPDATE / DELETE on a named cow table: auto ids " +
      "advance head+1, zero-match DML consumes no id, and the result " +
      "is the statement's semantics") {
    sql(s"CREATE NAMESPACE cow.$ns")
    sql(s"CREATE TABLE cow.$ns.t (id BIGINT, p STRING, v BIGINT) " +
      "PARTITIONED BY (p)")
    sql(s"INSERT INTO cow.$ns.t " +
      "SELECT id, concat('p', id % 3), id FROM range(300)")
    val head0 = CowTable.currentManifest(spark, root("t")).get.id
    sql(s"UPDATE cow.$ns.t SET v = v * 10 WHERE id < 100")
    assert(CowTable.currentManifest(spark, root("t")).get.id == head0 + 1,
      "UPDATE must commit as head+1")
    assert(spark.table(s"cow.$ns.t").where(col("id") < 100)
      .agg(sum("v")).head().getLong(0) == (0L until 100L).map(_ * 10).sum)
    sql(s"DELETE FROM cow.$ns.t WHERE id >= 200")
    assert(spark.table(s"cow.$ns.t").count() == 200)
    // zero-match DML: no commit, head unchanged — not an error
    val head1 = CowTable.currentManifest(spark, root("t")).get.id
    sql(s"DELETE FROM cow.$ns.t WHERE id >= 1000000")
    assert(CowTable.currentManifest(spark, root("t")).get.id == head1,
      "zero-match DELETE must consume no id")
  }

  test("MERGE INTO through spark.sql, and dml.mode=mor routes a " +
      "DELETE to positional deletion vectors (zero rewrites)") {
    sql(s"CREATE TABLE cow.$ns.dim (k BIGINT, p STRING, name STRING) " +
      "PARTITIONED BY (p)")
    sql(s"INSERT INTO cow.$ns.dim " +
      "SELECT id, concat('p', id % 2), concat('n', id) FROM range(100)")
    spark.range(50, 150)
      .select(col("id").as("k"), concat(lit("p"), col("id") % 2).as("p"),
        concat(lit("m"), col("id")).as("name"))
      .createOrReplaceTempView("psr_updates")
    sql(s"""MERGE INTO cow.$ns.dim AS t USING psr_updates AS s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET name = s.name
      WHEN NOT MATCHED THEN INSERT *""")
    val d = spark.table(s"cow.$ns.dim")
    assert(d.count() == 150)
    assert(d.where(col("k") < 50 && col("name").startsWith("m")).isEmpty)
    assert(d.where(col("k") >= 50).where(!col("name").startsWith("m"))
      .isEmpty, "matched + inserted rows must carry the source name")
    // merge-on-read routing from a session conf, no API call
    val before = CowTable.currentManifest(spark, root("dim")).get
    spark.conf.set("spark.graft.cow.dml.mode", "mor")
    try sql(s"DELETE FROM cow.$ns.dim WHERE k < 10")
    finally spark.conf.unset("spark.graft.cow.dml.mode")
    val m = CowTable.currentManifest(spark, root("dim")).get
    assert(m.dvs.nonEmpty &&
      m.files.map(_.path).toSet == before.files.map(_.path).toSet,
      "mor DELETE must mask positionally and rewrite zero data files")
    assert(spark.table(s"cow.$ns.dim").count() == 140)
  }

  test("OPTIMIZE / VACUUM / RESTORE parse as spark.sql statements " +
      "(grammar Spark does not have), and non-cow statements fall " +
      "through to the stock parser") {
    sql(s"CREATE TABLE cow.$ns.m (id BIGINT, p STRING) PARTITIONED BY (p)")
    sql(s"INSERT INTO cow.$ns.m SELECT id, concat('p', id % 2) FROM range(50)")
    sql(s"INSERT INTO cow.$ns.m SELECT id, concat('p', id % 2) FROM range(50, 100)")
    val preRestore = CowTable.currentManifest(spark, root("m")).get.id
    sql(s"OPTIMIZE cow.$ns.m ZORDER BY (id)")
    assert(CowTable.currentManifest(spark, root("m")).get.id ==
      preRestore + 1, "OPTIMIZE must commit as head+1")
    assert(spark.table(s"cow.$ns.m").count() == 100)
    sql(s"RESTORE cow.$ns.m TO SNAPSHOT $preRestore")
    assert(spark.table(s"cow.$ns.m").count() == 100)
    sql(s"VACUUM cow.$ns.m RETAIN 2 SNAPSHOTS")
    assert(CowTable.committedIds(spark, root("m")).size == 2)
    // sanity: ordinary SQL is untouched by the wrapper
    assert(sql("SELECT 1 + 1 AS x").head().getInt(0) == 2)
    // an UPDATE whose target is NOT a cow reference keeps Spark's own
    // failure (the wrapper must not hijack it)
    spark.range(5).createOrReplaceTempView("psr_plain")
    val e = intercept[Exception] {
      sql("UPDATE psr_plain SET id = 1 WHERE id = 0") }
    assert(!e.getMessage.contains("cow"),
      s"non-cow UPDATE was hijacked: ${e.getMessage}")
    // a non-cow OPTIMIZE is not our grammar: the stock parser errors
    intercept[Exception] { sql("OPTIMIZE plain_t ZORDER BY (id)") }
    sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }

  test("plain OPTIMIZE (no ZORDER): bin-packing compaction through " +
      "spark.sql that also retires deletion-vector debt, " +
      "content-identical") {
    sql(s"CREATE NAMESPACE cow.$ns")
    sql(s"CREATE TABLE cow.$ns.o (id BIGINT, p STRING, v BIGINT) " +
      "PARTITIONED BY (p)")
    // fragment: one small file per partition per INSERT
    (0 until 4).foreach(i =>
      sql(s"INSERT INTO cow.$ns.o SELECT id, concat('p', id % 2), id " +
        s"FROM range(${i * 100}, ${i * 100 + 100})"))
    // leave positional-DV debt on the table
    spark.conf.set("spark.graft.cow.dml.mode", "mor")
    try sql(s"DELETE FROM cow.$ns.o WHERE v % 10 = 3")
    finally spark.conf.unset("spark.graft.cow.dml.mode")
    val before = CowTable.currentManifest(spark, root("o")).get
    assert(before.dvs.nonEmpty, "expected DV debt before OPTIMIZE")
    assert(before.files.size > 2, "expected fragmentation")
    val want = spark.table(s"cow.$ns.o").collect().toSeq
    sql(s"OPTIMIZE cow.$ns.o")
    val after = CowTable.currentManifest(spark, root("o")).get
    assert(after.id == before.id + 1, "plain OPTIMIZE must commit head+1")
    assert(after.dvs.isEmpty,
      "OPTIMIZE must fold outstanding delete debt")
    assert(after.files.size < before.files.size,
      s"small-file count must drop (${before.files.size} -> " +
        s"${after.files.size})")
    val got = spark.table(s"cow.$ns.o").collect().toSeq
    assert(got.toSet == want.toSet && got.size == want.size,
      "OPTIMIZE changed visible content")
    // an already-compact, debt-free table: the statement no-ops and
    // consumes no id (content-neutral — never an error)
    sql(s"OPTIMIZE cow.$ns.o")
    assert(CowTable.currentManifest(spark, root("o")).get.id == after.id)
    sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }

  test("DESCRIBE DETAIL: one manifest-served row — head snapshot, " +
      "partitioning, file/row/byte totals, MOR debt, constraints") {
    val root = java.nio.file.Files
      .createTempDirectory("psr_detail").toString + "/t"
    import spark.implicits._
    CowTable.commitFull(spark.range(100).select($"id",
      ($"id" % 4).cast("int").as("pb")), root, 1L, Seq("pb"), keep = 10)
    spark.sql(s"ALTER TABLE cow.`$root` ADD CONSTRAINT pos CHECK (id >= 0)")
    require(CowTable.deleteWhereDv(spark, root, 3L, $"id" < 5, keep = 10))
    val d = spark.sql(s"DESCRIBE DETAIL cow.`$root`").collect()
    assert(d.length == 1)
    val r = d.head
    assert(r.getAs[String]("format") == "cow")
    assert(r.getAs[String]("location") == root)
    assert(r.getAs[Long]("snapshot_id") == 3L)
    assert(r.getAs[String]("partition_columns") == "pb")
    assert(r.getAs[Long]("num_dv_files") >= 1L,
      "outstanding DV debt must be visible")
    assert(r.getAs[Long]("data_file_rows") == 100L,
      "data-file rows count the files, not the masked view")
    assert(r.getAs[Long]("check_constraints") == 1L)
    assert(r.getAs[Long]("retained_snapshots") >= 2L)
    // non-cow references keep Spark's own DESCRIBE semantics
    intercept[Exception](spark.sql("DESCRIBE DETAIL notacat.ns.t"))
  }
}
