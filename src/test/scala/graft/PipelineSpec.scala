package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline.{DagRunner, Medallion, Task}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("a second-batch medallion DAG runs a pinned number of Spark jobs, " +
      "and every task's rowsIngested is a Spark re-count of its output") {
    val root = Files.createTempDirectory("graft-medallion-jobs").toString
    Medallion.run(spark, sfDir, root, batchId = "j1")
    val keyMap = s"$root/curated/event_type_map"
    val keysBefore = spark.read.parquet(keyMap).count()
    val (jobs, runs) =
      jobsDuring(Medallion.run(spark, sfDir, root, batchId = "j2"))
    assert(runs.map(_.tblName) == Seq("events", "documents",
      "event_type_map", "customer_dim", "sales_fact", "thin_layer"))
    assert(runs.forall(_.jobStatus == "Success"),
      runs.map(_.exception).mkString("; "))
    val outputs = Map("events" -> "raw/events", "documents" -> "raw/documents",
      "customer_dim" -> "curated/customer_dim",
      "sales_fact" -> "curated/sales_fact",
      "thin_layer" -> "semantic/thin_layer")
    runs.filter(r => outputs.contains(r.tblName)).foreach { r =>
      assert(r.rowsIngested ==
        spark.read.parquet(s"$root/${outputs(r.tblName)}").count(), r.tblName)
    }
    // the key map appends only new keys: its count is the table's growth
    assert(runs.find(_.tblName == "event_type_map").get.rowsIngested ==
      spark.read.parquet(keyMap).count() - keysBefore)
    // the DAG's own work only: the writes, the key map's cache + count
    // (no append: it finds no new key), the aggregations and the audit
    // append. Row counts and input schemas come from footers on the
    // driver: re-read counts and schema inference would add 25 jobs.
    assert(jobs == 19L, s"second-batch DAG ran $jobs Spark jobs")
  }

  test("medallion DAG runs end-to-end with full audit trail") {
    val root = Files.createTempDirectory("graft-medallion").toString
    val runs = Medallion.run(spark, sfDir, root, batchId = "b1")

    assert(runs.length == 6)
    assert(runs.forall(_.jobStatus == "Success"),
      runs.filter(_.jobStatus != "Success").map(_.exception).mkString("; "))

    // outputs exist with expected cardinalities
    val li = Tables.load(spark, sfDir, "lineitem").count()
    assert(spark.read.parquet(s"$root/curated/sales_fact").count() == li)
    assert(spark.read.parquet(s"$root/curated/event_type_map").count() == 5)
    assert(spark.read.parquet(s"$root/semantic/thin_layer").count() > 0)

    // audit log landed (operational_metadata analog)
    val audit = spark.read.parquet(s"$root/audit/operational_metadata")
    assert(audit.count() == 6)
    assert(audit.where(col("batchId") === "b1").count() == 6)

    // idempotence: a second batch inserts zero new keys into the key map
    val runs2 = Medallion.run(spark, sfDir, root, batchId = "b2")
    assert(runs2.forall(_.jobStatus == "Success"))
    assert(runs2.find(_.tblName == "event_type_map").get.rowsIngested == 0)
    assert(spark.read.parquet(s"$root/curated/event_type_map").count() == 5)

    // the curated layout EARNS its partitioning: a returnflag-filtered
    // read of sales_fact scans strictly fewer bytes than the full scan
    // (partition pruning through the layered layout, measured — not
    // assumed — via the physical metrics listener)
    val listener = graft.pipeline.Metrics.register(spark)
    spark.read.parquet(s"$root/curated/sales_fact")
      .where(col("l_returnflag") === "R").count()
    val pruned = listener.drainWhen(_.exists(_.bytesRead > 0))
      .map(_.bytesRead).max
    spark.read.parquet(s"$root/curated/sales_fact").count()
    val full = listener.drainWhen(_.exists(_.bytesRead > 0))
      .map(_.bytesRead).max
    assert(pruned > 0 && pruned < full,
      s"partition pruning not visible: pruned=$pruned full=$full")
  }

  test("audit records round-trip through a live JDBC store (embedded " +
      "Derby — the reference's monitoring-DB shape)") {
    val root = Files.createTempDirectory("graft-dag-jdbc").toString
    val url = "jdbc:derby:memory:graftaudit;create=true"
    val runner = DagRunner(spark, "bJ", s"$root/audit",
      auditSinks = Seq(graft.sinks.JdbcSink(url, "APP.OP_METADATA")))
    val runs = runner.run(Seq(
      Task("load_a", "RAW")(_ => 11L),
      Task("load_b", "CURATED")(_ => 22L)))
    assert(runs.forall(_.jobStatus == "Success"))

    // read back through JDBC, not the parquet log — proves the records
    // landed in the live store
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "APP.OP_METADATA").load()
    assert(back.count() == 2)
    val rows = back.select("batchId", "tblName", "rowsIngested", "jobStatus")
      .as[(String, String, Long, String)].collect().sortBy(_._2)
    assert(rows.map(_._1).forall(_ == "bJ"))
    assert(rows.map(r => (r._2, r._3)).toSeq ==
      Seq(("load_a", 11L), ("load_b", 22L)))
    assert(rows.forall(_._4 == "Success"))

    // appends accumulate (the reference's per-batch INSERT semantics)
    DagRunner(spark, "bK", s"$root/audit",
      auditSinks = Seq(graft.sinks.JdbcSink(url, "APP.OP_METADATA")))
      .run(Seq(Task("load_c", "RAW")(_ => 3L)))
    assert(spark.read.format("jdbc")
      .option("url", url).option("dbtable", "APP.OP_METADATA")
      .load().count() == 3)
  }

  test("a failing task halts the chain and logs a sanitized failure") {
    val root = Files.createTempDirectory("graft-dag").toString
    val runs = DagRunner(spark, "bX", s"$root/audit").run(Seq(
      Task("ok", "RAW")(_ => 1L),
      Task("boom", "RAW")(_ => throw new RuntimeException("bad 'quote' é")),
      Task("never", "RAW")(_ => 1L)))
    assert(runs.map(_.jobStatus) == Seq("Success", "Failure"))
    val err = runs(1).exception
    assert(!err.contains("'") && !err.contains("é"))
    // downstream task never ran
    assert(!runs.exists(_.tblName == "never"))
  }
}
