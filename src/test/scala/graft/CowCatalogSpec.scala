package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.functions._

import graft.sinks.{CowFileIndex, CowTable}

/** The named cow catalog ([[graft.catalog.CowCatalog]] +
  * [[graft.plans.CowCatalogRule]]): `cow.db.table` resolved by Spark's
  * own analyzer — SELECT plans through [[CowFileIndex]], INSERT lands
  * as commits, time travel and MOR debt compose, and the reference's
  * TRUNCATE+INSERT thin-layer shape runs as plain SQL text.
  */
class CowCatalogSpec extends SparkSpec {

  private val ns = s"catspec${System.nanoTime() % 1000000}"

  private def sql(s: String): DataFrame = spark.sql(s)

  private def scanIndex(df: DataFrame): CowFileIndex = {
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f.relation
    }
    assert(scans.nonEmpty, "no file scan in plan:\n" +
      df.queryExecution.executedPlan)
    scans.head.location match {
      case c: CowFileIndex => c
      case other => fail(s"scan is not manifest-driven: $other")
    }
  }

  private def rootOf(table: String): String =
    s"${spark.conf.get("spark.sql.catalog.cow.warehouse")}/$ns/$table"

  test("CREATE NAMESPACE / CREATE TABLE / INSERT INTO / SELECT: the " +
      "named read plans through CowFileIndex with partition pruning") {
    sql(s"CREATE NAMESPACE cow.$ns")
    sql(s"""CREATE TABLE cow.$ns.orders
      (id BIGINT, seg STRING, amt BIGINT) PARTITIONED BY (seg)""")
    sql(s"INSERT INTO cow.$ns.orders " +
      "SELECT id, concat('s', id % 4) AS seg, id * 10 AS amt " +
      "FROM range(1000)")
    val all = spark.table(s"cow.$ns.orders")
    assert(all.count() == 1000)
    // the table is a REAL cow table underneath: two commits (create +
    // insert), manifest-listed files
    assert(CowTable.committedIds(spark, rootOf("orders")) == Seq(1L, 2L))
    // planner integration: the scan's listing IS the manifest, and a
    // partition predicate prunes at the driver before any file opens
    val pruned = all.where(col("seg") === "s1")
    val idx = scanIndex(pruned)
    assert(pruned.count() == 250)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("seg"),
      s"partition filter did not reach the scan:\n$plan")
    assert(idx.partitionSchema.fieldNames.toSeq == Seq("seg"))
    // aggregate pushes through the same relation
    assert(sql(s"SELECT sum(amt) FROM cow.$ns.orders WHERE seg = 's2'")
      .head().getLong(0) == (0L until 1000L).filter(_ % 4 == 2).map(_ * 10).sum)
  }

  test("INSERT OVERWRITE: full truncate, DYNAMIC partition overwrite " +
      "rewrites only the touched partitions, static PARTITION spec " +
      "replaces exactly the named one") {
    sql(s"CREATE TABLE cow.$ns.t2 (id BIGINT, p STRING) PARTITIONED BY (p)")
    sql(s"INSERT INTO cow.$ns.t2 " +
      "SELECT id, concat('p', id % 3) FROM range(300)")
    // full overwrite
    sql(s"INSERT OVERWRITE cow.$ns.t2 " +
      "SELECT id, concat('p', id % 3) FROM range(30)")
    assert(spark.table(s"cow.$ns.t2").count() == 30)
    val root = rootOf("t2")
    val before = CowTable.currentManifest(spark, root).get
    // dynamic mode: only p0 is produced, p1/p2 carry by reference
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      sql(s"INSERT OVERWRITE cow.$ns.t2 SELECT id, 'p0' FROM range(5)")
    finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    val after = CowTable.currentManifest(spark, root).get
    val carried = after.files.filter(f => before.files.exists(_.path == f.path))
    assert(carried.map(_.part("p")).toSet == Set("p1", "p2"),
      s"dynamic overwrite must carry untouched partitions, kept " +
        s"${carried.map(_.part)}")
    assert(spark.table(s"cow.$ns.t2").where(col("p") === "p0").count() == 5)
    assert(spark.table(s"cow.$ns.t2").count() == 25)
    // static named-partition overwrite (mode static again)
    sql(s"INSERT OVERWRITE cow.$ns.t2 PARTITION (p = 'p1') " +
      "SELECT id FROM range(7)")
    val m3 = CowTable.currentManifest(spark, root).get
    assert(spark.table(s"cow.$ns.t2").where(col("p") === "p1").count() == 7)
    assert(spark.table(s"cow.$ns.t2").where(col("p") === "p2").count() == 10,
      "static overwrite of p1 must not touch p2")
    assert(m3.files.filter(_.part("p") == "p2")
      .forall(f => before.files.exists(_.path == f.path)),
      "p2's files must still carry by reference")
  }

  test("a NON-DETERMINISTIC dynamic INSERT OVERWRITE commits a " +
      "touched set that agrees with the rows written (the query is " +
      "evaluated once, not re-run per consumer)") {
    sql(s"CREATE TABLE cow.$ns.t2nd (id BIGINT, p STRING) " +
      "PARTITIONED BY (p)")
    sql(s"INSERT INTO cow.$ns.t2nd " +
      "SELECT id, concat('p', id % 2) FROM range(100)")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      // rand() routes each row to p0/p1 at evaluation time: if keysOf
      // and the batch write ran the query independently, the touched
      // set could miss a partition the write landed rows in — that
      // partition would then hold BOTH its carried old file and the
      // fresh one (ghost rows)
      sql(s"INSERT OVERWRITE cow.$ns.t2nd SELECT id + 1000, " +
        "concat('p', CAST(CASE WHEN rand() < 0.5 THEN 0 ELSE 1 END " +
        "AS BIGINT)) FROM range(40)")
    finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    val t = spark.table(s"cow.$ns.t2nd")
    // fresh rows have id ≥ 1000, carried old rows id ∈ [0,100) with
    // 50 per partition. A touched (overwritten) partition must hold
    // ONLY fresh rows; an untouched one ONLY its 50 carried rows. The
    // double-evaluation bug lands fresh rows in a partition the
    // touched set carried — old and fresh mixed in one partition.
    val mixed = t.withColumn("fresh", col("id") >= 1000)
      .groupBy("p").agg(countDistinct(col("fresh")).as("kinds"))
      .where(col("kinds") > 1).count()
    assert(mixed == 0,
      "a partition holds both carried old rows and fresh rows — the " +
        "touched set disagreed with the write")
    val total = t.count()
    assert(total == 40 || total == 90, // 90 = all 40 landed one side
      s"unexpected row count $total")
  }

  test("CTAS, VERSION AS OF time travel, and path-addressed " +
      "cow.`/root` identifiers") {
    sql(s"CREATE TABLE cow.$ns.src AS " +
      "SELECT id, id % 5 AS k FROM range(100)")
    assert(spark.table(s"cow.$ns.src").count() == 100)
    sql(s"INSERT INTO cow.$ns.src SELECT id, id % 5 FROM range(100, 150)")
    assert(spark.table(s"cow.$ns.src").count() == 150)
    // versions are commit ids; the CTAS data landed at id 2
    assert(sql(s"SELECT * FROM cow.$ns.src VERSION AS OF 2").count() == 100)
    // a time-traveled relation is read-only
    val e = intercept[Exception] {
      sql(s"INSERT INTO (SELECT * FROM cow.$ns.src VERSION AS OF 2) " +
        "VALUES (1, 1)")
    }
    assert(e != null)
    // the path form addresses the same table with no warehouse mapping
    val root = rootOf("src")
    assert(sql(s"SELECT count(*) FROM cow.`$root`").head().getLong(0) == 150)
  }

  test("a named read of a table with outstanding MOR debt (predicate " +
      "and keyed deletion vectors) serves the masked state") {
    sql(s"CREATE TABLE cow.$ns.t4 (id BIGINT, p STRING) PARTITIONED BY (p)")
    sql(s"INSERT INTO cow.$ns.t4 SELECT id, concat('p', id % 2) " +
      "FROM range(100)")
    val root = rootOf("t4")
    CowTable.deleteWhereDv(spark, root, 3L, col("id") < 10, keep = 10)
    import spark.implicits._
    CowTable.deleteKeysMor(spark, root, 4L,
      Seq((50L, "p0")).toDF("id", "p"), Seq("id"), Seq("p"), keep = 10)
    val got = spark.table(s"cow.$ns.t4")
    assert(got.count() == 89)
    assert(got.where(col("id") < 10 || col("id") === 50).isEmpty)
    // the thin-layer refresh shape over the indebted table: the read
    // side of an INSERT…SELECT composes the masks too
    sql(s"CREATE TABLE cow.$ns.t4_thin AS " +
      s"SELECT p, count(*) AS n, sum(id) AS s FROM cow.$ns.t4 GROUP BY p")
    val thin = spark.table(s"cow.$ns.t4_thin").orderBy("p")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val expect = got.groupBy("p")
      .agg(count(lit(1)).as("n"), sum("id").as("s")).orderBy("p")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(thin == expect)
  }

  test("DROP TABLE, SHOW TABLES, and append schema mismatch fails " +
      "through the analyzer") {
    sql(s"CREATE TABLE cow.$ns.t5 (id BIGINT, v STRING)")
    sql(s"INSERT INTO cow.$ns.t5 VALUES (1, 'a'), (2, 'b')")
    assert(sql(s"SHOW TABLES IN cow.$ns").collect()
      .map(_.getString(1)).contains("t5"))
    // the analyzer's own column-count check guards the V1 write
    val e = intercept[Exception] {
      sql(s"INSERT INTO cow.$ns.t5 VALUES (3)")
    }
    assert(e.getMessage.toLowerCase.contains("column") ||
      e.getMessage.toLowerCase.contains("INSERT".toLowerCase))
    sql(s"DROP TABLE cow.$ns.t5")
    assert(!CowTable.committedIds(spark, rootOf("t5")).exists(_ => true))
    intercept[Exception] { sql(s"SELECT * FROM cow.$ns.t5").collect() }
  }

  test("ALTER TABLE is METADATA-ONLY evolution: ADD COLUMNS / widen " +
      "TYPE rewrite zero data files, stats drop only where the string " +
      "form changed, time travel serves the pre-ALTER schema, and " +
      "breaking changes refuse loudly") {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    sql(s"""CREATE TABLE cow.$ns.ev
      (id INT, p STRING, score FLOAT) PARTITIONED BY (p)""")
    sql(s"INSERT INTO cow.$ns.ev SELECT CAST(id AS INT), " +
      "concat('p', id % 2), CAST(id AS FLOAT) / 2 FROM range(100)")
    val root = rootOf("ev")
    val before = CowTable.currentManifest(spark, root).get
    assert(before.files.nonEmpty)
    sql(s"ALTER TABLE cow.$ns.ev ADD COLUMNS (note STRING)")
    sql(s"ALTER TABLE cow.$ns.ev ALTER COLUMN id TYPE BIGINT")
    sql(s"ALTER TABLE cow.$ns.ev ALTER COLUMN score TYPE DOUBLE")
    val m = CowTable.currentManifest(spark, root).get
    // three ALTER commits, ZERO data files rewritten — same paths
    assert(m.id == before.id + 3 &&
      m.files.map(_.path).toSet == before.files.map(_.path).toSet,
      "ALTER must be metadata-only")
    val t = spark.table(s"cow.$ns.ev")
    assert(t.schema("id").dataType == LongType &&
      t.schema("score").dataType == DoubleType &&
      t.schema.fieldNames.last == "note")
    // carried rows read the added column as NULL, under widened types
    assert(t.where(col("note").isNull).count() == 100)
    assert(t.agg(sum("id")).head().getLong(0) == (0L until 100L).sum)
    // integer-chain widening KEEPS carried stats; float→double changes
    // the value's string form, so score's stats drop (envelope safety)
    val f = m.files.head
    assert(f.mins.contains("id") && !f.mins.contains("score"),
      s"stats after widen: mins=${f.mins.keySet}")
    // an ALTER must not shrink history: the pre-ALTER snapshot is
    // still committed and serves the OLD schema via time travel
    assert(CowTable.committedIds(spark, root).contains(before.id))
    val old = sql(s"SELECT * FROM cow.$ns.ev VERSION AS OF ${before.id}")
    assert(old.schema("id").dataType == IntegerType &&
      !old.schema.fieldNames.contains("note"))
    // a post-ALTER insert lands with the new column
    sql(s"INSERT INTO cow.$ns.ev VALUES (1000L, 'p0', 5.0D, 'x')")
    assert(spark.table(s"cow.$ns.ev").where(col("note") === "x")
      .count() == 1)
    // breaking forms refuse loudly (narrow, SET NOT NULL); DROP and
    // RENAME COLUMN are now metadata-only via column mapping — their
    // behavior is pinned in ColumnMappingSpec
    intercept[Exception] {
      sql(s"ALTER TABLE cow.$ns.ev ALTER COLUMN id TYPE INT") }
    intercept[Exception] {
      sql(s"ALTER TABLE cow.$ns.ev ALTER COLUMN note SET NOT NULL") }
    // nothing above committed: the manifest head is still the insert
    assert(CowTable.currentManifest(spark, root).get.schema
      .fieldNames.toSeq == Seq("id", "p", "score", "note"))
  }
}
