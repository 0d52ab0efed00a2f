package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.functions._

import graft.sinks.{CowBucketSpec, CowLazyFileIndex, CowTable, CowV2}

/** Round-17 planning-floor retirements, pinned:
  *
  *  1. MOR-DEBT snapshots read LAZILY: a cold filtered read of a table
  *     with outstanding DVs materializes O(kept) data
  *     entries + O(sidecars) — the round-16 debt gate's O(table-files)
  *     eager parse is gone from the read path (a 100 TB table
  *     mid-stream of MOR deletes is the steady state under continuous
  *     ingest).
  *  2. HEAD-CARRIED TOTALS make cold statistics O(1): a stats consult
  *     on a cold table (join sizing, broadcast decisions) reads the
  *     manifest head row only — zero entry materialization, zero full
  *     parses — and equals the eager estimate bit-for-bit.
  *  3. BUCKET layouts declare from head metadata (`bucket_ok`,
  *     certified at commit): bucketed tables plan lazily too, and the
  *     exchange-free co-bucketed join survives a COLD read.
  */
class LazyDebtStatsSpec extends SparkSpec {
  import spark.implicits._

  private def freshNs(tag: String): String = {
    val ns = s"$tag${System.nanoTime() % 1000000}"
    spark.sql(s"CREATE NAMESPACE cow.$ns")
    ns
  }

  private def qroot(root: String): String =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(new Path(root)).toString

  private def cnt(m: java.util.concurrent.ConcurrentHashMap[String, Long],
      root: String): Long = Option(m.get(qroot(root))).getOrElse(0L)

  private def goCold(): Unit = {
    CowTable.clearManifestMemoForTest()
    CowTable.clearMetaMemoForTest()
  }

  test("a cold filtered read of a DV-debt snapshot plans lazily — " +
      "O(kept) data entries + O(sidecars) driver-side — and applies " +
      "the subtraction (named catalog surface)") {
    val ns = freshNs("ldd")
    val root = s"${spark.conf.get("spark.sql.catalog.cow.warehouse")}/$ns/t"
    spark.sql(s"CREATE TABLE cow.$ns.t (id BIGINT, p BIGINT) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, id % 20 FROM range(2000)")
    require(CowTable.deleteWhereDv(spark, root, 3L,
      col("id") % 7 === 0, keep = 10))
    val m = CowTable.currentManifest(spark, root).get
    assert(m.dvs.nonEmpty, "setup must leave outstanding DV debt")
    val totalEntries = m.allFiles.length
    assert(totalEntries >= 20, s"need a multi-file table, got $totalEntries")

    goCold()
    val (p0, e0, s0) = (cnt(CowTable.prunedLoads, root),
      cnt(CowTable.entriesMaterialized, root),
      cnt(CowTable.sidecarLoads, root))
    val got = spark.table(s"cow.$ns.t").where($"p" === 3L)
      .select("id").as[Long].collect().toSet
    val (p1, e1, s1) = (cnt(CowTable.prunedLoads, root),
      cnt(CowTable.entriesMaterialized, root),
      cnt(CowTable.sidecarLoads, root))
    assert(p1 > p0,
      "a cold filtered DEBT read must take the pruned data path, " +
        "not the eager full parse")
    assert(s1 > s0, "the debt read must load its sidecars via the " +
      "kind≠data slice, not a full parse")
    val materialized = e1 - e0
    val sidecars = m.dvs.size
    assert(materialized > 0 &&
        materialized <= totalEntries / 5 + sidecars,
      s"debt read must land O(kept)+O(sidecars) entries driver-side: " +
        s"materialized $materialized of $totalEntries")
    val want = (0L until 2000L).filter(i => i % 20 == 3 && i % 7 != 0).toSet
    assert(got == want, s"DV subtraction lost on the lazy path: " +
      s"${got.size} vs ${want.size} rows")
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }

  test("a predicate-delete DV snapshot serves the mask through the " +
      "lazy programmatic reader too, cold") {
    val root = Files.createTempDirectory("ldt").toString
    CowTable.commitFull(
      spark.range(1000).select($"id", ($"id" % 10).as("p")),
      root, 1L, Seq("p"), keep = 10)
    require(CowTable.deleteWhereDv(spark, root, 2L,
      col("id") >= 900L, keep = 10))
    goCold()
    val p0 = cnt(CowTable.prunedLoads, root)
    val got = CowV2.read(spark, root).get.where($"p" === 4L)
      .select("id").as[Long].collect().toSet
    assert(cnt(CowTable.prunedLoads, root) > p0,
      "the programmatic debt read must plan lazily when cold")
    assert(got == (0L until 900L).filter(_ % 10 == 4).toSet,
      "DV mask lost on the lazy path")
  }

  test("cold statistics are head-only: a stats consult materializes " +
      "ZERO entries and no full parse, equals the eager estimate, " +
      "and serves exact rowCount under planStats") {
    val ns = freshNs("lds")
    val root = s"${spark.conf.get("spark.sql.catalog.cow.warehouse")}/$ns/t"
    spark.sql(s"CREATE TABLE cow.$ns.t (id BIGINT, p BIGINT) " +
      "PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO cow.$ns.t SELECT id, id % 10 FROM range(1000)")
    // second insert → delta manifest: the head totals must describe
    // the RESOLVED snapshot, not the delta's own adds
    spark.sql(s"INSERT INTO cow.$ns.t " +
      "SELECT id, id % 10 FROM range(1000, 1500)")
    val m = CowTable.currentManifest(spark, root).get
    val eagerBytes = m.files.map(_.bytes).sum
    val factor = spark.sessionState.conf.fileCompressionFactor

    goCold()
    val (p0, e0, mp0) = (cnt(CowTable.prunedLoads, root),
      cnt(CowTable.entriesMaterialized, root),
      cnt(CowTable.manifestParses, root))
    val stats = spark.table(s"cow.$ns.t")
      .queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes == BigInt((eagerBytes * factor).toLong),
      s"cold head-total estimate must equal the eager one: " +
        s"${stats.sizeInBytes} vs ${BigInt((eagerBytes * factor).toLong)}")
    assert(cnt(CowTable.prunedLoads, root) == p0 &&
        cnt(CowTable.entriesMaterialized, root) == e0 &&
        cnt(CowTable.manifestParses, root) == mp0,
      "a cold stats consult must be HEAD-ONLY: no pruned load, no " +
        "entry materialization, no full manifest parse")
    // exact rowCount flows to the planner when opted in — still cold
    goCold()
    spark.conf.set("spark.sql.cbo.planStats.enabled", "true")
    try {
      val rc = spark.table(s"cow.$ns.t")
        .queryExecution.optimizedPlan.stats.rowCount
      assert(rc.contains(BigInt(1500)),
        s"cold head totals must serve the exact rowCount, got $rc")
    } finally
      spark.conf.set("spark.sql.cbo.planStats.enabled", "false")
    assert(cnt(CowTable.manifestParses, root) == mp0 &&
      cnt(CowTable.entriesMaterialized, root) == e0)
    // the debt-free gate itself is head-carried: no sidecar job ran
    // anywhere in this test
    assert(cnt(CowTable.sidecarLoads, root) == 0L,
      "a commit-certified debt-free head must answer the MOR gate " +
        "with zero jobs")
    spark.sql(s"DROP NAMESPACE cow.$ns CASCADE")
  }

  test("bucket layouts declare from head metadata: a COLD co-bucketed " +
      "join plans on the lazy index, exchange-free, and a filtered " +
      "cold read of a bucketed table prune-loads") {
    val N = 8
    def tmp(tag: String) = Files.createTempDirectory(s"ldb_$tag").toString
    val a = tmp("a"); val b = tmp("b")
    Seq(a, b).foreach(r =>
      CowTable.setBucketSpec(spark, r, CowBucketSpec("pb", N, Seq("k"))))
    CowTable.commitFull(
      spark.range(500).select($"id".as("k"),
          concat(lit("L"), $"id").as("lv"))
        .withColumn("pb", CowTable.bucketId(Seq("k"), N)),
      a, 1L, Seq("pb"), keep = 10)
    CowTable.commitFull(
      spark.range(300).select($"id".as("k"),
          concat(lit("R"), $"id").as("rv"))
        .withColumn("pb", CowTable.bucketId(Seq("k"), N)),
      b, 1L, Seq("pb"), keep = 10)

    goCold()
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val left = CowV2.read(spark, a).get
      // the COLD read must sit on the lazy index WITH the layout
      val rels = left.queryExecution.logical.collect {
        case l: LogicalRelation => l.relation
      }.collect { case h: HadoopFsRelation => h }
      assert(rels.nonEmpty && rels.head.location
          .isInstanceOf[CowLazyFileIndex],
        "a cold bucketed read must resolve lazily (head-certified " +
          s"layout), got ${rels.map(_.location.getClass.getName)}")
      assert(rels.head.bucketSpec.exists(_.numBuckets == N),
        "the lazy relation must declare the head-certified bucket spec")
      val joined = left.drop("pb")
        .join(CowV2.read(spark, b).get.drop("pb"), Seq("k"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"cold co-bucketed lazy join must not shuffle:\n$plan")
      assert(joined.count() == 300)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

    // filtered cold read of a bucketed table takes the pruned path
    goCold()
    val p0 = cnt(CowTable.prunedLoads, a)
    assert(CowV2.read(spark, a).get.where($"k" === 42L).count() == 1L)
    assert(cnt(CowTable.prunedLoads, a) > p0,
      "a cold filtered read of a bucketed table must prune-load " +
        "(round-17: bucket specs no longer force the eager parse)")
  }
}
