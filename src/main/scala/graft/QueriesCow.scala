package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.{CowTable, CowV2}

/** Oracle coverage for the partition-granular copy-on-write table
  * ([[graft.sinks.CowTable]]) — the Delta-style manifest commit the
  * reference provisions but never wires (commons/install-delta.sh:
  * 10-21). Each query drives the FULL write path (commit → COW merge →
  * manifest read-back) inside a scratch directory and returns the
  * resulting table state, so the DuckDB oracle checks the end-to-end
  * storage round-trip, not just the in-memory merge: a partition
  * carried by reference that dropped rows, a manifest that listed a
  * stale file, or a data-skipping read that pruned a live file would
  * all hash-mismatch.
  *
  * The oracles are the SAME SQL as the non-COW merge/CDC queries
  * ([[QueriesCurated.mergeUpsertSql]], [[QueriesCurated.cdcApplySql]])
  * — deliberate: COW is a storage strategy, and its observable
  * contract is "bit-identical table state to the full rewrite".
  */
object QueriesCow {

  // every scratch dir this battery creates, deleted recursively at JVM
  // exit: results must stay ALIVE (lazily readable) for the harness's
  // whole run, so eager per-row deletion is wrong, but repeated
  // batteries must not accumulate table-copies in the temp filesystem
  // either — the comment "dies with the process" is made TRUE here,
  // not assumed
  private val scratchDirs =
    scala.collection.mutable.ArrayBuffer.empty[java.io.File]
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    scratchDirs.synchronized(scratchDirs.foreach(delRec))))
  private def delRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(delRec)
    f.delete(): Unit
  }

  private def scratch(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_$tag")
    scratchDirs.synchronized(scratchDirs += d.toFile)
    d.toString
  }

  // scratch catalog names are unique within the JVM's one session and
  // the same in every run of the same queries, so plans name them
  // alike from run to run
  private val scratchCats = new java.util.concurrent.atomic.AtomicLong(0)

  /** A per-run SCRATCH CATALOG for the named-table oracle rows: a
    * unique catalog name registered over its own temp warehouse
    * (namespace `g`). The run's tables stay ALIVE under the returned
    * DataFrame — no collect+parallelize materialization, so the row's
    * timing is the query's own cost at any SF — while battery runs
    * leak nothing into a shared warehouse (the scratch dir dies with
    * the process). Side effect worth having: every one of these rows
    * now exercises textual DML/maintenance under a NON-"cow" catalog
    * name — the registered-name routing contract.
    * Returns `(qualified namespace, namespace dir)`.
    */
  private def scratchCatalog(
      spark: SparkSession, tag: String): (String, String) = {
    val (cat, wh) = scratchCat(spark, tag)
    spark.sql(s"CREATE NAMESPACE $cat.g")
    (s"$cat.g", s"$wh/g")
  }

  /** Register a fresh CowCatalog under a unique name over its own temp
    * warehouse; returns `(catalog name, warehouse dir)`. Shared with
    * the medallion-over-names capstone, which lays its OWN layer
    * namespaces out under the catalog.
    */
  private[graft] def scratchCat(
      spark: SparkSession, tag: String): (String, String) = {
    val cat = tag + scratchCats.incrementAndGet()
    val wh = scratch(s"wh_$cat")
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.CowCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  /** Key-derived bucket partitioning: the stable-partition contract
    * [[CowTable.upsert]] requires, over 8 buckets so a sf0.01 dim
    * exercises many partition dirs with several untouched per batch.
    */
  private val NBuckets = 8

  /** Floor under which BYTE-ratio economics requires are skipped
    * (r20, VERDICT #6): below ~128 KB of table data a sidecar's
    * parquet format floor (footer + dictionary pages, ~4-8 KB per
    * file) dominates its content, so a bytes ratio measures parquet
    * overhead, not the write amplification the require pins. The
    * ROW-count ratio — exact at any SF — always binds; the byte ratio
    * additionally binds from sf0.01 fixture scale up (sf0.01 orders
    * ≈ 260 KB ≫ floor). This makes the sf0.001 smoke SF runnable
    * without weakening anything at the driver's strict gate.
    */
  private val ByteEconFloor = 128L * 1024

  /** ONE-PASS multiset-equality probe for the verification harnesses
    * (r19): union `a` (+1) with `b` (−1), grouped weight-sum, any
    * nonzero group ⟺ the multisets differ — full two-direction
    * equality in a single aggregation that evaluates EACH side ONCE.
    * The earlier forms evaluated each side twice: two symmetric
    * `exceptAll`s (r13-17), then count-equality + one `exceptAll`
    * (count(a) + count(b) + subtract — still two evaluations per
    * side). Same groupwise NULL/NaN equality semantics as exceptAll
    * (both group on Spark's normalized binary equality).
    */
  private def sameMultiset(a: DataFrame, b: DataFrame): Boolean = {
    val w = "__w"
    val cols = a.columns.toSeq
    require(!cols.contains(w), s"column $w collides with the weight")
    // exceptAll rejected mismatched schemas loudly; keep that
    // strictness — a silent projection of b's extra columns would
    // weaken the proof (r19 review)
    require(b.columns.toSet == cols.toSet,
      s"multiset proof sides differ in columns: ${cols.sorted} vs " +
        s"${b.columns.sorted.toSeq}")
    // type strictness (ADVICE r19): unionByName would silently widen
    // (int vs long) where the proof should refuse — require matching
    // dataTypes per column, making the proof strictly type-exact
    val bTypes = b.schema.fields.map(f => f.name -> f.dataType).toMap
    val drift = a.schema.fields.collect {
      case f if bTypes(f.name) != f.dataType =>
        s"${f.name}: ${f.dataType.simpleString} vs " +
          s"${bTypes(f.name).simpleString}"
    }
    require(drift.isEmpty,
      s"multiset proof sides differ in column types: " +
        drift.mkString("; "))
    a.withColumn(w, lit(1L))
      .unionByName(b.select(cols.map(col): _*).withColumn(w, lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col(w)).as(w))
      .where(col(w) =!= 0)
      .isEmpty
  }

  // -------------------------------------------------------------------
  // COW MERGE: same four-region merge as `merge_upsert` (untouched /
  // v1-updated / v2-newest-wins / inserted) but applied through the
  // bucket-partitioned COW table — only the buckets the delta's keys
  // hash into are rewritten; the rest carry over by manifest reference
  // (rewrite-avoidance itself is pinned in `CowTableSpec`; THIS query
  // pins that the carried + rewritten union is the right table).
  // -------------------------------------------------------------------
  def cowUpsert(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_upsert")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
    val target = c.where(col("c_custkey") <= 1000)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        bucket.as("pb"))
    CowTable.commitFull(target, root, 1L, Seq("pb"))
    val v1 = c.where(col("c_custkey").between(501, 1500))
      .select(col("c_custkey"), upper(col("c_name")).as("c_name"),
        col("c_mktsegment"), bucket.as("pb"), lit(1L).as("ver"))
    val v2 = c.where(col("c_custkey").between(900, 1200))
      .select(col("c_custkey"), concat(col("c_name"), lit("-v2")).as("c_name"),
        lit("UPDATED").as("c_mktsegment"), bucket.as("pb"), lit(2L).as("ver"))
    CowTable.upsert(spark, root, 2L, v1.unionByName(v2),
      Seq("c_custkey"), Seq("pb"), versionCol = Some("ver"))
    CowTable.read(spark, root).get
      .drop("pb").orderBy("c_custkey")
  }

  val cowUpsertSql: String = QueriesCurated.mergeUpsertSql

  // -------------------------------------------------------------------
  // COW CDC: the full I/U/D + rebirth batch of `cdc_apply` through the
  // COW table. D rows carry only the key — the bucket derives from it,
  // so deletes route to the right partition without knowing the row.
  // -------------------------------------------------------------------
  def cowCdcApply(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_cdc")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
    val target = c.where(col("c_custkey") <= 1000)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        bucket.as("pb"))
    CowTable.commitFull(target, root, 1L, Seq("pb"))
    def nullStr = lit(null).cast("string")
    val batch =
      c.where(col("c_custkey").between(101, 200)).select(
        col("c_custkey"), nullStr.as("c_name"), nullStr.as("c_mktsegment"),
        lit("D").as("oper"), lit(1L).as("ver"))
      .unionByName(c.where(col("c_custkey").between(201, 300)).select(
        col("c_custkey"), upper(col("c_name")).as("c_name"),
        col("c_mktsegment"), lit("U").as("oper"), lit(1L).as("ver")))
      .unionByName(c.where(col("c_custkey").between(1001, 1100)).select(
        col("c_custkey"), col("c_name"), col("c_mktsegment"),
        lit("I").as("oper"), lit(1L).as("ver")))
      .unionByName(c.where(col("c_custkey").between(150, 170)).select(
        col("c_custkey"), concat(col("c_name"), lit("-reborn")).as("c_name"),
        lit("REBORN").as("c_mktsegment"), lit("I").as("oper"), lit(2L).as("ver")))
      .unionByName(c.where(col("c_custkey").between(250, 260)).select(
        col("c_custkey"), nullStr.as("c_name"), nullStr.as("c_mktsegment"),
        lit("D").as("oper"), lit(2L).as("ver")))
    CowTable.applyCdc(spark, root, 2L,
      batch.withColumn("pb", bucket),
      Seq("c_custkey"), Seq("pb"), versionCol = Some("ver"))
    CowTable.read(spark, root).get
      .drop("pb").orderBy("c_custkey")
  }

  val cowCdcApplySql: String = QueriesCurated.cdcApplySql

  // -------------------------------------------------------------------
  // DATA SKIPPING under oracle: range-sorted layout (8 files with
  // disjoint o_orderkey envelopes), then a selective range read through
  // the manifest's min/max stats. The oracle is the plain WHERE — the
  // compare fails if skipping ever drops a live file; the bytes-read
  // reduction itself is asserted in `CowTableSpec` via the metrics
  // listener.
  // -------------------------------------------------------------------
  def cowSkipping(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_skip")
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderpriority"))
      .repartitionByRange(8, col("o_orderkey"))
    CowTable.commitFull(o, root, 1L, Nil, sortCols = Seq("o_orderkey"))
    CowV2.read(spark, root).get
      .where(col("o_orderkey").between(1500L, 6000L))
      .orderBy("o_orderkey")
  }

  val cowSkippingSql: String =
    """SELECT o_orderkey, o_custkey,
      | CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      | o_orderpriority
      |FROM orders WHERE o_orderkey BETWEEN 1500 AND 6000
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // SCD-2 CDC through COW buckets: the full gapped-dimension batch of
  // scd2_cdc (I/U/D at eff 200, rebirths and second deletes at 300)
  // applied as TWO incremental COW batches — bootstrap then changes —
  // so bucket-granular history rewrites, the cross-batch closed
  // frontier, and the manifest carry-over all sit under the oracle's
  // hash. Oracle = the same chain SQL as scd2_cdc: COW is a storage
  // strategy; the dimension's history must be bit-identical.
  // -------------------------------------------------------------------
  def cowScd2Cdc(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_scd2")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
    val boot = c.where(col("c_custkey") <= 1000).select(
      col("c_custkey"), col("c_name"), col("c_mktsegment"),
      bucket.as("pb"), lit(100L).as("eff"), lit("I").as("oper"))
    CowTable.applyScd2Cdc(spark, root, 1L, boot,
      Seq("c_custkey"), Seq("pb"), "eff")
    def nullStr = lit(null).cast("string")
    val changes =
      c.where(col("c_custkey").between(101, 200)).select(
        col("c_custkey"), nullStr.as("c_name"), nullStr.as("c_mktsegment"),
        lit(200L).as("eff"), lit("D").as("oper"))
      .unionByName(c.where(col("c_custkey").between(201, 300)).select(
        col("c_custkey"), upper(col("c_name")).as("c_name"),
        col("c_mktsegment"), lit(200L).as("eff"), lit("U").as("oper")))
      .unionByName(c.where(col("c_custkey").between(1001, 1100)).select(
        col("c_custkey"), col("c_name"), col("c_mktsegment"),
        lit(200L).as("eff"), lit("I").as("oper")))
      .unionByName(c.where(col("c_custkey").between(150, 170)).select(
        col("c_custkey"), concat(col("c_name"), lit("-reborn")).as("c_name"),
        lit("REBORN").as("c_mktsegment"), lit(300L).as("eff"),
        lit("I").as("oper")))
      .unionByName(c.where(col("c_custkey").between(250, 260)).select(
        col("c_custkey"), nullStr.as("c_name"), nullStr.as("c_mktsegment"),
        lit(300L).as("eff"), lit("D").as("oper")))
    CowTable.applyScd2Cdc(spark, root, 2L,
      changes.withColumn("pb", bucket),
      Seq("c_custkey"), Seq("pb"), "eff")
    CowTable.read(spark, root).get
      .drop("pb").orderBy("c_custkey", "effective_from")
  }

  val cowScd2CdcSql: String = QueriesCurated.scd2CdcSql

  // -------------------------------------------------------------------
  // Merge-on-read delete under oracle: mask a key slice with deletion
  // vectors (no data rewrite — pinned in CowTableSpec), then prove the
  // MOR read and the post-fold COW read are the SAME table before
  // hashing it against the plain NOT-BETWEEN filter. Read-path masking,
  // fold equivalence, and manifest carry-over all sit under one row.
  // -------------------------------------------------------------------
  def cowMorDelete(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_mor")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
    CowTable.commitFull(
      c.where(col("c_custkey") <= 1000).select(
        col("c_custkey"), col("c_name"), col("c_mktsegment"),
        bucket.as("pb")),
      root, 1L, Seq("pb"))
    CowTable.deleteKeysMor(spark, root, 2L,
      c.where(col("c_custkey").between(101, 200))
        .select(col("c_custkey"), bucket.as("pb")),
      Seq("c_custkey"), Seq("pb"))
    val mor = CowTable.read(spark, root).get.drop("pb")
    require(CowTable.foldTombstones(spark, root, 3L))
    val folded = CowTable.read(spark, root).get.drop("pb")
    // one-pass signed-count proof (sameMultiset, r19): each side
    // evaluated once instead of twice
    require(sameMultiset(mor, folded),
      "merge-on-read state diverged from the folded copy-on-write state")
    folded.orderBy("c_custkey")
  }

  val cowMorDeleteSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE c_custkey <= 1000 AND c_custkey NOT BETWEEN 101 AND 200
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // Keyed point lookup through bucket pruning: fetch a scattered key
  // set from the bucket-partitioned table, reading only the keys'
  // buckets (byte-wise proof in CowTableSpec; THIS row proves the
  // pruned semi-join returns exactly the plain IN-filter's rows).
  // -------------------------------------------------------------------
  def cowLookup(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_lookup")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
    CowTable.commitFull(
      c.select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        bucket.as("pb")),
      root, 1L, Seq("pb"))
    val keys = c.where(col("c_custkey") % 97 === 0)
      .select(col("c_custkey"), bucket.as("pb"))
    CowTable.lookupKeys(spark, root, keys, Seq("c_custkey"), Seq("pb"))
      .drop("pb").orderBy("c_custkey")
  }

  val cowLookupSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer WHERE c_custkey % 97 = 0
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // Bloom-filtered point lookup: hash-scattered layout (every file's
  // min/max envelope spans ~the whole key space, so envelope skipping
  // is useless by construction) + per-file Bloom filters on the lookup
  // column. CowTableSpec proves the file-count reduction; this row
  // proves the bloom never drops the file actually holding the value —
  // a false NEGATIVE (the only correctness hazard a bloom can have)
  // would lose the row and break the hash.
  // -------------------------------------------------------------------
  def cowBloomLookup(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_bloom")
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .repartition(8, xxhash64(col("c_custkey")))
    CowTable.commitFull(c, root, 1L, Nil, bloomCols = Seq("c_name"))
    CowV2.read(spark, root).get
      .where(col("c_name") === "Customer#000000042")
      .orderBy("c_custkey")
  }

  val cowBloomLookupSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer WHERE c_name = 'Customer#000000042'
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // Z-ORDER clustering under oracle: orders clustered on the Morton
  // interleave of (o_custkey, o_orderkey) — two decorrelated dimensions
  // — then a skipping range read on o_custkey, the SECOND dimension a
  // linear sort could not prune (CowTableSpec pins the both-columns-
  // prune property; this row pins that the pruned read still returns
  // exactly the plain WHERE's rows through the full write→manifest→
  // skip→scan cycle).
  // -------------------------------------------------------------------
  def cowZorder(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_zorder")
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
    CowTable.commitFull(
      graft.sinks.ZOrder.cluster(o, Seq("o_custkey", "o_orderkey"),
        nFiles = 16),
      root, 1L, Nil)
    CowV2.read(spark, root).get
      .where(col("o_custkey").between(100L, 400L))
      .orderBy("o_orderkey")
  }

  val cowZorderSql: String =
    """SELECT o_orderkey, o_custkey,
      | CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |FROM orders WHERE o_custkey BETWEEN 100 AND 400
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // MULTI-COLUMN data skipping on the z-ordered layout: the range
  // CONJUNCTION over both clustering dimensions — each dimension's
  // envelope test prunes independently and the kept file set is the
  // intersection (engine-pinned here: no larger than either 1-D prune
  // and strictly smaller than the table; the strictly-fewer-than-both
  // property is pinned in CowTableSpec). The oracle is the plain
  // two-predicate WHERE — pruning on the second dimension must never
  // cost a row.
  // -------------------------------------------------------------------
  def cowZorder2d(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.CowRange
    val root = scratch("cow_z2d")
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
    CowTable.commitFull(
      graft.sinks.ZOrder.cluster(o, Seq("o_custkey", "o_orderkey"),
        nFiles = 16),
      root, 1L, Nil)
    val r1 = CowRange("o_custkey", Some("100"), Some("400"))
    val r2 = CowRange("o_orderkey", Some("10000"), Some("30000"))
    val k1 = CowTable.filesFor(spark, root, Seq(r1)).size
    val k2 = CowTable.filesFor(spark, root, Seq(r2)).size
    val both = CowTable.filesFor(spark, root, Seq(r1, r2)).size
    val total = CowTable.currentManifest(spark, root).get.files.size
    require(both <= k1 && both <= k2 && both < total,
      s"2-D prune kept $both of $total files vs 1-D prunes $k1/$k2")
    CowV2.read(spark, root).get
      .where(col("o_custkey").between(100L, 400L) &&
        col("o_orderkey").between(10000L, 30000L))
      .orderBy("o_orderkey")
  }

  val cowZorder2dSql: String =
    """SELECT o_orderkey, o_custkey,
      | CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |FROM orders
      |WHERE o_custkey BETWEEN 100 AND 400
      |  AND o_orderkey BETWEEN 10000 AND 30000
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // WRITE-TIME CHANGE FEED: every commit emits its signed changelog
  // sidecar, and changeFeed(1, 3) nets them into the I/U/D diff feed
  // WITHOUT diffing snapshots (O(sum of batches), the 100 TB path).
  // Sidecar-vs-diff equivalence is asserted ENGINE-SIDE (exceptAll both
  // ways) before returning the sidecar-served feed; the oracle then
  // hashes the feed against the expected I/U/D rows computed straight
  // from the source table. The delete range deliberately overlaps the
  // update ranges: a key updated in batch 2 and deleted in batch 3 must
  // net to D carrying its ORIGINAL (fromId-time) image — the case that
  // proves the signed-log netting, not just concatenation.
  // -------------------------------------------------------------------
  def cowChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_feed")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
    CowTable.commitFull(
      c.where(col("c_custkey") <= 1000)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          bucket.as("pb")),
      root, 1L, Seq("pb"), keep = 10)
    val v1 = c.where(col("c_custkey").between(501, 1500))
      .select(col("c_custkey"), upper(col("c_name")).as("c_name"),
        col("c_mktsegment"), bucket.as("pb"), lit(1L).as("ver"))
    val v2 = c.where(col("c_custkey").between(900, 1200))
      .select(col("c_custkey"), concat(col("c_name"), lit("-v2")).as("c_name"),
        lit("UPDATED").as("c_mktsegment"), bucket.as("pb"), lit(2L).as("ver"))
    CowTable.upsert(spark, root, 2L, v1.unionByName(v2),
      Seq("c_custkey"), Seq("pb"), versionCol = Some("ver"),
      keep = 10, changeLog = true)
    CowTable.deleteKeysMor(spark, root, 3L,
      c.where(col("c_custkey").between(101, 150) ||
          col("c_custkey").between(850, 950))
        .select(col("c_custkey"), bucket.as("pb")),
      Seq("c_custkey"), Seq("pb"), keep = 10, changeLog = true)
    val log = CowTable.changeFeedFromLog(spark, root, 1L, 3L,
      Seq("c_custkey")).getOrElse(
      throw new IllegalStateException("sidecar feed unavailable"))
    val diff = CowTable.changeFeedByDiff(spark, root, 1L, 3L,
      Seq("c_custkey"))
    // one-pass signed-count proof (sameMultiset, r19)
    require(sameMultiset(log, diff),
      "sidecar-served feed diverged from the snapshot diff")
    log.drop("pb").orderBy("c_custkey")
  }

  val cowChangeFeedSql: String =
    """SELECT c_custkey, c_name, c_mktsegment, oper FROM (
      |  SELECT c_custkey, c_name, c_mktsegment, 'D' AS oper
      |  FROM customer
      |  WHERE c_custkey BETWEEN 101 AND 150 OR c_custkey BETWEEN 850 AND 950
      |  UNION ALL
      |  SELECT c_custkey, upper(c_name) AS c_name, c_mktsegment, 'U'
      |  FROM customer WHERE c_custkey BETWEEN 501 AND 849
      |  UNION ALL
      |  SELECT c_custkey, c_name || '-v2' AS c_name,
      |         'UPDATED' AS c_mktsegment, 'U'
      |  FROM customer WHERE c_custkey BETWEEN 951 AND 1000
      |  UNION ALL
      |  SELECT c_custkey, c_name || '-v2' AS c_name,
      |         'UPDATED' AS c_mktsegment, 'I'
      |  FROM customer WHERE c_custkey BETWEEN 1001 AND 1200
      |  UNION ALL
      |  SELECT c_custkey, upper(c_name) AS c_name, c_mktsegment, 'I'
      |  FROM customer WHERE c_custkey BETWEEN 1201 AND 1500
      |) ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // APPEND ingest + COMPACTION repair: three insert-only batches land
  // as append commits (no partition rewrite — each costs its own bytes,
  // the write path for event/fact ingest), fragmenting every bucket
  // into one file per batch; compactPartitions then rewrites each
  // bucket into the file count its bytes warrant. Engine-pinned here:
  // appends touched no existing file, compaction shrank the file list,
  // and the table content is identical before and after. The oracle
  // hashes the final table against the plain source projection — an
  // append that dropped rows, a compaction that lost a bucket, or a
  // carried manifest entry gone stale would all mismatch.
  // -------------------------------------------------------------------
  def cowAppendCompact(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_append")
    val bucket = CowTable.keyBucket(Seq("o_orderkey"), 4)
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        bucket.as("pb"))
    (0 until 3).foreach { r =>
      CowTable.commitAppend(o.where(pmod(col("o_orderkey"), lit(3)) === r),
        root, r + 1L, Seq("pb"), keep = 10)
    }
    val m = CowTable.currentManifest(spark, root).get
    require(m.files.size == 12, // 4 buckets × 3 appends
      s"appends fragmented to ${m.files.size} files, expected 12")
    val before = CowTable.read(spark, root).get
    require(CowTable.compactPartitions(spark, root, 4L,
      targetFileBytes = 1L << 30, keep = 10))
    val after = CowTable.read(spark, root).get
    val mc = CowTable.currentManifest(spark, root).get
    require(mc.files.size < m.files.size,
      s"compaction did not shrink: ${m.files.size} -> ${mc.files.size}")
    // one-pass signed-count proof (sameMultiset, r19)
    require(sameMultiset(before, after),
      "compaction changed table content")
    after.drop("pb").orderBy("o_orderkey")
  }

  val cowAppendCompactSql: String =
    """SELECT o_orderkey, o_custkey,
      | CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // IN-LIST bloom lookup: fetch a scattered set of values on a
  // NON-key column over a hash-scattered layout (envelopes span
  // everything by construction — only the per-file blooms prune).
  // Engine-pinned: the probed file list is smaller than the table;
  // oracle-pinned: exactly the plain IN-filter's rows come back (a
  // bloom false NEGATIVE — the one correctness hazard — would lose a
  // row and break the hash).
  // -------------------------------------------------------------------
  def cowInLookup(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_in")
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .repartition(8, xxhash64(col("c_custkey")))
    CowTable.commitFull(c, root, 1L, Nil, bloomCols = Seq("c_name"))
    val wanted = Seq(42, 133, 263, 707, 1001)
      .map(i => f"Customer#$i%09d")
    val kept = CowTable.filesForIn(spark, root, "c_name", wanted).size
    val total = CowTable.currentManifest(spark, root).get.files.size
    require(kept < total, s"IN-list bloom kept $kept of $total files")
    CowV2.read(spark, root).get
      .where(col("c_name").isin(wanted: _*))
      .orderBy("c_custkey")
  }

  val cowInLookupSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE c_name IN ('Customer#000000042', 'Customer#000000133',
      |  'Customer#000000263', 'Customer#000000707', 'Customer#000001001')
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // SNAPSHOT HISTORY under oracle: a known commit sequence (load 500,
  // append to 1000, MOR-delete 100, fold) whose per-snapshot row
  // counts and delete-debt state are computable exactly from the source
  // table — the metadata-only history() must report them without
  // reading a data byte. n_rows at the deleted-from snapshot is the
  // documented upper bound (the DV-masked rows still count until the
  // fold). The oracle's column keeps its historical name.
  // -------------------------------------------------------------------
  def cowHistory(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_hist")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        bucket.as("pb"))
    CowTable.commitFull(c.where(col("c_custkey") <= 500),
      root, 1L, Seq("pb"), keep = 10)
    CowTable.commitAppend(c.where(col("c_custkey").between(501, 1000)),
      root, 2L, Seq("pb"), keep = 10)
    CowTable.deleteKeysMor(spark, root, 3L,
      c.where(col("c_custkey") <= 100).select(col("c_custkey"), col("pb")),
      Seq("c_custkey"), Seq("pb"), keep = 10)
    require(CowTable.foldTombstones(spark, root, 4L, keep = 10))
    CowTable.history(spark, root)
      .select(col("snapshot_id"), col("n_rows"),
        (col("dv_files") > 0).as("has_tombstones"))
      .orderBy("snapshot_id")
  }

  val cowHistorySql: String =
    """WITH c1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer
      |            WHERE c_custkey <= 500),
      |c2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer
      |       WHERE c_custkey <= 1000),
      |cd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer
      |       WHERE c_custkey <= 100)
      |SELECT CAST(t.snapshot_id AS BIGINT) AS snapshot_id,
      | CAST(t.n_rows AS BIGINT) AS n_rows, t.has_tombstones
      |FROM (VALUES
      |  (1, (SELECT n FROM c1), false),
      |  (2, (SELECT n FROM c2), false),
      |  (3, (SELECT n FROM c2), true),
      |  (4, (SELECT n FROM c2) - (SELECT n FROM cd), false))
      | t(snapshot_id, n_rows, has_tombstones)
      |ORDER BY snapshot_id""".stripMargin

  // -------------------------------------------------------------------
  // MV MAINTAINED FROM THE TABLE'S OWN WRITE-TIME FEED: every commit's
  // signed sidecar (D/I rows) feeds MaterializedAgg's retractable
  // state with ±1 weights, so the per-group aggregate is maintained
  // with O(sum of batches) work and ZERO table rescans — the closing
  // of the loop between the storage layer's change feed and the MV
  // layer's retraction algebra. The upsert deliberately MOVES keys
  // between groups (segment rewrite), which only retraction can track:
  // the D-old row cancels the old group's contribution exactly, the
  // I-new row credits the new group. Engine-pinned: feed-built MV ==
  // direct aggregate over the final table; oracle-pinned: both equal
  // the expected groups computed straight from the source.
  // -------------------------------------------------------------------
  def cowMvFromFeed(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.MaterializedAgg
    val root = scratch("cow_mvfeed")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), bucket.as("pb"))
    CowTable.commitFull(c.where(col("c_custkey") <= 1000),
      root, 1L, Seq("pb"), keep = 10, changeLogKeys = Seq("c_custkey"))
    CowTable.upsert(spark, root, 2L,
      c.where(col("c_custkey").between(501, 1500))
        .select(col("c_custkey"), lit("SEGMENT-X").as("c_mktsegment"),
          col("pb")),
      Seq("c_custkey"), Seq("pb"), keep = 10, changeLog = true)
    CowTable.deleteKeysMor(spark, root, 3L,
      c.where(col("c_custkey").between(101, 150) ||
          col("c_custkey").between(850, 950))
        .select(col("c_custkey"), col("pb")),
      Seq("c_custkey"), Seq("pb"), keep = 10, changeLog = true)
    val keys = Seq("c_mktsegment")
    val vals = Seq("c_custkey")
    val states = (1L to 3L).map { i =>
      val log = CowTable.changeLogFor(spark, root, i).getOrElse(
        throw new IllegalStateException(s"commit $i wrote no sidecar"))
      MaterializedAgg.retractStateOf(log, keys, vals)
    }
    val mv = MaterializedAgg.mergeRetract(keys, vals, states: _*)
      .select(col("c_mktsegment"), col("mv_n").as("n"),
        col("mv_sum_c_custkey").cast("long").as("sum_key"))
    val direct = CowTable.read(spark, root).get
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_custkey").cast("decimal(38,0)")).cast("long")
          .as("sum_key"))
    // one-pass signed-count proof (sameMultiset, r19)
    require(sameMultiset(mv, direct),
      "feed-maintained MV diverged from the direct aggregate")
    mv.orderBy("c_mktsegment")
  }

  val cowMvFromFeedSql: String =
    """WITH final AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey BETWEEN 501 AND 1500 THEN 'SEGMENT-X'
      |         ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer
      |  WHERE c_custkey <= 1500
      |    AND NOT (c_custkey BETWEEN 101 AND 150
      |          OR c_custkey BETWEEN 850 AND 950)
      |)
      |SELECT c_mktsegment, count(*) AS n,
      | CAST(sum(c_custkey) AS BIGINT) AS sum_key
      |FROM final GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  // -------------------------------------------------------------------
  // STREAM-MAINTAINED MV: the same feed→retraction loop as
  // cow_mv_from_feed, but through the REAL Structured Streaming
  // source ([[graft.streaming.CowStream]]): readStream over the
  // table's `_changes/` sidecar dirs, one micro-batch per discovery,
  // exactly-once MV commits keyed by micro-batch id. The engine pin is
  // the require (stream-built MV == direct rescan); the oracle pins
  // both against the expected groups computed straight from the
  // source. At 100 TB the stream does what the batch variant does —
  // O(batch) per commit, zero table rescans — while surviving
  // crash-replay (CowStreamSpec).
  // -------------------------------------------------------------------
  def cowStreamMv(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.MaterializedAgg // referenced by scaladoc
    import graft.sinks.SnapshotTarget
    import graft.streaming.CowStream
    val root = scratch("cow_streammv")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), bucket.as("pb"))
    CowTable.commitFull(c.where(col("c_custkey") <= 800),
      root, 1L, Seq("pb"), keep = 10, changeLogKeys = Seq("c_custkey"))
    CowTable.upsert(spark, root, 2L,
      c.where(col("c_custkey").between(401, 1200))
        .select(col("c_custkey"), lit("SEGMENT-S").as("c_mktsegment"),
          col("pb")),
      Seq("c_custkey"), Seq("pb"), keep = 10, changeLog = true)
    CowTable.deleteKeysMor(spark, root, 3L,
      c.where(col("c_custkey").between(51, 120))
        .select(col("c_custkey"), col("pb")),
      Seq("c_custkey"), Seq("pb"), keep = 10, changeLog = true)
    val mvPath = scratch("cow_streammv_mv")
    val q = CowStream.mvSink(spark, root, mvPath, Seq("c_mktsegment"),
      Seq("c_custkey"), checkpoint = scratch("cow_streammv_ck"))
    try q.processAllAvailable() finally q.stop()
    val mv = SnapshotTarget.read(spark, mvPath).get
      .select(col("c_mktsegment"), col("mv_n").as("n"),
        col("mv_sum_c_custkey").cast("long").as("sum_key"))
    val direct = CowTable.read(spark, root).get
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_custkey").cast("decimal(38,0)")).cast("long")
          .as("sum_key"))
    // one-pass signed-count proof (sameMultiset, r19)
    require(sameMultiset(mv, direct),
      "stream-maintained MV diverged from the direct aggregate")
    mv.orderBy("c_mktsegment")
  }

  val cowStreamMvSql: String =
    """WITH final AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey BETWEEN 401 AND 1200 THEN 'SEGMENT-S'
      |         ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer
      |  WHERE c_custkey <= 1200
      |    AND NOT (c_custkey BETWEEN 51 AND 120)
      |)
      |SELECT c_mktsegment, count(*) AS n,
      | CAST(sum(c_custkey) AS BIGINT) AS sum_key
      |FROM final GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  // -------------------------------------------------------------------
  // STREAMING SINK end-to-end: two waves of keyed customer updates run
  // through [[graft.streaming.CowSink.upsert]] — a real StreamingQuery
  // over a file source, one COW merge commit per micro-batch, commit
  // ids derived from the checkpoint — and the final table state must
  // equal the batch-SQL application of the same waves. The write half
  // of the storage↔streaming loop (`cow_stream_mv` is the read half).
  // -------------------------------------------------------------------
  def cowSinkStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.CowSink
    val root = scratch("cow_sinktbl")
    val in = scratch("cow_sinkin")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        bucket.as("pb"))
    c.where(col("c_custkey") <= 1000)
      .coalesce(1).write.parquet(s"$in/w1")
    // wave-2 row count observed THROUGH the write it already pays —
    // no extra probe job in the timed region (r20 review)
    val w2obs = new org.apache.spark.sql.Observation("cow_sink_w2")
    c.where(col("c_custkey").between(501, 1500))
      .select(col("c_custkey"), lit("SEGMENT-S").as("seg"), col("pb"))
      .observe(w2obs, count(lit(1)).as("n"))
      .coalesce(1).write.parquet(s"$in/w2")
    // maxFilesPerTrigger=1 → one micro-batch per wave, in write order
    // (the file source orders by modification time, path-tiebroken)
    val stream = spark.readStream
      .schema("c_custkey BIGINT, seg STRING, pb INT")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/w*")
    val q = CowSink.upsert(stream, root, Seq("c_custkey"), Seq("pb"),
      checkpoint = scratch("cow_sinkck"), changeLog = true, keep = 10)
    try q.processAllAvailable() finally q.stop()
    // one commit per NON-EMPTY wave (r20, VERDICT #6): at sf0.001 the
    // 501-1500 wave is empty (max key 149) and the sink skips empty
    // batches by contract, so only wave 1's id lands; sf0.01+ keeps
    // the original Seq(2, 4) expectation bit-for-bit
    val expectedIds =
      if (w2obs.get("n").asInstanceOf[Long] == 0L) Seq(2L)
      else Seq(2L, 4L)
    require(CowTable.committedIds(spark, root) == expectedIds,
      "expected exactly one commit per non-empty wave")
    CowTable.read(spark, root).get
      .select(col("c_custkey"), col("seg")).orderBy("c_custkey")
  }

  val cowSinkStreamSql: String =
    """WITH final AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey BETWEEN 501 AND 1500 THEN 'SEGMENT-S'
      |         ELSE c_mktsegment END AS seg
      |  FROM customer
      |  WHERE c_custkey <= 1500
      |)
      |SELECT c_custkey, seg FROM final ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // STREAMING SINK AS A REGISTERED FORMAT: the same two-wave keyed
  // upsert as `cow_sink_stream`, but through the Spark-facing
  // `writeStream.format("cow")` surface with the NAMED target form
  // (`option("table", "<cat>.g.sinkt")`) over a per-run scratch
  // catalog — sinks/CowSource.createSink → streaming/CowStreamSink
  // (the V1 Sink seam, Delta's own choice), not the programmatic
  // helper. Exactly-once is the table's replay guard (ids derive from
  // the checkpoint's batch ids); the oracle is DELIBERATELY the same
  // SQL as cow_sink_stream — the format surface must be semantically
  // indistinguishable from the programmatic one.
  // -------------------------------------------------------------------
  def cowStreamFmtSink(spark: SparkSession, dir: String): DataFrame = {
    val (nsq, nsDir) = scratchCatalog(spark, "fmtsink")
    val in = scratch("cow_fmtin")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        bucket.as("pb"))
    c.where(col("c_custkey") <= 1000)
      .coalesce(1).write.parquet(s"$in/w1")
    // wave-2 row count observed THROUGH the write (r20 review; see
    // cow_sink_stream)
    val w2obs = new org.apache.spark.sql.Observation("cow_fmt_w2")
    c.where(col("c_custkey").between(501, 1500))
      .select(col("c_custkey"), lit("SEGMENT-S").as("seg"), col("pb"))
      .observe(w2obs, count(lit(1)).as("n"))
      .coalesce(1).write.parquet(s"$in/w2")
    val stream = spark.readStream
      .schema("c_custkey BIGINT, seg STRING, pb INT")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/w*")
    val q = stream.writeStream.format("cow")
      .option("checkpointLocation", scratch("cow_fmtck"))
      .option("table", s"$nsq.sinkt")
      .option("keys", "c_custkey")
      .option("partitionBy", "pb")
      .option("keep", "10")
      .start()
    try q.processAllAvailable() finally q.stop()
    // one commit per NON-EMPTY wave (r20, VERDICT #6; see
    // cow_sink_stream — same sf0.001 empty-wave derivation)
    val expectedIds =
      if (w2obs.get("n").asInstanceOf[Long] == 0L) Seq(2L)
      else Seq(2L, 4L)
    require(CowTable.committedIds(spark, s"$nsDir/sinkt") == expectedIds,
      "expected exactly one commit per non-empty wave from the format sink")
    spark.table(s"$nsq.sinkt")
      .select(col("c_custkey"), col("seg")).orderBy("c_custkey")
  }

  // -------------------------------------------------------------------
  // BATCH CDF BY NAME: `spark.read.option("startSnapshot", …)
  // .table("cow.….changes")` — Delta's `table_changes` — serves the
  // signed changelog of a committed-id RANGE from the same sidecars
  // the streaming feed reads (streaming/CowFeedSource.toBatch; the
  // listing is CowFeedPlanner, shared with the stream, so the
  // retention and vacuum-race guards are identical). The oracle
  // recomputes the expected I/D rows from the raw source.
  // -------------------------------------------------------------------
  def cowNamedCdf(spark: SparkSession, dir: String): DataFrame = {
    val root = s"${scratch("cow_cdf")}/t"
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), bucket.as("pb"))
    CowTable.commitFull(c.where(col("c_custkey") <= 500), root, 1L,
      Seq("pb"), keep = 10, changeLogKeys = Seq("c_custkey"))
    CowTable.commitAppend(c.where(col("c_custkey").between(501, 800)),
      root, 2L, Seq("pb"), keep = 10, changeLogKeys = Seq("c_custkey"))
    CowTable.deleteWhere(spark, root, 3L, col("c_custkey") <= 100,
      keep = 10, changeLogKeys = Seq("c_custkey"))
    spark.read.option("startSnapshot", "2")
      .table(s"cow.`$root`.changes")
      .select(col("_commit_id"), col("_oper"), col("c_custkey"))
      .orderBy("_commit_id", "c_custkey")
  }

  // -------------------------------------------------------------------
  // DESCRIBE DETAIL: Delta's one-row table-detail statement, served
  // from the current manifest + catalog sidecars (zero data-file
  // opens). The oracle recomputes the DERIVABLE columns (head id,
  // partitioning, row total, retention, constraint count) from the
  // same construction; file/byte totals are pinned in
  // CowSqlParserSpec, where the layout is controlled.
  // -------------------------------------------------------------------
  def cowDescribeDetail(spark: SparkSession, dir: String): DataFrame = {
    val root = s"${scratch("cow_detail")}/t"
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), bucket.as("pb"))
    CowTable.commitFull(c.where(col("c_custkey") <= 1000), root, 1L,
      Seq("pb"), keep = 10)
    CowTable.commitAppend(c.where(col("c_custkey").between(1001, 1500)),
      root, 2L, Seq("pb"), keep = 10)
    spark.sql(s"ALTER TABLE cow.`$root` ADD CONSTRAINT bal_set " +
      "CHECK (c_acctbal IS NOT NULL)")
    spark.sql(s"DESCRIBE DETAIL cow.`$root`")
      .select(col("format"), col("snapshot_id"), col("partition_columns"),
        col("data_file_rows"), col("retained_snapshots"),
        col("check_constraints"))
  }

  val cowDescribeDetailSql: String =
    """SELECT 'cow' AS format, CAST(2 AS BIGINT) AS snapshot_id,
      |  'pb' AS partition_columns,
      |  (SELECT CAST(count(*) AS BIGINT) FROM customer
      |   WHERE c_custkey <= 1500) AS data_file_rows,
      |  CAST(2 AS BIGINT) AS retained_snapshots,
      |  CAST(1 AS BIGINT) AS check_constraints""".stripMargin

  // -------------------------------------------------------------------
  // THE TABLE AS A STREAM: `spark.readStream.table("cow.….t")` —
  // Delta's table-stream (streaming/CowTableStreamSource.scala): the
  // first micro-batch serves the current snapshot whole, then each
  // commit's ADDED files arrive incrementally, rows in the table's
  // own schema. The second wave below commits WHILE the stream runs,
  // so the row proves live increments, not just the snapshot.
  // -------------------------------------------------------------------
  def cowTableStream(spark: SparkSession, dir: String): DataFrame = {
    val root = s"${scratch("cow_tstream")}/t"
    val out = scratch("cow_tsout")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        bucket.as("pb"))
    CowTable.commitFull(c.where(col("c_custkey") <= 800), root, 1L,
      Seq("pb"), keep = 10)
    val q = spark.readStream.table(s"cow.`$root`")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", scratch("cow_tsck")).start()
    try {
      q.processAllAvailable()
      CowTable.commitAppend(c.where(col("c_custkey").between(801, 1200)),
        root, 2L, Seq("pb"), keep = 10)
      q.processAllAvailable()
    } finally q.stop()
    spark.read.parquet(out)
      .select(col("c_custkey"), col("seg")).orderBy("c_custkey")
  }

  val cowTableStreamSql: String =
    """SELECT c_custkey, c_mktsegment AS seg FROM customer
      |WHERE c_custkey <= 1200 ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // REPLACE-WHERE + PARTITION-SCOPED OPTIMIZE: Delta's replaceWhere —
  // `writeTo(t).overwrite(pred)` drops every partition the predicate
  // matches and writes the query's rows in their place, ONE commit,
  // non-matching partitions carried by manifest reference (require()d
  // on the actual file paths below) — then `OPTIMIZE … WHERE pred`
  // compacts only that region. At 100 TB this is the restatement
  // pattern: recompute a date range without touching the rest of the
  // table, then heal only the files the restatement fragmented.
  // -------------------------------------------------------------------
  def cowReplaceWhere(spark: SparkSession, dir: String): DataFrame = {
    val root = s"${scratch("cow_rw")}/t"
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"),
        (col("c_custkey") % 10).cast("int").as("seg"))
    CowTable.commitFull(c.where(col("c_custkey") <= 1200), root, 1L,
      Seq("seg"), keep = 10)
    val kept = CowTable.currentManifest(spark, root).get.files
      .filter(_.part("seg").toInt < 7).map(_.path).toSet
    // restate the seg >= 7 region: fewer keys (≤ 900, a true REPLACE —
    // 901..1200 of that region must vanish) with rewritten names
    c.where(col("c_custkey") <= 900 && col("seg") >= 7)
      .select(col("c_custkey"), upper(col("c_name")).as("c_name"),
        col("seg"))
      .writeTo(s"cow.`$root`").overwrite(col("seg") >= 7)
    val m = CowTable.currentManifest(spark, root).get
    require(m.files.filter(_.part("seg").toInt < 7).map(_.path).toSet
        == kept,
      "non-matching partitions must carry by manifest reference")
    // heal only the restated region; content-neutral by contract
    spark.sql(s"OPTIMIZE cow.`$root` WHERE seg >= 7")
    val m2 = CowTable.currentManifest(spark, root).get
    require(m2.files.filter(_.part("seg").toInt < 7).map(_.path).toSet
        == kept,
      "scoped OPTIMIZE must not rewrite non-matching partitions")
    CowTable.read(spark, root).get
      .select(col("c_custkey"), col("c_name"), col("seg"))
      .orderBy("c_custkey")
  }

  val cowReplaceWhereSql: String =
    """SELECT c_custkey,
      |  CASE WHEN c_custkey % 10 >= 7 THEN upper(c_name)
      |       ELSE c_name END AS c_name,
      |  CAST(c_custkey % 10 AS INT) AS seg
      |FROM customer
      |WHERE (c_custkey <= 1200 AND c_custkey % 10 < 7)
      |   OR (c_custkey <= 900 AND c_custkey % 10 >= 7)
      |ORDER BY c_custkey""".stripMargin

  val cowNamedCdfSql: String =
    """SELECT _commit_id, _oper, c_custkey FROM (
      |  SELECT CAST(2 AS BIGINT) AS _commit_id, 'I' AS _oper, c_custkey
      |  FROM customer WHERE c_custkey BETWEEN 501 AND 800
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), 'D', c_custkey
      |  FROM customer WHERE c_custkey <= 100
      |) ORDER BY _commit_id, c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // MANIFEST-SERVED AGGREGATES: count/min/max answered from the
  // manifest's per-file stats — zero data files listed, opened, or
  // read (the Delta/Iceberg AddFile-stats trick). The scratch table is
  // built from two commits so the answer must fold stats across
  // batches; the oracle recomputes the same aggregates from the raw
  // source in DuckDB. At 100 TB this serves the most common health
  // probes from kilobytes.
  // -------------------------------------------------------------------
  def cowAggPushdown(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_aggpd")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"), bucket.as("pb"))
    CowTable.commitFull(c.where(col("c_custkey") <= 800),
      root, 1L, Seq("pb"), keep = 10)
    CowTable.commitAppend(c.where(col("c_custkey").between(801, 1200)),
      root, 2L, Seq("pb"), keep = 10)
    val n = CowTable.countFast(spark, root).getOrElse(
      sys.error("countFast refused a debt-free table"))
    val (lo, hi) = CowTable.minMaxFast(spark, root, "c_custkey").getOrElse(
      sys.error("minMaxFast refused a fully-statted numeric column"))
    spark.sql(
      s"""SELECT CAST($n AS BIGINT) AS n,
         |       CAST($lo AS BIGINT) AS min_key,
         |       CAST($hi AS BIGINT) AS max_key""".stripMargin)
  }

  val cowAggPushdownSql: String =
    """SELECT count(*) AS n,
      | min(c_custkey) AS min_key,
      | max(c_custkey) AS max_key
      |FROM customer WHERE c_custkey <= 1200""".stripMargin

  // -------------------------------------------------------------------
  // PARTITION LAYOUT EVOLUTION: key-bucket layout → mktsegment layout
  // in one COW commit at the same root, with an outstanding MOR delete
  // folded by the rewrite for free. The oracle pins that the relaid
  // table is exactly the logical content; the spec layer pins layout
  // metadata, old-layout time travel, and the partial-commit refusal.
  // -------------------------------------------------------------------
  def cowRepartition(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_repart")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), bucket.as("pb"))
    CowTable.commitFull(c.where(col("c_custkey") <= 1000),
      root, 1L, Seq("pb"), keep = 10)
    CowTable.deleteKeysMor(spark, root, 2L,
      c.where(col("c_custkey").between(101, 200))
        .select(col("c_custkey"), col("pb")),
      Seq("c_custkey"), Seq("pb"), keep = 10)
    CowTable.repartitionTable(spark, root, 3L, Seq("c_mktsegment"),
      keep = 10)
    val m = CowTable.currentManifest(spark, root).get
    require(m.partCols == Seq("c_mktsegment"),
      s"relayout did not take: ${m.partCols}")
    require(m.dvs.isEmpty,
      "the full rewrite must fold outstanding deletion vectors")
    CowTable.read(spark, root).get
      .select(col("c_custkey"), col("c_mktsegment")).orderBy("c_custkey")
  }

  val cowRepartitionSql: String =
    """SELECT c_custkey, c_mktsegment
      |FROM customer
      |WHERE c_custkey <= 1000
      |  AND NOT (c_custkey BETWEEN 101 AND 200)
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // COW RESTORE: Delta's RESTORE TO VERSION as a by-reference commit.
  // A "bad" upsert corrupts a key slice; restore(1) commits a new
  // snapshot that re-references snapshot 1's files — zero data I/O —
  // and retention (keep=2) then prunes the target's own manifest while
  // the restored snapshot keeps serving its content through the
  // re-referenced batch dirs. The oracle is the UNCORRUPTED projection:
  // a restore that leaked any of commit 2's rows, or that lost carried
  // files to vacuum, hash-mismatches.
  // -------------------------------------------------------------------
  def cowRestore(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_restore")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
    val target = c.where(col("c_custkey") <= 1000)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        bucket.as("pb"))
    CowTable.commitFull(target, root, 1L, Seq("pb"))
    val bad = c.where(col("c_custkey").between(200, 600))
      .select(col("c_custkey"), lit("CORRUPT").as("c_name"),
        lit("BAD").as("c_mktsegment"), bucket.as("pb"))
    CowTable.upsert(spark, root, 2L, bad, Seq("c_custkey"), Seq("pb"))
    val restored = CowTable.restore(spark, root, 1L, keep = 2)
    require(restored == 3L, s"restore must commit a new snapshot: $restored")
    CowTable.read(spark, root).get.drop("pb").orderBy("c_custkey")
  }

  val cowRestoreSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer WHERE c_custkey <= 1000
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // COW CHECK CONSTRAINTS: Delta's ADD CONSTRAINT as a write-time
  // gate. Registration validates existing data; a violating upsert is
  // refused BEFORE anything publishes (the commit id stays free); a
  // valid one lands. The oracle is the base + valid-insert union — a
  // constraint layer that let the bad batch through, or that blocked
  // the good one, hash-mismatches.
  // -------------------------------------------------------------------
  def cowConstraints(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_checks")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
    val target = c.where(col("c_custkey") <= 1000)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        bucket.as("pb"))
    CowTable.commitFull(target, root, 1L, Seq("pb"))
    CowTable.setCheckConstraints(spark, root, Map(
      "custkey_pos" -> "c_custkey >= 0",
      "name_nn" -> "c_name IS NOT NULL"))
    // violating keys drawn from 1-100 — present at EVERY fixture SF
    // (r20, VERDICT #6: 1101-1200 was empty at sf0.001, so the refusal
    // path went unexercised and the require failed). The batch is
    // refused before any write, so the key range leaves no trace in
    // the declared result at any SF.
    val bad = c.where(col("c_custkey").between(1, 100))
      .select((-col("c_custkey")).as("c_custkey"), col("c_name"),
        col("c_mktsegment"), bucket.as("pb"))
    val refused =
      try { CowTable.upsert(spark, root, 2L, bad, Seq("c_custkey"), Seq("pb")); false }
      catch { case _: graft.sinks.CowConstraintException => true }
    require(refused, "the violating batch must be refused")
    val good = c.where(col("c_custkey").between(1001, 1100))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        bucket.as("pb"))
    // empty at the sf0.001 smoke SF (max key 149): an empty upsert
    // adds nothing, so skip it rather than exercise a degenerate path
    if (!good.isEmpty)
      CowTable.upsert(spark, root, 3L, good, Seq("c_custkey"), Seq("pb"))
    CowTable.read(spark, root).get.drop("pb").orderBy("c_custkey")
  }

  val cowConstraintsSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer WHERE c_custkey <= 1100
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // Incremental JOIN-view maintenance (operators/JoinMv): the multiset
  // delta rule ΔA⋈B_old + A_new⋈ΔB applied from CowTable's write-time
  // SIGNED sidecars, with time travel supplying each step's snapshot —
  // the view follows two independently-committing tables with
  // O(Δ ⋈ side) work per commit and zero full-join recomputes. The
  // customer delta exercises U (retract+insert), I and D; the orders
  // delta is a pure-I append. The query require()s maintained ≡
  // recomputed before returning; the oracle replays the final join.
  // -------------------------------------------------------------------
  def cowJoinMv(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.JoinMv
    val rootA = scratch("cow_jmv_a")
    val rootB = scratch("cow_jmv_b")
    val bucket = CowTable.keyBucket(Seq("custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer").select(
      col("c_custkey").as("custkey"), col("c_name"), col("c_mktsegment"))
    val o = Tables.load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey").as("custkey"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    CowTable.commitFull(
      c.where(col("custkey") <= 800).select(col("*"), bucket.as("pb")),
      rootA, 1L, Seq("pb"), changeLogKeys = Seq("custkey"))
    CowTable.commitFull(
      o.where(col("o_orderkey") % 3 === 0).select(col("*"), bucket.as("pb")),
      rootB, 1L, Seq("pb"), changeLogKeys = Seq("o_orderkey"))
    val keys = Seq("custkey")
    val mv0 = JoinMv.init(
      CowTable.read(spark, rootA).get.drop("pb"),
      CowTable.read(spark, rootB).get.drop("pb"), keys)

    // customer commit 2: U 101-200 (PROMO rename), I 801-900, D 791-800
    def nullStr = lit(null).cast("string")
    val dU = c.where(col("custkey").between(101, 200)).select(
      col("custkey"), upper(col("c_name")).as("c_name"),
      lit("PROMO").as("c_mktsegment"), bucket.as("pb"), lit("U").as("oper"))
    val dI = c.where(col("custkey").between(801, 900)).select(
      col("custkey"), col("c_name"), col("c_mktsegment"), bucket.as("pb"),
      lit("I").as("oper"))
    val dD = c.where(col("custkey").between(791, 800)).select(
      col("custkey"), nullStr.as("c_name"), nullStr.as("c_mktsegment"),
      bucket.as("pb"), lit("D").as("oper"))
    CowTable.applyCdc(spark, rootA, 2L, dU.unionByName(dI).unionByName(dD),
      keys, Seq("pb"), changeLog = true)
    val sidecarA = CowTable.changeLogFor(spark, rootA, 2L).get.drop("pb")
    // each step's contribution joins against the other side AS OF its
    // step (the delta rule); the MERGES are an associative grouped
    // weight-sum, so both steps fold into the view with ONE aggregation
    // (JoinMv.applyDeltas, r19) instead of nesting one exchange per
    // step. verifySigned=false: write-time sidecars are signed by
    // construction (the r18 rule the streaming path already uses).
    val contribA = JoinMv.deltaContribution(sidecarA,
      CowTable.readAt(spark, rootB, 1L).get.drop("pb"),
      keys, deltaIsLeft = true, verifySigned = false)

    // orders commit 2: pure-I append of the %3==1 slice
    CowTable.commitAppend(
      o.where(col("o_orderkey") % 3 === 1).select(col("*"), bucket.as("pb")),
      rootB, 2L, Seq("pb"), changeLogKeys = Seq("o_orderkey"))
    val sidecarB = CowTable.changeLogFor(spark, rootB, 2L).get.drop("pb")
    val contribB = JoinMv.deltaContribution(sidecarB,
      CowTable.read(spark, rootA).get.drop("pb"),
      keys, deltaIsLeft = false, verifySigned = false)
    val mv = JoinMv.applyDeltas(mv0, Seq(contribA, contribB), keys)

    // one-pass signed-count proof (sameMultiset, r19): full
    // two-direction multiset equality, each side evaluated once
    val expect = JoinMv.init(
      CowTable.read(spark, rootA).get.drop("pb"),
      CowTable.read(spark, rootB).get.drop("pb"), keys)
    require(sameMultiset(mv, expect),
      "maintained join view diverged from the recomputed join")
    JoinMv.finish(mv).orderBy("custkey", "o_orderkey")
  }

  val cowJoinMvSql: String =
    """WITH a AS (
      | SELECT c_custkey AS custkey,
      |   CASE WHEN c_custkey BETWEEN 101 AND 200
      |        THEN upper(c_name) ELSE c_name END AS c_name,
      |   CASE WHEN c_custkey BETWEEN 101 AND 200
      |        THEN 'PROMO' ELSE c_mktsegment END AS c_mktsegment
      | FROM customer
      | WHERE c_custkey <= 900 AND c_custkey NOT BETWEEN 791 AND 800),
      |b AS (SELECT o_orderkey, o_custkey AS custkey,
      |        CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |      FROM orders WHERE o_orderkey % 3 IN (0, 1))
      |SELECT a.custkey, a.c_name, a.c_mktsegment, b.o_orderkey, b.cents
      |FROM a JOIN b USING (custkey)
      |ORDER BY custkey, o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // OPTIMIZE ... ZORDER BY on a PARTITIONED table: the bucket layout
  // starts with every envelope spanning everything (hash-scattered);
  // one optimizeZorder commit reclusters each bucket's rows into
  // narrow z-ranges, and the require() pins that BOTH clustering
  // dimensions then prune. The filtered read is layout-independent by
  // construction, so the oracle is the plain WHERE.
  // -------------------------------------------------------------------
  def cowOptimizeZorder(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.CowRange
    val root = scratch("cow_optz")
    val bucket = CowTable.keyBucket(Seq("o_orderkey"), 4)
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"),
        bucket.as("pb"))
    CowTable.commitFull(o, root, 1L, Seq("pb"))
    require(CowTable.optimizeZorder(spark, root, 2L,
      Seq("o_custkey", "cents"), targetFileBytes = 64 * 1024))
    val r1 = CowRange("o_custkey", Some("100"), Some("400"))
    val r2 = CowRange("cents", Some("5000000"), Some("12000000"))
    val k1 = CowTable.filesFor(spark, root, Seq(r1)).size
    val k2 = CowTable.filesFor(spark, root, Seq(r2)).size
    val both = CowTable.filesFor(spark, root, Seq(r1, r2)).size
    val m2 = CowTable.currentManifest(spark, root).get
    val total = m2.files.size
    // z-order file-level pruning can only exist where a partition was
    // split into ≥2 files (the pb buckets hash o_orderkey, so every
    // 1-file bucket's envelope spans the full custkey/cents range and
    // always intersects the query box). At sf0.001 the whole table
    // fits one file per bucket — demand the strict improvement only
    // when some bucket is multi-file (true from sf0.01 up; r20,
    // VERDICT #6).
    val multiFile = m2.files.groupBy(_.part).exists(_._2.size >= 2)
    require(both <= k1 && both <= k2 && (!multiFile || both < total),
      s"optimized 2-D prune kept $both of $total vs 1-D $k1/$k2")
    CowV2.read(spark, root).get
      .where(col("o_custkey").between(100L, 400L) &&
        col("cents").between(5000000L, 12000000L))
      .drop("pb").orderBy("o_orderkey")
  }

  val cowOptimizeZorderSql: String =
    """SELECT o_orderkey, o_custkey,
      | CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |FROM orders
      |WHERE o_custkey BETWEEN 100 AND 400
      |  AND CAST(floor(o_totalprice * 100) AS BIGINT)
      |      BETWEEN 5000000 AND 12000000
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // Snapshot-diff SUMMARY: DataDiff over two time-traveled snapshots of
  // one table — the column-drift complement of the row-level change
  // feed ("between v1 and v2: 100 updates, all in c_mktsegment").
  // Deletes, updates and inserts are formula-known, so the oracle
  // replays the whole classification from the raw data.
  // -------------------------------------------------------------------
  def cowSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_snapdiff")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    CowTable.commitFull(
      c.where(col("c_custkey") <= 1000).select(col("*"), bucket.as("pb")),
      root, 1L, Seq("pb"), keep = 10)
    // v2: update segments 101-200, delete 901-1000, insert 1001-1100
    def nullStr = lit(null).cast("string")
    val batch =
      c.where(col("c_custkey").between(101, 200)).select(
          col("c_custkey"), col("c_name"), lit("MOVED").as("c_mktsegment"),
          bucket.as("pb"), lit("U").as("oper"))
        .unionByName(c.where(col("c_custkey").between(1001, 1100)).select(
          col("c_custkey"), col("c_name"), col("c_mktsegment"),
          bucket.as("pb"), lit("I").as("oper")))
        .unionByName(c.where(col("c_custkey").between(901, 1000)).select(
          col("c_custkey"), nullStr.as("c_name"), nullStr.as("c_mktsegment"),
          bucket.as("pb"), lit("D").as("oper")))
    CowTable.applyCdc(spark, root, 2L, batch, Seq("c_custkey"), Seq("pb"),
      keep = 10)
    graft.operators.DataDiff.summary(
      CowTable.readAt(spark, root, 1L).get.drop("pb"),
      CowTable.readAt(spark, root, 2L).get.drop("pb"),
      Seq("c_custkey"))
  }

  // n_only_left/right derived from the fixture instead of a literal
  // 100 (r20, VERDICT #6): at sf0.01+ both sums evaluate to exactly
  // 100 (keys 901-1000 / 1001-1100 are dense), so the gate-SF rows —
  // and their hashes — are unchanged; at sf0.001 (max key 149) they
  // evaluate to 0, matching what DataDiff actually reports there.
  val cowSnapshotDiffSql: String =
    """SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM customer
      |   WHERE c_custkey BETWEEN 901 AND 1000) AS n_only_left,
      |  (SELECT CAST(count(*) AS BIGINT) FROM customer
      |   WHERE c_custkey BETWEEN 1001 AND 1100) AS n_only_right,
      |  CAST(sum(CASE WHEN c_custkey BETWEEN 101 AND 200
      |        AND c_mktsegment <> 'MOVED' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_changed,
      |  CAST(sum(CASE WHEN c_custkey <= 900
      |        AND NOT (c_custkey BETWEEN 101 AND 200
      |                 AND c_mktsegment <> 'MOVED')
      |        THEN 1 ELSE 0 END) AS BIGINT) AS n_identical,
      |  CAST(0 AS BIGINT) AS n_changed_c_name,
      |  CAST(sum(CASE WHEN c_custkey BETWEEN 101 AND 200
      |        AND c_mktsegment <> 'MOVED' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_changed_c_mktsegment
      |FROM customer WHERE c_custkey <= 1000""".stripMargin

  // -------------------------------------------------------------------
  // Predicate DELETE (Delta's DELETE FROM ... WHERE) as a COW commit:
  // only partitions holding matching rows rewrite (mtime-pinned in
  // CowTableSpec); the prune hint lets the candidate scan skip files
  // whose stats envelope cannot match. THIS row pins the semantics:
  // the surviving table equals the plain NOT-filter.
  // -------------------------------------------------------------------
  def cowDeleteWhere(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_delw")
    val c = Tables.load(spark, dir, "customer").select(
      col("c_custkey"), col("c_name"), col("c_mktsegment"),
      floor(col("c_acctbal") * 100).cast("long").as("cents"))
    CowTable.commitFull(c, root, 1L, Seq("c_mktsegment"))
    CowTable.deleteWhere(spark, root, 2L, col("cents") < 0,
      prune = Seq(graft.sinks.CowRange("cents", None, Some("0"))))
    CowTable.read(spark, root).get.orderBy("c_custkey")
  }

  val cowDeleteWhereSql: String =
    """SELECT c_custkey, c_name, c_mktsegment,
      |       CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      |FROM customer
      |WHERE NOT (CAST(floor(c_acctbal * 100) AS BIGINT) < 0)
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // JOIN VIEW OVER TWO INDEPENDENTLY-STREAMING TABLES
  // (CowStream.joinMv2Sink): both tables mutate — full + pure-I append
  // + MOR delete on the fact, full + upsert on the dim — and ONE
  // streaming query maintains A ⋈ B from the two sidecar feeds with a
  // persisted per-side frontier and time-traveled other-side states
  // (the cross-table commit order the pinned-dim variant avoids). The
  // require() proves maintained ≡ recomputed; the oracle replays the
  // final join.
  // -------------------------------------------------------------------
  def cowStreamJoin2(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.JoinMv
    import graft.sinks.SnapshotTarget
    import graft.streaming.CowStream
    val ra = scratch("cow_sj2_a")
    val rb = scratch("cow_sj2_b")
    val mv = scratch("cow_sj2_mv")
    val ck = scratch("cow_sj2_ck")
    val pa = CowTable.keyBucket(Seq("o_orderkey"), NBuckets)
    val o = Tables.load(spark, dir, "orders").select(
      col("o_custkey").as("custkey"), col("o_orderkey"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    CowTable.commitFull(
      o.where(col("o_orderkey") % 9 === 0).select(col("*"), pa.as("pa")),
      ra, 1L, Seq("pa"), keep = 10, changeLogKeys = Seq("o_orderkey"))
    CowTable.commitAppend(
      o.where(col("o_orderkey") % 9 === 1).select(col("*"), pa.as("pa")),
      ra, 2L, Seq("pa"), keep = 10, changeLogKeys = Seq("o_orderkey"))
    CowTable.deleteKeysMor(spark, ra, 3L,
      o.where(col("o_orderkey") % 9 <= 1 && col("custkey") <= 150)
        .select(col("o_orderkey"), pa.as("pa")),
      Seq("o_orderkey"), Seq("pa"), keep = 10, changeLog = true)
    val pbk = CowTable.keyBucket(Seq("custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer").select(
      col("c_custkey").as("custkey"), col("c_name"),
      col("c_mktsegment").as("seg"))
    CowTable.commitFull(c.select(col("*"), pbk.as("pbk")),
      rb, 1L, Seq("pbk"), keep = 10, changeLogKeys = Seq("custkey"))
    CowTable.upsert(spark, rb, 2L,
      c.where(col("custkey") <= 300)
        .select(col("custkey"), col("c_name"), lit("UPDATED").as("seg"),
          pbk.as("pbk")),
      Seq("custkey"), Seq("pbk"), keep = 10, changeLog = true)
    val q = CowStream.joinMv2Sink(spark, ra, rb, Seq("custkey"), mv, ck)
    try q.processAllAvailable() finally q.stop()
    val got = JoinMv.finish(SnapshotTarget.read(spark, mv).get)
      .select("custkey", "o_orderkey", "cents", "c_name", "seg")
    val want = CowTable.read(spark, ra).get.drop("pa")
      .join(CowTable.read(spark, rb).get.drop("pbk"), Seq("custkey"))
      .select("custkey", "o_orderkey", "cents", "c_name", "seg")
    // one-pass signed-count proof (sameMultiset, r19)
    require(sameMultiset(got, want),
      "two-stream join view diverged from the direct join")
    got.orderBy("o_orderkey")
  }

  val cowStreamJoin2Sql: String =
    """SELECT o_custkey AS custkey, o_orderkey,
      |       CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |       c_name,
      |       CASE WHEN c_custkey <= 300 THEN 'UPDATED'
      |            ELSE c_mktsegment END AS seg
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderkey % 9 IN (0, 1) AND o_custkey > 150
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // CO-BUCKETED CowTable JOIN through the planner: both tables
  // register the SAME Spark-parity bucket layout (pmod(hash(key), 8)),
  // so CowV2 declares a real BucketSpec and the fact-dim join + key
  // aggregation run with ZERO exchange — the require() pins the plan
  // shape (the 100 TB repeated-join path: write-time layout replaces
  // the per-query shuffle); the oracle pins the values.
  // -------------------------------------------------------------------
  def cowBucketJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{CowBucketSpec, CowV2}
    val rootC = scratch("cow_bj_c")
    val rootO = scratch("cow_bj_o")
    val spec = CowBucketSpec("pb", 8, Seq("custkey"))
    CowTable.setBucketSpec(spark, rootC, spec)
    CowTable.setBucketSpec(spark, rootO, spec)
    val pb = CowTable.bucketId(Seq("custkey"), 8)
    CowTable.commitFull(
      Tables.load(spark, dir, "customer").select(
        col("c_custkey").as("custkey"), col("c_mktsegment"))
        .withColumn("pb", pb),
      rootC, 1L, Seq("pb"))
    CowTable.commitFull(
      Tables.load(spark, dir, "orders").select(
        col("o_custkey").as("custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("pb", pb),
      rootO, 1L, Seq("pb"))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = CowV2.read(spark, rootC).get.drop("pb")
        .join(CowV2.read(spark, rootO).get.drop("pb"), Seq("custkey"))
        .groupBy(col("custkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"co-bucketed CowTable join/agg must not shuffle:\n$plan")
      joined.orderBy("custkey")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  val cowBucketJoinSql: String =
    """SELECT c_custkey AS custkey, c_mktsegment,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
      |            AS BIGINT) AS sum_cents
      |FROM customer JOIN orders ON o_custkey = c_custkey
      |GROUP BY 1, 2
      |ORDER BY custkey""".stripMargin

  // -------------------------------------------------------------------
  // PREDICATE UPDATE as a COW commit: UPDATE ... SET ... WHERE over a
  // bucket-partitioned table — only partitions holding matches
  // rewrite, assignments cast back to the column's existing type,
  // NULL-predicate rows stay untouched (SQL semantics). The oracle is
  // the CASE-projection replay of the final state.
  // -------------------------------------------------------------------
  def cowUpdateWhere(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_updw")
    val c = Tables.load(spark, dir, "customer").select(
      col("c_custkey"), col("c_name"), col("c_mktsegment"),
      floor(col("c_acctbal") * 100).cast("long").as("cents"))
    CowTable.commitFull(c, root, 1L, Seq("c_mktsegment"))
    CowTable.updateWhere(spark, root, 2L,
      col("cents") < 0,
      Map(
        "c_name" -> concat(lit("NEG:"), col("c_name")),
        "cents" -> lit(0L)),
      prune = Seq(graft.sinks.CowRange("cents", None, Some("0"))))
    CowTable.read(spark, root).get.orderBy("c_custkey")
  }

  val cowUpdateWhereSql: String =
    """SELECT c_custkey,
      |  CASE WHEN CAST(floor(c_acctbal * 100) AS BIGINT) < 0
      |       THEN 'NEG:' || c_name ELSE c_name END AS c_name,
      |  c_mktsegment,
      |  CASE WHEN CAST(floor(c_acctbal * 100) AS BIGINT) < 0
      |       THEN 0 ELSE CAST(floor(c_acctbal * 100) AS BIGINT)
      |       END AS cents
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // REGISTERED DATA SOURCE: spark.read.format("cow") resolves through
  // META-INF/services discovery to the planner-native relation — the
  // no-import read surface, with snapshot time travel via options. The
  // oracle is the filtered slice of the committed state.
  // -------------------------------------------------------------------
  def cowSourceRead(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_src")
    val o = Tables.load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    CowTable.commitFull(o, root, 1L, Seq("o_orderpriority"))
    spark.read.format("cow").load(root)
      .where(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderkey") % 2 === 0)
      .orderBy("o_orderkey")
  }

  val cowSourceReadSql: String =
    """SELECT o_orderkey, o_custkey, o_orderpriority,
      |       CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |FROM orders
      |WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // ANSI DML TEXT through Spark's own parser (CowSql): an UPDATE, a
  // DELETE and a multi-clause MERGE execute as SQL STRINGS against the
  // cow.`path` table — parsePlan's UpdateTable/DeleteFromTable/
  // MergeIntoTable ASTs interpreted onto the commit API. The UPDATE
  // routes mode=Mor (positional masks on the old images + appended
  // new images, updateWhereDv) and the DELETE mode=Auto with a 1-byte
  // threshold (forcing positional deletion vectors), so the SQL
  // surface's merge-on-read economics are oracle-gated too; the MERGE
  // then lands COW on the DV-indebted table and the final read
  // composes appended images with outstanding position masks. The
  // oracle replays the three statements as one CTE chain.
  // -------------------------------------------------------------------
  def cowSqlDml(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.CowSql
    val root = scratch("cow_sql")
    val pb = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer").select(
      col("c_custkey"), col("c_name"), col("c_mktsegment"),
      floor(col("c_acctbal") * 100).cast("long").as("cents"))
    CowTable.commitFull(c.withColumn("pb", pb), root, 1L, Seq("pb"))
    CowSql.exec(spark, 2L,
      s"UPDATE cow.`$root` SET c_name = concat('NEG:', c_name) " +
        "WHERE cents < 0", mode = CowSql.Mor)
    CowSql.exec(spark, 3L,
      s"DELETE FROM cow.`$root` WHERE c_mktsegment = 'MACHINERY'",
      mode = CowSql.Auto, morThresholdBytes = 1L)
    require(CowTable.currentManifest(spark, root).get.dvs.nonEmpty,
      "Auto below-threshold DELETE should have landed as DVs")
    c.where(col("c_custkey") <= 200)
      .select(col("c_custkey"),
        concat(lit("SRC-"), col("c_custkey")).as("c_name"))
      .unionByName(
        c.select((col("c_custkey") + 100000L).as("c_custkey"),
          concat(lit("SRC-"), col("c_custkey") + 100000L).as("c_name")))
      .select(col("c_custkey"), col("c_name"),
        lit("UPDATED").as("c_mktsegment"), lit(0L).as("cents"),
        CowTable.keyBucket(Seq("c_custkey"), NBuckets).as("pb"))
      .createOrReplaceTempView("cow_sql_dml_src")
    CowSql.exec(spark, 4L, s"""
      MERGE INTO cow.`$root` AS t USING cow_sql_dml_src AS s
      ON t.c_custkey = s.c_custkey
      WHEN MATCHED THEN UPDATE SET c_mktsegment = s.c_mktsegment
      WHEN NOT MATCHED THEN INSERT *""")
    CowTable.read(spark, root).get.drop("pb").orderBy("c_custkey")
  }

  val cowSqlDmlSql: String =
    """WITH t1 AS (
      |  SELECT c_custkey,
      |    CASE WHEN CAST(floor(c_acctbal * 100) AS BIGINT) < 0
      |         THEN 'NEG:' || c_name ELSE c_name END AS c_name,
      |    c_mktsegment,
      |    CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer),
      |t2 AS (SELECT * FROM t1 WHERE NOT (c_mktsegment = 'MACHINERY')),
      |src AS (
      |  SELECT c_custkey, 'SRC-' || CAST(c_custkey AS VARCHAR) AS c_name
      |  FROM customer WHERE c_custkey <= 200
      |  UNION ALL
      |  SELECT c_custkey + 100000,
      |         'SRC-' || CAST(c_custkey + 100000 AS VARCHAR)
      |  FROM customer)
      |SELECT c_custkey, c_name,
      |  CASE WHEN c_custkey IN (SELECT c_custkey FROM src)
      |       THEN 'UPDATED' ELSE c_mktsegment END AS c_mktsegment,
      |  cents
      |FROM t2
      |UNION ALL
      |SELECT s.c_custkey, s.c_name, 'UPDATED', 0
      |FROM src s WHERE s.c_custkey NOT IN (SELECT c_custkey FROM t2)
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // NAMED-table DML TEXT: the full statement surface over
  // cow.<ns>.<table> names — CREATE/INSERT through the analyzer, then
  // UPDATE (COW), DELETE (merge-on-read: positional DVs) and a MERGE
  // upsert as SQL STRINGS with no path literal anywhere; CowSql
  // resolves the name to the same root CowCatalog serves, so the
  // final analyzer read composes the DML's debt. The oracle replays
  // the chain relationally.
  // -------------------------------------------------------------------
  def cowNamedDml(spark: SparkSession, dir: String): DataFrame = {
    import graft.sinks.CowSql
    val (ns, nsDir) = scratchCatalog(spark, "ndml")
    Tables.load(spark, dir, "customer")
      .createOrReplaceTempView("named_dml_src")
    spark.sql(s"""CREATE TABLE $ns.cust
      (c_custkey BIGINT, c_name STRING, cents BIGINT,
       c_mktsegment STRING)
      PARTITIONED BY (c_mktsegment)""")
    spark.sql(s"""INSERT INTO $ns.cust
      SELECT c_custkey, c_name,
             CAST(floor(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM named_dml_src""")
    CowSql.exec(spark, 3L,
      s"UPDATE $ns.cust SET c_name = concat('NEG:', c_name) " +
        "WHERE cents < 0")
    CowSql.exec(spark, 4L,
      s"DELETE FROM $ns.cust WHERE c_mktsegment = 'FURNITURE'",
      mode = CowSql.Mor)
    require(CowTable.currentManifest(spark, s"$nsDir/cust")
      .get.dvs.nonEmpty,
      "named MOR DELETE should have landed as positional DVs")
    // the key-stable contract: source rows carry the key's own
    // partition value (c_mktsegment), so touched partitions are
    // exactly where the matched rows live
    spark.sql("SELECT c_custkey, concat('M-', c_custkey) AS c_name, " +
      "CAST(0 AS BIGINT) AS cents, c_mktsegment " +
      "FROM named_dml_src WHERE c_custkey <= 100")
      .createOrReplaceTempView("named_dml_merge")
    CowSql.exec(spark, 5L, s"""
      MERGE INTO $ns.cust AS t USING named_dml_merge AS s
      ON t.c_custkey = s.c_custkey
      WHEN MATCHED THEN UPDATE SET c_name = s.c_name""")
    spark.table(s"$ns.cust").orderBy("c_custkey")
  }

  val cowNamedDmlSql: String =
    """WITH t1 AS (
      |  SELECT c_custkey,
      |    CASE WHEN CAST(floor(c_acctbal * 100) AS BIGINT) < 0
      |         THEN 'NEG:' || c_name ELSE c_name END AS c_name,
      |    CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
      |    c_mktsegment
      |  FROM customer),
      |t2 AS (SELECT * FROM t1 WHERE c_mktsegment <> 'FURNITURE')
      |SELECT c_custkey,
      |  CASE WHEN c_custkey <= 100
      |       THEN 'M-' || CAST(c_custkey AS VARCHAR) ELSE c_name
      |  END AS c_name,
      |  cents, c_mktsegment
      |FROM t2
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // NAMED cow tables through Spark's OWN analyzer (CowCatalog +
  // CowCatalogRule): the reference's thin-layer refresh
  // (tl_sm_gosales_overview_01.sql — TRUNCATE + INSERT INTO
  // {project}.{env}_sm.{table} SELECT … FROM joined raw tables) as
  // plain SQL text over cow.<ns>.<table> names — CREATE TABLE
  // PARTITIONED BY, INSERT INTO (commitAppend), CTAS, and INSERT
  // OVERWRITE (commitFull) with ZERO path literals. The require()
  // pins that the named read plans through CowFileIndex (the
  // manifest IS the listing). The oracle replays the thin-layer
  // aggregate relationally.
  // -------------------------------------------------------------------
  def cowCatalogSql(spark: SparkSession, dir: String): DataFrame = {
    val (ns, nsDir) = scratchCatalog(spark, "csql")
    Tables.load(spark, dir, "orders")
      .createOrReplaceTempView("cat_orders_src")
    Tables.load(spark, dir, "customer")
      .createOrReplaceTempView("cat_customer_src")
    spark.sql(s"""CREATE TABLE $ns.orders
      (o_orderkey BIGINT, o_custkey BIGINT, cents BIGINT,
       o_orderpriority STRING)
      PARTITIONED BY (o_orderpriority)""")
    spark.sql(s"""INSERT INTO $ns.orders
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100) AS BIGINT), o_orderpriority
      FROM cat_orders_src""")
    spark.sql(s"""CREATE TABLE $ns.customer AS
      SELECT c_custkey, c_mktsegment FROM cat_customer_src""")
    spark.sql(s"""CREATE TABLE $ns.thin
      (c_mktsegment STRING, o_orderpriority STRING, n BIGINT,
       cents_sum BIGINT)
      PARTITIONED BY (o_orderpriority)""")
    // the thin-layer refresh, twice: the second run is the steady
    // state (INSERT OVERWRITE replaces the previous refresh wholesale,
    // the reference's TRUNCATE+INSERT contract)
    val refresh = s"""INSERT OVERWRITE $ns.thin
      SELECT c.c_mktsegment, o.o_orderpriority,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(o.cents) AS BIGINT) AS cents_sum
      FROM $ns.orders o
      JOIN $ns.customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_mktsegment, o.o_orderpriority"""
    spark.sql(refresh)
    spark.sql(refresh)
    val out = spark.table(s"$ns.thin")
    // the named read is the planner-integrated relation: its scan's
    // listing source must be manifest-driven — the eager CowFileIndex
    // when a filter narrowed it, the lazy round-16 index on an
    // unfiltered read (same trait, same listing authority)
    val scans = out.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location
    }
    require(scans.nonEmpty &&
      scans.forall(_.isInstanceOf[graft.sinks.CowPrunableIndex]),
      s"named cow read did not plan through a cow file index: $scans")
    out
  }

  val cowCatalogSqlSql: String =
    """SELECT c_mktsegment, o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
      |            AS BIGINT) AS cents_sum
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderpriority <> '4-NOT SPECIFIED'
      |GROUP BY c_mktsegment, o_orderpriority
      |ORDER BY c_mktsegment, o_orderpriority""".stripMargin

  // -------------------------------------------------------------------
  // MERGE-ON-READ predicate UPDATE (CowTable.updateWhereDv): the same
  // statement as cow_update_where, but the old images are masked by
  // (file, position) deletion vectors and the new images append — ZERO
  // partitions rewritten, old-row BYTES never written again. The
  // require()s pin the economics AND that every base data file carried
  // by reference; the oracle replays the CASE projection. Registered
  // as both cow_mor_update and cow_posdv_update.
  // -------------------------------------------------------------------
  def cowPosdvUpdate(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_updv")
    val o = Tables.load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    CowTable.commitFull(o, root, 1L, Seq("o_orderpriority"))
    CowTable.updateWhereDv(spark, root, 2L,
      col("cents") >= 49000000L,
      Map("o_custkey" -> lit(0L)),
      prune = Seq(graft.sinks.CowRange("cents", Some("49000000"), None)))
    val m = CowTable.currentManifest(spark, root).get
    val appended = m.files.filter(_.path.startsWith("batch-2/"))
    val carried = m.files.filter(_.path.startsWith("batch-1/"))
    // SF-aware economics (r20): changed-row ratio exact at any scale,
    // byte ratio above the parquet-overhead floor (see ByteEconFloor)
    val changedRows = appended.map(_.rows).sum + m.dvs.map(_.rows).sum
    val totalBytes = m.files.map(_.bytes).sum
    require(m.dvs.nonEmpty && appended.nonEmpty &&
      changedRows * 4 < m.files.map(_.rows).sum &&
      (totalBytes < ByteEconFloor ||
        (appended.map(_.bytes).sum + m.dvs.map(_.bytes).sum) * 4 <
          totalBytes),
      "positional-DV update did not deliver O(changed) economics")
    require(carried.size ==
      CowTable.manifest(spark, root, 1L).files.size,
      "positional-DV update rewrote a base data file")
    CowTable.read(spark, root).get.orderBy("o_orderkey")
  }

  val cowMorUpdateSql: String =
    """SELECT o_orderkey,
      |  CASE WHEN CAST(floor(o_totalprice * 100) AS BIGINT) >= 49000000
      |       THEN 0 ELSE o_custkey END AS o_custkey,
      |  o_orderpriority,
      |  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // POSITIONAL deletion vectors (CowTable.deleteWhereDv): the same
  // DELETE WHERE contract as cow_delete_where, but the commit records
  // (file, row-position) pairs instead of rewriting partitions, and
  // readers apply them as a codegen'd SCAN-STAGE mask — the require()s
  // pin BOTH halves: sidecar bytes well under the data a COW rewrite
  // would have copied, and a read plan with no join at all. The oracle
  // replays the delete relationally. Registered as both cow_dv_delete
  // and cow_posdv_delete.
  // -------------------------------------------------------------------
  def cowPosdvDelete(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_posdv")
    val o = Tables.load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    CowTable.commitFull(o, root, 1L, Seq("o_orderpriority"))
    CowTable.deleteWhereDv(spark, root, 2L, col("cents") >= 49000000L,
      prune = Seq(graft.sinks.CowRange("cents", Some("49000000"), None)))
    val m = CowTable.currentManifest(spark, root).get
    val dvBytes = m.dvs.map(_.bytes).sum
    val dataBytes = m.files.map(_.bytes).sum
    // SF-aware economics (r20): positions ratio exact at any scale,
    // byte ratio above the parquet-overhead floor (see ByteEconFloor)
    val dvRows = m.dvs.map(_.rows).sum
    val dataRows = m.files.map(_.rows).sum
    require(m.dvs.nonEmpty &&
      dvRows * 16 < dataRows &&
      (dataBytes < ByteEconFloor || dvBytes * 16 < dataBytes),
      s"positional DV delete wrote $dvBytes sidecar bytes ($dvRows " +
        s"positions) against $dataBytes data bytes ($dataRows rows) — " +
        "not the O(positions) write it promises")
    val out = CowTable.read(spark, root).get
    val plan = out.queryExecution.executedPlan.toString
    require(!plan.toLowerCase.contains("join") &&
      plan.contains("graft_dv_deleted"),
      "positional DV read must be a join-free scan-stage mask")
    out.orderBy("o_orderkey")
  }

  val cowDvDeleteSql: String =
    """SELECT o_orderkey, o_custkey, o_orderpriority,
      |       CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |FROM orders
      |WHERE NOT (CAST(floor(o_totalprice * 100) AS BIGINT) >= 49000000)
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // STREAM-maintained JOIN view (CowStream.joinMvSink): the orders cow
  // table's sidecar feed — full + pure-I append + MOR delete commits —
  // joined against a pinned customer dim via JoinMv's ±1 weights, MV
  // committed exactly-once per micro-batch. The require() proves the
  // streamed view ≡ the direct join; the oracle replays the final join.
  // -------------------------------------------------------------------
  def cowStreamJoinMv(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.JoinMv
    import graft.sinks.SnapshotTarget
    import graft.streaming.CowStream
    val root = scratch("cow_sjmv")
    val bucket = CowTable.keyBucket(Seq("custkey"), NBuckets)
    val o = Tables.load(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey").as("custkey"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    CowTable.commitFull(
      o.where(col("o_orderkey") % 3 === 0).select(col("*"), bucket.as("pb")),
      root, 1L, Seq("pb"), keep = 10, changeLogKeys = Seq("o_orderkey"))
    CowTable.commitAppend(
      o.where(col("o_orderkey") % 3 === 1).select(col("*"), bucket.as("pb")),
      root, 2L, Seq("pb"), keep = 10, changeLogKeys = Seq("o_orderkey"))
    CowTable.deleteKeysMor(spark, root, 3L,
      o.where(col("o_orderkey") % 3 === 0 && col("o_orderkey") <= 300)
        .select(col("o_orderkey"), bucket.as("pb")),
      Seq("o_orderkey"), Seq("pb"), keep = 10, changeLog = true)
    val dim = Tables.load(spark, dir, "customer").select(
      col("c_custkey").as("custkey"), col("c_mktsegment"))
    val mvPath = scratch("cow_sjmv_mv")
    val q = CowStream.joinMvSink(spark, root, dim, Seq("custkey"),
      mvPath, checkpoint = scratch("cow_sjmv_ck"))
    try q.processAllAvailable() finally q.stop()
    val mv = JoinMv.finish(SnapshotTarget.read(spark, mvPath).get)
      .drop("pb")
    val direct = CowTable.read(spark, root).get.drop("pb")
      .join(dim, Seq("custkey"))
    // one-pass signed-count proof (sameMultiset, r19)
    require(sameMultiset(mv, direct),
      "stream-maintained join view diverged from the direct join")
    mv.orderBy("custkey", "o_orderkey")
  }

  val cowStreamJoinMvSql: String =
    """WITH b AS (SELECT o_orderkey, o_custkey AS custkey,
      |        CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |      FROM orders
      |      WHERE (o_orderkey % 3 = 1)
      |         OR (o_orderkey % 3 = 0 AND o_orderkey > 300)),
      |a AS (SELECT c_custkey AS custkey, c_mktsegment FROM customer)
      |SELECT b.custkey, b.o_orderkey, b.cents, a.c_mktsegment
      |FROM b JOIN a USING (custkey)
      |ORDER BY custkey, o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // The `partitions` metadata table: per-partition file/row/byte totals
  // served from the manifest alone — zero data files opened. The oracle
  // replays the ROW counts with a plain GROUP BY over the data (files
  // and bytes are storage-layout facts the oracle cannot see; the query
  // require()s their internal consistency instead: n_files >= 1 per
  // partition and totals summing to the manifest's table count).
  // -------------------------------------------------------------------
  def cowPartitionStats(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_pstats")
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    CowTable.commitFull(c, root, 1L, Seq("c_mktsegment"))
    val stats = CowTable.partitionStats(spark, root)
    val rows = stats.collect()
    require(rows.forall(_.getAs[Long]("n_files") >= 1))
    require(rows.map(_.getAs[Long]("n_rows")).sum ==
      CowTable.countFast(spark, root).get,
      "partition totals must sum to the manifest table count")
    stats.select(col("c_mktsegment"), col("n_rows"))
      .orderBy("c_mktsegment")
  }

  val cowPartitionStatsSql: String =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows
      |FROM customer GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // -------------------------------------------------------------------
  // NAMED metadata tables (round-17; Iceberg's `t$files`/`t$partitions`
  // shape as nested idents): `<cat>.g.t.partitions` and
  // `<cat>.g.t.files` are first-class RELATIONS — this row queries
  // both through plain SQL, joins them, and emits per-partition row
  // totals from EACH surface so the two grains must agree with the
  // data (the oracle replays both with one GROUP BY). The DESCRIBE
  // FILES statement (now a lazy relation, not a collecting command)
  // is required en route to serve the same listing as the named table.
  // -------------------------------------------------------------------
  def cowMetaTables(spark: SparkSession, dir: String): DataFrame = {
    val (ns, _) = scratchCatalog(spark, "cmt")
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .createOrReplaceTempView("cmt_src")
    spark.sql(s"CREATE TABLE $ns.t (c_custkey BIGINT, c_name STRING, " +
      "c_mktsegment STRING) PARTITIONED BY (c_mktsegment)")
    spark.sql(s"INSERT INTO $ns.t SELECT * FROM cmt_src")
    val viaStmt = spark.sql(s"DESCRIBE FILES $ns.t")
      .agg(sum("n_rows")).head().getLong(0)
    val viaTable = spark.sql(
      s"SELECT sum(n_rows) FROM $ns.t.files").head().getLong(0)
    require(viaStmt == viaTable,
      s"DESCRIBE FILES ($viaStmt) and $ns.t.files ($viaTable) disagree")
    spark.sql(
      s"""SELECT p.c_mktsegment, p.n_rows, f.files_rows
        |FROM $ns.t.partitions p
        |JOIN (SELECT substr(partition, 14) AS mk,
        |             CAST(sum(n_rows) AS BIGINT) AS files_rows
        |      FROM $ns.t.files WHERE kind = 'data'
        |      GROUP BY substr(partition, 14)) f
        |ON p.c_mktsegment = f.mk
        |ORDER BY p.c_mktsegment""".stripMargin)
  }

  val cowMetaTablesSql: String =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
      | CAST(count(*) AS BIGINT) AS files_rows
      |FROM customer GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // -------------------------------------------------------------------
  // The `history` metadata table STRICT-pinned (round-18; it was
  // spec-only at the driver gate): a known commit sequence — CREATE,
  // then three modulus slices of customer appended one commit each —
  // then `cow…t.history` must replay it exactly: per-snapshot
  // CUMULATIVE row totals AND data-file counts. The file counts tie to
  // data the oracle can see because the partitioned batch writer emits
  // ONE file per touched partition per commit, so files accumulate as
  // count(DISTINCT segment) per slice — an oracle-computable quantity,
  // not a storage accident. Drives both history paths (memo-warm in
  // this single-JVM battery; the distributed path is MetaTablesSpec's
  // cold leg).
  // -------------------------------------------------------------------
  def cowHistoryMeta(spark: SparkSession, dir: String): DataFrame = {
    val (ns, _) = scratchCatalog(spark, "chm")
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .createOrReplaceTempView("chm_src")
    spark.sql(s"CREATE TABLE $ns.t (c_custkey BIGINT, " +
      "c_mktsegment STRING) PARTITIONED BY (c_mktsegment)")
    (0 to 2).foreach(m => spark.sql(
      s"INSERT INTO $ns.t SELECT * FROM chm_src WHERE c_custkey % 3 = $m"))
    spark.sql(
      s"""SELECT snapshot_id, n_rows, data_files
        |FROM $ns.t.history ORDER BY snapshot_id""".stripMargin)
  }

  // -------------------------------------------------------------------
  // The `partitions` metadata table UNDER MOR DEBT (round-18): a DV
  // delete leaves the manifest's per-partition row counts overstated;
  // the table now recomputes the debt partitions' rows exactly from
  // the subtracted read instead of refusing (debt is the steady state
  // under continuous ingest). The oracle replays the delete with a
  // plain filtered GROUP BY — exact equality, not bounds.
  // -------------------------------------------------------------------
  def cowPartitionsDebt(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_pdebt")
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    CowTable.commitFull(c, root, 1L, Seq("c_mktsegment"))
    require(CowTable.deleteWhereDv(spark, root, 2L,
      col("c_custkey") % 7 === 0, keep = 5))
    CowTable.partitionStats(spark, root)
      .select(col("c_mktsegment"), col("n_rows"))
      .orderBy("c_mktsegment")
  }

  val cowPartitionsDebtSql: String =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows
      |FROM customer WHERE c_custkey % 7 <> 0
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  val cowHistoryMetaSql: String =
    """WITH s AS (
      |  SELECT CAST(1 AS BIGINT) AS snapshot_id,
      |         CAST(0 AS BIGINT) AS rows_added,
      |         CAST(0 AS BIGINT) AS files_added
      |  UNION ALL
      |  SELECT CAST(2 + m AS BIGINT),
      |         CAST(count(*) AS BIGINT),
      |         CAST(count(DISTINCT c_mktsegment) AS BIGINT)
      |  FROM customer, (SELECT 0 AS m UNION ALL SELECT 1
      |                  UNION ALL SELECT 2) mods
      |  WHERE c_custkey % 3 = m GROUP BY m)
      |SELECT snapshot_id,
      |       CAST(SUM(rows_added) OVER (ORDER BY snapshot_id)
      |            AS BIGINT) AS n_rows,
      |       CAST(SUM(files_added) OVER (ORDER BY snapshot_id)
      |            AS BIGINT) AS data_files
      |FROM s ORDER BY snapshot_id""".stripMargin

  // -------------------------------------------------------------------
  // Multi-clause MERGE through the partition-granular commit: the same
  // clause set as merge_multi's matched/not-matched half, but executed
  // as CowTable.mergeInto — only the source's bucket partitions are
  // read and rewritten (rewrite-avoidance pinned in CowMergeIntoSpec;
  // THIS row pins that the carried + merged union equals the plain
  // full-outer CASE oracle).
  // -------------------------------------------------------------------
  def cowMergeMulti(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators._
    val root = scratch("cow_mergeinto")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer").select(
      col("c_custkey"), col("c_name"), col("c_mktsegment"),
      floor(col("c_acctbal") * 100).cast("long").as("cents"))
    CowTable.commitFull(
      c.where(col("c_custkey") <= 1000).select(col("*"), bucket.as("pb")),
      root, 1L, Seq("pb"))
    val source = c.where(col("c_custkey").between(501, 1500))
      .select(col("c_custkey"), lower(col("c_name")).as("c_name"),
        col("c_mktsegment"), (col("cents") + 5000L).as("cents"),
        bucket.as("pb"))
    CowTable.mergeInto(spark, root, 2L, source, Seq("c_custkey"),
      Seq("pb"), Seq(
        MatchedDelete(condition = Some("s.cents < 0")),
        MatchedUpdate(
          Map("c_name" -> "s.c_name", "cents" -> "t.cents + s.cents"),
          condition = Some("s.c_mktsegment = t.c_mktsegment")),
        MatchedUpdate(Map("cents" -> "s.cents")),
        NotMatchedInsert(condition = Some("s.cents >= 0"))))
    CowTable.read(spark, root).get.drop("pb").orderBy("c_custkey")
  }

  val cowMergeMultiSql: String =
    """WITH tgt AS (SELECT c_custkey, c_name, c_mktsegment,
      |                    CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      |             FROM customer WHERE c_custkey <= 1000),
      |src AS (SELECT c_custkey, lower(c_name) AS c_name, c_mktsegment,
      |               CAST(floor(c_acctbal * 100) AS BIGINT) + 5000 AS cents
      |        FROM customer WHERE c_custkey BETWEEN 501 AND 1500),
      |j AS (SELECT t.c_custkey AS tk, t.c_name AS tn, t.c_mktsegment AS tg,
      |             t.cents AS tc, s.c_custkey AS sk, s.c_name AS sn,
      |             s.c_mktsegment AS sg, s.cents AS sc
      |      FROM tgt t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey)
      |SELECT coalesce(tk, sk) AS c_custkey,
      |  CASE WHEN tk IS NOT NULL AND sk IS NOT NULL THEN
      |         CASE WHEN sg = tg THEN sn ELSE tn END
      |       WHEN tk IS NULL THEN sn ELSE tn END AS c_name,
      |  CASE WHEN tk IS NOT NULL AND sk IS NOT NULL THEN tg
      |       WHEN tk IS NULL THEN sg ELSE tg END AS c_mktsegment,
      |  CASE WHEN tk IS NOT NULL AND sk IS NOT NULL THEN
      |         CASE WHEN sg = tg THEN tc + sc ELSE sc END
      |       WHEN tk IS NULL THEN sc ELSE tc END AS cents
      |FROM j
      |WHERE CASE WHEN sk IS NOT NULL THEN sc >= 0 ELSE TRUE END
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // Planner-integrated read (CowV2/CowFileIndex): the whole table is
  // ONE DataFrame whose scan consults the manifest at planning time —
  // the range predicate below reaches the scan as an ordinary Catalyst
  // filter and still prunes files through min/max envelopes, and the
  // outstanding deletion vectors are masked. Pruning itself is
  // byte/metric-pinned in CowV2Spec; THIS row proves the planner path
  // returns exactly the plain filtered table.
  // -------------------------------------------------------------------
  def cowV2Read(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_v2")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
    CowTable.commitFull(
      c.select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        bucket.as("pb")),
      root, 1L, Seq("pb"))
    CowTable.deleteKeysMor(spark, root, 2L,
      c.where(col("c_custkey").between(101, 200))
        .select(col("c_custkey"), bucket.as("pb")),
      Seq("c_custkey"), Seq("pb"))
    graft.sinks.CowV2.read(spark, root).get
      .where(col("c_custkey") <= 600)
      .drop("pb").orderBy("c_custkey")
  }

  val cowV2ReadSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE c_custkey <= 600 AND c_custkey NOT BETWEEN 101 AND 200
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // Write-audit-publish: a bad batch stages, audits red, and is
  // discarded; a good batch stages, audits green, and publishes as one
  // metadata write. The staged-but-unpublished state is require()d
  // invisible in the middle — the oracle sees only base + good batch.
  // -------------------------------------------------------------------
  def cowWap(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("cow_wap")
    val bucket = CowTable.keyBucket(Seq("c_custkey"), NBuckets)
    val c = Tables.load(spark, dir, "customer")
    CowTable.commitFull(
      c.where(col("c_custkey") <= 1000)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          bucket.as("pb")),
      root, 1L, Seq("pb"))
    // bad batch: names nulled out — the audit gate catches it. Keys
    // drawn from 1-100, present at EVERY fixture SF (r20, VERDICT #6:
    // 1001-1100 was empty at sf0.001 and the staged-invisibility
    // require hardcoded its 100-row size); the batch is discarded, so
    // its key range never reaches the declared result at any SF.
    val bad = c.where(col("c_custkey").between(1, 100))
      .select(col("c_custkey"), lit(null).cast("string").as("c_name"),
        col("c_mktsegment"), bucket.as("pb"))
    val nBad = bad.count()
    CowTable.stageAppend(bad, root, 2L, Seq("pb"))
    require(CowTable.read(spark, root).get.count() ==
      CowTable.readStaged(spark, root, 2L).count() - nBad,
      "staged batch must be invisible to the current snapshot")
    val badRows = CowTable.readStaged(spark, root, 2L)
      .where(col("c_name").isNull).count()
    require(badRows == nBad, "audit must see the staged nulls")
    CowTable.discardStaged(spark, root, 2L)
    val good = c.where(col("c_custkey").between(1001, 1100))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        bucket.as("pb"))
    // empty at the sf0.001 smoke SF (max key 149): staging/publishing
    // an empty batch adds nothing to the declared result — skip it
    if (!good.isEmpty) {
      CowTable.stageAppend(good, root, 2L, Seq("pb"))
      require(CowTable.readStaged(spark, root, 2L)
        .where(col("c_name").isNull).isEmpty, "audit must pass")
      CowTable.publishStaged(spark, root, 2L)
    }
    CowTable.read(spark, root).get.drop("pb").orderBy("c_custkey")
  }

  val cowWapSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer WHERE c_custkey <= 1100
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // METADATA-ONLY schema evolution through textual ALTER TABLE on a
  // named cow table (Delta's ALTER semantics; the reference can only
  // evolve by overwriteSchema FULL REWRITES — jobs/raw/dl_rw_job.py's
  // overwrite mode — O(table) where this is O(manifest)): ADD COLUMNS
  // + two type widenings land as three manifest commits that carry
  // every data file untouched (require()d by path identity), carried
  // rows read the added column as NULL under the widened types, the
  // next INSERT lands under the new shape, and VERSION AS OF the
  // pre-ALTER id still serves the OLD schema. The oracle replays the
  // two-generation load relationally.
  // -------------------------------------------------------------------
  def cowAlterEvolve(spark: SparkSession, dir: String): DataFrame = {
    val (ns, nsDir) = scratchCatalog(spark, "aevo")
    Tables.load(spark, dir, "customer")
      .createOrReplaceTempView("alter_cust_src")
    Tables.load(spark, dir, "nation")
      .createOrReplaceTempView("alter_nation_src")
    spark.sql(s"""CREATE TABLE $ns.cust
      (c_custkey INT, c_mktsegment STRING, cents INT)
      PARTITIONED BY (c_mktsegment)""")
    spark.sql(s"""INSERT INTO $ns.cust
      SELECT CAST(c_custkey AS INT), c_mktsegment,
             CAST(floor(c_acctbal * 100) AS INT)
      FROM alter_cust_src WHERE c_custkey <= 750""")
    val root = s"$nsDir/cust"
    val before = CowTable.currentManifest(spark, root).get
    spark.sql(s"ALTER TABLE $ns.cust ADD COLUMNS (nation_name STRING)")
    spark.sql(s"ALTER TABLE $ns.cust ALTER COLUMN c_custkey TYPE BIGINT")
    spark.sql(s"ALTER TABLE $ns.cust ALTER COLUMN cents TYPE BIGINT")
    val after = CowTable.currentManifest(spark, root).get
    require(after.id == before.id + 3 &&
      after.files.map(_.path).toSet == before.files.map(_.path).toSet,
      "ALTER must be metadata-only: zero data files rewritten")
    // the pre-ALTER snapshot still serves the OLD schema (an ALTER
    // must not shrink history — time travel across it stays exact)
    val old = spark.sql(
      s"SELECT * FROM $ns.cust VERSION AS OF ${before.id}")
    require(old.schema("c_custkey").dataType ==
      org.apache.spark.sql.types.IntegerType &&
      !old.schema.fieldNames.contains("nation_name"),
      "VERSION AS OF pre-ALTER must serve the old schema")
    // generation 2 lands under the evolved shape, new column populated
    spark.sql(s"""INSERT INTO $ns.cust
      SELECT c_custkey, c_mktsegment,
             CAST(floor(c_acctbal * 100) AS BIGINT), n_name
      FROM alter_cust_src JOIN alter_nation_src
        ON c_nationkey = n_nationkey
      WHERE c_custkey > 750""")
    spark.table(s"$ns.cust")
  }

  val cowAlterEvolveSql: String =
    """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment,
      |       CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
      |       CASE WHEN c_custkey <= 750 THEN NULL ELSE n_name
      |       END AS nation_name
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // The ENTIRE statement surface through ONE entry point — spark.sql —
  // with zero graft API calls (graft.plans.CowSqlParser, injected by
  // GraftExtensions): CREATE/INSERT through the analyzer, ADD
  // CONSTRAINT (validated at DDL time, enforced by every commit
  // below), UPDATE as a COW commit, DELETE as positional DVs via the
  // session conf
  // (spark.graft.cow.dml.mode=mor), MERGE, then OPTIMIZE ZORDER +
  // VACUUM — commit ids auto-allocated head+1 per statement, exactly
  // how a SQL-file user (the reference's utilities.py executor style)
  // drives the table format. The oracle replays the chain
  // relationally; the require()s pin DV economics and the vacuum.
  // -------------------------------------------------------------------
  def cowParserDml(spark: SparkSession, dir: String): DataFrame = {
    val (ns, nsDir) = scratchCatalog(spark, "pdml")
    Tables.load(spark, dir, "orders")
      .createOrReplaceTempView("parser_dml_src")
    spark.sql(s"""CREATE TABLE $ns.ord
      (o_orderkey BIGINT, o_custkey BIGINT, cents BIGINT,
       o_orderpriority STRING)
      PARTITIONED BY (o_orderpriority)""")
    spark.sql(s"""INSERT INTO $ns.ord
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100) AS BIGINT), o_orderpriority
      FROM parser_dml_src""")
    // textual constraint DDL — registered against current data (one
    // validation scan) and enforced by EVERY commit below
    spark.sql(s"ALTER TABLE $ns.ord " +
      "ADD CONSTRAINT key_pos CHECK (o_orderkey >= 0)")
    spark.sql(s"UPDATE $ns.ord SET o_custkey = 0 " +
      "WHERE cents >= 40000000")
    val root = s"$nsDir/ord"
    val preDelete = CowTable.currentManifest(spark, root).get
    spark.conf.set("spark.graft.cow.dml.mode", "mor")
    try spark.sql(
      s"DELETE FROM $ns.ord WHERE o_orderpriority = '1-URGENT'")
    finally spark.conf.unset("spark.graft.cow.dml.mode")
    val m = CowTable.currentManifest(spark, root).get
    require(m.dvs.nonEmpty && m.files.map(_.path).toSet ==
      preDelete.files.map(_.path).toSet,
      "conf-routed MOR DELETE must mask positionally, rewrite nothing")
    spark.sql("""SELECT o_orderkey,
        CAST(floor(o_totalprice * 100) AS BIGINT) + 1 AS cents,
        o_orderpriority
      FROM parser_dml_src WHERE o_orderkey <= 1000""")
      .createOrReplaceTempView("parser_dml_merge")
    spark.sql(s"""MERGE INTO $ns.ord AS t USING parser_dml_merge AS s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN UPDATE SET cents = s.cents""")
    spark.sql(s"OPTIMIZE $ns.ord ZORDER BY (o_orderkey)")
    spark.sql(s"VACUUM $ns.ord RETAIN 2 SNAPSHOTS")
    require(CowTable.committedIds(spark, root).size == 2,
      "VACUUM RETAIN 2 SNAPSHOTS must leave exactly two")
    require(CowTable.currentManifest(spark, root).get.dvs.isEmpty,
      "OPTIMIZE must retire the outstanding positional-DV debt")
    spark.table(s"$ns.ord")
  }

  val cowParserDmlSql: String =
    """WITH t1 AS (
      |  SELECT o_orderkey,
      |    CASE WHEN CAST(floor(o_totalprice * 100) AS BIGINT) >= 40000000
      |         THEN 0 ELSE o_custkey END AS o_custkey,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |    o_orderpriority
      |  FROM orders),
      |t2 AS (SELECT * FROM t1 WHERE o_orderpriority <> '1-URGENT')
      |SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey <= 1000 THEN cents + 1 ELSE cents
      |  END AS cents,
      |  o_orderpriority
      |FROM t2
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------------------
  // SUBQUERIES in DML conditions over NAMED cow tables (round-13
  // verdict #2): IN-subquery DELETE, correlated-EXISTS UPDATE, and the
  // NOT IN null-semantics pin — all through spark.sql on catalog
  // names. The analyzed condition (subquery plans included) travels on
  // the command and binds to each scan frame; Spark's optimizer plans
  // the predicate as semi/anti/existence joins feeding the same
  // partition-granular commit primitives as every other DML
  // (plans/CowBoundDml.scala). The oracle replays the chain
  // relationally in DuckDB.
  // -------------------------------------------------------------------
  def cowDmlSubquery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val (ns, _) = scratchCatalog(spark, "subq")
    Tables.load(spark, dir, "orders")
      .createOrReplaceTempView("subq_orders_src")
    Tables.load(spark, dir, "customer")
      .createOrReplaceTempView("subq_cust_src")
    spark.sql(s"""CREATE TABLE $ns.ord
      (o_orderkey BIGINT, o_custkey BIGINT, cents BIGINT,
       o_orderpriority STRING)
      PARTITIONED BY (o_orderpriority)""")
    spark.sql(s"""INSERT INTO $ns.ord
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100) AS BIGINT), o_orderpriority
      FROM subq_orders_src""")
    // IN-subquery DELETE through the analyzer path
    spark.sql(s"""DELETE FROM $ns.ord WHERE o_custkey IN
      (SELECT c_custkey FROM subq_cust_src
       WHERE c_mktsegment = 'BUILDING')""")
    // correlated EXISTS UPDATE
    spark.sql(s"""UPDATE $ns.ord SET cents = 0 WHERE EXISTS
      (SELECT 1 FROM subq_cust_src c
       WHERE c.c_custkey = o_custkey AND c.c_acctbal < 0)""")
    // NOT IN against a NULL-bearing subquery matches NOTHING (SQL
    // three-valued logic — Spark's null-aware anti join): this DELETE
    // must remove zero rows, pinned by the oracle not modeling it
    spark.sql(s"""DELETE FROM $ns.ord WHERE o_orderkey NOT IN
      (SELECT CASE WHEN c_custkey > 1 THEN NULL ELSE c_custkey END
       FROM subq_cust_src)""")
    // round-15: SET-value subqueries — a CORRELATED scalar lookup in
    // the assignment itself (carried analyzed, bound per scan frame)
    spark.sql(s"""UPDATE $ns.ord SET cents = cents +
      (SELECT CAST(count(*) AS BIGINT) FROM subq_cust_src c
       WHERE c.c_custkey = o_custkey AND c.c_acctbal > 9000)
      WHERE o_orderkey <= 2000""")
    // round-15: MERGE WHEN-clause guard carrying an IN-subquery — the
    // guard gates which matched pairs update (bound boolean column
    // over the merge's own join, plans/CowBoundMergeCommand)
    // the source carries the key's TRUE partition value (the engine's
    // key-stable partitioning contract: touched partitions derive from
    // the source's partition column)
    spark.sql("""SELECT o_orderkey, CAST(11 AS BIGINT) AS new_cents,
        o_orderpriority
      FROM subq_orders_src WHERE o_orderkey <= 3000""")
      .createOrReplaceTempView("subq_merge_src")
    spark.sql(s"""MERGE INTO $ns.ord AS t USING subq_merge_src AS s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND t.o_custkey IN
        (SELECT c_custkey FROM subq_cust_src
         WHERE c_mktsegment = 'MACHINERY')
        THEN UPDATE SET cents = s.new_cents""")
    // round-16: MERGE SET-VALUE scalar subquery — the assignment
    // itself computes through a correlated lookup (carried analyzed,
    // bound against the merge's flat join frame, evaluated on the
    // MATCHED row class only — plans/CowBoundDml.scala)
    spark.sql(s"""MERGE INTO $ns.ord AS t USING subq_merge_src AS s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND t.o_orderkey <= 1500
        THEN UPDATE SET cents = t.cents +
          (SELECT CAST(count(*) AS BIGINT) FROM subq_cust_src c
           WHERE c.c_custkey = t.o_custkey AND c.c_acctbal > 5000)""")
    spark.table(s"$ns.ord")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
      .orderBy("o_orderpriority")
  }

  val cowDmlSubquerySql: String =
    """WITH t1 AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |    o_orderpriority
      |  FROM orders),
      |t2 AS (
      |  SELECT * FROM t1 WHERE o_custkey NOT IN
      |    (SELECT c_custkey FROM customer
      |     WHERE c_mktsegment = 'BUILDING')),
      |t3 AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN EXISTS (SELECT 1 FROM customer c
      |                      WHERE c.c_custkey = t2.o_custkey
      |                        AND c.c_acctbal < 0)
      |         THEN 0 ELSE cents END AS cents,
      |    o_orderpriority
      |  FROM t2),
      |t4 AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey <= 2000
      |         THEN cents + (SELECT count(*) FROM customer c
      |                       WHERE c.c_custkey = t3.o_custkey
      |                         AND c.c_acctbal > 9000)
      |         ELSE cents END AS cents,
      |    o_orderpriority
      |  FROM t3),
      |t5 AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey <= 3000
      |           AND o_custkey IN (SELECT c_custkey FROM customer
      |                             WHERE c_mktsegment = 'MACHINERY')
      |         THEN 11 ELSE cents END AS cents,
      |    o_orderpriority
      |  FROM t4),
      |t6 AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey <= 1500
      |         THEN cents + (SELECT count(*) FROM customer c
      |                       WHERE c.c_custkey = t5.o_custkey
      |                         AND c.c_acctbal > 5000)
      |         ELSE cents END AS cents,
      |    o_orderpriority
      |  FROM t5)
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS total_cents
      |FROM t6 GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // MERGE WITH SCHEMA EVOLUTION (round-13 verdict #5): one statement
  // that lands the source's extra column as a METADATA-ONLY ALTER
  // (Spark's ResolveMergeIntoSchemaEvolution through
  // CowCatalog.alterTable, admitted by AUTOMATIC_SCHEMA_EVOLUTION)
  // and then merges against the evolved schema. Carried rows read the
  // new column as NULL; the require pins that the evolution snapshot
  // rewrote zero data files. The oracle replays the evolved merge
  // relationally.
  // -------------------------------------------------------------------
  def cowMergeEvolve(spark: SparkSession, dir: String): DataFrame = {
    val (ns, nsDir) = scratchCatalog(spark, "mev")
    Tables.load(spark, dir, "customer")
      .createOrReplaceTempView("mev_cust_src")
    spark.sql(s"""CREATE TABLE $ns.cust
      (c_custkey BIGINT, c_name STRING, c_mktsegment STRING)
      PARTITIONED BY (c_mktsegment)""")
    spark.sql(s"""INSERT INTO $ns.cust
      SELECT c_custkey, c_name, c_mktsegment FROM mev_cust_src""")
    val root = s"$nsDir/cust"
    val before = CowTable.currentManifest(spark, root).get
      .files.map(_.path).toSet
    // the source carries a column the table lacks (integer cents)
    spark.sql("""SELECT c_custkey, concat('E-', c_custkey) AS c_name,
        c_mktsegment, CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM mev_cust_src WHERE c_custkey % 10 = 0""")
      .createOrReplaceTempView("mev_merge_src")
    // explicit assignments (SET * would expand to the partition
    // column, which is immutable per row by the engine's rule);
    // `cents` does not exist on the target yet — the WITH SCHEMA
    // EVOLUTION clause is what admits the assignment
    spark.sql(s"""
      MERGE WITH SCHEMA EVOLUTION INTO $ns.cust AS t
      USING mev_merge_src AS s ON t.c_custkey = s.c_custkey
      WHEN MATCHED THEN UPDATE SET c_name = s.c_name,
        cents = s.cents""")
    val ids = CowTable.committedIds(spark, root)
    require(CowTable.manifest(spark, root, ids(ids.size - 2))
        .files.map(_.path).toSet == before,
      "the evolution snapshot must be metadata-only (same data files)")
    spark.table(s"$ns.cust").orderBy("c_custkey")
  }

  val cowMergeEvolveSql: String =
    """SELECT c_custkey,
      |  CASE WHEN c_custkey % 10 = 0
      |       THEN 'E-' || CAST(c_custkey AS VARCHAR) ELSE c_name
      |  END AS c_name,
      |  c_mktsegment,
      |  CASE WHEN c_custkey % 10 = 0
      |       THEN CAST(floor(c_acctbal * 100) AS BIGINT)
      |       ELSE NULL END AS cents
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // SHALLOW CLONE (round-13 verdict #6): a dev/test fork of a table as
  // a manifest-reference copy — the clone's snapshot lists the
  // SOURCE's files by absolute reference (zero data copied; the
  // require pins no batch dir exists under the clone), a vacuum fence
  // pins the cloned snapshot at the source, and writes diverge: the
  // clone takes an UPDATE + DELETE the source never sees. The oracle
  // replays the diverged clone relationally.
  // -------------------------------------------------------------------
  def cowShallowClone(spark: SparkSession, dir: String): DataFrame = {
    val (ns, nsDir) = scratchCatalog(spark, "cln")
    Tables.load(spark, dir, "customer")
      .createOrReplaceTempView("cln_cust_src")
    spark.sql(s"""CREATE TABLE $ns.cust
      (c_custkey BIGINT, c_name STRING, cents BIGINT,
       c_mktsegment STRING)
      PARTITIONED BY (c_mktsegment)""")
    spark.sql(s"""INSERT INTO $ns.cust
      SELECT c_custkey, c_name,
             CAST(floor(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM cln_cust_src""")
    spark.sql(s"CREATE TABLE $ns.fork SHALLOW CLONE $ns.cust")
    val forkRoot = s"$nsDir/fork"
    val fs = new org.apache.hadoop.fs.Path(forkRoot).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    require(!fs.listStatus(new org.apache.hadoop.fs.Path(forkRoot))
        .exists(s => s.isDirectory &&
          s.getPath.getName.startsWith("batch-")),
      "a shallow clone must copy zero data files")
    // the fork diverges; the source must not move
    val srcHead = CowTable.currentManifest(spark, s"$nsDir/cust").get.id
    spark.sql(s"UPDATE $ns.fork SET c_name = concat('F-', c_name) " +
      "WHERE cents < 0")
    spark.sql(s"DELETE FROM $ns.fork WHERE c_mktsegment = 'MACHINERY'")
    require(CowTable.currentManifest(spark, s"$nsDir/cust").get.id
        == srcHead,
      "clone writes must never touch the source")
    spark.table(s"$ns.fork").orderBy("c_custkey")
  }

  val cowShallowCloneSql: String =
    """SELECT c_custkey,
      |  CASE WHEN CAST(floor(c_acctbal * 100) AS BIGINT) < 0
      |       THEN 'F-' || c_name ELSE c_name END AS c_name,
      |  CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
      |  c_mktsegment
      |FROM customer
      |WHERE c_mktsegment <> 'MACHINERY'
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // EVENT-TIME streaming aggregation over the NAMED table stream
  // (round-13 verdict #7): readStream.table(cow.ns.ev) → watermark →
  // tumbling-window agg (StreamOps.windowedCounts) →
  // writeStream.format("cow") — the full named source→sink loop with
  // real event-time semantics. Two waves: the snapshot (events before
  // Jan 15) finalizes its windows once the flush batch advances the
  // watermark; the second commit carries LATE duplicates (ts < Jan 10,
  // far behind the watermark — DROPPED, which the oracle encodes by
  // not modeling them) plus the fresh tail. The final table holds
  // exactly the windows whose end cleared the terminal watermark
  // (max ts − lateness) — replayed relationally in DuckDB.
  // -------------------------------------------------------------------
  def cowStreamEventAgg(spark: SparkSession, dir: String): DataFrame = {
    val (ns, nsDir) = scratchCatalog(spark, "evagg")
    Tables.load(spark, dir, "events")
      .createOrReplaceTempView("evagg_src")
    spark.sql(s"""CREATE TABLE $ns.ev
      (event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE)""")
    spark.sql(s"""INSERT INTO $ns.ev
      SELECT event_id, ts, event_type, value FROM evagg_src
      WHERE ts < TIMESTAMP '2024-01-15 00:00:00'""")
    val q = graft.streaming.StreamOps.windowedCounts(
        spark.readStream.table(s"$ns.ev"),
        lateness = "10 minutes", window_ = "1 hour")
      .select(col("win_start").cast("long").as("win_start_s"),
        col("win_end").cast("long").as("win_end_s"),
        col("event_type"), col("n"), col("sum_value_u"))
      .writeStream.format("cow")
      .option("checkpointLocation", scratch("evagg_ck"))
      .option("table", s"$ns.agg")
      .start()
    try {
      q.processAllAvailable()
      // wave 2: LATE duplicates (dropped by the watermark) + the tail
      spark.sql(s"""INSERT INTO $ns.ev
        SELECT event_id, ts, event_type, value FROM evagg_src
        WHERE ts < TIMESTAMP '2024-01-10 00:00:00'
           OR ts >= TIMESTAMP '2024-01-15 00:00:00'""")
      q.processAllAvailable()
    } finally q.stop()
    CowTable.read(spark, s"$nsDir/agg").get
      .orderBy("win_start_s", "event_type")
  }

  val cowStreamEventAggSql: String =
    """WITH wm AS (
      |  SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
      |agg AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
      |           AS win_start_s,
      |         CAST(epoch(date_trunc('hour', ts) + INTERVAL 1 HOUR)
      |           AS BIGINT) AS win_end_s,
      |         date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
      |         event_type,
      |         CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT)
      |           AS sum_value_u
      |  FROM events GROUP BY 1, 2, 3, 4)
      |SELECT win_start_s, win_end_s, event_type, n, sum_value_u
      |FROM agg, wm WHERE agg.win_end <= wm.w
      |ORDER BY win_start_s, event_type""".stripMargin

  // -------------------------------------------------------------------
  // COLUMN MAPPING (round-13 verdict #3): ALTER TABLE RENAME COLUMN /
  // DROP COLUMN as METADATA-ONLY commits — the requires pin that the
  // rename and the drop rewrote ZERO data files (carried files store
  // each column's immutable physical name; readers translate at the
  // file boundary). The chain: rename a value column, rename the
  // PARTITION column, drop a column, re-add the same name (fresh
  // physical — old bytes must NOT resurrect, so it reads NULL), then
  // UPDATE through the new name. The oracle replays relationally.
  // -------------------------------------------------------------------
  def cowRenameDrop(spark: SparkSession, dir: String): DataFrame = {
    val (ns, nsDir) = scratchCatalog(spark, "rmap")
    Tables.load(spark, dir, "customer")
      .createOrReplaceTempView("rmap_cust_src")
    spark.sql(s"""CREATE TABLE $ns.cust
      (c_custkey BIGINT, c_name STRING, acct_cents BIGINT,
       c_mktsegment STRING)
      PARTITIONED BY (c_mktsegment)""")
    spark.sql(s"""INSERT INTO $ns.cust
      SELECT c_custkey, c_name,
             CAST(floor(c_acctbal * 100) AS BIGINT), c_mktsegment
      FROM rmap_cust_src""")
    val root = s"$nsDir/cust"
    val prePaths = CowTable.currentManifest(spark, root).get
      .files.map(_.path).toSet
    spark.sql(s"ALTER TABLE $ns.cust RENAME COLUMN acct_cents TO cents")
    spark.sql(s"ALTER TABLE $ns.cust RENAME COLUMN c_mktsegment TO seg")
    spark.sql(s"ALTER TABLE $ns.cust DROP COLUMN c_name")
    require(CowTable.currentManifest(spark, root).get
        .files.map(_.path).toSet == prePaths,
      "renames and drops must rewrite zero data files")
    // re-added name allocates a FRESH physical: carried rows read NULL
    spark.sql(s"ALTER TABLE $ns.cust ADD COLUMNS (c_name STRING)")
    require(CowTable.currentManifest(spark, root).get
        .colMap.get("c_name").exists(_ != "c_name"),
      "a re-added dropped column must map to a fresh physical name")
    // metadata-only REORDER (reads resolve by name, so order is a
    // manifest property): the driver's gate sorts columns by name, so
    // the oracle is order-blind — the leg exercises the path in the
    // battery and the DML after it proves the reordered schema serves
    spark.sql(s"ALTER TABLE $ns.cust ALTER COLUMN cents AFTER c_custkey")
    spark.sql(s"UPDATE $ns.cust SET c_name = concat('K-', c_custkey) " +
      "WHERE cents < 0")
    require(spark.table(s"$ns.cust").columns.take(2).toSeq ==
      Seq("c_custkey", "cents"), "reorder must reflect in the schema")
    spark.table(s"$ns.cust").orderBy("c_custkey")
  }

  val cowRenameDropSql: String =
    """SELECT c_custkey,
      |  CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
      |  c_mktsegment AS seg,
      |  CASE WHEN CAST(floor(c_acctbal * 100) AS BIGINT) < 0
      |       THEN 'K-' || CAST(c_custkey AS VARCHAR)
      |       ELSE NULL END AS c_name
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------------
  // DELTA-MANIFEST LIFECYCLE end-to-end (round 15): an append chain
  // whose commits each write O(Δ) manifest rows against a base
  // reference, a partition-rewrite UPDATE (a delta with removed
  // partition keys), then an explicit VACUUM whose checkpoint
  // compaction collapses the chain — and the post-collapse state must
  // still equal the relational replay. The require()s pin the SHAPE:
  // every post-create commit advertises its base (delta), the vacuum
  // leaves exactly the retained count, the collapse wrote its
  // checkpoint, and the head stays time-travel consistent.
  // -------------------------------------------------------------------
  def cowDeltaLog(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val (ns, nsDir) = scratchCatalog(spark, "dlog")
    Tables.load(spark, dir, "customer")
      .createOrReplaceTempView("dlog_cust_src")
    spark.sql(s"""CREATE TABLE $ns.c
      (c_custkey BIGINT, cents BIGINT, seg STRING)
      PARTITIONED BY (seg)""")
    def ins(lo: Long, hi: Long): Unit = spark.sql(
      s"""INSERT INTO $ns.c
        SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT),
               c_mktsegment
        FROM dlog_cust_src
        WHERE c_custkey BETWEEN $lo AND $hi""")
    ins(1, 500); ins(501, 1000); ins(1001, 1500)
    spark.sql(s"UPDATE $ns.c SET cents = 0 WHERE cents < 0")
    val root = s"$nsDir/c"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every post-create commit is a DELTA against its predecessor
    (2L to 5L).foreach(i => require(
      fs.exists(new org.apache.hadoop.fs.Path(root, s"_mbase-$i=${i - 1}")),
      s"commit $i must be a delta manifest advertising base ${i - 1}"))
    spark.sql(s"VACUUM $ns.c RETAIN 2 SNAPSHOTS")
    require(CowTable.committedIds(spark, root) == Seq(4L, 5L),
      "explicit VACUUM must collapse the delta chain and retain exactly 2")
    require(fs.exists(new org.apache.hadoop.fs.Path(root,
        s"_ckpt-4/_SUCCESS")),
      "the retention-floor delta must have been checkpointed")
    // the collapsed head serves reads AND the retained previous
    // snapshot stays time-travelable
    require(CowTable.readAt(spark, root, 4L).get.count() ==
      spark.table(s"$ns.c").count(),
      "pre-update snapshot must count the same rows (update rewrote)")
    spark.table(s"$ns.c")
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
      .orderBy("seg")
  }

  val cowDeltaLogSql: String =
    """WITH t1 AS (
      |  SELECT c_custkey,
      |    CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
      |    c_mktsegment AS seg
      |  FROM customer WHERE c_custkey BETWEEN 1 AND 1500),
      |t2 AS (
      |  SELECT c_custkey,
      |    CASE WHEN cents < 0 THEN 0 ELSE cents END AS cents, seg
      |  FROM t1)
      |SELECT seg, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS total_cents
      |FROM t2 GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cow_delta_log" -> (cowDeltaLog _),
    "cow_rename_drop" -> (cowRenameDrop _),
    "cow_stream_event_agg" -> (cowStreamEventAgg _),
    "cow_shallow_clone" -> (cowShallowClone _),
    "cow_merge_evolve" -> (cowMergeEvolve _),
    "cow_dml_subquery" -> (cowDmlSubquery _),
    "cow_merge_multi" -> (cowMergeMulti _),
    "cow_join_mv" -> (cowJoinMv _),
    "cow_stream_join_mv" -> (cowStreamJoinMv _),
    "cow_delete_where" -> (cowDeleteWhere _),
    "cow_dv_delete" -> (cowPosdvDelete _),
    "cow_posdv_delete" -> (cowPosdvDelete _),
    "cow_catalog_sql" -> (cowCatalogSql _),
    "cow_named_dml" -> (cowNamedDml _),
    "cow_alter_evolve" -> (cowAlterEvolve _),
    "cow_parser_dml" -> (cowParserDml _),
    "cow_posdv_update" -> (cowPosdvUpdate _),
    "cow_update_where" -> (cowUpdateWhere _),
    "cow_mor_update" -> (cowPosdvUpdate _),
    "cow_sql_dml" -> (cowSqlDml _),
    "cow_source_read" -> (cowSourceRead _),
    "cow_bucket_join" -> (cowBucketJoin _),
    "cow_stream_join2" -> (cowStreamJoin2 _),
    "cow_optimize_zorder" -> (cowOptimizeZorder _),
    "cow_snapshot_diff" -> (cowSnapshotDiff _),
    "cow_partition_stats" -> (cowPartitionStats _),
    "cow_meta_tables" -> (cowMetaTables _),
    "cow_history_meta" -> (cowHistoryMeta _),
    "cow_partitions_debt" -> (cowPartitionsDebt _),
    "cow_wap" -> (cowWap _),
    "cow_v2_read" -> (cowV2Read _),
    "cow_constraints" -> (cowConstraints _),
    "cow_restore" -> (cowRestore _),
    "cow_repartition" -> (cowRepartition _),
    "cow_agg_pushdown" -> (cowAggPushdown _),
    "cow_sink_stream" -> (cowSinkStream _),
    "cow_stream_fmt_sink" -> (cowStreamFmtSink _),
    "cow_named_cdf" -> (cowNamedCdf _),
    "cow_replace_where" -> (cowReplaceWhere _),
    "cow_table_stream" -> (cowTableStream _),
    "cow_describe_detail" -> (cowDescribeDetail _),
    "cow_upsert" -> (cowUpsert _),
    "cow_cdc_apply" -> (cowCdcApply _),
    "cow_skipping" -> (cowSkipping _),
    "cow_scd2_cdc" -> (cowScd2Cdc _),
    "cow_lookup" -> (cowLookup _),
    "cow_mor_delete" -> (cowMorDelete _),
    "cow_bloom_lookup" -> (cowBloomLookup _),
    "cow_zorder" -> (cowZorder _),
    "cow_zorder_2d" -> (cowZorder2d _),
    "cow_change_feed" -> (cowChangeFeed _),
    "cow_append_compact" -> (cowAppendCompact _),
    "cow_in_lookup" -> (cowInLookup _),
    "cow_history" -> (cowHistory _),
    "cow_mv_from_feed" -> (cowMvFromFeed _),
    "cow_stream_mv" -> (cowStreamMv _))

  val oracles: Map[String, String] = Map(
    "cow_rename_drop" -> cowRenameDropSql,
    "cow_stream_event_agg" -> cowStreamEventAggSql,
    "cow_shallow_clone" -> cowShallowCloneSql,
    "cow_merge_evolve" -> cowMergeEvolveSql,
    "cow_dml_subquery" -> cowDmlSubquerySql,
    "cow_delta_log" -> cowDeltaLogSql,
    "cow_merge_multi" -> cowMergeMultiSql,
    "cow_join_mv" -> cowJoinMvSql,
    "cow_stream_join_mv" -> cowStreamJoinMvSql,
    "cow_delete_where" -> cowDeleteWhereSql,
    "cow_dv_delete" -> cowDvDeleteSql,
    "cow_posdv_delete" -> cowDvDeleteSql,
    "cow_catalog_sql" -> cowCatalogSqlSql,
    "cow_named_dml" -> cowNamedDmlSql,
    "cow_alter_evolve" -> cowAlterEvolveSql,
    "cow_parser_dml" -> cowParserDmlSql,
    "cow_posdv_update" -> cowMorUpdateSql,
    "cow_update_where" -> cowUpdateWhereSql,
    "cow_mor_update" -> cowMorUpdateSql,
    "cow_sql_dml" -> cowSqlDmlSql,
    "cow_source_read" -> cowSourceReadSql,
    "cow_bucket_join" -> cowBucketJoinSql,
    "cow_stream_join2" -> cowStreamJoin2Sql,
    "cow_optimize_zorder" -> cowOptimizeZorderSql,
    "cow_snapshot_diff" -> cowSnapshotDiffSql,
    "cow_partition_stats" -> cowPartitionStatsSql,
    "cow_meta_tables" -> cowMetaTablesSql,
    "cow_history_meta" -> cowHistoryMetaSql,
    "cow_partitions_debt" -> cowPartitionsDebtSql,
    "cow_wap" -> cowWapSql,
    "cow_v2_read" -> cowV2ReadSql,
    "cow_constraints" -> cowConstraintsSql,
    "cow_restore" -> cowRestoreSql,
    "cow_upsert" -> cowUpsertSql,
    "cow_cdc_apply" -> cowCdcApplySql,
    "cow_skipping" -> cowSkippingSql,
    "cow_scd2_cdc" -> cowScd2CdcSql,
    "cow_lookup" -> cowLookupSql,
    "cow_mor_delete" -> cowMorDeleteSql,
    "cow_bloom_lookup" -> cowBloomLookupSql,
    "cow_zorder" -> cowZorderSql,
    "cow_zorder_2d" -> cowZorder2dSql,
    "cow_change_feed" -> cowChangeFeedSql,
    "cow_append_compact" -> cowAppendCompactSql,
    "cow_in_lookup" -> cowInLookupSql,
    "cow_history" -> cowHistorySql,
    "cow_mv_from_feed" -> cowMvFromFeedSql,
    "cow_stream_mv" -> cowStreamMvSql,
    "cow_sink_stream" -> cowSinkStreamSql,
    "cow_stream_fmt_sink" -> cowSinkStreamSql,
    "cow_named_cdf" -> cowNamedCdfSql,
    "cow_replace_where" -> cowReplaceWhereSql,
    "cow_table_stream" -> cowTableStreamSql,
    "cow_describe_detail" -> cowDescribeDetailSql,
    "cow_agg_pushdown" -> cowAggPushdownSql,
    "cow_repartition" -> cowRepartitionSql)
}
