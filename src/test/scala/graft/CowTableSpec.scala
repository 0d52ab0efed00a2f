package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Merge
import graft.pipeline.Metrics
import graft.sinks.CowTable

class CowTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("cowtable").toString

  /** (path, mtime) of every data file under root, from the FS. */
  private def dataFileState(root: String): Map[String, Long] = {
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    def walk(p: Path): Seq[(String, Long)] =
      fs.listStatus(p).toSeq.flatMap {
        case d if d.isDirectory => walk(d.getPath)
        case f if f.getPath.getName.endsWith(".parquet") =>
          Seq(f.getPath.toString -> f.getModificationTime)
        case _ => Nil
      }
    walk(new Path(root)).toMap
  }

  private def base3 = Seq(
    (1L, "p1", "a", 10.0),
    (2L, "p1", "b", 20.0),
    (3L, "p2", "c", 30.0),
    (4L, "p2", "d", 40.0),
    (5L, "p3", "e", 50.0))
    .toDF("id", "part", "name", "score")

  test("COW upsert rewrites ONLY touched partitions: untouched files " +
      "keep their exact paths and mtimes, content matches a full merge") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"))
    val before = dataFileState(root)

    // delta touches p1 only (update id=2, insert id=6)
    val delta = Seq(
      (2L, "p1", "b-new", 21.0),
      (6L, "p1", "f", 60.0))
      .toDF("id", "part", "name", "score")
    CowTable.upsert(spark, root, 2L, delta, Seq("id"), Seq("part"))

    val after = dataFileState(root)
    // every batch-1 file outside p1 survives untouched (path AND mtime)
    val untouched = before.filter(!_._1.contains("__gp_part=p1"))
    assert(untouched.nonEmpty)
    untouched.foreach { case (p, t) =>
      assert(after.contains(p), s"untouched file rewritten/removed: $p")
      assert(after(p) == t, s"untouched file mtime changed: $p")
    }
    // and the manifest still REFERENCES those exact batch-1 files
    val m = CowTable.currentManifest(spark, root).get
    assert(m.files.exists(_.path.startsWith("batch-1/")))
    assert(m.files.filter(_.part("part") == "p1")
      .forall(_.path.startsWith("batch-2/")))

    // content equals the full (non-COW) merge
    val expected = Merge.upsert(base3, delta, Seq("id"))
      .orderBy("id").collect().toSeq
    val got = CowTable.read(spark, root).get
      .orderBy("id").collect().toSeq
    assert(got == expected)
  }

  test("replaying a committed batch id is a no-op (exactly-once under " +
      "crash-replay), and ids must be monotonic") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"))
    val delta = Seq((2L, "p1", "redo", 0.0)).toDF("id", "part", "name", "score")
    CowTable.upsert(spark, root, 2L, delta, Seq("id"), Seq("part"))
    val state = dataFileState(root)
    val content = CowTable.read(spark, root).get.orderBy("id").collect().toSeq

    // replay same id — and a stale lower id — both skip
    CowTable.upsert(spark, root, 2L, delta, Seq("id"), Seq("part"))
    CowTable.upsert(spark, root, 1L,
      Seq((9L, "p9", "x", 9.0)).toDF("id", "part", "name", "score"),
      Seq("id"), Seq("part"))
    assert(dataFileState(root) == state)
    assert(CowTable.read(spark, root).get.orderBy("id").collect().toSeq
      == content)
  }

  test("CDC apply through COW: D empties a partition (entry dropped), " +
      "I/U upsert; NULL partition value round-trips") {
    val root = tmp()
    val withNull = base3.unionByName(
      Seq((7L, null.asInstanceOf[String], "n", 70.0))
        .toDF("id", "part", "name", "score"))
    CowTable.commitFull(withNull, root, 1L, Seq("part"))
    assert(CowTable.read(spark, root).get.count() == 6)

    val batch = Seq(
      (5L, "p3", "e", 50.0, "D"),   // deletes p3's only row
      (7L, null.asInstanceOf[String], "n-upd", 71.0, "U"),
      (8L, "p1", "h", 80.0, "I"))
      .toDF("id", "part", "name", "score", "oper")
    CowTable.applyCdc(spark, root, 2L, batch, Seq("id"), Seq("part"))

    val m = CowTable.currentManifest(spark, root).get
    assert(!m.files.exists(_.part("part") == "p3"),
      "emptied partition must drop out of the manifest")
    val out = CowTable.read(spark, root).get
    assert(out.count() == 6) // 6 - 1 deleted + 1 inserted
    assert(out.where($"id" === 7L).select("name").as[String].head()
      == "n-upd")
    assert(out.where($"id" === 5L).count() == 0)
    // p2 untouched by either batch — still served from batch-1
    assert(m.files.filter(_.part("part") == "p2")
      .forall(_.path.startsWith("batch-1/")))
  }

  test("changeFeed emits the I/U/D log between two snapshots, and " +
      "applying it to the old snapshot reproduces the new one") {
    import graft.operators.Cdc
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"), keep = 10)
    CowTable.applyCdc(spark, root, 2L, Seq(
        (5L, "p3", "e", 50.0, "D"),
        (1L, "p1", "a-v2", 11.0, "U"),
        (8L, "p1", "h", 80.0, "I"))
      .toDF("id", "part", "name", "score", "oper"),
      Seq("id"), Seq("part"), keep = 10)
    val feed = CowTable.changeFeed(spark, root, 1L, 2L, Seq("id"))
    val ops = feed.select("id", "oper").as[(Long, String)].collect().toMap
    assert(ops == Map(5L -> "D", 1L -> "U", 8L -> "I"))
    val replayed = Cdc.apply(
        CowTable.readAt(spark, root, 1L).get, feed, Seq("id"))
      .orderBy("id").collect().toSeq
    assert(replayed ==
      CowTable.readAt(spark, root, 2L).get.orderBy("id").collect().toSeq)
    // same-snapshot feed is empty
    assert(CowTable.changeFeed(spark, root, 2L, 2L, Seq("id")).isEmpty)
  }

  test("time travel reads the highest committed snapshot <= id") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"), keep = 10)
    CowTable.upsert(spark, root, 3L,
      Seq((1L, "p1", "alpha-v3", 11.0)).toDF("id", "part", "name", "score"),
      Seq("id"), Seq("part"), keep = 10)
    assert(CowTable.readAt(spark, root, 2L).get
      .where($"id" === 1L).select("name").as[String].head() == "a")
    assert(CowTable.readAt(spark, root, 3L).get
      .where($"id" === 1L).select("name").as[String].head() == "alpha-v3")
  }

  test("time travel by TIMESTAMP reads the snapshot current at that " +
      "wall-clock instant") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"), keep = 10)
    Thread.sleep(1100) // mtime granularity can be a full second
    val between = System.currentTimeMillis()
    Thread.sleep(1100)
    CowTable.upsert(spark, root, 2L,
      Seq((1L, "p1", "a-v2", 11.0)).toDF("id", "part", "name", "score"),
      Seq("id"), Seq("part"), keep = 10)
    assert(CowTable.readAtTime(spark, root, between).get
      .where($"id" === 1L).select("name").as[String].head() == "a")
    assert(CowTable.readAtTime(spark, root, System.currentTimeMillis()).get
      .where($"id" === 1L).select("name").as[String].head() == "a-v2")
    assert(CowTable.readAtTime(spark, root, 1000L).isEmpty,
      "before the first commit there is no snapshot")
  }

  test("data skipping: a selective range over a sorted layout reads " +
      "strictly fewer files AND bytes, with a hash-identical result") {
    val root = tmp()
    // 4 partitions x sorted ids => per-file id envelopes are disjoint
    val df = spark.range(0, 4000)
      .select($"id", (($"id" / 1000).cast("int")).as("bucket"),
        ($"id" % 97).cast("double").as("v"))
    CowTable.commitFull(df, root, 1L, Seq("bucket"), sortCols = Seq("id"))

    val all = CowTable.currentManifest(spark, root).get.files
    val kept = CowTable.filesForRange(spark, root, "id",
      Some("1500"), Some("1600"))
    assert(kept.size < all.size,
      s"skipping kept ${kept.size} of ${all.size} files")
    assert(kept.map(_.bytes).sum < all.map(_.bytes).sum)

    val listener = Metrics.register(spark)
    val skipped = CowTable.readWhereBetween(spark, root, "id",
      Some("1500"), Some("1600")).orderBy("id").collect().toSeq
    val mSkip = listener.drainWhen(_.exists(_.bytesRead > 0))
    val full = CowTable.read(spark, root).get
      .where($"id".between(1500L, 1600L)).orderBy("id").collect().toSeq
    val mFull = listener.drainWhen(_.exists(_.bytesRead > 0))
    assert(skipped == full)
    val bytesSkip = mSkip.map(_.bytesRead).max
    val bytesFull = mFull.map(_.bytesRead).max
    assert(bytesSkip < bytesFull,
      s"skipping read $bytesSkip bytes vs full $bytesFull")
  }

  test("Z-ORDER layout skips on BOTH clustered columns; a linear sort " +
      "skips on one — results identical either way") {
    import graft.sinks.ZOrder
    // two independent dimensions: id and a decorrelated second key
    val df = spark.range(0, 16384)
      .select($"id", (($"id" * 2654435761L) % 16384L).as("k2"),
        ($"id" % 7).as("v"))
    val zRoot = tmp()
    CowTable.commitFull(ZOrder.cluster(df, Seq("id", "k2"), nFiles = 16),
      zRoot, 1L, Nil)
    val linRoot = tmp()
    CowTable.commitFull(
      df.repartitionByRange(16, $"id").sortWithinPartitions("id"),
      linRoot, 1L, Nil)

    def kept(root: String, c: String, lo: Long, hi: Long) =
      CowTable.filesForRange(spark, root, c,
        Some(lo.toString), Some(hi.toString)).size
    val total = CowTable.currentManifest(spark, zRoot).get.files.size
    assert(total >= 8)
    // selective range on each dimension (~1/16 of the space)
    assert(kept(zRoot, "id", 1000, 2000) < total,
      "z-layout must skip on id")
    assert(kept(zRoot, "k2", 1000, 2000) < total,
      "z-layout must skip on k2")
    // the linear layout skips on its sort column but NOT the other
    assert(kept(linRoot, "id", 1000, 2000) < total)
    assert(kept(linRoot, "k2", 1000, 2000) ==
      CowTable.currentManifest(spark, linRoot).get.files.size,
      "a linear sort cannot skip on the second column")
    // and skipping never changes results
    val a = CowTable.readWhereBetween(spark, zRoot, "k2",
      Some("1000"), Some("2000")).orderBy("id").collect().toSeq
    val b = CowTable.read(spark, linRoot).get
      .where($"k2".between(1000L, 2000L)).orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("quantile-bucket expression: bit-equal to the HOF count " +
      "(duplicates, NaN, nulls) and stays in whole-stage codegen") {
    import graft.functions.QuantileBucketExpr
    val bs = Seq(1.0, 2.0, 2.0, 5.5, 9.0) // duplicate boundary counts twice
    val vals = Seq(0.0, 1.0, 1.5, 2.0, 3.0, 5.5, 9.0, 100.0,
      Double.NaN, -1e300)
    val df = vals.toDF("v")
    val native = df.select(
      coalesce(QuantileBucketExpr.bucket($"v", bs), lit(0L))).as[Long]
      .collect().toSeq
    val hof = df.select(
      size(filter(lit(bs.toArray), b => $"v" >= b)).cast("long")).as[Long]
      .collect().toSeq
    assert(native == hof, s"native=$native hof=$hof")
    // null input → bucket 0 through the coalesce, like the HOF
    assert(Seq(Option.empty[Double]).toDF("v")
      .select(coalesce(QuantileBucketExpr.bucket($"v", bs), lit(0L)))
      .as[Long].head() == 0L)
    // the bucketing projection keeps its whole-stage-codegen marker
    val plan = spark.range(100).select(
      QuantileBucketExpr.bucket($"id".cast("double"), (1 to 255).map(_.toDouble)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("data skipping never drops rows it shouldn't: files without " +
      "stats for the column are kept") {
    val root = tmp()
    // array column is stat-ineligible; skipping on it keeps everything
    val df = Seq((1L, Seq(1, 2)), (2L, Seq(3))).toDF("id", "xs")
    CowTable.commitFull(df, root, 1L, Nil)
    assert(CowTable.filesForRange(spark, root, "xs", Some("z"), Some("z"))
      .size == CowTable.currentManifest(spark, root).get.files.size)
  }

  test("SCD-2 CDC through COW buckets: history accumulates per key's " +
      "bucket, untouched buckets never rewrite, replay is a no-op") {
    val root = tmp()
    val bucket = CowTable.keyBucket(Seq("id"), 4)
    def batch(rs: (Long, String, Long, String)*) =
      rs.toDF("id", "v", "eff", "oper").withColumn("pb", bucket)
    // bootstrap: 8 keys spread over 4 buckets
    CowTable.applyScd2Cdc(spark, root, 1L,
      batch((1L to 8L).map(k => (k, s"v$k", 100L, "I")): _*),
      Seq("id"), Seq("pb"), "eff")
    val before = dataFileState(root)
    // batch 2 touches ONLY key 3's bucket: update + later delete
    CowTable.applyScd2Cdc(spark, root, 2L,
      batch((3L, "v3b", 200L, "U"), (3L, "", 300L, "D")),
      Seq("id"), Seq("pb"), "eff")
    // untouched buckets: byte-identical files, same paths
    val touchedBucket = batch((3L, "x", 0L, "I"))
      .select(col("pb").cast("string")).first().getString(0)
    val untouched = before.filterNot(_._1.contains(s"__gp_pb=$touchedBucket"))
    assert(untouched.nonEmpty)
    untouched.foreach { case (p, t) =>
      assert(dataFileState(root).get(p).contains(t),
        s"untouched bucket file rewritten: $p")
    }
    // history of key 3: [100,200) v3, [200,300) v3b, deleted at 300
    val h3 = CowTable.read(spark, root).get.where($"id" === 3L)
      .orderBy("effective_from")
      .select("v", "effective_from", "effective_to", "is_current")
      .as[(String, Long, Option[Long], Boolean)].collect().toSeq
    assert(h3 == Seq(
      ("v3", 100L, Some(200L), false),
      ("v3b", 200L, Some(300L), false)))
    // replay of batch 2 (different content!) must be a no-op
    val state = dataFileState(root)
    CowTable.applyScd2Cdc(spark, root, 2L,
      batch((5L, "evil", 999L, "U")), Seq("id"), Seq("pb"), "eff")
    assert(dataFileState(root) == state)
  }

  test("keyed point lookup prunes to the keys' buckets: fewer bytes " +
      "than the full scan, same rows as a plain filter") {
    val root = tmp()
    val bucket = CowTable.keyBucket(Seq("id"), 8)
    val df = spark.range(0, 4096)
      .select($"id", ($"id" % 13).cast("double").as("v"))
      .withColumn("pb", bucket)
    CowTable.commitFull(df, root, 1L, Seq("pb"))

    val wanted = Seq(5L, 17L, 1000L)
    val keys = wanted.toDF("id").withColumn("pb", bucket)
    val m = CowTable.currentManifest(spark, root).get
    val touched = keys.select($"pb".cast("string")).distinct()
      .as[String].collect().toSet
    val prunedBytes = m.files
      .filter(f => touched.contains(f.part("pb"))).map(_.bytes).sum
    assert(prunedBytes < m.files.map(_.bytes).sum)

    val got = CowTable.lookupKeys(spark, root, keys, Seq("id"), Seq("pb"))
      .orderBy("id").select("id", "v").as[(Long, Double)].collect().toSeq
    val want = CowTable.read(spark, root).get
      .where($"id".isin(wanted: _*)).orderBy("id")
      .select("id", "v").as[(Long, Double)].collect().toSeq
    assert(got == want && got.size == wanted.size)

    // the physical plan reads only the touched buckets' files —
    // attributed to each action's OWN QueryExecution (suites share the
    // session; a max over the listener bus can latch another suite's
    // scan into both sides and spuriously equalize them)
    val listener = Metrics.register(spark)
    val look = CowTable.lookupKeys(spark, root, keys, Seq("id"), Seq("pb"))
    look.collect()
    val lookupBytes = listener.drainFor(look.queryExecution)
      .map(_.bytesRead).sum
    val full = CowTable.read(spark, root).get
    full.collect()
    val fullBytes = listener.drainFor(full.queryExecution)
      .map(_.bytesRead).sum
    assert(lookupBytes > 0 && lookupBytes < fullBytes,
      s"lookup read $lookupBytes vs full $fullBytes")
  }

  test("Bloom filters prune POINT lookups on an unsorted high-card " +
      "column where min/max envelopes span every file") {
    val root = tmp()
    // hash-scattered layout: every file's [min,max] covers ~the whole
    // id range, so envelope skipping keeps everything
    val df = spark.range(0, 8192)
      .select($"id", concat(lit("user-"), $"id").as("uid"))
      .repartition(8, xxhash64($"id"))
    CowTable.commitFull(df, root, 1L, Nil, bloomCols = Seq("uid"))

    val total = CowTable.currentManifest(spark, root).get.files.size
    assert(total >= 4)
    // envelopes are useless here — without blooms every file survives
    val statsOnly = CowTable.currentManifest(spark, root).get.files
      .count(f => { // min <= v <= max for the scattered layout
        val v = "user-4711"
        f.mins.get("uid").forall(_ <= v) && f.maxs.get("uid").forall(_ >= v)
      })
    assert(statsOnly == total, "test premise: envelopes can't prune")
    // the bloom keeps (almost certainly) just the one file holding it
    val kept = CowTable.filesForRange(spark, root, "uid",
      Some("user-4711"), Some("user-4711"))
    assert(kept.size < total, s"bloom kept ${kept.size} of $total")
    // correctness: exact row back, nothing lost
    val got = CowTable.readWhereBetween(spark, root, "uid",
      Some("user-4711"), Some("user-4711"))
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(4711L))
    // an absent value prunes everything or nearly so (false positives
    // allowed, false negatives never) — and returns zero rows
    assert(CowTable.readWhereBetween(spark, root, "uid",
      Some("user-999999"), Some("user-999999")).count() == 0)
    // range predicates ignore blooms (they only apply to points)
    assert(CowTable.filesForRange(spark, root, "uid",
      Some("user-1"), Some("user-2")).size == total)
  }

  test("skipping comparisons match Spark's orderings: UTF-8 byte order " +
      "for strings (supplementary chars) and numeric-canonical bloom " +
      "bounds — neither layer may prune a live file") {
    // supplementary char: UTF-16 compareTo says emoji < U+FFFD,
    // UTF-8 bytes (what Spark sorts by) say emoji > U+FFFD
    val root = tmp()
    val emoji = new String(Character.toChars(0x1F600))
    CowTable.commitFull(
      Seq((1L, emoji), (2L, "aaa")).toDF("id", "s"), root, 1L, Nil)
    val got = CowTable.readWhereBetween(spark, root, "s",
      Some("�"), None).select("id").as[Long].collect().toSeq
    assert(got == Seq(1L), "emoji row must survive a lo=U+FFFD range")

    // numeric bloom bound: "1500" must canonicalize to the double's
    // "1500.0" string form before hashing, as the envelope layer does
    val root2 = tmp()
    CowTable.commitFull(
      spark.range(0, 2000).select($"id", $"id".cast("double").as("d")),
      root2, 1L, Nil, bloomCols = Seq("d"))
    val hit = CowTable.readWhereBetween(spark, root2, "d",
      Some("1500"), Some("1500")).select("id").as[Long].collect().toSeq
    assert(hit == Seq(1500L),
      "non-canonical numeric bound must not be bloom-pruned")
  }

  test("bloom columns INHERIT through merges and folds: a COW rewrite " +
      "keeps stamping the previously bloom'd columns") {
    val root = tmp()
    val df = spark.range(0, 2048)
      .select($"id", concat(lit("u-"), $"id").as("uid"),
        ($"id" % 4).cast("int").as("pb"))
    CowTable.commitFull(df, root, 1L, Seq("pb"), bloomCols = Seq("uid"))
    // a merge that does NOT name bloomCols rewrites partition pb=1
    CowTable.upsert(spark, root, 2L,
      Seq((1L, "u-1-updated", 1)).toDF("id", "uid", "pb"),
      Seq("id"), Seq("pb"))
    val m = CowTable.currentManifest(spark, root).get
    val rewritten = m.files.filter(_.path.startsWith("batch-2/"))
    assert(rewritten.nonEmpty)
    assert(rewritten.forall(_.blooms.contains("uid")),
      "rewritten partition lost its bloom filters")
  }

  test("metadata aggregates and plan shape: countFast/minMaxFast answer " +
      "from the manifest (and refuse when tombstones make them unsound); " +
      "the skipping read's residual filter reaches the parquet scan") {
    val root = tmp()
    val df = spark.range(0, 1000)
      .select($"id", ($"id" % 10).cast("double").as("v"))
      .repartitionByRange(4, $"id")
    CowTable.commitFull(df, root, 1L, Nil, sortCols = Seq("id"))
    assert(CowTable.countFast(spark, root).contains(1000L))
    assert(CowTable.minMaxFast(spark, root, "id").contains(("0", "999")))
    assert(CowTable.minMaxFast(spark, root, "v").contains(("0.0", "9.0")))
    assert(CowTable.minMaxFast(spark, root, "nope").isEmpty)

    // outstanding deletion vectors make both unsound → both refuse
    CowTable.deleteKeysMor(spark, root, 2L,
      Seq(999L).toDF("id"), Seq("id"), Nil)
    assert(CowTable.countFast(spark, root).isEmpty)
    assert(CowTable.minMaxFast(spark, root, "id").isEmpty)
    // ...and come back after a fold
    assert(CowTable.foldTombstones(spark, root, 3L))
    assert(CowTable.countFast(spark, root).contains(999L))
    assert(CowTable.minMaxFast(spark, root, "id").contains(("0", "998")))

    // the typed residual predicate is PUSHED to the parquet scan
    val plan = CowTable.readWhereBetween(spark, root, "id",
      Some("100"), Some("200")).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(id,100)"),
      s"range not pushed to scan:\n$plan")
  }

  test("vacuum keeps every batch dir a retained manifest references " +
      "and drops COW'd-away ones") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"), keep = 1)
    // touch p1 twice; after keep=1 vacuum, batch-2's p1 files are
    // unreferenced but batch-1 still serves p2/p3
    CowTable.upsert(spark, root, 2L,
      Seq((2L, "p1", "x", 0.0)).toDF("id", "part", "name", "score"),
      Seq("id"), Seq("part"), keep = 1)
    CowTable.upsert(spark, root, 3L,
      Seq((2L, "p1", "y", 1.0)).toDF("id", "part", "name", "score"),
      Seq("id"), Seq("part"), keep = 1)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    // DELTA-manifest retention: the retained head resolves through its
    // base chain, so the bases' manifests AND their exclusive batch
    // dirs survive keep=1 — and the table is fully servable — until a
    // checkpoint collapses the chain (vacuum triggers one itself once
    // the chain crosses the floor by manifestCheckpointInterval links;
    // here we collapse eagerly)
    assert(fs.exists(new Path(s"$root/batch-2")),
      "chain-retained until checkpoint")
    assert(fs.exists(new Path(s"$root/manifest-2")))
    assert(CowTable.read(spark, root).get.count() == 5)
    CowTable.checkpoint(spark, root, 3L)
    CowTable.vacuum(spark, root, keep = 1)
    assert(fs.exists(new Path(s"$root/batch-1")), "still referenced")
    assert(!fs.exists(new Path(s"$root/batch-2")), "fully COW'd away")
    assert(fs.exists(new Path(s"$root/batch-3")))
    assert(!fs.exists(new Path(s"$root/manifest-1")))
    assert(!fs.exists(new Path(s"$root/manifest-2")))
    // table still fully readable after vacuum (served by the checkpoint)
    assert(CowTable.read(spark, root).get.count() == 5)
  }

  test("merge-on-read delete: a deletion vector hides rows WITHOUT " +
      "rewriting any data file; reads, skipping reads and lookups all " +
      "apply it; " +
      "time travel still sees the pre-delete state") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"), keep = 10)
    val before = dataFileState(root)

    CowTable.deleteKeysMor(spark, root, 2L,
      Seq((2L, "p1"), (3L, "p2")).toDF("id", "part"),
      Seq("id"), Seq("part"), keep = 10)
    // every data file untouched — the delete wrote only a DV sidecar
    val after = dataFileState(root)
    before.foreach { case (p, t) =>
      assert(after.get(p).contains(t), s"data file rewritten by MOR: $p")
    }
    val m = CowTable.currentManifest(spark, root).get
    assert(m.dvs.nonEmpty &&
      m.files.size == before.count(_._1.contains("/batch-1/")))

    assert(CowTable.read(spark, root).get.orderBy("id")
      .select("id").as[Long].collect().toSeq == Seq(1L, 4L, 5L))
    // skipping read within a masked partition applies the mask too
    assert(CowTable.readWhereBetween(spark, root, "id",
      Some("2"), Some("3")).count() == 0)
    // keyed lookup of a deleted key finds nothing
    assert(CowTable.lookupKeys(spark, root,
      Seq((2L, "p1")).toDF("id", "part"), Seq("id"), Seq("part"))
      .count() == 0)
    // time travel to the pre-delete snapshot still sees the rows
    assert(CowTable.readAt(spark, root, 1L).get.count() == 5)
  }

  test("deletion vectors retire when their partition rewrites (upsert " +
      "folds the resolved base) and foldTombstones clears the rest") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"))
    CowTable.deleteKeysMor(spark, root, 2L,
      Seq((1L, "p1"), (3L, "p2")).toDF("id", "part"),
      Seq("id"), Seq("part"))

    // upsert touching p1 folds p1's vector; p2's remains
    CowTable.upsert(spark, root, 3L,
      Seq((6L, "p1", "f", 60.0)).toDF("id", "part", "name", "score"),
      Seq("id"), Seq("part"))
    val m1 = CowTable.currentManifest(spark, root).get
    assert(m1.dvs.map(_.part("part")).toSet == Set("p2"))
    // deleted id=1 must NOT resurrect through the rewrite
    assert(CowTable.read(spark, root).get.where($"id" === 1L).count() == 0)

    // fold retires the rest; content unchanged; p3 untouched on disk
    val p3files = dataFileState(root).filter(_._1.contains("__gp_part=p3"))
    val want = CowTable.read(spark, root).get
      .orderBy("id").collect().toSeq
    assert(CowTable.foldTombstones(spark, root, 4L))
    val m2 = CowTable.currentManifest(spark, root).get
    assert(m2.dvs.isEmpty)
    assert(CowTable.read(spark, root).get.orderBy("id").collect().toSeq
      == want)
    p3files.foreach { case (p, t) =>
      assert(dataFileState(root).get(p).contains(t),
        s"fold rewrote a debt-free partition: $p")
    }
    // nothing left to fold → no-op, id unconsumed
    assert(!CowTable.foldTombstones(spark, root, 5L))
    assert(CowTable.committedIds(spark, root).last == 4L)
  }

  test("multi-column skipping on a z-ordered layout: the range " +
      "CONJUNCTION keeps fewer files than either single-column prune, " +
      "result identical to the plain double filter") {
    import graft.sinks.{CowRange, ZOrder}
    val df = spark.range(0, 16384)
      .select($"id", (($"id" * 2654435761L) % 16384L).as("k2"),
        ($"id" % 7).as("v"))
    val root = tmp()
    CowTable.commitFull(ZOrder.cluster(df, Seq("id", "k2"), nFiles = 16),
      root, 1L, Nil)
    val r1 = CowRange("id", Some("1000"), Some("3000"))
    val r2 = CowRange("k2", Some("1000"), Some("3000"))
    val k1 = CowTable.filesFor(spark, root, Seq(r1)).size
    val k2 = CowTable.filesFor(spark, root, Seq(r2)).size
    val both = CowTable.filesFor(spark, root, Seq(r1, r2)).size
    assert(both < k1 && both < k2,
      s"2-D prune kept $both files vs 1-D prunes $k1 / $k2")
    val got = CowTable.readWhere(spark, root, Seq(r1, r2))
      .orderBy("id").collect().toSeq
    val want = CowTable.read(spark, root).get
      .where($"id".between(1000L, 3000L) && $"k2".between(1000L, 3000L))
      .orderBy("id").collect().toSeq
    assert(got == want)
  }

  test("commit lease: two racing same-id commits have exactly one " +
      "winner — the loser throws before writing, table is the winner's; " +
      "a leaked lock is repairable and dead locks are vacuumed") {
    import graft.sinks.CowConcurrentCommitException
    val root = tmp()
    // heavy enough that the winner holds the lease for seconds
    val big = spark.range(0, 200000)
      .select($"id", ($"id" % 8).cast("int").as("pb"),
        ($"id" % 97).cast("double").as("v"))
    @volatile var winnerDone = false
    val winner = new Thread(() => {
      CowTable.commitFull(big, root, 1L, Seq("pb"))
      winnerDone = true
    })
    winner.start()
    // wait until the winner demonstrably holds the lease
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val lock = new Path(s"$root/_commit-1.lock")
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!fs.exists(lock) && System.nanoTime() < deadline)
      Thread.sleep(2)
    assert(fs.exists(lock), "winner never acquired the lease")
    intercept[CowConcurrentCommitException] {
      CowTable.commitFull(
        Seq((1L, 0, 0.0)).toDF("id", "pb", "v"), root, 1L, Seq("pb"))
    }
    winner.join(120000)
    assert(winnerDone)
    assert(CowTable.read(spark, root).get.count() == 200000L,
      "table must be exactly the winner's state")

    // leaked lock (crashed writer): next commit of that id refuses...
    fs.create(new Path(s"$root/_commit-2.lock"), false).close()
    intercept[CowConcurrentCommitException] {
      CowTable.upsert(spark, root, 2L,
        Seq((1L, 0, 9.9)).toDF("id", "pb", "v"), Seq("id"), Seq("pb"))
    }
    // ...until repaired
    assert(CowTable.breakCommitLock(spark, root, 2L))
    CowTable.upsert(spark, root, 2L,
      Seq((1L, 0, 9.9)).toDF("id", "pb", "v"), Seq("id"), Seq("pb"))
    assert(CowTable.committedIds(spark, root) == Seq(1L, 2L))
    // dead locks (id <= frontier) are swept by the commit's vacuum
    fs.create(new Path(s"$root/_commit-1.lock"), false).close()
    CowTable.upsert(spark, root, 3L,
      Seq((2L, 0, 1.0)).toDF("id", "pb", "v"), Seq("id"), Seq("pb"))
    assert(!fs.exists(new Path(s"$root/_commit-1.lock")),
      "dead lease not vacuumed")
  }

  test("SAFE widening commits (int->long: old files upcast on read); " +
      "breaking changes refuse; carried blooms drop when the string " +
      "form changes (float->double) but survive integer widening") {
    val root = tmp()
    val v1 = spark.range(0, 100)
      .select($"id", $"id".cast("int").as("n"),
        ($"id" % 7).cast("float").as("f"),
        ($"id" % 4).cast("int").as("pb"))
    CowTable.commitFull(v1, root, 1L, Seq("pb"), bloomCols = Seq("n", "f"))

    // widen n to long and f to double, touching ONLY partition pb=0 —
    // pb 1..3's files carry over and must upcast at read
    val v2 = spark.range(100, 110)
      .select($"id", $"id".cast("long").as("n"),
        ($"id" % 7).cast("double").as("f"), lit(0).as("pb"))
    CowTable.commitPartitions(v2,
      Set(CowTable.partKey(Seq("pb"), Map("pb" -> "0"))),
      root, 2L, Seq("pb"))
    val m = CowTable.currentManifest(spark, root).get
    assert(m.schema("n").dataType.simpleString == "bigint")
    assert(m.schema("f").dataType.simpleString == "double")
    val out = CowTable.read(spark, root).get
    // carried (old, int32/float) files read under the widened schema
    assert(out.where($"pb" === 1).agg(sum($"n")).as[Long].head() ==
      (0L until 100L).filter(_ % 4 == 1).sum)
    // integer-widened column keeps carried blooms; float->double drops
    val carried = m.files.filterNot(_.path.startsWith("batch-2/"))
    assert(carried.nonEmpty)
    assert(carried.forall(_.blooms.contains("n")),
      "integer widening must keep carried blooms")
    assert(carried.forall(!_.blooms.contains("f")),
      "float->double must drop carried blooms (string form changed)")
    // fresh files bloom both columns again
    assert(m.files.filter(_.path.startsWith("batch-2/"))
      .forall(f => f.blooms.contains("n") && f.blooms.contains("f")))
    // point lookup on the integer-widened column still bloom-safe
    assert(CowTable.readWhereBetween(spark, root, "n", Some("57"), Some("57"))
      .count() == 1)

    // narrowing and column drops refuse loudly
    intercept[IllegalArgumentException] {
      CowTable.commitPartitions(
        spark.range(0, 5).select($"id", $"id".cast("int").as("n"),
          $"id".cast("double").as("f"), lit(0).as("pb")),
        Set(CowTable.partKey(Seq("pb"), Map("pb" -> "0"))),
        root, 3L, Seq("pb"))
    }
    intercept[IllegalArgumentException] {
      CowTable.commitPartitions(
        spark.range(0, 5).select($"id", lit(0).as("pb")),
        Set(CowTable.partKey(Seq("pb"), Map("pb" -> "0"))),
        root, 3L, Seq("pb"))
    }
  }

  test("write-time change feed: netted sidecars reproduce the snapshot " +
      "diff exactly (including a D whose key was updated in between), " +
      "and a fold keeps the range servable") {
    val root = tmp()
    val mk = (rs: Seq[(Long, String, Double)]) =>
      rs.toDF("id", "name", "score")
        .withColumn("pb", CowTable.keyBucket(Seq("id"), 4))
    CowTable.commitFull(mk((1L to 20L).map(k => (k, s"n$k", k * 1.0))),
      root, 1L, Seq("pb"), keep = 10)
    // batch 2: update 1..5, insert 21..22 — WITH changelog
    CowTable.upsert(spark, root, 2L,
      mk((1L to 5L).map(k => (k, s"n$k-v2", k * 2.0)) ++
        Seq((21L, "n21", 21.0), (22L, "n22", 22.0))),
      Seq("id"), Seq("pb"), changeLog = true, keep = 10)
    // batch 3: MOR-delete 3..8 (3..5 were updated in batch 2!)
    CowTable.deleteKeysMor(spark, root, 3L,
      mk((3L to 8L).map(k => (k, "", 0.0))).select("id", "pb"),
      Seq("id"), Seq("pb"), changeLog = true, keep = 10)
    // batch 4: fold (no logical change, empty sidecar)
    assert(CowTable.foldTombstones(spark, root, 4L, keep = 10,
      changeLogKeys = Seq("id")))

    val log = CowTable.changeFeedFromLog(spark, root, 1L, 4L, Seq("id"))
    assert(log.isDefined, "every commit in range has a sidecar")
    val diff = CowTable.changeFeedByDiff(spark, root, 1L, 4L, Seq("id"))
    val key = Seq("id", "name", "score", "pb", "oper")
    val a = log.get.select(key.map(col): _*).orderBy("id", "oper")
      .collect().toSeq
    val b = diff.select(key.map(col): _*).orderBy("id", "oper")
      .collect().toSeq
    assert(a == b, s"sidecar feed diverged from diff feed:\n$a\nvs\n$b")
    // the interesting case: 3..5 net to D with their ORIGINAL image
    val d3 = log.get.where($"id" === 3L)
      .select("oper", "name").as[(String, String)].collect().toSeq
    assert(d3 == Seq(("D", "n3")),
      "net D must carry the fromId-time before-image")
    // the public API serves from sidecars here (same result either way)
    assert(CowTable.changeFeed(spark, root, 1L, 4L, Seq("id"))
      .count() == diff.count())
    // batch 5 skips the changelog → a range covering it cannot serve
    // from sidecars and the public API falls back to the diff
    CowTable.upsert(spark, root, 5L,
      mk(Seq((9L, "n9-v5", 99.0))), Seq("id"), Seq("pb"), keep = 10)
    assert(CowTable.changeFeedFromLog(spark, root, 1L, 5L, Seq("id")).isEmpty)
    val full = CowTable.changeFeed(spark, root, 1L, 5L, Seq("id"))
    assert(full.where($"id" === 9L).select("oper").as[String].head() == "U")
  }

  test("append commits: no existing file is touched, content " +
      "accumulates, the sidecar feed is pure I, and a later upsert " +
      "still consolidates the key's partition") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"), keep = 10)
    val before = dataFileState(root)
    CowTable.commitAppend(
      Seq((6L, "p1", "f", 60.0), (7L, "p9", "g", 70.0))
        .toDF("id", "part", "name", "score"),
      root, 2L, Seq("part"), keep = 10, changeLogKeys = Seq("id"))
    // every pre-append file untouched (append wrote only new files)
    before.foreach { case (p, t) =>
      assert(dataFileState(root).get(p).contains(t),
        s"append rewrote an existing file: $p")
    }
    val m = CowTable.currentManifest(spark, root).get
    // p1 now has files from BOTH batches (fragmentation, by design)
    assert(m.files.count(_.part("part") == "p1") == 2)
    assert(CowTable.read(spark, root).get.count() == 7)
    // the append's sidecar feed is exactly its I rows
    val feed = CowTable.changeFeedFromLog(spark, root, 1L, 2L, Seq("id")).get
    assert(feed.select("id", "oper").as[(Long, String)].collect().toSet
      == Set((6L, "I"), (7L, "I")))
    // an upsert touching p1 rewrites the WHOLE partition (both files
    // retire) — append fragmentation never survives a keyed rewrite
    CowTable.upsert(spark, root, 3L,
      Seq((6L, "p1", "f-v2", 61.0)).toDF("id", "part", "name", "score"),
      Seq("id"), Seq("part"), keep = 10)
    val m3 = CowTable.currentManifest(spark, root).get
    assert(m3.files.filter(_.part("part") == "p1")
      .forall(_.path.startsWith("batch-3/")))
    assert(CowTable.read(spark, root).get.where($"id" === 6L)
      .select("name").as[String].head() == "f-v2")
  }

  test("compaction: fragmented partitions rewrite to their byte-need " +
      "file count, non-fragmented partitions carry over untouched, " +
      "content is identical, and a big partition splits to multiple " +
      "files via the bin column") {
    val root = tmp()
    val df = spark.range(0, 3000)
      .select($"id", ($"id" % 3).cast("int").as("pb"),
        ($"id" % 97).cast("double").as("v"))
    // three appends → every bucket holds 3 files
    (0 until 3).foreach(r => CowTable.commitAppend(
      df.where($"id" % 3 === r).withColumn("pb", ($"id" % 2).cast("int")),
      root, r + 1L, Seq("pb"), keep = 10))
    val m = CowTable.currentManifest(spark, root).get
    assert(m.files.size == 6) // 2 buckets × 3 appends
    val want = CowTable.read(spark, root).get.orderBy("id").collect().toSeq
    assert(CowTable.compactPartitions(spark, root, 4L,
      targetFileBytes = 1L << 30, keep = 10))
    val mc = CowTable.currentManifest(spark, root).get
    assert(mc.files.size == 2, s"expected 1 file/bucket, got ${mc.files}")
    assert(CowTable.read(spark, root).get.orderBy("id").collect().toSeq
      == want)
    // nothing left to compact → false, id unconsumed
    assert(!CowTable.compactPartitions(spark, root, 5L,
      targetFileBytes = 1L << 30))

    // a table whose single partition exceeds the target splits into
    // ~ceil(bytes/target) files
    val root2 = tmp()
    CowTable.commitAppend(spark.range(0, 2000).select($"id"),
      root2, 1L, Nil, keep = 10)
    CowTable.commitAppend(spark.range(2000, 4000).select($"id"),
      root2, 2L, Nil, keep = 10)
    val bytes = CowTable.currentManifest(spark, root2).get
      .files.map(_.bytes).sum
    assert(CowTable.compactPartitions(spark, root2, 3L,
      targetFileBytes = math.max(1L, bytes / 3)))
    val n2 = CowTable.currentManifest(spark, root2).get.files.size
    assert(n2 >= 2, s"large partition must split, got $n2 file(s)")
    assert(CowTable.read(spark, root2).get.count() == 4000)
    // compaction folds outstanding deletion vectors as a side effect
    val root3 = tmp()
    CowTable.commitFull(base3, root3, 1L, Seq("part"), keep = 10)
    CowTable.deleteKeysMor(spark, root3, 2L,
      Seq((1L, "p1")).toDF("id", "part"), Seq("id"), Seq("part"),
      keep = 10)
    assert(CowTable.compactPartitions(spark, root3, 3L))
    val m3 = CowTable.currentManifest(spark, root3).get
    assert(m3.dvs.isEmpty)
    assert(CowTable.read(spark, root3).get.count() == 4)
  }

  test("IN-list reads prune by bloom per value and return exactly the " +
      "plain IN-filter's rows; absent values prune everything") {
    val root = tmp()
    val df = spark.range(0, 8192)
      .select($"id", concat(lit("user-"), $"id").as("uid"))
      .repartition(8, xxhash64($"id"))
    CowTable.commitFull(df, root, 1L, Nil, bloomCols = Seq("uid"))
    val total = CowTable.currentManifest(spark, root).get.files.size
    val wanted = Seq("user-17", "user-4711", "user-8000")
    val kept = CowTable.filesForIn(spark, root, "uid", wanted)
    assert(kept.size < total, s"kept ${kept.size} of $total")
    assert(CowTable.readWhereIn(spark, root, "uid", wanted)
      .select("id").as[Long].collect().toSeq.sorted
      == Seq(17L, 4711L, 8000L))
    assert(CowTable.readWhereIn(spark, root, "uid",
      Seq("user-999999", "user-888888")).count() == 0)
    // numeric canonicalization applies per value
    val root2 = tmp()
    CowTable.commitFull(
      spark.range(0, 2000).select($"id", $"id".cast("double").as("d")),
      root2, 1L, Nil, bloomCols = Seq("d"))
    assert(CowTable.readWhereIn(spark, root2, "d", Seq("1500", "3"))
      .select("id").as[Long].collect().toSeq.sorted == Seq(3L, 1500L))
  }

  test("history() reports per-snapshot file/row/churn metadata without " +
      "reading data") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"), keep = 10)
    CowTable.commitAppend(
      Seq((6L, "p1", "f", 60.0)).toDF("id", "part", "name", "score"),
      root, 2L, Seq("part"), keep = 10)
    CowTable.upsert(spark, root, 3L,
      Seq((2L, "p1", "x", 0.0)).toDF("id", "part", "name", "score"),
      Seq("id"), Seq("part"), keep = 10)
    val h = CowTable.history(spark, root)
      .orderBy("snapshot_id")
      .select("snapshot_id", "n_rows", "files_added", "files_removed")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(h.map(_._1) == Seq(1L, 2L, 3L))
    assert(h.map(_._2) == Seq(5L, 6L, 6L))
    // append only adds; the upsert rewrote p1 (2 files out, 1 in)
    assert(h(1)._3 == 1L && h(1)._4 == 0L)
    assert(h(2)._3 == 1L && h(2)._4 == 2L)
  }

  test("an orphaned sidecar (id never committed) is never served; a " +
      "leaked table-wide manifest lock blocks commits until repaired") {
    import graft.sinks.CowConcurrentCommitException
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"), keep = 10,
      changeLogKeys = Seq("id"))
    assert(CowTable.changeLogFor(spark, root, 1L).isDefined)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    // fabricate an orphan: a sidecar dir for an id with no manifest
    fs.mkdirs(new Path(s"$root/_changes/9"))
    fs.create(new Path(s"$root/_changes/9/_SUCCESS"), false).close()
    assert(CowTable.changeLogFor(spark, root, 9L).isEmpty,
      "sidecar for an uncommitted id must not be served")

    // leaked table-wide lock: commits refuse (bounded wait), repair works
    fs.create(new Path(s"$root/_commit.lock"), false).close()
    sys.props("graft.cow.manifestLockWaitSec") = "1"
    try {
      intercept[CowConcurrentCommitException] {
        CowTable.upsert(spark, root, 2L,
          Seq((1L, "p1", "x", 0.0)).toDF("id", "part", "name", "score"),
          Seq("id"), Seq("part"), keep = 10)
      }
    } finally sys.props -= "graft.cow.manifestLockWaitSec"
    assert(CowTable.committedIds(spark, root) == Seq(1L))
    assert(CowTable.breakManifestLock(spark, root))
    CowTable.upsert(spark, root, 2L,
      Seq((1L, "p1", "x", 0.0)).toDF("id", "part", "name", "score"),
      Seq("id"), Seq("part"), keep = 10)
    assert(CowTable.committedIds(spark, root) == Seq(1L, 2L))
  }

  test("schema may grow (evolved columns NULL on old files) but never " +
      "mutate a column's type") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"))
    val widened = Seq((6L, "p1", "f", 60.0, "extra"))
      .toDF("id", "part", "name", "score", "note")
    CowTable.commitPartitions(
      widened, Set(CowTable.partKey(Seq("part"), Map("part" -> "p1"))),
      root, 2L, Seq("part"))
    val out = CowTable.read(spark, root).get
    assert(out.columns.contains("note"))
    // old files (p2/p3) surface the evolved column as NULL
    assert(out.where($"part" === "p2").select("note").as[String]
      .collect().forall(_ == null))
    val retyped = Seq((1L, "p1", "a", 1)).toDF("id", "part", "name", "score")
    intercept[IllegalArgumentException] {
      CowTable.commitPartitions(retyped,
        Set(CowTable.partKey(Seq("part"), Map("part" -> "p1"))),
        root, 3L, Seq("part"))
    }
  }

  test("cross-id lost-update window is CLOSED end-to-end: a commit " +
      "whose rewrite was computed from a stale manifest is rejected, " +
      "and the interleaved commit's changes survive") {
    import graft.sinks.CowConcurrentCommitException
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"))
    // writer A reads the manifest (id 1) and computes a rewrite of p1
    val stale = CowTable.currentManifest(spark, root)
    assert(stale.map(_.id).contains(1L))
    val rewriteP1 = Seq((1L, "p1", "a", 10.0), (2L, "p1", "b", 20.0))
      .toDF("id", "part", "name", "score")
    // writer B lands id 2 on the SAME partition in between
    CowTable.upsert(spark, root, 2L,
      Seq((1L, "p1", "a", 99.0)).toDF("id", "part", "name", "score"),
      Seq("id"), Seq("part"))
    // A's commit must fail based-on verification against the manifest
    // A actually used — re-reading currentManifest at commit time
    // instead would accept id 2 as the base and silently revert B
    intercept[CowConcurrentCommitException] {
      CowTable.commitPartitionsFrom(stale, rewriteP1,
        Set(CowTable.partKey(Seq("part"), Map("part" -> "p1"))),
        root, 3L, Seq("part"))
    }
    assert(CowTable.committedIds(spark, root) == Seq(1L, 2L))
    assert(CowTable.read(spark, root).get.where($"id" === 1L)
      .select("score").as[Double].head() == 99.0,
      "the interleaved commit's update must survive the stale writer")
  }

  test("change feed sidecars serve across a WIDENING schema evolution " +
      "mid-range: int→long upcasts, an added column reads NULL on older " +
      "sidecars, and the O(batch) path is kept (no diff fallback)") {
    val root = tmp()
    val pk = Set(CowTable.partKey(Seq("part"), Map("part" -> "p1")))
    CowTable.commitFull(
      Seq((1L, "p1", 10), (2L, "p1", 20), (3L, "p2", 30))
        .toDF("id", "part", "v"),
      root, 1L, Seq("part"), keep = 10, changeLogKeys = Seq("id"))
    CowTable.upsert(spark, root, 2L,
      Seq((2L, "p1", 21)).toDF("id", "part", "v"),
      Seq("id"), Seq("part"), keep = 10, changeLog = true)
    // widened rewrite of p1: v int→long, new nullable column `note`
    CowTable.commitPartitions(
      Seq((1L, "p1", 100L, "x"), (2L, "p1", 21L, "y"))
        .toDF("id", "part", "v", "note"),
      pk, root, 3L, Seq("part"), keep = 10, changeLogKeys = Seq("id"))
    val fed = CowTable.changeFeedFromLog(spark, root, 1L, 3L, Seq("id"))
    assert(fed.isDefined,
      "a widening-only schema mix must stay on the sidecar path")
    val got = fed.get
      .select($"id", $"part", $"v", $"note", $"oper")
      .orderBy("id").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getString(4)))
    // id 1 changed only in commit 3 (10→100, note x); id 2 changed in
    // both (20→21 then note y) and nets to its final image; id 3 never
    assert(got == Seq(
      (1L, "p1", 100L, "x", "U"),
      (2L, "p1", 21L, "y", "U")), s"unexpected feed: $got")
    // a genuinely incompatible mix still falls back honestly: fake a
    // sidecar whose column RETYPED (long→string) cannot upcast
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val bad = Seq((9L, "p1", "not-a-number", "z", "I"))
      .toDF("id", "part", "v", "note", "_oper")
    val tmpDir = s"$root/_changes/.tmp-fake"
    bad.write.mode("overwrite").parquet(tmpDir)
    fs.delete(new Path(s"$root/_changes/3"), true)
    fs.rename(new Path(tmpDir), new Path(s"$root/_changes/3"))
    assert(CowTable.changeFeedFromLog(spark, root, 1L, 3L, Seq("id"))
      .isEmpty, "retyped sidecar must force the diff fallback")
  }

  test("vacuum vs reader: keep=2 retains the PREVIOUS snapshot's files " +
      "for in-flight readers — a reader holding manifest m collects " +
      "identical rows after the next commit's vacuum; past retention " +
      "its files are gone and the read fails LOUD, and readAt of a " +
      "vacuumed id returns None, never an empty frame") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"))
    // reader pins manifest 1 (the DataFrame holds its file list)
    val reader = CowTable.readAt(spark, root, 1L).get
    val want = reader.orderBy("id").collect().toSeq
    // commit 2 (full rewrite) lands; vacuum(keep=2) retains manifest 1
    // and, transitively, every batch-1 file it references
    CowTable.commitFull(
      base3.withColumn("score", col("score") + 1), root, 2L, Seq("part"))
    assert(reader.orderBy("id").collect().toSeq == want,
      "in-flight reader must see its pinned snapshot unchanged")
    // commit 3 (full rewrite): snapshot 1 falls past retention; no
    // retained manifest references batch-1, so its files are deleted
    CowTable.commitFull(
      base3.withColumn("score", col("score") + 2), root, 3L, Seq("part"))
    assert(CowTable.readAt(spark, root, 1L).isEmpty,
      "a vacuumed id must be un-addressable (None), not empty data")
    // the stale reader's p1 files are gone: the read must THROW, not
    // silently return partial/empty rows
    intercept[Throwable] {
      val got = reader.orderBy("id").collect().toSeq
      assert(got != want && got.nonEmpty,
        "stale reader returned silently wrong data") // unreachable on throw
      fail(s"stale reader silently served $got")
    }
    // retained snapshots keep serving exactly
    assert(CowTable.readAt(spark, root, 2L).get
      .where($"id" === 1L).select("score").as[Double].head() == 11.0)
    assert(CowTable.read(spark, root).get
      .where($"id" === 1L).select("score").as[Double].head() == 12.0)
  }

  test("change-logged append of an EXISTING key skips the pure-I " +
      "sidecar; the feed falls back to the snapshot diff") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"),
      changeLogKeys = Seq("id"))
    // fresh key: pure-I sidecar published
    CowTable.commitAppend(
      Seq((6L, "p1", "f", 60.0)).toDF("id", "part", "name", "score"),
      root, 2L, Seq("part"), changeLogKeys = Seq("id"))
    assert(CowTable.changeLogFor(spark, root, 2L).isDefined)
    // same key appended again: a pure-I sidecar would report I where
    // the keyed diff shows U — the guard skips it
    CowTable.commitAppend(
      Seq((6L, "p1", "f", 61.0)).toDF("id", "part", "name", "score"),
      root, 3L, Seq("part"), changeLogKeys = Seq("id"))
    assert(CowTable.changeLogFor(spark, root, 3L).isEmpty,
      "overlapping append must not publish a pure-I sidecar")
    assert(CowTable.changeFeedFromLog(spark, root, 2L, 3L, Seq("id"))
      .isEmpty, "sidecar path must refuse the gapped range")
    // the table itself holds both rows (appends are multiset semantics)
    assert(CowTable.read(spark, root).get.where($"id" === 6L).count() == 2L)
  }

  test("the pure-I overlap guard orders numeric key bounds numerically: " +
      "a duplicate whose batch spans a digit-length boundary is caught") {
    // incumbent key 999; the appended batch holds {999, 1000}. As
    // STRINGS min/max invert ("1000" < "999"), an empty interval that
    // would prune the incumbent's file and wrongly publish a pure-I
    // sidecar for a batch that UPDATES an existing key.
    val root = tmp()
    CowTable.commitFull(
      Seq((999L, "p1", "a", 1.0)).toDF("id", "part", "name", "score"),
      root, 1L, Seq("part"), changeLogKeys = Seq("id"))
    CowTable.commitAppend(
      Seq((999L, "p1", "a2", 2.0), (1000L, "p1", "b", 3.0))
        .toDF("id", "part", "name", "score"),
      root, 2L, Seq("part"), changeLogKeys = Seq("id"))
    assert(CowTable.changeLogFor(spark, root, 2L).isEmpty,
      "duplicate key 999 must suppress the pure-I sidecar even when " +
        "lexicographic bounds would invert the probe interval")
    // negative keys invert the other way ("-5" > "-10" as strings)
    val root2 = tmp()
    CowTable.commitFull(
      Seq((-5L, "p1", "a", 1.0)).toDF("id", "part", "name", "score"),
      root2, 1L, Seq("part"), changeLogKeys = Seq("id"))
    CowTable.commitAppend(
      Seq((-5L, "p1", "a2", 2.0), (-10L, "p1", "b", 3.0))
        .toDF("id", "part", "name", "score"),
      root2, 2L, Seq("part"), changeLogKeys = Seq("id"))
    assert(CowTable.changeLogFor(spark, root2, 2L).isEmpty,
      "duplicate negative key must suppress the pure-I sidecar")
    // and a genuinely fresh batch across the same boundary still
    // publishes (the guard must not become always-skip)
    val root3 = tmp()
    CowTable.commitFull(
      Seq((999L, "p1", "a", 1.0)).toDF("id", "part", "name", "score"),
      root3, 1L, Seq("part"), changeLogKeys = Seq("id"))
    CowTable.commitAppend(
      Seq((1000L, "p1", "b", 3.0), (1001L, "p1", "c", 4.0))
        .toDF("id", "part", "name", "score"),
      root3, 2L, Seq("part"), changeLogKeys = Seq("id"))
    assert(CowTable.changeLogFor(spark, root3, 2L).isDefined,
      "a fresh-key batch must still publish its pure-I sidecar")
  }

  test("manifest-served aggregates: countFast/minMaxFast answer from " +
      "the manifest, refuse while tombstones are outstanding, and " +
      "recover after the fold") {
    val root = tmp()
    val base = spark.range(1, 1001)
      .select($"id", concat(lit("name-"), $"id").as("name"),
        CowTable.keyBucket(Seq("id"), 4).as("pb"))
    CowTable.commitFull(base, root, 1L, Seq("pb"), keep = 10)
    CowTable.commitAppend(
      spark.range(1001, 1201).select($"id",
        concat(lit("name-"), $"id").as("name"),
        CowTable.keyBucket(Seq("id"), 4).as("pb")),
      root, 2L, Seq("pb"), keep = 10)
    assert(CowTable.countFast(spark, root) == Some(1200L))
    assert(CowTable.minMaxFast(spark, root, "id") == Some(("1", "1200")))
    // strings refused (stats may be length-truncated)
    assert(CowTable.minMaxFast(spark, root, "name").isEmpty)
    // unknown column refused
    assert(CowTable.minMaxFast(spark, root, "nope").isEmpty)
    // outstanding deletion vectors poison both (the data files still
    // carry the deleted rows)
    CowTable.deleteKeysMor(spark, root, 3L,
      spark.range(1150, 1201).select($"id",
        CowTable.keyBucket(Seq("id"), 4).as("pb")),
      Seq("id"), Seq("pb"), keep = 10)
    assert(CowTable.countFast(spark, root).isEmpty,
      "countFast must refuse under outstanding deletion vectors")
    assert(CowTable.minMaxFast(spark, root, "id").isEmpty)
    // folding restores exactness with the post-delete values
    assert(CowTable.foldTombstones(spark, root, 4L, keep = 10))
    assert(CowTable.countFast(spark, root) == Some(1149L))
    assert(CowTable.minMaxFast(spark, root, "id") == Some(("1", "1149")))
    assert(CowTable.read(spark, root).get.count() == 1149L,
      "manifest count must agree with the scan")
  }

  test("partition layout evolution: repartitionTable moves the table " +
      "to a new layout in one commit; time travel keeps the old " +
      "layout; partial commits with a changed layout stay refused") {
    val root = tmp()
    val base = spark.range(1, 1001)
      .select($"id", ($"id" % 5).cast("int").as("seg"),
        CowTable.keyBucket(Seq("id"), 4).as("pb"))
    CowTable.commitFull(base, root, 1L, Seq("pb"), keep = 10)
    // partial commit under a DIFFERENT layout: refused (carried files
    // would straddle two layouts)
    intercept[IllegalArgumentException] {
      CowTable.upsert(spark, root, 2L,
        spark.range(1, 11).select($"id", lit(9).as("seg"),
          CowTable.keyBucket(Seq("id"), 4).as("pb")),
        Seq("id"), Seq("seg"), keep = 10)
    }
    // full relayout pb → seg
    CowTable.repartitionTable(spark, root, 2L, Seq("seg"), keep = 10)
    val m = CowTable.currentManifest(spark, root).get
    assert(m.partCols == Seq("seg"))
    // content identical across the relayout
    assert(CowTable.read(spark, root).get.orderBy("id").collect().toSeq
      == base.orderBy("id").collect().toSeq)
    // time travel to the OLD layout still reads correctly
    assert(CowTable.readAt(spark, root, 1L).get.orderBy("id").collect()
      .toSeq == base.orderBy("id").collect().toSeq)
    // partial commits now key off the NEW layout: an upsert partitioned
    // by seg touches only seg partitions
    CowTable.upsert(spark, root, 3L,
      spark.range(2000, 2011).select($"id", lit(2).cast("int").as("seg"),
        CowTable.keyBucket(Seq("id"), 4).as("pb")),
      Seq("id"), Seq("seg"), keep = 10)
    assert(CowTable.read(spark, root).get.count() == 1011)
    // and skipping stats survived the relayout
    assert(CowTable.readWhereBetween(spark, root, "id",
      Some("2000"), Some("2010")).count() == 11)
  }

  test("a string-form-changing widening (float→double) drops carried " +
      "stats with the blooms: minMaxFast refuses, the envelope read " +
      "keeps the stat-less files and stays exact") {
    val root = tmp()
    CowTable.commitFull(
      spark.range(1, 101).select($"id", $"id".cast("float").as("x"),
        CowTable.keyBucket(Seq("id"), 4).as("pb")),
      root, 1L, Seq("pb"), keep = 10)
    // widen x to double via an append — carried files keep float-era
    // data; their "0.1"-style stats would understate the upcast values
    CowTable.commitAppend(
      spark.range(101, 121).select($"id",
        ($"id" + 0.5).cast("double").as("x"),
        CowTable.keyBucket(Seq("id"), 4).as("pb")),
      root, 2L, Seq("pb"), keep = 10)
    assert(CowTable.minMaxFast(spark, root, "x").isEmpty,
      "widened column must refuse manifest-served extremes (carried " +
        "stats are float-era)")
    // untouched columns keep serving
    assert(CowTable.minMaxFast(spark, root, "id") == Some(("1", "120")))
    // envelope reads on the widened column stay EXACT: carried files
    // lost their stats, so they are kept and filtered residually
    val got = CowTable.readWhereBetween(spark, root, "x",
      Some("10"), Some("50")).count()
    val want = CowTable.read(spark, root).get
      .where($"x" >= 10.0 && $"x" <= 50.0).count()
    assert(got == want, s"envelope read $got vs direct $want")
  }

  test("restore commits the target snapshot BY REFERENCE: no batch dir " +
      "is written, content returns to the target, history is preserved, " +
      "and the bad commits stay addressable until retention") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"))
    val filesAfterV1 = dataFileState(root)
    // the "bad" commit mangles p1
    val bad = Seq((1L, "p1", "CORRUPT", -1.0), (2L, "p1", "CORRUPT", -1.0))
      .toDF("id", "part", "name", "score")
    CowTable.upsert(spark, root, 2L, bad, Seq("id"), Seq("part"), keep = 10)
    val newId = CowTable.restore(spark, root, 1L, keep = 10)
    assert(newId == 3L, s"restore must commit the next id, got $newId")
    // content is exactly snapshot 1's, and no new DATA file was written:
    // batch-3 does not exist, and every v1 file survives path+mtime
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new Path(s"$root/batch-3")),
      "restore must not write data files — it re-references the target's")
    val after = dataFileState(root)
    filesAfterV1.foreach { case (p, t) =>
      assert(after.get(p).contains(t), s"v1 file rewritten or removed: $p")
    }
    assert(CowTable.read(spark, root).get.orderBy("id").collect().toSeq ==
      base3.orderBy("id").collect().toSeq)
    // history preserved: the bad snapshot still time-travels
    assert(CowTable.committedIds(spark, root) == Seq(1L, 2L, 3L))
    assert(CowTable.readAt(spark, root, 2L).get
      .where($"id" === 1L).select("name").as[String].head() == "CORRUPT")
    // restore to the current snapshot is a no-op (no commit 4)
    assert(CowTable.restore(spark, root, 3L, keep = 10) == 3L)
    assert(CowTable.committedIds(spark, root) == Seq(1L, 2L, 3L))
  }

  test("restore under retention: keep=2 prunes the target's own " +
      "manifest, but the restored snapshot keeps serving its content " +
      "(batch dirs live by reference); a vacuumed restore target is " +
      "refused with the retention hint") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"))
    CowTable.commitFull(
      base3.withColumn("score", col("score") + 1), root, 2L, Seq("part"))
    // restore(keep=2) retains manifests [2, 3]; manifest-1 is pruned,
    // yet batch-1's files live on via manifest-3's references
    CowTable.restore(spark, root, 1L, keep = 2)
    assert(CowTable.readAt(spark, root, 1L).isEmpty,
      "the pruned manifest must be un-addressable")
    assert(CowTable.read(spark, root).get.orderBy("id").collect().toSeq ==
      base3.orderBy("id").collect().toSeq,
      "restored snapshot must serve the target's content after vacuum")
    // restoring TO a vacuumed id fails loud, naming retention
    val e = intercept[IllegalArgumentException] {
      CowTable.restore(spark, root, 1L, keep = 2)
    }
    assert(e.getMessage.contains("vacuumed"),
      s"refusal must cite retention: ${e.getMessage}")
  }

  test("CHECK constraints: registration validates EXISTING data; a " +
      "violating commit throws naming the constraint and the row, " +
      "publishing nothing; NULL passes (SQL CHECK semantics); both " +
      "the partition-rewrite and append paths enforce") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"))
    CowTable.setCheckConstraints(spark, root, Map(
      "score_pos" -> "score > 0", "name_nn" -> "name IS NOT NULL"))
    // violating upsert: refused, nothing published
    val bad = Seq((9L, "p1", "x", -5.0)).toDF("id", "part", "name", "score")
    val e = intercept[graft.sinks.CowConstraintException] {
      CowTable.upsert(spark, root, 2L, bad, Seq("id"), Seq("part"))
    }
    assert(e.getMessage.contains("score_pos") &&
      e.getMessage.contains("-5"), s"undiagnostic error: ${e.getMessage}")
    assert(CowTable.committedIds(spark, root) == Seq(1L),
      "refused commit must publish nothing")
    // NULL passes: `score > 0` evaluates NULL for a NULL score
    val nullScore = Seq((9L, "p1", "x", Option.empty[Double]))
      .toDF("id", "part", "name", "score")
    CowTable.upsert(spark, root, 2L, nullScore, Seq("id"), Seq("part"))
    assert(CowTable.committedIds(spark, root) == Seq(1L, 2L))
    // a set the EXISTING data violates is refused at registration and
    // the previous set stays in force
    intercept[graft.sinks.CowConstraintException] {
      CowTable.setCheckConstraints(spark, root, Map("low" -> "score < 40"))
    }
    assert(CowTable.checkConstraints(spark, root).keySet ==
      Set("score_pos", "name_nn"))
    // the append path enforces the same set
    intercept[graft.sinks.CowConstraintException] {
      CowTable.commitAppend(
        Seq((10L, "p2", null.asInstanceOf[String], 7.0))
          .toDF("id", "part", "name", "score"),
        root, 3L, Seq("part"))
    }
    assert(CowTable.committedIds(spark, root) == Seq(1L, 2L))
  }

  test("restore undoes a schema evolution: after a widening + added " +
      "column commit, restore returns the table to the old schema") {
    val root = tmp()
    val v1 = Seq((1L, "p1", 10), (2L, "p2", 20)).toDF("id", "part", "v")
    CowTable.commitFull(v1, root, 1L, Seq("part"))
    // evolution: v widens int->long, new nullable column `tag`
    val v2 = Seq((1L, "p1", 11L, "t"), (2L, "p2", 21L, "t"))
      .toDF("id", "part", "v", "tag")
    CowTable.commitFull(v2, root, 2L, Seq("part"), keep = 10)
    CowTable.restore(spark, root, 1L, keep = 10)
    val m = CowTable.currentManifest(spark, root).get
    assert(m.schema.fieldNames.toSeq == Seq("id", "part", "v"),
      s"restored schema must be v1's: ${m.schema.toDDL}")
    assert(m.schema("v").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(CowTable.read(spark, root).get.orderBy("id")
      .select("v").as[Int].collect().toSeq == Seq(10, 20))
  }

  test("optimizeZorder: the rewritten layout prunes on BOTH clustering " +
      "dimensions, content stays byte-identical, and outstanding " +
      "tombstones fold") {
    val root = tmp()
    // decorrelated x/y over 2 partitions, committed as one file per
    // partition — every envelope spans everything before the optimize
    val data = spark.range(0, 2000).selectExpr(
      "id", "CAST(id % 2 AS STRING) AS part",
      "CAST(id % 50 AS LONG) AS x",
      "CAST(pmod(id * 37, 50) AS LONG) AS y")
    CowTable.commitFull(data, root, 1L, Seq("part"))
    CowTable.deleteKeysMor(spark, root, 2L,
      spark.range(0, 10).selectExpr("id", "CAST(id % 2 AS STRING) AS part"),
      Seq("id"), Seq("part"))
    val before = CowTable.read(spark, root).get.collect().toSet
    assert(CowTable.optimizeZorder(spark, root, 3L, Seq("x", "y"),
      targetFileBytes = 2 * 1024))
    val m = CowTable.currentManifest(spark, root).get
    assert(m.dvs.isEmpty, "optimize must fold MOR deletion vectors")
    assert(m.files.size > 4, s"premise: multiple z-files (${m.files.size})")
    assert(CowTable.read(spark, root).get.collect().toSet == before,
      "optimize must not change table content")
    // both dimensions now prune: a narrow range on each keeps fewer
    // files than the layout holds
    val total = m.files.size
    val keptX = CowTable.filesForRange(spark, root, "x",
      Some("0"), Some("4")).size
    val keptY = CowTable.filesForRange(spark, root, "y",
      Some("0"), Some("4")).size
    assert(keptX < total && keptY < total,
      s"z-order layout must prune both dims: x=$keptX y=$keptY of $total")
  }

  test("fileStats serves the files metadata table from the manifest: " +
      "per-file stats triad visible, DV sidecars flagged, no data read") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"),
      bloomCols = Seq("name"))
    CowTable.deleteKeysMor(spark, root, 2L,
      Seq((1L, "p1")).toDF("id", "part"), Seq("id"), Seq("part"))
    val fsRows = CowTable.fileStats(spark, root).collect()
    assert(fsRows.count(_.getAs[String]("kind") == "dv") == 1)
    val p1 = fsRows.find(r => r.getAs[String]("kind") == "data" &&
      r.getAs[String]("partition").contains("p1")).get
    assert(p1.getAs[Long]("n_rows") == 2L)
    assert(p1.getAs[Map[String, String]]("mins").get("id").contains("1"))
    assert(p1.getAs[Map[String, Long]]("null_counts").get("name")
      .contains(0L))
    assert(p1.getAs[scala.collection.Seq[String]]("bloom_cols").toSeq ==
      Seq("name"))
  }

  test("deleteWhere rewrites ONLY partitions holding matching rows; a " +
      "NULL predicate keeps its row (SQL DELETE semantics); a no-match " +
      "prune hint leaves the id unconsumed") {
    val root = tmp()
    val data = Seq(
      (1L, "p1", "a", Some(10.0)), (2L, "p1", "b", Some(20.0)),
      (3L, "p2", "c", None), (4L, "p2", "d", Some(40.0)),
      (5L, "p3", "e", Some(50.0)))
      .toDF("id", "part", "name", "score")
    CowTable.commitFull(data, root, 1L, Seq("part"))
    val before = dataFileState(root)
    // score > 45 hits p3 only; p2's NULL score row must survive
    CowTable.deleteWhere(spark, root, 2L, col("score") > 45)
    val after = dataFileState(root)
    before.filterNot(_._1.contains("__gp_part=p3")).foreach {
      case (p, mt) => assert(after.get(p).contains(mt),
        s"partition without matches was rewritten: $p") }
    assert(CowTable.read(spark, root).get.select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // over-approximating hint that matches nothing: no-op, id reusable
    CowTable.deleteWhere(spark, root, 3L, col("score") > 100,
      prune = Seq(graft.sinks.CowRange("score",
        Some("100.0"), None)))
    assert(CowTable.committedIds(spark, root) == Seq(1L, 2L),
      "a no-candidate delete must not consume the id")
    assert(CowTable.read(spark, root).get.count() == 4)
    // with changeLogKeys the delete publishes a signed sidecar (a
    // sidecar-fed MV would otherwise silently miss the retraction)
    CowTable.deleteWhere(spark, root, 3L, col("id") === 4L,
      changeLogKeys = Seq("id"))
    val feed = CowTable.changeLogFor(spark, root, 3L)
      .getOrElse(fail("deleteWhere with changeLogKeys wrote no sidecar"))
    assert(feed.where($"oper" === "D").select("id")
      .as[Long].collect().toSeq == Seq(4L))
  }

  test("fsck: a healthy table is clean; an externally deleted data " +
      "file reports as missing; an unreferenced batch file as orphan; " +
      "a staged commit is listed, its files NOT counted as orphans") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"))
    assert(CowTable.fsck(spark, root).clean)
    // stage an append: its batch files must not read as orphans
    CowTable.stageAppend(
      Seq((9L, "p1", "z", 90.0)).toDF("id", "part", "name", "score"),
      root, 2L, Seq("part"))
    val withStage = CowTable.fsck(spark, root)
    assert(withStage.missing.isEmpty && withStage.orphans.isEmpty)
    assert(withStage.staged == Seq(2L))
    CowTable.discardStaged(spark, root, 2L)
    // plant an orphan batch file (crashed writer's leftover)
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    base3.limit(1).write.parquet(s"$root/batch-99/junk")
    val withOrphan = CowTable.fsck(spark, root)
    assert(withOrphan.missing.isEmpty && withOrphan.staged.isEmpty)
    assert(withOrphan.orphans.nonEmpty &&
      withOrphan.orphans.forall(_.startsWith("batch-99/")))
    fs.delete(new Path(s"$root/batch-99"), true)
    // externally delete a referenced file
    val victim = CowTable.currentManifest(spark, root).get.files.head.path
    fs.delete(new Path(s"$root/$victim"), false)
    val withMissing = CowTable.fsck(spark, root)
    assert(withMissing.missing == Seq(victim))
  }

  test("partitionStats serves the partitions metadata table from the " +
      "manifest (no data read), stays EXACT under outstanding MOR debt " +
      "by rescanning only the debt partitions, and is manifest-only " +
      "again after a fold") {
    val root = tmp()
    CowTable.commitFull(base3, root, 1L, Seq("part"))
    val st = CowTable.partitionStats(spark, root)
      .orderBy("part").collect()
    assert(st.map(r => (r.getString(0), r.getAs[Long]("n_rows"))).toSeq ==
      Seq(("p1", 2L), ("p2", 2L), ("p3", 1L)))
    assert(st.forall(r => r.getAs[Long]("n_files") == 1L))
    assert(st.forall(r => r.getAs[Long]("n_bytes") > 0L))
    // a MOR delete makes the MANIFEST's per-partition counts
    // overstatements — the table now (round-18) recomputes the debt
    // partitions' rows from the subtracted read instead of refusing
    CowTable.deleteKeysMor(spark, root, 2L,
      Seq((1L, "p1")).toDF("id", "part"), Seq("id"), Seq("part"))
    val debt = CowTable.partitionStats(spark, root)
      .orderBy("part").collect()
    assert(debt.map(r => (r.getString(0), r.getAs[Long]("n_rows"))).toSeq ==
      Seq(("p1", 1L), ("p2", 2L), ("p3", 1L)),
      "debt partitions must serve exact (subtracted) counts")
    assert(debt.forall(r => r.getAs[Long]("n_bytes") > 0L))
    assert(CowTable.foldTombstones(spark, root, 3L))
    val folded = CowTable.partitionStats(spark, root)
      .orderBy("part").collect()
    assert(folded.map(r => (r.getString(0), r.getAs[Long]("n_rows"))).toSeq ==
      Seq(("p1", 1L), ("p2", 2L), ("p3", 1L)))
    // NULL partition under debt (review r18): sidecar part maps carry
    // the NULL partition as a null VALUE — the debt filter and join
    // must go IS NULL, not equality (which would select nothing and
    // report 0 for a partition that still has live rows)
    assert(CowTable.commitAppend(Seq(
        (8L, null.asInstanceOf[String], "h", 80.0),
        (9L, null.asInstanceOf[String], "i", 90.0))
      .toDF("id", "part", "name", "score"), root, 4L, Seq("part")))
    CowTable.deleteKeysMor(spark, root, 5L,
      Seq((8L, null.asInstanceOf[String])).toDF("id", "part"),
      Seq("id"), Seq("part"))
    val withNull = CowTable.partitionStats(spark, root).collect()
      .map(r => Option(r.getString(0)) -> r.getAs[Long]("n_rows")).toMap
    assert(withNull == Map(None -> 1L, Some("p1") -> 1L,
      Some("p2") -> 2L, Some("p3") -> 1L),
      s"NULL-partition debt totals wrong: $withNull")
  }

  test("partitionStats under debt stays exact for string partition " +
      "values LONGER than the stat-length cap: the part map stores the " +
      "raw value (only min/max stat cells truncate), so the debt join " +
      "keys on full strings") {
    val root = tmp()
    // two values sharing an 80-char prefix, differing past the cap —
    // a truncated-key join would merge them (review r18)
    val long1 = "x" * 80 + "A"
    val long2 = "x" * 80 + "B"
    CowTable.commitFull(
      Seq((1L, long1), (2L, long1), (3L, long2), (4L, long2))
        .toDF("id", "part"),
      root, 1L, Seq("part"))
    CowTable.deleteKeysMor(spark, root, 2L,
      Seq((1L, long1)).toDF("id", "part"), Seq("id"), Seq("part"))
    val st = CowTable.partitionStats(spark, root).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_rows")).toMap
    assert(st == Map(long1 -> 1L, long2 -> 2L),
      s"long-partition debt totals wrong: ${st.map { case (k, v) =>
        s"${k.takeRight(4)}(len ${k.length})->$v" }}")
  }
}
