package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.sinks.SnapshotTarget
import graft.streaming.StreamOps

/** Streaming SCD-1 upsert into a snapshot-versioned parquet target:
  * the foreachBatch + Merge.upsert composition, with the exactly-once
  * crash-replay contract proven at both the batch and streaming level.
  */
class StreamingUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def state(root: String): Seq[(Long, String)] =
    SnapshotTarget.read(spark, root)
      .map(_.orderBy("id").as[(Long, String)].collect().toSeq)
      .getOrElse(Nil)

  test("snapshot target: only _SUCCESS-committed snapshots are visible, " +
      "prune keeps the newest two") {
    val root = Files.createTempDirectory("graft-snap").toString + "/t"
    assert(SnapshotTarget.read(spark, root).isEmpty)
    SnapshotTarget.commit(Seq((1L, "a")).toDF("id", "v"), root, 0L)
    SnapshotTarget.commit(Seq((1L, "b")).toDF("id", "v"), root, 1L)
    // a half-written snapshot: directory without _SUCCESS is invisible
    val partial = new java.io.File(s"$root/snap-5")
    partial.mkdirs()
    assert(SnapshotTarget.committedIds(spark, root) == Seq(0L, 1L))
    assert(state(root) == Seq((1L, "b")))
    SnapshotTarget.commit(Seq((1L, "c")).toDF("id", "v"), root, 6L)
    // prune dropped snap-0 AND the sub-cutoff partial; kept 1 and 6
    assert(SnapshotTarget.committedIds(spark, root) == Seq(1L, 6L))
    assert(!partial.exists())
    assert(state(root) == Seq((1L, "c")))
  }

  test("time travel: readAt returns the state as of a batch id, within " +
      "retention") {
    val root = Files.createTempDirectory("graft-tt2").toString + "/t"
    StreamOps.upsertBatch(Seq(1L -> "a").toDF("id", "v"), 0L, root, Seq("id"))
    StreamOps.upsertBatch(Seq(1L -> "b").toDF("id", "v"), 1L, root, Seq("id"))
    def at(id: Long) = SnapshotTarget.readAt(spark, root, id)
      .map(_.as[(Long, String)].collect().toSeq)
    assert(at(0L) == Some(Seq(1L -> "a")))
    assert(at(1L) == Some(Seq(1L -> "b")))
    assert(at(99L) == Some(Seq(1L -> "b"))) // future id → latest ≤ id
    // a third commit prunes snapshot 0 (keep=2): history has a horizon
    StreamOps.upsertBatch(Seq(1L -> "c").toDF("id", "v"), 2L, root, Seq("id"))
    assert(at(0L).isEmpty)
    assert(at(1L) == Some(Seq(1L -> "b")))
  }

  test("upsertBatch merges sequential batches and SKIPS a replayed one") {
    val root = Files.createTempDirectory("graft-ub").toString + "/t"
    def b(rows: (Long, String)*) = rows.toDF("id", "v")
    StreamOps.upsertBatch(b(1L -> "a", 2L -> "b"), 0L, root, Seq("id"))
    StreamOps.upsertBatch(b(2L -> "b2", 3L -> "c"), 1L, root, Seq("id"))
    val after = state(root)
    assert(after == Seq(1L -> "a", 2L -> "b2", 3L -> "c"))
    // crash-after-commit replay: batch 1 re-delivered → exact no-op,
    // even with DIFFERENT content (the commit already happened; replay
    // must not double-apply or fork state)
    StreamOps.upsertBatch(b(2L -> "evil"), 1L, root, Seq("id"))
    assert(state(root) == after)
    assert(SnapshotTarget.committedIds(spark, root) == Seq(0L, 1L))
  }

  test("streaming MV refresh: per-batch state merges are bit-equal to " +
      "a from-scratch recompute, and a replayed batch never " +
      "double-folds its sums") {
    import graft.operators.MaterializedAgg
    val root = Files.createTempDirectory("graft-mv-stream").toString + "/s"
    def b(rows: (String, Double)*) = rows.toDF("k", "v")
    val b0 = b("x" -> 1.5, "x" -> 2.25, "y" -> 10.0)
    val b1 = b("x" -> 4.0, "z" -> -3.5)
    val b2 = b("y" -> 0.25)
    StreamOps.mvBatch(b0, 0L, root, Seq("k"), Seq("v"))
    StreamOps.mvBatch(b1, 1L, root, Seq("k"), Seq("v"))
    // crash-after-commit replay of batch 1 — sums must NOT double
    StreamOps.mvBatch(b1, 1L, root, Seq("k"), Seq("v"))
    StreamOps.mvBatch(b2, 2L, root, Seq("k"), Seq("v"))
    val got = MaterializedAgg.finish(
        SnapshotTarget.read(spark, root).get, Seq("v"))
      .orderBy("k").collect().toSeq
    val want = MaterializedAgg.finish(
        MaterializedAgg.state(b0.unionByName(b1).unionByName(b2),
          Seq("k"), Seq("v")), Seq("v"))
      .orderBy("k").collect().toSeq
    assert(got == want,
      "streamed state diverged from the from-scratch recompute")
  }

  test("crash mid-batch: restart replays the micro-batch and the target " +
      "converges to the exactly-once state") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-sups").toString
    val root = s"$dir/target"
    val in = MemoryStream[(Long, String)]
    val updates = in.toDF().toDF("id", "v")

    // injected fault AFTER the snapshot commit of batch 1 but BEFORE
    // the streaming checkpoint commits — the worst spot: the replay
    // sees an already-committed snapshot and must skip, not re-merge
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    def writer(batch: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      StreamOps.upsertBatch(batch, id, root, Seq("id"))
      if (id == 1 && failOnce.getAndSet(false))
        throw new RuntimeException("injected crash after snapshot commit")
    }

    val q1 = StreamOps.foreachBatchSink(updates, s"$dir/ckpt")(writer)
    in.addData(1L -> "a", 2L -> "b")
    q1.processAllAvailable() // batch 0 lands
    in.addData(2L -> "b2", 3L -> "c")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable() // batch 1 commits its snapshot, then dies
    }
    assert(!q1.isActive)
    assert(state(root) == Seq(1L -> "a", 2L -> "b2", 3L -> "c"))

    // restart from the same checkpoint: batch 1 replays (skip), stream
    // continues with batch 2
    val q2 = StreamOps.upsertSink(updates, root, Seq("id"), s"$dir/ckpt")
    try {
      q2.processAllAvailable()
      in.addData(3L -> "c2", 4L -> "d")
      q2.processAllAvailable()
      assert(state(root) ==
        Seq(1L -> "a", 2L -> "b2", 3L -> "c2", 4L -> "d"))
    } finally q2.stop()
  }

  test("streaming CDC sink applies I/U/D micro-batches with deletes; " +
      "replayed batches are no-ops") {
    val dir = Files.createTempDirectory("graft-scdc").toString
    val root = s"$dir/target"
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val q = StreamOps.cdcSink(in.toDF().toDF("id", "v", "oper"), root,
      Seq("id"), s"$dir/ckpt")
    try {
      in.addData((1L, "a", "I"), (2L, "b", "I"))
      q.processAllAvailable()
      in.addData((2L, "b2", "U"), (1L, "", "D"), (3L, "c", "I"))
      q.processAllAvailable()
      assert(state(root) == Seq(2L -> "b2", 3L -> "c"))
    } finally q.stop()
    // crash-after-commit replay of the last batch: exact no-op
    StreamOps.cdcBatch(
      Seq((3L, "evil", "U")).toDF("id", "v", "oper"), 1L, root, Seq("id"))
    assert(state(root) == Seq(2L -> "b2", 3L -> "c"))
  }

  test("streaming SCD-2 CDC sink: history accumulates across batches, " +
      "deletes close versions, replay is a no-op") {
    val dir = Files.createTempDirectory("graft-s2c").toString
    val root = s"$dir/target"
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long, String)]
    val q = StreamOps.scd2CdcSink(in.toDF().toDF("id", "v", "eff", "oper"),
      root, Seq("id"), "eff", s"$dir/ckpt")
    try {
      in.addData((1L, "a", 100L, "I"), (2L, "b", 100L, "I"))
      q.processAllAvailable()
      in.addData((1L, "a2", 200L, "U"), (2L, "", 200L, "D"))
      q.processAllAvailable()
      val out = SnapshotTarget.read(spark, root).get
        .orderBy("id", "effective_from")
        .as[(Long, String, Long, Option[Long], Boolean)].collect().toSeq
      assert(out == Seq(
        (1L, "a", 100L, Some(200L), false),
        (1L, "a2", 200L, None, true),
        (2L, "b", 100L, Some(200L), false))) // deleted: closed, none open
    } finally q.stop()
    // replay of the last batch (crash after snapshot commit) is a no-op
    StreamOps.scd2CdcBatch(
      Seq((1L, "evil", 200L, "U")).toDF("id", "v", "eff", "oper"),
      1L, root, Seq("id"), "eff")
    assert(SnapshotTarget.committedIds(spark, root) == Seq(0L, 1L))
  }

  test("schema EVOLVES through the streaming sink at a snapshot " +
      "boundary, exactly-once under crash-replay: a redeployed stream " +
      "with a widened schema grows the target, old rows read NULL") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-sevo").toString
    val root = s"$dir/target"

    // deployment 1: narrow schema (id, v)
    val inA = MemoryStream[(Long, String)]
    val qA = StreamOps.upsertSink(inA.toDF().toDF("id", "v"), root,
      Seq("id"), s"$dir/ckptA", evolveSchema = true)
    try {
      inA.addData(1L -> "a", 2L -> "b")
      qA.processAllAvailable()
    } finally qA.stop()
    assert(SnapshotTarget.read(spark, root).get.columns.toSeq ==
      Seq("id", "v"))

    // deployment 2: widened schema (id, v, w); fresh checkpoint, so the
    // redeploy recipe offsets batch ids past the committed frontier —
    // the id space stays monotonic per TARGET, which is what the
    // replay-skip contract keys on
    val offset = SnapshotTarget.committedIds(spark, root).last + 1
    val inB = MemoryStream[(Long, String, Long)]
    val updatesB = inB.toDF().toDF("id", "v", "w")
    // worst-spot crash: AFTER the widening batch's snapshot commit,
    // BEFORE the streaming checkpoint records it
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    val qB = StreamOps.foreachBatchSink(updatesB, s"$dir/ckptB") {
      (batch, id) =>
        StreamOps.upsertBatch(batch, offset + id, root, Seq("id"),
          evolveSchema = true)
        if (id == 0 && failOnce.getAndSet(false))
          throw new RuntimeException("injected crash after evolving commit")
    }
    inB.addData((2L, "b2", 20L), (3L, "c", 30L))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      qB.processAllAvailable()
    }
    assert(!qB.isActive)
    // the widening landed despite the crash...
    assert(SnapshotTarget.read(spark, root).get.columns.toSeq ==
      Seq("id", "v", "w"))

    // ...and the restart replays the widening batch as a NO-OP, then
    // keeps flowing with the grown schema
    val qB2 = StreamOps.foreachBatchSink(updatesB, s"$dir/ckptB") {
      (batch, id) =>
        StreamOps.upsertBatch(batch, offset + id, root, Seq("id"),
          evolveSchema = true)
    }
    try {
      qB2.processAllAvailable()
      inB.addData((4L, "d", 40L))
      qB2.processAllAvailable()
    } finally qB2.stop()

    val out = SnapshotTarget.read(spark, root).get.orderBy("id")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(out == Seq(
      (1L, "a", None), // pre-evolution row reads NULL for w
      (2L, "b2", Some(20L)),
      (3L, "c", Some(30L)),
      (4L, "d", Some(40L))))
    // exactly-once: one snapshot per applied batch, no forked state
    assert(SnapshotTarget.committedIds(spark, root).size == 2) // keep=2
  }

  test("COW streaming upsert: micro-batches rewrite only touched " +
      "buckets, survive a worst-spot crash exactly-once, and untouched " +
      "bucket files persist across batches") {
    import graft.sinks.CowTable
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft-cowstream").toString
    val root = s"$dir/target"
    val in = MemoryStream[(Long, String)]
    val updates = in.toDF().toDF("id", "v")
      .withColumn("pb", CowTable.keyBucket(Seq("id"), 4))

    def cowState = CowTable.read(spark, root)
      .map(_.orderBy("id").select("id", "v")
        .as[(Long, String)].collect().toSeq).getOrElse(Nil)
    def fileState: Map[String, Long] = {
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sessionState.newHadoopConf())
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
        if (!fs.exists(p)) Nil
        else fs.listStatus(p).toSeq.flatMap {
          case d if d.isDirectory => walk(d.getPath)
          case f if f.getPath.getName.endsWith(".parquet") &&
            f.getPath.toString.contains("/batch-") =>
            Seq(f.getPath.toString -> f.getModificationTime)
          case _ => Nil
        }
      walk(new org.apache.hadoop.fs.Path(root)).toMap
    }

    // crash injected AFTER the COW commit of batch 1, BEFORE checkpoint
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    val q1 = StreamOps.foreachBatchSink(updates, s"$dir/ckpt") {
      (batch, id) =>
        CowTable.upsert(batch.sparkSession, root, id, batch,
          Seq("id"), Seq("pb"))
        if (id == 1 && failOnce.getAndSet(false))
          throw new RuntimeException("injected crash after COW commit")
    }
    in.addData((1L to 8L).map(k => k -> s"v$k"): _*)
    q1.processAllAvailable() // batch 0: 8 keys across 4 buckets
    val afterB0 = fileState
    in.addData(3L -> "v3b")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    assert(!q1.isActive)
    assert(cowState.contains(3L -> "v3b"), "batch-1 commit landed")

    // restart: batch 1 replays as a no-op, stream continues
    val q2 = StreamOps.foreachBatchSink(updates, s"$dir/ckpt") {
      (batch, id) =>
        if (!batch.isEmpty) // idle trigger: don't burn a commit id
          CowTable.upsert(batch.sparkSession, root, id, batch,
            Seq("id"), Seq("pb"))
    }
    try {
      q2.processAllAvailable()
      in.addData(9L -> "v9")
      q2.processAllAvailable()
    } finally q2.stop()
    assert(cowState ==
      ((1L to 8L).map(k => k -> (if (k == 3) "v3b" else s"v$k")) :+
        (9L -> "v9")).sortBy(_._1))
    // every batch-0 file whose bucket later batches never touched is
    // still the ORIGINAL file (path + mtime)
    val touchedBuckets = Seq(3L, 9L).map(k =>
      Seq(k -> "x").toDF("id", "v")
        .select(CowTable.keyBucket(Seq("id"), 4).cast("string"))
        .first().getString(0)).toSet
    val untouched = afterB0.filterNot { case (p, _) =>
      touchedBuckets.exists(b => p.contains(s"__gp_pb=$b")) }
    assert(untouched.nonEmpty)
    val now = fileState
    untouched.foreach { case (p, t) =>
      assert(now.get(p).contains(t), s"untouched bucket rewritten: $p")
    }
  }

  test("newest-wins versioning applies inside a micro-batch") {
    val dir = Files.createTempDirectory("graft-supv").toString
    val root = s"$dir/target"
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val q = StreamOps.upsertSink(in.toDF().toDF("id", "v", "ver"), root,
      Seq("id"), s"$dir/ckpt", versionCol = Some("ver"))
    try {
      in.addData((1L, "old", 1L), (1L, "new", 2L))
      q.processAllAvailable()
      // version column is dropped from the target schema
      val out = SnapshotTarget.read(spark, root).get
      assert(out.columns.toSeq == Seq("id", "v"))
      assert(out.as[(Long, String)].collect().toSeq == Seq(1L -> "new"))
    } finally q.stop()
  }
}
