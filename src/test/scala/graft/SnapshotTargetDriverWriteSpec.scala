package graft

import java.nio.file.Files

import graft.sinks.SnapshotTarget

/** Round-20 pin for the SnapshotTarget driver-side commit fast path
  * (the mirror of r19's driver-side manifest write): a LocalRelation
  * frame of control-plane size — the stream-join view's per-batch
  * frontier snapshot is `Seq((fa, fb)).toDF` — commits with ZERO
  * Spark jobs, reads back identically through the normal reader, and
  * the seam (sysprop, 0 forces the job-based write) is a pure
  * execution-strategy switch, never a semantic one.
  */
class SnapshotTargetDriverWriteSpec extends SparkSpec {
  import spark.implicits._

  test("a LocalRelation snapshot commits with zero Spark jobs and " +
      "reads back identically; a distributed frame keeps the job path") {
    val root = Files.createTempDirectory("stdw").toString
    val (jobs, _) = jobsDuring {
      SnapshotTarget.commit(Seq((7L, 9L)).toDF("fa", "fb"), root, 1L,
        keep = 4)
    }
    assert(jobs == 0L,
      s"a 1-row LocalRelation commit launched $jobs Spark jobs — the " +
        "driver-side fast path must launch none")
    assert(SnapshotTarget.committedIds(spark, root) == Seq(1L))
    assert(SnapshotTarget.read(spark, root).get
      .as[(Long, Long)].collect().toSeq == Seq((7L, 9L)),
      "driver-written snapshot must read back through the normal reader")
    // a genuinely distributed frame does not take the fast path (and
    // still commits correctly)
    SnapshotTarget.commit(
      spark.range(5).selectExpr("id AS fa", "id AS fb"), root, 2L,
      keep = 4)
    assert(SnapshotTarget.read(spark, root).get.count() == 5L)
    // time travel across the mixed write paths stays exact
    assert(SnapshotTarget.readAt(spark, root, 1L).get
      .as[(Long, Long)].collect().toSeq == Seq((7L, 9L)))
  }

  test("the seam is execution-strategy only: sysprop 0 forces the " +
      "job-based write and the bytes resolve identically") {
    val root = Files.createTempDirectory("stdw2").toString
    val prop = "graft.snapshot.driverWriteMaxRows"
    val old = sys.props.get(prop)
    SnapshotTarget.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      root, 1L, keep = 4)
    sys.props(prop) = "0"
    try
      SnapshotTarget.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
        root, 2L, keep = 4)
    finally old match {
      case Some(v) => sys.props(prop) = v
      case None => sys.props.remove(prop): Unit
    }
    val a = SnapshotTarget.readAt(spark, root, 1L).get
      .orderBy("k").collect().toSeq
    val b = SnapshotTarget.readAt(spark, root, 2L).get
      .orderBy("k").collect().toSeq
    assert(a == b, s"driver-side vs job-based snapshot diverged: $a vs $b")
  }
}
