package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions._

import graft.sinks.{CowConstraintException, CowTable}
import graft.streaming.CowStream

/** Regression pins for the round-11 advisor findings (ADVICE.md r11):
  * the MOR UPDATE fast path silently bypassed CHECK constraints, the
  * cow data source's `snapshot` option could serve a crashed writer's
  * orphan manifest, `vacuumOlderThan` raced concurrent commits through
  * its count-based translation (TOCTOU), and joinMv2's frontier used 0
  * as the "nothing applied" sentinel — colliding with a legal first
  * commit id of 0. Plus the round-11 verdict's hardening nit: mistyped
  * UPDATE SET assignments must fail loud, never silently become NULL.
  */
class AdviceFixesR11Spec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"advr11_$tag").toString

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  test("the merge-on-read update enforces CHECK constraints exactly " +
      "like its COW twin (MOR ≡ COW under constraints)") {
    val root = tmp("mor_chk")
    CowTable.commitFull(
      spark.range(20).select($"id", lit(5L).as("qty"),
        CowTable.keyBucket(Seq("id"), 2).as("pb")),
      root, 1L, Seq("pb"), keep = 10)
    CowTable.setCheckConstraints(spark, root,
      Map("qty_nonneg" -> "qty >= 0"))
    // the violating UPDATE through BOTH paths: each must reject, and
    // the table must be unchanged afterwards
    val before = CowTable.read(spark, root).get
      .orderBy("id").collect().toSeq
    val eCow = intercept[CowConstraintException] {
      CowTable.updateWhere(spark, root, 2L,
        $"id" < 3, Map("qty" -> lit(-1L)), keep = 10)
    }
    assert(eCow.getMessage.contains("qty_nonneg"))
    val eMor = intercept[CowConstraintException] {
      CowTable.updateWhereDv(spark, root, 2L,
        $"id" < 3, Map("qty" -> lit(-1L)), keep = 10)
    }
    assert(eMor.getMessage.contains("qty_nonneg"),
      s"MOR path bypassed the constraint: ${eMor.getMessage}")
    assert(CowTable.committedIds(spark, root) == Seq(1L),
      "a rejected MOR update must commit nothing")
    assert(CowTable.read(spark, root).get.orderBy("id").collect().toSeq
      == before, "table changed despite the rejected updates")
    // and a CONFORMING MOR update still commits as deletion vectors
    CowTable.updateWhereDv(spark, root, 2L,
      $"id" < 3, Map("qty" -> lit(7L)), keep = 10)
    assert(CowTable.read(spark, root).get.where($"qty" === 7L).count() == 3)
    assert(CowTable.currentManifest(spark, root).get.dvs.nonEmpty,
      "the conforming update should have written deletion vectors")
  }

  test("the cow source's snapshot option never serves an orphan " +
      "manifest: it resolves to the highest COMMITTED id ≤ snapshot") {
    val root = tmp("src_snap")
    CowTable.commitFull(spark.range(5).toDF("id"), root, 1L, Nil, keep = 10)
    CowTable.commitAppend(spark.range(5, 8).toDF("id"), root, 2L, Nil,
      keep = 10)
    // simulate a crashed writer: manifest-3 exists on disk with parquet
    // but no _SUCCESS — it must NOT be served as table state
    val f = fs(root)
    val conf = spark.sessionState.newHadoopConf()
    FileUtil.copy(f, new Path(s"$root/manifest-2"),
      f, new Path(s"$root/manifest-3"), false, conf)
    f.delete(new Path(s"$root/manifest-3/_SUCCESS"), false)
    val got = spark.read.format("cow").option("snapshot", 3)
      .load(root).count()
    assert(got == 8L,
      s"snapshot=3 must resolve to committed id 2 (8 rows), got $got")
    // exact committed id still addresses its own state
    assert(spark.read.format("cow").option("snapshot", 1)
      .load(root).count() == 5L)
    // below the first commit: loud, not empty
    val e = intercept[IllegalStateException] {
      spark.read.format("cow").option("snapshot", 0).load(root)
    }
    assert(e.getMessage.contains("no committed snapshot"))
  }

  test("vacuum's explicit id floor retains every in-horizon manifest " +
      "(vacuumOlderThan's TOCTOU-free translation)") {
    val root = tmp("vac_floor")
    (1L to 5L).foreach(i => CowTable.commitFull(
      spark.range(i).toDF("id"), root, i, Nil, keep = 10))
    // keep=1 alone would retain only id 5; the floor pins 3..5
    CowTable.vacuum(spark, root, keep = 1, floorId = Some(3L))
    assert(CowTable.committedIds(spark, root) == Seq(3L, 4L, 5L))
    // and the time-based form derives that floor from commit mtimes:
    // age ids 3 and 4 past the horizon, keep 5 fresh
    val f = fs(root)
    val old = System.currentTimeMillis() - 10L * 3600 * 1000
    Seq(3L, 4L).foreach(i => f.setTimes(
      new Path(s"$root/manifest-$i/_SUCCESS"), old, -1))
    CowTable.vacuumOlderThan(spark, root, 2L * 3600 * 1000, minKeep = 1)
    assert(CowTable.committedIds(spark, root) == Seq(5L),
      "aged-out manifests should be vacuumed down to minKeep")
  }

  test("joinMv2 applies a FIRST commit with id 0 exactly once (the " +
      "unapplied-frontier sentinel is -1, not 0)") {
    val ra = tmp("jmv0_a"); val rb = tmp("jmv0_b"); val mv = tmp("jmv0_mv")
    val nb = 2
    CowTable.commitFull(
      spark.range(10).select($"id".as("k"),
        concat(lit("a"), $"id").as("av"),
        CowTable.keyBucket(Seq("k"), nb).as("pa")),
      ra, 0L, Seq("pa"), keep = 10, changeLogKeys = Seq("k"))
    CowTable.commitFull(
      spark.range(5, 15).select($"id".as("k"),
        concat(lit("b"), $"id").as("bv"),
        CowTable.keyBucket(Seq("k"), nb).as("pbk")),
      rb, 0L, Seq("pbk"), keep = 10, changeLogKeys = Seq("k"))
    CowStream.joinMv2Batch(
      Seq(("a", 0L), ("b", 0L)).toDF("_side", "_commit_id"),
      0L, ra, rb, Seq("k"), mv)
    val view = graft.sinks.SnapshotTarget.read(spark, mv).get
    val expect = CowTable.read(spark, ra).get.drop("pa")
      .join(CowTable.read(spark, rb).get.drop("pbk"), Seq("k"))
    assert(view.select("k", "av", "bv")
      .exceptAll(expect.select("k", "av", "bv")).isEmpty &&
      view.count() == expect.count(),
      "commit-0 rows must appear exactly once in the join view")
  }

  test("a mistyped UPDATE SET fails loud — statically for " +
      "non-assignable types, at runtime for unrepresentable values — " +
      "never as silent NULLs") {
    val root = tmp("set_types")
    CowTable.commitFull(
      spark.range(10).select($"id",
        lit(BigDecimal("123.45")).cast("decimal(9,2)").as("amt")),
      root, 1L, Nil, keep = 10)
    // string into a numeric column: rejected BEFORE any data is read
    // (ANSI store-assignment rule), for both COW and MOR paths
    val eStatic = intercept[IllegalArgumentException] {
      CowTable.updateWhere(spark, root, 2L, $"id" < 3,
        Map("amt" -> lit("oops")), keep = 10)
    }
    assert(eStatic.getMessage.contains("cannot be assigned"))
    val eStaticMor = intercept[IllegalArgumentException] {
      CowTable.updateWhereDv(spark, root, 2L, $"id" < 3,
        Map("amt" -> lit("oops")), keep = 10)
    }
    assert(eStaticMor.getMessage.contains("cannot be assigned"))
    // a numeric value the column's precision cannot represent: the
    // commit FAILS (guarded cast or ANSI arithmetic error) instead of
    // writing NULL
    val eRun = intercept[Throwable] {
      CowTable.updateWhere(spark, root, 2L, $"id" < 3,
        Map("amt" -> lit(BigDecimal("123456789012.99"))
          .cast("decimal(14,2)")), keep = 10)
    }
    assert(eRun != null)
    assert(CowTable.committedIds(spark, root) == Seq(1L),
      "a failed SET must commit nothing")
    assert(CowTable.read(spark, root).get
      .where($"amt".isNull).isEmpty,
      "mistyped SET leaked NULLs into committed data")
    // the legitimate assignment still works
    CowTable.updateWhere(spark, root, 2L, $"id" < 3,
      Map("amt" -> lit(BigDecimal("999.99"))), keep = 10)
    assert(CowTable.read(spark, root).get
      .where($"amt" === lit(BigDecimal("999.99")).cast("decimal(9,2)"))
      .count() == 3L)
  }

  test("an integral-overflow SET fails loud under BOTH ansi modes — " +
      "a non-ANSI cast would WRAP 3000000000→int to a silently wrong " +
      "value, sidestepping a null-only guard") {
    val root = tmp("set_wrap")
    CowTable.commitFull(
      spark.range(5).select($"id", lit(1).cast("int").as("cnt")),
      root, 1L, Nil, keep = 10)
    val ansiWas = spark.conf.get("spark.sql.ansi.enabled")
    try for (ansi <- Seq("false", "true")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      val e = intercept[Throwable] {
        CowTable.updateWhere(spark, root, 2L, $"id" < 3,
          Map("cnt" -> lit(3000000000L)), keep = 10)
      }
      assert(e != null, s"overflow SET committed under ansi=$ansi")
      assert(CowTable.committedIds(spark, root) == Seq(1L))
      assert(CowTable.read(spark, root).get
        .where($"cnt" =!= 1).isEmpty,
        s"overflow SET corrupted committed data under ansi=$ansi")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiWas)
  }
}
