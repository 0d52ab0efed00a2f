package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.sinks.CowTable

/** Property pins for the round-11 DML family: across randomized table
  * states, predicates and assignments, the merge-on-read forms must be
  * OBSERVATIONALLY IDENTICAL to their copy-on-write twins (which are
  * themselves oracle-checked), and a delete/update chain must equal
  * the set-algebra reference computed directly on the rows.
  */
class PropertyDmlSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  private def tmp(): String =
    Files.createTempDirectory("propdml").toString

  // small value spaces force duplicate rows and cross-row image
  // collisions — the corners an equality-based delete would get
  // wrong and positional deletion vectors must not. Rows as plain tuples (part, name, score) — a spec-local case
  // class has no stable outer scope for the encoder.
  private val rowGen: Gen[(Long, String, Long)] = for {
    p <- Gen.chooseNum(0L, 2L)
    n <- Gen.oneOf("a", "b", "c", "d")
    s <- Gen.chooseNum(0L, 5L)
  } yield (p, n, s)
  private val tableGen: Gen[List[(Long, String, Long)]] =
    Gen.listOfN(40, rowGen)

  test("deleteWhereDv ≡ deleteWhere on random multiset tables and " +
      "predicates (duplicates and null-free corners included)") {
    val preds = Seq(
      col("score") <= 1L,
      col("name") === "a",
      col("score") % 2 === 0 && col("name") =!= "d",
      col("score") > 99L) // no-match
    for ((rows, i) <- samples(tableGen, 4).zipWithIndex; p <- preds) {
      val cow = tmp(); val mor = tmp()
      val df = rows.toDF("part", "name", "score")
      CowTable.commitFull(df, cow, 1L, Seq("part"), keep = 10)
      CowTable.commitFull(df, mor, 1L, Seq("part"), keep = 10)
      CowTable.deleteWhere(spark, cow, 2L, p, keep = 10)
      CowTable.deleteWhereDv(spark, mor, 2L, p, keep = 10)
      val a = CowTable.read(spark, cow).get.collect()
        .map(_.toString).sorted.toSeq
      val b = CowTable.read(spark, mor).get.collect()
        .map(_.toString).sorted.toSeq
      assert(a == b, s"case $i pred $p:\ncow=$a\nmor=$b")
    }
  }

  test("updateWhereDv ≡ updateWhere under image-colliding SETs on " +
      "random tables, including after a prior MOR delete") {
    val sets = Seq(
      Map("score" -> (col("score") + 1L)), // adjacent-image collisions
      Map("name" -> lit("a")),             // funnels onto one name
      Map("score" -> lit(0L)),             // no-ops for score==0 rows
      Map("name" -> concat(col("name"), col("score"))))
    for ((rows, i) <- samples(tableGen, 3).zipWithIndex; s <- sets) {
      val cow = tmp(); val mor = tmp()
      val df = rows.toDF("part", "name", "score")
      CowTable.commitFull(df, cow, 1L, Seq("part"), keep = 10)
      CowTable.commitFull(df, mor, 1L, Seq("part"), keep = 10)
      // a prior MOR delete leaves outstanding deletion vectors in the
      // mix when the update runs
      CowTable.deleteWhereDv(spark, cow, 2L, col("score") === 5L,
        keep = 10)
      CowTable.deleteWhereDv(spark, mor, 2L, col("score") === 5L,
        keep = 10)
      val p = col("score") <= 2L
      CowTable.updateWhere(spark, cow, 3L, p, s, keep = 10)
      CowTable.updateWhereDv(spark, mor, 3L, p, s, keep = 10)
      val a = CowTable.read(spark, cow).get.collect()
        .map(_.toString).sorted.toSeq
      val b = CowTable.read(spark, mor).get.collect()
        .map(_.toString).sorted.toSeq
      assert(a == b, s"case $i set $s:\ncow=$a\nmor=$b")
    }
  }

  test("the POSITIONAL forms (deleteWhereDv / updateWhereDv) ≡ their " +
      "COW twins on random tables, including stacked DV debt") {
    val sets = Seq(
      Map("score" -> (col("score") + 1L)), // adjacent-image collisions
      Map("name" -> lit("a")),
      Map("name" -> concat(col("name"), col("score"))))
    for ((rows, i) <- samples(tableGen, 3).zipWithIndex; s <- sets) {
      val cow = tmp(); val dv = tmp()
      val df = rows.toDF("part", "name", "score")
      CowTable.commitFull(df, cow, 1L, Seq("part"), keep = 10)
      CowTable.commitFull(df, dv, 1L, Seq("part"), keep = 10)
      // stack the debt: two positional deletes are outstanding when
      // the update runs
      CowTable.deleteWhere(spark, cow, 2L, col("score") === 5L, keep = 10)
      CowTable.deleteWhereDv(spark, dv, 2L, col("score") === 5L, keep = 10)
      CowTable.deleteWhere(spark, cow, 3L, col("name") === "d", keep = 10)
      CowTable.deleteWhereDv(spark, dv, 3L, col("name") === "d", keep = 10)
      val p = col("score") <= 2L
      CowTable.updateWhere(spark, cow, 4L, p, s, keep = 10)
      CowTable.updateWhereDv(spark, dv, 4L, p, s, keep = 10)
      val a = CowTable.read(spark, cow).get.collect()
        .map(_.toString).sorted.toSeq
      val b = CowTable.read(spark, dv).get.collect()
        .map(_.toString).sorted.toSeq
      assert(a == b, s"case $i set $s:\ncow=$a\ndv=$b")
    }
  }

  test("a delete/update chain equals the direct multiset algebra on " +
      "the rows") {
    for (rows <- samples(tableGen, 3)) {
      val root = tmp()
      CowTable.commitFull(rows.toDF("part", "name", "score"),
        root, 1L, Seq("part"), keep = 10)
      CowTable.deleteWhereDv(spark, root, 2L, col("name") === "b",
        keep = 10)
      CowTable.updateWhereDv(spark, root, 3L, col("score") >= 4L,
        Map("name" -> lit("hi")), keep = 10)
      CowTable.deleteWhere(spark, root, 4L, col("part") === 1L, keep = 10)
      val got = CowTable.read(spark, root).get.collect()
        .map(_.toString).sorted.toSeq
      val want = rows
        .filterNot(_._2 == "b")
        .map(r => if (r._3 >= 4L) (r._1, "hi", r._3) else r)
        .filterNot(_._1 == 1L)
        .map(r => s"[${r._1},${r._2},${r._3}]").sorted
      assert(got == want, s"chain diverged:\ngot=$got\nwant=$want")
    }
  }
}
