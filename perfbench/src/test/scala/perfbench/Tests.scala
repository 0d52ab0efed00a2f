package perfbench

import Gen.CowRow

/** Unit tests of the benchmark's statistics and of the model its output
  * checks rely on. Run with `python3 perfbench/build.py test`; exits
  * non-zero on the first failure.
  */
object Tests {
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit = {
    try body
    catch {
      case e: Throwable =>
        println(s"FAIL $name: $e")
        sys.exit(1)
    }
    passed += 1
    println(s"ok   $name")
  }

  private def eq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  private def close(got: Double, want: Double): Unit =
    if (math.abs(got - want) > 1e-9) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    test("median of odd and even counts") {
      eq(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
      eq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    }

    test("nearest-rank percentiles sit at a fixed rank") {
      val xs = (1 to 100).map(_.toDouble)
      eq(Stats.percentile(xs, 90), 90.0)
      eq(Stats.percentile(xs, 50), 50.0)
      eq(Stats.percentile(xs, 100), 100.0)
      eq(Stats.percentile(Seq(5.0), 90), 5.0)
      // the rank depends only on n: any permutation gives the same value
      eq(Stats.percentile(xs.reverse, 90), 90.0)
      eq(Stats.percentile((1 to 10).map(_.toDouble), 90), 9.0)
    }

    test("quartiles match Python's statistics.quantiles(n=4)") {
      // values from CPython 3.11: quantiles([...], n=4)
      val (q1, q2, q3) = Stats.quartiles(Seq(1.0, 2, 3, 4, 5, 6, 7, 8, 9, 10))
      close(q1, 2.75); close(q2, 5.5); close(q3, 8.25)
      val (a, b, c) = Stats.quartiles(Seq(10.0, 1, 7, 3))
      close(a, 1.5); close(b, 5.0); close(c, 9.25)
      val (x, y, z) = Stats.quartiles(Seq(2.0, 4.0))
      close(x, 1.5); close(y, 3.0); close(z, 4.5)
    }

    test("job-busy time is the union of overlapping job intervals") {
      eq(Stats.unionLength(Nil), 0L)
      eq(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))), 20L)
      eq(Stats.unionLength(Seq((20L, 25L), (0L, 10L), (2L, 3L))), 15L)
      eq(Stats.unionLength(Seq((0L, 10L), (10L, 12L))), 12L)
      eq(Stats.unionLength(Seq((5L, 5L), (7L, 6L))), 0L)
      // clipped to an op window
      eq(Stats.coveredWithin(Seq((0L, 10L), (8L, 30L)), 5L, 20L), 15L)
    }

    test("a tail needs at least ten samples beyond it") {
      eq(Stats.samplesBeyond(100, 90), 10)
      eq(Stats.tailEligible(100, 90), true)
      eq(Stats.tailEligible(99, 90), false)
      eq(Stats.tailEligible(1000, 99), true)
      eq(Stats.tailEligible(999, 99), false)
      eq(Stats.highestTail(100), Some(90.0))
      eq(Stats.highestTail(200), Some(95.0))
      eq(Stats.highestTail(39), None)
      eq(Stats.highestTail(40), Some(75.0))
    }

    def row(k: Long, v: Long) = CowRow(k, Gen.partOf(k), v, s"s$k")

    test("cow model replays appends, upserts and deletes") {
      val m = new CowModel
      m.append(Seq(row(1, 10), row(2, 20), row(3, 30)))
      m.commit(1)
      m.upsert(Seq(row(2, 200), row(4, 40)))
      m.commit(2)
      m.delete(Seq(1L, 99L))
      m.commit(3)
      eq(m.rows.map(r => r.key -> r.v).toSet, Set(2L -> 200L, 3L -> 30L, 4L -> 40L))
      eq(m.aggregate, (3L, 270L))
      eq(m.aggregateAt(1), (3L, 60L))
      eq(m.aggregateAt(2), (4L, 280L))
      eq(m.aggregateAt(7), (3L, 270L))
      eq(m.committedIds, Seq(1L, 2L, 3L))
      eq(m.lookup(Seq(4L, 1L, 2L, 4L)).map(_.key), Seq(2L, 4L))
    }

    test("cow model refuses an append of a live key") {
      val m = new CowModel
      m.append(Seq(row(1, 1)))
      val threw = try { m.append(Seq(row(1, 2))); false }
        catch { case _: IllegalArgumentException => true }
      eq(threw, true)
    }

    test("cow model answers the SQL predicate") {
      val m = new CowModel
      m.append((1L to 40L).map(k => row(k, k * 10)))
      val want = (1L to 40L).filter(k => Gen.partOf(k) == 1 && k * 10 < 200)
        .map(k => (k, k * 10))
      eq(m.select(1, 200), want)
    }

    test("diff reports missing, extra and duplicated rows, and nothing when equal") {
      val a = Seq(row(1, 1), row(2, 2))
      eq(CowModel.diff(a, a.reverse), Nil)
      eq(CowModel.diff(a, Seq(row(1, 1))).size, 1)
      eq(CowModel.diff(a, a :+ row(3, 3)).size, 1)
      eq(CowModel.diff(a, a :+ row(2, 2)).size, 1)
      eq(CowModel.diff(a, Seq(row(1, 1), row(2, 3))).size, 2)
    }

    test("star generation and the medallion model are seed-deterministic") {
      val n = Gen.StarSizes(lineitem = 400, part = 50, supplier = 5,
        customer = 30, events = 100, documents = 10)
      val a = Gen.star(7, n)
      val b = Gen.star(7, n)
      eq(a.tables.map { case (k, (_, rows)) => k -> rows }, b.tables.map { case (k, (_, rows)) => k -> rows })
      val m = MedallionModel.of(a)
      eq(m.taskRows("sales_fact"), 400L)
      eq(m.taskRows("thin_layer"), m.thinLayer.size.toLong)
      eq(m.thinLayer.values.map(_._2).sum, 400L)
      eq(m.expectedRows("event_type_map", firstOnRoot = false), 0L)
      eq(m.expectedRows("event_type_map", firstOnRoot = true), Gen.EventTypes.size.toLong)
      val qty = a.rows("lineitem").map(_.getDouble(4)).sum
      close(m.thinLayer.values.map(_._1).sum, qty)
      assert(Gen.star(8, n).rows("lineitem") != a.rows("lineitem"), "seed ignored")
    }

    println(s"$passed tests passed")
  }
}
