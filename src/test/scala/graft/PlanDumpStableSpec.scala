package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[PlanDump.stable]] masks what differs between two runs of the same
  * code, so two dumps of one commit compare byte for byte. Pure string
  * cases, no session.
  */
class PlanDumpStableSpec extends AnyFunSuite {

  test("RDD ids are masked") {
    assert(PlanDump.stable("Scan ExistingRDD MapPartitionsRDD[6896] x") ==
      PlanDump.stable("Scan ExistingRDD MapPartitionsRDD[6906] x"))
    assert(PlanDump.stable("MapPartitionsRDD[12]") == "MapPartitionsRDD[<n>]")
  }

  test("lambda class names and identity hashes are masked") {
    val a = "udf(graft.QueriesVector$$$Lambda$10310/0x00007fde75e08b68@57d16479)"
    val b = "udf(graft.QueriesVector$$$Lambda$10464/0x00007fde75e0b5f8@7cfe617c)"
    assert(PlanDump.stable(a) == PlanDump.stable(b))
    assert(PlanDump.stable(a) == "udf(graft.QueriesVector$$$Lambda<n>)")
  }

  test("a complete file-index listing is sorted; a truncated one keeps " +
      "only how many paths it showed") {
    assert(PlanDump.stable(
      "Location: InMemoryFileIndex [file:/t/p=7/a.parquet, file:/t/p=3/b.parquet]") ==
      "Location: InMemoryFileIndex [file:/t/p=3/b.parquet, file:/t/p=7/a.parquet]")
    assert(PlanDump.stable(
      "InMemoryFileIndex [file:/t/part-00001.parquet, ... 7 entries]") ==
      PlanDump.stable(
        "InMemoryFileIndex [file:/t/part-00000.parquet, ... 7 entries]"))
  }

  test("expression ids still renumber by first appearance") {
    assert(PlanDump.stable("a#12, b#40, a#12") ==
      PlanDump.stable("a#7, b#9, a#7"))
  }
}
