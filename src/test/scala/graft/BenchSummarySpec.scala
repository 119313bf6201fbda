package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench summary line carries as many per-query entries as fit the
  * stdout tail, slowest first — and only a true prefix of that order. */
class BenchSummarySpec extends AnyFunSuite {
  private val results = Seq(
    "q_fast" -> 0.5, "q_top" -> 10.0, "q_a_long_slow_name_that_cannot_fit" -> 8.0, "q_x" -> 1.0)
  private val top = "\"q_top\":10.000"
  private val all = Seq(top, "\"q_a_long_slow_name_that_cannot_fit\":8.000",
    "\"q_x\":1.000", "\"q_fast\":0.500")

  test("summary entries: slowest first, everything when it fits") {
    assert(Bench.summaryEntries(results, all.mkString(",").length) == all)
    assert(Bench.summaryEntries(results, all.mkString(",").length - 1) == all.init)
    assert(Bench.summaryEntries(results, 0).isEmpty)
  }

  test("summary entries stop at the first entry that does not fit") {
    // q_x and q_fast would fit after skipping the long name; a summary
    // holding them would claim they are the next-slowest queries
    assert(Bench.summaryEntries(results, 40) == Seq(top))
    assert(Bench.summaryEntries(results, top.length) == Seq(top))
  }
}
