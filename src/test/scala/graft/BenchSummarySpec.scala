package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench summary line carries as many per-query entries as fit the
  * stdout tail, slowest first — and only a true prefix of that order. The
  * committed reference reads back into the maps its gates use. */
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

  private val work = WorkCounters.Counters(jobs = 2, stages = 3, tasks = 9, cpuNs = 1500000000L,
    runMs = 1700, gcMs = 20, inputBytes = 4096, inputRecords = 100, files = 1,
    shuffleReadBytes = 512, shuffleWriteBytes = 512, memorySpillBytes = 0, diskSpillBytes = 0)

  test("a full artifact line, counters included, reads back to its queries and sentinels") {
    val line = """{"metric":"total","value":3.100,"unit":"sec","sf":"/d","host_contended":false,""" +
      """"stolen_frac":0.010,"membw_probe_sec":[0.100,0.110],"sentinels":{"q_distinct":0.110,""" +
      """"q_distinct_ref":0.120,"q_topk":0.100,"q_topk_ref":0.100,"q_zorder":0.070},""" +
      """"spread":{"q_a":[1.000,1.600]},"regressed":{},"failed":[],""" +
      """"queries":{"q_a":1.000,"q_distinct":0.100,"q_topk":0.090,"q_zorder":0.080},""" +
      """"counters":{"q_a":""" + work.json + ""","q_distinct":""" + work.json + "}}"
    assert(work.json.startsWith("""{"jobs":2,"stages":3,"tasks":9,"cpu_s":1.500,"run_s":1.700,"""))
    assert(Bench.reference(line) == ((
      Map("q_distinct" -> 0.11, "q_topk" -> 0.1, "q_zorder" -> 0.07),
      Map("q_a" -> 1.0, "q_distinct" -> 0.1, "q_topk" -> 0.09, "q_zorder" -> 0.08))))
  }

  test("a contended artifact carries only its sentinel references forward") {
    val line = """{"metric":"total","host_contended":true,"sentinels":{"q_distinct":0.900,""" +
      """"q_distinct_ref":0.110,"q_topk":0.800},"queries":{"q_a":9.000}}"""
    assert(Bench.reference(line) == ((Map("q_distinct" -> 0.11), Map.empty)))
  }

  test("a reference that is not marked contended and has no queries map is refused") {
    for (bad <- Seq("""{"metric":"total","host_contended":false,"sentinels":{"q_topk":0.1}}""",
                    "not a bench artifact"))
      intercept[IllegalArgumentException](Bench.reference(bad))
  }
}
