package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench summary line carries as many per-query entries as fit the
  * stdout tail, slowest first — and only a true prefix of that order. The
  * committed reference reads back into the counters the gate compares,
  * only when it was taken at the run's core count and scale factor. */
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
    driverCpuNs = 250000000L, runMs = 1700, gcMs = 20, inputBytes = 4096, inputRecords = 100,
    files = 1, shuffleReadBytes = 512, shuffleWriteBytes = 512, memorySpillBytes = 0,
    diskSpillBytes = 0)
  private val ref = Map("q_a" -> work.named.toMap)
  private def run(changes: (String, Double)*) = Map("q_a" -> (work.named.toMap ++ changes))

  private def artifact(head: String, counters: Boolean) =
    s"""{"metric":"total","value":3.100,"unit":"sec",$head,"reference":"ok","regressed":{},""" +
      """"failed":[],"queries":{"q_a":1.000,"q_b":0.100}""" +
      (if (counters) s""","counters":{"q_a":${work.json},"q_b":${work.json}}}""" else "}")

  test("counters of two runs keep each counter's smaller value") {
    val other = work.copy(jobs = 1, cpuNs = 1700000000L, driverCpuNs = 200000000L, files = 3)
    assert(work.min(other) == work.copy(jobs = 1, driverCpuNs = 200000000L))
  }

  test("a full artifact line reads back to its counters") {
    assert(work.json.startsWith(
      """{"jobs":2,"stages":3,"tasks":9,"cpu_s":1.500,"driver_cpu_s":0.250,"run_s":1.700,"""))
    val line = artifact(""""sf":"/d","cpus":32""", counters = true)
    assert(Bench.reference(line, "32", "/d") == Right(Map("q_a" -> ref("q_a"), "q_b" -> ref("q_a"))))
  }

  test("a reference at another core count or scale factor is named") {
    val line = artifact(""""sf":"/d","cpus":32""", counters = true)
    assert(Bench.reference(line, "4", "/d") == Left("cpus 32 != 4"))
    assert(Bench.reference(line, "32", "/e") == Left("sf /d != /e"))
    assert(Bench.reference(artifact(""""sf":"/d"""", counters = true), "32", "/d") ==
      Left("cpus unset != 32"))
  }

  test("a reference with no counters is named; one that is not JSON throws") {
    assert(Bench.reference(artifact(""""sf":"/d","cpus":32""", counters = false), "32", "/d") ==
      Left("reference has no counters"))
    intercept[com.fasterxml.jackson.core.JsonProcessingException](
      Bench.reference("not a bench artifact", "32", "/d"))
  }

  test("regressions: unchanged counters flag nothing, and only shared rows compare") {
    assert(Bench.regressions(ref, run()).isEmpty)
    assert(Bench.regressions(ref, Map("q_new" -> Map("jobs" -> 9.0))).isEmpty)
    assert(Bench.regressions(Map.empty, run("jobs" -> 9.0)).isEmpty)
  }

  test("regressions: an exact counter that moves either way is named") {
    assert(Bench.regressions(ref, run("files" -> 2.0, "input_records" -> 99.0)) ==
      Map("q_a" -> Seq("files 1 -> 2", "input_records 100 -> 99")))
    assert(Bench.regressions(ref, run("disk_spill_bytes" -> 1.0)) ==
      Map("q_a" -> Seq("disk_spill_bytes 0 -> 1")))
    assert(Bench.regressions(ref, Map("q_a" -> (ref("q_a") - "files"))) ==
      Map("q_a" -> Seq("files 1 -> none")))
  }

  test("a row with no files whose input bytes rose is flagged") {
    // cached relations and RDD scans read input without a file scan
    val cached = Map("q_c" -> (ref("q_a") + ("files" -> 0.0)))
    assert(Bench.regressions(cached, Map("q_c" -> (cached("q_c") + ("input_bytes" -> 8192.0)))) ==
      Map("q_c" -> Seq("input_bytes 4096 -> 8192")))
  }

  test("regressions: CPU times past 1.5x and 0.25 s; run and GC time never") {
    // 1.5 -> 2.2 s is under 1.5x; 0.25 -> 0.45 s is 1.8x but only 0.2 s more
    assert(Bench.regressions(ref, run("cpu_s" -> 2.2, "driver_cpu_s" -> 0.45)).isEmpty)
    assert(Bench.regressions(ref, run("run_s" -> 99.0, "gc_s" -> 99.0)).isEmpty)
    assert(Bench.regressions(ref, run("cpu_s" -> 2.3, "driver_cpu_s" -> 0.6)) ==
      Map("q_a" -> Seq("cpu_s 1.500 -> 2.300", "driver_cpu_s 0.250 -> 0.600")))
  }

  test("regressions: counts and bytes that vary run to run past 1.5x") {
    assert(Bench.regressions(ref, run("jobs" -> 3.0, "stages" -> 4.0, "tasks" -> 8.0,
      "input_bytes" -> 6000.0, "shuffle_read_bytes" -> 768.0, "shuffle_write_bytes" -> 500.0)).isEmpty)
    assert(Bench.regressions(ref, run("jobs" -> 4.0, "stages" -> 5.0, "tasks" -> 14.0,
      "shuffle_read_bytes" -> 769.0, "shuffle_write_bytes" -> 1024.0)) ==
      Map("q_a" -> Seq("jobs 2 -> 4", "stages 3 -> 5", "tasks 9 -> 14",
        "shuffle_read_bytes 512 -> 769", "shuffle_write_bytes 512 -> 1024")))
  }
}
