package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

/** `tools/adopt_bench.py` adopts a bench run only on Bench's own clean
  * verdict, and a refusal never writes the reference. Two clean runs are
  * adopted together only when their exact counters agree, and the
  * reference keeps each row's larger CPU times. The tool runs from a copy
  * in a scratch tree, so the reference it writes is that tree's. */
class AdoptBenchSpec extends AnyFunSuite {
  private def candidate(cpus: Int, reference: String, regressed: String, failed: String,
                        counters: String = "") =
    s"""{"metric":"total","value":1.000,"unit":"sec","sf":"/d","cpus":$cpus,"reference":"$reference",""" +
      s""""regressed":{$regressed},"failed":[$failed],"queries":{"q_a":1.000},"counters":{$counters}}"""

  /** Runs the tool with `--adopt` on `artifacts` in a fresh scratch tree:
    * its exit code, its output and the reference it leaves. */
  private def adopt(artifacts: String*): (Int, String, String) = {
    val tree = Files.createTempDirectory("adopt-bench")
    Files.createDirectories(tree.resolve("tools"))
    Files.copy(Paths.get("tools/adopt_bench.py"), tree.resolve("tools/adopt_bench.py"))
    val reference = tree.resolve("BENCH_QUERIES.json")
    Files.writeString(reference, "previous reference\n")
    val cands: Seq[Path] = artifacts.zipWithIndex.map { case (a, i) =>
      Files.writeString(tree.resolve(s"cand$i.json"), a)
    }
    val out = new StringBuilder
    val code = (Seq("python3", tree.resolve("tools/adopt_bench.py").toString) ++
      cands.map(_.toString) :+ "--adopt")
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    (code, out.toString, Files.readString(reference))
  }

  private val cases = Seq(
    "clean" -> (candidate(32, "ok", "", ""), 0),
    "regressed" -> (candidate(32, "ok", "\"q_a\":[\"jobs 2 -> 3\"]", ""), 1),
    "cpus mismatch" -> (candidate(4, "cpus 32 != 4", "", ""), 1),
    "failed row" -> (candidate(32, "ok", "", "\"q_b\""), 1))

  for ((name, (artifact, exit)) <- cases) test(s"adopt_bench exits $exit on a $name candidate") {
    val (code, out, reference) = adopt(artifact)
    assert(code == exit, out)
    assert(reference == (if (exit == 0) artifact else "previous reference\n"), out)
  }

  private def row(files: Int, cpu: Double, driverCpu: Double) =
    s""""q_a":{"jobs":3,"cpu_s":$cpu,"driver_cpu_s":$driverCpu,"input_records":10,""" +
      s""""files":$files,"memory_spill_bytes":0,"disk_spill_bytes":0}"""

  test("adopt_bench adopts two clean runs with each row's larger CPU times") {
    val (code, out, reference) = adopt(candidate(32, "ok", "", "", row(1, 1.5, 0.2)),
      candidate(32, "ok", "", "", row(1, 2.5, 0.1)))
    assert(code == 0, out)
    val q = new com.fasterxml.jackson.databind.ObjectMapper().readTree(reference)
      .get("counters").get("q_a")
    assert((q.get("cpu_s").asDouble, q.get("driver_cpu_s").asDouble, q.get("jobs").asInt,
      q.get("files").asInt) == ((2.5, 0.2, 3, 1)), reference)
  }

  test("adopt_bench refuses two runs whose exact counters disagree") {
    val (code, out, reference) = adopt(candidate(32, "ok", "", "", row(1, 1.5, 0.2)),
      candidate(32, "ok", "", "", row(2, 1.5, 0.2)))
    assert(code == 1 && out.contains("q_a files 1 != 2"), out)
    assert(reference == "previous reference\n", out)
  }
}
