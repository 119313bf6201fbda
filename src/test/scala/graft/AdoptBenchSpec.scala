package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

/** `tools/adopt_bench.py` adopts a bench run only on Bench's own clean
  * verdict, and a refusal never writes the reference. The tool runs from a
  * copy in a scratch tree, so the reference it writes is that tree's. */
class AdoptBenchSpec extends AnyFunSuite {
  private def candidate(cpus: Int, reference: String, regressed: String, failed: String) =
    s"""{"metric":"total","value":1.000,"unit":"sec","sf":"/d","cpus":$cpus,"reference":"$reference",""" +
      s""""regressed":{$regressed},"failed":[$failed],"queries":{"q_a":1.000},"counters":{}}"""

  private val cases = Seq(
    "clean" -> (candidate(32, "ok", "", ""), 0),
    "regressed" -> (candidate(32, "ok", "\"q_a\":[\"jobs 2 -> 3\"]", ""), 1),
    "cpus mismatch" -> (candidate(4, "cpus 32 != 4", "", ""), 1),
    "failed row" -> (candidate(32, "ok", "", "\"q_b\""), 1))

  for ((name, (artifact, exit)) <- cases) test(s"adopt_bench exits $exit on a $name candidate") {
    val tree = Files.createTempDirectory("adopt-bench")
    Files.createDirectories(tree.resolve("tools"))
    Files.copy(Paths.get("tools/adopt_bench.py"), tree.resolve("tools/adopt_bench.py"))
    val reference = tree.resolve("BENCH_QUERIES.json")
    Files.writeString(reference, "previous reference\n")
    val cand: Path = Files.writeString(tree.resolve("cand.json"), artifact)
    val out = new StringBuilder
    val code = Seq("python3", tree.resolve("tools/adopt_bench.py").toString, cand.toString, "--adopt")
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    assert(code == exit, out)
    assert(Files.readString(reference) == (if (exit == 0) artifact else "previous reference\n"), out)
  }
}
