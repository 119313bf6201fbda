package graft.crypto

import org.scalatest.funsuite.AnyFunSuite

/**
 * Standing cross-implementation gate for the ECMH digests: the engine's
 * digests must agree with the fully independent pure-Python RFC 9496
 * implementation (`tools/ristretto_check.py` — written only from the
 * RFC pseudocode, no shared code or structure; see its header). Runs
 * the same 226 cases [[EcmhDump]] emits (26 fixed, 200 seeded random),
 * in-process, and hands them to the script for replay. Cancels (does not fail) when no python3 is on
 * PATH, mirroring `LivePostgresSpec`'s environment gate.
 */
class EcmhCrossSpec extends AnyFunSuite {

  private def python3: Option[String] =
    sys.env.getOrElse("PATH", "").split(java.io.File.pathSeparator)
      .map(p => java.nio.file.Paths.get(p, "python3"))
      .find(java.nio.file.Files.isExecutable(_)).map(_.toString)

  test("all EcmhDump digests agree with the independent Python RFC implementation") {
    val py = python3.getOrElse(cancel("python3 not on PATH — cross-diff skipped"))
    val script = java.nio.file.Paths.get("tools/ristretto_check.py")
    if (!java.nio.file.Files.exists(script)) cancel("tools/ristretto_check.py absent")

    // capture EcmhDump's stdout (the same code path the manual recipe runs)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      EcmhDump.main(Array.empty)
    }
    val dump = java.nio.file.Files.createTempFile("ecmh-dump", ".txt")
    java.nio.file.Files.write(dump, buf.toByteArray)

    val pb = new ProcessBuilder(py, script.toString, dump.toString)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val code = proc.waitFor()
    assert(code == 0, s"cross-diff failed (exit $code):\n$out")
    assert(out.contains("cross-diff OK: 226 digests"), out)
  }
}
