package graft.crypto

/**
 * Emits ECMH digests for the cross-implementation diff against the
 * independent pure-Python RFC 9496 implementation
 * (`tools/ristretto_check.py`) — the in-sandbox substitute for the
 * go-ristretto cross-diff (no Go toolchain here; see EcmhSpec's PENDING
 * note). Output: `<case-name>\t<hex-digest>` lines, the case names a
 * tiny language the Python side replays: 26 fixed cases, then 200 seeded
 * random items.
 *
 *   sbt "runMain graft.crypto.EcmhDump" > /tmp/ecmh_dump.txt
 *   python3 tools/ristretto_check.py /tmp/ecmh_dump.txt
 */
object EcmhDump {
  def main(args: Array[String]): Unit = {
    def line(name: String, digest: String): Unit = println(s"$name\t$digest")

    line("empty", Ecmh.MultisetHash().digest)
    line("insert:a", Ecmh.MultisetHash.of("a".getBytes("UTF-8")).digest)
    line("insert:a,b,c", Ecmh.MultisetHash.of(
      "a".getBytes("UTF-8"), "b".getBytes("UTF-8"), "c".getBytes("UTF-8")).digest)
    line("remove:b", Ecmh.MultisetHash.of(
      "a".getBytes("UTF-8"), "b".getBytes("UTF-8"), "c".getBytes("UTF-8"))
      .remove("b".getBytes("UTF-8")).digest)
    line("union(ab,cd)", Ecmh.MultisetHash.of("a".getBytes("UTF-8"), "b".getBytes("UTF-8"))
      .union(Ecmh.MultisetHash.of("c".getBytes("UTF-8"), "d".getBytes("UTF-8"))).digest)
    line("difference(abcd,cd)", Ecmh.MultisetHash.of(
      "a".getBytes("UTF-8"), "b".getBytes("UTF-8"),
      "c".getBytes("UTF-8"), "d".getBytes("UTF-8"))
      .difference(Ecmh.MultisetHash.of("c".getBytes("UTF-8"), "d".getBytes("UTF-8"))).digest)

    // breadth: deterministic byte strings — empty, single bytes, a
    // canonical-row-shaped JSON, and SHA-256 chains up to 1 KiB
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
    val cases: Seq[Array[Byte]] =
      Seq(Array.emptyByteArray, Array[Byte](0), Array[Byte](-1),
        """{"event_id":42,"value":1.5}""".getBytes("UTF-8")) ++
        (0 until 16).map { i =>
          val seed = md.digest(s"graft-ecmh-$i".getBytes("UTF-8"))
          Array.fill(1 + i * 64)(0: Byte).zipWithIndex
            .map { case (_, j) => seed(j % 32) }
        }
    cases.foreach(b => line(s"bytes:${hex(b)}", Ecmh.MultisetHash.of(b).digest))

    // volume: 200 seeded random items of 0..299 bytes, so the replay covers
    // many more derivations, both MAP branches among them
    val rnd = new scala.util.Random(255L)
    (0 until 200).foreach { _ =>
      val b = new Array[Byte](rnd.nextInt(300)); rnd.nextBytes(b)
      line(s"bytes:${hex(b)}", Ecmh.MultisetHash.of(b).digest)
    }
  }
}
