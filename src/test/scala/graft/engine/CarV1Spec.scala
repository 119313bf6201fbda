package graft.engine

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** CAR v1 codec (retriever.go:88-233's container format) + the
  * cache→cold→extract retrieval chain (retriever.go:44-50). */
class CarV1Spec extends AnyFunSuite {
  import CarV1._

  test("varint round trip, multi-byte boundaries, EOF") {
    val values = Seq(0L, 1L, 127L, 128L, 255L, 300L, 16383L, 16384L,
      Int.MaxValue.toLong, 1L << 40)
    values.foreach { v =>
      val out = new ByteArrayOutputStream()
      writeVarint(v, out)
      assert(readVarint(new ByteArrayInputStream(out.toByteArray)) == v, s"v=$v")
    }
    // clean EOF → -1; truncated continuation → EOFException
    assert(readVarint(new ByteArrayInputStream(Array.emptyByteArray)) == -1L)
    intercept[java.io.EOFException] {
      readVarint(new ByteArrayInputStream(Array(0x80.toByte)))
    }
  }

  test("CIDv1: deterministic, parseable, multibase base32 string") {
    val data = "hello car".getBytes("UTF-8")
    val cid = Cid.v1(CodecRaw, data)
    assert(cid.version == 1)
    assert(cid.toString.startsWith("b")) // multibase base32-lower
    assert(cid.toString.drop(1).forall(c => "abcdefghijklmnopqrstuvwxyz234567".contains(c)))
    assert(cid == Cid.v1(CodecRaw, data))
    assert(cid != Cid.v1(CodecDagPb, data)) // codec is part of identity
    // read back from its own byte form
    val parsed = Cid.read(new ByteArrayInputStream(cid.bytes))
    assert(parsed == cid)
  }

  test("CIDv0 (bare sha2-256 multihash) is accepted on read") {
    val digest = java.security.MessageDigest.getInstance("SHA-256").digest("x".getBytes)
    val v0 = Array[Byte](0x12, 0x20) ++ digest
    val parsed = Cid.read(new ByteArrayInputStream(v0))
    assert(parsed.version == 0)
    assert(java.util.Arrays.equals(parsed.bytes, v0))
  }

  test("header: golden DAG-CBOR bytes and round trip") {
    val cid = Cid.v1(CodecRaw, "root".getBytes("UTF-8"))
    val header = encodeHeader(Seq(cid))
    // hand-assembled: map(2), "roots", array(1), tag(42),
    // bytes(37) = 0x00 ++ cid(36), "version", 1
    val expect = new ByteArrayOutputStream()
    expect.write(0xa2)
    expect.write(0x65); expect.write("roots".getBytes)
    expect.write(0x81)
    expect.write(0xd8); expect.write(42)
    expect.write(0x58); expect.write(cid.bytes.length + 1)
    expect.write(0); expect.write(cid.bytes)
    expect.write(0x67); expect.write("version".getBytes)
    expect.write(0x01)
    assert(java.util.Arrays.equals(header, expect.toByteArray))
    assert(decodeHeader(header) == Seq(cid))
    // key order independence: {"version": 1, "roots": [...]} also parses
    val swapped = new ByteArrayOutputStream()
    swapped.write(0xa2)
    swapped.write(0x67); swapped.write("version".getBytes); swapped.write(0x01)
    swapped.write(0x65); swapped.write("roots".getBytes)
    swapped.write(0x81); swapped.write(0xd8); swapped.write(42)
    swapped.write(0x58); swapped.write(cid.bytes.length + 1)
    swapped.write(0); swapped.write(cid.bytes)
    assert(decodeHeader(swapped.toByteArray) == Seq(cid))
  }

  test("header: CAR v2 and garbage rejected") {
    val cid = Cid.v1(CodecRaw, "r".getBytes)
    val v2 = new ByteArrayOutputStream()
    v2.write(0xa2)
    v2.write(0x65); v2.write("roots".getBytes)
    v2.write(0x81); v2.write(0xd8); v2.write(42)
    v2.write(0x58); v2.write(cid.bytes.length + 1); v2.write(0); v2.write(cid.bytes)
    v2.write(0x67); v2.write("version".getBytes)
    v2.write(0x02) // version 2
    intercept[IllegalArgumentException] { decodeHeader(v2.toByteArray) }
    intercept[Exception] { decodeHeader("not cbor at all".getBytes) }
  }

  test("write → read: roots and all blocks round-trip byte-exactly") {
    val blocks = Seq("root block payload", "child-1", "child-2")
      .map(s => s.getBytes("UTF-8")).map(b => Cid.v1(CodecRaw, b) -> b)
    val root = blocks.head._1
    val path = Files.createTempFile("car-rt", ".car")
    CarV1.write(path, Seq(root), blocks)
    val in = new java.io.BufferedInputStream(Files.newInputStream(path))
    try {
      val (roots, it) = CarV1.read(in)
      assert(roots == Seq(root))
      val got = it.toList
      assert(got.map(_._1) == blocks.map(_._1))
      got.zip(blocks).foreach { case ((_, a), (_, b)) =>
        assert(java.util.Arrays.equals(a, b))
      }
    } finally in.close()
  }

  test("extract returns the ROOT block even when not first (retriever.go:216-233)") {
    val rootData = "the root bytes".getBytes("UTF-8")
    val other = "other".getBytes("UTF-8")
    val rootCid = Cid.v1(CodecRaw, rootData)
    val path = Files.createTempFile("car-ex", ".car")
    // root block deliberately NOT the first block in the archive
    CarV1.write(path, Seq(rootCid),
      Seq(Cid.v1(CodecRaw, other) -> other, rootCid -> rootData))
    assert(CarV1.extract(path).exists(java.util.Arrays.equals(_, rootData)))
    assert(CarV1.isCar(path))
    // a CAR missing its root block extracts to None but still sniffs as CAR
    val path2 = Files.createTempFile("car-ex2", ".car")
    CarV1.write(path2, Seq(rootCid), Seq(Cid.v1(CodecRaw, other) -> other))
    assert(CarV1.extract(path2).isEmpty)
    // non-CAR bytes
    val plain = Files.createTempFile("car-no", ".bin")
    Files.write(plain, "just a parquet file, honest".getBytes)
    assert(!CarV1.isCar(plain))
    assert(CarV1.extract(plain).isEmpty)
  }

  test("Retriever: cache miss → cold CAR → root extraction (retriever.go:44-50)") {
    val cacheDir = Files.createTempDirectory("ret-cache")
    val coldDir = Files.createTempDirectory("ret-cold")
    val cache = new LocalContentStore(cacheDir.toString)
    val cold = new LocalContentStore(coldDir.toString)

    // cold tier holds a CAR archive wrapping the real payload
    val payload = "payload served from the cold tier".getBytes("UTF-8")
    val rootCid = Cid.v1(CodecRaw, payload)
    val car = Files.createTempFile("cold", ".car")
    CarV1.write(car, Seq(rootCid), Seq(rootCid -> payload))
    val cid = cold.put(graft.core.VaultName("ns", "vault"), car, 0L,
      Array.emptyByteArray)

    val r = new Retriever(cache, Some(cold))
    val got = r.retrieve(cid)
    assert(got.isDefined)
    assert(java.util.Arrays.equals(Files.readAllBytes(got.get), payload),
      "cold CAR must be extracted to its root block")

    // cache hits are never unwrapped (hot tier stores raw artifacts)
    val raw = Files.createTempFile("hot", ".bin")
    Files.write(raw, "hot bytes".getBytes)
    val hotCid = cache.put(graft.core.VaultName("ns", "vault"), raw, 0L,
      Array.emptyByteArray)
    val hot = r.retrieve(hotCid)
    assert(hot.isDefined && new String(Files.readAllBytes(hot.get)) == "hot bytes")

    // cold non-CAR artifacts pass through unchanged
    val plain = Files.createTempFile("cold-plain", ".bin")
    Files.write(plain, "plain cold".getBytes)
    val plainCid = cold.put(graft.core.VaultName("ns", "vault"), plain, 0L,
      Array.emptyByteArray)
    val gotPlain = r.retrieve(plainCid)
    assert(gotPlain.isDefined && new String(Files.readAllBytes(gotPlain.get)) == "plain cold")
  }

  test("Retriever: a hot-store error is an error unless the cold tier serves the cid") {
    val failing = new ContentStore {
      def put(vault: graft.core.VaultName, file: java.nio.file.Path, timestampSec: Long,
              signature: Array[Byte]): String = throw new UnsupportedOperationException
      def get(cid: String): Option[java.nio.file.Path] =
        throw new java.io.IOException("hot store unreachable")
    }
    val cold = new LocalContentStore(Files.createTempDirectory("ret-cold-err").toString)
    val f = Files.createTempFile("cold", ".bin")
    Files.write(f, "cold bytes".getBytes)
    val coldCid = cold.put(graft.core.VaultName("ns", "vault"), f, 0L, Array.emptyByteArray)
    // no cold tier, or a cold miss: the hot error, not "not found"
    intercept[java.io.IOException](new Retriever(failing).retrieve(coldCid))
    intercept[java.io.IOException](new Retriever(failing, Some(cold)).retrieve("bafy-missing"))
    // a cold hit still serves, like retriever.go:44-50
    val got = new Retriever(failing, Some(cold)).retrieve(coldCid)
    assert(got.isDefined && new String(Files.readAllBytes(got.get)) == "cold bytes")
  }
}
