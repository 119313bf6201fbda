package graft.crypto

import java.math.BigInteger
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Golden-vector crypto spec (FIXTURES.md §7, signing_test.go:12-126). */
class CryptoSpec extends AnyFunSuite {

  private val privHex = "59c6995e998f97a5a0044966f0945389dc9e86dae88c7a8412f4603b6b78690d"
  private val goldenSig =
    "6ddb61a19b9df71136b48c80b2e86e7e20313d5eec0de9210802335b300ba8df" +
    "6c332d35a5d753a028d703769fd9b66d7ce5902d80369750cf55118b1679d84900"

  test("keccak256 standard vectors") {
    assert(Keccak256.hashHex(Array.emptyByteArray) ==
      "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470")
    assert(Keccak256.hashHex("abc".getBytes("UTF-8")) ==
      "4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45")
    // streaming (chunked) == one-shot
    val data = Array.fill[Byte](10000)(0x5a)
    val chunked = {
      val h = new Keccak256.Hasher
      data.grouped(4096).foreach(h.update(_))
      h.digest()
    }
    assert(chunked.toSeq == Keccak256.hash(data).toSeq)
  }

  test("golden signature: keccak256 + secp256k1 RFC6979 (signing_test.go:38-39)") {
    val signer = Signer.fromHex(privHex)
    val sig = signer.signBytes("data to be signed".getBytes("UTF-8"))
    assert(sig.length == 65)
    assert(sig.map("%02x".format(_)).mkString == goldenSig)
  }

  test("golden signature via streaming file sign") {
    val f = Files.createTempFile("sign", ".dat")
    Files.write(f, "data to be signed".getBytes("UTF-8"))
    assert(Signer.fromHex(privHex).signatureHex(f) == goldenSig)
  }

  test("empty file rejected (signing.go:73-75)") {
    val f = Files.createTempFile("empty", ".dat")
    val e = intercept[IllegalArgumentException](Signer.fromHex(privHex).sign(f))
    assert(e.getMessage.contains("content is empty"))
  }

  test("directory artifact: signature and content id cover the same name-ordered bytes") {
    // two part files written out of name order, each past one 4 KB
    // chunk, plus a sub-directory the walk must skip
    val dir = Files.createTempDirectory("artifact")
    val partB = Array.tabulate[Byte](6000)(i => (i * 7).toByte)
    val partA = Array.tabulate[Byte](4500)(i => (i * 13 + 1).toByte)
    Files.write(dir.resolve("part-b.parquet"), partB)
    Files.write(dir.resolve("part-a.parquet"), partA)
    Files.createDirectory(dir.resolve("sub"))
    Files.write(dir.resolve("sub").resolve("ignored"), Array[Byte](1, 2, 3))
    val bytes = partA ++ partB
    val priv = new BigInteger(privHex, 16)
    val sig = Signer.fromHex(privHex).sign(dir)
    assert(Secp256k1.verify(Keccak256.hash(bytes), sig, Secp256k1.pubKey(priv)))
    import graft.engine.{CarV1, LocalContentStore}
    assert(LocalContentStore.contentId(dir) == CarV1.Cid.v1FromDigest(CarV1.CodecRaw,
      java.security.MessageDigest.getInstance("SHA-256").digest(bytes)).toString)
  }

  test("signature verifies and is low-s") {
    val priv = new BigInteger(privHex, 16)
    val hash = Keccak256.hash("data to be signed".getBytes("UTF-8"))
    val sig = Secp256k1.sign(hash, priv)
    assert(Secp256k1.verify(hash, sig, Secp256k1.pubKey(priv)))
    val s = new BigInteger(1, sig.slice(32, 64))
    assert(s.compareTo(Secp256k1.N.shiftRight(1)) <= 0)
    // tampered hash fails
    val bad = hash.clone(); bad(0) = (bad(0) ^ 1).toByte
    assert(!Secp256k1.verify(bad, sig, Secp256k1.pubKey(priv)))
  }

  test("account create / address derivation (C3)") {
    // known address vector: this key is the widely-published hardhat test
    // key #1; its address is derivable purely from the curve + keccak
    assert(Secp256k1.ethAddress(new BigInteger(privHex, 16)).toLowerCase ==
      "0x70997970c51812dc3a010c7d01b50e0d17dc79c8")
    val kf = Files.createTempFile("key", ".hex")
    val addr = Signer.createAccount(kf)
    assert(addr.matches("0x[0-9a-f]{40}"))
    assert(Signer.addressOfKeyFile(kf) == addr)
    // round trip: new key signs and verifies
    val signer = Signer.fromFile(kf)
    assert(signer.signBytes("x".getBytes()).length == 65)
  }
}
