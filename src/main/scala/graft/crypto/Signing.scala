package graft.crypto

import graft.engine.FileSigner
import java.math.BigInteger
import java.nio.file.{Files, Path}

/**
 * File signing (C1): streaming keccak256 over 4 KB chunks →
 * 65-byte recoverable secp256k1 signature; rejects empty files.
 * Mirrors `pkg/signing/signing.go:42-124` semantics.
 */
final class Signer(privKey: BigInteger) extends FileSigner {

  def signBytes(content: Array[Byte]): Array[Byte] = {
    require(content.nonEmpty, "error with file: content is empty")
    Secp256k1.sign(Keccak256.hash(content), privKey)
  }

  override def sign(file: Path): Array[Byte] = {
    if (!Files.exists(file)) throw new java.io.FileNotFoundException(file.toString)
    val hasher = new Keccak256.Hasher
    val total = graft.core.FsUtil.streamArtifact(file)((buf, n) => hasher.update(buf, 0, n))
    if (total == 0) throw new IllegalArgumentException("error with file: content is empty")
    Secp256k1.sign(hasher.digest(), privKey)
  }

  def signatureHex(file: Path): String = sign(file).map("%02x".format(_)).mkString
}

object Signer {
  /** Load a private key from its hex form (`account address` / flags). */
  def fromHex(hex: String): Signer = {
    val h = hex.stripPrefix("0x")
    require(h.matches("[0-9a-fA-F]{64}"), s"invalid private key hex")
    new Signer(new BigInteger(h, 16))
  }

  /** Load a private key from a file containing the hex (C3 key file). */
  def fromFile(path: Path): Signer = fromHex(Files.readString(path).trim)

  /** `account create` (C3): generate a keypair, write hex key to a file,
    * return the derived Ethereum address. */
  def createAccount(keyFile: Path): String = {
    val priv = Secp256k1.generatePrivateKey()
    Files.writeString(keyFile, Secp256k1.to32(priv).map("%02x".format(_)).mkString)
    Secp256k1.ethAddress(priv)
  }

  def addressOfKeyFile(keyFile: Path): String = {
    val hex = Files.readString(keyFile).trim.stripPrefix("0x")
    Secp256k1.ethAddress(new BigInteger(hex, 16))
  }
}
