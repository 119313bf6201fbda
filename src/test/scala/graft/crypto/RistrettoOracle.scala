package graft.crypto

import java.math.BigInteger

/** Arbitrary-precision ristretto255, the test-side oracle for the limb
  * field in [[Ristretto255]]: GF(2^255 − 19) on `BigInteger`, with the
  * RFC 9496 MAP, ENCODE and extended addition written straight from the
  * RFC. It shares no field code with the engine; limbs cross over only
  * through `value` and `limbs`, which split and sum the radix-2^25.5
  * layout themselves. */
object RistrettoOracle {
  val P: BigInteger = BigInteger.TWO.pow(255).subtract(BigInteger.valueOf(19))
  private val One = BigInteger.ONE

  /** Bit offset of each limb (26 bits at even i, 25 at odd i). */
  val Offsets: Array[Int] = Array(0, 26, 51, 77, 102, 128, 153, 179, 204, 230)

  def mod(x: BigInteger): BigInteger = x.mod(P)
  def mul(a: BigInteger, b: BigInteger): BigInteger = a.multiply(b).mod(P)
  def neg(a: BigInteger): BigInteger = a.negate().mod(P)
  def big(x: Long): BigInteger = BigInteger.valueOf(x)

  /** The field element a limb vector stands for. */
  def value(f: Array[Long]): BigInteger =
    f.indices.foldLeft(BigInteger.ZERO)((acc, i) => acc.add(big(f(i)).shiftLeft(Offsets(i)))).mod(P)
  /** The canonical limbs of x mod p: nonnegative 26/25-bit chunks. */
  def limbs(x: BigInteger): Array[Long] = {
    val r = x.mod(P)
    Array.tabulate(10) { i =>
      val width = if (i % 2 == 0) 26 else 25
      r.shiftRight(Offsets(i)).and(One.shiftLeft(width).subtract(One)).longValueExact()
    }
  }
  def le32(x: BigInteger): Array[Byte] = {
    val be = x.toByteArray
    val out = new Array[Byte](32)
    for (i <- 0 until math.min(32, be.length)) out(i) = be(be.length - 1 - i)
    out
  }
  def fromLe(b: Array[Byte]): BigInteger = new BigInteger(1, b.reverse)

  def isNegative(x: BigInteger): Boolean = x.mod(P).testBit(0)
  def ctAbs(x: BigInteger): BigInteger = if (isNegative(x)) neg(x) else x.mod(P)

  val D: BigInteger = mul(big(-121665), big(121666).modInverse(P))
  val SQRT_M1: BigInteger = BigInteger.TWO.modPow(P.subtract(One).shiftRight(2), P)
  private val P58 = P.subtract(big(5)).shiftRight(3)

  def sqrtRatioM1(u0: BigInteger, v: BigInteger): (Boolean, BigInteger) = {
    val u = mod(u0)
    val v3 = mul(mul(v, v), v)
    val v7 = mul(mul(v3, v3), v)
    var r = mul(mul(u, v3), mul(u, v7).modPow(P58, P))
    val check = mul(v, mul(r, r))
    val correct = check == u
    val flipped = check == neg(u)
    if (flipped || check == mul(neg(u), SQRT_M1)) r = mul(r, SQRT_M1)
    (correct || flipped, ctAbs(r))
  }

  val INVSQRT_A_MINUS_D: BigInteger = sqrtRatioM1(One, neg(D.add(One)))._2
  /** The RFC's SQRT_AD_MINUS_ONE is the negative root of a·d − 1 = −d − 1. */
  val SQRT_AD_MINUS_ONE: BigInteger = neg(sqrtRatioM1(neg(D.add(One)), One)._2)
  val ONE_MINUS_D_SQ: BigInteger = mod(One.subtract(mul(D, D)))
  val D_MINUS_ONE_SQ: BigInteger = mul(D.subtract(One), D.subtract(One))

  /** Extended coordinates (X, Y, Z, T). */
  type Pt = (BigInteger, BigInteger, BigInteger, BigInteger)
  val Identity: Pt = (BigInteger.ZERO, One, One, BigInteger.ZERO)
  val Base: Pt = {
    val y = mul(big(4), big(5).modInverse(P))
    val x = ctAbs(sqrtRatioM1(mul(y, y).subtract(One), mul(D, mul(y, y)).add(One))._2)
    (x, y, One, mul(x, y))
  }

  def add(p: Pt, q: Pt): Pt = {
    val (x1, y1, z1, t1) = p; val (x2, y2, z2, t2) = q
    val a = mul(y1.subtract(x1), y2.subtract(x2))
    val b = mul(y1.add(x1), y2.add(x2))
    val c = mul(mul(t1, D.shiftLeft(1)), t2)
    val dd = mul(z1.shiftLeft(1), z2)
    val (e, f, g, h) = (b.subtract(a), dd.subtract(c), dd.add(c), b.add(a))
    (mul(e, f), mul(g, h), mul(f, g), mul(e, h))
  }

  def encode(p: Pt): Array[Byte] = {
    val (x0, y0, z0, t0) = p
    val u1 = mul(z0.add(y0), z0.subtract(y0))
    val u2 = mul(x0, y0)
    val inv = sqrtRatioM1(One, mul(u1, mul(u2, u2)))._2
    val den1 = mul(inv, u1); val den2 = mul(inv, u2)
    val zInv = mul(mul(den1, den2), t0)
    val rotate = isNegative(mul(t0, zInv))
    val (x, y1, denInv) =
      if (rotate) (mul(y0, SQRT_M1), mul(x0, SQRT_M1), mul(den1, INVSQRT_A_MINUS_D))
      else (x0, y0, den2)
    val y = if (isNegative(mul(x, zInv))) neg(y1) else y1
    le32(ctAbs(mul(denInv, z0.subtract(y))))
  }

  def elligator(t: BigInteger): Pt = {
    val r = mul(SQRT_M1, mul(t, t))
    val u = mul(r.add(One), ONE_MINUS_D_SQ)
    val v = mul(neg(One).subtract(mul(r, D)), r.add(D))
    val (wasSquare, s0) = sqrtRatioM1(u, v)
    val s = if (wasSquare) s0 else neg(ctAbs(mul(s0, t)))
    val c = if (wasSquare) neg(One) else r
    val n = mod(mul(mul(c, r.subtract(One)), D_MINUS_ONE_SQ).subtract(v))
    val w0 = mul(s.shiftLeft(1), v)
    val w1 = mul(n, SQRT_AD_MINUS_ONE)
    val w2 = mod(One.subtract(mul(s, s)))
    val w3 = mod(One.add(mul(s, s)))
    (mul(w0, w3), mul(w2, w1), mul(w1, w3), mul(w0, w2))
  }

  def deriveDalek(data: Array[Byte]): Pt = {
    val h = java.security.MessageDigest.getInstance("SHA-512").digest(data)
    def half(off: Int) = fromLe(h.slice(off, off + 32)).clearBit(255)
    add(elligator(half(0)), elligator(half(32)))
  }

  /** An engine point's coordinates as oracle values. */
  def of(p: Ristretto255.Pt): Pt = (value(p.x), value(p.y), value(p.z), value(p.t))
  /** Affine (x, y) of an engine point. */
  def affine(p: Ristretto255.Pt): (BigInteger, BigInteger) = {
    val zInv = value(p.z).modInverse(P)
    (mul(value(p.x), zInv), mul(value(p.y), zInv))
  }
}
