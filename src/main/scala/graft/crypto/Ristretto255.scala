package graft.crypto

import java.security.MessageDigest

/**
 * ristretto255 (RFC 9496): the prime-order group over Curve25519 that the
 * reference's ECMH multiset hash is built on (`pkg/ecmh/ecmh.go:1-10` via
 * go-ristretto). Pure-JVM, extended Edwards coordinates over one fixed-limb
 * field, so digests are byte-compatible with the reference without any
 * native dependency.
 *
 * Surface (all public algorithms, per RFC 9496 §4.3):
 *  - `encode`   — canonical 32-byte little-endian encoding (§4.3.2)
 *  - `decode`   — strict decoding, rejects non-canonical input (§4.3.1)
 *  - `elligator`/`fromUniformBytes` — the one-way MAP (§4.3.4)
 *  - `deriveDalek` — SHA-512 → `fromUniformBytes`, exactly
 *    curve25519-dalek's `hash_from_bytes::<Sha512>`, which is what
 *    go-ristretto's `Point.DeriveDalek` (used by `ecmh.go`'s tests)
 *    computes.
 *
 * The field, GF(2^255 − 19), has one implementation, [[Ristretto255.Fe]]:
 * 10 signed `Long` limbs in radix 2^25.5 (the ref10 / curve25519-dalek
 * 32-bit layout, Bernstein et al., "High-speed high-security signatures",
 * 2012). Limb i holds 26 bits for even i and 25 for odd i, at bit offsets
 * 0, 26, 51, 77, 102, 128, 153, 179, 204, 230; the element is the signed
 * sum Σ f_i·2^offset_i mod p. Bounds, which every caller keeps:
 *  - `mul`, `sq`, `fromBytes` and `carry` return *carried* limbs:
 *    |h_i| ≤ 2^25 for even i, ≤ 2^24 + 2^16 for odd i;
 *  - `add`, `sub` and `neg` do not carry: their bound is the sum of their
 *    inputs' bounds;
 *  - `mul`, `sq` and `toBytes` accept |f_i| ≤ 2^27. The widest output
 *    column, h0, sums products weighing 267 · 2^54 < 2^63, so nothing
 *    overflows. The point formulas below feed them at most the sum of two
 *    carried elements (|f_i| ≤ 2^26 + 2^17).
 * A limb vector is not unique: only `toBytes`, the canonical reduction, is.
 * Equality, `isNegative` and `encode` all go through it.
 *
 * Sign conventions ("negative" = odd canonical representative, CT_ABS,
 * and the specific square-root constants) follow RFC 9496; the constants
 * are decoded from their canonical bytes and re-derived by an arbitrary-precision
 * oracle in the test sources, and the whole stack is pinned by the RFC's
 * Appendix-A test vectors (generator multiples + one-way-map images).
 */
object Ristretto255 {

  /** GF(2^255 − 19) on 10-limb `Array[Long]`s (layout and bounds above).
    * The `(h, …)` forms write their result into `h`, which may alias an
    * input; the other forms return a fresh array. */
  private[crypto] object Fe {
    def zero: Array[Long] = new Array[Long](10)
    def one: Array[Long] = { val h = zero; h(0) = 1; h }

    def add(f: Array[Long], g: Array[Long]): Array[Long] = {
      val h = zero; var i = 0
      while (i < 10) { h(i) = f(i) + g(i); i += 1 }
      h
    }
    def sub(f: Array[Long], g: Array[Long]): Array[Long] = {
      val h = zero; var i = 0
      while (i < 10) { h(i) = f(i) - g(i); i += 1 }
      h
    }
    def neg(f: Array[Long]): Array[Long] = sub(zero, f)
    def mul(f: Array[Long], g: Array[Long]): Array[Long] = { val h = zero; mul(h, f, g); h }
    def sq(f: Array[Long]): Array[Long] = { val h = zero; sq(h, f); h }

    def mul(h: Array[Long], f: Array[Long], g: Array[Long]): Unit = {
      val f0 = f(0); val f1 = f(1); val f2 = f(2); val f3 = f(3); val f4 = f(4)
      val f5 = f(5); val f6 = f(6); val f7 = f(7); val f8 = f(8); val f9 = f(9)
      val g0 = g(0); val g1 = g(1); val g2 = g(2); val g3 = g(3); val g4 = g(4)
      val g5 = g(5); val g6 = g(6); val g7 = g(7); val g8 = g(8); val g9 = g(9)
      val g1_19 = 19 * g1; val g2_19 = 19 * g2; val g3_19 = 19 * g3
      val g4_19 = 19 * g4; val g5_19 = 19 * g5; val g6_19 = 19 * g6
      val g7_19 = 19 * g7; val g8_19 = 19 * g8; val g9_19 = 19 * g9
      val f1_2 = 2 * f1; val f3_2 = 2 * f3; val f5_2 = 2 * f5; val f7_2 = 2 * f7; val f9_2 = 2 * f9
      carry(h,
        f0 * g0 + f1_2 * g9_19 + f2 * g8_19 + f3_2 * g7_19 + f4 * g6_19 +
          f5_2 * g5_19 + f6 * g4_19 + f7_2 * g3_19 + f8 * g2_19 + f9_2 * g1_19,
        f0 * g1 + f1 * g0 + f2 * g9_19 + f3 * g8_19 + f4 * g7_19 +
          f5 * g6_19 + f6 * g5_19 + f7 * g4_19 + f8 * g3_19 + f9 * g2_19,
        f0 * g2 + f1_2 * g1 + f2 * g0 + f3_2 * g9_19 + f4 * g8_19 +
          f5_2 * g7_19 + f6 * g6_19 + f7_2 * g5_19 + f8 * g4_19 + f9_2 * g3_19,
        f0 * g3 + f1 * g2 + f2 * g1 + f3 * g0 + f4 * g9_19 +
          f5 * g8_19 + f6 * g7_19 + f7 * g6_19 + f8 * g5_19 + f9 * g4_19,
        f0 * g4 + f1_2 * g3 + f2 * g2 + f3_2 * g1 + f4 * g0 +
          f5_2 * g9_19 + f6 * g8_19 + f7_2 * g7_19 + f8 * g6_19 + f9_2 * g5_19,
        f0 * g5 + f1 * g4 + f2 * g3 + f3 * g2 + f4 * g1 +
          f5 * g0 + f6 * g9_19 + f7 * g8_19 + f8 * g7_19 + f9 * g6_19,
        f0 * g6 + f1_2 * g5 + f2 * g4 + f3_2 * g3 + f4 * g2 +
          f5_2 * g1 + f6 * g0 + f7_2 * g9_19 + f8 * g8_19 + f9_2 * g7_19,
        f0 * g7 + f1 * g6 + f2 * g5 + f3 * g4 + f4 * g3 +
          f5 * g2 + f6 * g1 + f7 * g0 + f8 * g9_19 + f9 * g8_19,
        f0 * g8 + f1_2 * g7 + f2 * g6 + f3_2 * g5 + f4 * g4 +
          f5_2 * g3 + f6 * g2 + f7_2 * g1 + f8 * g0 + f9_2 * g9_19,
        f0 * g9 + f1 * g8 + f2 * g7 + f3 * g6 + f4 * g5 +
          f5 * g4 + f6 * g3 + f7 * g2 + f8 * g1 + f9 * g0)
    }

    /** f², each symmetric product computed once: 55 limb products where
      * `mul(h, f, f)` takes 100. */
    def sq(h: Array[Long], f: Array[Long]): Unit = {
      val f0 = f(0); val f1 = f(1); val f2 = f(2); val f3 = f(3); val f4 = f(4)
      val f5 = f(5); val f6 = f(6); val f7 = f(7); val f8 = f(8); val f9 = f(9)
      val f0_2 = 2 * f0; val f1_2 = 2 * f1; val f2_2 = 2 * f2; val f3_2 = 2 * f3
      val f4_2 = 2 * f4; val f5_2 = 2 * f5; val f6_2 = 2 * f6; val f7_2 = 2 * f7
      val f5_38 = 38 * f5; val f6_19 = 19 * f6; val f7_38 = 38 * f7
      val f8_19 = 19 * f8; val f9_38 = 38 * f9
      carry(h,
        f0 * f0 + f1_2 * f9_38 + f2_2 * f8_19 + f3_2 * f7_38 + f4_2 * f6_19 + f5 * f5_38,
        f0_2 * f1 + f2 * f9_38 + f3_2 * f8_19 + f4 * f7_38 + f5_2 * f6_19,
        f0_2 * f2 + f1_2 * f1 + f3_2 * f9_38 + f4_2 * f8_19 + f5_2 * f7_38 + f6 * f6_19,
        f0_2 * f3 + f1_2 * f2 + f4 * f9_38 + f5_2 * f8_19 + f6 * f7_38,
        f0_2 * f4 + f1_2 * f3_2 + f2 * f2 + f5_2 * f9_38 + f6_2 * f8_19 + f7 * f7_38,
        f0_2 * f5 + f1_2 * f4 + f2_2 * f3 + f6 * f9_38 + f7_2 * f8_19,
        f0_2 * f6 + f1_2 * f5_2 + f2_2 * f4 + f3_2 * f3 + f7_2 * f9_38 + f8 * f8_19,
        f0_2 * f7 + f1_2 * f6 + f2_2 * f5 + f3_2 * f4 + f8 * f9_38,
        f0_2 * f8 + f1_2 * f7_2 + f2_2 * f6 + f3_2 * f5_2 + f4 * f4 + f9 * f9_38,
        f0_2 * f9 + f1_2 * f8 + f2_2 * f7 + f3_2 * f6 + f4_2 * f5)
    }

    /** ref10's carry chain: columns up to 267 · 2^54 come out carried. */
    private def carry(h: Array[Long], i0: Long, i1: Long, i2: Long, i3: Long, i4: Long,
                      i5: Long, i6: Long, i7: Long, i8: Long, i9: Long): Unit = {
      var h0 = i0; var h1 = i1; var h2 = i2; var h3 = i3; var h4 = i4
      var h5 = i5; var h6 = i6; var h7 = i7; var h8 = i8; var h9 = i9
      var c = 0L
      c = (h0 + (1L << 25)) >> 26; h1 += c; h0 -= c << 26
      c = (h4 + (1L << 25)) >> 26; h5 += c; h4 -= c << 26
      c = (h1 + (1L << 24)) >> 25; h2 += c; h1 -= c << 25
      c = (h5 + (1L << 24)) >> 25; h6 += c; h5 -= c << 25
      c = (h2 + (1L << 25)) >> 26; h3 += c; h2 -= c << 26
      c = (h6 + (1L << 25)) >> 26; h7 += c; h6 -= c << 26
      c = (h3 + (1L << 24)) >> 25; h4 += c; h3 -= c << 25
      c = (h7 + (1L << 24)) >> 25; h8 += c; h7 -= c << 25
      c = (h4 + (1L << 25)) >> 26; h5 += c; h4 -= c << 26
      c = (h8 + (1L << 25)) >> 26; h9 += c; h8 -= c << 26
      c = (h9 + (1L << 24)) >> 25; h0 += c * 19; h9 -= c << 25
      c = (h0 + (1L << 25)) >> 26; h1 += c; h0 -= c << 26
      h(0) = h0; h(1) = h1; h(2) = h2; h(3) = h3; h(4) = h4
      h(5) = h5; h(6) = h6; h(7) = h7; h(8) = h8; h(9) = h9
    }
    def carry(f: Array[Long]): Array[Long] = {
      val h = zero; carry(h, f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7), f(8), f(9)); h
    }

    /** z^(2^252 − 3) = z^((p − 5)/8): ref10's addition chain, 252 squarings
      * and 11 multiplications. */
    def pow22523(z: Array[Long]): Array[Long] = {
      def sqN(h: Array[Long], f: Array[Long], n: Int): Unit = {
        sq(h, f); var i = 1
        while (i < n) { sq(h, h); i += 1 }
      }
      val t0 = zero; val t1 = zero; val t2 = zero
      sq(t0, z)                               // z^2
      sqN(t1, t0, 2)                          // z^8
      mul(t1, z, t1)                          // z^9
      mul(t0, t0, t1)                         // z^11
      sq(t0, t0)                              // z^22
      mul(t0, t1, t0)                         // z^(2^5 − 1)
      sqN(t1, t0, 5); mul(t0, t1, t0)         // z^(2^10 − 1)
      sqN(t1, t0, 10); mul(t1, t1, t0)        // z^(2^20 − 1)
      sqN(t2, t1, 20); mul(t1, t2, t1)        // z^(2^40 − 1)
      sqN(t1, t1, 10); mul(t0, t1, t0)        // z^(2^50 − 1)
      sqN(t1, t0, 50); mul(t1, t1, t0)        // z^(2^100 − 1)
      sqN(t2, t1, 100); mul(t1, t2, t1)       // z^(2^200 − 1)
      sqN(t1, t1, 50); mul(t0, t1, t0)        // z^(2^250 − 1)
      sqN(t0, t0, 2)                          // z^(2^252 − 4)
      mul(t0, t0, z)
      t0
    }

    /** Load 32 little-endian bytes at `off`, bit 255 masked (dalek
      * `FieldElement::from_bytes`); the result is carried, not reduced. */
    def fromBytes(b: Array[Byte], off: Int): Array[Long] = {
      def load3(i: Int): Long =
        (b(off + i) & 0xffL) | ((b(off + i + 1) & 0xffL) << 8) | ((b(off + i + 2) & 0xffL) << 16)
      def load4(i: Int): Long = load3(i) | ((b(off + i + 3) & 0xffL) << 24)
      val h = zero
      carry(h, load4(0), load3(4) << 6, load3(7) << 5, load3(10) << 3, load3(13) << 2,
        load4(16), load3(20) << 7, load3(23) << 5, load3(26) << 4, (load3(29) & 0x7fffff) << 2)
      h
    }
    def fromHex(s: String): Array[Long] =
      fromBytes(s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray, 0)

    /** The canonical 32-byte little-endian encoding: the representative in
      * [0, p) (ref10 `fe_tobytes`, after one carry pass). */
    def toBytes(f: Array[Long]): Array[Byte] = {
      val h = carry(f)
      var q = (19 * h(9) + (1L << 24)) >> 25
      var i = 0
      while (i < 10) { q = (h(i) + q) >> width(i); i += 1 }
      h(0) += 19 * q // h − q·p, then drop the 2^255·q the carries push out of h9
      i = 0
      while (i < 9) {
        val c = h(i) >> width(i); h(i + 1) += c; h(i) -= c << width(i)
        i += 1
      }
      h(9) &= (1L << 25) - 1
      val s = new Array[Byte](32)
      var acc = 0L; var accBits = 0; var k = 0
      i = 0
      while (i < 10) {
        acc |= h(i) << accBits; accBits += width(i)
        while (accBits >= 8) { s(k) = acc.toByte; acc >>>= 8; accBits -= 8; k += 1 }
        i += 1
      }
      s(31) = acc.toByte // bits 248..254
      s
    }

    /** Bits in limb i: 26 at even i, 25 at odd i. */
    private def width(i: Int): Int = 26 - (i & 1)

    def isNegative(f: Array[Long]): Boolean = (toBytes(f)(0) & 1) == 1
    def isZero(f: Array[Long]): Boolean = toBytes(f).forall(_ == 0)
    def same(f: Array[Long], g: Array[Long]): Boolean =
      java.util.Arrays.equals(toBytes(f), toBytes(g))
    /** CT_ABS: the nonnegative one of ±f. */
    def abs(f: Array[Long]): Array[Long] = if (isNegative(f)) neg(f) else f
  }

  import Fe.{abs, add, isNegative, mul, neg, sq, sub}

  private val One = Fe.one
  private val MinusOne = neg(One)
  /** Edwards d = −121665/121666 and 2d. */
  private[crypto] val D = Fe.fromHex("a3785913ca4deb75abd841414d0a700098e879777940c78c73fe6f2bee6c0352")
  private val D2 = Fe.fromHex("59f1b226949bd6eb56b183829a14e00030d1f3eef2808e19e7fcdf56dcd90624")
  /** sqrt(−1), the canonical (RFC 9496) root. */
  private[crypto] val SQRT_M1 =
    Fe.fromHex("b0a00e4a271beec478e42fad0618432fa7d7fb3d99004d2b0bdfc14f8024832b")
  /** 1/sqrt(a − d) with a = −1 (ENCODE's rotation branch). */
  private[crypto] val INVSQRT_A_MINUS_D =
    Fe.fromHex("ea405d80aafdc899be72415a17162f9d40d801fe917bc216a2fcafcf05896c78")
  /** sqrt(a·d − 1) with a = −1 (MAP). */
  private[crypto] val SQRT_AD_MINUS_ONE =
    Fe.fromHex("1b2e7b49a0f6977ebd54781b0c8e9daffdd1f531c9fc3c0fac48832bbf316937")
  private[crypto] val ONE_MINUS_D_SQ =
    Fe.fromHex("76c15f94c1097ce20f355ecd38a1812ce4df70beddab9499d7e0b3b2a8729002")
  private[crypto] val D_MINUS_ONE_SQ =
    Fe.fromHex("204ded44aa5aad3199191eb02c4a9ed2eb4e9b522fd3dc4c41226cf67ab36859")

  /** Extended Edwards coordinates: x = X/Z, y = Y/Z, T = XY/Z (a = −1).
    * `+`, `-` and `unary_-` return fresh points; `addInto` alone writes
    * in place, and only into buffers its caller owns (the aggregator's).
    * `==` compares the limb arrays by reference: `same` is the group
    * equality. */
  final case class Pt(x: Array[Long], y: Array[Long], z: Array[Long], t: Array[Long]) {
    def unary_- : Pt = Pt(neg(x), y.clone, z.clone, neg(t))
    def +(q: Pt): Pt = { val r = Pt(Fe.zero, Fe.zero, Fe.zero, Fe.zero); Pt.addInto(r, this, q); r }
    def -(q: Pt): Pt = this + (-q)
    /** RISTRETTO group equality — modulo the Edwards 4-torsion, exactly
      * dalek's `RistrettoPoint::ct_eq`: two Edwards representatives are
      * the same ristretto element iff X1·Y2 = Y1·X2 or Y1·Y2 = X1·X2. */
    def same(q: Pt): Boolean =
      Fe.same(mul(x, q.y), mul(y, q.x)) || Fe.same(mul(y, q.y), mul(x, q.x))
  }

  object Pt {
    /** A fresh identity, safe to update in place. */
    private[crypto] def identity: Pt = Pt(Fe.zero, Fe.one, Fe.one, Fe.zero)

    /** out = p + q: Hisil–Wong–Carter–Dawson extended addition, a = −1
      * (public EFD), complete for this curve. `out` may alias p or q. */
    private[crypto] def addInto(out: Pt, p: Pt, q: Pt): Unit = {
      val a = mul(sub(p.y, p.x), sub(q.y, q.x))
      val b = mul(add(p.y, p.x), add(q.y, q.x))
      val c = mul(mul(p.t, D2), q.t)
      val dd = mul(add(p.z, p.z), q.z)
      val e = sub(b, a); val f = sub(dd, c)
      val g = add(dd, c); val h = add(b, a)
      Fe.mul(out.x, e, f); Fe.mul(out.y, g, h); Fe.mul(out.z, f, g); Fe.mul(out.t, e, h)
    }
  }

  val Identity: Pt = Pt.identity

  /** Ed25519 base point: y = 4/5, x the even root. */
  val Base: Pt = {
    val x = Fe.fromHex("1ad5258f602d56c9b2a7259560c72c695cdcd6fd31e2a4c0fe536ecdd3366921")
    val y = Fe.fromHex("5866666666666666666666666666666666666666666666666666666666666666")
    Pt(x, y, Fe.one, mul(x, y))
  }

  /** SQRT_RATIO_M1 (RFC 9496 §4.2): (was_square, nonnegative root of u/v
    * or of SQRT_M1·u/v). One `pow22523` — the dominant cost per call. */
  def sqrtRatioM1(u: Array[Long], v: Array[Long]): (Boolean, Array[Long]) = {
    val v3 = mul(sq(v), v)
    val v7 = mul(sq(v3), v)
    val r = mul(mul(u, v3), Fe.pow22523(mul(u, v7)))
    val check = mul(v, sq(r))
    val minusU = neg(u)
    val correct = Fe.same(check, u)
    val flipped = Fe.same(check, minusU)
    val flippedI = Fe.same(check, mul(minusU, SQRT_M1))
    (correct || flipped, abs(if (flipped || flippedI) mul(r, SQRT_M1) else r))
  }

  /** ENCODE (RFC 9496 §4.3.2) → canonical 32-byte LE string. */
  def encode(pt: Pt): Array[Byte] = {
    val u1 = mul(add(pt.z, pt.y), sub(pt.z, pt.y))
    val u2 = mul(pt.x, pt.y)
    val (_, inv) = sqrtRatioM1(One, mul(u1, sq(u2)))
    val den1 = mul(inv, u1)
    val den2 = mul(inv, u2)
    val zInv = mul(mul(den1, den2), pt.t)
    val rotate = isNegative(mul(pt.t, zInv))
    val (x, y0, denInv) =
      if (rotate) (mul(pt.y, SQRT_M1), mul(pt.x, SQRT_M1), mul(den1, INVSQRT_A_MINUS_D))
      else (pt.x, pt.y, den2)
    val y = if (isNegative(mul(x, zInv))) neg(y0) else y0
    Fe.toBytes(abs(mul(denInv, sub(pt.z, y))))
  }

  /** DECODE (RFC 9496 §4.3.1): strict — returns None on any non-canonical
    * or invalid encoding (the RFC Appendix A.2 rejection cases). */
  def decode(bytes: Array[Byte]): Option[Pt] = {
    if (bytes.length != 32) return None
    val s = Fe.fromBytes(bytes, 0)
    // s >= p or bit 255 set re-encodes differently; negative = odd
    if (!java.util.Arrays.equals(Fe.toBytes(s), bytes) || (bytes(0) & 1) == 1) return None
    val ss = sq(s)
    val u1 = sub(One, ss)
    val u2 = add(One, ss)
    val u2sq = sq(u2)
    val v = sub(neg(mul(D, sq(u1))), u2sq)
    val (wasSquare, inv) = sqrtRatioM1(One, mul(v, u2sq))
    val denX = mul(inv, u2)
    val denY = mul(mul(inv, denX), v)
    val x = abs(mul(add(s, s), denX))
    val y = mul(u1, denY)
    val t = mul(x, y)
    if (!wasSquare || isNegative(t) || Fe.isZero(y)) None
    else Some(Pt(x, y, Fe.one, t))
  }

  /** MAP / "elligator ristretto flavor" (RFC 9496 §4.3.4). */
  def elligator(t: Array[Long]): Pt = {
    val r = mul(SQRT_M1, sq(t))
    val u = mul(add(r, One), ONE_MINUS_D_SQ)
    val v = mul(sub(MinusOne, mul(r, D)), add(r, D))
    val (wasSquare, s0) = sqrtRatioM1(u, v)
    val s = if (wasSquare) s0 else neg(abs(mul(s0, t)))
    // c = −1 in the square branch (dalek initializes c to MINUS_ONE and
    // only overwrites it with r when u/v was NOT square) — using +1 here
    // silently lands points off-curve, caught by the on-curve spec.
    val c = if (wasSquare) MinusOne else r
    val n = sub(mul(mul(c, sub(r, One)), D_MINUS_ONE_SQ), v)
    val ss = sq(s)
    val w0 = mul(add(s, s), v)
    val w1 = mul(n, SQRT_AD_MINUS_ONE)
    val w2 = sub(One, ss)
    val w3 = add(One, ss)
    Pt(mul(w0, w3), mul(w2, w1), mul(w1, w3), mul(w0, w2))
  }

  /** from_uniform_bytes: MAP each 255-bit half of a 64-byte string, add. */
  def fromUniformBytes(b: Array[Byte]): Pt = {
    require(b.length == 64, s"need 64 bytes, got ${b.length}")
    elligator(Fe.fromBytes(b, 0)) + elligator(Fe.fromBytes(b, 32))
  }

  private val sha512 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("SHA-512"))

  /** curve25519-dalek `hash_from_bytes::<Sha512>` ≡ go-ristretto
    * `Point.DeriveDalek` — the item→point derivation of the reference's
    * multiset hash (`pkg/ecmh/ecmh_test.go:31-41`). */
  def deriveDalek(data: Array[Byte]): Pt = fromUniformBytes(sha512.get.digest(data))
}
