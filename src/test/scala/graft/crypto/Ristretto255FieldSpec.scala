package graft.crypto

import java.math.BigInteger
import org.scalatest.funsuite.AnyFunSuite

/** The 10-limb field and the group on top of it, differentially against
  * the arbitrary-precision [[RistrettoOracle]]: seeded random elements,
  * edge values, limbs at the largest magnitude the limb invariant allows,
  * and whole derivations and digests. */
class Ristretto255FieldSpec extends AnyFunSuite {
  import Ristretto255.Fe
  import RistrettoOracle.{P, big, le32, limbs, mod, value}

  private val rnd = new scala.util.Random(20260419L)
  private def randomElement(): BigInteger = new BigInteger(255, rnd.self).mod(P)
  /** Uncarried limbs anywhere in [−2^27, 2^27], the accepted input range. */
  private def randomWideLimbs(): Array[Long] =
    Array.fill(10)(rnd.between(-(1L << 27), (1L << 27) + 1))
  private def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString

  private val edges: Seq[BigInteger] =
    Seq(BigInteger.ZERO, BigInteger.ONE, big(2), big(19)) ++
      (1 to 19).map(k => P.subtract(big(k))) // p − 19 … p − 1
  private val extreme: Seq[Array[Long]] = Seq(
    Array.fill(10)(1L << 27), Array.fill(10)(-(1L << 27)),
    Array.tabulate(10)(i => if (i % 2 == 0) 1L << 27 else -(1L << 27)),
    Array.tabulate(10)(i => if (i % 2 == 0) -(1L << 27) else 1L << 27))

  /** Carried: |h_i| ≤ 2^25 for even i, 2^24 + 2^16 for odd i. */
  private def carried(h: Array[Long]): Boolean =
    h.indices.forall(i => math.abs(h(i)) <= (if (i % 2 == 0) 1L << 25 else (1L << 24) + (1L << 16)))

  private val operands: Seq[Array[Long]] =
    edges.map(limbs) ++ extreme ++ Seq.fill(300)(limbs(randomElement())) ++ Seq.fill(300)(randomWideLimbs())

  test("mul, sq, add, sub and neg agree with the oracle and mul/sq come out carried") {
    val pairs = operands.zip(operands.reverse) ++ operands.zip(operands.drop(7) ++ operands.take(7))
    pairs.foreach { case (f, g) =>
      val (vf, vg) = (value(f), value(g))
      val m = Fe.mul(f, g); val s = Fe.sq(f)
      assert(value(m) == mod(vf.multiply(vg)), s"mul ${f.mkString(",")} ${g.mkString(",")}")
      assert(value(s) == mod(vf.multiply(vf)), s"sq ${f.mkString(",")}")
      assert(carried(m) && carried(s), s"carry bound ${m.mkString(",")} ${s.mkString(",")}")
      assert(value(Fe.add(f, g)) == mod(vf.add(vg)))
      assert(value(Fe.sub(f, g)) == mod(vf.subtract(vg)))
      assert(value(Fe.neg(f)) == mod(vf.negate()))
      // the in-place forms may alias their output with an input
      val h = f.clone; Fe.mul(h, h, g); assert(value(h) == value(m))
      val k = f.clone; Fe.sq(k, k); assert(value(k) == value(s))
    }
  }

  test("canonical bytes, fromBytes and the predicates agree with the oracle") {
    operands.foreach { f =>
      val v = value(f)
      assert(hex(Fe.toBytes(f)) == hex(le32(v)), f.mkString(","))
      assert(Fe.isNegative(f) == v.testBit(0))
      assert(Fe.isZero(f) == (v.signum == 0))
      assert(Fe.same(f, limbs(v)))
      assert(value(Fe.fromBytes(le32(v), 0)) == v)
      assert(carried(Fe.carry(f)) && value(Fe.carry(f)) == v)
    }
    // non-canonical input: p … 2^255 − 1 load and reduce; bit 255 is masked
    val wide = (0 to 18).map(k => P.add(big(k))) :+ BigInteger.TWO.pow(255).subtract(BigInteger.ONE)
    wide.foreach { x =>
      val f = Fe.fromBytes(le32(x), 0)
      assert(hex(Fe.toBytes(f)) == hex(le32(mod(x))), x.toString)
    }
    val allOnes = Array.fill[Byte](32)(-1)
    assert(hex(Fe.toBytes(Fe.fromBytes(allOnes, 0))) == hex(le32(big(18))))
  }

  test("pow22523 and SQRT_RATIO_M1 agree with the oracle") {
    val exp = P.subtract(big(5)).shiftRight(3)
    (operands.take(200) ++ extreme).foreach { f =>
      assert(value(Fe.pow22523(f)) == value(f).modPow(exp, P), f.mkString(","))
    }
    operands.zip(operands.drop(3)).take(300).foreach { case (u, v) =>
      val (sq, r) = Ristretto255.sqrtRatioM1(u, v)
      val (osq, or) = RistrettoOracle.sqrtRatioM1(value(u), value(v))
      assert(sq == osq && value(r) == or, s"${value(u)} / ${value(v)}")
    }
  }

  test("constants equal their oracle derivations") {
    assert(value(Ristretto255.D) == RistrettoOracle.D)
    assert(value(Ristretto255.SQRT_M1) == RistrettoOracle.SQRT_M1)
    assert(value(Ristretto255.INVSQRT_A_MINUS_D) == RistrettoOracle.INVSQRT_A_MINUS_D)
    assert(value(Ristretto255.SQRT_AD_MINUS_ONE) == RistrettoOracle.SQRT_AD_MINUS_ONE)
    assert(value(Ristretto255.ONE_MINUS_D_SQ) == RistrettoOracle.ONE_MINUS_D_SQ)
    assert(value(Ristretto255.D_MINUS_ONE_SQ) == RistrettoOracle.D_MINUS_ONE_SQ)
    assert(RistrettoOracle.of(Ristretto255.Base) == RistrettoOracle.Base)
    assert(RistrettoOracle.of(Ristretto255.Identity) == RistrettoOracle.Identity)
  }

  test("decode(encode(p)) re-encodes to the same bytes; 2^255 − 1 and p are rejected") {
    (0 until 200).foreach { i =>
      val p = Ristretto255.deriveDalek(s"rt-$i".getBytes("UTF-8"))
      val enc = Ristretto255.encode(p)
      val back = Ristretto255.decode(enc)
      assert(back.exists(q => hex(Ristretto255.encode(q)) == hex(enc) && q.same(p)), s"rt-$i")
    }
    assert(Ristretto255.decode(le32(BigInteger.TWO.pow(255).subtract(BigInteger.ONE))).isEmpty)
    assert(Ristretto255.decode(le32(P)).isEmpty)
    assert(Ristretto255.decode(le32(P.subtract(big(1)))).isEmpty) // −1: y = 0
  }

  test("3,000 deriveDalek encodings and a 5,000-item digest match the oracle byte for byte") {
    (0 until 3000).foreach { i =>
      val item = Array.tabulate[Byte](i % 97)(j => (i * 31 + j * 7).toByte)
      assert(hex(Ristretto255.encode(Ristretto255.deriveDalek(item))) ==
        hex(RistrettoOracle.encode(RistrettoOracle.deriveDalek(item))), s"item $i")
    }
    val items = (0 until 5000).map(i => s"digest-item-$i".getBytes("UTF-8"))
    val want = hex(RistrettoOracle.encode(
      items.foldLeft(RistrettoOracle.Base)((acc, b) => RistrettoOracle.add(acc, RistrettoOracle.deriveDalek(b)))))
    assert(Ecmh.MultisetHash.of(items: _*).digest == want)
    // the aggregator's in-place buffers: three partials, reduced, merged
    val agg = new EcmhAggregator
    val partials = items.grouped(1700).map(_.foldLeft(agg.zero)(agg.reduce)).toSeq
    assert(agg.finish(partials.reduce(agg.merge)) == want)
  }
}
