package graft.crypto

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ECMH algebra (ecmh_test.go:14-84), wire-format golden digests (the
  * ristretto255 construction the reference uses), scalacheck properties
  * (SURVEY §5d), and distributed Aggregator consistency. */
class EcmhSpec extends SparkSpec {
  import Ecmh._
  private def b(s: String) = s.getBytes("UTF-8")

  test("wire format: golden digests match the go-ristretto construction") {
    // digest(∅) = encode(Base): NewMultisetHash calls SetBase (ecmh.go:13-21).
    // This constant IS the RFC 9496 §B generator encoding
    // (e2f2ae0a...2d76), so the empty-set digest is pinned by the RFC
    // itself, independent of any implementation.
    assert(MultisetHash().digest ==
      "e2f2ae0a6abc4e71a884a961c500515f58e30b6aa582dd8db6a65945e08d2d76")
    // The reference test's own multiset (ecmh_test.go:17-23). Digests
    // computed with an independent implementation of RFC 9496 + SHA-512;
    // the group is additionally pinned by the RFC A.1 (small multiples)
    // and A.3 (hash-to-group) vectors in Ristretto255Spec, and the FULL
    // construction (derive + accumulate + encode, incl. insert/remove/
    // union/difference algebra) is cross-diffed against a SECOND
    // independent from-scratch implementation written only from the RFC
    // pseudocode (`tools/ristretto_check.py`; `EcmhDump` emits 26 cases
    // incl. byte-edge and 1 KiB items — all agree, round 11). PENDING
    // only the literal go-ristretto binary diff (needs a Go toolchain,
    // absent in this sandbox): run the reference's ecmh_test.go once and
    // diff its printed digests against these constants byte-for-byte.
    assert(MultisetHash.of(b("apple"), b("banana"), b("cherry")).digest ==
      "bc78f637f1774acf148180af6a620fe4f5b381b56929e556d8d21f31e4125370")
    assert(MultisetHash.of(b("apple"), b("banana"), b("cherry"), b("apple")).digest ==
      "d4e63989d5c4bd6cf40f02f711f40857e0cab961facad256091bf25ab5dc391e")
  }

  test("insert/remove round-trip restores digest (ecmh_test.go:14-45)") {
    val base = MultisetHash.of(b("apple"), b("banana"), b("cherry"))
    val d0 = base.digest
    base.insert(b("date"))
    assert(base.digest != d0)
    base.remove(b("date"))
    assert(base.digest == d0)
  }

  test("multiset: duplicates count (ecmh_test.go)") {
    val one = MultisetHash.of(b("apple"))
    val two = MultisetHash.of(b("apple"), b("apple"))
    assert(one.digest != two.digest)
    two.remove(b("apple"))
    assert(one.digest == two.digest)
  }

  test("union/difference round trip (ecmh_test.go:47-84)") {
    val ab = MultisetHash.of(b("a"), b("b"))
    val cd = MultisetHash.of(b("c"), b("d"))
    val d0 = ab.digest
    ab.union(cd)
    val d1 = ab.digest
    ab.difference(cd)
    assert(ab.digest == d0)
    ab.union(cd)
    assert(ab.digest == d1)
    // union of an identity-initialized sum is the pure multiset merge
    assert(MultisetHash.of(b("a"), b("b"))
      .union(MultisetHash.zero.insertAll(Seq(b("c"), b("d")))).digest ==
      MultisetHash.of(b("a"), b("b"), b("c"), b("d")).digest)
  }

  test("property: order independence (commutativity)") {
    val gen = Gen.listOfN(8, Gen.alphaNumStr.suchThat(_.nonEmpty))
    val prop = Prop.forAll(gen) { xs: List[String] =>
      val fwd = MultisetHash().insertAll(xs.map(b))
      val rev = MultisetHash().insertAll(xs.reverse.map(b))
      fwd.digest == rev.digest
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop).passed)
  }

  test("property: homomorphism — hash(A ⊎ B) = hash(A) ∪ zeroHash(B)") {
    val gen = Gen.zip(Gen.listOfN(5, Gen.alphaNumStr), Gen.listOfN(5, Gen.alphaNumStr))
    val prop = Prop.forAll(gen) { case (xs, ys) =>
      val whole = MultisetHash().insertAll((xs ++ ys).map(b))
      val parts = MultisetHash().insertAll(xs.map(b))
        .union(MultisetHash.zero.insertAll(ys.map(b)))
      whole.digest == parts.digest
    }
    assert(SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop).passed)
  }

  test("Spark aggregator: digest independent of partitioning, matches local") {
    import spark.implicits._
    val items = (1 to 50).map(i => s"item-$i")
    val local = MultisetHash().insertAll(items.map(b)).digest
    for (parts <- Seq(1, 4)) {
      val df = items.toDF("s").repartition(parts)
        .select(col("s").cast("binary").as("v"))
      val d = df.agg(EcmhAggregator.digest(col("v")).as("d")).collect()(0).getString(0)
      assert(d == local, s"partitions=$parts")
    }
    // empty input group: digest(∅) = encode(Base), same as a fresh hash
    val empty = spark.emptyDataset[String].toDF("s")
      .select(col("s").cast("binary").as("v"))
      .agg(EcmhAggregator.digest(col("v")).as("d")).collect()(0).getString(0)
    assert(empty == MultisetHash().digest)
  }

  test("rowDigest: the aggregate's digest in one job, encode(B) for no rows") {
    val cols = Seq("id", "name", "flag")
    def rows(parts: Int) = spark.range(0, 4000, 1, parts).select(col("id"),
      concat(lit("name-"), col("id")).as("name"), (col("id") % 7 === 0).as("flag"))
    for (parts <- Seq(1, 4)) {
      val df = rows(parts)
      val aggregate = df.agg(EcmhAggregator.digest(EcmhAggregator.canonicalRow(cols)))
        .collect()(0).getString(0)
      val (d, work) = graft.WorkCounters.of(spark)(EcmhAggregator.rowDigest(df, cols))
      assert(d == aggregate, s"partitions=$parts")
      assert(work.jobs == 1 && work.shuffleWriteBytes == 0, s"partitions=$parts: $work")
    }
    assert(EcmhAggregator.rowDigest(rows(4).where(col("id") < 0), cols) == MultisetHash().digest)
    assert(EcmhAggregator.rowDigest(rows(1).limit(0), cols) == MultisetHash().digest)
  }
}
