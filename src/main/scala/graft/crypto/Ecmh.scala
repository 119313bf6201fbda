package graft.crypto

/**
 * ECMH — elliptic-curve multiset hash (C2): a homomorphic, order-
 * independent, multiset-aware digest. `insert` = point addition,
 * `remove` = subtraction; `union`/`difference` combine accumulators
 * (`pkg/ecmh/ecmh.go:12-60`).
 *
 * Built over ristretto255 with the dalek hash-to-group derivation, so
 * digests are BYTE-COMPATIBLE with the reference (go-ristretto
 * `Point.DeriveDalek` + `Point.String` = hex of the 32-byte canonical
 * encoding). Matching the reference exactly:
 *   - a fresh hash starts at the GENERATOR, not the identity
 *     (`ecmh.go:13-21` calls `SetBase`), so digest(∅) = encode(B);
 *   - insert(x) adds `deriveDalek(x)`; remove subtracts it;
 *   - union/difference add/subtract whole accumulators — note that with
 *     base-point initialization `h1.union(h2)` carries 2B, exactly as the
 *     reference does (`ecmh_test.go:47-84` only ever checks the
 *     union∘difference round trip, which cancels the offset).
 */
object Ecmh {
  import Ristretto255.{Pt, Base, Identity, deriveDalek, encode}

  private def hex(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length * 2)
    b.foreach(x => sb.append("%02x".format(x & 0xff)))
    sb.toString
  }

  /** Reference-shaped mutable accumulator (`ecmh.go:8-60`). */
  final class MultisetHash private[Ecmh] (private var acc: Pt) {
    def insert(item: Array[Byte]): this.type = { acc = acc + deriveDalek(item); this }
    def remove(item: Array[Byte]): this.type = { acc = acc - deriveDalek(item); this }
    def insertAll(items: Iterable[Array[Byte]]): this.type = { items.foreach(insert); this }
    def removeAll(items: Iterable[Array[Byte]]): this.type = { items.foreach(remove); this }
    def union(other: MultisetHash): this.type = { acc = acc + other.acc; this }
    def difference(other: MultisetHash): this.type = { acc = acc - other.acc; this }
    def point: Pt = acc
    /** `Point.String()`: hex of the canonical 32-byte encoding. */
    def digest: String = hex(encode(acc))
    override def equals(o: Any): Boolean = o match {
      case m: MultisetHash => m.acc.same(acc)
      case _ => false
    }
    override def hashCode(): Int = java.util.Arrays.hashCode(encode(acc))
  }

  object MultisetHash {
    /** `NewMultisetHash` — base-point initialized (`ecmh.go:13-21`). */
    def apply(): MultisetHash = new MultisetHash(Base)
    def of(items: Array[Byte]*): MultisetHash = apply().insertAll(items)
    /** Identity-initialized variant (pure multiset sum, no B offset) —
      * the internal form the distributed aggregator folds. */
    def zero: MultisetHash = new MultisetHash(Identity)
  }

  /** Hex forms of the canonical 32-byte point encoding — the interchange
    * format for incrementally-maintained digests (decode → combine with
    * ± point sums → re-encode). The all-zero string is the identity. */
  def encodeHex(p: Pt): String = hex(encode(p))
  def decodeHex(s: String): Pt = {
    require(s.length == 64, s"ristretto hex encoding must be 64 chars, got ${s.length}")
    val bytes = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    Ristretto255.decode(bytes).getOrElse(
      throw new IllegalArgumentException(s"invalid ristretto encoding: $s"))
  }
}

/**
 * Spark typed aggregate for ECMH: commutative + associative point
 * addition makes partial (map-side) aggregation safe in any partitioning
 * — the distributed form of the reference's accumulator.
 *
 * The buffer is the extended-coordinate ristretto255 point itself (four
 * 10-limb field elements), updated in place: per-row reduction is one
 * hash-to-group derivation plus one inversion-free extended addition into
 * the buffer, and `merge` adds the other partial into the first. Nothing
 * is encoded per row; the normalization (one inverse square root) and the
 * 32-byte canonical encoding happen once, in `finish`. Partials carry NO
 * base-point offset (identity-initialized) so merge is a plain point add
 * regardless of how many partials a partition tree produces; the single
 * generator offset that makes the digest equal to the reference's
 * `NewMultisetHash → InsertAll → String` is added in `finish`. A partial
 * crosses a shuffle as a struct of four 10-`Long` arrays.
 *
 * `offsetBase = false` yields the PURE multiset sum (hex of
 * encode(Σ points), identity → the all-zero encoding) — the algebraic
 * form for incremental digest maintenance, where sums are decoded,
 * combined (+ inserts, − removals) and re-encoded across batches;
 * a constant Base offset would accumulate once per combination.
 */
class EcmhAggregator(offsetBase: Boolean = true)
    extends org.apache.spark.sql.expressions.Aggregator[Array[Byte], Ristretto255.Pt, String] {
  import Ristretto255.{Pt, Base, deriveDalek}

  override def zero: Pt = Pt.identity
  override def reduce(buf: Pt, item: Array[Byte]): Pt = {
    if (item != null) Pt.addInto(buf, buf, deriveDalek(item))
    buf
  }
  override def merge(a: Pt, b: Pt): Pt = { Pt.addInto(a, a, b); a }
  override def finish(buf: Pt): String = Ecmh.encodeHex(if (offsetBase) Base + buf else buf)
  override def bufferEncoder: org.apache.spark.sql.Encoder[Pt] =
    org.apache.spark.sql.Encoders.product[Pt]
  override def outputEncoder: org.apache.spark.sql.Encoder[String] =
    org.apache.spark.sql.Encoders.STRING
}

object EcmhAggregator {
  /** Column form: `ecmhDigest(binaryCol)` — usable in any groupBy. */
  def digest(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.udaf(new EcmhAggregator).apply(c)

  /** Pure multiset point sum (no generator offset) as hex — feed to
    * `Ecmh.decodeHex` for incremental ± combination across batches. */
  def pointSum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.udaf(new EcmhAggregator(offsetBase = false)).apply(c)

  /** Canonical row bytes for digesting: JSON of `cols` in the given
    * order (deterministic field order + value rendering), UTF-8. Every
    * row digest — the vault-event digest, `CdcMerge`'s from-scratch and
    * incremental state digests — uses this one encoding. */
  def canonicalRow(cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    to_json(struct(cols.map(col): _*)).cast("binary")
  }

  /** Content digest of a DataFrame's rows over `cols`. Order- and
    * partitioning-independent, so writer and reader need not agree on
    * row layout — the vault-event verification digest. Observed on a
    * `noop` write, as the sink observes its own: one job and no shuffle,
    * where an aggregate would run its partial stage as a job of its own. */
  def rowDigest(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): String = {
    import org.apache.spark.sql.functions.col
    val o = org.apache.spark.sql.Observation()
    df.select(cols.map(col): _*).observe(o, digest(canonicalRow(cols)).as("d"))
      .write.format("noop").mode("overwrite").save()
    o.get("d").asInstanceOf[String]
  }
}
