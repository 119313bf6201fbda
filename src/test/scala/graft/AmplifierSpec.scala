package graft

import org.apache.spark.sql.functions._

/**
 * `Measure.amplify` builds every scale-sweep fixture: a bug in it would
 * silently invalidate every recorded scaling exponent, so its
 * construction is spec-pinned like any operator — multiplicity, the
 * per-copy key shift, payload fidelity, foreign keys joining within a
 * copy, and the (factor, source snapshot) reuse gate.
 */
class AmplifierSpec extends SparkSpec {
  import spark.implicits._

  private def freshDirs(): (String, String) = {
    val base = java.nio.file.Files.createTempDirectory("graft-amp").toString
    (s"$base/src", s"$base/out")
  }

  private def writeBase(srcDir: String): Unit =
    Seq((1L, "alpha beta", "en", 10L), (2L, "gamma", "de", 5L),
        (3L, "delta eps", "en", 9L))
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$srcDir/documents.parquet")

  test("explode amplifier: row multiplicity, key shift, payload fidelity") {
    val (src, out) = freshDirs()
    writeBase(src)
    Measure.amplify(spark, src, out, factor = 7, Seq("documents"))
    val amp = spark.read.parquet(s"$out/documents.parquet")
    assert(amp.count() === 21)
    assert(amp.select("doc_id").distinct().count() === 21) // ids stay unique
    // copy i of doc d carries id d + i*1e8 and d's exact payload
    val shifted = amp
      .withColumn("copy", expr("doc_id div 100000000"))
      .withColumn("base_id", expr("doc_id % 100000000"))
    assert(shifted.select("copy").distinct().count() === 7)
    val perCopy = shifted.groupBy("copy")
      .agg(sort_array(collect_list(struct($"base_id", $"text", $"lang", $"n_chars")))
        .as("rows"))
      .select("rows").distinct()
    assert(perCopy.count() === 1) // every copy is the base corpus verbatim
  }

  test("amplifier reuse is gated on (factor, source snapshot), not existence") {
    val (src, out) = freshDirs()
    writeBase(src)
    Measure.amplify(spark, src, out, factor = 2, Seq("documents"))
    val p = java.nio.file.Paths.get(s"$out/documents.parquet")
    val count2 = spark.read.parquet(p.toString).count()
    assert(count2 === 6)

    // same factor, same source → fixture untouched (idempotent reuse)
    val before = java.nio.file.Files.getLastModifiedTime(p)
    Measure.amplify(spark, src, out, factor = 2, Seq("documents"))
    assert(java.nio.file.Files.getLastModifiedTime(p) === before)

    // DIFFERENT factor → rebuild (silent reuse of the wrong corpus would
    // invalidate recorded exponents — the round-10 ADVICE finding)
    Measure.amplify(spark, src, out, factor = 3, Seq("documents"))
    assert(spark.read.parquet(p.toString).count() === 9)

    // changed SOURCE data under the same factor → rebuild
    Seq((1L, "alpha beta", "en", 10L), (2L, "gamma", "de", 5L),
        (3L, "delta eps", "en", 9L), (4L, "zeta", "fr", 4L))
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$src/documents.parquet")
    Measure.amplify(spark, src, out, factor = 3, Seq("documents"))
    assert(spark.read.parquet(p.toString).count() === 12)

    // a fixture with NO marker (pre-marker or torn write) → rebuild
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$out/documents.parquet.marker"))
    val beforeTorn = java.nio.file.Files.getLastModifiedTime(p)
    Measure.amplify(spark, src, out, factor = 3, Seq("documents"))
    assert(java.nio.file.Files.getLastModifiedTime(p) !== beforeTorn)
    assert(spark.read.parquet(p.toString).count() === 12)
  }

  test("amplified tables keep their foreign keys joining within a copy") {
    // lineitem.l_partkey -> part.p_partkey: both key columns get the same
    // per-copy shift, so copy i's lineitems join exactly copy i's parts
    val base = "/root/testdata/sf0.001"
    val (_, out) = freshDirs()
    val factor = 3
    Measure.amplify(spark, base, out, factor, Seq("lineitem", "part"))
    def joined(dir: String) = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/part.parquet"), col("l_partkey") === col("p_partkey"))
    val baseCount = joined(base).count()
    assert(baseCount > 0)
    val amp = joined(out)
    assert(amp.count() === factor * baseCount)
    // every joined row pairs a lineitem and a part of the same copy
    assert(amp.where(expr("l_orderkey div 100000000 != p_partkey div 100000000")).isEmpty)
  }
}
