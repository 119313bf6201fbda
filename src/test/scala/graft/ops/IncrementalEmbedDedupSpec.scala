package graft.ops

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Incremental embedding near-dup: batch-vs-index + within-batch, exact
  * cosine verification, streaming entry. */
class IncrementalEmbedDedupSpec extends SparkSpec {
  import spark.implicits._

  private def v(base: Int, jitter: Float): Array[Float] = {
    val a = Array.fill(8)(0.001f); a(base) = 1.0f; a((base + 1) % 8) += jitter; a
  }

  test("later batches detect dups of earlier batches via the index") {
    val base = Files.createTempDirectory("incembed").toString
    val d = IncrementalDedup.embedding(s"$base/index", threshold = 0.9, dims = 8)

    val b1 = Seq((1L, v(0, 0f)), (2L, v(3, 0f))).toDF("vec_id", "embedding")
    val r1 = d.processBatch(b1, 0).collect()
    assert(r1.forall(_.isNullAt(r1.head.fieldIndex("dup_of"))))

    val b2 = Seq(
      (3L, v(0, 0.01f)),  // near-dup of 1 (cosine ~1)
      (4L, v(6, 0f)),     // fresh direction
      (5L, v(6, 0.01f))   // dup of 4, same batch
    ).toDF("vec_id", "embedding")
    val r2 = d.processBatch(b2, 1).collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(r.fieldIndex("dup_of"))) None
                       else Some(r.getAs[Long]("dup_of")))).toMap
    assert(r2(3L) == Some(1L), s"got $r2")
    assert(r2(4L) == None)
    assert(r2(5L) == Some(4L))
  }

  test("verification is exact: colliding buckets below threshold are NOT dups") {
    val base = Files.createTempDirectory("incembed2").toString
    // threshold so high that only near-identical vectors qualify — the
    // orthogonal-ish pair may collide in some bucket but must be verified away
    val d = IncrementalDedup.embedding(s"$base/index", threshold = 0.999, dims = 8)
    val b1 = Seq((1L, v(0, 0f))).toDF("vec_id", "embedding")
    d.processBatch(b1, 0).collect()
    val b2 = Seq((2L, v(0, 0.2f))).toDF("vec_id", "embedding") // cosine ~0.98 < 0.999
    val r = d.processBatch(b2, 1).collect()
    assert(r.head.isNullAt(r.head.fieldIndex("dup_of")))
  }

  test("replayed batch is idempotent: no self-flags, identical annotations") {
    val base = Files.createTempDirectory("incembed4").toString
    val d = IncrementalDedup.embedding(s"$base/index", threshold = 0.9, dims = 8)
    // batch with one unique row and one within-batch near-dup pair
    val b = Seq((1L, v(0, 0f)), (4L, v(6, 0f)), (5L, v(6, 0.01f)))
      .toDF("vec_id", "embedding")
    def annotate(): Map[Long, Option[Long]] = d.processBatch(b, 0).collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(r.fieldIndex("dup_of"))) None
                       else Some(r.getAs[Long]("dup_of")))).toMap
    val first = annotate()
    assert(first == Map(1L -> None, 4L -> None, 5L -> Some(4L)))
    // simulate a retry AFTER the index append: the index already holds
    // this batch's own buckets — annotations must not change
    val replayed = annotate()
    assert(replayed == first, s"replay changed flags: $first -> $replayed")
  }

  test("corrupt index fails the batch instead of degrading to empty") {
    val base = Files.createTempDirectory("incembed5").toString
    val idx = java.nio.file.Paths.get(s"$base/index")
    Files.createDirectories(idx.resolve("batch=0"))
    Files.write(idx.resolve("batch=0").resolve("part-00000.parquet"), "not parquet".getBytes)
    val d = IncrementalDedup.embedding(idx.toString, threshold = 0.9, dims = 8)
    val b = Seq((1L, v(0, 0f))).toDF("vec_id", "embedding")
    intercept[Exception] { d.processBatch(b, 1).collect() }
  }

  test("a replay rewrites its own index slice; probing still works") {
    val base = Files.createTempDirectory("incembed6").toString
    val d = IncrementalDedup.embedding(s"$base/index", threshold = 0.9, dims = 8)
    val b = Seq((1L, v(0, 0f)), (2L, v(3, 0f))).toDF("vec_id", "embedding")
    d.processBatch(b, 0).collect()
    val before = spark.read.parquet(s"$base/index").count()
    d.processBatch(b, 0).collect() // a retry rewrites the same slice
    val after = spark.read.parquet(s"$base/index").count()
    assert(after == before, s"replay changed the index: $before -> $after rows")
    val r = d.processBatch(Seq((9L, v(0, 0.01f))).toDF("vec_id", "embedding"), 1)
      .collect()
    assert(r.head.getAs[Long]("dup_of") == 1L)
  }

  test("streaming entry annotates micro-batches across restarts") {
    val base = Files.createTempDirectory("incembed3").toString
    val in = s"$base/in"; Files.createDirectories(java.nio.file.Paths.get(in))
    def write(rows: Seq[(Long, Array[Float])]): Unit =
      rows.toDF("vec_id", "embedding").write.mode("append").parquet(in)
    write(Seq(1L -> v(0, 0f), 2L -> v(3, 0f)))
    val schema = spark.read.parquet(in).schema
    val d = IncrementalDedup.embedding(s"$base/index", threshold = 0.9, dims = 8)
    def run(): Unit = {
      val q = d.start(spark.readStream.schema(schema).parquet(in),
        s"$base/out", s"$base/ckpt")
      q.awaitTermination(120000); ()
    }
    run()
    write(Seq(3L -> v(0, 0.01f))) // dup of 1, seen only via the index
    run()
    val out = spark.read.parquet(s"$base/out")
      .select("vec_id", "dup_of").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L) == None && out(2L) == None)
    assert(out(3L) == Some(1L))
  }

  test("the annotated frame reads its buckets from the slice, hashing no vector") {
    import graft.functions.SignLshBuckets
    def hashes(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(_.isInstanceOf[SignLshBuckets])))
    val base = Files.createTempDirectory("incembed7").toString
    // a scanned batch: the optimizer would fold the hashing of a local one
    Seq((1L, v(0, 0f))).toDF("vec_id", "embedding").write.parquet(s"$base/in")
    val b = spark.read.parquet(s"$base/in")
    assert(hashes(b.select(SignLshBuckets(col("embedding"), 16, 6, 8))))
    assert(!hashes(IncrementalDedup.embedding(s"$base/index", threshold = 0.9, dims = 8)
      .processBatch(b, 0)))
  }

  test("a replayed stream batch leaves one output row per input row") {
    val base = Files.createTempDirectory("incembed8").toString
    val in = s"$base/in"
    Seq(1L -> v(0, 0f), 2L -> v(0, 0.01f)).toDF("vec_id", "embedding").write.parquet(in)
    val d = IncrementalDedup.embedding(s"$base/index", threshold = 0.9, dims = 8)
    def run(): Unit =
      d.start(spark.readStream.schema(spark.read.parquet(in).schema).parquet(in),
        s"$base/out", s"$base/ckpt").awaitTermination(120000)
    run()
    // forget batch 0's commit: the restart replays it under the same id
    graft.core.FsUtil.listDir(java.nio.file.Paths.get(s"$base/ckpt/commits"))
      .foreach(Files.delete)
    run()
    val out = spark.read.parquet(s"$base/out").select("vec_id", "dup_of").collect()
    assert(out.length == 2, s"got ${out.length} output rows")
    assert(out.map(r => r.getLong(0) -> Option(r.get(1))).toMap == Map(1L -> None, 2L -> Some(1L)))
  }
}
