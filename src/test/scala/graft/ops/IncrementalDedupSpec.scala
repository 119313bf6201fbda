package graft.ops

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Incremental near-dup detection: batch-vs-index + within-batch. */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("later batches detect dups of earlier batches via the index") {
    val base = Files.createTempDirectory("incdedup").toString
    val d = IncrementalDedup.minhash(s"$base/index")

    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about distributed query engines")
    ).toDF("doc_id", "text")
    val r1 = d.processBatch(b1, 0).collect()
    assert(r1.forall(_.isNullAt(r1.head.fieldIndex("dup_of"))))

    val b2 = Seq(
      (3L, "the quick brown fox jumps over the lazy dog"), // dup of 1
      (4L, "fresh unseen content with no earlier match at all"),
      (5L, "fresh unseen content with no earlier match at all") // dup of 4, same batch
    ).toDF("doc_id", "text")
    val r2 = d.processBatch(b2, 1).collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(r.fieldIndex("dup_of"))) None
                       else Some(r.getAs[Long]("dup_of")))).toMap
    assert(r2(3L) == Some(1L))
    assert(r2(4L) == None)
    assert(r2(5L) == Some(4L))
  }

  test("a corrupt signature index fails the batch instead of reading as empty") {
    val base = Files.createTempDirectory("incdedup-corrupt").toString
    val d = IncrementalDedup.minhash(s"$base/index")
    d.processBatch(Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"), 0).collect()
    // clobber every index data file: read as empty, the index would mark
    // the next batch's duplicate of doc 1 unique
    graft.core.FsUtil.listDir(java.nio.file.Paths.get(s"$base/index"))
      .flatMap(graft.core.FsUtil.listDir)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(Files.write(_, "this is not a parquet file".getBytes("UTF-8")))
    intercept[Exception] {
      d.processBatch(Seq((2L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text"), 1).collect()
    }
  }

  test("streaming exact dedup: dropDuplicatesWithinWatermark spans batches") {
    // built-in streaming dedup: duplicate fingerprints arriving within
    // the watermark window are emitted once, state expires after it
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("sdedup").toString
    val in = s"$base/in"; Files.createDirectories(java.nio.file.Paths.get(in))
    def write(rows: Seq[(Long, String, String)]): Unit =
      rows.map { case (id, ts, txt) => (id, java.sql.Timestamp.valueOf(ts), txt) }
        .toDF("doc_id", "ts", "text").write.mode("append").parquet(in)

    write(Seq((1L, "2024-01-01 00:00:00", "same text"),
              (2L, "2024-01-01 00:01:00", "same text"),   // dup within batch
              (3L, "2024-01-01 00:02:00", "other text")))
    val schema = spark.read.parquet(in).schema
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .withColumn("fp", md5(trim(lower(col("text")))))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("fp")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000); ()
    }
    run()
    // a cross-batch duplicate within the watermark is still suppressed
    write(Seq((4L, "2024-01-01 00:10:00", "same text")))
    run()
    val ids = spark.read.parquet(s"$base/out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids.contains(3L))
    assert((ids & Set(1L, 2L)).size == 1) // exactly one copy of "same text"
    assert(!ids.contains(4L))             // cross-batch dup suppressed
  }

  test("streaming wrapper annotates and persists across restarts") {
    val base = Files.createTempDirectory("incdedup2").toString
    val in = s"$base/in"; Files.createDirectories(java.nio.file.Paths.get(in))
    val d = IncrementalDedup.minhash(s"$base/index")

    Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    def run(): Unit = {
      val q = d.start(spark.readStream.schema(schema).parquet(in),
        s"$base/out", s"$base/ckpt")
      q.awaitTermination(120000)
      ()
    }
    run()
    Seq((11L, "alpha beta gamma delta epsilon zeta eta theta")) // dup of 10
      .toDF("doc_id", "text").write.mode("append").parquet(in)
    run()

    val out = spark.read.parquet(s"$base/out")
      .select("doc_id", "dup_of").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out(10L) == -1L)
    assert(out(11L) == 10L)
  }

  private def dupsOf(annotated: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
    annotated.collect().map(r =>
      r.getAs[Long]("doc_id") -> Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue)).toMap

  test("a replayed batch keeps its annotations and its index rows") {
    val base = Files.createTempDirectory("incdedup-replay").toString
    val d = IncrementalDedup.minhash(s"$base/index")
    val b = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about distributed query engines")).toDF("doc_id", "text")
    val first = dupsOf(d.processBatch(b, 0))
    val rows = spark.read.parquet(s"$base/index").count()
    // the replay re-reads its own slice: without the lower-id guard every
    // document would dup itself
    val replayed = dupsOf(d.processBatch(b, 0))
    assert(first == Map(1L -> None, 2L -> None))
    assert(replayed == first, s"replay changed flags: $first -> $replayed")
    assert(spark.read.parquet(s"$base/index").count() == rows)
  }

  test("an empty batch leaves a readable slice; the next batch still annotates") {
    val base = Files.createTempDirectory("incdedup-empty").toString
    val d = IncrementalDedup.minhash(s"$base/index")
    assert(d.processBatch(Seq.empty[(Long, String)].toDF("doc_id", "text"), 0).count() == 0)
    assert(graft.core.FsUtil.listDir(java.nio.file.Paths.get(s"$base/index/batch=0"))
      .exists(_.getFileName.toString.endsWith(".parquet")), "empty slice has no schema file")
    val b = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    assert(dupsOf(d.processBatch(b, 1)) == Map(10L -> None, 11L -> Some(10L)))
    assert(spark.read.parquet(s"$base/index").count() == 2 * 4) // 2 docs x 4 bands
  }

  test("the annotated frame reads its keys from the slice, computing no MinHash") {
    import graft.functions.NgramShingles
    def shingles(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(_.isInstanceOf[NgramShingles])))
    val base = Files.createTempDirectory("incdedup-plan").toString
    val b = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    assert(shingles(Dedup.minhashExploded(b, 8, "doc_id", "text")))
    assert(!shingles(IncrementalDedup.minhash(s"$base/index").processBatch(b, 0)))
  }

  test("a replayed stream batch leaves one output row per input row") {
    val base = Files.createTempDirectory("incdedup-stream-replay").toString
    val in = s"$base/in"
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text").write.parquet(in)
    val d = IncrementalDedup.minhash(s"$base/index")
    def run(): Unit =
      d.start(spark.readStream.schema(spark.read.parquet(in).schema).parquet(in),
        s"$base/out", s"$base/ckpt").awaitTermination(120000)
    run()
    // forget batch 0's commit: the restart replays it under the same id
    graft.core.FsUtil.listDir(java.nio.file.Paths.get(s"$base/ckpt/commits"))
      .foreach(Files.delete)
    run()
    assert(dupsOf(spark.read.parquet(s"$base/out").select("doc_id", "dup_of")) ==
      Map(1L -> None, 2L -> Some(1L)))
    assert(spark.read.parquet(s"$base/out").count() == 2)
  }

  test("an index of flat part files, the layout before slices, still counts") {
    val base = Files.createTempDirectory("incdedup-flat").toString
    val index = java.nio.file.Paths.get(s"$base/index")
    val d = IncrementalDedup.minhash(index.toString)
    d.processBatch(Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text"), 0)
      .collect()
    // move slice 0's files up to the index root, where the old layout kept them
    graft.core.FsUtil.listDir(index.resolve("batch=0"))
      .foreach(f => Files.move(f, index.resolve(f.getFileName)))
    Files.delete(index.resolve("batch=0"))
    val b = Seq((2L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    assert(dupsOf(d.processBatch(b, 1)) == Map(2L -> Some(1L)))
  }
}
