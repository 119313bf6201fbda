package graft.ops

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Incremental near-dup detection: batch-vs-index + within-batch. */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("later batches detect dups of earlier batches via the index") {
    val base = Files.createTempDirectory("incdedup").toString
    val d = new IncrementalDedup(s"$base/index")

    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about distributed query engines")
    ).toDF("doc_id", "text")
    val r1 = d.processBatch(b1).collect()
    assert(r1.forall(_.isNullAt(r1.head.fieldIndex("dup_of"))))

    val b2 = Seq(
      (3L, "the quick brown fox jumps over the lazy dog"), // dup of 1
      (4L, "fresh unseen content with no earlier match at all"),
      (5L, "fresh unseen content with no earlier match at all") // dup of 4, same batch
    ).toDF("doc_id", "text")
    val r2 = d.processBatch(b2).collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(r.fieldIndex("dup_of"))) None
                       else Some(r.getAs[Long]("dup_of")))).toMap
    assert(r2(3L) == Some(1L))
    assert(r2(4L) == None)
    assert(r2(5L) == Some(4L))
  }

  test("a corrupt signature index fails the batch instead of reading as empty") {
    val base = Files.createTempDirectory("incdedup-corrupt").toString
    val d = new IncrementalDedup(s"$base/index")
    d.processBatch(Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")).collect()
    // clobber every index data file: read as empty, the index would mark
    // the next batch's duplicate of doc 1 unique
    graft.core.FsUtil.listDir(java.nio.file.Paths.get(s"$base/index"))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(Files.write(_, "this is not a parquet file".getBytes("UTF-8")))
    intercept[Exception] {
      d.processBatch(Seq((2L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text")).collect()
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
    val d = new IncrementalDedup(s"$base/index")

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
}
