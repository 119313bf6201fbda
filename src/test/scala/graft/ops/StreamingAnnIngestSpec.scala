package graft.ops

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * The streaming half of the ANN index lifecycle: a Structured Streaming
 * feed of new embedding rows maintained into a servable IMI+PQ layout
 * with `foreachBatch` → [[Layout.imiPqAppend]] per micro-batch and
 * [[Layout.imiPqCompact]] on a cadence — the composition DEPLOY.md
 * prescribes for index maintenance under streaming ingest. foreachBatch
 * serializes appends and compactions (single writer), which is what
 * makes the compact's directory swap safe mid-stream.
 */
class StreamingAnnIngestSpec extends SparkSpec {

  test("streaming embedding feed maintains a servable IMI+PQ layout; mid-stream compact is safe") {
    import spark.implicits._
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings").cache()
    // one frozen quantizer + codebooks for both arms (drift policy:
    // appends never retrain)
    val (indexedFull, cents) = Similarity.imiIndex(emb, k = 4, lloydIters = 2)
    val books = Similarity.pqTrain(emb)
    val base = Files.createTempDirectory("stream-imipq").toString

    // reference arm: the layout built whole
    Layout.imiPqWrite(indexedFull, cents, books, s"$base/full")

    // streaming arm: bootstrap from chunk 0, stream chunks 1-3 as one
    // micro-batch each (maxFilesPerTrigger=1 over a file feed)
    def chunk(i: Int) = emb.where(pmod(col("vec_id"), lit(4)) === i)
    Layout.imiPqWrite(Similarity.assignImiCells(chunk(0), cents), cents, books, s"$base/inc")
    val feedDir = s"$base/feed"
    (1 to 3).foreach(i => chunk(i).coalesce(1)
      .write.mode("append").parquet(feedDir))
    @volatile var compacted = false
    val q = spark.readStream
      .schema(emb.schema).option("maxFilesPerTrigger", "1").parquet(feedDir)
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        Layout.imiPqAppend(batch, s"$base/inc")
        if (batchId == 1L) { // compact MID-stream, between appends
          Layout.imiPqCompact(spark, s"$base/inc")
          compacted = true
        }
      }
      .start()
    q.awaitTermination(120000)
    assert(compacted, "the mid-stream compaction never ran")

    // the streamed layout serves IDENTICAL results to the full build
    val queries = emb.where(col("vec_id") < 3)
    def rows(dir: String) =
      Layout.imiPqTopKFromLayout(spark, dir, queries, k = 5, nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sorted.toSeq
    assert(rows(s"$base/inc") == rows(s"$base/full"),
      "streamed appends + mid-stream compact diverged from the full build")
    // and the compact bounded the file count: the post-compact appends
    // add at most one file set per touched partition per batch (k = 4
    // per half ⇒ the FUSED pair regime, 16 pair directories)
    val nFiles = spark.read.parquet(s"$base/inc/codes").inputFiles.length
    val nPairs = cents._1.length * cents._2.length
    assert(nFiles <= 3 * nPairs,
      s"$nFiles files after compact + 2 appends (expected <= ${3 * nPairs})")
    emb.unpersist(); ()
  }
}
