package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Incremental near-dup detection over a document stream (streaming
 * set-similarity join): each micro-batch's MinHash band signatures are
 * joined against a persistent signature index, then appended to it —
 * so every document is checked against ALL previously-seen documents
 * without ever re-scanning the corpus.
 *
 * Scale shape: the index holds (band, band_sig, doc_id) triples —
 * ~48 bytes × bands per document, independent of document size; the
 * batch-vs-index join is an equi-join on (band, band_sig), and the index
 * side can be bucketed on band_sig so the probe becomes a co-located
 * join with no index shuffle. At 100 TB of text the index is ~3 orders
 * of magnitude smaller than the corpus.
 *
 * Exactly-once caveat: with `foreachBatch` retries a batch can append
 * its signatures twice; `dup_of` takes the min over matches so flags
 * stay stable, and index compaction can dedupe offline.
 */
final class IncrementalDedup(indexDir: String, k: Int = 8, bands: Int = 4,
                             idCol: String = "doc_id", textCol: String = "text") {

  /**
   * Process one batch: returns the batch annotated with
   * `dup_of` (lowest-id earlier near-dup, or NULL) considering both the
   * persisted index and earlier rows of the same batch; then appends the
   * batch's signatures to the index.
   */
  def processBatch(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val sig = Dedup.minhashExploded(docs, k, idCol, textCol)
    val bandsNew = Dedup.lshBands(sig, idCol, k, bands)

    // vs earlier batches (persisted index; absent before the first
    // batch, while a corrupt one throws — read as empty it would mark
    // every document unique)
    val vsIndex = graft.core.FsUtil.readIfPresent(spark.read.parquet(indexDir)) match {
      case Some(idx) =>
        bandsNew.join(idx.withColumnRenamed(idCol, "prior_id"),
            Seq("band", "band_sig"))
          .select(col(idCol), col("prior_id"))
      case None => spark.emptyDataFrame
          .withColumn(idCol, lit(null).cast("long"))
          .withColumn("prior_id", lit(null).cast("long"))
    }
    // vs earlier rows of this batch (lower id = earlier)
    val within = bandsNew.as("a")
      .join(bandsNew.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig") &&
          col(s"b.$idCol") < col(s"a.$idCol"))
      .select(col(s"a.$idCol").as(idCol), col(s"b.$idCol").as("prior_id"))

    val dupOf = vsIndex.unionByName(within)
      .groupBy(idCol).agg(min("prior_id").as("dup_of"))

    val annotated = docs.join(dupOf, Seq(idCol), "left")
    // persist this batch's signatures for future batches
    bandsNew.write.mode("append").parquet(indexDir)
    annotated
  }

  /** Streaming entry: annotate each micro-batch, write results out. */
  def start(docsStream: DataFrame, outDir: String, checkpointDir: String,
            availableNow: Boolean = true): org.apache.spark.sql.streaming.StreamingQuery = {
    val trigger =
      if (availableNow) org.apache.spark.sql.streaming.Trigger.AvailableNow()
      else org.apache.spark.sql.streaming.Trigger.ProcessingTime(10000L)
    docsStream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch).write.mode("append").parquet(outDir)
      }
      .start()
  }
}
