package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Incremental near-dup detection over a stream (streaming set-similarity
 * join): each micro-batch is checked against every previously seen row
 * through a persistent key index, without ever re-scanning the corpus.
 * Two keyings share the index: [[IncrementalDedup.minhash]] (MinHash LSH
 * bands over text) and [[IncrementalDedup.embedding]] (sign-LSH buckets
 * over vectors, candidates verified by EXACT cosine — precision 1.0, like
 * [[Similarity.cosineNearDupPairs]]).
 *
 * The index is one slice per batch, `indexDir/batch=<batchId>`, holding
 * the batch's key rows. A batch writes its slice first, with overwrite,
 * then probes the whole index, its own slice included: one join covers
 * earlier batches and earlier rows of the same batch. Only strictly
 * lower ids count ("lower id = earlier"), so `dup_of` is a pure function
 * of the rows seen. A replayed batch rewrites its own slice and returns
 * the same annotations. Batch ids name the slices, so one index belongs
 * to one stream's checkpoint.
 *
 * Scale shape: a MinHash slice holds (doc_id, band, band_sig) — ~48 bytes
 * × bands per document, independent of document size; an embedding slice
 * holds (vec_id, tbl, bucket, embedding, nrm), the vector once per hash
 * table (at extreme scale, keep a vec_id → embedding table once and pay
 * one id-keyed join per batch). The probe is an equi-join on the key
 * columns with the small batch side, so the index never shuffles when
 * its files are bucketed on the key.
 *
 * @param keysOf  batch → (id, key columns, payload columns)
 * @param probe   probe-side expansion of the batch's key rows
 * @param check   candidate filter over payload `c` (probe row) and
 *                `prior_c` (index row)
 */
final class IncrementalDedup private (indexDir: String, idCol: String, keyCols: Seq[String],
                                      keysOf: DataFrame => DataFrame,
                                      probe: DataFrame => DataFrame, check: Column) {

  /**
   * Process batch `batchId`: write its keys to its slice, then return the
   * batch annotated with `dup_of` (lowest earlier id among its near-dups,
   * or NULL). The returned frame reads the keys back from the slice, so
   * evaluating it computes no keys; a corrupt slice fails it.
   */
  def processBatch(batch: DataFrame, batchId: Long): DataFrame = {
    val keys = keysOf(batch)
    val slice = s"$indexDir/batch=$batchId"
    keys.write.mode("overwrite").parquet(slice)
    // every data file under the index, with no partition discovery: that
    // would silently skip the flat part files of an index written before
    // per-batch slices, which still count as earlier rows
    val read = batch.sparkSession.read.schema(keys.schema).option("recursiveFileLookup", "true")
    val payload = keys.columns.filterNot((idCol +: keyCols).contains)
    val prior = read.parquet(indexDir).select(keyCols.map(col) ++
      (col(idCol).as("prior_id") +: payload.map(c => col(c).as(s"prior_$c"))): _*)
    val dupOf = probe(read.parquet(slice)).join(prior, keyCols)
      .where(col("prior_id") < col(idCol) && check)
      .groupBy(idCol).agg(min("prior_id").as("dup_of"))
    batch.join(dupOf, Seq(idCol), "left")
  }

  /** Streaming entry: annotate each micro-batch and write it to
    * `outDir/batch=<batchId>` with overwrite, so a replay rewrites it. */
  def start(stream: DataFrame, outDir: String, checkpointDir: String,
            availableNow: Boolean = true): StreamingQuery =
    stream.writeStream
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(10000L))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId).write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
}

object IncrementalDedup {

  /** Text near-dups: rows sharing any MinHash LSH band signature
    * ([[Dedup.lshBands]] over `k` minhashes in `bands` bands). */
  def minhash(indexDir: String, k: Int = 8, bands: Int = 4,
              idCol: String = "doc_id", textCol: String = "text"): IncrementalDedup =
    new IncrementalDedup(indexDir, idCol, Seq("band", "band_sig"),
      docs => Dedup.lshBands(Dedup.minhashExploded(docs, k, idCol, textCol), idCol, k, bands),
      identity, lit(true))

  /** Vector near-dups at cosine ≥ `threshold`: candidates share a sign-LSH
    * bucket in one of `nTables` tables, with a 1-bit multiprobe on the
    * probe side only (pairs within Hamming distance 1 per table). */
  def embedding(indexDir: String, threshold: Double, nBits: Int = 6, nTables: Int = 16,
                dims: Int = 64, idCol: String = "vec_id",
                vecCol: String = "embedding"): IncrementalDedup = {
    import Similarity.{dot, norm}
    val flips = (0 until nBits).map(b => col("bucket").bitwiseXOR(lit(1L << b)))
    new IncrementalDedup(indexDir, idCol, Seq("tbl", "bucket"),
      vecs => vecs.select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"),
        posexplode(graft.functions.SignLshBuckets(col(vecCol), nTables, nBits, dims))
          .as(Seq("tbl", "bucket"))),
      _.withColumn("bucket", explode(array(col("bucket") +: flips: _*))),
      dot(col(vecCol), col(s"prior_$vecCol")) / (col("nrm") * col("prior_nrm")) >= threshold)
  }
}
