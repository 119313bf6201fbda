package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * KMV / bottom-k corpus sketches (Bar-Yossef et al.'s k-minimum-values
 * construction, public literature): a corpus reduces to its k smallest
 * `md5(key)` values — a deterministic, *mergeable* fixed-size summary
 * from which set overlap (Jaccard) between corpora is estimated without
 * ever joining them row-to-row.
 *
 * Why this next to `approx_count_distinct`: HLL sketches are
 * register-based and engine-specific; the KMV sketch is just k hashes,
 * so it is (a) bit-for-bit deterministic across engines, partitionings
 * and runs (the overlap query hash-matches a SQL oracle — no tolerance
 * contract needed), and (b) mergeable with a plain
 * union + re-bottom-k, which is the distributed story: each partition
 * (or each corpus shard, or each day of a 100 TB crawl) contributes its
 * own bottom-k, and any combination merges in O(k log k) on arbitrarily
 * small state. Spark executes `orderBy(h).limit(k)` as a distributed
 * TakeOrdered (per-partition top-k then a k-sized driver merge), never
 * a full sort shuffle.
 *
 * Estimator: with U = bottomK(A ∪ B) (computed from the two sketches),
 * J(A,B) ≈ |{h ∈ U : h ∈ sketch(A) ∧ h ∈ sketch(B)}| / |U|.
 */
object CorpusSketch {

  /** Bottom-k sketch of a corpus: the k smallest md5 hex hashes of the
    * DISTINCT non-null key values, one column `h`. Null keys are
    * excluded — a null hash has engine-dependent sort placement and is
    * not a set member. */
  def bottomK(df: DataFrame, keyCol: Column, k: Int): DataFrame =
    df.select(md5(keyCol.cast("string")).as("h"))
      .where(col("h").isNotNull)
      .distinct()
      .orderBy("h")
      .limit(k)

  /** Merge sketches: bottom-k of the union — identical to sketching the
    * concatenated corpora directly (spec-proven). */
  def merge(sketches: Seq[DataFrame], k: Int): DataFrame =
    sketches.reduce(_.unionByName(_)).distinct().orderBy("h").limit(k)

  /**
   * KMV Jaccard estimate between two corpora:
   * one row (k_used, n_both, jaccard_est). Only the two k-row sketches
   * are compared — the corpora themselves are read once each and never
   * joined.
   */
  def jaccardEstimate(a: DataFrame, b: DataFrame, keyCol: Column, k: Int): DataFrame = {
    val sa = bottomK(a, keyCol, k).cache()
    val sb = bottomK(b, keyCol, k).cache()
    val union = merge(Seq(sa, sb), k)
    val marked = union
      .join(sa.withColumn("in_a", lit(1)), Seq("h"), "left")
      .join(sb.withColumn("in_b", lit(1)), Seq("h"), "left")
    val out = marked.agg(
      count(lit(1)).as("k_used"),
      sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L)).as("n_both"))
      .select(col("k_used"), col("n_both"),
        round(col("n_both").cast("double") / col("k_used").cast("double"), 6)
          .as("jaccard_est"))
    // one-row result: materialize, then release the two k-row sketch
    // caches (no leaked blocks across invocations in a long session)
    val spark = a.sparkSession
    val rows = out.collect()
    sa.unpersist(); sb.unpersist()
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
  }

  /**
   * Count-min sketch of a key column — the third sketch family (after
   * HLL distinct and KMV overlap): point-frequency estimates from ONE
   * constant-memory mergeable aggregation. The sketch is
   * `⌈e/ε⌉ × ⌈ln(1/δ)⌉` counters regardless of corpus size; counters
   * are additive so partition merge order cannot matter, and the seed
   * fixes the hash functions — deterministic across runs and
   * partitionings. Guarantee per lookup: `exact ≤ est ≤ exact + εN`
   * with probability ≥ `confidence` (never an underestimate) — the
   * heavy-hitter screen for a 100 TB token stream where an exact
   * groupBy of the full vocabulary would be the bottleneck: sketch
   * first, verify only survivors.
   */
  def cmsSketch(keys: DataFrame, keyCol: Column, eps: Double = 0.001,
                confidence: Double = 0.99, seed: Int = 42)
      : org.apache.spark.util.sketch.CountMinSketch = {
    val bytes = keys
      .select(count_min_sketch(keyCol, lit(eps), lit(confidence), lit(seed)).as("s"))
      .head().getAs[Array[Byte]](0)
    org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
  }

  /** Merge per-shard / per-day CMS sketches into the global one —
    * counters are additive, so the merge is EXACTLY the sketch of the
    * concatenated corpora (spec-pinned), the property that lets a
    * 100 TB crawl sketch shard-by-shard and combine in O(sketch size).
    * All sketches must share eps/confidence/seed; mutates and returns
    * the first. */
  def cmsMerge(sketches: Seq[org.apache.spark.util.sketch.CountMinSketch])
      : org.apache.spark.util.sketch.CountMinSketch =
    sketches.reduce { (a, b) => a.mergeInPlace(b); a }
}
