package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Standing recall gate for the grid-derived IMI config: at every test
 * scale, `imiIndex(k = 4, lloydIters = 2)` probed with
 * `autoProbesImi(4, 0.9)` pair cells must reach recall@5 >= 0.9 against
 * exact brute force on the 10-query contract set (`vec_id < 10`) — the
 * target `autoProbesImi` is derived from. Measured 0.94 / 0.96 / 0.92 at
 * sf0.001 / sf0.01 / sf0.1.
 */
class ImiRecallSpec extends SparkSpec {
  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"auto-probed IMI config meets its 0.9 recall@5 target at $sf") {
      val emb = graft.Tables(spark, s"/root/testdata/$sf", "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
        .select(col("query_id").as("eq"), col("neighbor_id").as("en"))
      val nExact = exact.count()
      def recall(ann: DataFrame): Double =
        ann.select("query_id", "neighbor_id")
          .join(exact, col("query_id") === col("eq") && col("neighbor_id") === col("en"),
            "left_semi")
          .count().toDouble / nExact
      val nProbe = Similarity.autoProbesImi(4, targetRecall = 0.9)
      assert(nProbe === 12, "autoProbesImi(4, 0.9) drifted from the registered 12-of-16")
      val (indexed, cents) = Similarity.imiIndex(emb, k = 4, lloydIters = 2)
      val r = recall(Similarity.imiTopK(indexed, cents, queries, k = 5, nProbe = nProbe))
      assert(nExact === 50)
      assert(r >= 0.9 - 1e-9, s"auto-probed IMI recall@5 at $sf: $r")
    }
}
