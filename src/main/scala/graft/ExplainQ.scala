package graft

import org.apache.spark.sql.SparkSession

/**
 * Plan inspector: prints the formatted physical plan of the named
 * queries (default: all) against SPARK_GRAFT_SF_DIR. The review
 * checklist per query: filters pushed to the scan (`PushedFilters`),
 * projections pruned (`ReadSchema`), small sides broadcast, no
 * unexpected exchanges, wide `WholeStageCodegen` spans. The pseudo-query
 * `waldecode` prints the plan of the WAL decode of the `events` table.
 *
 *   sbt "runMain graft.ExplainQ q_bloom_semi q_gapfill"
 */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val wanted = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    wanted.foreach { name =>
      println(s"\n========== $name ==========")
      val df = name match {
        case "waldecode" =>
          graft.cdc.WalDecoder.decodeTables(spark,
            spark.read.text(CdcQueries.walLinesDir(spark, sfDir)),
            Seq(CdcQueries.eventsSchema))("events")
        case n => SparkEntry.queries(n)(spark, sfDir)
      }
      df.explain("formatted")
    }
    spark.stop()
  }
}
