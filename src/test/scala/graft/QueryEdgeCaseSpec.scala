package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** r20 fixtures for the two latent rewrite edges the r19 verdict named:
  * q_count_tables must emit (tbl, 0) for an EMPTY table (the oracle's
  * per-table `SELECT name, count(*)` does), and q_approx_stats'
  * split-aggregation rejoin must keep a NULL event_type group (the
  * fused GROUP BY did). Both are invisible in the shipped testdata —
  * these fixtures make them visible. */
class CountTablesSpec extends SparkSpec {

  test("q_count_tables: an empty table still emits (tbl, 0)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cnt_fixture").toString
    // minimal one-column parquet per table; 'supplier' is EMPTY.
    // events needs a ts column (graft.Tables probes its type).
    val rowsFor: String => Seq[Row] = {
      case "supplier" => Seq.empty
      case "lineitem" => Seq(Row(1L), Row(2L), Row(3L))
      case _          => Seq(Row(1L))
    }
    Tables.all.foreach { name =>
      val schema =
        if (name == "events") StructType(Seq(StructField("ts", LongType)))
        else StructType(Seq(StructField("k", LongType)))
      spark.createDataFrame(
          spark.sparkContext.parallelize(rowsFor(name), 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    val out = SparkEntry.queries("q_count_tables")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == Tables.all.toSet, s"expected all 10 tables, got $out")
    assert(out("supplier") == 0L, s"empty table must count 0, got $out")
    assert(out("lineitem") == 3L && out("region") == 1L, out.toString)
  }
}

class ApproxStatsNullKeySpec extends SparkSpec {

  test("q_approx_stats: a NULL event_type group survives the split-agg rejoin") {
    val dir = java.nio.file.Files.createTempDirectory("graft_as_fixture").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType, nullable = true),
      StructField("value", DoubleType)))
    val rows = (1L to 40L).map { i =>
      val et = if (i % 4 == 0) null else s"t${i % 3}"
      Row(i, i * 1000000000L, i % 7, et, i.toDouble)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_approx_stats")(spark, dir).collect()
    val nullRow = out.filter(_.isNullAt(0))
    assert(nullRow.length == 1, s"NULL event_type group must survive, got ${out.mkString(";")}")
    // exact distinct users of the null group: i in {4,8,...,40}, user i%7
    val expect = (1L to 40L).filter(_ % 4 == 0).map(_ % 7).distinct.size
    assert(nullRow.head.getLong(1) == expect.toLong, nullRow.head.toString)
    // and the non-null groups are all present too (t0, t1, t2)
    assert(out.length == 4, out.mkString(";"))
  }
}

class QuantilesRankSpec extends SparkSpec {

  test("q_quantiles: the global rank rn stays a bigint") {
    // an int rank overflows (and throws under ANSI) past 2^31 rows a group
    val dir = java.nio.file.Files.createTempDirectory("graft_q_fixture").toString
    val schema = StructType(Seq(
      StructField("l_returnflag", StringType), StructField("l_extendedprice", DoubleType)))
    val rows = Seq(1000.0, 2000.0, 3000.0, 4000.0, 5000.0).map(Row("A", _)) ++
      Seq(Row("R", 10.0), Row("R", 20.0))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val q = SparkEntry.queries("q_quantiles")(spark, dir)
    val rn = q.queryExecution.analyzed.collect { case p => p.expressions }.flatten
      .flatMap(_.collect {
        case a: org.apache.spark.sql.catalyst.expressions.Alias if a.name == "rn" => a.dataType
      })
    assert(rn.nonEmpty && rn.forall(_ == LongType), s"rn types: $rn")
    // interpolated like quantile_cont: (flag, p50, p95, lo, hi)
    assert(q.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq ==
      Seq(("A", 3000.0, 4800.0), ("R", 15.0, 19.5)))
  }
}
