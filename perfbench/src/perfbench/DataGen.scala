package perfbench

import java.nio.file.Path
import java.sql.Timestamp
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.util.Random

/**
 * Seeded tables for the query suite, in the shapes `SparkEntry.queries`
 * reads (`graft.Tables`): a TPC-H-like star schema at about scale 0.01,
 * an `events` stream table, a `documents` corpus with near-duplicates and
 * 64-dimensional `embeddings` clustered by label.
 */
object DataGen {
  private val Vocab = ("the a fast slow big small key order sort table scan merge part window " +
    "hash join batch stream spark group query row data filter customer line value agg column vector")
    .split(" ").toIndexedSeq

  private def ts(epochSec: Long, micros: Int = 0): Timestamp = {
    val t = new Timestamp(epochSec * 1000L)
    t.setNanos(micros * 1000)
    t
  }
  private def day(s: String): Long = java.time.LocalDate.parse(s).toEpochDay * 86400L
  private def r2(x: Double): Double = math.round(x * 100) / 100.0

  def write(spark: SparkSession, dir: Path, seed: Long): Unit = {
    val rnd = new Random(seed)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    def save(name: String, schema: String, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType.fromDDL(schema))
        .write.parquet(dir.resolve(s"$name.parquet").toString)

    // near-duplicate search grows with the square of the documents and embeddings
    val (nCust, nSupp, nPart, nOrd, nLine, nEv, nDoc, nVec) = (1500, 100, 2000, 15000, 60000, 10000, 500, 500)
    save("region", "r_regionkey INT, r_name STRING",
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (n, i) => Row(i, n) })
    save("nation", "n_nationkey INT, n_name STRING, n_regionkey INT",
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("customer", "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        r2(-999.99 + rnd.nextDouble() * 10999.98),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))))
    save("supplier", "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        r2(-999.99 + rnd.nextDouble() * 10999.98))))
    val adj = Seq("cold", "small", "blue", "red", "large", "shiny", "old", "green")
    val noun = Seq("widget", "anvil", "bolt", "gear", "spring", "valve", "panel", "lever")
    save("part", "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE",
      (0 until nPart).map(i => Row(i.toLong, s"${pick(adj)} ${pick(noun)}", s"Brand#${1 + rnd.nextInt(25)}",
        pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")), 1 + rnd.nextInt(50),
        900.0 + (i % 1000) / 10.0)))
    val o0 = day("1995-01-01")
    val oSpan = (day("2001-08-01") - o0) / 86400L
    save("orders", "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
      "o_orderdate TIMESTAMP, o_orderpriority STRING",
      (0 until nOrd).map(i => Row(i.toLong, rnd.nextInt(nCust).toLong, pick(Seq("F", "O", "P")),
        r2(1000 + rnd.nextDouble() * 499000), ts(o0 + rnd.nextInt(oSpan.toInt + 1) * 86400L),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))))
    val l0 = day("1995-01-02")
    val lSpan = (day("2001-11-04") - l0) / 86400L
    save("lineitem", "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP",
      (0 until nLine).map(_ => Row(rnd.nextInt(nOrd).toLong, rnd.nextInt(nPart).toLong,
        rnd.nextInt(nSupp).toLong, 1 + rnd.nextInt(7), (1 + rnd.nextInt(50)).toDouble,
        r2(900 + rnd.nextDouble() * 104000), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        pick(Seq("A", "N", "R")), pick(Seq("F", "O")), ts(l0 + rnd.nextInt(lSpan.toInt + 1) * 86400L))))
    val e0 = day("2024-01-01")
    save("events", "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
      (0 until nEv).map(i => Row(i.toLong, ts(e0 + rnd.nextInt(30 * 86400), rnd.nextInt(1000000)),
        rnd.nextInt(150).toLong, pick(Seq("click", "error", "purchase", "signup", "view")),
        r2(0.01 + rnd.nextDouble() * 490), s"""{"k": ${rnd.nextInt(100)}}""")))
    // documents: random word runs; one in ten near-copies an earlier one
    val texts = (0 until nDoc).foldLeft(Vector.empty[String]) { (acc, i) =>
      val t =
        if (i > 10 && rnd.nextDouble() < 0.1) {
          val ws = acc(rnd.nextInt(acc.length)).split(" ")
          ws.updated(rnd.nextInt(ws.length), if (rnd.nextBoolean()) "dup" else pick(Vocab)).mkString(" ")
        } else Seq.fill(10 + rnd.nextInt(90))(pick(Vocab)).mkString(" ")
      acc :+ t
    }
    save("documents", "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
      texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t, pick(Seq("de", "en", "es", "fr", "zh")),
        s"src${rnd.nextInt(20)}", t.length.toLong) })
    val centroids = (0 until 10).map(_ => IndexedSeq.fill(64)(rnd.nextGaussian() * 0.12))
    save("embeddings", "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
      (0 until nVec).map { i =>
        val l = rnd.nextInt(10)
        Row(i.toLong, centroids(l).map(c => (c + rnd.nextGaussian() * 0.05).toFloat), l)
      })
  }
}
