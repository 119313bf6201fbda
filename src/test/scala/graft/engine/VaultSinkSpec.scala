package graft.engine

import graft.SparkSpec
import graft.cdc.{TableColumn, TableSchema}
import graft.crypto.EcmhAggregator
import java.nio.file.{Files, Paths}

/** What the sink learns from its own write: the catalog digest of a
  * published window, and (event-time) the watermark input. */
class VaultSinkSpec extends SparkSpec {

  private def lines(ls: String*) =
    spark.createDataset(ls)(org.apache.spark.sql.Encoders.STRING).toDF("value")

  /** One wal2json tx of INSERTs into `table`, each record a list of
    * (name, type, raw JSON value). */
  private def tx(lsn: Long, table: String, ts: String,
                 records: Seq[Seq[(String, String, String)]]): String = {
    val recs = records.map { cols =>
      val cs = cols.map { case (n, t, v) =>
        s"""{"name": "$n", "type": "${t.replace("\"", "\\\"")}", "value": $v}"""
      }.mkString(", ")
      s"""{"action": "I", "xid": 1, "lsn": "0/$lsn", "nextlsn": "", "timestamp": "$ts",
         |"schema": "public", "table": "$table", "columns": [$cs],
         |"pk": [{"name": "id", "type": "integer"}]}""".stripMargin.replace("\n", " ")
    }.mkString(",")
    s"""{"commit_lsn": $lsn, "records": [$recs]}"""
  }

  // (pg type, row-1 value, row-2 value): every scalar of graft.core.PgTypes,
  // one array type and a constrained numeric (a DecimalType under
  // numericAsDecimal); a third row is NULL but for its id
  private val typed: Seq[(String, String, String)] = Seq(
    ("boolean", "true", "false"),
    ("smallint", "42", "-42"),
    ("bigint", "-9007199254740993", "7"),
    ("real", "42.01", "-0.5"),
    ("double precision", "-42.01", "1.0E-300"),
    ("numeric", "42.01", "-3.75"),
    ("numeric(10,2)", "12345678.91", "-0.07"),
    ("oid", "4294967295", "42"),
    ("macaddr", "\"08:00:2b:01:02:03\"", "\"08:00:2b:01:02:04\""),
    ("bytea", "\"\\\\x00010203\"", "\"ff\""),
    ("\"char\"", "\"a\"", "\"z\""),
    ("character", "\"a\"", "\"Z\""),
    ("character varying(5)", "\"ZZZZZ\"", "\"é\\\"q\""),
    ("bpchar", "\"a\"", "\"b\""),
    ("text", "\"dpfkg\"", "\"line\\nbreak\""),
    ("json", "{\"foo\": {\"bar\": 3}}", "[1, 2]"),
    ("jsonb", "{\"foo\": \"bar\"}", "null"),
    ("uuid", "\"a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11\"", "\"00000000-0000-0000-0000-000000000000\""),
    ("date", "\"2021-03-01\"", "\"1970-01-01\""),
    ("time without time zone", "\"12:45:01\"", "\"00:00:00.5\""),
    ("time with time zone", "\"12:00:00-08\"", "\"23:59:59+05:30\""),
    ("timestamp without time zone", "\"2021-03-01 12:45:01.123456\"", "\"1969-12-31 23:59:59\""),
    ("timestamp with time zone", "\"2021-03-01 12:45:01+08\"", "\"2024-02-29 00:00:00.000001-03\""),
    ("interval", "\"1 year 2 mons 21 days 05:00:00\"", "\"-00:00:07\""),
    ("double precision[]", "\"{42.01,-42.01,NULL}\"", "\"{}\""))

  test("sink digest round trip: every PgTypes scalar, an array and a decimal") {
    val schema = TableSchema("t",
      TableColumn("id", "integer", nullable = false, isPrimary = true) +:
        typed.zipWithIndex.map { case ((t, _, _), i) =>
          TableColumn(s"c$i", t, nullable = true, isPrimary = false) })
    val row: (Int, Int => String) => Seq[(String, String, String)] = (id, value) =>
      ("id", "integer", id.toString) +:
        typed.zipWithIndex.map { case ((t, _, _), i) => (s"c$i", t, value(i)) }
    val batch = lines(
      tx(1, "t", "2024-01-01 00:00:10", Seq(row(1, typed(_)._2), row(2, typed(_)._3))),
      tx(2, "t", "2024-01-01 00:00:20", Seq(row(3, _ => "null"))))
    for ((numericAsDecimal, singleFile) <- Seq(false -> true, true -> false)) {
      val base = Files.createTempDirectory("sink-digest")
      val store = new LocalContentStore(base.resolve("store").toString)
      val catalog = graft.catalog.VaultCatalog(spark, base.resolve("catalog").toString)
      val sink = new VaultSink("ns", Seq(schema), base.resolve("staging").toString, store,
        catalog = Some(catalog), singleFile = singleFile, numericAsDecimal = numericAsDecimal)
      val Seq(("t", cid)) = sink.processBatch(batch, 0L)
      val recorded = catalog.events.where(org.apache.spark.sql.functions.col("cid") === cid)
        .select("digest").collect().map(_.getString(0)).toSeq
      val artifact = spark.read.parquet(store.get(cid).get.toString)
      assert(artifact.count() == 3L)
      assert(artifact.schema("c6").dataType.isInstanceOf[
        org.apache.spark.sql.types.DecimalType] == numericAsDecimal)
      assert(recorded == Seq(EcmhAggregator.rowDigest(artifact, schema.columns.map(_.name))),
        s"numericAsDecimal=$numericAsDecimal singleFile=$singleFile")
    }
  }

  test("event-time: an untracked table's later commits never close a tracked window") {
    val schemaT = TableSchema("t", Seq(
      TableColumn("id", "integer", nullable = false, isPrimary = true),
      TableColumn("name", "text", nullable = false, isPrimary = false)))
    def rec(table: String, lsn: Long, ts: String, id: Int, name: String) =
      tx(lsn, table, ts, Seq(Seq(("id", "integer", id.toString), ("name", "text", s"\"$name\""))))
    val base = Files.createTempDirectory("sink-untracked")
    val store = new LocalContentStore(base.resolve("store").toString)
    val staging = base.resolve("staging").toString
    val sink = new VaultSink("ns", Seq(schemaT), staging, store,
      eventTime = Some(EventTimeWindows(60L, 30L)))
    def watermark = Files.readString(Paths.get(staging, "_watermark")).trim.toLong
    // window [00:00, 00:01) opens; watermark 00:00:10 - 30 s
    assert(sink.processBatch(lines(rec("t", 1, "2024-01-01 00:00:10", 1, "a")), 0L).isEmpty)
    val wm0 = watermark
    // only the untracked table moves past the window end (00:05:00 - 30 s
    // would close it); the tracked window must stay open
    assert(sink.processBatch(lines(rec("u", 2, "2024-01-01 00:05:00", 9, "untracked")), 1L).isEmpty)
    assert(watermark == wm0, "an untracked table advanced the watermark")
    // so a tracked in-lateness row still lands in that window
    assert(sink.processBatch(lines(rec("t", 3, "2024-01-01 00:00:40", 2, "b")), 2L).isEmpty)
    val Seq(("t", cid)) =
      sink.processBatch(lines(rec("t", 4, "2024-01-01 00:02:15", 3, "c")), 3L)
    val rows = spark.read.parquet(store.get(cid).get.toString).collect()
      .map(r => r.getAs[Int]("id") -> r.getAs[String]("name")).toSeq.sorted
    assert(rows == Seq(1 -> "a", 2 -> "b"))
  }
}
