package graft.cdc

import graft.{SparkSpec, WorkCounters}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.functions._

/**
 * Golden DataFrame-value tests: feed the reference's per-type WAL value
 * corpus (`internal/app/test_util.go:167-213`, FIXTURES.md §4) through the
 * decode path and assert the typed value — replacing the reference's
 * golden-SQL-string tests with golden-value tests.
 */
class WalDecoderSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  /** One-column table `t(c <typ>)`, one record with raw JSON value. */
  private def walLine(typ: String, rawJson: String): String = {
    val t = typ.replace("\"", "\\\"") // `"char"` carries quotes in its name
    s"""{"commit_lsn": 1, "records": [{"action": "I", "xid": 1, "lsn": "0/1",
       |"nextlsn": "", "timestamp": "2023-08-22 14:44:02.043586-03",
       |"schema": "public", "table": "t",
       |"columns": [{"name": "c", "type": "$t", "value": $rawJson}],
       |"pk": [{"name": "c", "type": "$t"}]}]}""".stripMargin.replace("\n", " ")
  }

  private def decodeOne(typ: String, rawJson: String): org.apache.spark.sql.DataFrame = {
    val lines = spark.createDataset(Seq(walLine(typ, rawJson)))(
      org.apache.spark.sql.Encoders.STRING).toDF("value")
    val schema = TableSchema("t", Seq(TableColumn("c", typ, nullable = true, isPrimary = false)))
    WalDecoder.decodeTables(spark, lines, Seq(schema))("t")
  }

  /** Decode and render as string (UTC session) for stable comparison. */
  private def asString(typ: String, rawJson: String): String = {
    val df = decodeOne(typ, rawJson)
    val rendered = df.schema.head.dataType match {
      case org.apache.spark.sql.types.BinaryType => df.select(hex(col("c")))
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.BinaryType, _) =>
        df.select(transform(col("c"), x => hex(x)).cast("string"))
      case _ => df.select(col("c").cast("string"))
    }
    Option(rendered.collect()(0).getString(0)).getOrElse("∅")
  }

  test("scalar numerics and booleans") {
    assert(asString("boolean", "true") == "true")
    assert(asString("boolean", "false") == "false")
    assert(asString("boolean", "null") == "∅")
    assert(asString("smallint", "42") == "42")
    assert(asString("integer", "-42") == "-42")
    assert(asString("bigint", "42") == "42")
    assert(asString("real", "42.01") == "42.01")
    assert(asString("double precision", "-42.01") == "-42.01")
    assert(asString("numeric(4,7)", "42.01") == "42.01")
    assert(asString("oid", "42") == "42")
  }

  test("decoded Spark types match SURVEY §1.3") {
    assert(decodeOne("smallint", "42").schema.head.dataType ==
      org.apache.spark.sql.types.ShortType)
    assert(decodeOne("numeric", "1.5").schema.head.dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(decodeOne("timestamp without time zone", "\"2021-03-01 12:45:01\"")
      .schema.head.dataType == org.apache.spark.sql.types.TimestampNTZType)
  }

  test("strings, uuid, macaddr, json") {
    assert(asString("text", "\"dpfkg\"") == "dpfkg")
    assert(asString("character", "\"a\"") == "a")
    assert(asString("character varying(5)", "\"ZZZZZ\"") == "ZZZZZ")
    assert(asString("macaddr", "\"08:00:2b:01:02:03\"") == "08:00:2b:01:02:03")
    assert(asString("uuid", "\"a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11\"") ==
      "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11")
    // json kept as text (compact-rendered by the JSON parser)
    assert(asString("json", "{\"foo\": \"bar\"}").replaceAll("\\s", "") == "{\"foo\":\"bar\"}")
  }

  test("bytea hex decode, with and without \\x prefix") {
    assert(asString("bytea", "\"00010203\"") == "00010203")
    assert(asString("bytea", "\"\\\\x30303031\"") == "30303031")
  }

  test("temporal types") {
    assert(asString("date", "\"2021-03-01\"") == "2021-03-01")
    assert(asString("time without time zone", "\"12:45:01\"") == "12:45:01")
    assert(asString("time with time zone", "\"12:00:00-08\"") == "12:00:00-08")
    assert(asString("timestamp without time zone", "\"2021-03-01 12:45:01\"") ==
      "2021-03-01 12:45:01")
    // +08 offset normalized to UTC session time
    assert(asString("timestamp with time zone", "\"2021-03-01 12:45:01+08\"") ==
      "2021-03-01 04:45:01")
    assert(asString("interval", "\"1 year 2 mons 21 days 05:00:00\"") ==
      "1 year 2 mons 21 days 05:00:00")
  }

  test("array types (PG literals)") {
    assert(asString("boolean[]", "\"{t,f,NULL}\"") == "[true, false, null]")
    assert(asString("integer[]", "\"{42,-42,NULL}\"") == "[42, -42, null]")
    assert(asString("double precision[]", "\"{42.01,-42.01,NULL}\"") == "[42.01, -42.01, null]")
    assert(asString("text[]", "\"{a,Z,NULL}\"") == "[a, Z, null]")
    assert(asString("bytea[]", "\"{\\\"\\\\\\\\x3030303130323033\\\",NULL}\"") ==
      "[3030303130323033, null]")
    assert(asString("uuid[]", "\"{a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11,NULL}\"") ==
      "[a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11, null]")
    assert(asString("date[]", "\"{2021-03-01,NULL}\"") == "[2021-03-01, null]")
    assert(asString("timestamp without time zone[]", "\"{\\\"2021-03-01 12:45:01\\\",NULL}\"") ==
      "[2021-03-01 12:45:01, null]")
  }

  test("full supportedTypeVals corpus (test_util.go:167-213)") {
    // (pg type, raw JSON value, expected rendering) — every type class
    // and value from the reference's conversion corpus
    val corpus: Seq[(String, String, String)] = Seq(
      ("boolean", "true", "true"), ("boolean", "false", "false"),
      ("smallint", "42", "42"), ("smallint", "-42", "-42"),
      ("integer", "42", "42"), ("bigint", "-42", "-42"),
      ("numeric(4,7)", "42.01", "42.01"), ("numeric(4,7)", "-42.01", "-42.01"),
      ("real", "42.01", "42.01"), ("double precision", "-42.01", "-42.01"),
      ("oid", "42", "42"),
      ("macaddr", "\"08:00:2b:01:02:03\"", "08:00:2b:01:02:03"),
      ("bytea", "\"00010203\"", "00010203"),
      ("character", "\"a\"", "a"), ("\"char\"", "\"a\"", "a"),
      ("bpchar", "\"a\"", "a"),
      ("character varying(5)", "\"ZZZZZ\"", "ZZZZZ"),
      ("text", "\"dpfkg\"", "dpfkg"),
      ("uuid", "\"a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11\"",
        "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11"),
      ("date", "\"2021-03-01\"", "2021-03-01"),
      ("time without time zone", "\"12:45:01\"", "12:45:01"),
      ("time with time zone", "\"12:00:00-08\"", "12:00:00-08"),
      ("timestamp without time zone", "\"2021-03-01 12:45:01\"", "2021-03-01 12:45:01"),
      ("timestamp with time zone", "\"2021-03-01 12:45:01+08\"", "2021-03-01 04:45:01"),
      ("interval", "\"1 year\"", "1 year"),
      ("interval", "\"-00:00:07\"", "-00:00:07"),
      ("interval", "\"1 year 2 mons 21 days 05:00:00\"", "1 year 2 mons 21 days 05:00:00"),
      ("boolean[]", "\"{t,f,NULL}\"", "[true, false, null]"),
      ("smallint[]", "\"{42,-42,NULL}\"", "[42, -42, null]"),
      ("integer[]", "\"{42,-42,NULL}\"", "[42, -42, null]"),
      ("bigint[]", "\"{42,-42,NULL}\"", "[42, -42, null]"),
      ("real[]", "\"{42.01,-42.01,NULL}\"", "[42.01, -42.01, null]"),
      ("double precision[]", "\"{42.01,-42.01,NULL}\"", "[42.01, -42.01, null]"),
      ("numeric[]", "\"{42.01,-42.01,NULL}\"", "[42.01, -42.01, null]"),
      ("character[]", "\"{a,Z,NULL}\"", "[a, Z, null]"),
      ("bpchar[]", "\"{a,Z,NULL}\"", "[a, Z, null]"),
      ("character varying[]", "\"{dpfkg,NULL}\"", "[dpfkg, null]"),
      ("text[]", "\"{a,Z,NULL}\"", "[a, Z, null]"),
      ("bytea[]", "\"{\\\"\\\\\\\\x3030303130323033\\\",NULL}\"", "[3030303130323033, null]"),
      ("uuid[]", "\"{a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11,NULL}\"",
        "[a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11, null]"),
      ("date[]", "\"{2021-03-01,NULL}\"", "[2021-03-01, null]"),
      ("time without time zone[]", "\"{12:45:01,NULL}\"", "[12:45:01, null]"),
      ("time with time zone[]", "\"{12:00:00-08,NULL}\"", "[12:00:00-08, null]"),
      ("timestamp without time zone[]", "\"{\\\"2021-03-01 12:45:01\\\",NULL}\"",
        "[2021-03-01 12:45:01, null]"),
      ("timestamp with time zone[]", "\"{\\\"2021-03-01 12:45:01+08\\\",NULL}\"",
        "[2021-03-01 04:45:01, null]"),
      ("interval[]", "\"{\\\"1 year\\\",NULL}\"", "[1 year, null]")
    )
    for ((typ, raw, expected) <- corpus)
      assert(asString(typ, raw) == expected, s"type=$typ raw=$raw")
    // json family: compact-rendered text preserved
    assert(asString("json", "{\"foo\": {\"bar\": 3}}").replaceAll("\\s", "") ==
      "{\"foo\":{\"bar\":3}}")
    assert(asString("jsonb", "{\"foo\": \"bar\"}").replaceAll("\\s", "") ==
      "{\"foo\":\"bar\"}")
  }

  test("whole-column null for every type class") {
    for (t <- Seq("integer", "text", "bytea", "date", "integer[]", "json"))
      assert(asString(t, "null") == "∅", s"type $t")
  }

  test("multi-dimensional array rejected at decode (db_test.go:654-676)") {
    val e = intercept[Exception] {
      decodeOne("integer[]", "\"{{1,2},{3,4}}\"").collect()
    }
    assert(e.getMessage.contains("multi-dimensional") ||
      Option(e.getCause).exists(_.getMessage.contains("multi-dimensional")))
  }

  test("action filter drops U/D per documented contract (README.md:146)") {
    val mk = (action: String, id: Int) =>
      s"""{"commit_lsn": $id, "records": [{"action": "$action", "xid": $id,
         |"lsn": "0/1", "nextlsn": "", "timestamp": "t", "schema": "public",
         |"table": "t", "columns": [{"name": "c", "type": "integer",
         |"value": $id}], "pk": []}]}""".stripMargin.replace("\n", " ")
    val lines = spark.createDataset(Seq(mk("I", 1), mk("U", 2), mk("D", 3), mk("I", 4)))(
      org.apache.spark.sql.Encoders.STRING).toDF("value")
    val schema = TableSchema("t", Seq(TableColumn("c", "integer", true, false)))
    val ids = WalDecoder.decodeTables(spark, lines, Seq(schema))("t")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(ids == Seq(1, 4))
    // IUD mode reproduces the reference code's actual behavior (SURVEY §2.12)
    val all = WalDecoder.decodeTables(spark, lines, Seq(schema), Set("I", "U", "D"))("t")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(all == Seq(1, 2, 3, 4))
  }

  test("action prefilter: structural markers only; mixed txs kept; U-only skipped") {
    // markers inside a string VALUE are escaped (\"action\":\"I\") in the
    // raw line, so they can't fake a structural match; a line is kept
    // iff it (structurally) contains a replayed record — mixed-action
    // txs pass, U-only txs never pay the JSON parse
    val decoyU =
      """{"commit_lsn": 5, "records": [{"action": "U", "xid": 5, "lsn": "0/1",
        |"nextlsn": "", "timestamp": "t", "schema": "public", "table": "t",
        |"columns": [{"name": "c", "type": "text",
        |"value": "payload with \"action\":\"I\" inside"}], "pk": []}]}"""
        .stripMargin.replace("\n", " ")
    val mixed =
      """{"commit_lsn": 6, "records": [
        |{"action": "U", "xid": 6, "lsn": "0/1", "nextlsn": "", "timestamp": "t",
        | "schema": "public", "table": "t",
        | "columns": [{"name": "c", "type": "text", "value": "updated"}], "pk": []},
        |{"action": "I", "xid": 6, "lsn": "0/2", "nextlsn": "", "timestamp": "t",
        | "schema": "public", "table": "t",
        | "columns": [{"name": "c", "type": "text", "value": "inserted"}], "pk": []}]}"""
        .stripMargin.replace("\n", " ")
    val uOnly =
      """{"commit_lsn": 7, "records": [{"action": "U", "xid": 7, "lsn": "0/1",
        |"nextlsn": "", "timestamp": "t", "schema": "public", "table": "t",
        |"columns": [{"name": "c", "type": "text", "value": "u-only"}], "pk": []}]}"""
        .stripMargin.replace("\n", " ")
    val lines = spark.createDataset(Seq(decoyU, mixed, uOnly))(
      org.apache.spark.sql.Encoders.STRING).toDF("value")
    // only the mixed line has a structural I record; the decoy's marker
    // is escaped inside its value, the U-only line has none
    assert(WalDecoder.actionPrefilter(lines, Set("I")).count() == 1)
    val schema = TableSchema("t", Seq(TableColumn("c", "text", true, false)))
    val vals = WalDecoder.decodeTables(spark, lines, Seq(schema))("t")
      .collect().map(_.getString(0)).toSeq
    assert(vals == Seq("inserted")) // U record of the mixed tx still dropped
    // IUD mode sees every line (prefilter matches any of the 3 markers)
    assert(WalDecoder.actionPrefilter(lines, Set("I", "U", "D")).count() == 3)
  }

  test("schema drift: reordered columns decode by name, missing columns null") {
    def rec(cols: String) =
      s"""{"commit_lsn": 1, "records": [{"action": "I", "xid": 1, "lsn": "0/1",
         |"nextlsn": "", "timestamp": "t", "schema": "public", "table": "t",
         |"columns": [$cols], "pk": []}]}""".stripMargin.replace("\n", " ")
    val reordered = rec(
      """{"name": "name", "type": "text", "value": "n1"},
        |{"name": "id", "type": "integer", "value": 5}""".stripMargin.replace("\n", " "))
    val missing = rec("""{"name": "id", "type": "integer", "value": 6}""")
    val lines = spark.createDataset(Seq(reordered, missing))(
      org.apache.spark.sql.Encoders.STRING).toDF("value")
    val schema = TableSchema("t", Seq(
      TableColumn("id", "integer", nullable = false, isPrimary = true),
      TableColumn("name", "text", nullable = true, isPrimary = false)))
    val out = WalDecoder.decodeTables(spark, lines, Seq(schema))("t")
      .orderBy("id").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(out.toSeq == Seq((5, "n1"), (6, null))) // name-lookup fallback; absent → null
  }

  test("malformed / foreign lines are skipped, valid records still decode") {
    val good = walLine("integer", "7")
    val lines = spark.createDataset(Seq(
      good,
      """not json at all { "action": "I" """,       // corrupt but has marker
      """{"commit_lsn": 2}""",                      // valid JSON, no records
      ""                                            // empty line
    ))(org.apache.spark.sql.Encoders.STRING).toDF("value")
    val schema = TableSchema("t", Seq(TableColumn("c", "integer", true, false)))
    val out = WalDecoder.decodeTables(spark, lines, Seq(schema))("t").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(7))
  }

  test("tx assembly: multi-record tx keeps per-record order (wal.input shape)") {
    val line =
      """{"commit_lsn": 957398296, "records": [
        |{"action": "I", "xid": 1058, "lsn": "0/3910B898", "nextlsn": "",
        | "timestamp": "2023-08-22 14:44:02.043586-03", "schema": "public", "table": "t",
        | "columns": [{"name": "id", "type": "integer", "value": 200232},
        |             {"name": "name", "type": "text", "value": "100"}],
        | "pk": [{"name": "id", "type": "integer"}]},
        |{"action": "I", "xid": 1058, "lsn": "0/3910B899", "nextlsn": "",
        | "timestamp": "2023-08-22 14:44:02.043586-03", "schema": "public", "table": "t",
        | "columns": [{"name": "id", "type": "integer", "value": 200242},
        |             {"name": "name", "type": "text", "value": "400"}],
        | "pk": [{"name": "id", "type": "integer"}]}]}""".stripMargin.replace("\n", " ")
    val lines = spark.createDataset(Seq(line))(org.apache.spark.sql.Encoders.STRING).toDF("value")
    val recs = WalDecoder.decodeRecords(lines).collect()
    assert(recs.length == 2)
    assert(recs.map(_.getAs[Long]("commit_lsn")).toSet == Set(957398296L))
    val schema = TableSchema("t", Seq(
      TableColumn("id", "integer", false, true), TableColumn("name", "text", false, false)))
    val t = WalDecoder.decodeTables(spark, lines, Seq(schema))("t")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(t == Set((200232, "100"), (200242, "400")))
  }

  test("malformed feed lines are skipped, surrounding records decode") {
    val good =
      """{"commit_lsn": 7, "records": [{"action": "I", "xid": 1,
        | "lsn": "0/7", "nextlsn": "", "timestamp": "t", "schema": "public",
        | "table": "t", "columns": [{"name": "id", "type": "integer", "value": 1},
        | {"name": "name", "type": "text", "value": "ok"}],
        | "pk": []}]}""".stripMargin.replace("\n", " ")
    val lines = spark.createDataset(Seq(
      good,
      "",                                    // blank line
      "{truncated json",                     // unterminated
      "not json at all",                     // garbage
      """{"commit_lsn": 8}""",               // valid json, no records
      """{"commit_lsn": 9, "records": null}""" // explicit null records
    ))(org.apache.spark.sql.Encoders.STRING).toDF("value")
    val recs = WalDecoder.decodeRecords(lines).collect()
    assert(recs.length == 1, "exactly the well-formed record survives")
    assert(recs.head.getAs[Long]("commit_lsn") == 7L)
    val schema = TableSchema("t", Seq(
      TableColumn("id", "integer", false, true), TableColumn("name", "text", false, false)))
    val t = WalDecoder.decodeTables(spark, lines, Seq(schema))("t")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(t == Set((1, "ok")))
  }

  test("decodeTablesWithTs parses both wal2json timestamp spellings to the same instant") {
    // live walsender form carries a numeric UTC offset ("-03"); the spool
    // form is offset-less (session tz = UTC). 14:44:02-03:00 ≡ 17:44:02Z.
    def line(lsn: Long, id: Int, ts: String): String =
      s"""{"commit_lsn": $lsn, "records": [{"action": "I", "xid": 1,
         |"lsn": "0/$lsn", "nextlsn": "", "timestamp": "$ts",
         |"schema": "public", "table": "t",
         |"columns": [{"name": "id", "type": "integer", "value": $id}],
         |"pk": [{"name": "id", "type": "integer"}]}]}"""
        .stripMargin.replace("\n", " ")
    val lines = spark.createDataset(Seq(
      line(1, 1, "2023-08-22 14:44:02.043586-03"), // live (offset)
      line(2, 2, "2023-08-22 17:44:02.043586"),    // spool (UTC naive)
      line(3, 3, "2023-08-22 17:44:02"),           // no fraction
      line(4, 4, "not-a-timestamp")                // unparseable -> NULL
    ))(org.apache.spark.sql.Encoders.STRING).toDF("value")
    val schema = TableSchema("t",
      Seq(TableColumn("id", "integer", nullable = false, isPrimary = true)))
    val out = WalDecoder.decodeTablesWithTs(spark, lines, Seq(schema))("t")
      .collect().map(r => r.getAs[Int]("id") ->
        Option(r.getAs[java.sql.Timestamp]("__graft_ts")).map(_.getTime)).toMap
    assert(out(1) == out(2), s"offset and naive forms must agree: $out")
    assert(out(1).get - out(3).get == 43L, "fractional millis preserved")
    assert(out(4).isEmpty, "unparseable timestamp decodes NULL, never throws")
  }

  test("one parser: decoded frames carry no from_json and building them runs no job") {
    val line = walLine("integer", "7")
    val dir = java.nio.file.Files.createTempDirectory("wal-feed")
    java.nio.file.Files.writeString(dir.resolve("feed.txt"), line + "\n")
    val feeds = Seq(
      "local lines" -> spark.createDataset(Seq(line))(
        org.apache.spark.sql.Encoders.STRING).toDF("value"),
      "text dir" -> spark.read.text(dir.toString))
    val schema = TableSchema("t", Seq(TableColumn("c", "integer", true, true)))
    for ((feed, lines) <- feeds) {
      val (frames, work) = WorkCounters.of(spark)(Seq(
        "decodeTables" -> WalDecoder.decodeTables(spark, lines, Seq(schema))("t"),
        "decodeTablesWithTs" -> WalDecoder.decodeTablesWithTs(spark, lines, Seq(schema))("t"),
        "latestState" -> CdcMerge.latestState(lines, schema, strict = true)))
      assert(work.jobs == 0, s"$feed: building the frames ran ${work.jobs} Spark jobs")
      for ((entry, df) <- frames) {
        val plan = df.queryExecution.optimizedPlan
        assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[JsonToStructs]))) &&
          !plan.toString.contains("from_json"), s"$feed/$entry parses per expression:\n$plan")
        assert(df.collect().map(_.getAs[Int]("c")).toSeq == Seq(7), s"$feed/$entry")
      }
    }
  }
}
