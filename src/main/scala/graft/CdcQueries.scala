package graft

import graft.cdc.{CdcMerge, PgValueDecoder, TableColumn, TableSchema, WalDecoder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Oracle-checked CDC queries: synthesize wal2json v2 transaction lines
 * from the `events` table, run them through the full decode path
 * (JSON data source → explode → action filter → typed pivot,
 * [[graft.cdc.WalDecoder]]), and emit the replayed table. The oracle is a
 * plain SELECT over `events` — if decode is correct the round trip is the
 * identity. This exercises S4 (WAL decode), S3's record ordering, P2
 * (replay) and P3 (type transforms) end-to-end against the oracle.
 */
object CdcQueries {

  val eventsSchema: TableSchema = TableSchema("events", Seq(
    TableColumn("event_id", "bigint", nullable = false, isPrimary = true),
    TableColumn("ts", "timestamp without time zone", nullable = false, isPrimary = false),
    TableColumn("user_id", "bigint", nullable = true, isPrimary = false),
    TableColumn("event_type", "text", nullable = true, isPrimary = false),
    TableColumn("value", "double precision", nullable = true, isPrimary = false)
  ))

  /** events rows → one wal2json tx line per row (commit_lsn defaults to
    * event_id; pass `lsn` to synthesize later transactions, e.g. updates
    * and deletes after the initial inserts for the merge query).
    * `deleteShape = true` emits the REAL wal2json format-2 DELETE wire
    * shape: NO `columns` at all, old key values in `identity` — so the
    * merge query's oracle check covers the identity decode path, not
    * just the repo's columns-populated synthetic deletes. */
  def eventsAsWalLines(events: DataFrame,
                       action: org.apache.spark.sql.Column = lit("I"),
                       lsn: org.apache.spark.sql.Column = col("event_id"),
                       deleteShape: Boolean = false): DataFrame = {
    def pgcol(name: String, typ: String, value: org.apache.spark.sql.Column) =
      struct(lit(name).as("name"), lit(typ).as("type"), value.cast("string").as("value"))
    val pgColArrType = "array<struct<name:string,type:string,value:string>>"
    val columnsArr = array(
      pgcol("event_id", "bigint", col("event_id")),
      pgcol("ts", "timestamp without time zone",
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")),
      pgcol("user_id", "bigint", col("user_id")),
      pgcol("event_type", "text", col("event_type")),
      pgcol("value", "double precision", col("value")))
    val identityArr = array(pgcol("event_id", "bigint", col("event_id")))
    val record = struct(
      action.as("action"),
      col("event_id").as("xid"),
      lit("0/0").as("lsn"),
      lit("").as("nextlsn"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("timestamp"),
      lit("public").as("schema"),
      lit("events").as("table"),
      (if (deleteShape) lit(null).cast(pgColArrType) else columnsArr).as("columns"),
      (if (deleteShape) identityArr else lit(null).cast(pgColArrType)).as("identity"),
      array(struct(lit("event_id").as("name"), lit("bigint").as("type"))).as("pk")
    )
    // to_json drops null fields (spark.sql.jsonGenerator.ignoreNullFields
    // default): a deleteShape record serializes with identity and WITHOUT
    // columns — byte-shape-identical to a real wal2json D record
    events.select(to_json(struct(
      lsn.as("commit_lsn"), array(record).as("records"))).as("value"))
  }

  /**
   * Change-stream feed for the merge query: the full insert history, then
   * UPDATEs (event_type→'updated', value+1000) for event_id % 10 == 0 at
   * later commit LSNs, then DELETEs for event_id % 7 == 0 later still —
   * so the latest-state oracle is a pure function of `events`.
   */
  def upsertFeed(events: DataFrame): DataFrame = {
    val inserts = eventsAsWalLines(events, lit("I"))
    val updates = eventsAsWalLines(
      events.where(col("event_id") % 10 === 0)
        .withColumn("event_type", lit("updated"))
        .withColumn("value", col("value") + 1000.0),
      lit("U"), col("event_id") + 10000000L)
    val deletes = eventsAsWalLines(
      events.where(col("event_id") % 7 === 0),
      lit("D"), col("event_id") + 20000000L, deleteShape = true)
    inserts.unionAll(updates).unionAll(deletes)
  }

  /**
   * WAL-line synthesis is test harness, not engine: materialize the
   * synthesized lines once per (sf dir, feed tag) as a DETERMINISTIC,
   * marker-guarded /tmp fixture (sharded text files, like a real feed
   * directory) so the timed queries measure the decode path. The marker
   * carries the source events snapshot fingerprint — cross-JVM reuse is
   * safe (regenerated testdata rebuilds the feed), and a fresh session
   * does not re-synthesize gigabytes whose OS writeback would then
   * contend with the first timed read (the 53 s-vs-7 s artifact
   * dispositioned in SCALING.md r11).
   */
  private val walCache = scala.collection.concurrent.TrieMap[String, String]()
  private def cachedFeedDir(s: SparkSession, dir: String, tag: String)
                           (build: String => Unit): String =
    walCache.getOrElseUpdate(s"$dir#$tag", {
      import java.nio.file.{Files, Paths}
      val fp = graft.core.FsUtil.snapshotFingerprint(
        Paths.get(s"$dir/events.parquet"))
      val safe = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val out = s"${sys.props("java.io.tmpdir")}/graft_wal_${tag}_$safe"
      val marker = Paths.get(out + ".marker")
      val want = s"src=$fp"
      val fresh = Files.exists(Paths.get(out)) && Files.exists(marker) &&
        new String(Files.readAllBytes(marker), "UTF-8").trim == want
      if (!fresh) {
        graft.core.FsUtil.deleteRecursive(Paths.get(out))
        build(out)
        Files.write(marker, (want + "\n").getBytes("UTF-8"))
        ()
      }
      out
    })

  def walLinesDir(s: SparkSession, dir: String,
                  action: org.apache.spark.sql.Column = lit("I"),
                  tag: String = "I"): String =
    cachedFeedDir(s, dir, tag) { out =>
      eventsAsWalLines(
        Tables(s, dir, "events").repartition(s.sparkContext.defaultParallelism), action)
        .write.mode("overwrite").text(out)
    }

  /** money(event_id bigint pk, amount numeric(38,2)) feed: amounts are
    * synthesized TEXTUALLY with 17+ significant digits (event_id ++ 12
    * fixed digits ++ 2 cent digits) so they exceed IEEE-double's 53-bit
    * mantissa — the exact shape where the reference's numeric→double
    * mapping is silently lossy and the pgNumericAsDecimal opt-in is not. */
  val moneySchema: TableSchema = TableSchema("money", Seq(
    TableColumn("event_id", "bigint", nullable = false, isPrimary = true),
    TableColumn("amount", "numeric(38,2)", nullable = true, isPrimary = false)))

  def moneyAsWalLines(events: DataFrame): DataFrame = {
    val amountText = concat(col("event_id").cast("string"),
      lit("123456789012."),
      lpad((col("event_id") % 100).cast("string"), 2, "0"))
    val record = struct(
      lit("I").as("action"), col("event_id").as("xid"), lit("0/0").as("lsn"),
      lit("").as("nextlsn"), lit("2026-01-01 00:00:00.000000").as("timestamp"),
      lit("public").as("schema"), lit("money").as("table"),
      array(
        struct(lit("event_id").as("name"), lit("bigint").as("type"),
          col("event_id").cast("string").as("value")),
        struct(lit("amount").as("name"), lit("numeric(38,2)").as("type"),
          amountText.as("value"))).as("columns"),
      array(struct(lit("event_id").as("name"), lit("bigint").as("type"))).as("pk"))
    events.select(to_json(struct(
      col("event_id").as("commit_lsn"), array(record).as("records"))).as("value"))
  }

  def moneyLinesDir(s: SparkSession, dir: String): String =
    cachedFeedDir(s, dir, "MONEY") { out =>
      moneyAsWalLines(Tables(s, dir, "events")
        .repartition(s.sparkContext.defaultParallelism))
        .write.mode("overwrite").text(out)
    }

  /** Cached I+U+D change-stream files for the merge query. */
  def upsertLinesDir(s: SparkSession, dir: String): String =
    cachedFeedDir(s, dir, "UPSERT") { out =>
      upsertFeed(Tables(s, dir, "events").repartition(s.sparkContext.defaultParallelism))
        .write.mode("overwrite").text(out)
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map[String, (SparkSession, String) => DataFrame](
    "q_cdc_roundtrip" -> ((s, dir) => {
      val decoded = WalDecoder.decodeTables(
        s, s.read.text(walLinesDir(s, dir)), Seq(eventsSchema))("events")
      decoded.select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
        col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    }),

    // U/D records must be dropped per the documented append-only contract
    // (SURVEY §2.12): synthesize I+U+D per row, decode, assert only I survive.
    "q_cdc_action_filter" -> ((s, dir) => {
      // a deterministic subset tagged U/D: event_id % 3 == 1 → U, == 2 → D
      val action = when(col("event_id") % 3 === 1, "U")
        .when(col("event_id") % 3 === 2, "D").otherwise("I")
      val decoded = WalDecoder.decodeTables(
        s, s.read.text(walLinesDir(s, dir, action, tag = "IUD")), Seq(eventsSchema))("events")
      decoded.select(col("event_id"), col("event_type")).orderBy("event_id")
    }),

    // merge/upsert materialization: latest live row per PK after an
    // I → U → D change history (one max_by aggregation, no window sort).
    // NO global orderBy: the comparison layer sorts rows before the
    // value compare (driver-style, mirrored in tools/check.py), and the
    // third-decade sweep showed the presentation sort DOMINATING the
    // registered row at 1000× (115.9 s sorted vs 52.8 s merge-only, exp
    // 1.20 vs 0.99 — SCALING.md r12). The registered shape now times
    // the operator; production `VaultSink` uses sortWithinPartitions.
    "q_cdc_upsert" -> ((s, dir) => {
      CdcMerge.latestState(s.read.text(upsertLinesDir(s, dir)), eventsSchema)
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"),
          col("user_id"), col("event_type"), col("value"))
    }),

    // pgNumericAsDecimal opt-in (SURVEY §1.3 divergence #3): numeric(38,2)
    // decodes to exact DecimalType(38,2); values carry 17+ significant
    // digits, so ANY double rounding would break the hash match. Output
    // as canonical decimal strings (scale-preserving) for a stable
    // cross-engine compare.
    "q_cdc_numeric_decimal" -> ((s, dir) => {
      val decoded = WalDecoder.decodeTables(
        s, s.read.text(moneyLinesDir(s, dir)), Seq(moneySchema),
        numericAsDecimal = true)("money")
      decoded.select(col("event_id"),
        col("amount").cast("string").as("amount_s"))
        .orderBy("event_id")
    }),

    // the DEFAULT (reference-compatible) lossy mode over the same feed:
    // numeric → double, oracle casts the same literal text to DOUBLE —
    // both engines round to the same nearest IEEE-754 value
    "q_cdc_numeric_double" -> ((s, dir) => {
      val decoded = WalDecoder.decodeTables(
        s, s.read.text(moneyLinesDir(s, dir)), Seq(moneySchema))("money")
      decoded.select(col("event_id"), col("amount"))
        .orderBy("event_id")
    }),

    // table-integrity digest over the merged state (C2 as a gate query):
    // digest VALUES are engine-specific (ristretto255), but the accuracy
    // contract is oracle-checkable — the multiset digest must be
    // IDENTICAL no matter how the table is partitioned (commutative
    // aggregation), and the row count matches the oracle's merge
    "q_cdc_digest" -> ((s, dir) => {
      // cached: the merged state feeds BOTH digest arms and the count —
      // without it the upsert merge (scan+shuffle) runs three times
      val state = CdcMerge.latestState(s.read.text(upsertLinesDir(s, dir)),
        eventsSchema).cache()
      val canonical = graft.crypto.EcmhAggregator.canonicalRow(
        eventsSchema.columns.map(_.name))
      val d1 = state.agg(
        graft.crypto.EcmhAggregator.digest(canonical).as("d1"))
      val d2 = state.repartition(64, col("user_id")).agg(
        graft.crypto.EcmhAggregator.digest(canonical).as("d2"))
      state.agg(count(lit(1)).as("n_rows")).crossJoin(d1).crossJoin(d2)
        .select(col("n_rows"),
          (col("d1") === col("d2")).cast("long").as("digest_stable"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q_cdc_roundtrip" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s, user_id,
        |  event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "q_cdc_action_filter" ->
      """SELECT event_id, event_type FROM events
        |WHERE event_id % 3 = 0 ORDER BY event_id""".stripMargin,

    "q_cdc_upsert" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s, user_id,
        |  CASE WHEN event_id % 10 = 0 THEN 'updated' ELSE event_type END AS event_type,
        |  CASE WHEN event_id % 10 = 0 THEN value + 1000 ELSE value END AS value
        |FROM events WHERE event_id % 7 != 0 ORDER BY event_id""".stripMargin,

    "q_cdc_numeric_decimal" ->
      """SELECT event_id,
        |  CAST(CAST(CAST(event_id AS VARCHAR) || '123456789012.' ||
        |       lpad(CAST(event_id % 100 AS VARCHAR), 2, '0') AS DECIMAL(38,2))
        |       AS VARCHAR) AS amount_s
        |FROM events ORDER BY event_id""".stripMargin,

    "q_cdc_numeric_double" ->
      """SELECT event_id,
        |  CAST(CAST(event_id AS VARCHAR) || '123456789012.' ||
        |       lpad(CAST(event_id % 100 AS VARCHAR), 2, '0') AS DOUBLE) AS amount
        |FROM events ORDER BY event_id""".stripMargin,

    "q_cdc_digest" ->
      """SELECT count(*) AS n_rows, CAST(1 AS BIGINT) AS digest_stable
        |FROM events WHERE event_id % 7 != 0""".stripMargin
  )
}
