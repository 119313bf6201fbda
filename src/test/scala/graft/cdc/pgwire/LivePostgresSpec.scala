package graft.cdc.pgwire

import java.nio.file.Files
import graft.SparkSpec
import graft.cdc.{CdcMerge, TableColumn, TableSchema}
import graft.cdc.pgwire.PgWire.Lsn
import org.apache.spark.sql.functions._

/**
 * LIVE end-to-end validation against a real PostgreSQL walsender — the
 * in-sandbox answer to the reference's container test
 * (`pkg/pgrepl/replicator_test.go:22-94`): a throwaway cluster with
 * `wal_level=logical`, the built-in `pgoutput` plugin (wal2json is a
 * third-party extension the sandbox lacks; the envelope the feed spools
 * is identical either way), a real slot, real DML, real keepalive/ack
 * traffic — then the unchanged Spark pipeline replays the spool and the
 * merged state must equal the live table, row for row.
 *
 * Cancels (does not fail) when no Postgres server binaries are present,
 * so the suite is green in minimal CI environments.
 */
class LivePostgresSpec extends SparkSpec {

  private var cluster: PgLocalCluster = _
  private var tmp: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    if (PgLocalCluster.available) {
      tmp = Files.createTempDirectory("pg-live")
      cluster = new PgLocalCluster(tmp)
      cluster.start()
    }
  }

  override def afterAll(): Unit = {
    if (cluster != null) cluster.close()
    super.afterAll()
  }

  private def gate(): Unit =
    if (cluster == null) cancel("postgres server binaries not found — live validation skipped")

  /** Poll until `cond` or `timeoutMs`; live replication is asynchronous. */
  private def eventually(timeoutMs: Long = 30000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = cond
    while (!ok && System.currentTimeMillis() < deadline) { Thread.sleep(100); ok = cond }
    ok
  }

  private val schema = TableSchema("t", Seq(
    TableColumn("id", "integer", nullable = false, isPrimary = true),
    TableColumn("name", "text", nullable = true, isPrimary = false),
    TableColumn("score", "double precision", nullable = true, isPrimary = false),
    TableColumn("ok", "boolean", nullable = true, isPrimary = false)))

  test("pgoutput feed against a live walsender: spool replay equals the live table") {
    gate()
    val sql = cluster.sqlClient()
    try {
      sql.simpleQuery("CREATE DATABASE cdc_live")
    } finally sql.close()
    val db = cluster.sqlClient(db = "cdc_live")
    val spool = Files.createTempDirectory("pg-live-spool").toString
    try {
      db.simpleQuery(
        "CREATE TABLE t(id int PRIMARY KEY, name text, score double precision, ok boolean)")
      db.simpleQuery("CREATE PUBLICATION pub FOR TABLE t")

      val feed = new PgWalFeed(cluster.replicationClient("cdc_live"), "pub", spool,
        plugin = "pgoutput")
      try {
        val tables = feed.start()
        assert(tables == Seq("public.t"))

        // three transactions: a multi-row insert (one implicit tx — the
        // simple protocol runs a multi-statement query as one tx), an
        // update, a delete; plus one tx on an unpublished table that
        // must NOT appear in the spool
        db.simpleQuery(
          "INSERT INTO t VALUES (1, 'one', 1.5, true); INSERT INTO t VALUES (2, 'two', 2.5, false)")
        db.simpleQuery("CREATE TABLE untracked(x int); INSERT INTO untracked VALUES (42)")
        db.simpleQuery("UPDATE t SET name = 'TWO', score = 22.5 WHERE id = 2")
        db.simpleQuery("INSERT INTO t VALUES (3, 'three', 3.5, true); DELETE FROM t WHERE id = 1")

        assert(eventually()(feed.txRefsAfter(0L, 100).size >= 3),
          s"expected 3 spooled transactions, got ${feed.txRefsAfter(0L, 100).size}")
        val refs = feed.txRefsAfter(0L, 100)
        assert(refs.size == 3, "the unpublished-table tx must not be spooled")
        assert(refs.map(_.lsn) == refs.map(_.lsn).sorted, "commit LSNs must be monotonic")

        // the unchanged Spark pipeline over the spool == live table state
        val merged = CdcMerge.latestState(
          spark.read.text(spool).toDF("value"), schema)
        val got = merged.orderBy(col("id")).collect()
          .map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getBoolean(3))).toSeq
        val live = db.simpleQuery("SELECT id, name, score, ok FROM t ORDER BY id")
          .map(r => (r("id").get.toInt, r("name").get, r("score").get.toDouble, r("ok").get == "t"))
        assert(got == live)
        assert(got == Seq((2, "TWO", 22.5, false), (3, "three", 3.5, true)))

        // ack the newest commit: the server's confirmed_flush_lsn must
        // advance to it (the reference's Commit → standby status path)
        val newest = refs.map(_.lsn).max
        feed.ack(newest)
        assert(eventually() {
          db.simpleQuery(
            "SELECT confirmed_flush_lsn FROM pg_replication_slots WHERE slot_name = 'graft_pub'")
            .headOption.flatMap(_("confirmed_flush_lsn")).exists(s => Lsn.parse(s) >= newest)
        }, "confirmed_flush_lsn did not advance to the acked commit")
      } finally feed.close()

      // resume: a fresh feed (new spool) restarts from the slot's
      // confirmed_flush_lsn — pre-ack transactions must NOT replay
      db.simpleQuery("INSERT INTO t VALUES (9, 'nine', 9.5, true)")
      val spool2 = Files.createTempDirectory("pg-live-spool2").toString
      val feed2 = new PgWalFeed(cluster.replicationClient("cdc_live"), "pub", spool2,
        plugin = "pgoutput")
      try {
        feed2.start()
        assert(eventually()(feed2.txRefsAfter(0L, 100).nonEmpty))
        val merged2 = CdcMerge.latestState(spark.read.text(spool2).toDF("value"), schema)
        val ids = merged2.select("id").collect().map(_.getInt(0)).toSeq.sorted
        assert(ids == Seq(9), s"resume must replay only post-ack txs, got ids $ids")
      } finally feed2.close()
    } finally db.close()
  }

  test("live event-time: real walsender commit timestamps parse through the event-time sink — no silent late-drop") {
    // The event-time machinery's worst failure mode is SILENT: if the
    // live timestamp spelling ever stops parsing, __graft_ts goes NULL
    // and every row is dropped as late — the stream stays green while
    // the vault exports nothing. Pin the real spelling end-to-end: real
    // commits, real pgoutput decode, the unchanged spool envelope fed
    // through the event-time VaultSink (its committed watermark and its
    // pending windows).
    gate()
    val sql = cluster.sqlClient()
    try sql.simpleQuery("CREATE DATABASE cdc_et") finally sql.close()
    val db = cluster.sqlClient(db = "cdc_et")
    val spool = Files.createTempDirectory("pg-et-spool").toString
    try {
      db.simpleQuery(
        "CREATE TABLE t(id int PRIMARY KEY, name text, score double precision, ok boolean)")
      db.simpleQuery("CREATE PUBLICATION pubet FOR TABLE t")
      val feed = new PgWalFeed(cluster.replicationClient("cdc_et"), "pubet", spool,
        plugin = "pgoutput")
      try {
        feed.start()
        db.simpleQuery("INSERT INTO t VALUES (1, 'one', 1.5, true)")
        db.simpleQuery("INSERT INTO t VALUES (2, 'two', 2.5, false)")
        assert(eventually()(feed.txRefsAfter(0L, 10).size >= 2))

        val batch = spark.read.text(spool).toDF("value")
        // the event-time sink lands BOTH rows in their pending window
        // (1h windows, commits are 'now' → the window is open): zero
        // stored, zero dropped — a parse regression would show up as
        // pending = 0 here
        val staging = Files.createTempDirectory("pg-et-staging").toString
        val store = new graft.engine.LocalContentStore(
          Files.createTempDirectory("pg-et-store").toString)
        val sink = new graft.engine.VaultSink("ns", Seq(schema), staging, store,
          eventTime = Some(graft.engine.EventTimeWindows(3600L, 0L)))
        sink.processBatch(batch, 0L)
        // the committed watermark (lateness 0 = the max parsed commit
        // time) is sane: live commit time ≈ now
        val wmFile = java.nio.file.Paths.get(staging, "_watermark")
        val wm = java.nio.file.Files.readString(wmFile).trim.toLong
        val nowSec = System.currentTimeMillis() / 1000
        assert(wm != Long.MinValue, "live commit timestamp did not parse — watermark would never advance")
        assert(math.abs(wm - nowSec) < 600,
          s"parsed live timestamp $wm implausibly far from now $nowSec")
        val pendingRoot = java.nio.file.Paths.get(staging, "pending", "t")
        assert(java.nio.file.Files.exists(pendingRoot), "no pending window dir — rows were dropped")
        val slices = graft.core.FsUtil.listDir(pendingRoot)
          .flatMap(b => graft.core.FsUtil.listDir(b))
          .filter(_.getFileName.toString.startsWith("__wstart="))
        assert(slices.nonEmpty, "no pending slices — live rows silently late-dropped")
        val pendingCount = slices.map(p => spark.read.parquet(p.toString).count()).sum
        assert(pendingCount == 2L,
          s"expected both live rows pending in their event-time window, got $pendingCount")
      } finally feed.close()
    } finally db.close()
  }

  test("live schema drift: ALTER TABLE mid-stream re-sends Relation; old and new rows decode") {
    gate()
    val sql = cluster.sqlClient()
    try sql.simpleQuery("CREATE DATABASE cdc_drift") finally sql.close()
    val db = cluster.sqlClient(db = "cdc_drift")
    val spool = Files.createTempDirectory("pg-drift-spool").toString
    try {
      db.simpleQuery("CREATE TABLE d(id int PRIMARY KEY, name text)")
      db.simpleQuery("CREATE PUBLICATION pubd FOR TABLE d")
      val feed = new PgWalFeed(cluster.replicationClient("cdc_drift"), "pubd", spool,
        plugin = "pgoutput")
      try {
        feed.start()
        db.simpleQuery("INSERT INTO d VALUES (1, 'before')")
        db.simpleQuery("ALTER TABLE d ADD COLUMN extra double precision")
        db.simpleQuery("INSERT INTO d VALUES (2, 'after', 2.5)")
        assert(eventually()(feed.txRefsAfter(0L, 10).size >= 2))

        // widened schema: the pre-drift row reads NULL in the new column
        val wide = TableSchema("d", Seq(
          TableColumn("id", "integer", nullable = false, isPrimary = true),
          TableColumn("name", "text", nullable = true, isPrimary = false),
          TableColumn("extra", "double precision", nullable = true, isPrimary = false)))
        val rows = CdcMerge.latestState(spark.read.text(spool).toDF("value"), wide)
          .orderBy(col("id")).collect()
        assert(rows.length == 2)
        assert(rows(0).getInt(0) == 1 && rows(0).getString(1) == "before" && rows(0).isNullAt(2))
        assert(rows(1).getInt(0) == 2 && rows(1).getString(1) == "after" && rows(1).getDouble(2) == 2.5)

        // narrow (pre-drift) schema still decodes both rows: the added
        // column is simply not projected (lenient batch replay)
        val narrow = TableSchema("d", Seq(
          TableColumn("id", "integer", nullable = false, isPrimary = true),
          TableColumn("name", "text", nullable = true, isPrimary = false)))
        val narrowRows = CdcMerge.latestState(spark.read.text(spool).toDF("value"), narrow)
          .orderBy(col("id")).collect()
        assert(narrowRows.map(r => (r.getInt(0), r.getString(1))).toSeq
          == Seq((1, "before"), (2, "after")))

        // THE v1 DDL CONTRACT, against a REAL mid-stream ALTER TABLE:
        // under the stream-start (narrow) schema the strict path — what
        // the streaming pipeline runs — FAILS LOUDLY on the post-ALTER
        // record, naming table and columns; it never silently drops the
        // new column. Recovery is the widened replay asserted above.
        val e = intercept[Exception] {
          CdcMerge.latestState(spark.read.text(spool).toDF("value"), narrow,
            strict = true).collect()
        }
        val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
        assert(msgs.contains("schema drift detected on table 'd'"), msgs)
        assert(msgs.contains("extra double precision"), msgs)
        assert(msgs.contains("restart the stream with a refreshed schema"), msgs)
        // and strict under the REFRESHED (wide) schema accepts the whole
        // history — both the pre-ALTER and post-ALTER records
        val strictWide = CdcMerge.latestState(
          spark.read.text(spool).toDF("value"), wide, strict = true)
          .orderBy(col("id")).collect()
        assert(strictWide.length == 2)
      } finally feed.close()
    } finally db.close()
  }

  test("live trailing-column DROP: Exact mode aborts, Prefix documents the blind spot") {
    gate()
    val sql = cluster.sqlClient()
    try sql.simpleQuery("CREATE DATABASE cdc_drop") finally sql.close()
    val db = cluster.sqlClient(db = "cdc_drop")
    val spool = Files.createTempDirectory("pg-drop-spool").toString
    try {
      db.simpleQuery("CREATE TABLE e(id int PRIMARY KEY, name text, extra double precision)")
      db.simpleQuery("CREATE PUBLICATION pube FOR TABLE e")
      val feed = new PgWalFeed(cluster.replicationClient("cdc_drop"), "pube", spool,
        plugin = "pgoutput")
      try {
        feed.start()
        db.simpleQuery("INSERT INTO e VALUES (1, 'full', 1.5)")
        // the ONE DDL shape the prefix carve-out cannot catch: records
        // after a REAL trailing-column DROP are valid schema prefixes
        db.simpleQuery("ALTER TABLE e DROP COLUMN extra")
        db.simpleQuery("INSERT INTO e VALUES (2, 'dropped')")
        assert(eventually()(feed.txRefsAfter(0L, 10).size >= 2))

        val streamStart = TableSchema("e", Seq(
          TableColumn("id", "integer", nullable = false, isPrimary = true),
          TableColumn("name", "text", nullable = true, isPrimary = false),
          TableColumn("extra", "double precision", nullable = true, isPrimary = false)))
        // Exact (the steady-state streaming default) FAILS LOUDLY on the
        // post-DROP record — the r12 blind spot, closed
        val e = intercept[Exception] {
          CdcMerge.latestState(spark.read.text(spool).toDF("value"), streamStart,
            strict = true, driftMode = graft.cdc.DriftMode.Exact).collect()
        }
        val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
        assert(msgs.contains("schema drift detected on table 'e'"), msgs)
        assert(msgs.contains("drift mode: Exact"), msgs)
        // Prefix (the recovery flag) passes the same spool silently with
        // a NULL-decoded tail — the documented blind spot, pinned live
        val rows = CdcMerge.latestState(spark.read.text(spool).toDF("value"),
            streamStart, strict = true, driftMode = graft.cdc.DriftMode.Prefix)
          .orderBy(col("id")).collect()
        assert(rows.length == 2)
        assert(rows(0).getInt(0) == 1 && rows(0).getDouble(2) == 1.5)
        assert(rows(1).getInt(0) == 2 && rows(1).isNullAt(2))
      } finally feed.close()
    } finally db.close()
  }

  test("live introspection: introspectionSql over the real catalog folds to the exact TableSchema") {
    gate()
    val sql = cluster.sqlClient()
    try sql.simpleQuery("CREATE DATABASE cdc_intro") finally sql.close()
    val db = cluster.sqlClient(db = "cdc_intro")
    try {
      db.simpleQuery(
        """CREATE TABLE w(id int PRIMARY KEY, name varchar(30), score numeric(10,2),
          | tags text[], ts timestamptz)""".stripMargin)
      db.simpleQuery("CREATE TABLE x(k bigint PRIMARY KEY, v double precision)")
      val rows = db.simpleQuery(
        graft.cdc.PgIntrospection.introspectionSql("public", Seq("w", "x")))
        .map(r => (r("table_name").get, r("column_name").get, r("data_type").get,
          r("is_nullable").get == "t", r("is_primary").get == "t"))
      val schemas = graft.cdc.PgIntrospection.fromRows(rows)
      import graft.cdc.{TableColumn, TableSchema}
      assert(schemas == Seq(
        TableSchema("w", Seq(
          TableColumn("id", "integer", nullable = false, isPrimary = true),
          TableColumn("name", "character varying", nullable = true, isPrimary = false),
          // precision preserved in the capture (pgNumericAsDecimal reads
          // it; normalize strips it for the default double decode)
          TableColumn("score", "numeric(10,2)", nullable = true, isPrimary = false),
          TableColumn("tags", "text[]", nullable = true, isPrimary = false),
          TableColumn("ts", "timestamp with time zone", nullable = true, isPrimary = false))),
        TableSchema("x", Seq(
          TableColumn("k", "bigint", nullable = false, isPrimary = true),
          TableColumn("v", "double precision", nullable = true, isPrimary = false)))))
      // and the generated publication DDL is accepted by the real server
      db.simpleQuery(graft.cdc.PgIntrospection.createPublicationSql("intro", Seq("w", "x")))
      val pubs = db.simpleQuery(
        "SELECT tablename FROM pg_publication_tables WHERE pubname = 'pub_basin_intro' ORDER BY 1")
        .map(_("tablename").get)
      assert(pubs == Seq("w", "x"))
    } finally db.close()
  }

  test("live type matrix: pgoutput text values decode to the same typed row Postgres holds") {
    gate()
    val sql = cluster.sqlClient()
    try sql.simpleQuery("CREATE DATABASE cdc_types") finally sql.close()
    val db = cluster.sqlClient(db = "cdc_types")
    val spool = Files.createTempDirectory("pg-types-spool").toString
    val typesSchema = TableSchema("m", Seq(
      TableColumn("id", "integer", nullable = false, isPrimary = true),
      TableColumn("sm", "smallint", nullable = true, isPrimary = false),
      TableColumn("big", "bigint", nullable = true, isPrimary = false),
      TableColumn("re", "real", nullable = true, isPrimary = false),
      TableColumn("num", "numeric", nullable = true, isPrimary = false),
      TableColumn("vc", "character varying", nullable = true, isPrimary = false),
      TableColumn("by", "bytea", nullable = true, isPrimary = false),
      TableColumn("d", "date", nullable = true, isPrimary = false),
      TableColumn("tsz", "timestamp with time zone", nullable = true, isPrimary = false),
      TableColumn("u", "uuid", nullable = true, isPrimary = false),
      TableColumn("arr", "integer[]", nullable = true, isPrimary = false),
      TableColumn("tarr", "text[]", nullable = true, isPrimary = false)))
    try {
      db.simpleQuery(
        """CREATE TABLE m(id int PRIMARY KEY, sm smallint, big bigint, re real,
          | num numeric(10,2), vc varchar(30), by bytea, d date, tsz timestamptz,
          | u uuid, arr int[], tarr text[])""".stripMargin)
      db.simpleQuery("CREATE PUBLICATION pubm FOR TABLE m")
      val feed = new PgWalFeed(cluster.replicationClient("cdc_types"), "pubm", spool,
        plugin = "pgoutput")
      try {
        feed.start()
        db.simpleQuery(
          """INSERT INTO m VALUES (1, 7, 9007199254740993, 1.25, 12345.67, 'héllo',
            | '\x00ff10'::bytea, '2026-08-14', '2026-08-14 05:00:00.123456+00',
            | 'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11', ARRAY[1,2,3],
            | ARRAY['a','b,c','d "q"'])""".stripMargin)
        db.simpleQuery("INSERT INTO m(id) VALUES (2)") // all-null row
        assert(eventually()(feed.txRefsAfter(0L, 10).size >= 2))

        val merged = CdcMerge.latestState(spark.read.text(spool).toDF("value"), typesSchema)
        val rows = merged.orderBy(col("id")).collect()
        assert(rows.length == 2)
        val r = rows(0)
        assert(r.getShort(1) == 7 && r.getLong(2) == 9007199254740993L)
        assert(r.getFloat(3) == 1.25f && r.getDouble(4) == 12345.67)
        assert(r.getString(5) == "héllo")
        assert(r.getAs[Array[Byte]](6).toSeq == Seq(0x00, 0xff, 0x10).map(_.toByte))
        assert(r.getDate(7).toString == "2026-08-14")
        assert(r.getTimestamp(8).toInstant.toString == "2026-08-14T05:00:00.123456Z")
        assert(r.getString(9) == "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11")
        assert(r.getSeq[Int](10) == Seq(1, 2, 3))
        assert(r.getSeq[String](11) == Seq("a", "b,c", "d \"q\""))
        val nulls = rows(1)
        assert((1 until 12).forall(nulls.isNullAt))

        // pgNumericAsDecimal row of the matrix: the same live feed
        // decoded with numeric(10,2) as DecimalType(10,2) holds the
        // EXACT value Postgres holds (the default double mode is the
        // reference's documented lossy mapping)
        val decSchema = TableSchema("m",
          typesSchema.columns.map(c =>
            if (c.name == "num") c.copy(pgType = "numeric(10,2)") else c))
        val dec = CdcMerge.latestState(spark.read.text(spool).toDF("value"),
          decSchema, numericAsDecimal = true).orderBy(col("id")).collect()
        assert(dec(0).schema("num").dataType ==
          org.apache.spark.sql.types.DecimalType(10, 2))
        assert(dec(0).getDecimal(4) == new java.math.BigDecimal("12345.67"))
        assert(dec(1).isNullAt(4))
      } finally feed.close()
    } finally db.close()
  }
}
