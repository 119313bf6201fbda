package graft.engine

import graft.SparkSpec
import graft.cdc.{TableColumn, TableSchema}
import graft.crypto.EcmhAggregator
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

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

  private val typedSchema = TableSchema("t",
    TableColumn("id", "integer", nullable = false, isPrimary = true) +:
      typed.zipWithIndex.map { case ((t, _, _), i) =>
        TableColumn(s"c$i", t, nullable = true, isPrimary = false) })

  /** The typed feed published by one sink: its store, its cid and the
    * digest its catalog event recorded. */
  private def publishTyped(numericAsDecimal: Boolean, singleFile: Boolean)
      : (LocalContentStore, String, Seq[String]) = {
    val row: (Int, Int => String) => Seq[(String, String, String)] = (id, value) =>
      ("id", "integer", id.toString) +:
        typed.zipWithIndex.map { case ((t, _, _), i) => (s"c$i", t, value(i)) }
    val batch = lines(
      tx(1, "t", "2024-01-01 00:00:10", Seq(row(1, typed(_)._2), row(2, typed(_)._3))),
      tx(2, "t", "2024-01-01 00:00:20", Seq(row(3, _ => "null"))))
    val base = Files.createTempDirectory("sink-digest")
    val store = new LocalContentStore(base.resolve("store").toString)
    val catalog = graft.catalog.VaultCatalog(spark, base.resolve("catalog").toString)
    val sink = new VaultSink("ns", Seq(typedSchema), base.resolve("staging").toString, store,
      catalog = Some(catalog), singleFile = singleFile, numericAsDecimal = numericAsDecimal)
    val Seq(("t", cid)) = sink.processBatch(batch, 0L)
    val recorded = catalog.events.where(org.apache.spark.sql.functions.col("cid") === cid)
      .select("digest").collect().map(_.getString(0)).toSeq
    (store, cid, recorded)
  }

  test("sink digest round trip: every PgTypes scalar, an array and a decimal") {
    val schema = typedSchema
    for ((numericAsDecimal, singleFile) <- Seq(false -> true, true -> false)) {
      val (store, cid, recorded) = publishTyped(numericAsDecimal, singleFile)
      val artifact = spark.read.parquet(store.get(cid).get.toString)
      assert(artifact.count() == 3L)
      assert(artifact.schema("c6").dataType.isInstanceOf[
        org.apache.spark.sql.types.DecimalType] == numericAsDecimal)
      assert(recorded == Seq(EcmhAggregator.rowDigest(artifact, schema.columns.map(_.name))),
        s"numericAsDecimal=$numericAsDecimal singleFile=$singleFile")
    }
  }

  test("verify reads the schema from the artifact's footer: every PgTypes mapping, no inference job") {
    for ((numericAsDecimal, singleFile) <- Seq(false -> true, true -> false)) {
      val (store, cid, recorded) = publishTyped(numericAsDecimal, singleFile)
      val artifact = store.get(cid).get
      assert(BatchWrite.footerSchema(spark, artifact) == spark.read.parquet(artifact.toString).schema,
        s"numericAsDecimal=$numericAsDecimal singleFile=$singleFile")
      // the verify runs one job, the digest observed on a noop write: no
      // schema-inference job and no aggregate's shuffle stage
      val (df, work) = graft.WorkCounters.of(spark)(
        new Retriever(store).retrieveVerified(spark, cid, recorded.head, typedSchema.columns.map(_.name)))
      assert(df.isDefined && work.jobs == 1, s"singleFile=$singleFile: $work")
    }

    // an INT64 TIMESTAMP(NANOS) column reads as LongType under nanosAsLong
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val nanosSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); optional binary s (STRING); }")
    val nanos = Files.createTempDirectory("footer-nanos").resolve("nanos.parquet")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(nanos.toUri))
      .withType(nanosSchema).build()
    try writer.write(new SimpleGroupFactory(nanosSchema).newGroup()
      .append("ts", 1700000000123456789L).append("s", "x"))
    finally writer.close()
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val inferred = spark.read.parquet(nanos.toString).schema
    assert(inferred("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(BatchWrite.footerSchema(spark, nanos) == inferred)

    // a file that is not parquet fails `vaults write` loudly; a truncated
    // artifact fails its verify
    val (store, cid, recorded) = publishTyped(numericAsDecimal = false, singleFile = true)
    val text = Files.writeString(Files.createTempFile("not-parquet", ".parquet"), "just text\n")
    intercept[Exception](BatchWrite.write(spark, graft.core.VaultName("ns", "t"), text, store))
    val artifact = store.get(cid).get
    Files.write(artifact, Files.readAllBytes(artifact).dropRight(16))
    intercept[Exception](new Retriever(store)
      .retrieveVerified(spark, cid, recorded.head, typedSchema.columns.map(_.name)))
  }

  /** Content id of a parquet artifact with each column chunk's encoding
    * list in enum order. parquet-mr writes that list from a `HashSet` of
    * enum constants, whose order follows identity hash codes and so
    * changes from one JVM to the next; every other byte is kept. */
  private def canonicalCid(file: java.nio.file.Path): String = {
    import org.apache.parquet.format.{FileMetaData, Util}
    import scala.jdk.CollectionConverters._
    val bytes = Files.readAllBytes(file)
    val footerLen = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val footerStart = bytes.length - 8 - footerLen
    val footer = bytes.slice(footerStart, footerStart + footerLen)
    def encode(m: FileMetaData): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      Util.writeFileMetaData(m, out)
      out.toByteArray
    }
    val meta = Util.readFileMetaData(new java.io.ByteArrayInputStream(footer))
    assert(encode(meta).sameElements(footer), s"$file: footer does not re-encode as read")
    meta.getRow_groups.asScala.flatMap(_.getColumns.asScala).map(_.getMeta_data).foreach { m =>
      m.setEncodings(m.getEncodings.asScala.sortBy(_.getValue).asJava)
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(bytes, 0, footerStart)
    md.update(encode(meta))
    md.update(bytes, bytes.length - 8, 8)
    CarV1.Cid.v1FromDigest(CarV1.CodecRaw, md.digest()).toString
  }

  private val orders = TableSchema("orders", Seq(
    TableColumn("id", "integer", nullable = false, isPrimary = true),
    TableColumn("amount", "numeric(10,2)", nullable = true, isPrimary = false),
    TableColumn("placed", "timestamp without time zone", nullable = true, isPrimary = false),
    TableColumn("tags", "text[]", nullable = true, isPrimary = false)))
  private val notes = TableSchema("notes", Seq(
    TableColumn("body", "text", nullable = true, isPrimary = false),
    TableColumn("seen", "boolean", nullable = true, isPrimary = false)))
  private val items = TableSchema("items", Seq(
    TableColumn("id", "integer", nullable = false, isPrimary = true),
    TableColumn("label", "text", nullable = true, isPrimary = false)))
  private def order(id: Int, amount: String, placed: String, tags: String) =
    Seq(("id", "integer", id.toString), ("amount", "numeric(10,2)", amount),
      ("placed", "timestamp without time zone", placed), ("tags", "text[]", tags))
  private def note(body: String, seen: String) =
    Seq(("body", "text", body), ("seen", "boolean", seen))
  private def item(id: Int, label: String) =
    Seq(("id", "integer", id.toString), ("label", "text", label))

  /** The fixed orders and notes feed of the golden artifacts. */
  private val goldenTxs = Seq(
    tx(1, "orders", "2024-01-01 00:00:01", Seq(
      order(3, "12.50", "\"2024-01-01 00:00:01\"", "\"{a,b}\""),
      order(1, "-0.07", "\"2023-12-31 23:59:59.5\"", "\"{}\""))),
    tx(2, "notes", "2024-01-01 00:00:02", Seq(
      note("\"first\"", "true"), note("\"sec\\\"ond\"", "null"))),
    tx(3, "orders", "2024-01-01 00:00:03", Seq(order(2, "null", "null", "null"))),
    tx(4, "notes", "2024-01-01 00:00:04", Seq(note("null", "false"))))
  /** The golden feed with a third table's transaction. */
  private val threeTableTxs = goldenTxs :+
    tx(5, "items", "2024-01-01 00:00:05", Seq(item(2, "\"b\""), item(1, "null")))

  // (canonical cid, digest) of each table's artifact of the golden feed
  private val golden = Map(
    "orders" -> ("bafkreie72gylceelznesyjq63ovw3ujjgj3v7erx3gjajoy7lk6gi4ojja",
      "f00261a61bc42891db4d2478cc40a85940ea8a47748a3491139f19ff5bd74b14"),
    "notes" -> ("bafkreif4yyegvyrya6g5fqbcej2nast4rgpfc2xu4liztuir6fygtk6rsu",
      "aee30dfde514c29176a3fe05c3bd8b82b253d29e68f2c31238e3eea2c3fd9205"))

  /** A published batch: its (table, cid) list, the catalog's (digest,
    * timestamp) per cid and each cid's canonical content id. */
  private def published(sink: VaultSink, store: LocalContentStore,
                        catalog: graft.catalog.VaultCatalog, feed: Seq[String], batchId: Long)
      : (Seq[(String, String)], Map[String, (String, Long)], Map[String, String]) = {
    val out = sink.processBatch(lines(feed: _*), batchId)
    val events = catalog.events.select("cid", "digest", "timestamp").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    (out, events, out.map { case (_, cid) => cid -> canonicalCid(store.get(cid).get) }.toMap)
  }

  /** `expected` (canonical cid, digest) per table, the tables in name
    * order, each event stamped at the sinks' fixed clock. */
  private def assertGolden(expected: Map[String, (String, String)],
                           published: (Seq[(String, String)], Map[String, (String, Long)],
                             Map[String, String])): Unit = {
    val (out, events, canonical) = published
    assert(out.map(_._1) == expected.keys.toSeq.sorted, "tables in name order")
    for ((table, cid) <- out) {
      val (canonicalGolden, digest) = expected(table)
      assert(canonical(cid) == canonicalGolden, table)
      assert(events(cid) == (digest -> 1700000000L), table)
    }
  }

  private def freshStore(name: String) = {
    val base = Files.createTempDirectory(name)
    (base, new LocalContentStore(base.resolve("store").toString),
      graft.catalog.VaultCatalog(spark, base.resolve("catalog").toString))
  }

  test("golden artifacts: a fixed two-table feed publishes pinned bytes and digests") {
    // an artifact's bytes are its content id: any change to the decode
    // (column types, nullability, row order, values) shows up here
    val (base, store, catalog) = freshStore("sink-golden")
    val sink = new VaultSink("ns", Seq(orders, notes), base.resolve("staging").toString,
      store, catalog = Some(catalog), clock = () => 1700000000L)
    assertGolden(golden, published(sink, store, catalog, goldenTxs, 7L))
  }

  /** Signs only once `parties` signers wait together (or fails after
    * 30 s), so a batch of that many tables publishes only when its tables
    * sign side by side. Records each signing thread's name. */
  private final class BarrierSigner(parties: Int) extends FileSigner {
    @transient private val barrier = new java.util.concurrent.CyclicBarrier(parties)
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def sign(file: java.nio.file.Path): Array[Byte] = {
      threads.add(Thread.currentThread.getName)
      barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
      Array[Byte](1)
    }
  }

  private def poolThreads: Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith("vault-publish-"))

  test("the tables of a batch publish side by side, to the same artifacts and events") {
    // processing time: three tables sign together, and the two golden
    // tables keep their golden bytes and digests
    val (base, store, catalog) = freshStore("sink-concurrent")
    val signer = new BarrierSigner(3)
    val sink = new VaultSink("ns", Seq(orders, notes, items), base.resolve("staging").toString,
      store, signer = Some(signer), catalog = Some(catalog), clock = () => 1700000000L)
    // the items artifact as the tables published one after another
    val threeTableGolden = golden + ("items" ->
      ("bafkreiapm4bvur5arb4nhcug6kobgz7udqp6gaaoehx2zi35xsjll4y26e",
        "62a50b2d2321e85b35c99ef34d7e2ab735d955710ddee36e541f57157790cf0b"))
    assertGolden(threeTableGolden, published(sink, store, catalog, threeTableTxs, 7L))
    assert(signer.threads.size == 3 && poolThreads.isEmpty)

    // event time: the three windows a batch closes publish side by side,
    // each the same artifact as the processing-time batch of its rows
    val (etBase, etStore, etCatalog) = freshStore("sink-concurrent-et")
    val etSigner = new BarrierSigner(3)
    val etSink = new VaultSink("ns", Seq(orders, notes, items), etBase.resolve("staging").toString,
      etStore, signer = Some(etSigner), catalog = Some(etCatalog), clock = () => 1700000000L,
      eventTime = Some(EventTimeWindows(60L, 0L)))
    assert(etSink.processBatch(lines(threeTableTxs: _*), 0L).isEmpty)
    val closing = Seq(
      tx(6, "orders", "2024-01-01 00:02:00", Seq(order(9, "1.00", "null", "null"))),
      tx(7, "notes", "2024-01-01 00:02:00", Seq(note("null", "true"))),
      tx(8, "items", "2024-01-01 00:02:00", Seq(item(9, "null"))))
    val etPublished = published(etSink, etStore, etCatalog, closing, 1L)
    assertGolden(threeTableGolden, etPublished)
    val windowStart = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    for ((table, cid) <- etPublished._1)
      assert(etStore.get(cid).get.getFileName.toString.endsWith(s"$table-$windowStart.parquet"))
    assert(etSigner.threads.size == 3 && poolThreads.isEmpty)
  }

  test("a batch of three tables with a catalog runs one job per table") {
    val (base, store, catalog) = freshStore("sink-jobs")
    val account = graft.core.Account("0x396F15b0A2be942193BBBdC11BE3bF6F6EB1a08a")
    for (t <- Seq("orders", "notes", "items"))
      catalog.createVault(graft.core.VaultName("ns", t), account, 60)
    val sink = new VaultSink("ns", Seq(orders, notes, items), base.resolve("staging").toString,
      store, catalog = Some(catalog), clock = () => 1700000000L)
    // the batch right after the creates, and the next one: each table's
    // write is the only job; the catalog append runs none
    for (batchId <- Seq(7L, 8L)) {
      val (out, work) = graft.WorkCounters.of(spark)(sink.processBatch(lines(threeTableTxs: _*), batchId))
      assert(out.length == 3 && work.jobs == 3, s"batch $batchId: $work")
    }
    assert(catalog.events.collect().length == 6)
  }

  test("a one-table sink publishes on the calling thread") {
    // every tracked table is one publish, rows or not
    val (base, store, _) = freshStore("sink-one-table")
    val signer = new BarrierSigner(1)
    val sink = new VaultSink("ns", Seq(items), base.resolve("staging").toString,
      store, signer = Some(signer))
    val Seq(("items", _)) = sink.processBatch(lines(threeTableTxs.last), 0L)
    assert(signer.threads.asScala.toSeq == Seq(Thread.currentThread.getName))
  }

  test("a table that fails its batch fails it with its own exception, after every table's job") {
    val drifted = tx(9, "notes", "2024-01-01 00:00:06",
      Seq(note("\"x\"", "true") :+ (("extra", "integer", "1"))))
    // the exception the failing table throws alone, on the calling thread
    val alone = intercept[Exception] {
      val (base, store, _) = freshStore("sink-drift-alone")
      new VaultSink("ns", Seq(notes), base.resolve("staging").toString, store)
        .processBatch(lines(drifted), 0L)
    }
    def messages(e: Throwable) = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages(alone).contains("schema drift detected on table 'notes'"))
    for (eventTime <- Seq(None, Some(EventTimeWindows(60L, 0L)))) {
      val (base, store, catalog) = freshStore("sink-drift")
      val staging = base.resolve("staging")
      val sink = new VaultSink("ns", Seq(orders, notes, items), staging.toString, store,
        catalog = Some(catalog), eventTime = eventTime)
      def watermark = Option(staging.resolve("_watermark")).filter(Files.exists(_))
        .map(Files.readString(_))
      if (eventTime.isDefined) sink.processBatch(lines(threeTableTxs: _*), 0L)
      val events = catalog.events.count()
      val wm = watermark
      val e = intercept[Exception](sink.processBatch(lines(threeTableTxs :+ drifted: _*), 1L))
      assert(e.getClass == alone.getClass, s"eventTime=$eventTime: $e")
      assert(messages(e).contains("schema drift detected on table 'notes'"), s"eventTime=$eventTime")
      assert(catalog.events.count() == events && watermark == wm, s"eventTime=$eventTime")
      org.apache.spark.sql.graftbridge.Bridge.drain(spark.sparkContext)
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty, s"eventTime=$eventTime")
      assert(poolThreads.isEmpty, s"eventTime=$eventTime")
    }
  }

  /** Counts down `entered`, then blocks until interrupted. */
  private final class BlockingSigner extends FileSigner {
    @transient val entered = new java.util.concurrent.CountDownLatch(1)
    override def sign(file: java.nio.file.Path): Array[Byte] = {
      entered.countDown()
      new java.util.concurrent.CountDownLatch(1).await()
      Array.emptyByteArray
    }
  }

  test("stopping a query whose tables block in their signer leaves no pool thread") {
    val base = Files.createTempDirectory("sink-stop")
    val wal = base.resolve("wal")
    Files.createDirectories(wal)
    Files.writeString(wal.resolve("tx.json"), threeTableTxs.mkString("", "\n", "\n"))
    val signer = new BlockingSigner
    val q = StreamPipeline.start(spark, "ns", Seq(orders, notes, items), wal.toString,
      base.resolve("staging").toString, base.resolve("ckpt").toString,
      new LocalContentStore(base.resolve("store").toString), signer = Some(signer),
      availableNow = true)
    try {
      assert(signer.entered.await(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(poolThreads.nonEmpty)
    } finally q.stop()
    assert(!q.isActive && poolThreads.isEmpty)
  }

  test("scale mode: a replayed batch id keeps its stored directory artifact and logs one event") {
    // singleFile = false uploads each window as a DIRECTORY; re-putting
    // the same window (a processing-time batch id replaying in the same
    // JVM) lands on the stored copy of the same cid
    val schemaT = TableSchema("t", Seq(
      TableColumn("id", "integer", nullable = false, isPrimary = true),
      TableColumn("name", "text", nullable = false, isPrimary = false)))
    val batch = lines(tx(1, "t", "2024-01-01 00:00:10",
      Seq(Seq(("id", "integer", "1"), ("name", "text", "\"a\"")),
        Seq(("id", "integer", "2"), ("name", "text", "\"b\"")))))
    val base = Files.createTempDirectory("sink-replay")
    val storeDir = base.resolve("store")
    val store = new LocalContentStore(storeDir.toString)
    val catalog = graft.catalog.VaultCatalog(spark, base.resolve("catalog").toString)
    val sink = new VaultSink("ns", Seq(schemaT), base.resolve("staging").toString, store,
      catalog = Some(catalog), singleFile = false, clock = () => 1700000000L)
    val first = sink.processBatch(batch, 5L)
    val replay = sink.processBatch(batch, 5L)
    assert(replay == first)
    val Seq(("t", cid)) = first
    assert(graft.core.FsUtil.listDir(storeDir).map(_.getFileName.toString) ==
      Vector(store.get(cid).get.getFileName.toString), "one stored artifact")
    assert(Files.isDirectory(store.get(cid).get))
    assert(catalog.events.count() == 1L, "one event for the replayed window")
    assert(spark.read.parquet(store.get(cid).get.toString).count() == 2L)
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

