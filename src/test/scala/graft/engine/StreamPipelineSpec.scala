package graft.engine

import graft.SparkSpec
import graft.cdc.{TableColumn, TableSchema}
import graft.core.VaultName
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * End-to-end streaming tests porting the reference's two window/tx
 * interleavings (`internal/app/streamer_test.go:32-130`, `:134-201`):
 * `<T1, W, T2, C>` (tx, window rotation, tx, close) and `<T1, T2, W, C>`.
 * Windows are driven deterministically with `maxFilesPerTrigger=1` +
 * `Trigger.AvailableNow` (SURVEY §7.4 risk 3: never sleep wall-clock).
 * The mock provider of the reference becomes [[LocalContentStore]]; the
 * uploaded parquet is read back and row-asserted, and staging cleanup is
 * verified like the reference's `.db`/`.wal`/`.parquet` checks.
 */
class StreamPipelineSpec extends SparkSpec {

  private val schemaT = TableSchema("t", Seq(
    TableColumn("id", "integer", nullable = false, isPrimary = true),
    TableColumn("name", "text", nullable = false, isPrimary = false)))

  private def walTx(lsn: Long, rows: (Int, String)*): String = {
    val records = rows.map { case (id, name) =>
      s"""{"action": "I", "xid": 1058, "lsn": "0/$lsn", "nextlsn": "",
         |"timestamp": "2023-08-22 14:44:02.043586-03", "schema": "public",
         |"table": "t", "columns": [
         |  {"name": "id", "type": "integer", "value": $id},
         |  {"name": "name", "type": "text", "value": "$name"}],
         |"pk": [{"name": "id", "type": "integer"}]}""".stripMargin.replace("\n", " ")
    }.mkString(",")
    s"""{"commit_lsn": $lsn, "records": [$records]}"""
  }

  private def freshDirs(): (String, String, String, String) = {
    val base = Files.createTempDirectory("graft-e2e").toString
    (s"$base/wal", s"$base/staging", s"$base/checkpoint", s"$base/store")
  }

  private def runAvailable(walDir: String, staging: String, ckpt: String,
                           store: LocalContentStore): Unit = {
    val q = StreamPipeline.start(spark, "ns", Seq(schemaT), walDir, staging,
      ckpt, store, availableNow = true, maxTxPerTrigger = Some(1))
    q.awaitTermination(120000)
    ()
  }

  private def storeFiles(storeDir: String): Seq[java.nio.file.Path] =
    graft.core.FsUtil.listDir(Paths.get(storeDir)).sortBy(_.toString)

  private def readRows(p: java.nio.file.Path): Set[(Int, String)] =
    spark.read.parquet(p.toString).collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("name"))).toSet

  test("interleaving <T1, W, T2, C>: each window uploads its own rows") {
    val (wal, staging, ckpt, storeDir) = freshDirs()
    Files.createDirectories(Paths.get(wal))
    val store = new LocalContentStore(storeDir)
    // T1 arrives, window fires (AvailableNow run 1)
    Files.writeString(Paths.get(wal, "tx1.json"),
      walTx(100, 200232 -> "100", 200242 -> "400"))
    runAvailable(wal, staging, ckpt, store)
    // T2 arrives after the first window closed (run 2, resumes checkpoint)
    Files.writeString(Paths.get(wal, "tx2.json"), walTx(200, 200233 -> "200"))
    runAvailable(wal, staging, ckpt, store)

    val files = storeFiles(storeDir)
    assert(files.size == 2, s"expected 2 uploads, got $files")
    val contents = files.map(readRows)
    assert(contents.contains(Set(200232 -> "100", 200242 -> "400"))) // window 1
    assert(contents.contains(Set(200233 -> "200")))                  // window 2
    // staging cleaned (reference asserts .db/.wal/.parquet deletion)
    assert(!Files.exists(Paths.get(staging)) ||
      Files.list(Paths.get(staging)).count() == 0)
  }

  test("interleaving <T1, T2, W, C>: one window carries both txs") {
    val (wal, staging, ckpt, storeDir) = freshDirs()
    Files.createDirectories(Paths.get(wal))
    val store = new LocalContentStore(storeDir)
    Files.writeString(Paths.get(wal, "tx1.json"),
      walTx(100, 200232 -> "100", 200242 -> "400"))
    Files.writeString(Paths.get(wal, "tx2.json"), walTx(200, 200233 -> "200"))
    // one run, no maxFilesPerTrigger cap → single batch takes both files
    val q = StreamPipeline.start(spark, "ns", Seq(schemaT), wal, staging,
      ckpt, store, availableNow = true)
    q.awaitTermination(120000)

    val files = storeFiles(storeDir)
    assert(files.size == 1, s"expected 1 upload, got $files")
    assert(readRows(files.head) ==
      Set(200232 -> "100", 200242 -> "400", 200233 -> "200"))
  }

  test("empty window skipped (P6) and restart resumes from checkpoint (P9)") {
    val (wal, staging, ckpt, storeDir) = freshDirs()
    Files.createDirectories(Paths.get(wal))
    val store = new LocalContentStore(storeDir)
    Files.writeString(Paths.get(wal, "tx1.json"), walTx(100, 1 -> "a"))
    runAvailable(wal, staging, ckpt, store)
    assert(storeFiles(storeDir).size == 1)
    // restart with NO new data: no new upload (empty-window skip + offsets)
    runAvailable(wal, staging, ckpt, store)
    assert(storeFiles(storeDir).size == 1)
    // restart with new data: exactly one more upload (no reprocessing of tx1)
    Files.writeString(Paths.get(wal, "tx2.json"), walTx(200, 2 -> "b"))
    runAvailable(wal, staging, ckpt, store)
    val files = storeFiles(storeDir)
    assert(files.size == 2)
    assert(files.map(readRows).reduce(_ ++ _) == Set(1 -> "a", 2 -> "b"))
  }

  test("scale mode (singleFile=false): whole multi-part window uploaded") {
    val (wal, staging, ckpt, storeDir) = freshDirs()
    Files.createDirectories(Paths.get(wal))
    val store = new LocalContentStore(storeDir)
    val rows = (1 to 50).map(i => i -> s"n$i")
    Files.writeString(Paths.get(wal, "tx1.json"), walTx(100, rows: _*))

    // drive the sink directly in directory mode
    val sink = new VaultSink("ns", Seq(schemaT), staging, store, singleFile = false)
    val lines = spark.createDataset(
      Seq(Files.readString(Paths.get(wal, "tx1.json"))))(
      org.apache.spark.sql.Encoders.STRING).toDF("value")
      .repartition(4) // force multiple output part files
    val uploaded = sink.processBatch(lines, windowId = 7L)
    assert(uploaded.map(_._1) == Seq("t"))

    val artifact = store.get(uploaded.head._2)
    assert(artifact.isDefined && Files.isDirectory(artifact.get))
    val back = spark.read.parquet(artifact.get.toString).collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("name"))).toSet
    assert(back == rows.toSet) // ALL parts present, not just the first
  }

  test("sink stamps events with upload wall-clock seconds, not the window id") {
    val (wal, staging, ckpt, storeDir) = freshDirs()
    Files.createDirectories(Paths.get(wal))
    val store = new LocalContentStore(storeDir)
    val catalog = graft.catalog.VaultCatalog(spark, s"$storeDir-catalog")
    val epoch = 1692715442L // fixed "now" — deterministic test clock
    val sink = new VaultSink("ns", Seq(schemaT), staging, store,
      catalog = Some(catalog), clock = () => epoch)
    val lines = spark.createDataset(Seq(walTx(100, 1 -> "a")))(
      org.apache.spark.sql.Encoders.STRING).toDF("value")
    sink.processBatch(lines, windowId = 0L) // windowId 0 must NOT become ts
    val evs = catalog.listEvents(VaultName("ns", "t")).collect()
    assert(evs.length == 1)
    assert(evs.head.getAs[Long]("timestamp") == epoch)
    // before/after filters operate on the real timestamp (Q2 semantics)
    assert(catalog.listEvents(VaultName("ns", "t"), after = Some(epoch - 1)).count() == 1)
    assert(catalog.listEvents(VaultName("ns", "t"), before = Some(epoch - 1)).count() == 0)
  }

  test("processing-time trigger rotates windows continuously (P5 wall-clock path)") {
    val (wal, staging, ckpt, storeDir) = freshDirs()
    Files.createDirectories(Paths.get(wal))
    val store = new LocalContentStore(storeDir)
    Files.writeString(Paths.get(wal, "tx1.json"), walTx(100, 1 -> "a"))
    // 1-second windows (reference default is 3600 s; same ticker path)
    val q = StreamPipeline.start(spark, "ns", Seq(schemaT), wal, staging,
      ckpt, store, windowSeconds = 1L, availableNow = false)
    try {
      def awaitArtifacts(n: Int): Unit = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (storeFiles(storeDir).size < n && System.nanoTime() < deadline)
          Thread.sleep(200)
        assert(storeFiles(storeDir).size >= n, s"expected $n artifacts")
      }
      awaitArtifacts(1)
      // a later transaction lands in a LATER window without restarting
      Files.writeString(Paths.get(wal, "tx2.json"), walTx(200, 2 -> "b"))
      awaitArtifacts(2)
      val all = storeFiles(storeDir).map(readRows).reduce(_ ++ _)
      assert(all == Set(1 -> "a", 2 -> "b"))
    } finally q.stop()
  }

  test("window artifacts are PK-sorted (row-group pruning layout)") {
    val (wal, staging, ckpt, storeDir) = freshDirs()
    Files.createDirectories(Paths.get(wal))
    val store = new LocalContentStore(storeDir)
    // rows arrive in DESCENDING id order; the artifact must be ascending
    Files.writeString(Paths.get(wal, "tx1.json"),
      walTx(100, (1 to 40).reverse.map(i => i -> s"n$i"): _*))
    runAvailable(wal, staging, ckpt, store)
    val f = storeFiles(storeDir).head
    val ids = spark.read.parquet(f.toString)
      .collect().map(_.getAs[Int]("id")).toSeq
    assert(ids == ids.sorted, s"artifact not PK-sorted: $ids")
  }

  test("event-time windows: late-within-lateness lands in its window; later-than-watermark drops") {
    // P5 semantic upgrade (SURVEY §7.4): windowMode = event. 60 s
    // tumbling windows, 30 s lateness. The scenario interleaves arrival
    // order against event order:
    //   run 1: ids 1,2 at 00:00:10/:20            -> window 0 pending
    //   run 2: id 4 at 00:02:15                   -> watermark 00:01:45,
    //          window 0 finalizes with {1,2}
    //   run 3: tx carrying id 3 at 00:01:30 (LATE but its window-1 end
    //          00:02:00 > watermark -> lands in window 1) and id 9 at
    //          00:00:50 (window 0 closed -> DROPPED); then id 5 at
    //          00:03:30 -> watermark 00:03:00, windows 1 and 2 finalize
    // Final artifacts == the BATCH grouping of all on-time records by
    // their event window: {1,2}, {3}, {4}; id 9 nowhere, id 5 pending.
    def walTxAt(lsn: Long, ts: String, rows: (Int, String)*): String = {
      val records = rows.map { case (id, name) =>
        s"""{"action": "I", "xid": 1058, "lsn": "0/$lsn", "nextlsn": "",
           |"timestamp": "$ts", "schema": "public",
           |"table": "t", "columns": [
           |  {"name": "id", "type": "integer", "value": $id},
           |  {"name": "name", "type": "text", "value": "$name"}],
           |"pk": [{"name": "id", "type": "integer"}]}""".stripMargin.replace("\n", " ")
      }.mkString(",")
      s"""{"commit_lsn": $lsn, "records": [$records]}"""
    }
    val (wal, staging, ckpt, storeDir) = freshDirs()
    Files.createDirectories(Paths.get(wal))
    val store = new LocalContentStore(storeDir)
    def run(): Unit = {
      val q = StreamPipeline.start(spark, "ns", Seq(schemaT), wal, staging,
        ckpt, store, availableNow = true, maxTxPerTrigger = Some(1),
        eventTime = Some(EventTimeWindows(60L, 30L)))
      q.awaitTermination(120000)
      ()
    }
    Files.writeString(Paths.get(wal, "tx1.json"),
      walTxAt(100, "2024-01-01 00:00:10.000000", 1 -> "a") + "\n" +
        walTxAt(101, "2024-01-01 00:00:20.000000", 2 -> "b"))
    run()
    assert(storeFiles(storeDir).isEmpty, "no window may close before the watermark passes it")

    Files.writeString(Paths.get(wal, "tx2.json"),
      walTxAt(200, "2024-01-01 00:02:15.000000", 4 -> "d"))
    run()
    val after2 = storeFiles(storeDir)
    assert(after2.size == 1, s"window 0 should have finalized, got $after2")
    assert(readRows(after2.head) == Set(1 -> "a", 2 -> "b"))

    Files.writeString(Paths.get(wal, "tx3.json"),
      walTxAt(300, "2024-01-01 00:01:30.000000", 3 -> "c") + "\n" +
        walTxAt(301, "2024-01-01 00:00:50.000000", 9 -> "late-dropped") + "\n" +
        walTxAt(302, "2024-01-01 00:03:30.000000", 5 -> "e"))
    run()
    val files = storeFiles(storeDir)
    assert(files.size == 3, s"windows 0,1,2 finalized, got $files")
    val contents = files.map(readRows)
    assert(contents.contains(Set(1 -> "a", 2 -> "b"))) // window 0
    assert(contents.contains(Set(3 -> "c")))           // window 1: late record landed
    assert(contents.contains(Set(4 -> "d")))           // window 2
    val all = contents.reduce(_ ++ _)
    assert(!all.exists(_._1 == 9), "past-watermark record must be dropped")
    assert(!all.exists(_._1 == 5), "id 5's window is still pending")
    // artifact names carry the window START, not a batch id
    assert(files.exists(_.getFileName.toString.contains("t-1704067200")),
      s"expected event-window naming, got $files")
  }

  test("event-time: batch replay is idempotent (crash between commit and checkpoint)") {
    // the crash window Structured Streaming replays: a batch ran, its
    // pending-window appends landed, but the checkpoint didn't commit —
    // the SAME batchId is re-delivered. The per-batch sub-dir overwrite
    // must make the replay invisible: no duplicated rows in any
    // finalized artifact.
    val (wal, staging, _, storeDir) = freshDirs()
    Files.createDirectories(Paths.get(wal))
    val store = new LocalContentStore(storeDir)
    val sink = new VaultSink("ns", Seq(schemaT), staging, store,
      eventTime = Some(EventTimeWindows(60L, 30L)))
    def batchOf(lines: String*) =
      spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING).toDF("value")
    def tx(lsn: Long, ts: String, id: Int, name: String): String =
      s"""{"commit_lsn": $lsn, "records": [{"action": "I", "xid": 1, "lsn": "0/$lsn",
         |"nextlsn": "", "timestamp": "$ts", "schema": "public", "table": "t",
         |"columns": [{"name": "id", "type": "integer", "value": $id},
         |{"name": "name", "type": "text", "value": "$name"}],
         |"pk": [{"name": "id", "type": "integer"}]}]}""".stripMargin.replace("\n", " ")

    val b0 = batchOf(tx(1, "2024-01-01 00:00:10.000000", 1, "a"),
                     tx(2, "2024-01-01 00:00:20.000000", 2, "b"))
    assert(sink.processBatch(b0, 0L).isEmpty) // window 0 still pending
    // REPLAY of batch 0 (same id, same lines) — overwrites its own sub-dir
    assert(sink.processBatch(b0, 0L).isEmpty)
    // batch 1 advances the watermark past window 0 and finalizes it
    val uploaded = sink.processBatch(
      batchOf(tx(3, "2024-01-01 00:02:15.000000", 3, "c")), 1L)
    assert(uploaded.map(_._1) == Seq("t"))
    val rows = spark.read.parquet(store.get(uploaded.head._2).get.toString)
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[String]("name"))).toSeq
    assert(rows.sorted == Seq(1 -> "a", 2 -> "b"),
      s"replayed batch must not duplicate rows: $rows")
  }

  test("event-time: a failure AFTER one window finalized never loses that window's rows on replay") {
    // The round-12 review scenario: window W spans two batches; the
    // batch that finalizes W fails LATER in the same batch (transient
    // store error on another table's put), so the watermark never
    // commits and Structured Streaming replays the batch. The replayed
    // finalize must see W's FULL slice set — slices may only be
    // reclaimed after the watermark commit point.
    val schemaU = TableSchema("u", Seq(
      TableColumn("id", "integer", nullable = false, isPrimary = true),
      TableColumn("name", "text", nullable = false, isPrimary = false)))
    val (_, staging, _, storeDir) = freshDirs()
    val inner = new LocalContentStore(storeDir)
    object flaky extends ContentStore {
      @volatile var failOn: String = null
      override def put(vault: graft.core.VaultName, file: java.nio.file.Path,
                       timestampSec: Long, sig: Array[Byte]): String = {
        if (vault.relation == failOn) sys.error("transient store outage")
        inner.put(vault, file, timestampSec, sig)
      }
      override def get(cid: String): Option[java.nio.file.Path] = inner.get(cid)
    }
    val sink = new VaultSink("ns", Seq(schemaT, schemaU), staging, flaky,
      eventTime = Some(EventTimeWindows(60L, 30L)))
    def batchOf(lines: String*) =
      spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING).toDF("value")
    def tx(lsn: Long, table: String, ts: String, id: Int, name: String): String =
      s"""{"commit_lsn": $lsn, "records": [{"action": "I", "xid": 1, "lsn": "0/$lsn",
         |"nextlsn": "", "timestamp": "$ts", "schema": "public", "table": "$table",
         |"columns": [{"name": "id", "type": "integer", "value": $id},
         |{"name": "name", "type": "text", "value": "$name"}],
         |"pk": [{"name": "id", "type": "integer"}]}]}""".stripMargin.replace("\n", " ")

    // batch 0: slice A of t's window 0
    sink.processBatch(batchOf(tx(1, "t", "2024-01-01 00:00:10.000000", 1, "a")), 0L)
    // batch 1: slice B of t's window 0, a u-row closing its own window,
    // and a watermark-advancing record. Table order is alphabetical, so
    // t publishes FIRST (succeeds), then u's put fails the batch.
    val b1 = batchOf(
      tx(2, "t", "2024-01-01 00:00:20.000000", 2, "b"),
      tx(3, "u", "2024-01-01 00:00:30.000000", 7, "x"),
      tx(4, "t", "2024-01-01 00:02:15.000000", 3, "c"))
    flaky.failOn = "u"
    intercept[Exception](sink.processBatch(b1, 1L))
    // REPLAY of batch 1 with the store healed
    flaky.failOn = null
    sink.processBatch(b1, 1L)
    // EVERY t-window-0 artifact in the store must carry BOTH slices —
    // a partial {2} artifact would be the silent-loss bug
    val w0Artifacts = storeFiles(storeDir)
      .filter(_.getFileName.toString.contains("t-1704067200"))
    assert(w0Artifacts.nonEmpty, "window 0 artifact missing entirely")
    w0Artifacts.foreach { f =>
      assert(readRows(f) == Set(1 -> "a", 2 -> "b"),
        s"window-0 artifact $f lost rows: ${readRows(f)}")
    }
  }

  test("event-time: a window closed under the committed watermark is NEVER republished from leftover slices") {
    // The round-12 crash window: watermark committed, then the process
    // dies BEFORE slice cleanup finishes. On replay the batch's own
    // overwrite may have erased one of the window's slices, so a
    // republish from what remains would upload a PARTIAL artifact under
    // a new cid. Contract: windows closed vs the DURABLE priorWm are
    // cleanup-only — reclaim their orphan slices, publish nothing.
    val schemaT2 = TableSchema("t", Seq(
      TableColumn("id", "integer", nullable = false, isPrimary = true),
      TableColumn("name", "text", nullable = false, isPrimary = false)))
    val (_, staging, _, storeDir) = freshDirs()
    val sink = new VaultSink("ns", Seq(schemaT2), staging, new LocalContentStore(storeDir),
      eventTime = Some(EventTimeWindows(60L, 30L)))
    def batchOf(lines: String*) =
      spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING).toDF("value")
    def tx(lsn: Long, ts: String, id: Int, name: String): String =
      s"""{"commit_lsn": $lsn, "records": [{"action": "I", "xid": 1, "lsn": "0/$lsn",
         |"nextlsn": "", "timestamp": "$ts", "schema": "public", "table": "t",
         |"columns": [{"name": "id", "type": "integer", "value": $id},
         |{"name": "name", "type": "text", "value": "$name"}],
         |"pk": [{"name": "id", "type": "integer"}]}]}""".stripMargin.replace("\n", " ")

    sink.processBatch(batchOf(tx(1, "2024-01-01 00:00:10.000000", 1, "a")), 0L)
    // closes window 0 (publishes {1,2}), commits wm, cleans slices
    sink.processBatch(batchOf(
      tx(2, "2024-01-01 00:00:20.000000", 2, "b"),
      tx(3, "2024-01-01 00:02:15.000000", 3, "c")), 1L)
    val after = storeFiles(storeDir).map(_.toString).toSet
    assert(after.exists(_.contains("t-1704067200")), "window 0 artifact missing")

    // simulate a cleanup that crashed after the commit: a PARTIAL
    // leftover slice for the closed window 0 reappears in pending
    import spark.implicits._
    val leftover = java.nio.file.Paths.get(staging,
      "pending", "t", f"batch-${1L}%012d", "__wstart=1704067200")
    Seq((2, "b")).toDF("id", "name")
      .coalesce(1).write.mode("overwrite").parquet(leftover.toString)

    // next batch (open-window row): the closed window must NOT be
    // republished from the partial leftover; the orphan is reclaimed
    sink.processBatch(batchOf(tx(4, "2024-01-01 00:03:00.000000", 4, "d")), 2L)
    assert(storeFiles(storeDir).map(_.toString).toSet.filter(_.contains("t-1704067200")) ==
      after.filter(_.contains("t-1704067200")),
      "closed window was republished from leftover slices")
    assert(!java.nio.file.Files.exists(leftover),
      "orphan slice of a closed window was not reclaimed")
  }

  test("mid-stream schema drift FAILS the streaming query loudly (v1 DDL contract)") {
    val (wal, staging, ckpt, storeDir) = freshDirs()
    Files.createDirectories(Paths.get(wal))
    val store = new LocalContentStore(storeDir)
    // window 1: conforming tx uploads normally
    Files.writeString(Paths.get(wal, "tx1.json"), walTx(100, 1 -> "a"))
    runAvailable(wal, staging, ckpt, store)
    assert(storeFiles(storeDir).size == 1)
    // window 2: a record with a column the stream-start schema lacks
    // (the shape a live ALTER TABLE ADD COLUMN produces) — the query
    // must FAIL with the documented drift error, not silently drop the
    // new column from the uploaded artifact
    val drifted =
      s"""{"commit_lsn": 200, "records": [{"action": "I", "xid": 1,
         |"lsn": "0/200", "nextlsn": "", "timestamp": "2023-08-22 14:44:02.043586-03",
         |"schema": "public", "table": "t", "columns": [
         |  {"name": "id", "type": "integer", "value": 2},
         |  {"name": "name", "type": "text", "value": "b"},
         |  {"name": "extra", "type": "double precision", "value": 2.5}],
         |"pk": [{"name": "id", "type": "integer"}]}]}""".stripMargin.replace("\n", " ")
    Files.writeString(Paths.get(wal, "tx2.json"), drifted)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = StreamPipeline.start(spark, "ns", Seq(schemaT), wal, staging,
        ckpt, store, availableNow = true)
      q.awaitTermination(120000)
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("schema drift detected on table 't'"), msgs)
    assert(msgs.contains("extra double precision"), msgs)
    // no second artifact was uploaded for the failed window
    assert(storeFiles(storeDir).size == 1)
    // opting OUT of the contract (strictSchema = false) resumes from the
    // same checkpoint and uploads the record under the stream-start
    // schema (the reference's capture-once projection semantics)
    val q2 = StreamPipeline.start(spark, "ns", Seq(schemaT), wal, staging,
      ckpt, store, availableNow = true, strictSchema = false)
    q2.awaitTermination(120000)
    val all = storeFiles(storeDir).map(readRows).reduce(_ ++ _)
    assert(all == Set(1 -> "a", 2 -> "b"))
  }

  test("content store put/get round trip (Q3 cache path)") {
    val (_, _, _, storeDir) = freshDirs()
    val store = new LocalContentStore(storeDir)
    val f = Files.createTempFile("blob", ".parquet")
    Files.write(f, Array[Byte](1, 2, 3))
    val cid = store.put(VaultName("ns", "t"), f, 0L, Array.emptyByteArray)
    val got = store.get(cid)
    assert(got.isDefined && Files.readAllBytes(got.get).toSeq == Seq[Byte](1, 2, 3))
    assert(store.get("missing-cid").isEmpty)
  }

  // ---- adversarial event-time arms (r14, verdict #5) -----------------
  // Shared direct-drive helpers: the VaultSink.processBatch pattern (no
  // full streaming query per batch) so hostile feeds stay deterministic
  // and cheap.

  private def etBatchOf(lines: String*) =
    spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING).toDF("value")

  private def etTx(lsn: Long, ts: String, id: Int, name: String,
                   table: String = "t"): String =
    s"""{"commit_lsn": $lsn, "records": [{"action": "I", "xid": 1, "lsn": "0/$lsn",
       |"nextlsn": "", "timestamp": "$ts", "schema": "public", "table": "$table",
       |"columns": [{"name": "id", "type": "integer", "value": $id},
       |{"name": "name", "type": "text", "value": "$name"}],
       |"pk": [{"name": "id", "type": "integer"}]}]}""".stripMargin.replace("\n", " ")

  /** All pending slice dirs (`__wstart=*`) under staging, per window. */
  private def pendingSliceWindows(staging: String): Seq[Long] = {
    val root = Paths.get(staging, "pending")
    if (!Files.exists(root)) Nil
    else graft.core.FsUtil.listDir(root).filter(Files.isDirectory(_))
      .flatMap(t => graft.core.FsUtil.listDir(t)).filter(Files.isDirectory(_))
      .flatMap(b => graft.core.FsUtil.listDir(b))
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("__wstart="))
      .map(_.getFileName.toString.stripPrefix("__wstart=").toLong)
  }

  private def pendingIds(staging: String): Set[Int] = {
    val root = Paths.get(staging, "pending")
    if (!Files.exists(root)) Set.empty
    else {
      val slices = graft.core.FsUtil.listDir(root).filter(Files.isDirectory(_))
        .flatMap(t => graft.core.FsUtil.listDir(t)).filter(Files.isDirectory(_))
        .flatMap(b => graft.core.FsUtil.listDir(b))
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("__wstart="))
      if (slices.isEmpty) Set.empty
      else spark.read.parquet(slices.map(_.toString): _*)
        .select("id").collect().map(_.getInt(0)).toSet
    }
  }

  test("event-time: a growing late-data flood drops without growing the pending store") {
    // Hostile arm: after the watermark passes window 0, feed floods of
    // records whose windows are long closed, with the late fraction
    // GROWING batch over batch. Contract (the append-mode watermark
    // drop, priced at the store level): dropped records must create NO
    // pending slices and NO artifacts — the pending store is bounded by
    // OPEN-window rows no matter how large the flood gets.
    val (_, staging, _, storeDir) = freshDirs()
    val sink = new VaultSink("ns", Seq(schemaT), staging,
      new LocalContentStore(storeDir),
      eventTime = Some(EventTimeWindows(60L, 30L)))
    // batch 0: window 0 fills; batch 1: watermark 00:01:45 closes it
    sink.processBatch(etBatchOf(
      etTx(1, "2024-01-01 00:00:10.000000", 1, "a"),
      etTx(2, "2024-01-01 00:00:20.000000", 2, "b")), 0L)
    sink.processBatch(etBatchOf(
      etTx(3, "2024-01-01 00:02:15.000000", 3, "c")), 1L)
    val afterClose = storeFiles(storeDir).map(_.toString).toSet
    assert(afterClose.exists(_.contains("t-1704067200")), "window 0 must have closed")

    // floods: 40 then 80 late records into the closed window 0, each
    // batch carrying ONE on-time record so the stream stays live
    val flood1 = (100 until 140).map(i =>
      etTx(1000 + i, "2024-01-01 00:00:05.000000", i, s"late-$i"))
    sink.processBatch(etBatchOf(
      (flood1 :+ etTx(2000, "2024-01-01 00:02:30.000000", 50, "ok-50")): _*), 2L)
    val flood2 = (200 until 280).map(i =>
      etTx(3000 + i, "2024-01-01 00:00:15.000000", i, s"late-$i"))
    sink.processBatch(etBatchOf(
      (flood2 :+ etTx(4000, "2024-01-01 00:02:40.000000", 51, "ok-51")): _*), 3L)

    // no re-publish of the closed window, no pending slice for it
    assert(storeFiles(storeDir).map(_.toString).toSet == afterClose,
      "flood must not publish anything (its windows are closed)")
    assert(!pendingSliceWindows(staging).contains(1704067200L),
      "dropped records created a pending slice for a closed window")
    // the pending store holds exactly the on-time open-window rows:
    // id 3 (window 2) + ids 50, 51 (window 2) — 120 flood rows nowhere
    assert(pendingIds(staging) == Set(3, 50, 51),
      s"pending must hold only open-window rows, got ${pendingIds(staging)}")

    // advance event time: open windows flush; flood ids still nowhere
    sink.processBatch(etBatchOf(
      etTx(5000, "2024-01-01 00:05:00.000000", 60, "adv")), 4L)
    val published = storeFiles(storeDir).flatMap(readRows).map(_._1).toSet
    assert(published == Set(1, 2, 3, 50, 51),
      s"published set wrong after flush: $published")
    assert(pendingIds(staging) == Set(60), "only the advancing record stays pending")
  }

  test("event-time: a stalled event-time feed bounds pending to the open window and flushes once on resume") {
    // Hostile arm: event time STOPS advancing — every batch lands in the
    // same open window, the watermark freezes, nothing can close.
    // Contract: pending grows only with in-window arrivals (that data is
    // genuinely unfinalizable), the OPEN WINDOW COUNT stays 1, no
    // artifact is published early — and when event time resumes, the
    // stalled window publishes ALL accumulated rows exactly once.
    val (_, staging, _, storeDir) = freshDirs()
    val sink = new VaultSink("ns", Seq(schemaT), staging,
      new LocalContentStore(storeDir),
      eventTime = Some(EventTimeWindows(60L, 0L)))
    var fed = Set.empty[Int]
    for (b <- 0 until 5) {
      val ids = (b * 20) until (b * 20 + 20)
      fed ++= ids
      // ts creeps within window 0 ([00:00:00, 00:01:00)) but never exits
      sink.processBatch(etBatchOf(ids.map(i =>
        etTx(10000 + i, f"2024-01-01 00:00:${5 + b * 2}%02d.000000", i, s"r$i")): _*), b.toLong)
      assert(storeFiles(storeDir).isEmpty,
        s"no window may close while event time is stalled (batch $b)")
      assert(pendingSliceWindows(staging).distinct == Seq(1704067200L),
        "stall must keep exactly ONE window open")
      assert(pendingIds(staging) == fed,
        "pending must hold exactly the fed rows under stall")
    }
    // resume: one record past the window end closes it
    sink.processBatch(etBatchOf(
      etTx(20000, "2024-01-01 00:01:30.000000", 999, "resume")), 5L)
    val files = storeFiles(storeDir)
    assert(files.size == 1, s"stalled window must flush exactly once, got $files")
    assert(readRows(files.head).map(_._1) == fed,
      "flush must carry ALL accumulated stall rows")
    assert(pendingIds(staging) == Set(999))
  }

  test("event-time: a far-future outlier poisons the watermark — subsequent in-band records documented-drop") {
    // Documented hazard, pinned: the watermark is max-event-time minus
    // lateness (Structured Streaming's own contract), so one corrupt /
    // far-future timestamp force-closes everything behind it and
    // subsequent in-band records become droppable-late. The sink
    // inherits this semantic deliberately (no clamp heuristic — a
    // silently clamped watermark would hide producer clock bugs);
    // upstream feeds are expected to sanitize timestamps.
    val (_, staging, _, storeDir) = freshDirs()
    val sink = new VaultSink("ns", Seq(schemaT), staging,
      new LocalContentStore(storeDir),
      eventTime = Some(EventTimeWindows(60L, 30L)))
    sink.processBatch(etBatchOf(
      etTx(1, "2024-01-01 00:00:10.000000", 1, "a")), 0L)
    // the poison pill: one record six months ahead
    sink.processBatch(etBatchOf(
      etTx(2, "2024-06-01 00:00:00.000000", 99, "poison")), 1L)
    // window 0 was force-closed and published with what it had
    val afterPoison = storeFiles(storeDir)
    assert(afterPoison.exists(_.toString.contains("t-1704067200")),
      "outlier must force-close the in-band window")
    // an in-band record that would have been on time is now dropped
    sink.processBatch(etBatchOf(
      etTx(3, "2024-01-01 00:00:40.000000", 2, "now-late")), 2L)
    assert(storeFiles(storeDir).flatMap(readRows).map(_._1).toSet == Set(1),
      "post-poison in-band record must be dropped, not published")
    assert(pendingIds(staging) == Set(99),
      "only the outlier's own window may stay pending")
  }

  // ---- replay through a sink with a catalog ---------------------------

  private val schemaU = schemaT.copy(table = "u")

  /** A catalog whose vaults ns.t and ns.u cache for 30 minutes. */
  private def catalogOf(storeDir: String): graft.catalog.VaultCatalog = {
    val catalog = graft.catalog.VaultCatalog(spark, s"$storeDir-catalog")
    val acct = graft.core.Account("0x396F15b0A2be942193BBBdC11BE3bF6F6EB1a08a")
    Seq("t", "u").foreach(t => catalog.createVault(VaultName("ns", t), acct, 30))
    catalog
  }

  /** Every artifact in the store has exactly one event per (vault, cid,
    * window), carrying the artifact's row digest and an expiry of
    * ts + 30 minutes; returns the events' (vault, window) pairs. */
  private def oneEventPerArtifact(catalog: graft.catalog.VaultCatalog,
                                  storeDir: String): Seq[(String, Long)] = {
    val evs = catalog.events
      .select("vault", "cid", "window", "timestamp", "cache_expiry", "digest").collect()
    val keys = evs.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(keys.distinct == keys, s"duplicate events: $keys")
    val stored = storeFiles(storeDir).map(_.getFileName.toString.takeWhile(_ != '-'))
    assert(stored.sorted == keys.map(_._2).sorted, s"store $stored vs events $keys")
    evs.foreach { r =>
      val artifact = spark.read.parquet(
        new LocalContentStore(storeDir).get(r.getString(1)).get.toString)
      assert(r.getString(5) == graft.crypto.EcmhAggregator.rowDigest(artifact, Seq("id", "name")))
      assert(r.getTimestamp(4).getTime == (r.getLong(3) + 30 * 60L) * 1000L)
    }
    keys.map(k => (k._1, k._3)).sorted
  }

  test("sink with a catalog: a replayed batch id adds no event") {
    val (_, staging, _, storeDir) = freshDirs()
    val catalog = catalogOf(storeDir)
    var now = 1692715442L
    val sink = new VaultSink("ns", Seq(schemaT, schemaU), staging,
      new LocalContentStore(storeDir), catalog = Some(catalog),
      clock = () => { now += 60; now })
    val batch = etBatchOf(etTx(1, "2024-01-01 00:00:10.000000", 1, "a", "t"),
      etTx(2, "2024-01-01 00:00:20.000000", 2, "b", "u"))
    val first = sink.processBatch(batch, 3L)
    // foreachBatch redelivers a batch whose checkpoint did not commit,
    // later: same content, same cids, same window token
    assert(sink.processBatch(batch, 3L) == first && first.map(_._1) == Seq("t", "u"))
    assert(oneEventPerArtifact(catalog, storeDir) == Seq("ns.t" -> 3L, "ns.u" -> 3L))
  }

  test("sink with a catalog: a failure after finalize leaves one event per window") {
    // the flaky-put case above, with a catalog: t's window 0 is put,
    // then u's put fails the batch before the watermark commit
    val (_, staging, _, storeDir) = freshDirs()
    val catalog = catalogOf(storeDir)
    val store = new LocalContentStore(storeDir)
    var failOn: String = null
    val flaky = new ContentStore {
      override def put(vault: VaultName, file: java.nio.file.Path,
                       timestampSec: Long, sig: Array[Byte]): String = {
        if (vault.relation == failOn) sys.error("transient store outage")
        store.put(vault, file, timestampSec, sig)
      }
      override def get(cid: String): Option[java.nio.file.Path] = store.get(cid)
    }
    val sink = new VaultSink("ns", Seq(schemaT, schemaU), staging, flaky,
      catalog = Some(catalog), eventTime = Some(EventTimeWindows(60L, 30L)))
    sink.processBatch(etBatchOf(etTx(1, "2024-01-01 00:00:10.000000", 1, "a", "t")), 0L)
    val b1 = etBatchOf(
      etTx(2, "2024-01-01 00:00:20.000000", 2, "b", "t"),
      etTx(3, "2024-01-01 00:00:30.000000", 7, "x", "u"),
      etTx(4, "2024-01-01 00:02:15.000000", 3, "c", "t"))
    failOn = "u"
    intercept[Exception](sink.processBatch(b1, 1L))
    assert(catalog.events.count() == 0, "a failed batch appends none of its events")
    failOn = null
    sink.processBatch(b1, 1L)
    assert(oneEventPerArtifact(catalog, storeDir) ==
      Seq("ns.t" -> 1704067200L, "ns.u" -> 1704067200L))
  }
}
