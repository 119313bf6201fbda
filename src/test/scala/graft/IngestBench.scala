package graft

import graft.cdc.{TableColumn, TableSchema}
import graft.cdc.pgwire.{FakeWalsender, PgWire}
import graft.engine.{LocalContentStore, StreamPipeline}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * Flagship-path ingest benchmark: the full CDC pipeline — `WalSource` →
 * wal2json decode → typed pivot → `VaultSink` (parquet + sign + content
 * store + event log) — measured end-to-end through BOTH transports:
 *
 *  - **file feed**: pre-spooled JSON-lines WAL consumed with
 *    `Trigger.AvailableNow` (deterministic drain, multiple micro-batches
 *    via `maxTxPerTrigger`), at 1× and at 10× for a scaling row;
 *  - **pg feed**: a live (fake) walsender streaming wal2json frames over
 *    a real localhost socket into the pg-wire client, assembled and
 *    spooled to rolling segments (small `segmentBytes` so segment GC
 *    runs under load), consumed concurrently by the same pipeline.
 *
 * This is the measured analog of the reference's entire purpose
 * (`internal/app/streamer.go:39-64`) — the one surface the 138-query
 * batch bench never times. Lives in test sources because the pg side
 * drives the [[FakeWalsender]] test double (zero-egress build: no real
 * Postgres); run with `sbt "Test/runMain graft.IngestBench"`. Writes
 * `INGEST_BENCH.json` (env `SPARK_GRAFT_INGEST_OUT` overrides), gated by
 * `IngestBenchSpec`'s parse check.
 *
 * Workload: `SPARK_GRAFT_INGEST_TX` transactions (default 100k), 10
 * records each across 3 tables = 1M+ row changes at the default, every
 * batch's rows verified against the store artifacts.
 */
object IngestBench {

  private[graft] val RecordsPerTx = 10
  private val TableNames = Seq("t0", "t1", "t2")

  private[graft] val schemas: Seq[TableSchema] = TableNames.map(tn =>
    TableSchema(tn, Seq(
      TableColumn("id", "integer", nullable = false, isPrimary = true),
      TableColumn("name", "text", nullable = false, isPrimary = false),
      TableColumn("v", "double precision", nullable = false, isPrimary = false))))

  /** wal2json v2 record for one insert (deterministic content). */
  private def record(tx: Long, i: Int,
                     ts: String = "2024-01-01 00:00:00.000000+00"): String = {
    val table = TableNames((tx % TableNames.length).toInt) // one table per tx
    val id = tx * RecordsPerTx + i
    s"""{"action":"I","xid":$tx,"lsn":"0/${(tx * 16 + i).toHexString}","nextlsn":"","timestamp":"$ts","schema":"public","table":"$table","columns":[{"name":"id","type":"integer","value":$id},{"name":"name","type":"text","value":"row-$tx-$i-payload-abcdefghijklmnop"},{"name":"v","type":"double precision","value":${(id % 1000)}.25}],"pk":[{"name":"id","type":"integer"}]}"""
  }

  /** Event-time arm: the commit timestamp advances one second per tx
    * (monotonic — no late records, lateness bound 0 suffices), so with
    * `maxTxPerTrigger = nTx/nBatches` and `windowSeconds = nTx/nBatches`
    * each micro-batch carries ~one event-time window: the publish count
    * matches the processing-time arm and the delta measures only the
    * event-time machinery (narrow watermark pass + pending-slice
    * write + finalize re-read). */
  private val EtBaseSec = 1704067200L // 2024-01-01 00:00:00 UTC
  private def etTs(tx: Long): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(EtBaseSec + tx, 0,
      java.time.ZoneOffset.UTC)
    f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d.000000+00"
  }

  private def commitLsn(tx: Long): Long = 0x1000L * (tx + 1)

  /** Hostile-late predicate (r14 adversarial arm): from the second
    * micro-batch on, a GROWING fraction of transactions carries an
    * event timestamp pinned at the stream's start — a window long
    * closed by then. Fraction ramps ~10% → ~90% across the stream.
    * Deterministic pure function of (tx, nTx) so the drop count is
    * computable exactly by generator and gate alike. */
  private[graft] def hostileLateTx(tx: Long, nTx: Long): Boolean =
    tx >= nTx / 10 && (tx % 10) < (1 + tx * 8 / nTx)

  private def hostileLateCount(nTx: Long): Long =
    (0L until nTx).count(hostileLateTx(_, nTx)).toLong

  /** One spool envelope line (the FileWalFeed wire format). */
  private def txLine(tx: Long, eventTimed: Boolean = false,
                     hostileLate: Boolean = false): String = {
    val ts =
      if (hostileLate) etTs(1) // the stream's opening second: window 0
      else if (eventTimed) etTs(tx)
      else "2024-01-01 00:00:00.000000+00"
    s"""{"commit_lsn":${commitLsn(tx)},"records":[${(0 until RecordsPerTx).map(record(tx, _, ts)).mkString(",")}]}"""
  }

  /** Write `nTx` envelope lines into `files` spool files, LSN-ordered
    * within each file (the feed's index merges across files). */
  private[graft] def genSpool(dir: String, nTx: Long, files: Int,
                       eventTimed: Boolean = false,
                       hostile: Boolean = false): Unit = {
    Files.createDirectories(Paths.get(dir))
    val perFile = (nTx + files - 1) / files
    for (f <- 0 until files) {
      val p = Paths.get(dir, f"wal-$f%04d.jsonl")
      val out = Files.newBufferedWriter(p, StandardCharsets.UTF_8,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      try {
        var tx = f * perFile
        while (tx < math.min((f + 1) * perFile, nTx)) {
          out.write(txLine(tx, eventTimed,
            hostileLate = hostile && hostileLateTx(tx, nTx)))
          out.write("\n")
          tx += 1
        }
      } finally out.close()
    }
  }

  /** wal2json frame stream for the fake walsender, generated lazily so a
    * million-record script never materializes in memory: element i is
    * computed on access (B, R×10, C per tx). */
  private def frameStream(nTx: Long,
                          eventTimed: Boolean = false): IndexedSeq[(Long, String)] =
    new scala.collection.immutable.IndexedSeq[(Long, String)] {
      private val perTx = RecordsPerTx + 2
      override def length: Int = (nTx * perTx).toInt
      override def apply(i: Int): (Long, String) = {
        val tx = i / perTx
        val j = i % perTx
        val ct = PgWire.Lsn.format(commitLsn(tx))
        val payload =
          if (j == 0) s"""{"action":"B","xid":$tx,"lsn":"0/F00","nextlsn":"$ct","timestamp":"ts"}"""
          else if (j == perTx - 1) s"""{"action":"C","xid":$tx,"lsn":"0/F09","nextlsn":"$ct","timestamp":"ts"}"""
          else record(tx, j - 1, if (eventTimed) etTs(tx) else "2024-01-01 00:00:00.000000+00")
        (0xF000L + i.toLong * 8, payload)
      }
    }

  /** Collects per-batch progress keyed by query runId — the listener bus
    * is ASYNC and global, so a previous query's late events can arrive
    * after this collector registers; counting them would fake an early
    * drain. Callers read only their own run's rows. */
  private final class ProgressCollector extends StreamingQueryListener {
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(java.util.UUID, Long, Long, Long)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        batches.add((p.runId, p.batchId, p.numInputRows, dur))
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def rowsOf(runId: java.util.UUID): Long = {
      import scala.jdk.CollectionConverters._
      batches.asScala.filter(_._1 == runId).map(_._3).sum
    }
    def dursOf(runId: java.util.UUID): Seq[Long] = {
      import scala.jdk.CollectionConverters._
      batches.asScala.filter(_._1 == runId).map(_._4).toSeq
    }
  }

  private def latencyStats(durs: Seq[Long]): (Long, Long, Long) = {
    val s = durs.sorted
    (s.head, s(s.length / 2), s.last)
  }

  /** Row-count gate: every artifact in the store read back, total rows
    * must equal nTx * RecordsPerTx. */
  private def storedRows(spark: SparkSession, storeDir: String): Long =
    graft.core.FsUtil.listDir(Paths.get(storeDir))
      .map(p => spark.read.parquet(p.toString).count()).sum

  /** Rows still in open event-time windows (pending slices under
    * staging/pending/&lt;table&gt;/batch-NNN/__wstart=WS) — the
    * event-time arm's conservation gate is stored + pending == fed. */
  private def pendingRows(spark: SparkSession, staging: String): Long = {
    val root = Paths.get(staging, "pending")
    if (!Files.exists(root)) 0L
    else graft.core.FsUtil.listDir(root).filter(Files.isDirectory(_))
      .flatMap(t => graft.core.FsUtil.listDir(t)).filter(Files.isDirectory(_))
      .flatMap(b => graft.core.FsUtil.listDir(b))
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("__wstart="))
      .map(ws => spark.read.parquet(ws.toString).count()).sum
  }

  /** Max open (pending) event-time windows across tables — the
    * pending-dir GROWTH gate: published windows' slices are GC'd at
    * finalization, so with monotonic timestamps only the trailing
    * window (plus at most one mid-finalize straggler) may remain open
    * no matter how long the stream ran. */
  private def pendingWindowsMax(staging: String): Int = {
    val root = Paths.get(staging, "pending")
    if (!Files.exists(root)) 0
    else graft.core.FsUtil.listDir(root).filter(Files.isDirectory(_))
      .map { t =>
        graft.core.FsUtil.listDir(t).filter(Files.isDirectory(_))
          .flatMap(b => graft.core.FsUtil.listDir(b))
          .filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("__wstart="))
          .map(_.getFileName.toString).distinct.size
      }.maxOption.getOrElse(0)
  }

  private def runFileFeed(spark: SparkSession, base: String, nTx: Long,
                          nBatches: Int,
                          eventTime: Option[graft.engine.EventTimeWindows] = None,
                          hostile: Boolean = false,
                          singleFile: Boolean = false,
                          withCatalog: Boolean = false)
      : Map[String, Any] = {
    val wal = s"$base/wal"; val store = s"$base/store"
    genSpool(wal, nTx, files = 8, eventTimed = eventTime.isDefined,
      hostile = hostile)
    val collector = new ProgressCollector
    spark.streams.addListener(collector)
    val t0 = System.nanoTime()
    val q = StreamPipeline.start(spark, "bench", schemas, wal, s"$base/staging",
      s"$base/ckpt", new LocalContentStore(store),
      availableNow = true, maxTxPerTrigger = Some((nTx / nBatches).toInt max 1),
      singleFile = singleFile, eventTime = eventTime,
      catalog = Option.when(withCatalog)(graft.catalog.VaultCatalog(spark, s"$base/catalog")))
    q.awaitTermination(math.max(600000L, nTx * 3)) // scale the cap with the feed
    val wallSec = (System.nanoTime() - t0) / 1e9
    spark.streams.removeListener(collector)
    val expected = nTx * RecordsPerTx
    // hostile arm (r14): a growing fraction of txs is later than the
    // watermark — those records DROP by the append-mode contract, and
    // the drop count is a pure function of the generator
    val droppedExpected =
      if (hostile) hostileLateCount(nTx) * RecordsPerTx else 0L
    val stored = storedRows(spark, store)
    val pending = if (eventTime.isDefined) pendingRows(spark, s"$base/staging") else 0L
    if (eventTime.isDefined) {
      // conservation: every fed record is in exactly one of (published
      // artifact, pending open window, documented late drop); with the
      // benign monotonic feed droppedExpected = 0 and the trailing
      // window can never have closed
      require(stored + pending == expected - droppedExpected &&
          stored > 0 && pending > 0,
        s"event-time row gate: stored $stored + pending $pending != " +
          s"$expected - $droppedExpected dropped-late")
      // pending-dir growth gate: slices of published windows are GC'd
      // and DROPPED records never create slices, so open windows stay
      // O(1) regardless of stream length OR flood size
      val openW = pendingWindowsMax(s"$base/staging")
      require(openW <= 2,
        s"pending-slice GC left $openW open windows (bound 2)")
    } else require(stored == expected, s"row gate: stored $stored != $expected")
    val durs = collector.dursOf(q.runId)
    val (mn, md, mx) = latencyStats(durs)
    Map("n_tx" -> nTx, "n_records" -> expected,
      "wall_sec" -> wallSec, "records_per_sec" -> (expected / wallSec),
      "tx_per_sec" -> (nTx / wallSec), "n_batches" -> durs.length,
      "batch_ms_min" -> mn, "batch_ms_median" -> md, "batch_ms_max" -> mx,
      "rows_verified" -> (stored + pending)) ++
      (if (eventTime.isDefined)
        Map("rows_stored" -> stored, "rows_pending" -> pending) ++
          (if (hostile) Map("rows_dropped_late" -> droppedExpected)
          else Map.empty[String, Any])
      else Map.empty[String, Any])
  }

  private def runPgFeed(spark: SparkSession, base: String, nTx: Long,
                        eventTime: Option[graft.engine.EventTimeWindows] = None)
      : Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val spool = s"$base/spool"; val store = s"$base/store"
    val server = new FakeWalsender(
      publications = Map("pub" -> TableNames.map("public" -> _)),
      stream = frameStream(nTx, eventTimed = eventTime.isDefined))
    val collector = new ProgressCollector
    spark.streams.addListener(collector)
    val t0 = System.nanoTime()
    // small segments force many rolls → the ack-time GC runs under load
    val q = StreamPipeline.start(spark, "bench", schemas, spool, s"$base/staging",
      s"$base/ckpt", new LocalContentStore(store),
      availableNow = false, windowSeconds = 1L,
      maxTxPerTrigger = Some((nTx / 10).toInt max 1), singleFile = false,
      sourceOptions = Map(
        "pghost" -> "127.0.0.1", "pgport" -> server.port.toString,
        "pguser" -> "bench", "pgdatabase" -> "db", "publication" -> "pub",
        "segmentbytes" -> (8L * 1024 * 1024).toString),
      eventTime = eventTime)
    try {
      // End-of-stream signal: an IDLE progress report whose end offset is
      // already the final commit LSN — an idle trigger constructs only
      // after the previous (= last data) batch fully committed, so every
      // record is durably in the store by then. Listener row counts are
      // NOT a drain signal (async events; a batch can be mid-foreachBatch
      // with its rows visible), and the final ACK never comes while the
      // sender is idle (source.commit fires on the next DATA batch).
      val finalLsn = commitLsn(nTx - 1)
      val OffsetLsn = """"lsn"\s*:\s*(\d+)""".r
      def drained: Boolean = Option(q.lastProgress).exists { p =>
        p.numInputRows == 0 && p.sources.nonEmpty &&
          OffsetLsn.findFirstMatchIn(Option(p.sources(0).endOffset).getOrElse(""))
            .exists(_.group(1).toLong >= finalLsn)
      }
      val deadline = System.nanoTime() +
        math.max(600L, nTx / 500) * 1000 * 1000 * 1000 // scale with the feed
      while (!drained && System.nanoTime() < deadline) {
        Thread.sleep(200)
        if (q.exception.isDefined) throw q.exception.get
      }
      val wallSec = (System.nanoTime() - t0) / 1e9
      require(drained, s"pg feed not drained to $finalLsn before deadline")
      q.stop(); q.awaitTermination(60000)
      spark.streams.removeListener(collector)
      val stored = storedRows(spark, store)
      val pending =
        if (eventTime.isDefined) pendingRows(spark, s"$base/staging") else 0L
      val rows = stored + pending
      if (eventTime.isDefined) {
        // live-feed event-time gates (r13): conservation across store +
        // open windows, and the pending-dir growth bound — published
        // windows' slices must be GC'd even while segment GC churns the
        // spool underneath
        require(stored + pending == nTx * RecordsPerTx && stored > 0 && pending > 0,
          s"event-time row gate: stored $stored + pending $pending != ${nTx * RecordsPerTx}")
        val openW = pendingWindowsMax(s"$base/staging")
        require(openW <= 2,
          s"pending-slice GC left $openW open windows (bound 2)")
      } else
        require(rows == nTx * RecordsPerTx, s"row gate: stored $rows != ${nTx * RecordsPerTx}")
      // segment GC gate: the spool must not retain the whole stream.
      // What legitimately remains is the UNACKED TAIL: the source acks
      // (and GC's) offsets when the engine commits them at the NEXT data
      // batch, so after the final batch the spool retains at most one
      // trigger's worth of transactions — exactly the segments a restart
      // would replay (ack-after-replay at-least-once, by design). Bound:
      // one trigger of ~4 KB txs (generous over the ~3.3 KB actual; the
      // 1x run's bound degenerates to the old active+raced-seal pair).
      val segs = graft.core.FsUtil.listDir(Paths.get(spool))
        .filter(_.getFileName.toString.startsWith("spool-"))
      val spoolBytes = segs.map(Files.size).sum
      val segmentBytes = 8L * 1024 * 1024
      val triggerTx = (nTx / 10) max 1
      val segBound = triggerTx * 4096L / segmentBytes + 2
      require(segs.length <= segBound,
        s"segment GC left ${segs.length} spool segments (bound $segBound): $segs")
      val durs = collector.dursOf(q.runId)
      val (mn, md, mx) = latencyStats(durs)
      Map("n_tx" -> nTx, "n_records" -> nTx * RecordsPerTx,
        "wall_sec" -> wallSec, "records_per_sec" -> (nTx * RecordsPerTx / wallSec),
        "tx_per_sec" -> (nTx / wallSec), "n_batches" -> durs.length,
        "batch_ms_min" -> mn, "batch_ms_median" -> md, "batch_ms_max" -> mx,
        "rows_verified" -> rows,
        "spool_segments_left" -> segs.length, "spool_bytes_left" -> spoolBytes,
        "spool_segments_bound" -> segBound) ++
        (if (eventTime.isDefined)
          Map("rows_stored" -> stored, "rows_pending" -> pending)
        else Map.empty[String, Any])
    } finally server.close()
  }

  /** REAL-Postgres ingest (when server binaries exist): a throwaway
    * logical-replication cluster, DML via generate_series (one statement
    * = one 10-record tx), streamed through the built-in pgoutput plugin
    * into the same pipeline. This measures the full production path —
    * actual WAL → walsender → pg-wire client → binary pgoutput decode →
    * spool → Spark → store — where pg_feed measures it against the
    * in-process fake. */
  private def runPgLive(spark: SparkSession, base: String, nTx: Long): Map[String, Any] = {
    import graft.cdc.pgwire.{PgLocalCluster, PgWalFeed}
    val spool = s"$base/spool"; val store = s"$base/store"
    val cluster = new PgLocalCluster(Files.createDirectories(Paths.get(s"$base/pg")))
    cluster.start()
    try {
      val su = cluster.sqlClient()
      try su.simpleQuery("CREATE DATABASE ingest") finally su.close()
      val db = cluster.sqlClient(db = "ingest")
      try {
        TableNames.foreach(t => db.simpleQuery(
          s"CREATE TABLE $t(id int PRIMARY KEY, name text NOT NULL, v double precision NOT NULL)"))
        db.simpleQuery(s"CREATE PUBLICATION pub FOR TABLE ${TableNames.mkString(", ")}")

        val collector = new ProgressCollector
        spark.streams.addListener(collector)
        val t0 = System.nanoTime()
        val q = StreamPipeline.start(spark, "bench", schemas, spool, s"$base/staging",
          s"$base/ckpt", new LocalContentStore(store),
          availableNow = false, windowSeconds = 1L,
          maxTxPerTrigger = Some((nTx / 10).toInt max 1), singleFile = false,
          sourceOptions = Map(
            "pghost" -> cluster.host, "pgport" -> cluster.port.toString,
            "pguser" -> "graft", "pgdatabase" -> "ingest", "publication" -> "pub",
            "plugin" -> "pgoutput",
            "segmentbytes" -> (4L * 1024 * 1024).toString))
        try {
          // the slot is created inside the source at stream start; DML
          // issued before it exists would never replicate
          val slotDeadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
          def slotExists: Boolean = db.simpleQuery(
            "SELECT 1 AS ok FROM pg_replication_slots WHERE slot_name = 'graft_pub'").nonEmpty
          while (!slotExists && System.nanoTime() < slotDeadline) {
            Thread.sleep(100)
            if (q.exception.isDefined) throw q.exception.get
          }
          require(slotExists, "replication slot was not created by the source")

          // one INSERT..generate_series statement per tx = one commit
          // with RecordsPerTx row changes, round-robin over the tables
          var tx = 0L
          while (tx < nTx) {
            val table = TableNames((tx % TableNames.length).toInt)
            val a = tx * RecordsPerTx
            db.simpleQuery(
              s"INSERT INTO $table SELECT g, 'row-' || g || '-payload-abcdefghijklmnop', " +
                s"(g % 1000) + 0.25 FROM generate_series($a, ${a + RecordsPerTx - 1}) g")
            tx += 1
          }

          // drain: an idle trigger (constructs only after the previous —
          // i.e. last data — batch fully committed) AND the store holds
          // every record. Listener row counts are NOT usable as a target
          // here: the sink re-scans each batch once per table, so
          // numInputRows over-reports by the table fan-out.
          val expected = nTx * RecordsPerTx
          def drained: Boolean =
            Option(q.lastProgress).exists(_.numInputRows == 0) &&
              storedRows(spark, store) == expected
          val deadline = System.nanoTime() + 600L * 1000 * 1000 * 1000
          while (!drained && System.nanoTime() < deadline) {
            Thread.sleep(500)
            if (q.exception.isDefined) throw q.exception.get
          }
          val wallSec = (System.nanoTime() - t0) / 1e9
          require(drained, s"pg live feed not drained (${storedRows(spark, store)}/$expected stored)")
          q.stop(); q.awaitTermination(60000)
          spark.streams.removeListener(collector)
          val rows = storedRows(spark, store)
          require(rows == expected, s"row gate: stored $rows != $expected")
          val segs = graft.core.FsUtil.listDir(Paths.get(spool))
            .filter(_.getFileName.toString.startsWith("spool-"))
          val durs = collector.dursOf(q.runId)
          val (mn, md, mx) = latencyStats(durs)
          Map("n_tx" -> nTx, "n_records" -> expected,
            "wall_sec" -> wallSec, "records_per_sec" -> (expected / wallSec),
            "tx_per_sec" -> (nTx / wallSec), "n_batches" -> durs.length,
            "batch_ms_min" -> mn, "batch_ms_median" -> md, "batch_ms_max" -> mx,
            "rows_verified" -> rows,
            "spool_segments_left" -> segs.length,
            "spool_bytes_left" -> segs.map(Files.size).sum)
        } catch { case t: Throwable => try q.stop() catch { case _: Throwable => () }; throw t }
      } finally db.close()
    } finally cluster.close()
  }

  /** A pre-serialized JSON fragment carried verbatim through [[js]]. */
  private final case class RawJson(raw: String)

  private def js(v: Any): String = v match {
    case RawJson(raw) => raw
    case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1)
        .map { case (k, x) => s""""$k":${js(x)}""" }.mkString("{", ",", "}")
    case d: Double => "%.2f".formatLocal(java.util.Locale.ROOT, d) // JSON: locale-proof decimal point
    case other => other.toString
  }

  def main(args: Array[String]): Unit = {
    val nTx = sys.env.getOrElse("SPARK_GRAFT_INGEST_TX", "100000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_INGEST_OUT", "INGEST_BENCH.json")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = Files.createTempDirectory("ingest-bench").toString
    // warmup: a small AvailableNow drain JITs the decode/pivot/sink path
    // so the 1x point isn't charged the one-time compile cost
    runFileFeed(spark, s"$base/warm", nTx / 100 max 10, nBatches = 2)

    val file1x = runFileFeed(spark, s"$base/file1x", nTx / 10, nBatches = 10)
    val file10x = runFileFeed(spark, s"$base/file10x", nTx, nBatches = 10)
    // the default shape (`vaults stream`): one `coalesce(1)` file per
    // table and window, the batch's tables written side by side, and
    // each batch's events appended to a vault catalog
    val single1x = runFileFeed(spark, s"$base/single1x", nTx / 10, nBatches = 10,
      singleFile = true, withCatalog = true)
    val single10x = runFileFeed(spark, s"$base/single10x", nTx, nBatches = 10,
      singleFile = true, withCatalog = true)
    // 100× row (round 12): 10M records through the flagship path, and —
    // the live-feed half — the same scale through the walsender socket,
    // spool-segment writes and ack-time GC under ~400 segment rolls
    val file100x = runFileFeed(spark, s"$base/file100x", nTx * 10, nBatches = 10)
    // event-time arm at the 10x scale: same feed volume and batch count,
    // windowSeconds = one batch's timestamp span (ts advances 1 s/tx) so
    // the publish count matches the processing-time 10x row — the wall
    // delta is the event-time machinery itself
    val fileEt = runFileFeed(spark, s"$base/fileEt", nTx, nBatches = 10,
      eventTime = Some(graft.engine.EventTimeWindows(
        windowSeconds = (nTx / 10) max 1, latenessSeconds = 0L)))
    // …and the second decade (10M records), so the event-time overhead
    // claim carries a scaling exponent, not one point
    val fileEt100 = runFileFeed(spark, s"$base/fileEt100", nTx * 10, nBatches = 10,
      eventTime = Some(graft.engine.EventTimeWindows(
        windowSeconds = nTx max 1, latenessSeconds = 0L)))
    // r14 ADVERSARIAL arm: a late-data flood whose late fraction GROWS
    // ~10% → ~90% through the stream, every late record aimed at the
    // long-closed opening window. Gates inside runFileFeed: conservation
    // becomes stored + pending == fed - dropped (drop count is a pure
    // function of the generator) and the open-window bound must hold —
    // dropped records may never create pending slices, so the pending
    // store stays bounded no matter how large the flood. windowSeconds
    // = half a batch's timestamp span so the opening window is closed
    // before the first late record ever arrives.
    val fileEtHostile = runFileFeed(spark, s"$base/fileEtHostile", nTx,
      nBatches = 10,
      eventTime = Some(graft.engine.EventTimeWindows(
        windowSeconds = (nTx / 20) max 1, latenessSeconds = 0L)),
      hostile = true)
    val pg = runPgFeed(spark, s"$base/pg", nTx / 10)
    val pg100x = runPgFeed(spark, s"$base/pg100x", nTx * 10)
    // r13: event-time windows on the LIVE-FEED side — spool segment GC
    // and pending-slice GC under the same socket feed (the r12 rows
    // covered event-time for the file feed only). windowSeconds = one
    // trigger's timestamp span, like the file-feed event-time arms.
    val pgEt = runPgFeed(spark, s"$base/pgEt", nTx / 10,
      eventTime = Some(graft.engine.EventTimeWindows(
        windowSeconds = (nTx / 100) max 1, latenessSeconds = 0L)))
    // r13: the THIRD decade (100M records) for both arms, env-gated —
    // ~40 GB of spool text and tens of minutes; run with
    // SPARK_GRAFT_INGEST_DECADE3=1 SPARK_DRIVER_MEM=64g. Dirs are
    // deleted right after their gates so the two arms don't stack up.
    val decade3 = sys.env.get("SPARK_GRAFT_INGEST_DECADE3").contains("1")
    // optional comma-list filter: run only the named decade-3 rows this
    // pass (each is tens of minutes + ~40 GB spool); the carry-forward
    // below preserves the others from the prior artifact
    val decade3Only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_INGEST_DECADE3_ONLY").map(_.split(",").toSet)
    def bigRow(name: String, et: Option[graft.engine.EventTimeWindows],
               hostile: Boolean = false): Option[(String, Map[String, Any])] =
      if (!decade3 || decade3Only.exists(f => !f.exists(name.contains))) None
      else {
        val d = s"$base/$name"
        val r = runFileFeed(spark, d, nTx * 100, nBatches = 10, eventTime = et,
          hostile = hostile)
        graft.core.FsUtil.deleteRecursive(Paths.get(d))
        Some(name -> r)
      }
    val file1000x = bigRow("file_feed_1000x", None)
    val fileEt1000 = bigRow("file_feed_eventtime_1000x",
      Some(graft.engine.EventTimeWindows(
        windowSeconds = (nTx * 10) max 1, latenessSeconds = 0L)))
    // r15 (verdict task 7): the HOSTILE late flood at the third decade —
    // 100M records, ~44% aimed late at the long-closed opening window,
    // same exact-conservation gate as the 1M-record arm (stored +
    // pending == fed − dropped, pending bounded). windowSeconds = half a
    // batch's span, the same construction as the small arm.
    val fileEtHostile1000 = bigRow("file_feed_eventtime_hostile_late_1000x",
      Some(graft.engine.EventTimeWindows(
        windowSeconds = (nTx * 5) max 1, latenessSeconds = 0L)),
      hostile = true)
    // real-Postgres run only where server binaries exist (the artifact
    // field is optional; the spec checks it when present)
    val pgLive =
      if (graft.cdc.pgwire.PgLocalCluster.available)
        Some(runPgLive(spark, s"$base/pglive", nTx / 10))
      else None

    val exp = math.log10((file10x("wall_sec").asInstanceOf[Double]) /
      (file1x("wall_sec").asInstanceOf[Double]))
    val exp2 = math.log10((file100x("wall_sec").asInstanceOf[Double]) /
      (file10x("wall_sec").asInstanceOf[Double]))
    val result = Map(
      "recordsPerTx" -> RecordsPerTx, "tables" -> TableNames.length,
      "cpus" -> cpus.toInt,
      "file_feed_1x" -> file1x, "file_feed_10x" -> file10x,
      // each with the core count it ran at, as these rows are refreshed
      // on their own when the sink's write path changes
      "file_feed_single_file_1x" -> (single1x + ("cpus" -> cpus.toInt)),
      "file_feed_single_file_10x" -> (single10x + ("cpus" -> cpus.toInt)),
      "file_feed_100x" -> file100x,
      "file_feed_eventtime_10x" -> fileEt,
      "file_feed_eventtime_100x" -> fileEt100,
      "file_feed_eventtime_hostile_late" -> fileEtHostile,
      "pg_feed" -> pg, "pg_feed_100x" -> pg100x,
      "pg_feed_eventtime" -> pgEt,
      "scaling_exponent_file_feed" -> exp,
      "scaling_exponent_file_feed_2" -> exp2) ++
      pgLive.map("pg_live_feed" -> _) ++
      file1000x.toMap ++ fileEt1000.toMap ++ fileEtHostile1000.toMap ++
      (for {
        (_, f3) <- file1000x
        w3 = f3("wall_sec").asInstanceOf[Double]
        w2 = file100x("wall_sec").asInstanceOf[Double]
      } yield "scaling_exponent_file_feed_3" -> math.log10(w3 / w2)).toMap
    // Carry the env-gated decade-3 rows forward from the prior artifact
    // when this run didn't produce them (tens of minutes + ~40 GB spool
    // behind SPARK_GRAFT_INGEST_DECADE3=1): a default-scale refresh must
    // not silently erase the third decade (r14 — it did, once).
    val carried: Map[String, Any] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(outPath)), StandardCharsets.UTF_8)
        def rawObj(key: String): Option[String] = {
          val m = java.util.regex.Pattern.compile(
            "\"" + key + "\":\\{[^{}]*\\}").matcher(txt)
          if (m.find()) Some(m.group(0).drop(key.length + 3)) else None
        }
        def rawNum(key: String): Option[String] =
          ("\"" + key + "\":(-?[0-9.]+)").r.findFirstMatchIn(txt).map(_.group(1))
        // carry only keys THIS run didn't produce (a filtered decade-3
        // pass must not erase its siblings, and a full pass must not be
        // shadowed by stale values)
        (Seq("file_feed_1000x", "file_feed_eventtime_1000x",
             "file_feed_eventtime_hostile_late_1000x", "scaling_exponent_file_feed_3")
          .filterNot(result.contains)
          .flatMap(k =>
            (if (k.startsWith("scaling_")) rawNum(k) else rawObj(k))
              .map(k -> RawJson(_)))).toMap
      } catch { case _: Throwable => Map.empty }
    val json = js(result ++ carried)
    println(s"INGEST_BENCH: $json")
    Files.writeString(Paths.get(outPath), json + "\n")
    spark.stop()
  }
}
