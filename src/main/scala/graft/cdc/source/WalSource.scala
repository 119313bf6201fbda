package graft.cdc.source

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path => HadoopPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * Custom Structured Streaming CDC source (S1/S2/S5): a DataSourceV2
 * `MicroBatchStream` over a wal2json transaction feed with **LSN
 * offsets** and **ack-on-commit**.
 *
 * Spark-native equivalent of the reference's replication client
 * (`pkg/pgrepl/replicator.go:61-226`):
 *  - resume: `initialOffset` = last *acked* LSN, exactly like resuming a
 *    slot from `confirmed_flush_lsn` (`replicator.go:105-130`);
 *  - batch: `(start, end]` by commit LSN — a transaction is never split
 *    across batches (tx atomicity, S3), because the feed is
 *    one-tx-per-line;
 *  - ack: `commit(offset)` records the LSN durably — the
 *    `StandbyStatusUpdate` of `Commit(ctx, lsn)` (`replicator.go:213-226`,
 *    S5) — only after Spark has durably completed the batch. Spark
 *    invokes `commit` at the NEXT batch construction, so the ack lags
 *    one cycle: the checkpoint is the exact cursor, the ack is the
 *    retention watermark. Losing the checkpoint replays at most one
 *    acked-but-uncommitted window — the same at-least-once crash window
 *    the reference accepts between upload and cleanup (SURVEY §2.12
 *    streaming semantics);
 *  - backpressure: `maxTxPerTrigger` caps a batch (the channel
 *    blocking-send of `replicator.go:70,194` becomes bounded admission).
 *
 * **Scale design — driver holds metadata, executors read payload.** The
 * driver-side feed keeps an incremental per-file byte cursor (like
 * Spark's own `FileStreamSource` log) and an index of
 * `(lsn, file, offset, length)` line locations; it never re-reads a
 * byte it has already scanned, and [[WalInputPartition]]s carry only
 * those location refs. Each executor's [[PartitionReader]] opens the
 * file itself (Hadoop `FileSystem`, so `file://`/`hdfs://`/object
 * stores all work) and reads the exact byte ranges. Driver memory is
 * O(#pending tx) * ~60 bytes of metadata regardless of payload size,
 * and refs below the durable ack are pruned as retention advances.
 *
 * The transport is a pluggable [[WalFeed]]; [[FileWalFeed]] tails
 * JSON-lines files (zero-egress build). A pg-wire replication client
 * implements the same trait against a live database by spooling
 * received transactions to the same line-framed files.
 *
 * Usage: `spark.readStream.format("graft-wal").option("path", dir).load()`
 * → schema `(value STRING, commit_lsn LONG)`. Each micro-batch
 * (`foreachBatch`) is consumable by [[graft.cdc.WalDecoder.decodeRecords]],
 * which parses its `value` column with the JSON data source.
 */
class WalSource extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-wal"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = WalSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new WalTable(properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = false
}

object WalSource {
  val schema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("commit_lsn", LongType, nullable = false)))
}

/** Location of one transaction line in executor-readable storage: the
  * driver plans with these; only executors touch the payload bytes. */
final case class WalTxRef(lsn: Long, file: String, offset: Long, length: Int)

/** Transaction feed: ordered tx-line *locations* + durable ack cursor.
  * Payload stays in storage; the driver only ever sees metadata. */
trait WalFeed extends Serializable {
  /** Line locations with commit LSN strictly after `lsn`, LSN-ascending,
    * at most `max` of them. Incremental: implementations must not rescan
    * already-indexed bytes. */
  def txRefsAfter(lsn: Long, max: Int): Seq[WalTxRef]
  def latestLsn: Long
  def ack(lsn: Long): Unit
  def ackedLsn: Long

  /** Payload convenience for tests/CLI (driver-side, small windows). */
  def txAfter(lsn: Long, max: Int): Seq[(Long, String)] =
    txRefsAfter(lsn, max).map(r => (r.lsn, WalFeed.readRef(r)))
}

object WalFeed {
  /** Driver-side range read of one ref (local-fs paths). */
  def readRef(r: WalTxRef): String = {
    val ch = java.nio.channels.FileChannel.open(Paths.get(r.file))
    try {
      val buf = java.nio.ByteBuffer.allocate(r.length)
      var pos = r.offset
      while (buf.hasRemaining) {
        val n = ch.read(buf, pos)
        if (n < 0) throw new java.io.EOFException(s"${r.file} truncated under reader")
        pos += n
      }
      new String(buf.array(), StandardCharsets.UTF_8)
    } finally ch.close()
  }
}

/**
 * File-backed feed: JSON-lines files in a directory (same envelope as
 * `internal/app/testdata/wal.input`), ordered by commit LSN; the ack
 * cursor is a sidecar file — the durable analog of
 * `confirmed_flush_lsn`.
 *
 * Incremental tail: per-file scanned-byte cursors mean each refresh
 * stats every file but reads only appended bytes; the in-memory index
 * holds metadata refs only (never payload) and drops entries at or
 * below the durable ack. Spool contract: writers append whole lines
 * (the pg-wire spooler writes `line\n` in one call).
 */
final class FileWalFeed(dir: String) extends WalFeed {
  private def ackPath: Path = Paths.get(dir, "_acked_lsn")
  private val LsnRe = """"commit_lsn"\s*:\s*(\d+)""".r

  // Driver-side incremental state (rebuilt by rescan on a fresh feed).
  @transient private lazy val scannedBytes = mutable.HashMap.empty[String, Long]
  @transient private lazy val index = mutable.ArrayBuffer.empty[WalTxRef] // sorted by lsn
  @transient private var maxSeenLsn = 0L
  // Boxed so the "unread" sentinel survives Java deserialization (a
  // primitive -1L default would come back as 0 and skip the re-read).
  @transient private var ackedCache: java.lang.Long = null
  @transient private var malformedCount = 0L

  /** Committed lines consumed-and-skipped because they carry no
    * `commit_lsn` — the feed-level twin of [[graft.cdc.WalDecoder]]'s
    * skip-malformed contract. */
  def malformedSkipped: Long = synchronized(malformedCount)

  /** Stat each file; read+parse only bytes beyond the per-file cursor. */
  private def refresh(): Unit = synchronized {
    if (ackedCache == null) ackedCache = ackedLsn
    var dirty = false
    for (p <- graft.core.FsUtil.listDirSorted(Paths.get(dir))
         if !p.getFileName.toString.startsWith("_") && Files.isRegularFile(p)) {
      val key = p.toString
      val size = Files.size(p)
      val from = scannedBytes.getOrElse(key, 0L)
      if (size > from) {
        val (refs, consumedTo) = parseRange(p, from, size)
        index ++= refs
        if (consumedTo > from) scannedBytes(key) = consumedTo
        if (refs.nonEmpty) dirty = true
      }
    }
    // drop cursors of files GC'd from the spool (segment names are never
    // reused, so a dropped cursor can't cause a rescan)
    if (scannedBytes.size > 64) {
      val stale = scannedBytes.keys.filterNot(k => Files.exists(Paths.get(k))).toList
      stale.foreach(scannedBytes.remove)
    }
    if (dirty) {
      // distinctBy: commit LSNs are unique per server, so two refs with
      // one LSN are two copies of the same transaction (e.g. a spool
      // written before the crash-resume duplicate guard existed) — serve
      // the first, never both
      val sorted = index.sortBy(_.lsn).distinctBy(_.lsn)
      index.clear(); index ++= sorted
      if (index.nonEmpty) maxSeenLsn = math.max(maxSeenLsn, index.last.lsn)
    }
    // retention: refs at or below the durable ack are never requested
    // again (initialOffset == ackedLsn), so the index stays O(pending)
    if (index.nonEmpty && index.head.lsn <= ackedCache) {
      val keep = index.filter(_.lsn > ackedCache)
      index.clear(); index ++= keep
    }
  }

  /** Parse `[from, to)` of one file into line refs (byte offsets);
    * returns `(refs, consumedTo)`. Newline-terminated lines are always
    * consumed. An unterminated final line is consumed only when it
    * validates as complete JSON: the spool contract is whole-line
    * appends, but regular-file appends are not atomic to concurrent
    * readers — a torn read observed mid-write must stay *pending*
    * (cursor parked at the line start) until the newline arrives, or a
    * truncated payload would be served under a valid LSN and the line's
    * remainder would later fail to parse on its own (sticky torn read,
    * exactly-once violation on replay). */
  private def parseRange(p: Path, from: Long, to: Long): (Seq[WalTxRef], Long) = {
    val out = Vector.newBuilder[WalTxRef]
    def emit(lineBytes: Array[Byte], start: Long): Unit = {
      var len = lineBytes.length
      if (len > 0 && lineBytes(len - 1) == '\r') len -= 1
      if (len > 0) {
        val line = new String(lineBytes, 0, len, StandardCharsets.UTF_8)
        if (line.trim.nonEmpty) {
          LsnRe.findFirstMatchIn(line).map(_.group(1).toLong) match {
            case Some(lsn) => out += WalTxRef(lsn, p.toString, start, len)
            case None =>
              // Poison-pill hardening: a committed line without a
              // commit_lsn is skipped-and-counted, not thrown — a throw
              // here would leave the byte cursor parked before the line
              // and kill every subsequent trigger on the same bytes.
              malformedCount += 1
              FileWalFeed.log.warn(
                s"skipping wal line without commit_lsn at $p offset $start len $len")
          }
        }
      }
    }
    val in = Files.newInputStream(p)
    try {
      var skipped = 0L
      while (skipped < from) {
        val s = in.skip(from - skipped)
        if (s <= 0) return (Vector.empty, from)
        skipped += s
      }
      val buf = new Array[Byte](64 * 1024)
      val line = new java.io.ByteArrayOutputStream()
      var pos = from
      var lineStart = from
      var remaining = to - from
      while (remaining > 0) {
        val n = in.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
        if (n < 0) remaining = 0
        else {
          var i = 0
          while (i < n) {
            if (buf(i) == '\n') {
              emit(line.toByteArray, lineStart)
              line.reset()
              lineStart = pos + i + 1
            } else line.write(buf(i).toInt)
            i += 1
          }
          pos += n
          remaining -= n
        }
      }
      if (line.size() > 0) {
        // Unterminated tail: accept only if it is a complete JSON value
        // (a torn mid-write read is a truncated prefix and fails here).
        val tail = line.toByteArray
        val text = new String(tail, StandardCharsets.UTF_8)
        if (isCompleteJson(text)) {
          emit(tail, lineStart)
          (out.result(), to)
        } else (out.result(), lineStart) // leave pending until '\n' arrives
      } else (out.result(), to)
    } finally in.close()
  }

  /** Strict full-input JSON parse (Jackson, shipped with Spark): a
    * truncated line — even one whose visible prefix still matches the
    * commit_lsn regex — is not complete JSON and stays pending. */
  private def isCompleteJson(s: String): Boolean = {
    val t = s.trim
    if (t.isEmpty || !t.endsWith("}")) false
    else
      try { FileWalFeed.jsonMapper.readTree(t); true }
      catch { case _: Exception => false }
  }

  override def txRefsAfter(lsn: Long, max: Int): Seq[WalTxRef] = synchronized {
    refresh()
    // first index with ref.lsn > lsn (index sorted ascending)
    var lo = 0; var hi = index.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (index(mid).lsn <= lsn) lo = mid + 1 else hi = mid
    }
    val end = math.min(index.length.toLong, lo.toLong + math.max(0, max).toLong).toInt
    index.slice(lo, end).toVector
  }

  override def latestLsn: Long = synchronized {
    refresh()
    math.max(maxSeenLsn, ackedCache.longValue)
  }

  override def ack(lsn: Long): Unit = synchronized {
    val tmp = Paths.get(dir, "_acked_lsn.tmp")
    Files.createDirectories(Paths.get(dir))
    Files.writeString(tmp, lsn.toString)
    Files.move(tmp, ackPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ackedCache = if (ackedCache == null) lsn else math.max(ackedCache.longValue, lsn)
  }

  override def ackedLsn: Long =
    if (Files.exists(ackPath)) Files.readString(ackPath).trim.toLong else 0L
}

object FileWalFeed {
  /** Shared strict parser for tail-line completeness checks (thread-safe). */
  private[source] val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private[source] val log = org.slf4j.LoggerFactory.getLogger(classOf[FileWalFeed])
}

final case class LsnOffset(lsn: Long) extends Offset {
  override def json(): String = s"""{"lsn":$lsn}"""
}

class WalTable(properties: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"graft-wal(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = WalSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new WalScan(options.asScala.toMap)
}

class WalScan(options: Map[String, String]) extends Scan {
  override def readSchema(): StructType = WalSource.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    val dir = options.getOrElse("path",
      throw new IllegalArgumentException("graft-wal requires option 'path'"))
    val maxTx = options.get("maxtxpertrigger").map(_.toInt).getOrElse(Int.MaxValue)
    val conf = new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf())
    // Live-database transport: `pgHost` + `publication` switch the feed
    // to a pg-wire replication client spooling into `path`; otherwise
    // `path` is consumed as pre-spooled JSON-lines files.
    val feed: WalFeed = options.get("pghost") match {
      case Some(host) =>
        val f = new graft.cdc.pgwire.PgWalFeed(
          new graft.cdc.pgwire.PgReplicationClient(
            host = host,
            port = options.get("pgport").map(_.toInt).getOrElse(5432),
            user = options.getOrElse("pguser", "postgres"),
            database = options.getOrElse("pgdatabase", "postgres"),
            password = options.get("pgpassword"),
            readTimeoutMs = options.get("pgreadtimeoutms").map(_.toInt).getOrElse(120000)),
          publication = options.getOrElse("publication",
            throw new IllegalArgumentException("graft-wal with pgHost requires option 'publication'")),
          spoolDir = dir,
          segmentBytes = options.get("segmentbytes").map(_.toLong)
            .getOrElse(graft.cdc.pgwire.PgWalFeed.DefaultSegmentBytes),
          // decoding plugin: the reference's wal2json (default) or the
          // built-in pgoutput (any stock Postgres, no extension install)
          plugin = options.getOrElse("plugin", "wal2json"))
        f.start()
        f
      case None => new FileWalFeed(dir)
    }
    new WalMicroBatchStream(feed, maxTx, conf)
  }
}

class WalMicroBatchStream(feed: WalFeed, maxTxPerTrigger: Int, hadoopConf: SerializableHadoopConf)
    extends MicroBatchStream
    with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // Trigger.AvailableNow: fixed target captured at query start, so the
  // run drains exactly the data present then terminates.
  @volatile private var availableNowTarget: Option[Long] = None

  override def initialOffset(): Offset = LsnOffset(feed.ackedLsn) // resume ≡ confirmed_flush_lsn

  override def getDefaultReadLimit: ReadLimit =
    if (maxTxPerTrigger == Int.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxTxPerTrigger)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(feed.latestLsn)

  override def reportLatestOffset(): Offset = LsnOffset(feed.latestLsn)

  /** Admission control: advance from `start` by at most the read limit
    * (the bounded analog of the reference's blocking channel send,
    * `replicator.go:70,194`). Metadata-only: the refs' payload is never
    * read here. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[LsnOffset].lsn
    val end = limit match {
      case r: ReadMaxRows =>
        val refs = feed.txRefsAfter(from, r.maxRows().toInt)
        if (refs.isEmpty) from else refs.last.lsn
      case _ => math.max(from, feed.latestLsn)
    }
    LsnOffset(availableNowTarget.fold(end)(t => math.min(end, t)))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def deserializeOffset(json: String): Offset = {
    val m = """"lsn"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
    LsnOffset(m.map(_.group(1).toLong).getOrElse(0L))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LsnOffset].lsn
    val e = end.asInstanceOf[LsnOffset].lsn
    val refs = feed.txRefsAfter(s, Int.MaxValue).filter(_.lsn <= e)
    if (refs.isEmpty) Array.empty
    else {
      // split a large batch into contiguous LSN-range chunks so decode
      // parallelizes across executors (one partition would serialize the
      // whole window into a single task at scale); tx atomicity is
      // per-line so any chunking is safe. Partitions carry location refs
      // only — the payload bytes are read executor-side.
      val chunkSize = math.max(1, math.min(10000, refs.length / 32 + 1))
      refs.grouped(chunkSize).map(c => WalInputPartition(c.toArray): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new WalReaderFactory(hadoopConf)

  /** S5: LSN ack after the batch is durably committed by the engine. */
  override def commit(end: Offset): Unit = feed.ack(end.asInstanceOf[LsnOffset].lsn)

  override def stop(): Unit = feed match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
}

/** Metadata-only partition: file/byte-range refs, no payload. */
final case class WalInputPartition(refs: Array[WalTxRef]) extends InputPartition

/** Executor-side reader: opens each referenced file via Hadoop
  * `FileSystem` (works for `file://`, `hdfs://`, object stores) and
  * positioned-reads the exact line ranges the driver planned. */
class WalReaderFactory(hadoopConf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val refs = partition.asInstanceOf[WalInputPartition].refs
    new PartitionReader[InternalRow] {
      private val streams = mutable.HashMap.empty[String, FSDataInputStream]
      private var i = -1
      override def next(): Boolean = { i += 1; i < refs.length }
      override def get(): InternalRow = {
        val r = refs(i)
        val in = streams.getOrElseUpdate(r.file, {
          val p = new HadoopPath(r.file)
          p.getFileSystem(hadoopConf.value).open(p)
        })
        val bytes = new Array[Byte](r.length)
        in.readFully(r.offset, bytes) // positioned read; stream reusable across refs
        InternalRow(UTF8String.fromBytes(bytes), r.lsn)
      }
      override def close(): Unit = {
        streams.values.foreach(s => scala.util.Try(s.close()))
        streams.clear()
      }
    }
  }
}

/** Java-serializable Hadoop `Configuration` carrier (the standard
  * Writable round-trip), so the reader factory ships the driver's
  * filesystem conf to executors. */
final class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
