package graft.engine

import graft.catalog.{UploadEvent, VaultCatalog}
import graft.cdc.{TableSchema, WalDecoder}
import graft.core.{FsUtil, VaultName}
import graft.crypto.EcmhAggregator
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{col, count, floor, lit, max}
import scala.util.{Failure, Try}

/** Pluggable file signer (C1). Production impl = keccak256 + secp256k1;
  * see [[graft.crypto.Keccak256]]. */
trait FileSigner extends Serializable {
  def sign(file: Path): Array[Byte]
}

/** Content-addressed store abstraction (Q3 read path + P8 upload). The
  * reference's provider HTTP API + IPFS cold store collapse to this trait;
  * zero-egress builds use [[LocalContentStore]]. */
trait ContentStore extends Serializable {
  def put(vault: VaultName, file: Path, timestampSec: Long, signature: Array[Byte]): String // → cid
  def get(cid: String): Option[Path]
  /** Drop an artifact from the hot store (compaction cleanup). Stores
    * without delete semantics (e.g. the provider HTTP API) return false;
    * readers then fall back to the cold tier like any cache miss. */
  def delete(cid: String): Boolean = false
}

/** Local-directory provider: `put` = atomic move into the store keyed by a
  * deterministic content id; `get` = lookup. Stands in for
  * `pkg/vaultsprovider/provider.go:124-214` without network egress. */
final class LocalContentStore(rootDir: String) extends ContentStore {
  private def root = { val p = Paths.get(rootDir); Files.createDirectories(p); p }

  override def put(vault: VaultName, file: Path, timestampSec: Long, sig: Array[Byte]): String = {
    val cid = LocalContentStore.contentId(file)
    val dest = root.resolve(s"$cid-${file.getFileName}")
    // a replayed directory artifact: the same cid means the same bytes
    // are already stored (a move cannot replace a non-empty directory)
    if (Files.isDirectory(dest)) FsUtil.deleteRecursive(file)
    else Files.move(file, dest, StandardCopyOption.REPLACE_EXISTING)
    cid
  }

  override def get(cid: String): Option[Path] =
    FsUtil.listDir(root).find(_.getFileName.toString.startsWith(cid + "-"))

  override def delete(cid: String): Boolean =
    get(cid).exists { p => FsUtil.deleteRecursive(p); true }
}

object LocalContentStore {
  /** Deterministic content id: CIDv1 (raw codec, sha2-256 multihash) in
    * multibase base32 — the reference's id format, computed offline
    * from the streamed content hash over the bytes the signature covers
    * ([[FsUtil.streamArtifact]]). */
  def contentId(file: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    FsUtil.streamArtifact(file)((buf, n) => md.update(buf, 0, n))
    CarV1.Cid.v1FromDigest(CarV1.CodecRaw, md.digest()).toString
  }
}

/**
 * Event-time export windows — P5's semantic upgrade over the reference's
 * processing-time rotation ticker (SURVEY §7.4): artifacts are batched
 * by the WAL record's commit TIMESTAMP, not by micro-batch arrival.
 * Tumbling `windowSeconds` windows; a window FINALIZES (sign + upload +
 * event) once the watermark — max observed event time minus
 * `latenessSeconds` — passes its end. A record arriving within the
 * lateness bound lands in its (still-pending) event-time window no
 * matter which micro-batch carried it; a record older than the
 * watermark is DROPPED — exactly Structured Streaming's append-mode
 * watermark contract, applied to file artifacts.
 *
 * State is the staging FILESYSTEM, not the state store: each pending
 * window accumulates per-batch parquet sub-writes (overwrite-idempotent
 * under batch replay), and the watermark file commits after
 * finalization — a crash replays losslessly (re-appended batches
 * overwrite their own sub-dirs; a re-finalized window re-uploads the
 * same content-addressed artifact). At 100 TB a pending window is
 * gigabytes; files-as-state (vs `flatMapGroupsWithState` rows-in-state)
 * is what lets this shape scale.
 *
 * Adversarial inputs (r14, spec-pinned in `StreamPipelineSpec`):
 *  - a LATE-DATA FLOOD (arbitrarily many records aimed at closed
 *    windows) is dropped record-by-record at the `live` filter and
 *    never creates a pending slice — the pending store is bounded by
 *    OPEN-window rows regardless of flood size (the
 *    `file_feed_eventtime_hostile_late` INGEST_BENCH arm prices it);
 *  - a STALLED event time freezes the watermark: exactly the open
 *    windows accumulate (that data is genuinely unfinalizable), and
 *    resumption flushes each exactly once;
 *  - a FAR-FUTURE outlier timestamp advances the watermark past every
 *    in-band window (Structured Streaming's own contract, inherited
 *    deliberately — a clamp heuristic would hide producer clock bugs);
 *    subsequent in-band records drop. Feeds are expected to sanitize
 *    timestamps upstream.
 */
final case class EventTimeWindows(windowSeconds: Long, latenessSeconds: Long) {
  require(windowSeconds > 0 && latenessSeconds >= 0,
    "eventTime: windowSeconds > 0 and latenessSeconds >= 0 required")
}

/**
 * The windowed vault sink (P5-P10): for one micro-batch of WAL lines,
 * decode per-table typed DataFrames, write one parquet snapshot per
 * non-empty table (P6 empty-skip), sign it, hand it to the content store,
 * clean staging (P10), then record the batch's events in one catalog
 * append. Events carry their window token, so a replayed batch re-puts
 * the same content-addressed artifacts and appends no second event.
 *
 * Called from `foreachBatch` — micro-batch sequencing replaces the
 * reference's mutex-serialized ticker rotation (`internal/app/db.go:83-101`).
 * Batches stay sequential, but the tables of one batch publish side by
 * side (and, in event-time mode, its slice writes and the windows it
 * closes) on a per-batch pool of min(tables, cores) threads
 * ([[VaultSink.concurrently]]), where the reference exports, signs and
 * uploads each table in turn (`internal/app/db.go:128-182`). The catalog
 * append and the watermark move still happen once per batch, on the
 * stream thread, after every table is done.
 * Output naming `<table>-<windowId>` mirrors `<table>-<unixnano>.db.parquet`
 * (`internal/app/db.go:168`). Single-file output (`coalesce(1)`) matches the
 * reference's one-file-per-window contract; at 100 TB disable
 * `singleFile` to write a directory per window instead (no serialization
 * point) — the event log then records the directory.
 */
final class VaultSink(
    namespace: String,
    schemas: Seq[TableSchema],
    stagingDir: String,
    store: ContentStore,
    signer: Option[FileSigner] = None,
    catalog: Option[VaultCatalog] = None,
    replayActions: Set[String] = Set("I"),
    singleFile: Boolean = true,
    clock: () => Long = () => java.time.Instant.now().getEpochSecond,
    // mid-stream DDL contract (default ON for the streaming pipeline):
    // a record diverging from the stream-start schema fails the batch
    // loudly (PgValueDecoder.schemaDriftGuard) instead of silently
    // dropping a newly added column from the uploaded artifacts
    strictSchema: Boolean = true,
    // drift comparison mode under strictSchema: Exact is the steady-state
    // streaming default (catches trailing-column DROPs too); pass
    // DriftMode.Prefix ONLY as the explicit recovery flag when replaying
    // pre-ALTER spool history under a refreshed (widened) schema — see
    // PgValueDecoder.schemaDriftGuard
    driftMode: graft.cdc.DriftMode = graft.cdc.DriftMode.Exact,
    // pgNumericAsDecimal: decode numeric(p,s) columns to exact decimals
    // in the uploaded artifacts instead of the reference's lossy double
    // (graft.core.PgTypes.of) — the same opt-in the batch entry points
    // take, threaded here so streaming money columns can be exact too
    numericAsDecimal: Boolean = false,
    // event-time mode (see [[EventTimeWindows]]); None = the reference-
    // parity default, micro-batch = upload window (processing time)
    eventTime: Option[EventTimeWindows] = None) extends Serializable {

  def processBatch(batch: DataFrame, windowId: Long): Seq[(String, String)] = {
    // Event timestamp = real upload time in epoch seconds (like the
    // reference stamping uploads with unix time, internal/app/db.go:198),
    // NOT the micro-batch id — windowId is only an artifact-naming token.
    // One timestamp per window keeps all tables of a window coherent.
    val ts = clock()
    val spark = batch.sparkSession
    val published = eventTime match {
      case Some(w) => eventTimeBatch(spark, batch, windowId, w, ts)
      case None =>
        val tables = WalDecoder.decodeTables(spark, batch, schemas, replayActions,
          strict = strictSchema, driftMode = driftMode,
          numericAsDecimal = numericAsDecimal)
        val out = VaultSink.concurrently(spark, tables.toSeq.sortBy(_._1)) {
          case (table, df) => publish(table, df, windowId, ts)
        }.flatten
        catalog.foreach(_.appendEvents(out))
        out
    }
    published.map(e => e.vault.relation -> e.cid)
  }

  /** Event-time micro-batch step: decode with the per-record wal
    * timestamp, drop records whose window already closed (older than
    * the stored watermark), append the rest into their pending window
    * directories (one overwrite-idempotent sub-dir per batch), advance
    * the watermark, and finalize every window it passed. */
  private def eventTimeBatch(spark: SparkSession, batch: DataFrame,
                             batchId: Long, w: EventTimeWindows,
                             ts: Long): Seq[UploadEvent] = {
    val pendingRoot = Paths.get(stagingDir, "pending")
    val wmFile = Paths.get(stagingDir, "_watermark")
    val priorWm =
      if (Files.exists(wmFile)) Files.readString(wmFile).trim.toLong
      else Long.MinValue
    val tables = WalDecoder.decodeTablesWithTs(spark, batch, schemas,
      replayActions, strict = strictSchema, driftMode = driftMode,
      numericAsDecimal = numericAsDecimal)
    val seen = VaultSink.concurrently(spark, tables.toSeq.sortBy(_._1)) { case (table, df0) =>
      // the watermark input is observed on the rows this write decodes,
      // BEFORE the `live` filter so late rows still advance it; only
      // tracked tables are decoded, so an untracked table's commits can
      // never close a tracked window early
      val maxTs = Observation()
      // keep records whose window is still open; a NULL/unparseable
      // timestamp is droppable-late by contract (never fails the stream)
      val live = df0
        .observe(maxTs, max(col("__graft_ts").cast("long")).as("max_ts"))
        .withColumn("__wstart",
          (floor(col("__graft_ts").cast("long") / w.windowSeconds) *
            w.windowSeconds).cast("long"))
        .where(col("__wstart").isNotNull &&
          col("__wstart") + w.windowSeconds > priorWm)
        .drop("__graft_ts")
      // one job writes every window's slice of this batch; replay of the
      // same batchId overwrites its own sub-dir — idempotent
      live.write.mode("overwrite").partitionBy("__wstart")
        .parquet(pendingRoot.resolve(table).resolve(f"batch-$batchId%012d").toString)
      Option(maxTs.get("max_ts")).map(_.asInstanceOf[Long]) // NULL: no rows
    }
    val newWm = seen.flatten.maxOption
      .fold(priorWm)(maxSeen => math.max(priorWm, maxSeen - w.latenessSeconds))
    // finalize windows that closed THIS batch — (priorWm, newWm] only,
    // and DELETE NOTHING yet: pending slices must outlive both the
    // publish and the watermark commit below, or a failure between them
    // (transient store error on a later window, crash before the move)
    // would leave the replayed finalize only a PARTIAL slice set and
    // silently publish a window missing rows. Windows already closed vs
    // priorWm are NEVER (re)published: the watermark is the commit
    // point, so a window closed under the DURABLE priorWm has certainly
    // published — any slices it still owns are leftovers of a cleanup
    // that crashed after a prior commit (their batch's own overwrite on
    // replay may have erased one slice, so republishing from what
    // remains would upload a PARTIAL artifact under a new cid). They
    // are reclaimed below, after this batch's own commit point.
    val closed = schemas.map(_.table).sorted.flatMap { table =>
      val tdir = pendingRoot.resolve(table)
      if (!Files.exists(tdir)) Nil
      else {
        val batchDirs = FsUtil.listDir(tdir)
          .filter(_.getFileName.toString.startsWith("batch-"))
        val wstarts = batchDirs
          .flatMap(b => FsUtil.listDir(b)
            .map(_.getFileName.toString)
            .filter(_.startsWith("__wstart="))
            .map(_.stripPrefix("__wstart=").toLong))
          .distinct.sorted
        wstarts.filter(ws => ws + w.windowSeconds <= newWm &&
            ws + w.windowSeconds > priorWm).map { ws =>
          (table, ws, batchDirs.map(_.resolve(s"__wstart=$ws")).filter(Files.exists(_)))
        }
      }
    }
    val out = VaultSink.concurrently(spark, closed) { case (table, ws, slices) =>
      publish(table, spark.read.parquet(slices.map(_.toString): _*), ws, ts)
    }.flatten
    // events land before the commit point: a crash after the append
    // replays into a no-op append of the same (cid, window)s
    catalog.foreach(_.appendEvents(out))
    // COMMIT POINT: the watermark move. A crash anywhere above replays
    // the whole batch against intact slices — every re-publish sees the
    // FULL slice set, so the content-addressed put re-produces the same
    // cid (the reference's UploadAll at-least-once shape).
    val tmp = Paths.get(stagingDir, "_watermark.tmp")
    Files.createDirectories(tmp.getParent)
    Files.writeString(tmp, newWm.toString)
    Files.move(tmp, wmFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // cleanup strictly after the commit point, by PREDICATE rather than
    // a published-this-call list: reclaim every slice whose window is
    // closed vs the committed watermark — the ones just published AND
    // any orphans of a cleanup that crashed after an earlier commit.
    // A crash inside THIS cleanup just leaves more such orphans for the
    // next batch; nothing is ever republished from them.
    schemas.map(t => pendingRoot.resolve(t.table)).filter(Files.exists(_))
      .foreach { tdir =>
        val batchDirs = FsUtil.listDir(tdir)
          .filter(_.getFileName.toString.startsWith("batch-"))
        batchDirs.foreach { b =>
          FsUtil.listDir(b)
            .filter { p =>
              val n = p.getFileName.toString
              n.startsWith("__wstart=") &&
                n.stripPrefix("__wstart=").toLong + w.windowSeconds <= newWm
            }
            .foreach(FsUtil.deleteRecursive(_))
        }
        // P10 analog: a batch sub-dir with no window slices left (all
        // finalized, or its every record was dropped as late) holds only
        // markers — drop it so pending state stays O(open windows)
        batchDirs
          .filter(b => Files.exists(b) &&
            !FsUtil.listDir(b).exists(_.getFileName.toString.startsWith("__wstart=")))
          .foreach(FsUtil.deleteRecursive(_))
      }
    out
  }

  /** Stage → (optionally) single-file → sign → content-store put for one
    * table's window slice; returns the artifact's catalog event, which
    * the caller appends with the rest of the batch's. `windowToken` is
    * the artifact-naming token: the micro-batch id in processing-time
    * mode, the window start (epoch seconds) in event-time mode. The one
    * staging write also observes the window's row count (P6: an empty
    * window is skipped) and its rows' ECMH digest. */
  private def publish(table: String, df: DataFrame, windowToken: Long,
                      ts: Long): Option[UploadEvent] = {
    val cols = schemas.find(_.table == table).toSeq.flatMap(_.columns)
    val pk = cols.filter(_.isPrimary).map(_.name)
    // row-content ECMH digest recorded with the event: a retriever can
    // re-derive it from the downloaded parquet and compare — content
    // verification independent of the transport (the reference's stated
    // purpose for pkg/ecmh). Order-independent, so observed before the
    // coalesce and sort it is the digest of the artifact's rows.
    val written = Observation()
    val observed = df.observe(written, count(lit(1)).as("rows"),
      EcmhAggregator.digest(EcmhAggregator.canonicalRow(cols.map(_.name))).as("digest"))
    // sort by PK within each output file: parquet row-group min/max
    // stats become selective, so PK-ranged reads of the artifact
    // prune row groups instead of scanning the window (sort applied
    // AFTER the single-file coalesce so that file is globally sorted)
    def pkSorted(d: DataFrame): DataFrame = pk match {
      case Nil => d
      case keys => d.sortWithinPartitions(keys.map(col): _*)
    }
    val out = if (singleFile) pkSorted(observed.coalesce(1)) else pkSorted(observed)
    val stagePath = Paths.get(stagingDir, s"$table-$windowToken")
    out.write.mode("overwrite").parquet(stagePath.toString)
    val facts = written.get
    // P6: skip empty windows
    if (facts("rows") == 0L) { FsUtil.deleteRecursive(stagePath); None }
    else {
      // singleFile: one `<table>-<window>.parquet` like the reference;
      // scale mode: upload the whole window DIRECTORY (all part files)
      val artifact =
        if (singleFile) singleParquetFile(stagePath, table, windowToken)
        else {
          // strip _SUCCESS/. markers; keep only data files
          FsUtil.listDir(stagePath)
            .filter(p => !p.getFileName.toString.endsWith(".parquet"))
            .foreach(p => Files.deleteIfExists(p))
          stagePath
        }
      val sig = signer.map(_.sign(artifact)).getOrElse(Array.emptyByteArray)
      val vault = VaultName(namespace, table)
      val cid = store.put(vault, artifact, ts, sig)
      FsUtil.deleteRecursive(stagePath)
      // the window token makes the event replay-safe; deliberate
      // re-uploads go through BatchWrite, whose events carry none
      Some(UploadEvent(vault, cid, ts, facts("digest").asInstanceOf[String],
        Some(windowToken)))
    }
  }

  private def singleParquetFile(dir: Path, table: String, windowId: Long): Path = {
    val part = FsUtil.listDir(dir).find(_.toString.endsWith(".parquet")).get
    val named = dir.resolveSibling(s"$table-$windowId.parquet")
    Files.move(part, named, StandardCopyOption.REPLACE_EXISTING)
    named
  }
}

object VaultSink {
  /** `f` over `items`, the items side by side on a pool of
    * min(items, `defaultParallelism`) daemon threads that lives for this
    * call only; results in input order. Each task runs with the calling
    * thread's Spark local properties (job group and tags, so cancelling
    * the caller's jobs cancels the pool's) and active session. Every task
    * is waited for before the first failure, in input order, is rethrown
    * as thrown. An interrupt of the caller (`StreamingQuery.stop`)
    * interrupts the pool's tasks and is rethrown once they have ended.
    * A single item runs on the calling thread. */
  private[engine] def concurrently[A, B](spark: SparkSession, items: Seq[A])(f: A => B): Seq[B] =
    if (items.lengthCompare(1) <= 0) items.map(f)
    else {
      val threads = new AtomicInteger
      val pool = Executors.newFixedThreadPool(
        math.min(items.length, spark.sparkContext.defaultParallelism), (r: Runnable) => {
          val t = new Thread(r, s"vault-publish-${threads.incrementAndGet()}")
          t.setDaemon(true)
          t
        })
      try {
        val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val tasks = items.map(a => SQLExecution.withThreadLocalCaptured(classic, pool)(f(a)))
        // Try lets an InterruptedException through (it is not NonFatal)
        tasks.map(t => Try(t.get())).map {
          case Failure(e: ExecutionException) => throw e.getCause
          case done => done.get
        }
      } catch {
        case e: InterruptedException =>
          // interrupt the tasks until they have ended: code a task runs
          // may drop one interrupt (Hadoop's `Shell.joinThread` does,
          // under a local file write's permission call)
          while ({ pool.shutdownNow(); !pool.awaitTermination(100, TimeUnit.MILLISECONDS) }) ()
          throw e
      } finally {
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      }
    }
}
