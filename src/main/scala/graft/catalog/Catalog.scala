package graft.catalog

import graft.core.{Account, VaultName}
import java.lang.ref.SoftReference
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** One uploaded artifact's event ([[VaultCatalog.appendEvents]]). `digest`:
  * the ECMH multiset digest of the artifact's rows (hex, the reference's
  * `MultisetHash.String()` form), "" when the writer computed none, so a
  * reader can verify retrieved content without trusting the transport. */
final case class UploadEvent(vault: VaultName, cid: String, timestampSec: Long,
                             digest: String = "", window: Option[Long] = None)

/**
 * Vault catalog + per-vault event log.
 *
 * Replaces the reference's provider-side HTTP catalog
 * (`pkg/vaultsprovider/provider.go:39-121`): `create` (M1) appends to the
 * vault catalog, `list` (Q1) filters by account, `events` (Q2) filters a
 * vault's event log by before/after with limit/offset — the reference's
 * only filter+limit "query" (`cmd/vaults/commands.go:427-586`).
 *
 * Storage: two parquet stores under `root`: `vaults` (one file per
 * create) and `events`, partitioned by vault (`events/vault=<v>`, one
 * file per vault per append, without the `vault` column). Their schemas
 * are declared ([[VaultCatalog.VaultsSchema]], [[VaultCatalog.EventsSchema]]),
 * so no Spark job runs just to learn a schema from footers, and a file
 * written before a column existed (events without `digest`/`window`,
 * vaults without `created_seq`) reads that column as NULL.
 *
 * Every call reads a driver-side snapshot of each directory it needs: a
 * vault's partition or the `vaults` store. A snapshot is keyed by the
 * (name, length, modification time) of the directory's data files (names
 * not starting with `_` or `.`), from one listing of that directory
 * alone. While the key is current the call runs no Spark job; when it
 * changed, one read of exactly the listed files refreshes every stale
 * directory of the call (only the added files when every file already
 * read is still listed unchanged). So a listing costs the same whatever
 * the number of vaults, and a change made through another instance or
 * process shows at the next call. A missing directory reads as empty; a
 * corrupt file, or a file that vanishes between the listing and the
 * read, fails the call and every later call on that directory.
 * Snapshots are held per instance (the sink's batch thread and a reader
 * may share one) through soft references, so heap pressure drops them
 * instead of failing the driver; a vault's holds one row per artifact
 * published to it, and [[events]] holds every vault's.
 *
 * Writes run no Spark job either: a create or an append writes its few
 * rows on the driver through Spark's own parquet writer (the physical
 * types, compression and footer of a Spark write) to a hidden temp name,
 * renamed into place, so no listing or read sees a partial file. The
 * written file is then folded into its directory's snapshot when the
 * snapshot was current just before the write; otherwise the next read
 * refreshes it, picking up another writer's files too.
 */
final case class VaultCatalog(spark: SparkSession, root: String) {
  import VaultCatalog.{ByCreate, EventFileSchema, EventsSchema, ListedSchema, Newest, Snapshot,
    VaultsSchema}

  private def vaultsPath = s"$root/vaults"
  private def eventsPath = s"$root/events"
  private def partitionPath(vault: String) = s"$eventsPath/vault=$vault"

  private lazy val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
  private val snapshots = new ConcurrentHashMap[String, SoftReference[Snapshot]]()

  /** M1: vault create — append a catalog row stamped with a monotonic
    * `created_seq` so "latest row wins" is well-defined (parquet file
    * enumeration order is arbitrary). Catalog mutations are single-writer
    * (CLI control plane), so read-max-then-append is race-free here. */
  def createVault(vault: VaultName, account: Account, cacheDurationMins: Int): Unit = {
    val seqs = vaultRows.filterNot(_.isNullAt(3)).map(_.getLong(3))
    val nextSeq = seqs.maxOption.getOrElse(0L) + 1L
    append(vaultsPath, VaultsSchema,
      Seq(Row(vault.toString, account.address, cacheDurationMins, nextSeq)), ByCreate)
  }

  /** A frame of `rows` in `schema`: the stores are written with the
    * schema they are read with. */
  private def frameOf(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** The entries of `dir`; none when `dir` does not exist. */
  private def entries(dir: String): Seq[FileStatus] =
    try fs.listStatus(new Path(dir)).toSeq.filterNot(s => hidden(s.getPath.getName))
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The data files of `dir`, sorted by name, as its snapshot key. */
  private def listing(dir: String): Vector[(String, Long, Long)] =
    entries(dir).filter(_.isFile)
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).toVector.sorted

  private def held(dir: String): Option[Snapshot] =
    Option(snapshots.get(dir)).flatMap(r => Option(r.get))

  /** The rows of each directory in `dirs` (of the store at `base`, read
    * with `schema`), sorted by `order`: from its snapshot while the
    * snapshot's key is current, else refreshed by one Spark read of the
    * stale directories' files. A stale snapshot whose files are all still
    * listed, unchanged, keeps their rows, so only the files added since
    * are read; any other change re-reads the whole directory. Every
    * directory listed ends with a current snapshot, an empty one
    * included, so a later write can fold its file in. `dirOf` names a
    * read row's directory. */
  private def snapshotRows(schema: StructType, base: String, dirs: Seq[String],
                           order: Ordering[Row])(dirOf: Row => String): Map[String, IndexedSeq[Row]] = {
    val plans = dirs.distinct.map { d =>
      val key = listing(d)
      val listed = key.toSet
      val old = held(d)
      val prior = old.filter(_.key.forall(listed)).getOrElse(Snapshot.Empty)
      (d, key, old, prior, key.filterNot(prior.key.toSet))
    }
    val files = plans.flatMap { case (d, _, _, _, added) => added.map(f => s"$d/${f._1}") }
    val read: Map[String, Array[Row]] =
      if (files.isEmpty) Map.empty
      else spark.read.schema(schema).option("basePath", base).parquet(files: _*)
        .collect().groupBy(dirOf)
    plans.map { case (d, key, old, prior, added) =>
      val rows =
        if (added.isEmpty) prior.rows
        else (prior.rows ++ read.getOrElse(d, Array.empty[Row])).sorted(order)
      if (!old.exists(_.key == key)) snapshots.put(d, new SoftReference(Snapshot(key, rows)))
      d -> rows
    }.toMap
  }

  /** Writes `rows` (each cut to the columns of `fileSchema`, a prefix of
    * the store's schema) as one new parquet file of `dir`, on the driver:
    * Spark's parquet writer writes a hidden temp file, renamed to a
    * `part-` name once closed. A failed write throws and leaves no data
    * file. The file is folded into `dir`'s snapshot (rows sorted by
    * `order`) when the snapshot held was current just before the write;
    * else the snapshot stays stale, and the next read of `dir` refreshes
    * it, files of other writers included. */
  private def append(dir: String, fileSchema: StructType, rows: Seq[Row],
                     order: Ordering[Row]): Unit = {
    val before = listing(dir)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, fileSchema)
    val context = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-${UUID.randomUUID}${factory.getFileExtension(context)}"
    val (tmp, file) = (new Path(dir, s".$name.tmp"), new Path(dir, name))
    val toInternal = CatalystTypeConverters.createToCatalystConverter(fileSchema)
    try {
      val writer = factory.newInstance(tmp.toString, fileSchema, context)
      try rows.foreach { r =>
        val cut = Row.fromSeq(r.toSeq.take(fileSchema.length))
        writer.write(toInternal(cut).asInstanceOf[InternalRow])
      } finally writer.close()
      if (!fs.rename(tmp, file)) throw new java.io.IOException(s"could not rename $tmp to $file")
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case d: Exception => e.addSuppressed(d) }
        throw e
    }
    val status = fs.getFileStatus(file)
    held(dir).filter(_.key == before).foreach { prior =>
      snapshots.put(dir, new SoftReference(Snapshot(
        (prior.key :+ ((name, status.getLen, status.getModificationTime))).sorted,
        (prior.rows ++ rows).sorted(order))))
    }
  }

  /** Every row of the vault catalog, by vault then `created_seq`. */
  private def vaultRows: IndexedSeq[Row] =
    snapshotRows(VaultsSchema, vaultsPath, Seq(vaultsPath), ByCreate)(_ => vaultsPath)(vaultsPath)

  /** The event rows of each of `vaults`, newest first. A vault with no
    * partition directory has none — unless the events store holds data
    * files outside every vault partition, which no writer here makes: the
    * call then fails rather than read a damaged store as empty. */
  private def eventRows(vaults: Seq[String]): Map[String, IndexedSeq[Row]] = {
    val rows = snapshotRows(EventsSchema, eventsPath, vaults.map(partitionPath), Newest)(
      r => partitionPath(r.getString(6)))
    if (rows.exists(_._2.isEmpty)) failOnStray(listing(eventsPath).map(_._1))
    vaults.map(v => v -> rows(partitionPath(v))).toMap
  }

  private def failOnStray(names: Seq[String]): Unit =
    if (names.nonEmpty) throw new IllegalStateException(
      s"$eventsPath holds data files outside any vault partition: ${names.mkString(", ")}")

  /** The whole vault catalog, as a local frame of its snapshot. */
  def vaults: DataFrame = frameOf(VaultsSchema, vaultRows: _*)

  /** Q1: list vaults for an account, sorted by vault. */
  def listVaults(account: Account): DataFrame =
    frameOf(StructType(Seq(VaultsSchema("vault"), VaultsSchema("cache_duration"))),
      vaultRows.filter(_.getString(1) == account.address)
        .map(r => Row(r.get(0), r.get(2))): _*)

  /** Cache duration (minutes) configured at vault create, if any. */
  def cacheDurationOf(vault: VaultName): Option[Int] =
    cacheDurations(Seq(vault)).get(vault.toString)

  /** The cache durations of `names`: the row with the highest
    * `created_seq` wins if a vault was re-created (deterministic, unlike
    * file enumeration order; an unsequenced row loses to any other). */
  private def cacheDurations(names: Seq[VaultName]): Map[String, Int] = {
    val wanted = names.map(_.toString).toSet
    // rows are sorted by vault then created_seq: the last one wins
    vaultRows.filter(r => wanted(r.getString(0))).groupBy(_.getString(0))
      .flatMap { case (vault, rows) =>
        Option.when(!rows.last.isNullAt(2))(vault -> rows.last.getInt(2))
      }
  }

  /** P8/M1: record uploaded artifacts' events in one append: one file
    * per vault, written in the order the batch first names the vaults.
    * Each event's hot-cache expiry is ts + its vault's `cache_duration`
    * minutes (the reference's provider computes the same from the
    * `cache` form field, provider.go:39-64), epoch 0 when the vault has
    * none (never cached / unknown vault).
    *
    * An event with a window token is replay-safe: it is dropped when its
    * (vault, cid, window) is already in the log, so a crash-replayed
    * window, which re-derives the same content cid for the same window,
    * adds no listing row — also when the crash fell between two vaults'
    * files of one append. A later window emitting byte-identical content
    * is a distinct (cid, window) and appends. An event without a window
    * always appends: a deliberate re-upload of identical content is an
    * event (`CompactorSpec` pins the repeated cid). The existence check
    * reads the batch vaults' snapshots; a failed read throws rather than
    * append a duplicate. Single-writer per vault (one streaming query
    * owns a vault's exports) makes read-then-append sound. */
  def appendEvents(batch: Seq[UploadEvent]): Unit = if (batch.nonEmpty) {
    val mins = cacheDurations(batch.map(_.vault))
    // pre-window event files read window = NULL, which never equals a token
    val logged: Set[(String, String, Long)] =
      eventRows(batch.filter(_.window.isDefined).map(_.vault.toString)).iterator
        .flatMap { case (v, rows) =>
          rows.filterNot(_.isNullAt(5)).map(r => (v, r.getString(0), r.getLong(5)))
        }.toSet
    val fresh = batch.filterNot(e =>
      e.window.exists(w => logged((e.vault.toString, e.cid, w))))
    for (vault <- fresh.map(_.vault.toString).distinct)
      append(partitionPath(vault), EventFileSchema,
        fresh.filter(_.vault.toString == vault).map { e =>
          val expiryMs = mins.get(vault).filter(_ > 0)
            .fold(0L)(m => (e.timestampSec + m * 60L) * 1000L)
          Row(e.cid, e.timestampSec, false, new java.sql.Timestamp(expiryMs), e.digest,
            e.window.map(Long.box).orNull, vault)
        }, Newest)
  }

  /** The whole event log, as a local frame of every vault partition's
    * snapshot (stale ones refreshed in one read). A data file outside
    * every vault partition fails the call. */
  def events: DataFrame = {
    val (partitions, stray) = entries(eventsPath)
      .partition(s => s.isDirectory && s.getPath.getName.startsWith("vault="))
    failOnStray(stray.map(_.getPath.getName))
    val vaults = partitions.map(_.getPath.getName.stripPrefix("vault=")).sorted
    val rows = eventRows(vaults)
    frameOf(EventsSchema, vaults.flatMap(rows): _*)
  }

  /** The digest on `cid`'s newest event in `vault`'s log ("" when none was
    * recorded), None when the log has no such cid. Read from the vault's
    * snapshot: no Spark job while it is current. */
  def digestOf(vault: VaultName, cid: String): Option[String] =
    eventRows(Seq(vault.toString))(vault.toString).find(_.getString(0) == cid)
      .map(r => Option(r.getString(4)).getOrElse(""))

  /**
   * Q2: per-vault event listing with before/after/at/latest filters and
   * limit/offset, newest-first (ties by cid) — semantics of
   * `cmd/vaults/commands.go:427-586` (`--at` ⇒ before=after=at;
   * `--latest N` ⇒ limit=N, offset=0). Served from the vault's snapshot
   * as a local frame of (cid, timestamp, is_archived, cache_expiry): no
   * Spark job while the snapshot is current.
   */
  def listEvents(vault: VaultName,
                 before: Option[Long] = None, after: Option[Long] = None,
                 at: Option[Long] = None,
                 limit: Option[Int] = None, offset: Option[Int] = None): DataFrame = {
    require(limit.forall(_ >= 0) && offset.forall(_ >= 0),
      s"limit and offset must not be negative: $limit, $offset")
    val (b, a) = at.map(t => (Some(t), Some(t))).getOrElse((before, after))
    val hits = eventRows(Seq(vault.toString))(vault.toString).iterator
      .filter(r => b.forall(r.getLong(1) <= _) && a.forall(r.getLong(1) >= _))
      .drop(offset.getOrElse(0))
    frameOf(ListedSchema, limit.fold(hits)(hits.take)
      .map(r => Row(r.get(0), r.get(1), r.get(2), r.get(3))).toSeq: _*)
  }
}

object VaultCatalog {

  /** The vault catalog's rows, one per create (M1). */
  val VaultsSchema: StructType =
    StructType.fromDDL("vault STRING, account STRING, cache_duration INT, created_seq BIGINT")

  /** The event log's rows; `vault` is its partition column. */
  val EventsSchema: StructType = StructType.fromDDL(
    "cid STRING, timestamp BIGINT, is_archived BOOLEAN, cache_expiry TIMESTAMP, " +
      "digest STRING, window BIGINT, vault STRING")

  /** An event file's columns: the event log's but its partition column. */
  private val EventFileSchema: StructType = StructType(EventsSchema.dropRight(1))

  /** The columns a listing returns. */
  private val ListedSchema: StructType = StructType(EventsSchema.take(4))

  /** Newest first, ties by cid: the listing order. */
  private val Newest: Ordering[Row] =
    Ordering.by((r: Row) => r.getLong(1)).reverse.orElseBy(_.getString(0))

  /** By vault, then `created_seq` (an unsequenced row first). */
  private val ByCreate: Ordering[Row] =
    Ordering.by((r: Row) => (r.getString(0), if (r.isNullAt(3)) Long.MinValue else r.getLong(3)))

  /** A directory's rows and the data files they were read from. */
  private final case class Snapshot(key: Vector[(String, Long, Long)], rows: IndexedSeq[Row])
  private object Snapshot {
    val Empty: Snapshot = Snapshot(Vector.empty, IndexedSeq.empty)
  }

  /**
   * Retention/archival view of an upload log — the provider-side
   * computation behind `EventInfo.IsArchived`/`CacheExpiry`
   * (`internal/app/models.go:40-46`, rendered at
   * `cmd/vaults/commands.go:556-582`): an upload stays in the hot cache
   * for its vault's `cache_duration` minutes after its upload time, and
   * once `asOf` passes that expiry only the archived copy remains. A
   * vault with no (or non-positive) cache duration never caches — its
   * expiry is epoch 0 and the upload is archived from the start, the
   * convention [[VaultCatalog.appendEvents]] records.
   *
   * `uploads` needs (`vault`, `ts_us` — upload time in epoch micros);
   * `vaultDims` needs (`vault`, `cache_duration` minutes). Adds
   * `cache_expiry_us` and `is_archived`. The vault dimension is tiny by
   * construction (one row per vault) → broadcast join, no shuffle of the
   * upload log at any scale.
   */
  def withArchivalStatus(uploads: DataFrame, vaultDims: DataFrame,
                         asOfUs: Column): DataFrame =
    uploads.join(broadcast(vaultDims), Seq("vault"), "left")
      .withColumn("cache_expiry_us",
        when(col("cache_duration").isNotNull && col("cache_duration") > 0,
          col("ts_us") + col("cache_duration").cast("long") * 60000000L)
        .otherwise(lit(0L)))
      .withColumn("is_archived", (col("cache_expiry_us") <= asOfUs).cast("long"))
      .drop("cache_duration")
}
