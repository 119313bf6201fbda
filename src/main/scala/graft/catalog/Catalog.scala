package graft.catalog

import graft.core.{Account, VaultName}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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
 * Vault catalog + per-vault event log as DataFrames.
 *
 * Replaces the reference's provider-side HTTP catalog
 * (`pkg/vaultsprovider/provider.go:39-121`): `create` (M1) appends to the
 * vault catalog, `list` (Q1) filters by account, `events` (Q2) filters a
 * vault's event log by before/after with limit/offset — the reference's
 * only filter+limit "query" (`cmd/vaults/commands.go:427-586`).
 *
 * Storage: parquet directories under a root path, partition-friendly.
 * At scale the event log is `partitionBy(vault)` so per-vault queries
 * partition-prune instead of scanning the full log.
 *
 * Both stores are written only here, so their schemas are declared
 * ([[VaultCatalog.VaultsSchema]], [[VaultCatalog.EventsSchema]]) and every
 * read passes them to `spark.read.schema`: no Spark job runs just to
 * learn a schema from footers. A file written before a column existed
 * (events without `digest`/`window`, vaults without `created_seq`) reads
 * that column as NULL. A per-vault read opens only that vault's
 * partition, so a corrupt file in one vault fails that vault's reads and
 * whole-log reads, not another vault's listing.
 */
final case class VaultCatalog(spark: SparkSession, root: String) {
  import VaultCatalog.{EventsSchema, VaultsSchema}

  private def vaultsPath = s"$root/vaults"
  private def eventsPath = s"$root/events"

  /** M1: vault create — append a catalog row stamped with a monotonic
    * `created_seq` so "latest row wins" is well-defined (parquet file
    * enumeration order is arbitrary). Catalog mutations are single-writer
    * (CLI control plane), so read-max-then-append is race-free here. */
  def createVault(vault: VaultName, account: Account, cacheDurationMins: Int): Unit = {
    val nextSeq =
      vaults.agg(coalesce(max("created_seq"), lit(0L))).collect()(0).getLong(0) + 1L
    frameOf(VaultsSchema, Row(vault.toString, account.address, cacheDurationMins, nextSeq))
      .write.mode("append").parquet(vaultsPath)
  }

  /** The store at `path` read with `schema`, or an empty local frame of
    * it (no Spark job) when the store is not there yet
    * ([[graft.core.FsUtil.readIfPresent]]).
    * Anything but absence propagates: a swallow-all would let a corrupt
    * `vaults` store read as empty (the next create restarting
    * `created_seq` at 1) and let appendEvents' replay dedupe read
    * "not logged" off a failed `events` read and silently append a
    * duplicate. */
  private def readOrEmpty(schema: StructType, path: String): DataFrame =
    graft.core.FsUtil.readIfPresent(spark.read.schema(schema).parquet(path))
      .getOrElse(frameOf(schema))

  /** A frame of `rows` in `schema`: the stores are written with the
    * schema they are read with. */
  private def frameOf(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  def vaults: DataFrame = readOrEmpty(VaultsSchema, vaultsPath)

  /** Q1: list vaults for an account. */
  def listVaults(account: Account): DataFrame =
    vaults.where(col("account") === account.address)
      .select(col("vault"), col("cache_duration"))
      .orderBy(col("vault"))

  /** Cache duration (minutes) configured at vault create, if any. */
  def cacheDurationOf(vault: VaultName): Option[Int] =
    cacheDurations(Seq(vault)).get(vault.toString)

  /** The cache durations of `names` in one read: the row with the highest
    * `created_seq` wins if a vault was re-created (deterministic, unlike
    * file enumeration order; an unsequenced row loses to any other). */
  private def cacheDurations(names: Seq[VaultName]): Map[String, Int] =
    vaults.where(col("vault").isin(names.map(_.toString).distinct: _*))
      .select("vault", "cache_duration", "created_seq").collect()
      .groupBy(_.getString(0))
      .flatMap { case (vault, rows) =>
        val latest = rows.maxBy(r => if (r.isNullAt(2)) Long.MinValue else r.getLong(2))
        Option.when(!latest.isNullAt(1))(vault -> latest.getInt(1))
      }

  /** P8/M1: record uploaded artifacts' events in one append (one task,
    * so one file per vault per call). Each event's hot-cache expiry is
    * ts + its vault's `cache_duration` minutes (the reference's provider
    * computes the same from the `cache` form field, provider.go:39-64),
    * epoch 0 when the vault has none (never cached / unknown vault).
    *
    * An event with a window token is replay-safe: it is dropped when its
    * (vault, cid, window) is already in the log, so a crash-replayed
    * window, which re-derives the same content cid for the same window,
    * adds no listing row. A later window emitting byte-identical content
    * is a distinct (cid, window) and appends. An event without a window
    * always appends: a deliberate re-upload of identical content is an
    * event (`CompactorSpec` pins the repeated cid). The existence check
    * is one read pruned to the batch's vault partitions and cids; a
    * failed read throws rather than append a duplicate. Single-writer
    * per vault (one streaming query owns a vault's exports) makes
    * read-then-append sound. */
  def appendEvents(batch: Seq[UploadEvent]): Unit = if (batch.nonEmpty) {
    val mins = cacheDurations(batch.map(_.vault))
    val windowed = batch.filter(_.window.isDefined)
    // pre-window event files read window = NULL, which never equals a token
    val logged: Set[(String, String, Long)] =
      if (windowed.isEmpty) Set.empty
      else events
        .where(col("vault").isin(windowed.map(_.vault.toString).distinct: _*) &&
          col("cid").isin(windowed.map(_.cid).distinct: _*) && col("window").isNotNull)
        .select("vault", "cid", "window").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val fresh = batch.filterNot(e =>
      e.window.exists(w => logged((e.vault.toString, e.cid, w))))
    if (fresh.nonEmpty)
      frameOf(EventsSchema, fresh.map { e =>
        val expiryMs = mins.get(e.vault.toString).filter(_ > 0)
          .fold(0L)(m => (e.timestampSec + m * 60L) * 1000L)
        Row(e.cid, e.timestampSec, false, new java.sql.Timestamp(expiryMs), e.digest,
          e.window.map(Long.box).orNull, e.vault.toString)
      }: _*).coalesce(1).write.mode("append").partitionBy("vault").parquet(eventsPath)
  }

  def events: DataFrame = readOrEmpty(EventsSchema, eventsPath)

  /**
   * Q2: per-vault event listing with before/after/at/latest filters and
   * limit/offset, newest-first — semantics of
   * `cmd/vaults/commands.go:427-586` (`--at` ⇒ before=after=at;
   * `--latest N` ⇒ limit=N, offset=0). Partition pruning on `vault` makes
   * this an index lookup, not a scan, at scale.
   */
  def listEvents(vault: VaultName,
                 before: Option[Long] = None, after: Option[Long] = None,
                 at: Option[Long] = None,
                 limit: Option[Int] = None, offset: Option[Int] = None): DataFrame =
    VaultCatalog.filterEvents(events, vault, before, after, at, limit, offset)
}

object VaultCatalog {

  /** The vault catalog's rows, one per create (M1). */
  val VaultsSchema: StructType =
    StructType.fromDDL("vault STRING, account STRING, cache_duration INT, created_seq BIGINT")

  /** The event log's rows; `vault` is its partition column. */
  val EventsSchema: StructType = StructType.fromDDL(
    "cid STRING, timestamp BIGINT, is_archived BOOLEAN, cache_expiry TIMESTAMP, " +
      "digest STRING, window BIGINT, vault STRING")

  /** Q2 filter core, shared by the instance method (separated so the
    * archival view below can reuse the exact newest-first semantics). */
  private[catalog] def filterEvents(events: DataFrame, vault: VaultName,
                 before: Option[Long] = None, after: Option[Long] = None,
                 at: Option[Long] = None,
                 limit: Option[Int] = None, offset: Option[Int] = None): DataFrame = {
    val (b, a) = at.map(t => (Some(t), Some(t))).getOrElse((before, after))
    var df = events.where(col("vault") === vault.toString)
    b.foreach(t => df = df.where(col("timestamp") <= t))
    a.foreach(t => df = df.where(col("timestamp") >= t))
    df = df.orderBy(col("timestamp").desc, col("cid"))
    offset.foreach(o => df = df.offset(o))
    limit.foreach(n => df = df.limit(n))
    df.select("cid", "timestamp", "is_archived", "cache_expiry")
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
