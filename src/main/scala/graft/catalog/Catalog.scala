package graft.catalog

import graft.core.{Account, VaultName}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
    rowOf(VaultsSchema, vault.toString, account.address, cacheDurationMins, nextSeq)
      .write.mode("append").parquet(vaultsPath)
  }

  /** The store at `path` read with `schema`, or an empty frame of it
    * when the store is not there yet ([[graft.core.FsUtil.readIfPresent]]).
    * Anything but absence propagates: a swallow-all would let a corrupt
    * `vaults` store read as empty (the next create restarting
    * `created_seq` at 1) and let appendEvent's ifAbsent dedupe read
    * dup=false off a failed `events` read and silently append a
    * duplicate. */
  private def readOrEmpty(schema: StructType, path: String): DataFrame =
    graft.core.FsUtil.readIfPresent(spark.read.schema(schema).parquet(path)).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))

  /** A one-row frame of `schema`: the stores are written with the schema
    * they are read with. */
  private def rowOf(schema: StructType, values: Any*): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(values: _*)), schema)

  def vaults: DataFrame = readOrEmpty(VaultsSchema, vaultsPath)

  /** Q1: list vaults for an account. */
  def listVaults(account: Account): DataFrame =
    vaults.where(col("account") === account.address)
      .select(col("vault"), col("cache_duration"))
      .orderBy(col("vault"))

  /** Cache duration (minutes) configured at vault create, if any —
    * the row with the highest `created_seq` wins if the vault was
    * re-created (deterministic, unlike file enumeration order). */
  def cacheDurationOf(vault: VaultName): Option[Int] =
    vaults.where(col("vault") === vault.toString)
      .orderBy(col("created_seq").desc)
      .select("cache_duration").limit(1).collect()
      .headOption.map(_.getInt(0))

  /** Hot-cache expiry for an upload at `timestampSec` to this vault:
    * ts + cache_duration minutes (the reference's provider computes the
    * same from the `cache` form field, provider.go:39-64); epoch 0 when
    * the vault has no cache duration (never cached / unknown vault). */
  def cacheExpiryFor(vault: VaultName, timestampSec: Long): java.sql.Timestamp =
    cacheDurationOf(vault) match {
      case Some(mins) if mins > 0 =>
        new java.sql.Timestamp((timestampSec + mins * 60L) * 1000L)
      case _ => new java.sql.Timestamp(0L)
    }

  /** P8/M1: record an uploaded file event. */
  /** `digest`: optional ECMH multiset digest of the artifact's ROWS
    * (hex, reference `MultisetHash.String()` form) — lets a reader
    * verify retrieved content against the catalog without trusting the
    * transport; "" when the writer didn't compute one.
    *
    * `ifAbsent = true` makes the append IDEMPOTENT on (vault, cid,
    * window): a crash-replay that re-publishes the same content (the
    * event-time sink's at-least-once window republish — `VaultSink`
    * replays a window whose publish landed but whose watermark commit
    * didn't) re-derives the same cid FOR THE SAME WINDOW, and the
    * second append becomes a no-op instead of a duplicate listing row.
    * The `window` token scopes the dedupe to actual replays: a LATER
    * window that legitimately emits byte-identical content (same cid,
    * different window) is a distinct event and appends normally — its
    * newer timestamp and refreshed cache_expiry land in the log like
    * the reference's append-always semantics (advisor r13). With no
    * window token (window < 0) the dedupe falls back to (vault, cid).
    * It stays OFF by default because a deliberate re-upload of
    * identical content IS an event — the content-addressed cid
    * legitimately repeats in the log (`CompactorSpec` pins that
    * listing semantic). The existence check is a vault-partition-pruned
    * read of one vault's events — catalog-sized, not corpus-sized.
    * Single-writer per vault (one streaming query owns a vault's
    * exports) is the concurrency contract that makes read-then-append
    * sound. */
  def appendEvent(vault: VaultName, cid: String, timestampSec: Long,
                  isArchived: Boolean, cacheExpiry: java.sql.Timestamp,
                  digest: String = "", ifAbsent: Boolean = false,
                  window: Long = -1L): Unit = {
    // `events` reads a store that is not there yet as empty and throws
    // on any other read failure: a failed probe must not degrade to
    // append-always, the exact duplicate the flag exists to prevent.
    val dup = ifAbsent && {
      val base = events.where(col("vault") === vault.toString && col("cid") === cid)
      // Pre-window event files read window = NULL; NULL === w is never
      // true, so legacy rows can't suppress a new window's append.
      val scoped = if (window >= 0L) base.where(col("window") === window) else base
      scoped.head(1).nonEmpty
    }
    if (!dup)
      rowOf(EventsSchema, cid, timestampSec, isArchived, cacheExpiry, digest, window,
          vault.toString)
        .write.mode("append").partitionBy("vault").parquet(eventsPath)
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
   * `cacheExpiryFor` convention above.
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
