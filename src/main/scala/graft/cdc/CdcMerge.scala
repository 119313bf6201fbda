package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * CDC merge/upsert materialization: collapse an I/U/D change stream to
 * the LATEST live row per primary key.
 *
 * The reference replays every record as an append (`internal/app/db.go:
 * 254-289`) and documents updates/deletes as unsupported
 * (`/root/reference/README.md:146`); consumers wanting current state must
 * post-process the appended images. This operator IS that post-process,
 * Spark-native: one hash aggregation keyed on the primary key taking
 * `max_by(row, (commit_lsn, record_idx))` — WAL commit order — then
 * dropping keys whose final image is a DELETE.
 *
 * Scale shape: a single shuffle on the PK (map-side partial max_by
 * applies), no window sort, no join; state per key is one row regardless
 * of change-stream depth. The same plan works incrementally in
 * `foreachBatch` against a keyed sink.
 */
object CdcMerge {

  private def pkOf(schema: TableSchema): Seq[String] = {
    val pk = schema.columns.filter(_.isPrimary).map(_.name)
    require(pk.nonEmpty, s"table ${schema.table} has no primary key — cannot merge")
    pk
  }

  /** Typed change rows with their ordering keys retained:
    * (action, commit_lsn, record_idx, <table columns…>).
    *
    * wal2json format-2 puts the OLD key values of U/D records in
    * `identity`, not `columns` — a DELETE has no `columns` at all. The
    * pivot therefore reads a D record's values from `identity`, and PK
    * columns additionally coalesce from `identity` whenever `columns`
    * yields NULL (e.g. a feed with REPLICA IDENTITY where the new tuple
    * omits unchanged key columns). Precondition that remains: an UPDATE
    * that *changes* the PK value merges as its new key (the old key's row
    * survives) — handling PK-rewrites needs a delete+insert split
    * upstream. `strict` applies [[PgValueDecoder.schemaDriftGuard]] to
    * I/U records BEFORE the D-identity substitution (a DELETE's
    * identity-only column list is not drift).
    */
  private def typedWithOrder(lines: DataFrame, schema: TableSchema,
                             strict: Boolean, numericAsDecimal: Boolean,
                             driftMode: DriftMode): DataFrame = {
    val changes = WalDecoder.decodeRecords(lines,
        recordFields = Some(Seq("action", "table", "columns", "identity")))
      .where(col("action").isin("I", "U", "D"))
    val records = WalDecoder.routeGated(changes, schema, strict, driftMode)
      .withColumn("columns",
        when(col("action") === "D" &&
             (col("columns").isNull || size(col("columns")) === 0), col("identity"))
          .otherwise(col("columns")))
    val pivoted = PgValueDecoder.pivotToTable(records, schema,
      keepCols = Seq("action", "commit_lsn", "record_idx", "identity"),
      numericAsDecimal = numericAsDecimal)
    val withPk = schema.columns.filter(_.isPrimary).foldLeft(pivoted) { (df, tc) =>
      val fromIdentity = PgValueDecoder.decode(
        get(filter(col("identity"), x => x.getField("name") === tc.name), lit(0))
          .getField("value"), tc.pgType, numericAsDecimal)
      df.withColumn(tc.name, coalesce(col(tc.name), fromIdentity))
    }
    withPk.drop("identity")
  }

  /** max_by merge of ordered change rows → live rows (order keys kept so
    * the result can be merged again with later changes). */
  private def mergeLatest(changes: DataFrame, schema: TableSchema): DataFrame = {
    val dataCols = Seq("action", "commit_lsn", "record_idx") ++ schema.columns.map(_.name)
    changes
      .groupBy(pkOf(schema).map(col): _*)
      .agg(max_by(
        struct(dataCols.map(col): _*),
        struct(col("commit_lsn"), col("record_idx"))).as("r"))
      .where(col("r.action") =!= "D")
      .select(dataCols.map(c => col(s"r.$c").as(c)): _*)
  }

  /**
   * Latest-state table from raw wal2json tx lines for one table schema.
   * Ordering key is (commit_lsn, record_idx): commit order between
   * transactions, wire order within one.
   */
  def latestState(lines: DataFrame, schema: TableSchema,
                  strict: Boolean = false,
                  numericAsDecimal: Boolean = false,
                  driftMode: DriftMode = DriftMode.Prefix): DataFrame =
    mergeLatest(typedWithOrder(lines, schema, strict, numericAsDecimal,
      driftMode), schema)
      .select(schema.columns.map(c => col(c.name)): _*)

  /** Canonical row bytes of the schema's columns in declaration order:
    * the from-scratch and the incremental digest paths share it. */
  private def canonicalRow(schema: TableSchema): org.apache.spark.sql.Column =
    graft.crypto.EcmhAggregator.canonicalRow(schema.columns.map(_.name))

  /**
   * ECMH digest of a state table, from scratch: one distributed pass,
   * `encode(Base + Σ deriveDalek(row))` — reference `MultisetHash`
   * semantics over canonical row encodings. O(table).
   */
  def stateDigest(state: DataFrame, schema: TableSchema): String =
    state.agg(graft.crypto.EcmhAggregator.digest(canonicalRow(schema)).as("d"))
      .collect()(0).getString(0)

  /** Pure point sum (no Base offset) of a set of rows, as hex. */
  private def rowsPointSum(rows: DataFrame, schema: TableSchema): String =
    rows.agg(graft.crypto.EcmhAggregator.pointSum(canonicalRow(schema)).as("d"))
      .collect()(0).getString(0)

  /** Render an accumulated point-sum as the reference-form digest. */
  private def digestOfSum(sumHex: String): String = {
    import graft.crypto.{Ecmh, Ristretto255}
    Ecmh.encodeHex(Ristretto255.Base + Ecmh.decodeHex(sumHex))
  }

  /**
   * Streaming maintenance of the catalog's retention/archival view
   * ([[graft.catalog.VaultCatalog.withArchivalStatus]], reference
   * `internal/app/models.go:40-46`): when passed to
   * [[streamingLatestState]], every committed state version also carries
   * an `_archival` parquet (the merged rows + `vault`, `ts_us`,
   * `cache_expiry_us`, `is_archived`) written BEFORE the pointer flip —
   * the same atomic commit as the data, so catalog readers
   * ([[readArchival]]) always see a retention view consistent with the
   * live state, fresh under ingest instead of batch-recomputed.
   *
   * `vault` / `tsUs` are expressions over the state table's columns
   * (vault routing key; upload time in epoch micros). `asOfUs = None`
   * derives the as-of instant from the data (max ts_us of the live
   * state — deterministic, like `q_events_expiry`); pass a fixed value
   * to pin it. `vaultDims` is the tiny (vault, cache_duration-minutes)
   * dimension — broadcast, never a shuffle of the state.
   */
  final case class ArchivalSpec(
      vaultDims: DataFrame,
      vault: org.apache.spark.sql.Column,
      tsUs: org.apache.spark.sql.Column,
      asOfUs: Option[Long] = None)

  /** Compute the archival view of a state table per `spec` — the SAME
    * function the streaming path materializes per version, exposed so
    * batch recomputation and specs can assert batch ≡ streaming. */
  def archivalView(state: DataFrame, spec: ArchivalSpec): DataFrame = {
    val uploads = state
      .withColumn("vault", spec.vault)
      .withColumn("ts_us", spec.tsUs)
    val asOfd = spec.asOfUs match {
      case Some(fixed) => uploads.withColumn("__graft_asof", lit(fixed))
      case None => uploads.crossJoin(
        broadcast(uploads.agg(max(col("ts_us")).as("__graft_asof"))))
    }
    graft.catalog.VaultCatalog
      .withArchivalStatus(asOfd, spec.vaultDims, col("__graft_asof"))
      .drop("__graft_asof")
  }

  /**
   * Streaming form: maintain a materialized latest-state parquet table
   * from a WAL line stream, one merge per micro-batch in `foreachBatch`.
   *
   * Each batch unions the prior state (live rows carrying their order
   * keys) with the batch's typed changes and re-merges — new keys insert,
   * higher-LSN images replace, DELETE images drop the key. State is
   * VERSIONED: each batch writes a fresh `state-v<batchId>` directory under
   * `stateDir`, then flips the `CURRENT` pointer file via an ATOMIC_MOVE
   * rename — the single commit point. A crash at any step leaves either
   * the old pointer (batch replays, version dir is overwritten
   * idempotently) or the new pointer (batch complete); the live state dir
   * is never deleted-then-replaced, so no crash window can lose prior
   * state and external readers (via [[readState]]) always resolve a fully
   * written version. Superseded versions are GC'd only after the flip.
   * Requires the source's guarantee that batches arrive in commit-LSN
   * order (no cross-batch late data) — exactly what
   * [[graft.cdc.source.WalSource]] provides.
   *
   * Scale shape: one shuffle per batch keyed on the PK; state volume is
   * one row per live key. At warehouse scale the same merge runs against
   * a keyed table format instead of the parquet swap.
   *
   * `withDigest = true` additionally maintains the table's ECMH multiset
   * digest INCREMENTALLY: per batch, only rows under changed primary
   * keys are hashed — removed images subtract, surviving images add —
   * and the accumulated point is stored (as its 32-byte hex encoding)
   * in a `_digest` file inside the version directory (underscore: ignored by parquet directory scans), committed by the
   * same pointer flip as the data. Cost per batch is O(changed keys),
   * not O(table): the homomorphism (`pkg/ecmh/ecmh.go:41-48`) is what
   * makes a 100 TB table's integrity digest maintainable at streaming
   * rates. [[readStateDigest]] must equal the from-scratch
   * [[stateDigest]] of [[readState]] at every version (spec-pinned).
   */
  def streamingLatestState(spark: org.apache.spark.sql.SparkSession,
                           walDir: String, schema: TableSchema,
                           stateDir: String, checkpointDir: String,
                           availableNow: Boolean = true,
                           triggerSeconds: Long = 10L,
                           withDigest: Boolean = false,
                           strictSchema: Boolean = true,
                           driftMode: DriftMode = DriftMode.Exact,
                           numericAsDecimal: Boolean = false,
                           archival: Option[ArchivalSpec] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.streaming.Trigger
    val stream = spark.readStream.format("graft-wal")
      .option("path", walDir).load()
    val writer = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(triggerSeconds * 1000L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import java.nio.file.{Files, Paths, StandardCopyOption}
        val s = batch.sparkSession
        val changes = typedWithOrder(batch, schema, strictSchema,
          numericAsDecimal, driftMode)
        val stateRoot = Paths.get(stateDir)
        Files.createDirectories(stateRoot)
        val prior = readState(s, stateDir).getOrElse(
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            changes.schema))
        val merged = mergeLatest(prior.unionByName(changes), schema)
        val version = f"state-v$batchId%012d"
        // cache when read more than once: write + delta hash + archival
        if (withDigest || archival.isDefined) merged.cache()
        merged.write.mode("overwrite").parquet(stateRoot.resolve(version).toString)
        // archival/retention view of THIS version, committed by the same
        // pointer flip (underscore dir: invisible to parquet scans of
        // the version, like _digest)
        archival.foreach { a =>
          archivalView(merged, a).write.mode("overwrite")
            .parquet(stateRoot.resolve(version).resolve("_archival").toString)
        }
        if (withDigest) {
          import graft.crypto.{Ecmh, Ristretto255}
          val pk = pkOf(schema)
          // rows whose key is touched this batch: their PRIOR image
          // leaves the digest, their MERGED image (if it survived the
          // merge — deletes don't) enters it
          val touched = changes.select(pk.map(col): _*).distinct()
          val removed = prior.join(touched, pk, "left_semi")
          val added = merged.join(touched, pk, "left_semi")
          // prior accumulated sum: the CURRENT version's digest file;
          // a pre-digest state (feature enabled mid-stream) falls back
          // to one full scan of the prior rows
          val priorSum =
            if (resolveCurrent(stateDir).isEmpty) Ristretto255.Identity
            else resolveCurrent(stateDir, "_digest")
              .map(f => Ecmh.decodeHex(Files.readString(f).trim))
              .getOrElse(Ecmh.decodeHex(rowsPointSum(prior, schema)))
          val next = priorSum + Ecmh.decodeHex(rowsPointSum(added, schema)) -
            Ecmh.decodeHex(rowsPointSum(removed, schema))
          Files.writeString(stateRoot.resolve(version).resolve("_digest"),
            Ecmh.encodeHex(next))
        }
        if (withDigest || archival.isDefined) merged.unpersist()
        // commit point: pointer flip via atomic rename (same filesystem)
        val tmp = stateRoot.resolve("CURRENT.tmp")
        Files.writeString(tmp, version)
        Files.move(tmp, stateRoot.resolve("CURRENT"),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        // GC strictly after the flip, RETAINING the newest superseded
        // version: an external reader that resolved CURRENT just before
        // the flip may still be scanning it — one version of grace
        // covers any read that began under the previous pointer.
        // (Orphans from crashed batches sort below the retained pair
        // and are collected here too.)
        val versions = graft.core.FsUtil.listDir(stateRoot)
          .filter(_.getFileName.toString.startsWith("state-v"))
          .map(_.getFileName.toString).sorted
        val keep = (versions.filter(_ < version).takeRight(1) :+ version).toSet
        versions.filterNot(keep)
          .foreach(v => graft.core.FsUtil.deleteRecursive(stateRoot.resolve(v)))
        ()
      }
    writer.start()
  }

  /** The version directory that the `CURRENT` pointer of a
    * [[streamingLatestState]] dir names — or `child` inside it — when
    * it exists; None before the first committed batch. */
  private def resolveCurrent(stateDir: String, child: String*): Option[java.nio.file.Path] = {
    import java.nio.file.{Files, Paths}
    val cur = Paths.get(stateDir, "CURRENT")
    if (!Files.exists(cur)) None
    else Some(Paths.get(stateDir, (Files.readString(cur).trim +: child): _*))
      .filter(Files.exists(_))
  }

  /** Resolve the live state written by [[streamingLatestState]]: follow
    * the `CURRENT` pointer to its version directory. None before the
    * first committed batch. */
  def readState(spark: org.apache.spark.sql.SparkSession,
                stateDir: String): Option[DataFrame] =
    resolveCurrent(stateDir).map(p => spark.read.parquet(p.toString))

  /** The archival/retention view committed with the live state version
    * (`archival = Some(...)` on [[streamingLatestState]]); equal to
    * [[archivalView]] of [[readState]] at every version, without
    * recomputation. None before the first committed batch or when the
    * stream runs without archival maintenance. */
  def readArchival(spark: org.apache.spark.sql.SparkSession,
                   stateDir: String): Option[DataFrame] =
    resolveCurrent(stateDir, "_archival").map(p => spark.read.parquet(p.toString))

  /** The incrementally-maintained ECMH digest of the live state, in the
    * reference's `MultisetHash.String()` form — equal to
    * `stateDigest(readState(...))` without rescanning the table. None
    * before the first committed batch or when the stream runs without
    * `withDigest`. */
  def readStateDigest(stateDir: String): Option[String] =
    resolveCurrent(stateDir, "_digest")
      .map(f => digestOfSum(java.nio.file.Files.readString(f).trim))
}
