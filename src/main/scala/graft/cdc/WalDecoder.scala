package graft.cdc

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Decodes a batch of wal2json transaction lines into row-change records
 * and typed per-table DataFrames.
 *
 * Spark-native equivalent of the reference's replication consume + replay
 * path (`pkg/pgrepl/replicator.go:235-284` decode,
 * `internal/app/db.go:254-289` replay): instead of generating SQL INSERT
 * text per record, the whole decode is one declarative plan — the JSON
 * data source parses each line once → `posexplode(records)` → action
 * filter → typed pivot. No shuffle anywhere: the plan is narrow from
 * text line to typed row. Every feed decodes here: a spooled directory
 * as `spark.read.text(dir)`, a stream per micro-batch in `foreachBatch`.
 */
object WalDecoder {

  /** Raw text lines (one JSON tx per line, in the first column) → one
    * row per WAL record. The JSON data source parses each line once;
    * `recordFields = Some(...)` projects the parse schema to just those
    * record fields (cheaper decode on the replay hot path), and filters
    * on `lines` such as [[actionPrefilter]] run below the parse.
    * Malformed-line skip is free: a line that fails to parse reads as a
    * null envelope (PERMISSIVE) and `posexplode` of a null `records`
    * emits no rows. */
  def decodeRecords(lines: DataFrame,
                    recordFields: Option[Seq[String]] = None): DataFrame = {
    val valueCol = lines.columns.headOption.getOrElse("value")
    val schema = recordFields.fold(WalModel.txSchema)(WalModel.txSchemaProjected)
    lines.sparkSession.read.schema(schema)
      .json(lines.select(col(valueCol)).as(Encoders.STRING))
      .select(col("commit_lsn"),
              posexplode(col("records")).as(Seq("record_idx", "r")))
      .select(col("commit_lsn"), col("record_idx"), col("r.*"))
  }

  /**
   * The documented append-only contract: only INSERT images are replayed
   * (`/root/reference/README.md:146`). The reference *code* actually
   * re-appends U and D images too (SURVEY §2.12); set
   * `replayActions = Set("I","U","D")` to reproduce that behavior for
   * differential testing.
   */
  def filterActions(records: DataFrame, replayActions: Set[String] = Set("I")): DataFrame =
    records.where(col("action").isin(replayActions.toSeq: _*))

  /**
   * Text-level pre-filter pushed BELOW the JSON parse: a tx line whose
   * raw text lacks every `"action":"X"` marker for the replayed actions
   * cannot contain a replayed record, so it never pays the Jackson
   * decode. Conservative (superset) — a value field that happens to
   * contain the marker just passes through to the exact post-parse
   * filter. With the append-only contract (I only) this skips ~all
   * U/D-only transactions at the scan, the dominant cost of the decode
   * path. Both wal2json spacings (`"action": "I"` / `"action":"I"`)
   * are matched.
   */
  def actionPrefilter(lines: DataFrame, replayActions: Set[String]): DataFrame = {
    val valueCol = lines.columns.headOption.getOrElse("value")
    val anyMarker = replayActions.toSeq.sorted.flatMap { a =>
      Seq(col(valueCol).contains(s""""action":"$a""""),
          col(valueCol).contains(s""""action": "$a""""))
    }.reduce(_ || _)
    lines.where(anyMarker)
  }

  /** `records` routed to `ts.table`. Under `strict` an I/U record must
    * match the stream-start schema ([[PgValueDecoder.schemaDriftGuard]]);
    * D records pass (a real wal2json DELETE carries only `identity`). */
  private[cdc] def routeGated(records: DataFrame, ts: TableSchema,
                              strict: Boolean, driftMode: DriftMode): DataFrame = {
    val routed = records.where(col("table") === ts.table)
    if (!strict) routed
    else routed.where(
      // table scope INSIDE the guard: robust even if an optimizer rule
      // reorders this conjunct relative to the table-routing filter
      when(col("table") === ts.table && col("action").isin("I", "U"),
        PgValueDecoder.schemaDriftGuard(ts, driftMode)).otherwise(lit(true)))
  }

  /** Per-table route → drift gate → typed pivot, the shared body of the
    * table decoders. */
  private def tablesOf(records: DataFrame, schemas: Seq[TableSchema],
                       strict: Boolean, driftMode: DriftMode,
                       numericAsDecimal: Boolean,
                       keepCols: Seq[String] = Nil): Map[String, DataFrame] =
    schemas.map { ts =>
      ts.table -> PgValueDecoder.pivotToTable(routeGated(records, ts, strict, driftMode),
        ts, keepCols = keepCols, numericAsDecimal = numericAsDecimal)
    }.toMap

  /** Full batch decode: lines → Map(table → typed DataFrame).
    * `strict = true` applies the mid-stream DDL contract: any I/U record
    * whose columns diverge from `schemas` raises instead of silently
    * projecting ([[PgValueDecoder.schemaDriftGuard]]). */
  def decodeTables(
      spark: SparkSession,
      lines: DataFrame,
      schemas: Seq[TableSchema],
      replayActions: Set[String] = Set("I"),
      strict: Boolean = false,
      driftMode: DriftMode = DriftMode.Prefix,
      numericAsDecimal: Boolean = false): Map[String, DataFrame] =
    // replay needs only routing + payload fields; skip xid/lsn/pk/etc.
    tablesOf(filterActions(
      decodeRecords(actionPrefilter(lines, replayActions),
        recordFields = Some(Seq("action", "table", "columns"))),
      replayActions), schemas, strict, driftMode, numericAsDecimal)

  /** [[decodeTables]] additionally carrying each record's wal2json
    * commit timestamp parsed to a `__graft_ts` TimestampType column —
    * the EVENT-TIME axis for windowed export
    * ([[graft.engine.VaultSink]]'s `eventTime` mode), which also takes
    * its watermark input from these rows. Both wal2json spellings parse:
    * the offset-bearing live form (`2023-08-22 14:44:02.043586-03`) and
    * the offset-less spool form; an unparseable timestamp yields NULL
    * (callers treat it as droppable-late rather than failing the
    * stream). `try_`: ANSI to_timestamp throws on unparseable input. */
  def decodeTablesWithTs(
      spark: SparkSession,
      lines: DataFrame,
      schemas: Seq[TableSchema],
      replayActions: Set[String] = Set("I"),
      strict: Boolean = false,
      driftMode: DriftMode = DriftMode.Prefix,
      numericAsDecimal: Boolean = false): Map[String, DataFrame] = {
    val records = filterActions(
      decodeRecords(actionPrefilter(lines, replayActions),
        recordFields = Some(Seq("action", "table", "columns", "timestamp"))),
      replayActions)
      .withColumn("__graft_ts", coalesce(
        try_to_timestamp(col("timestamp"), lit("yyyy-MM-dd HH:mm:ss[.SSSSSS][xxx][xx][x]")),
        try_to_timestamp(col("timestamp"))))
    tablesOf(records, schemas, strict, driftMode, numericAsDecimal,
      keepCols = Seq("__graft_ts"))
  }
}
