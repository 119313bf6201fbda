package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Decodes a stream/batch of wal2json transaction lines into row-change
 * records and typed per-table DataFrames.
 *
 * Spark-native equivalent of the reference's replication consume + replay
 * path (`pkg/pgrepl/replicator.go:235-284` decode,
 * `internal/app/db.go:254-289` replay): instead of generating SQL INSERT
 * text per record, the whole decode is one declarative plan —
 * `from_json` → `explode(records)` → action filter → typed pivot — which
 * Catalyst pipelines and whole-stage-codegens. No shuffle anywhere: the
 * plan is narrow from text line to typed row.
 */
object WalDecoder {

  /** Parsed tx envelope (commit_lsn, records) → one row per WAL record.
    * Malformed-line skip is free: a failed parse yields a null `records`
    * array and `posexplode` of null emits no rows. */
  private[cdc] def explodeTx(parsed: DataFrame): DataFrame =
    parsed
      .select(col("commit_lsn"),
              posexplode(col("records")).as(Seq("record_idx", "r")))
      .select(col("commit_lsn"), col("record_idx"), col("r.*"))

  /** Raw text lines (one JSON tx per line) → one row per WAL record via
    * `from_json` — the STREAMING decode path (a socket/file-stream feed
    * has no scan to push parsing into). `recordFields = Some(...)`
    * projects the parse schema to just those record fields (cheaper JSON
    * decode on the replay hot path).
    *
    * Plan caveat, measured: optimizer rules (predicate pushdown alias
    * substitution, InferFiltersFromGenerate) duplicate the `from_json` —
    * a CodegenFallback expression with no subexpression elimination —
    * into derived null/size filters, so each line parses ~3x. For BATCH
    * decode of an on-disk feed use [[decodeTablesFromDir]], which parses
    * once at the scan. */
  def decodeRecords(lines: DataFrame,
                    recordFields: Option[Seq[String]] = None): DataFrame = {
    val valueCol = lines.columns.headOption.getOrElse("value")
    val schema = recordFields.fold(WalModel.txSchema)(WalModel.txSchemaProjected)
    explodeTx(lines
      .select(from_json(col(valueCol), schema).as("tx"))
      .select(col("tx.commit_lsn").as("commit_lsn"), col("tx.records").as("records")))
  }

  /** A WAL text-feed directory parsed by the json DATA SOURCE: each line
    * is parsed exactly once at the scan (PERMISSIVE mode nulls malformed
    * lines), the record-field projection is real column pruning in the
    * reader, and no optimizer rule can duplicate the parse — unlike the
    * `from_json` expression path (see [[decodeRecords]]). This is the
    * batch decode entry for everything already spooled to disk. */
  def parseTxDir(spark: SparkSession, dir: String,
                 recordFields: Option[Seq[String]] = None): DataFrame = {
    val schema = recordFields.fold(WalModel.txSchema)(WalModel.txSchemaProjected)
    spark.read.schema(schema).json(dir)
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

  /** Per-table route → drift gate → typed pivot, the shared body of the
    * table decoders. Under `strict` an I/U record must match the
    * stream-start schema ([[PgValueDecoder.schemaDriftGuard]]); D records
    * pass (a real wal2json DELETE carries only `identity`). */
  private def tablesOf(records: DataFrame, schemas: Seq[TableSchema],
                       strict: Boolean, driftMode: DriftMode,
                       numericAsDecimal: Boolean,
                       keepCols: Seq[String] = Nil): Map[String, DataFrame] =
    schemas.map { ts =>
      val routed = records.where(col("table") === ts.table)
      val gated =
        if (!strict) routed
        else routed.where(
          // table scope INSIDE the guard: robust even if an optimizer rule
          // reorders this conjunct relative to the table-routing filter
          when(col("table") === ts.table && col("action").isin("I", "U"),
            PgValueDecoder.schemaDriftGuard(ts, driftMode)).otherwise(lit(true)))
      ts.table -> PgValueDecoder.pivotToTable(gated, ts, keepCols = keepCols,
        numericAsDecimal = numericAsDecimal)
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

  /** [[decodeTables]] over an on-disk feed directory, single-parse at the
    * scan via [[parseTxDir]]. Preferred for batch replay of spooled WAL. */
  def decodeTablesFromDir(
      spark: SparkSession,
      dir: String,
      schemas: Seq[TableSchema],
      replayActions: Set[String] = Set("I"),
      strict: Boolean = false,
      driftMode: DriftMode = DriftMode.Prefix,
      numericAsDecimal: Boolean = false): Map[String, DataFrame] =
    tablesOf(filterActions(
      explodeTx(parseTxDir(spark, dir,
        recordFields = Some(Seq("action", "table", "columns")))),
      replayActions), schemas, strict, driftMode, numericAsDecimal)
}
