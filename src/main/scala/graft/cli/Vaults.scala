package graft.cli

import graft.catalog.VaultCatalog
import graft.cdc.TableSchema
import graft.core.{Account, VaultName}
import graft.crypto.Signer
import graft.engine._
import java.nio.file.{Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Thin command layer mirroring the reference's `vaults` CLI surface
 * (`cmd/vaults/main.go:25-46`): create, list, events, write, stream,
 * retrieve, account create/address, sign. Each command is a small method
 * over the engine — a user of the reference can drive the same verbs.
 */
final class Vaults(
    spark: SparkSession,
    providerRoot: String,
    format: OutputFormat = OutputFormat.Table) {

  private val catalog = VaultCatalog(spark, providerRoot)
  private val store = new LocalContentStore(s"$providerRoot/store")

  /** M1: `vaults create ns.rel --account 0x... --cache N` */
  def create(vault: String, account: String, cacheDurationMins: Int = 0): Unit = {
    val v = VaultName.unsafe(vault)
    val a = Account.parse(account).fold(e => throw new IllegalArgumentException(e), identity)
    catalog.createVault(v, a, cacheDurationMins)
  }

  /** Q1: `vaults list --account 0x...` */
  def list(account: String): String = {
    val a = Account.parse(account).fold(e => throw new IllegalArgumentException(e), identity)
    format.render(catalog.listVaults(a))
  }

  /** Q2: `vaults events ns.rel [--before|--after|--at|--latest|--limit|--offset]` */
  def events(vault: String, before: Option[Long] = None, after: Option[Long] = None,
             at: Option[Long] = None, latest: Option[Int] = None,
             limit: Option[Int] = None, offset: Option[Int] = None): String = {
    val (lim, off) = latest.map(n => (Some(n), Some(0))).getOrElse((limit, offset))
    format.render(catalog.listEvents(VaultName.unsafe(vault), before, after, at, lim, off))
  }

  /** B1: `vaults write file.parquet --vault ns.rel [--timestamp ts]` */
  def write(vault: String, file: String, keyHex: Option[String] = None,
            timestamp: Option[String] = None): String =
    BatchWrite.write(spark, VaultName.unsafe(vault), Paths.get(file), store,
      keyHex.map(Signer.fromHex), Some(catalog), timestamp)

  /** S1-P10: `vaults stream ns.rel --wal-dir ... --window-size N` */
  def stream(vault: String, schemas: Seq[TableSchema], walDir: String,
             workDir: String, windowSeconds: Long = 3600L,
             keyHex: Option[String] = None,
             availableNow: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery = {
    val v = VaultName.unsafe(vault)
    StreamPipeline.start(spark, v.namespace, schemas, walDir,
      s"$workDir/staging", s"$workDir/checkpoint", store,
      keyHex.map(Signer.fromHex), Some(catalog), windowSeconds, availableNow)
  }

  /** Beyond-reference: `vaults compact ns.rel` — consolidate the vault's
    * window artifacts into one (small-files maintenance); returns the
    * new cid, or None when there's nothing to compact. */
  def compact(vault: String, keyHex: Option[String] = None): Option[String] =
    Compactor.compact(spark, VaultName.unsafe(vault), store, catalog,
      stagingDir = s"$providerRoot/compact-staging",
      signer = keyHex.map(Signer.fromHex))

  /** Beyond-reference: `vaults curate <in.parquet> <out.parquet>` — the
    * training-corpus pass (quality gate → keep-best near-dedup) over a
    * documents table (`doc_id`, `text`[, `n_chars`]); returns
    * (rows_in, rows_kept). */
  def curate(inParquet: String, outParquet: String,
             jaccardThreshold: Double = 0.8): (Long, Long) = {
    import org.apache.spark.sql.functions._
    import graft.ops.{Dedup, TextAnalysis}
    val raw = spark.read.parquet(inParquet)
    val docs =
      if (raw.columns.contains("n_chars")) raw
      else raw.withColumn("n_chars", length(col("text")).cast("long"))
    val t = col("text")
    val nTok = TextAnalysis.tokenCount(t)
    val meanWlen = round(length(replace(t, lit(" "), lit(""))).cast("double") /
      greatest(nTok, lit(1L)).cast("double"), 6)
    val passing = docs.where(nTok.between(10, 5000) &&
      TextAnalysis.dupRatio(t) <= 0.9 && meanWlen.between(2.0, 12.0))
    val curated = Dedup.deduplicateKeepBest(passing, score = col("n_chars"),
      jaccardThreshold = jaccardThreshold)
    curated.write.mode("overwrite").parquet(outParquet)
    (docs.count(), spark.read.parquet(outParquet).count())
  }

  /** Q3: `vaults retrieve <cid> [--output file|-]` */
  def retrieve(cid: String, output: String = "-"): Boolean =
    new Retriever(store).retrieveTo(cid, output)

  /** Beyond-reference: `vaults verify <vault> <cid>` — retrieve the
    * artifact and check its rows against the ECMH digest recorded on its
    * catalog event. The event is looked up in the vault's catalog
    * snapshot (no Spark job while it is current). Returns Some(true/false)
    * (false = no digest was recorded), None when the cid is not in the
    * vault's log or is unretrievable; throws on a digest MISMATCH
    * (corrupt/tampered content). */
  def verifyArtifact(vault: String, cid: String, schema: graft.cdc.TableSchema): Option[Boolean] =
    catalog.digestOf(VaultName.unsafe(vault), cid).flatMap { digest =>
      if (digest.isEmpty) Some(false)
      else new Retriever(store)
        .retrieveVerified(spark, cid, digest, schema.columns.map(_.name))
        .map(_ => true)
    }

  /** C3: `vaults account create <keyfile>` → prints address */
  def accountCreate(keyFile: String): String = Signer.createAccount(Paths.get(keyFile))

  /** C3: `vaults account address <keyfile>` */
  def accountAddress(keyFile: String): String = Signer.addressOfKeyFile(Paths.get(keyFile))

  /** C1: `vaults sign <file>` with key file */
  def sign(keyFile: String, file: String): String =
    Signer.fromFile(Paths.get(keyFile)).signatureHex(Paths.get(file))
}

object Vaults {
  /** Byte-progress renderer for uploads, the reference CLI's
    * `progressbar.DefaultBytes(fi.Size(), "Writing...")`
    * (`cmd/vaults/commands.go:327-330`): carriage-return overwritten
    * `Writing... NN% (sent/total bytes)` line, newline at completion.
    * Pass to [[graft.engine.HttpContentStore]]'s `progress`. */
  def progressBar(out: java.io.PrintStream = System.err,
                  label: String = "Writing..."): (Long, Long) => Unit = {
    var lastPct = -1L
    (sent, total) => {
      val pct = if (total <= 0) 100L else sent * 100L / total
      if (pct != lastPct) { // one render per percent, not per chunk
        lastPct = pct
        out.print(s"\r$label $pct% ($sent/$total bytes)")
        if (sent >= total) out.println()
      }
    }
  }
}

/** M2: `--format table|json` output rendering
  * (`cmd/vaults/commands.go:399-420`, `:556-582`). */
sealed trait OutputFormat { def render(df: DataFrame): String }
object OutputFormat {
  case object Table extends OutputFormat {
    override def render(df: DataFrame): String =
      org.apache.spark.sql.graftbridge.Bridge.showString(df, numRows = 1000, truncate = 0)
  }
  case object Json extends OutputFormat {
    override def render(df: DataFrame): String =
      df.toJSON.collect().mkString("[", ",", "]")
  }
}
