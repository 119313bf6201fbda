package graft.engine

import graft.catalog.UploadEvent
import graft.core.{Timestamps, VaultName}
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/**
 * `vaults write` (B1): upload an existing Parquet file to a vault —
 * validate it is readable Parquet, default/parse the timestamp, sign,
 * hand to the content store, record the event
 * (`cmd/vaults/commands.go:250-348`). The event carries no window token,
 * so a re-upload of identical content appends another event.
 */
object BatchWrite {

  def write(spark: SparkSession, vault: VaultName, file: Path, store: ContentStore,
            signer: Option[FileSigner] = None,
            catalog: Option[graft.catalog.VaultCatalog] = None,
            timestamp: Option[String] = None): String = {
    // validation: must parse as Parquet (the reference trusts extension;
    // we actually read the footer)
    val n = footerSchema(spark, file).length
    require(n > 0, s"not a readable parquet file: $file")
    val ts = timestamp match {
      case Some(t) => Timestamps.parse(t).fold(e => throw new IllegalArgumentException(e),
        Timestamps.unixSeconds)
      case None => java.time.Instant.now().getEpochSecond
    }
    val sig = signer.map(_.sign(file)).getOrElse(Array.emptyByteArray)
    // store.put moves the file; upload a copy so the caller keeps theirs
    val staged = Files.createTempFile("graft-write", "-" + file.getFileName)
    Files.copy(file, staged, StandardCopyOption.REPLACE_EXISTING)
    val cid = store.put(vault, staged, ts, sig)
    catalog.foreach(_.appendEvents(Seq(UploadEvent(vault, cid, ts))))
    cid
  }

  /** The Spark schema of a parquet artifact, read from its footer on the
    * driver: what `spark.read.parquet(artifact).schema` infers (Spark's
    * own footer-to-schema conversion under the session's parquet
    * settings, `nanosAsLong` included, every field nullable as a file
    * source reads it), without the inference job. A directory artifact's
    * parts share one schema, so its first data file (in name order,
    * `_`/`.` files skipped, as Spark lists) stands for it. Throws on a
    * file that is not parquet. */
  def footerSchema(spark: SparkSession, artifact: Path): StructType = {
    val file = if (!Files.isDirectory(artifact)) artifact else
      graft.core.FsUtil.listDirSorted(artifact)
        .find(p => !Seq("_", ".").exists(p.getFileName.toString.startsWith))
        .getOrElse(throw new IllegalArgumentException(s"no parquet data file in $artifact"))
    val path = new org.apache.hadoop.fs.Path(file.toUri)
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(path, spark.sessionState.newHadoopConf()))
    val footer = try reader.getFooter finally reader.close()
    org.apache.spark.sql.graftbridge.Bridge.asNullable(
      ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }
}

/**
 * Retrieve (Q3): 2-tier read — try the hot cache store, fall back to the
 * cold store on any error (`internal/app/retriever.go:44-50`); `-`/empty
 * output streams to stdout. The reference's cold path fetches a CAR v1
 * archive and extracts the root block (`retriever.go:88-233`); here the
 * network fetch is a second [[ContentStore]] (zero-egress build — SURVEY
 * §2 Q3), and any cold artifact that IS a CAR v1 gets the same
 * root-block extraction via [[CarV1.extract]].
 */
final class Retriever(cache: ContentStore, cold: Option[ContentStore] = None) {

  /** A hot-store error falls back to the cold tier; when the cold tier
    * is absent or misses too, the error — not "not found" — is the
    * answer. */
  def retrieve(cid: String): Option[Path] =
    scala.util.Try(cache.get(cid))
      .fold(e => coldGet(cid).orElse(throw e), _.orElse(coldGet(cid)))

  /** Extracted root blocks land in one per-process dir, one file per
    * cid, reused across repeated retrievals (no temp-file accumulation)
    * and removed at JVM exit. */
  private lazy val extractDir: Path = {
    val d = Files.createTempDirectory("graft-car-extract")
    d.toFile.deleteOnExit()
    d
  }

  /** Cold tier serves CARs (the lassie analogue): extract the root block
    * like `retriever.go:216-233`; non-CAR artifacts pass through. */
  private def coldGet(cid: String): Option[Path] =
    cold.flatMap(_.get(cid)).map { p =>
      if (CarV1.isCar(p)) CarV1.extract(p) match {
        case Some(payload) =>
          val out = extractDir.resolve(cid + ".bin")
          if (!Files.exists(out)) {
            // temp-write + atomic move: concurrent retrievals of the same
            // cid may both pass the exists gate; neither may expose a
            // half-written file to a third reader
            val tmp = Files.createTempFile(extractDir, cid, ".part")
            Files.write(tmp, payload)
            try Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                Files.deleteIfExists(tmp) // the race's loser: winner's bytes are identical
            }
            out.toFile.deleteOnExit()
          }
          out
        case None => p // CAR without its root block: serve as-is
      } else p
    }

  /** Write to a file, or stdout for "-"/"" like the reference. */
  def retrieveTo(cid: String, output: String): Boolean = retrieve(cid) match {
    case None => false
    case Some(src) =>
      if (output == "-" || output.isEmpty) { Files.copy(src, System.out); true }
      else {
        Files.copy(src, java.nio.file.Paths.get(output), StandardCopyOption.REPLACE_EXISTING)
        true
      }
  }

  /** Retrieved parquet straight back into a DataFrame (read path), with
    * the schema of its footer: no inference job. */
  def retrieveAsDataFrame(spark: SparkSession, cid: String): Option[org.apache.spark.sql.DataFrame] =
    retrieve(cid).map(p => spark.read.schema(BatchWrite.footerSchema(spark, p)).parquet(p.toString))

  /** Retrieve + content verification (Q3 × C2): re-derive the ECMH row
    * digest from the downloaded parquet and compare to the digest the
    * writer recorded in the catalog event — order/partitioning
    * independent, so ANY faithful copy verifies regardless of layout.
    * Returns the DataFrame only when digests match; None on cache+cold
    * miss; throws on mismatch (corrupt or tampered artifact — failing
    * loud beats returning bad data). */
  def retrieveVerified(spark: SparkSession, cid: String, expectedDigest: String,
                       cols: Seq[String]): Option[org.apache.spark.sql.DataFrame] =
    retrieveAsDataFrame(spark, cid).map { df =>
      val got = graft.crypto.EcmhAggregator.rowDigest(df, cols)
      if (got != expectedDigest)
        throw new IllegalStateException(
          s"content digest mismatch for $cid: catalog=$expectedDigest artifact=$got")
      df
    }
}
