package graft.engine

import graft.catalog.UploadEvent
import graft.core.{Timestamps, VaultName}
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.SparkSession

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
    // we actually read the footer via the Spark reader)
    val n = spark.read.parquet(file.toString).columns.length
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

  /** Retrieved parquet straight back into a DataFrame (read path). */
  def retrieveAsDataFrame(spark: SparkSession, cid: String): Option[org.apache.spark.sql.DataFrame] =
    retrieve(cid).map(p => spark.read.parquet(p.toString))

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
