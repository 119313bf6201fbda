package graft.engine

import graft.core.{FsUtil, VaultName}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/**
 * Vault compaction: rewrite a vault's accumulated window artifacts into
 * one consolidated artifact and record it as a new event.
 *
 * The small-files problem is the dominant operational cost of a
 * window-per-upload layout at scale (hourly windows × thousands of
 * tables ⇒ millions of small parquet files whose open/footer overhead
 * swamps scan time). The reference leaves this to the provider (files
 * are archived after their cache window, `internal/app/models.go:40-46`);
 * here compaction is a first-class batch operator:
 *
 *  1. read every live window artifact of the vault (one parquet scan
 *     over all of them — schema is identical by construction),
 *  2. write a consolidated artifact sized by `targetRows` per output
 *     file (a directory artifact: no single-writer bottleneck),
 *  3. sign + `put` it and append its event,
 *  4. drop the compacted inputs from the hot store — later `get`s fall
 *     back to the cold tier exactly like an expired cache entry (Q3).
 *
 * The event log is append-only (history preserved, like the
 * reference's provider-side log); readers wanting only live artifacts
 * take the newest event, which the compacted artifact is by
 * construction.
 */
object Compactor {

  /** Compact all current artifacts of `vault`; returns the new cid, or
    * None when the vault has fewer than `minInputs` artifacts. */
  def compact(spark: SparkSession, vault: VaultName,
              store: ContentStore, catalog: graft.catalog.VaultCatalog,
              stagingDir: String,
              signer: Option[FileSigner] = None,
              minInputs: Int = 2,
              targetRowsPerFile: Long = 4L * 1024 * 1024,
              clock: () => Long = () => java.time.Instant.now().getEpochSecond): Option[String] = {
    // cids are content-addressed: the same content re-uploaded (or a
    // replayed append) repeats a cid in the event log — dedupe so the
    // compacted artifact doesn't double those rows.
    val cids = catalog.listEvents(vault).select("cid").collect()
      .map(_.getString(0)).toSeq.distinct
    val paths = cids.flatMap(c => store.get(c).map(c -> _))
    if (paths.length < minInputs) return None

    val df = spark.read.parquet(paths.map(_._2.toString): _*)
    val rows = df.count()
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    val ts = clock()
    val stage = Paths.get(stagingDir, s"${vault.relation}-compact-$ts")
    df.repartition(nFiles).write.mode("overwrite").parquet(stage.toString)
    // strip _SUCCESS markers; artifact = the directory of data files
    FsUtil.listDir(stage)
      .filter(p => !p.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.deleteIfExists(p))

    val sig = signer.map(_.sign(stage)).getOrElse(Array.emptyByteArray)
    val cid = store.put(vault, stage, ts, sig)
    catalog.appendEvents(Seq(graft.catalog.UploadEvent(vault, cid, ts)))
    paths.foreach { case (oldCid, _) => store.delete(oldCid) }
    FsUtil.deleteRecursive(stage)
    Some(cid)
  }
}
